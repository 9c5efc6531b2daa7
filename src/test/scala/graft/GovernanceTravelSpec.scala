package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.operators.{ConcurrentCommitException, Snapshots}

/** How carried sidecar sets travel between versions, run once per
  * carried family ([[Snapshots.CarriedFamilies]]): deletion vectors,
  * CHECK constraints, generated columns and the column mapping each
  * move with rollback, clone, fastForward and vacuum by the same carry
  * rule, and a refused derived commit retracts whatever it staged. */
class GovernanceTravelSpec extends SparkSuite {
  import spark.implicits._

  /** One family under test: `set` installs a governing set on a fresh
    * table's head, `change` a further, different one; `asOf` reads the
    * governing set back through the public reader. */
  private final case class Family(
      dir: String,
      set: String => Long,
      change: String => Long,
      asOf: (String, Long) => Seq[Any])

  /** The deletion-vector set governing `v` as sorted (file, row_index)
    * pairs — empty when none governs or the governing set is empty. */
  private def dvAsOf(t: String, v: Long): Seq[(String, Long)] =
    Snapshots.resolveSidecars(spark, t, v).dv.toSeq.flatMap {
      case (_, dir) =>
        spark.read.schema("file STRING, row_index BIGINT").parquet(dir)
          .as[(String, Long)].collect().toSeq
    }.sorted

  private val families = Seq(
    Family("_dv",
      t => Snapshots.deleteWhere(spark, t, col("id") === 1L),
      t => Snapshots.deleteWhere(spark, t, col("id") === 2L),
      dvAsOf),
    Family("_constraints",
      t => Snapshots.addConstraint(spark, t, "amt_pos", "amt > 0"),
      t => Snapshots.addConstraint(spark, t, "id_pos", "id > 0"),
      (t, v) => Snapshots.constraintsAsOf(spark, t, v)),
    Family("_gencols",
      t => Snapshots.addGeneratedColumn(spark, t, "dbl", "amt * 2"),
      t => Snapshots.addGeneratedColumn(spark, t, "neg", "-amt"),
      (t, v) => Snapshots.generatedColumnsAsOf(spark, t, v)),
    Family("_colmap",
      t => Snapshots.renameColumn(spark, t, "amt", "amount"),
      t => Snapshots.renameColumn(spark, t, "note", "memo"),
      (t, v) => Snapshots.colMapAsOf(spark, t, v)))

  /** A table at v0 with the family's set installed at v1. */
  private def governed(f: Family): (String, Seq[Any]) = {
    val tbl = Files.createTempDirectory("gov_travel_").toString + "/tbl"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, 5L, "a"), (2L, 6L, "b")).toDF("id", "amt", "note"),
      tbl, append = false)
    assert(f.set(tbl) == 1L)
    val s1 = f.asOf(tbl, 1L)
    assert(s1.nonEmpty && f.asOf(tbl, 0L).isEmpty)
    (tbl, s1)
  }

  private def exists(path: String): Boolean = new File(path).exists

  test("every carried sidecar family has a row in this spec") {
    assert(families.map(_.dir).toSet ==
      Snapshots.CarriedFamilies.map(_.dirName).toSet)
  }

  families.foreach { f =>
    val fam = Snapshots.CarriedFamilies.find(_.dirName == f.dir).get

    test(s"${f.dir}: clone carries it, fastForward publishes the " +
      "branch's set, rollback masks it, a refused commit retracts it") {
      val (tbl, s1) = governed(f)

      val clone = Files.createTempDirectory("gov_clone_").toString + "/c"
      Snapshots.cloneTable(spark, tbl, 1L, clone)
      assert(f.asOf(clone, 0L) == s1, "the clone starts under v1's set")

      Snapshots.createBranch(spark, tbl, "dev")
      val bRoot = Snapshots.branchPath(tbl, "dev")
      val bHead = f.change(bRoot)
      val sB = f.asOf(bRoot, bHead)
      assert(sB != s1)
      val vF = Snapshots.fastForward(spark, tbl, "dev")
      assert(f.asOf(tbl, vF) == sB,
        "fastForward publishes the branch's governing set")

      val vR = Snapshots.rollback(spark, tbl, 0L)
      assert(f.asOf(tbl, vR).isEmpty,
        "the rolled-back head is governed by v0's empty set")
      assert(f.asOf(tbl, 1L) == s1, "history keeps its own set")

      // a derived commit that stages the family's dir, then refuses
      // because its source head is stale
      val claimed = Snapshots.claimVersion(spark, tbl, vR + 1L)
      fam.carry(spark, tbl, 1L, tbl, claimed)
      assert(exists(fam.dirAt(tbl, claimed)))
      intercept[ConcurrentCommitException] {
        Snapshots.publishDerived(spark, tbl, claimed, Seq.empty, null,
          None, 0L, "travel")
      }
      assert(!exists(fam.dirAt(tbl, claimed)),
        s"the refusal must retract the staged ${f.dir} dir")
      assert(f.asOf(tbl, Long.MaxValue).isEmpty)
    }

    test(s"${f.dir}: a vacuum that expires v1 keeps v1's set governing " +
      "the oldest retained version") {
      val (tbl, s1) = governed(f)
      // a retained version above v1 that writes no dir of its own
      val v2 = Snapshots.addColumn(spark, tbl, "extra", StringType)
      assert(!exists(fam.dirAt(tbl, v2)))
      Snapshots.vacuum(spark, tbl, keepFrom = v2)
      assert(!exists(fam.dirAt(tbl, 1L)), "v1's dir expires with v1")
      assert(exists(fam.dirAt(tbl, v2)))
      assert(f.asOf(tbl, v2) == s1)
    }
  }

  test("_dv: vacuum prunes the re-materialized set to the files it keeps") {
    val tbl = Files.createTempDirectory("gov_travel_").toString + "/tbl"
    Snapshots.init(spark, tbl)
    Snapshots.commitPartitioned(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "p"),
      tbl, "p", append = false)
    // deletes in both partitions, then partition a is replaced: its
    // entries go dead, and the replace writes no set of its own
    val vDel = Snapshots.deleteWhere(spark, tbl,
      col("id") === 1L || col("id") === 3L)
    val vRp = Snapshots.replacePartitions(spark, tbl,
      Seq((5L, "a")).toDF("id", "p"), "p")
    val full = dvAsOf(tbl, vRp)
    assert(full.length == 2 && !exists(s"$tbl/_dv/v$vRp"))
    val keptFiles = Snapshots.generationOf(spark, tbl, vRp).paths.toSet
    Snapshots.vacuum(spark, tbl, keepFrom = vRp)
    assert(!exists(s"$tbl/_dv/v$vDel"), "the delete's dir expires with it")
    assert(dvAsOf(tbl, vRp) == full.filter(e => keptFiles.contains(e._1)),
      "the set at keepFrom keeps only entries on retained files")
    assert(dvAsOf(tbl, vRp).length == 1)
    assert(Snapshots.readAsOf(spark, tbl, vRp).select("id").as[Long]
      .collect().sorted.toSeq == Seq(4L, 5L))
  }
}
