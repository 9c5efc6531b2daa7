package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** The file-exact copy-on-write verbs ([[Snapshots.updateWhere]],
  * [[Snapshots.commitReplaceWhere]], [[Snapshots.mergeInto]]) share one
  * lifecycle: read the observed face through its deletion vectors,
  * rewrite only the files holding a matching row, carry the untouched
  * files' DV entries, keep the stats sidecar live, publish. One row per
  * verb, each run over the same clustered, DV-governed fixture. */
class CopyOnWriteDmlSpec extends SparkSuite {
  import spark.implicits._

  /** A verb's matching call (it sets id 5's amt to 555) and a call that
    * matches nothing; `missMints` when the miss still commits (a replace
    * always lands its batch, even an empty one). */
  private case class Verb(
      name: String,
      hit: String => Long,
      miss: String => Long,
      missMints: Boolean = false)

  private val verbs = Seq(
    Verb("updateWhere",
      tbl => Snapshots.updateWhere(spark, tbl,
        col("id") === 5L, Seq("amt" -> lit(555L))),
      tbl => Snapshots.updateWhere(spark, tbl,
        col("id") === 100L, Seq("amt" -> lit(0L)))),
    Verb("commitReplaceWhere",
      tbl => Snapshots.commitReplaceWhere(spark, tbl,
        Seq((5L, "v5", 555L)).toDF("id", "v", "amt"), col("id") === 5L),
      tbl => Snapshots.commitReplaceWhere(spark, tbl,
        Seq.empty[(Long, String, Long)].toDF("id", "v", "amt"),
        col("id") === 100L),
      missMints = true),
    Verb("mergeInto",
      tbl => Snapshots.mergeInto(spark, tbl,
        Seq((5L, 555L)).toDF("sid", "samt"), col("t.id") === col("s.sid"),
        Seq(Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt"))))),
      tbl => Snapshots.mergeInto(spark, tbl,
        Seq((100L, 0L)).toDF("sid", "samt"), col("t.id") === col("s.sid"),
        Seq(Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt")))))))

  /** ids 1..12 clustered on id over 4 files of 3; then one DV delete of
    * id 4 (in id 5's file, which every hit rewrites) and id 10 (in a
    * file every hit leaves alone). Returns the delete's version. */
  private def fixture(): (String, Long) = {
    val tbl = Files.createTempDirectory("snap_cow_").toString + "/tbl"
    Snapshots.init(spark, tbl)
    Snapshots.commitClustered(spark,
      (1L to 12L).map(i => (i, s"v$i", i * 10L)).toDF("id", "v", "amt"),
      tbl, "id", numFiles = 4, append = false)
    (tbl, Snapshots.deleteWhere(spark, tbl, col("id").isin(4L, 10L)))
  }

  private def dvFiles(tbl: String, v: Long): Set[String] =
    Snapshots.resolveSidecars(spark, tbl, v).dv
      .map { case (_, dir) => Snapshots.dvRecordedFiles(spark, dir) }
      .getOrElse(Set.empty)

  private def files(tbl: String, v: Long): Set[String] =
    Snapshots.generationOf(spark, tbl, v).paths
      .map(p => new Path(p).toUri.getPath).toSet

  private val expected: Map[Long, Long] =
    ((1L to 12L).filterNot(Set(4L, 10L)).map(i => i -> i * 10L) :+
      (5L -> 555L)).toMap

  verbs.foreach { verb =>
    test(s"${verb.name}: copy-on-write over a clustered, DV-governed " +
      "face — deletes stay applied, only the untouched file's DV " +
      "entries carry, range scans stay live, a miss rewrites nothing") {
      val (tbl, vDel) = fixture()
      val deletedIn = dvFiles(tbl, vDel)
      assert(deletedIn.size == 2, s"fixture: $deletedIn")

      val v = verb.hit(tbl)
      assert(v == vDel + 1)
      val face = Snapshots.readAsOf(spark, tbl, v)
        .select("id", "amt").as[(Long, Long)].collect()
      assert(face.toMap == expected && face.length == expected.size,
        s"face wrong (a DV-deleted row came back?): ${face.sorted.toSeq}")

      val kept = files(tbl, v)
      assert((files(tbl, vDel) -- kept).size == 1,
        "exactly id 5's file rewrites")
      val untouched = deletedIn.intersect(kept)
      assert(untouched.size == 1 && dvFiles(tbl, v) == untouched,
        "the new DV sidecar lists only the untouched file, got " +
          dvFiles(tbl, v))

      val scanned = Snapshots.scanRangeAsOf(spark, tbl, v, "id", 1L, 12L)
        .select("id", "amt").as[(Long, Long)].collect()
      assert(scanned.toMap == expected && scanned.length == expected.size,
        "the stats-governed range scan must answer the face")
      assert(Snapshots.scanRangeAsOf(spark, tbl, v, "id", 5L, 5L)
        .select("amt").as[Long].collect().toSeq == Seq(555L))

      val vMiss = verb.miss(tbl)
      assert(Snapshots.latestVersion(spark, tbl).contains(vMiss))
      if (verb.missMints) assert(vMiss == v + 1)
      else assert(vMiss == v, "a miss returns the head unchanged and " +
        "mints no generation")
      assert(kept.subsetOf(files(tbl, vMiss)), "a miss rewrites no file")
      assert(dvFiles(tbl, vMiss) == untouched)
      assert(Snapshots.readAsOf(spark, tbl, vMiss)
        .select("id", "amt").as[(Long, Long)].collect().toMap == expected)
    }
  }
}
