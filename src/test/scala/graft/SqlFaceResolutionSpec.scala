package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Snapshots}

/** The metadata budget of ONE SQL `SELECT` over a catalog table, as
  * counted facts on the `listcount:` file system with the memos warm:
  * a table load resolves its face once — one manifest read, one
  * listing of the table root, one listing per sidecar family present —
  * and the governed read plans from that same resolution instead of
  * resolving the table again. */
class SqlFaceResolutionSpec extends SparkSuite {
  import spark.implicits._

  private var n = 0

  /** A fresh catalog whose tables live under the `listcount:` scheme. */
  private def freshCatalog(): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listcount.impl", classOf[ListCountFs].getName)
    val root = Files.createTempDirectory("sqlface_").toString
    n += 1
    val name = s"gface$n"
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private def table(root: String, name: String): String = {
    val tbl = s"listcount://$root/storage/$name"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      (1L to 6L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1),
      tbl, append = false)
    tbl
  }

  /** The counted second run of `SELECT count(*)` over `cat.name` (the
    * first warms the memos): (count, manifest reads, fs calls). */
  private def selectCounted(cat: String, name: String)
      : (Long, Long, Seq[String]) = {
    val q = s"SELECT count(*) FROM $cat.$name"
    spark.sql(q).collect()
    val m0 = Snapshots.manifestReads.get
    val (c, calls) = ListCountFs.during(spark.sql(q).head.getLong(0))
    (c, Snapshots.manifestReads.get - m0, calls)
  }

  private val Families =
    Seq("_dv", "_constraints", "_colmap", "_gencols", "_stats", "_bloom",
      "_eq")

  /** The budget every face keeps: one manifest read, one listing of
    * the table root, no `exists` probe of an absent sidecar family. */
  private def assertFaceBudget(
      tbl: String,
      present: Set[String],
      manifests: Long,
      calls: Seq[String]): Unit = {
    val path = new HPath(tbl).toUri.getPath
    assert(manifests == 1L, s"$manifests manifest reads: $calls")
    val rootLists = calls.count(_ == s"list $path")
    assert(rootLists == 1, s"the table root listed $rootLists times: $calls")
    val absentProbes = (Families.toSet -- present).toSeq
      .filter(f => calls.contains(s"exists $path/$f"))
    assert(absentProbes.isEmpty,
      s"absent families probed: $absentProbes in $calls")
  }

  private def lists(tbl: String, dir: String, calls: Seq[String]): Int =
    calls.count(_ == s"list ${new HPath(tbl).toUri.getPath}/$dir")

  test("a SELECT over a plain catalog table reads the manifest once and " +
    "lists the table root once") {
    val (cat, root) = freshCatalog()
    val tbl = table(root, "plain")
    Catalog.register(spark, root, "plain", tbl)
    val (c, m, calls) = selectCounted(cat, "plain")
    assert(c == 6L)
    assertFaceBudget(tbl, Set.empty, m, calls)
    // the head's listing and the generation read each probe _versions
    // once; the listing takes its presence from the swap recovery
    val versionsProbes =
      calls.count(_ == s"exists ${new HPath(tbl).toUri.getPath}/_versions")
    assert(versionsProbes == 2,
      s"_versions probed $versionsProbes times: $calls")
  }

  test("a SELECT over a DV-governed catalog table lists _dv once and " +
    "plans its clean/dirty split with no Spark job") {
    val (cat, root) = freshCatalog()
    val tbl = table(root, "dv")
    Snapshots.deleteWhere(spark, tbl, col("id") <= 2L)
    Catalog.register(spark, root, "dv", tbl)
    val (c, m, calls) = selectCounted(cat, "dv")
    assert(c == 4L)
    assertFaceBudget(tbl, Set("_dv"), m, calls)
    assert(lists(tbl, "_dv", calls) == 1,
      s"_dv listed ${lists(tbl, "_dv", calls)} times: $calls")
    // each data file is checked and listed once, by the governed read's
    // own relation: the refused scan builds no file index of its own
    val head = Snapshots.latestVersion(spark, tbl).get
    val files = Snapshots.generationOf(spark, tbl, head).files
      .map(f => new HPath(f.path).toUri.getPath)
    assert(files.nonEmpty)
    for (f <- files; op <- Seq("exists", "list")) {
      val n = calls.count(_ == s"$op $f")
      assert(n == 1, s"$op $f: $n calls in $calls")
    }
    val (_, jobs) = jobsDuring(
      spark.sql(s"SELECT count(*) FROM $cat.dv").queryExecution.analyzed)
    assert(jobs == 0, s"planning the DV-governed SELECT ran $jobs job(s)")
    // the function verb splits clean and dirty files from the same
    // memoized DV file set
    val (face, readJobs) = jobsDuring(Snapshots.readAsOf(spark, tbl, head))
    assert(readJobs == 0, s"planning a warm DV readAsOf ran $readJobs job(s)")
    assert(face.count() == 4L)
  }

  test("a SELECT over an equality-delete-governed catalog table lists " +
    "_eq once and the manifest directory at most twice") {
    val (cat, root) = freshCatalog()
    val tbl = table(root, "eq")
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((7L, "r7")).toDF("id", "v"),
      tombstones = Seq(1L, 7L).toDF("id"), keyCols = Seq("id"))
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b2")).toDF("id", "v"),
      tombstones = Seq(2L, 3L).toDF("id"), keyCols = Seq("id"))
    Catalog.register(spark, root, "eq", tbl)
    val (c, m, calls) = selectCounted(cat, "eq")
    assert(c == 5L) // 1 and 3 deleted, 2 re-upserted, 7 added
    assertFaceBudget(tbl, Set("_eq"), m, calls)
    assert(lists(tbl, "_eq", calls) == 1,
      s"_eq listed ${lists(tbl, "_eq", calls)} times: $calls")
    val versions = lists(tbl, "_versions", calls)
    assert(versions <= 2, s"_versions listed $versions times: $calls")
  }

  test("a SELECT on a fold-expired version loads the table and refuses " +
    "at scan build with the equality-delete message") {
    val (cat, root) = freshCatalog()
    val tbl = table(root, "folded")
    val eqV = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((7L, "r7")).toDF("id", "v"),
      tombstones = Seq(1L).toDF("id"), keyCols = Seq("id"))
    Snapshots.foldEqDeletes(spark, tbl)
    Catalog.register(spark, root, "folded", tbl)
    // analysis succeeds: the load never throws, the rule keeps the
    // relation of a face it cannot serve
    val df = spark.sql(s"SELECT count(*) FROM $cat.folded VERSION AS OF $eqV")
    val e = intercept[IllegalArgumentException](df.collect())
    assert(e.getMessage.contains(s"VERSION AS OF $eqV is governed by " +
      "equality-delete tombstones"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM $cat.folded").head.getLong(0) ==
      6L)
  }
}
