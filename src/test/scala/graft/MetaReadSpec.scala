package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Snapshots}

/** The driver-side metadata reads: [[Snapshots.readMetaParquet]] (the
  * read twin of [[Snapshots.writeMetaParquet]]) behind every manifest,
  * checkpoint, governance-sidecar and catalog read, and
  * [[Tables.footerSchema]] behind every test-table read. Each must read
  * what the `spark.read.parquet` path read, and run no Spark job. */
class MetaReadSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def conf = spark.sparkContext.hadoopConfiguration

  /** A generation's (file, part, rows) entries, the shape a Spark read of
    * the generation file collects. */
  private def fileMeta(root: String, v: Long) =
    Snapshots.generationOf(spark, root, v).files
      .map(d => (d.path, d.part.orNull, d.rows))

  /** A timeline entry as the (version, commit_ts, parent) row a Spark
    * read of the generation file collects. */
  private def timelineRow(c: Snapshots.Commit): Row =
    Row(c.version, c.commitTs.map(Long.box).orNull,
      c.parent.map(Long.box).orNull)

  /** A copy of the directory tree at `src` — its files get new paths,
    * so the status-keyed memo holds nothing for them. */
  private def copyTree(src: String, dst: String): Unit = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val walk = Files.walk(from)
    try walk.forEach { (p: JPath) =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally walk.close()
  }

  test("footerSchema equals the schema spark.read.parquet infers, for " +
    "every sf0.001 table") {
    Tables.configure(spark)
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema,
        s"$t: footer schema differs from the inferred one")
    }
  }

  test("Tables.apply and Tables.streamEvents run no Spark job, cold or " +
    "warm") {
    val copy = tmpDir("graft_metaread_tables_")
    Seq("events", "lineitem").foreach { t =>
      Files.copy(java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"$copy/$t.parquet"))
    }
    Seq("cold", "warm").foreach { pass =>
      val (schemas, jobs) = jobsDuring(Seq(
        Tables(spark, copy, "events").schema,
        Tables(spark, copy, "lineitem").schema,
        Tables.streamEvents(spark, copy).schema))
      assert(jobs == 0, s"$pass: the table reads ran $jobs job(s)")
      assert(schemas(0) == Tables(spark, dir, "events").schema)
      assert(schemas(2) == schemas(0))
    }
  }

  test("a cold generation read, a timeline read over a checkpoint and a " +
    "catalog read run no Spark job and read what Spark reads") {
    val root = s"${tmpDir("graft_metaread_tbl_")}/t"
    Snapshots.init(spark, root)
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    try {
      Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "s"), root,
        append = false, ts = Some(10L))
      (1 until 7).foreach { i =>
        Snapshots.commit(spark, Seq((i + 1L, s"x$i")).toDF("id", "s"), root,
          append = true, ts = Some(10L + i))
      }
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
    val cv = Snapshots.lastCheckpointVersion(spark, root)
    assert(cv.exists(_ < 6L), s"expected a checkpoint below the head: $cv")
    val cold = s"${tmpDir("graft_metaread_cold_")}/t"
    copyTree(root, cold)
    val gen = s"$cold/_versions/gen-v6.parquet"

    val opened0 = Snapshots.manifestFilesOpened.get
    val (files, jobsGen) = jobsDuring(fileMeta(cold, 6L))
    assert(jobsGen == 0, s"a cold generation read ran $jobsGen job(s)")
    assert(Snapshots.manifestFilesOpened.get - opened0 == 1L,
      "the generation read must open its file (a cold read)")
    val sparkFiles = spark.read.parquet(gen)
      .select(col("file"), col("part"), col("rows"))
      .as[(String, String, Option[Long])].collect().toSeq
    assert(files.sortBy(_._1) == sparkFiles.sortBy(_._1))

    val (timeline, jobsMeta) =
      jobsDuring(Snapshots.manifestMeta(spark, cold).map(timelineRow))
    assert(jobsMeta == 0, s"a checkpointed timeline read ran $jobsMeta job(s)")
    val sparkTimeline = (0L to 6L).map { v =>
      spark.read.parquet(s"$cold/_versions/gen-v$v.parquet")
        .select(col("version"), col("commit_ts"), col("parent"))
        .distinct().collect().toSeq
    }.reduce(_ ++ _)
    assert(timeline.toSeq.sortBy(_.getLong(0)) ==
      sparkTimeline.sortBy(_.getLong(0)))

    val cat = tmpDir("graft_metaread_cat_")
    Catalog.register(spark, cat, "t", root, Map("retain_versions" -> "3"))
    Catalog.register(spark, cat, "u", cold)
    val (entries, jobsCat) = jobsDuring(Catalog.entries(spark, cat))
    assert(jobsCat == 0, s"a catalog read ran $jobsCat job(s)")
    assert(entries == Map(
      "t" -> Catalog.Entry(root, Map("retain_versions" -> "3")),
      "u" -> Catalog.Entry(cold, Map.empty)))
  }

  test("the full-history verbs and the catalog's history/files tables " +
    "run no Spark job on a warm, plain 3-generation table") {
    val base = tmpDir("graft_metaread_hist_")
    val root = s"$base/t"
    Snapshots.init(spark, root)
    (0 until 3).foreach { i =>
      Snapshots.commit(spark, Seq((i.toLong, s"x$i")).toDF("id", "s"), root,
        append = i > 0, ts = Some(10L + i))
    }
    val catRoot = s"$base/cat"
    Catalog.register(spark, catRoot, "t", root)
    val cat = "gmetaread"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)
    Snapshots.manifest(spark, root).collect() // warm the generation memo
    def noJobs[T](what: String)(body: => T): T = {
      val (out, jobs) = jobsDuring(body)
      assert(jobs == 0, s"$what ran $jobs Spark job(s)")
      out
    }
    assert(noJobs("tableHistory")(
      Snapshots.tableHistory(spark, root).collect()).length == 3)
    val hist = s"SELECT * FROM $cat.t.history"
    val files = s"SELECT * FROM $cat.t.files"
    spark.sql(hist).collect() // the catalog's first load
    assert(noJobs("<t>.history")(spark.sql(hist).collect()).length == 3)
    assert(noJobs("<t>.files")(spark.sql(files).collect()).length == 3)
    assert(noJobs("removeOrphans")(
      Snapshots.removeOrphans(spark, root, olderThanMs = 86400000L)) == 0L)
    Snapshots.createBranch(spark, root, "gone")
    assert(noJobs("dropBranch")(Snapshots.dropBranch(spark, root, "gone")))
    noJobs("vacuum")(Snapshots.vacuum(spark, root, keepFrom = 1L))
    Snapshots.createBranch(spark, root, "live")
    noJobs("vacuum beside a live branch")(
      Snapshots.vacuum(spark, root, keepFrom = 2L))
    assert(Snapshots.listGenerations(spark, root) == Seq(2L))
    assert(Snapshots.readAsOf(spark, root, 2L).count() == 3L)
  }

  test("a legacy Spark-written generation lacking columns (int32 row " +
    "counts) reads back the rows the Spark path reads, nulls for the " +
    "absent columns") {
    val root = s"${tmpDir("graft_metaread_legacy_")}/t"
    val staged = tmpDir("graft_metaread_stage_") + "/gen"
    Seq((0L, "file:/data/a.parquet", 3), (0L, "file:/data/b.parquet", 4))
      .toDF("version", "file", "rows").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(java.nio.file.Paths.get(s"$root/_versions"))
    val gen = s"$root/_versions/gen-v0.parquet"
    Files.copy(part.toPath, java.nio.file.Paths.get(gen))

    val cols = Seq("version", "file", "part", "schema_json", "rows",
      "commit_ts", "parent")
    val driver = Snapshots.readMetaParquet(conf, new Path(gen), cols).toSeq
    val viaSpark = spark.read.parquet(gen).collect().toSeq.map { r =>
      Row(r.getLong(0), r.getString(1), null, null, r.getInt(2).toLong,
        null, null)
    }
    assert(driver.sortBy(_.getString(1)) == viaSpark.sortBy(_.getString(1)))
    assert(fileMeta(root, 0L).sortBy(_._1) ==
      Seq(("file:/data/a.parquet", null, Some(3L)),
        ("file:/data/b.parquet", null, Some(4L))))
    assert(Snapshots.manifestMeta(spark, root).map(timelineRow) ==
      Seq(Row(0L, null, null)))
  }

  test("a Spark-written catalog dir (two part files, _SUCCESS and " +
    "checksums beside them) reads back the rows the Spark path reads") {
    val cat = tmpDir("graft_metaread_sparkcat_")
    val v0 = s"$cat/_catalog/v0"
    Seq(("t", "file:/tables/t", "retain_versions", "3"),
      ("t", "file:/tables/t", "owner", "ops"),
      ("u", "file:/tables/u", null, null))
      .toDF("name", "root", "prop_key", "prop_value")
      .repartition(2).write.parquet(v0)
    val names = new java.io.File(v0).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.startsWith(".")))
    val driver = Snapshots.readMetaParquet(conf, new Path(v0),
      Seq("name", "root", "prop_key", "prop_value")).toSet
    assert(driver == spark.read.parquet(v0).collect().toSet)
    assert(Catalog.entries(spark, cat) == Map(
      "t" -> Catalog.Entry("file:/tables/t",
        Map("retain_versions" -> "3", "owner" -> "ops")),
      "u" -> Catalog.Entry("file:/tables/u", Map.empty)))
  }

  test("readMetaParquet refuses a missing path with FileNotFoundException") {
    intercept[java.io.FileNotFoundException] {
      Snapshots.readMetaParquet(conf,
        new Path(s"${tmpDir("graft_metaread_gone_")}/gone.parquet"),
        Seq("version"))
    }
  }
}
