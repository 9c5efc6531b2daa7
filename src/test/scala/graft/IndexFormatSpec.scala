package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Skipping, Snapshots}

/** The file-pruning index has ONE row format, owned by [[Skipping]]: the
  * standalone manifests ([[Skipping.writeManifest]],
  * [[Skipping.writeBloomManifest]]) and the versioned `_stats`/`_bloom`
  * sidecars [[Snapshots]] mints are the same rows over the same files,
  * and answer every probe alike. Index appends refuse a key set other
  * than the parent sidecar's before they publish. */
class IndexFormatSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("index_fmt_").toString

  private def freshTable(): String = {
    val p = freshDir() + "/tbl"
    Snapshots.init(spark, p)
    p
  }

  private def norm(f: String): String = new Path(f).toUri.getPath

  /** A sidecar/manifest dir's rows, the file column scheme-normalized
    * and binary sketches compared by content. */
  private def rowsOf(dir: String): (Set[String], Set[Seq[Any]]) = {
    val d = spark.read.parquet(dir)
    val fileIx = d.columns.indexOf("file")
    (d.columns.toSet, d.collect().map { r =>
      r.toSeq.zipWithIndex.map {
        case (f: String, `fileIx`) => norm(f)
        case (b: Array[Byte], _) => b.toSeq
        case (v, _) => v
      }
    }.toSet)
  }

  /** One index kind: how a snapshot mints it, how the standalone
    * manifest is written over a data dir, and the admitted files of a
    * probe around `v`. */
  private case class Kind(
      name: String,
      dirName: String,
      commit: (String, DataFrame) => Long,
      standalone: (String, String) => Unit,
      keysOf: String => Seq[String],
      probe: (String, Long) => Set[String])

  private val kinds = Seq(
    Kind("stats", "_stats",
      (tbl, df) => Snapshots.commitClustered(spark, df, tbl, "k",
        numFiles = 4, append = false),
      (data, man) => Skipping.writeManifest(spark, data, Seq("k"), man),
      dir => Skipping.statsKeys(spark, dir),
      (dir, v) => Skipping.pruneFiles(spark.read.parquet(dir), "k", v,
        v + 10L).map(norm).toSet),
    Kind("bloom", "_bloom",
      (tbl, df) => Snapshots.commitBloom(spark, df, tbl, "k",
        append = false),
      (data, man) => Skipping.writeBloomManifest(spark, data, "k", man),
      dir => Skipping.bloomKeys(spark, dir),
      (dir, v) => Skipping.pruneFilesPoint(spark, dir, v).map(norm).toSet))

  kinds.foreach { kind =>
    test(s"${kind.name}: Skipping's manifest and the Snapshots sidecar " +
      "over the same files are equal rows and answer every probe alike") {
      val tbl = freshTable()
      val df = (0L until 400L).map(i => ((i * 7L) % 400L, s"r$i"))
        .toDF("k", "v").repartition(4)
      val v = kind.commit(tbl, df)
      val man = freshDir() + "/manifest"
      kind.standalone(s"$tbl/data/v$v", man)
      val side = s"$tbl/${kind.dirName}/v$v"
      val (sideCols, sideRows) = rowsOf(side)
      val (manCols, manRows) = rowsOf(man)
      assert(sideCols == manCols, s"${kind.name} columns differ")
      assert(sideRows.size == 4 && sideRows == manRows,
        s"${kind.name} rows differ")
      assert(kind.keysOf(side) == Seq("k") && kind.keysOf(man) == Seq("k"))
      val data = spark.read.parquet(s"$tbl/data/v$v")
        .withColumn("f", input_file_name())
      (0L to 420L by 13L).foreach { p =>
        val admitted = kind.probe(side, p)
        assert(admitted == kind.probe(man, p),
          s"${kind.name} probe at $p answers differently")
        val holding = data.filter(col("k") === p).select("f").as[String]
          .collect().map(norm).toSet
        assert(holding.subsetOf(admitted),
          s"${kind.name} probe at $p dropped a file holding the key")
      }
    }
  }

  test("a bloom append keyed on another column than the parent's " +
    "sidecar refuses BEFORE publishing — the head does not move") {
    val tbl = freshTable()
    Snapshots.commitBloom(spark,
      (1L to 40L).map(i => (i, s"r$i")).toDF("id", "v").repartition(4),
      tbl, "id", append = false)
    val head = Snapshots.latestVersion(spark, tbl)
    val e = intercept[IllegalArgumentException](
      Snapshots.commitBloom(spark, Seq((100L, "fresh")).toDF("id", "v"),
        tbl, "v", append = true))
    assert(e.getMessage.contains("before publishing"), e.getMessage)
    assert(Snapshots.latestVersion(spark, tbl) == head,
      "a key-mismatch refusal must leave the table untouched")
    assert(Snapshots.scanPointAsOf(spark, tbl, head.get, "id", 7L)
      .select($"v").as[String].collect().toSeq == Seq("r7"))
  }

  test("a stats append on keys the parent's sidecar lacks refuses " +
    "BEFORE publishing — the head does not move") {
    val tbl = freshTable()
    Snapshots.commitClustered(spark,
      (0L until 64L).map(i => (i, i % 8L)).toDF("k", "v"),
      tbl, "k", numFiles = 4, append = false)
    val head = Snapshots.latestVersion(spark, tbl)
    val batch = Seq((100L, 1L)).toDF("k", "v")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.commitZorderedN(spark, batch, tbl, Seq("k", "v"),
        numFiles = 1, append = true))
    assert(e1.getMessage.contains("before publishing"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.commitHilbertN(spark, batch, tbl, Seq("v"),
        numFiles = 1, append = true))
    assert(e2.getMessage.contains("before publishing"), e2.getMessage)
    assert(Snapshots.latestVersion(spark, tbl) == head,
      "a key-mismatch refusal must leave the table untouched")
    // the same keys still append, carrying the parent's rows
    val v = Snapshots.commitClustered(spark, batch, tbl, "k",
      numFiles = 1, append = true)
    assert(Snapshots.scanRangeAsOf(spark, tbl, v, "k", 60L, 100L)
      .select($"k").as[Long].collect().sorted.toSeq ==
      Seq(60L, 61L, 62L, 63L, 100L))
  }

  test("a bloom sidecar recording several keys serves no probe: the " +
    "point scan refuses, runtime admission and DML pruning stand down") {
    val tbl = freshTable()
    val v = Snapshots.commitBloom(spark,
      (1L to 40L).map(i => (i, i + 1000L)).toDF("id", "w").repartition(4),
      tbl, "id", append = false)
    // a mixed sidecar: the same files' sketches over both columns
    val dir = s"$tbl/_bloom/v$v"
    val files = Snapshots.generationOf(spark, tbl, v).paths
    val mixed = freshDir() + "/mixed"
    Skipping.bloomRows(spark, files, "id", Skipping.DefaultSizing)
      .unionByName(
        Skipping.bloomRows(spark, files, "w", Skipping.DefaultSizing))
      .coalesce(1).write.parquet(mixed)
    val f = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new Path(dir), true))
    assert(f.rename(new Path(mixed), new Path(dir)))
    intercept[IllegalArgumentException](
      Snapshots.scanPointAsOf(spark, tbl, v, "id", 7L))
    assert(Snapshots.resolveFace(spark, tbl, v, Snapshots.IndexFamilies)
      .runtimeKeys(spark).isEmpty)
    val rows = Snapshots.generationOf(spark, tbl, v).files
    assert(Snapshots.bloomPrunedForDml(
      Snapshots.dmlFace(spark, tbl, "updateWhere"), rows,
      col("id") === 7L) == rows)
  }

  test("index reads take the footer schema: a standalone scanRange plans " +
    "in one job and a cold sidecar-pruned read in two; an empty answer " +
    "keeps the nullable schema a parquet read infers") {
    // spark.range's id is a non-nullable long
    val data = freshDir() + "/data"
    val man = freshDir() + "/man"
    Skipping.writeClustered(spark.range(0L, 100L).toDF("k"), "k",
      numFiles = 4, path = data)
    Skipping.writeManifest(spark, data, Seq("k"), man)
    val (hit, jobs) =
      jobsDuring(Skipping.scanRange(spark, data, man, "k", 10L, 20L))
    assert(jobs == 1, s"a standalone scanRange planned in $jobs jobs")
    assert(hit.count() == 11L)
    val miss = Skipping.scanRange(spark, data, man, "k", 500L, 600L)
    assert(miss.schema == spark.read.parquet(data).schema,
      s"empty answer ${miss.schema} against ${spark.read.parquet(data).schema}")
    assert(miss.count() == 0L)

    val tbl = freshTable()
    val v = Snapshots.commitClustered(spark, spark.range(0L, 100L).toDF("k"),
      tbl, "k", numFiles = 4, append = false)
    // the admission collect, and the admitted files' schema merge (the
    // pruned scan reads no manifest, so it has no stored schema)
    val (face, coldJobs) =
      jobsDuring(Snapshots.scanRangeAsOf(spark, tbl, v, "k", 10L, 20L))
    assert(coldJobs == 2,
      s"a cold sidecar-pruned read planned in $coldJobs jobs")
    assert(face.count() == 11L)
  }

  test("an indexed append builds its fresh rows off the footer schema: " +
    "a clustered append runs 4 jobs") {
    val tbl = freshTable()
    Snapshots.commitClustered(spark,
      (0L until 64L).map(i => (i, s"r$i")).toDF("k", "v"),
      tbl, "k", numFiles = 4, append = false)
    val (v, jobs) = jobsDuring(Snapshots.commitClustered(spark,
      Seq((100L, "x")).toDF("k", "v"), tbl, "k", numFiles = 1,
      append = true))
    assert(jobs == 4, s"a clustered append ran $jobs jobs")
    assert(Snapshots.scanRangeAsOf(spark, tbl, v, "k", 60L, 100L)
      .select($"k").as[Long].collect().sorted.toSeq ==
      Seq(60L, 61L, 62L, 63L, 100L))
  }

  test("version pointers: a corrupt checkpoint pointer reads as absent, " +
    "a corrupt tag is loud") {
    val tbl = freshTable()
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"), tbl,
      append = false)
    Snapshots.tag(spark, tbl, "release", 0L)
    assert(Snapshots.tags(spark, tbl) == Seq("release" -> 0L))
    val f = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def scribble(p: String): Unit = {
      val out = f.create(new Path(p), true)
      try out.write("not a version".getBytes("UTF-8")) finally out.close()
    }
    scribble(s"$tbl/_versions/_last_checkpoint")
    assert(Snapshots.lastCheckpointVersion(spark, tbl).isEmpty)
    assert(Snapshots.readAsOf(spark, tbl, 0L).count() == 1L)
    scribble(s"$tbl/_tags/release")
    intercept[NumberFormatException](Snapshots.tags(spark, tbl))
  }
}
