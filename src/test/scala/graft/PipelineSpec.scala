package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline
import graft.sources.CsvStage

/** S1/S2 CSV source/sink (prefix naming, dialects) and the §3 lifecycle:
  * format → split → update chained over staged CSV files, like the
  * reference CLI (BatchUpdate.py:114-136) minus the interactive prompts. */
class PipelineSpec extends SparkSuite {

  test("JsonStage: nested JSONL round-trips under a pinned schema; a " +
    "corrupt line fails FAILFAST-loud instead of nulling fields") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_json_").toString
    val src = Seq((1L, "a", "en", 10L), (2L, "b", "de", 20L))
      .toDF("doc_id", "source", "lang", "n_chars")
      .select(col("doc_id"),
        struct(col("source"), col("lang")).as("meta"), col("n_chars"))
    val path = graft.sources.JsonStage.write(src, s"$dir/docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("meta", StructType(Seq(
        StructField("source", StringType), StructField("lang", StringType)))),
      StructField("n_chars", LongType)))
    val back = graft.sources.JsonStage.read(spark, schema, path)
      .select(col("doc_id"), col("meta.source"), col("meta.lang"),
        col("n_chars"))
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a", "en", 10L), (2L, "b", "de", 20L)))
    // corrupt line in a fresh file: FAILFAST surfaces it as a job
    // failure rather than a row of nulls
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/bad.json"),
      "{\"doc_id\": oops}\n".getBytes)
    val e = intercept[Exception] {
      graft.sources.JsonStage.read(spark, schema, s"$dir/bad.json").collect()
    }
    assert(e.getMessage != null)
  }

  test("stagedPath: strips prior stage prefixes, keeps directories") {
    assert(CsvStage.stagedPath("/d/items.csv", "f_") == "/d/f_items.csv")
    assert(CsvStage.stagedPath("/d/f_items.csv", "s_") == "/d/s_items.csv")
    assert(CsvStage.stagedPath("/d/s_f_items.csv", "suc_") == "/d/suc_items.csv")
    assert(CsvStage.stagedPath("items.csv", "err_") == "err_items.csv")
  }

  test("csv round-trip: write stage then read back, all strings") {
    val dir = Files.createTempDirectory("graft-csv").toFile.getAbsolutePath
    import spark.implicits._
    val df = Seq(("'991", "'3123", "A title")).toDF("MMS ID", "Barcode", "title")
    val out = CsvStage.writeStage(df, s"$dir/items.csv", "f_")
    assert(out == s"$dir/f_items.csv")
    val back = CsvStage.read(spark, out)
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    assert(back.collect().map(_.toSeq).toSeq == df.collect().map(_.toSeq).toSeq)
  }

  test("readNaive matches the reference dialect on the fixture") {
    val path = getClass.getResource("/alma/fixture.csv").getPath
    val (header, rows) = readNaiveCsv("/alma/fixture.csv")
    val df = CsvStage.readNaive(spark, path)
    assert(df.columns.toSeq == header)
    assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == rows)
  }

  test("pipeline: format -> split -> update chains staged files and routes") {
    val dir = Files.createTempDirectory("graft-pipe").toFile.getAbsolutePath
    // seed the input from the golden fixture
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/alma/fixture.csv"), "UTF-8")
    val content = try src.mkString finally src.close()
    Files.writeString(java.nio.file.Paths.get(s"$dir/items.csv"), content)

    val res = Pipeline.run(
      spark, s"$dir/items.csv",
      Pipeline.StageFlags(format = true, split = true, update = true),
      store = Some(() => new AlmaConnectorSpec.StubStore))

    assert(res.formatted.contains(s"$dir/f_items.csv"))
    assert(res.split.contains(s"$dir/s_items.csv"))
    assert(res.success.contains(s"$dir/suc_items.csv"))
    assert(res.error.contains(s"$dir/err_items.csv"))

    val splitOut = CsvStage.read(spark, res.split.get)
    // split appended the derived columns
    Seq("Pattern", "Notes", "Enum A", "Chron I").foreach { c =>
      assert(splitOut.columns.contains(c), s"missing $c")
    }
    val suc = CsvStage.read(spark, res.success.get)
    val err = CsvStage.read(spark, res.error.get)
    val total = CsvStage.read(spark, res.split.get).count()
    assert(suc.count() + err.count() == total)
    assert(suc.count() > 0)
    // unmatched descriptions routed to the error file, not uploaded
    assert(err.filter(col("Pattern") === "N/A").count() ==
      splitOut.filter(col("Pattern") === "N/A").count())
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def fixtureText: String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/alma/fixture.csv"), "UTF-8")
    try src.mkString finally src.close()
  }

  test("CsvStage.read: the header is read on the driver (no job) and gives " +
    "Spark's inferred schema and rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-header").toFile.getAbsolutePath
    def file(name: String, text: String): String = {
      Files.writeString(Paths.get(s"$dir/$name"), text)
      s"$dir/$name"
    }
    val multiPart = CsvStage.writeStage(
      (1 to 40).map(i => (s"'99$i", s"'3$i", s"t, $i")).toDF("MMS ID", "Barcode", "title")
        .repartition(3),
      s"$dir/items.csv", "f_")
    assert(new java.io.File(multiPart).list().count(_.startsWith("part-")) > 1)
    val inputs = Seq(
      "raw file" -> file("raw.csv", fixtureText),
      "multi-part stage directory" -> multiPart,
      "quoted comma in the header" ->
        file("quoted.csv", "MMS ID,\"Title, sub\",Barcode\n1,\"a, b\",2\n"),
      "duplicate and empty names" ->
        file("dups.csv", "a,b,a,,c,B\n1,2,3,4,5,6\n"),
      "leading blank line" -> file("blank.csv", "\n\nMMS ID,Barcode\n1,2\n3,4\n"))
    inputs.foreach { case (what, path) =>
      val (read, jobs) = jobsDuring {
        val df = CsvStage.read(spark, path)
        df.schema
        df
      }
      assert(jobs == 0, s"$what: CsvStage.read ran $jobs job(s)")
      val inferred = spark.read.option("header", "true").csv(path)
      assert(read.schema == inferred.schema, s"$what: ${read.schema} != ${inferred.schema}")
      assert(read.collect().map(_.toSeq).toSet == inferred.collect().map(_.toSeq).toSet, what)
    }
  }

  test("pipeline: format -> split -> update launches at most 7 jobs and " +
    "leaves only the routed files beside the input") {
    val dir = Files.createTempDirectory("graft-pipe-jobs").toFile.getAbsolutePath
    Files.writeString(Paths.get(s"$dir/items.csv"), fixtureText)
    val (res, jobs) = jobsDuring {
      Pipeline.run(
        spark, s"$dir/items.csv",
        Pipeline.StageFlags(format = true, split = true, update = true),
        store = Some(() => new AlmaConnectorSpec.StubStore))
    }
    // format: write; split: range sampling, range map stage, write;
    // update: staging write, suc_ write, err_ write
    assert(jobs <= 7, s"$jobs jobs")
    assert(new java.io.File(dir).list().sorted.toSeq ==
      Seq("err_items.csv", "f_items.csv", "items.csv", "s_items.csv", "suc_items.csv"))
    val total = CsvStage.read(spark, res.split.get).count()
    assert(CsvStage.read(spark, res.success.get).count() +
      CsvStage.read(spark, res.error.get).count() == total)
  }
}
