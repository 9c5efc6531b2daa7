package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Pipeline
import graft.sources.{AlmaConnector, CsvStage}

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
    // update: one routed write
    assert(jobs <= 5, s"$jobs jobs")
    assert(new java.io.File(dir).list().sorted.toSeq ==
      Seq("err_items.csv", "f_items.csv", "items.csv", "s_items.csv", "suc_items.csv"))
    val total = CsvStage.read(spark, res.split.get).count()
    assert(CsvStage.read(spark, res.success.get).count() +
      CsvStage.read(spark, res.error.get).count() == total)
  }

  /** Rows of every part file under `dir`, file by file in name order. */
  private def rowsByFile(dir: String, schema: StructType): Seq[Seq[Any]] =
    new java.io.File(dir).list().filter(_.startsWith("part-")).sorted.toSeq
      .flatMap { f =>
        spark.read.schema(schema).option("header", "true").csv(s"$dir/$f")
          .collect().map(_.toSeq)
      }

  private def bytes(path: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(path)).toSeq

  /** Every file under a routed output, by name, with its bytes. */
  private def contents(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).list().map(f => f -> bytes(s"$dir/$f")).toMap

  private val itemHeader =
    "MMS ID,Barcode,Material Type,Item Policy,Enum A,Enum B,Chron I,Chron J,Pattern,Notes"

  test("update: one routed write gives the old routing's rows in input " +
    "order, a header-only file for an empty route, one PUT per success " +
    "and no upd_ entry") {
    import spark.implicits._
    import PipelineSpec.CountingStore
    val dir = Files.createTempDirectory("graft-routed").toFile.getAbsolutePath
    Files.writeString(Paths.get(s"$dir/items.csv"), fixtureText)
    val fixture = Pipeline.run(spark, s"$dir/items.csv",
      Pipeline.StageFlags(format = true, split = true)).split.get
    // three parts, so three tasks each write their share of a route
    val allSuccess = CsvStage.writeStage(
      (1 to 30).map(i => s"'99$i,'31$i,Bound Issue,non-circulating,v.$i,,${1960 + i},,StdMatch,")
        .toDF("value").repartition(3)
        .select(split(col("value"), ",", -1).as("c"))
        .select(itemHeader.split(",").zipWithIndex.map { case (h, i) =>
          col("c")(i).as(h) }.toSeq: _*),
      s"$dir/ok/items.csv", "s_")
    val allError = s"$dir/bad/items.csv"
    Files.createDirectories(Paths.get(s"$dir/bad"))
    Files.writeString(Paths.get(allError), Seq(itemHeader,
      "'991,'404,Bound Issue,non-circulating,v.1,,1998,,StdMatch,",
      "'991,'3102,Bound Issue,non-circulating,,,,,N/A,",
      "'991,'3103,Bound Issue,non-circulating,v.3,,2000,,StdMatch,Err: i-barcode",
      "'991,'404,Bound Issue,non-circulating,v.4,,2001,,StdMatch,").mkString("", "\n", "\n"))

    Seq("fixture" -> fixture, "all success" -> allSuccess, "all error" -> allError)
      .foreach { case (what, input) =>
        val before = CountingStore.puts.get
        val (res, jobs) = jobsDuring {
          Pipeline.run(spark, input, Pipeline.StageFlags(update = true),
            store = Some(() => new CountingStore))
        }
        val puts = CountingStore.puts.get - before
        val (ok, bad) = AlmaConnector.routeUpdateResult(
          AlmaConnector.update(CsvStage.read(spark, input), () => new CountingStore))
        val expected = Seq(res.success.get -> ok, res.error.get -> bad)
        expected.foreach { case (out, old) =>
          assert(rowsByFile(out, old.schema) == old.collect().map(_.toSeq).toSeq,
            s"$what: $out")
          val listing = new java.io.File(out).list().filterNot(_.startsWith("."))
          assert(listing.contains("_SUCCESS"), s"$what: ${listing.toSeq}")
          if (old.isEmpty) {
            // the header-only file Spark writes for an empty frame
            val empty = s"$dir/empty-${out.split('/').last}"
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], old.schema)
              .write.option("header", "true").csv(empty)
            val sparkFile = new java.io.File(empty).list().filter(_.startsWith("part-"))
            val parts = listing.filter(_.startsWith("part-"))
            assert(listing.length == 2 && parts.length == 1 && sparkFile.length == 1,
              s"$what: ${listing.toSeq}")
            assert(bytes(s"$out/${parts.head}") == bytes(s"$empty/${sparkFile.head}"), what)
          }
        }
        val successes = ok.count()
        assert(puts == successes, s"$what: $puts PUTs for $successes success rows")
        what match {
          case "fixture" =>
            assert(successes > 0 && bad.count() > 0)
            assert(jobs == 1, s"$what: the update stage ran $jobs jobs")
          case "all success" => assert(bad.isEmpty && successes == 30)
          case _ => assert(successes == 0 && bad.count() == 4)
        }
        val parent = new java.io.File(input).getParentFile
        assert(!parent.list().exists(_.startsWith("upd_")), s"$what: ${parent.list().toSeq}")
      }
  }

  test("update: a rerun whose write fails leaves the previous suc_/err_ " +
    "as they were and no upd_ entry") {
    val dir = Files.createTempDirectory("graft-routed-fail").toFile.getAbsolutePath
    Files.writeString(Paths.get(s"$dir/items.csv"), fixtureText)
    val first = Pipeline.run(spark, s"$dir/items.csv",
      Pipeline.StageFlags(format = true, split = true, update = true),
      store = Some(() => new PipelineSpec.CountingStore))
    val before = Seq(first.success.get, first.error.get).map(contents)
    intercept[SparkException] {
      Pipeline.run(spark, first.split.get, Pipeline.StageFlags(update = true),
        store = Some(() => new PipelineSpec.InterruptedStore))
    }
    assert(Seq(first.success.get, first.error.get).map(contents) == before)
    assert(new java.io.File(dir).list().sorted.toSeq ==
      Seq("err_items.csv", "f_items.csv", "items.csv", "s_items.csv", "suc_items.csv"))
  }

  test("update: a rerun whose err_ rename fails after suc_ was replaced " +
    "puts the previous suc_/err_ back and leaves no upd_ entry") {
    import PipelineSpec.FaultyFs
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val dir = Files.createTempDirectory("graft-routed-rename").toFile.getAbsolutePath
    Files.writeString(Paths.get(s"$dir/items.csv"), fixtureText)
    val first = Pipeline.run(spark, s"faulty://$dir/items.csv",
      Pipeline.StageFlags(format = true, split = true, update = true),
      store = Some(() => new PipelineSpec.CountingStore))
    val outputs = Seq(first.success.get, first.error.get).map(new java.net.URI(_).getPath)
    val before = outputs.map(contents)
    FaultyFs.failNextErrRename.set(true)
    val e = try intercept[java.io.IOException] {
      Pipeline.run(spark, first.split.get, Pipeline.StageFlags(update = true),
        store = Some(() => new PipelineSpec.CountingStore))
    } finally FaultyFs.failNextErrRename.set(false)
    assert(e.getMessage.contains("err_items.csv"), e.getMessage)
    assert(outputs.forall(new java.io.File(_).isDirectory), outputs)
    assert(outputs.map(contents) == before)
    assert(new java.io.File(dir).list().sorted.toSeq ==
      Seq("err_items.csv", "f_items.csv", "items.csv", "s_items.csv", "suc_items.csv"))
  }
}

object PipelineSpec {
  /** [[AlmaConnectorSpec.StubStore]] that also counts its PUTs, JVM-wide
    * (every executor under `local[N]`). */
  class CountingStore extends AlmaConnectorSpec.StubStore {
    override def put(url: String, xml: String): Int = {
      CountingStore.puts.incrementAndGet()
      super.put(url, xml)
    }
  }
  object CountingStore {
    val puts = new AtomicInteger
  }

  /** The local file system under the `faulty:` scheme; while
    * `failNextErrRename` is set, the next rename onto an `err_` name
    * returns false (and clears the flag). */
  class FaultyFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("faulty:///")
    override def rename(src: HPath, dst: HPath): Boolean =
      if (dst.getName.startsWith("err_") && FaultyFs.failNextErrRename.getAndSet(false)) false
      else super.rename(src, dst)
  }
  object FaultyFs {
    val failNextErrRename = new AtomicBoolean
  }

  /** A store whose every call is interrupted, as a cancelled task's is:
    * the update task fails. */
  class InterruptedStore extends AlmaConnector.ItemStore with Serializable {
    def fetch(barcode: String): (Int, String) = throw new InterruptedException("cancelled")
    def put(url: String, xml: String): Int = throw new InterruptedException("cancelled")
  }
}
