package graft

import org.apache.spark.sql.functions._

import graft.sources.v2.AlmaBatchWrite

/** DataSource V2 connector: `format("alma")` read fan-out and write
  * commit accounting against the stub store. */
class AlmaDataSourceSpec extends SparkSuite {
  import spark.implicits._

  private val stubClass = classOf[AlmaConnectorSpec.StubStore].getName

  test("read: barcodes fan out, statuses and XML come back") {
    val df = spark.read.format("alma")
      .option("storeClass", stubClass)
      .option("barcodes", "100, 200, 404, 300")
      .option("numPartitions", "2")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("barcode", "http_status", "item_xml"))
    val rows = df.orderBy("barcode")
      .as[(String, Int, String)].collect().toSeq
    assert(rows.map(_._1) == Seq("100", "200", "300", "404"))
    assert(rows.count(_._2 == 200) == 3)
    assert(rows.find(_._1 == "404").get._2 == 404)
    assert(rows.find(_._1 == "100").get._3.contains("<barcode>100</barcode>"))
  }

  test("read: empty barcode list plans zero partitions") {
    val df = spark.read.format("alma")
      .option("storeClass", stubClass)
      .option("barcodes", "")
      .load()
    assert(df.count() == 0L)
  }

  test("write: per-task PUTs aggregate into the commit") {
    val out = Seq(
      ("http://stub/items/1", "<item/>"),
      ("http://stub/items/2", "<item/>"),
      ("http://stub/items/500", "<item/>")) // stub fails urls ending /500
      .toDF("url", "xml")
    out.write.format("alma")
      .option("storeClass", stubClass)
      .mode("append")
      .save()
    assert(AlmaBatchWrite.lastCommitted == ((2L, 1L)))
  }

  test("read: an interrupted fetch fails the task instead of becoming a " +
    "-1 status, and no later barcode is fetched") {
    import AlmaDataSourceSpec.InterruptingStore
    val before = InterruptingStore.calls.get
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("alma")
        .option("storeClass", classOf[InterruptingStore].getName)
        .option("barcodes", "100, 101, 102, 103")
        .option("numPartitions", "1")
        .load().collect()
    }
    assert(e.getMessage.contains("InterruptedException"), e.getMessage)
    assert(InterruptingStore.calls.get - before == 2)
  }

  test("write: an interrupted PUT fails the task instead of counting as a " +
    "failed PUT, and no later row is sent") {
    import AlmaDataSourceSpec.InterruptingStore
    val before = InterruptingStore.calls.get
    val e = intercept[org.apache.spark.SparkException] {
      Seq("100", "101", "102", "103")
        .map(b => (s"http://stub/items/$b", "<item/>"))
        .toDF("url", "xml").coalesce(1)
        .write.format("alma")
        .option("storeClass", classOf[InterruptingStore].getName)
        .mode("append")
        .save()
    }
    assert(e.getMessage.contains("InterruptedException"), e.getMessage)
    assert(InterruptingStore.calls.get - before == 2)
  }
}

object AlmaDataSourceSpec {
  /** A store whose calls for barcode 101 are interrupted, as a cancelled
    * task's are; counts every call JVM-wide (`local[N]`). */
  class InterruptingStore extends graft.sources.AlmaConnector.ItemStore {
    def fetch(barcode: String): (Int, String) = {
      InterruptingStore.calls.incrementAndGet()
      if (barcode == "101") throw new InterruptedException("cancelled")
      else (200, "<item/>")
    }
    def put(url: String, xml: String): Int = {
      InterruptingStore.calls.incrementAndGet()
      if (url.endsWith("/101")) throw new InterruptedException("cancelled")
      else 200
    }
  }
  object InterruptingStore {
    val calls = new java.util.concurrent.atomic.AtomicInteger
  }
}
