package graft

import java.net.InetSocketAddress
import java.time.Duration
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.SparkException

import graft.sources.AlmaConnector
import graft.sources.AlmaConnector.HttpItemStore

/** The update stage's transport fails loud and bounded: a stalled endpoint
  * becomes a per-row timeout error, and an interrupt ends the task. */
class AlmaTransportSpec extends SparkSuite {

  private def items(barcodes: String*) = {
    import spark.implicits._
    barcodes.map(b => ("1", s"'$b", "Bound Issue", "non-circulating", "v.1", "", "1998", "",
        "StdMatch", ""))
      .toDF("MMS ID", "Barcode", "Material Type", "Item Policy",
        "Enum A", "Enum B", "Chron I", "Chron J", "Pattern", "Notes")
      .coalesce(1)
  }

  test("HttpItemStore: an endpoint that never answers times out into an " +
    "HttpTimeoutException row routed to the error output") {
    val release = new CountDownLatch(1)
    val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    server.createContext("/", _ => release.await())
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/items"
      val annotated = AlmaConnector.update(items("100", "101"),
        () => new HttpItemStore(url, "key", Duration.ofMillis(300)))
      val notes = annotated.select("Notes").collect().map(_.getString(0)).toSeq
      assert(notes.size == 2 &&
        notes.forall(_.startsWith("Err: HttpTimeoutException: ")), notes)
      val (ok, err) = AlmaConnector.routeUpdateResult(annotated)
      assert(ok.isEmpty && err.count() == 2)
    } finally {
      release.countDown()
      server.stop(0)
    }
  }

  test("update: an interrupted transport call fails the task instead of " +
    "becoming a row error, and no later PUT is sent") {
    import AlmaTransportSpec.InterruptingStore
    val e = intercept[SparkException] {
      AlmaConnector.update(items("100", "101", "102", "103"), () => new InterruptingStore)
        .collect()
    }
    assert(e.getMessage.contains("InterruptedException"), e.getMessage)
    assert(InterruptingStore.puts.get == 1)
  }
}

object AlmaTransportSpec {
  /** Answers like an Alma endpoint until the second barcode, whose fetch
    * is interrupted; counts PUTs JVM-wide (`local[N]`). */
  class InterruptingStore extends AlmaConnector.ItemStore with Serializable {
    def fetch(barcode: String): (Int, String) =
      if (barcode == "101") throw new InterruptedException("cancelled")
      else (200, s"""<item link="http://stub/items/$barcode"><item_data><barcode>$barcode</barcode></item_data></item>""")
    def put(url: String, xml: String): Int = {
      InterruptingStore.puts.incrementAndGet()
      200
    }
  }
  object InterruptingStore {
    val puts = new AtomicInteger
  }
}
