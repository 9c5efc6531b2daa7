package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.sources.AlmaConnector

/** In-process, zero-latency item store for the update stage: every fetch
  * answers 200 with an item carrying its update link, every PUT answers
  * 200. The counters are JVM-wide, which covers every executor under
  * `local[N]`. */
final class StubStore extends AlmaConnector.ItemStore with Serializable {
  def fetch(barcode: String): (Int, String) = {
    StubStore.fetches.incrementAndGet()
    (200, s"""<item link="http://stub/items/$barcode"><item_data>""" +
      s"""<barcode>$barcode</barcode></item_data></item>""")
  }

  def put(url: String, xml: String): Int = {
    StubStore.puts.incrementAndGet()
    200
  }
}

object StubStore {
  val fetches = new AtomicLong()
  val puts = new AtomicLong()

  val factory: () => AlmaConnector.ItemStore = () => new StubStore

  def counts(): Map[String, Long] =
    Map("store.fetches" -> fetches.get(), "store.puts" -> puts.get())
}
