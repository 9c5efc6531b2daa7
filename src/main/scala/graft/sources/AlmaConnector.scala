package graft.sources

import java.time.Duration

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The `update` stage's REST lookup source + sink (reference S3–S5:
  * BatchUpdate.py:425-568), re-shaped for a cluster.
  *
  * The reference processes items serially — GET, XML merge, PUT, one item
  * at a time (its own wall-clock print is the only perf artifact in the
  * repo). Here each Spark partition drives its own pooled HTTP client, so
  * throughput scales with `min(partitions, service rate limit)`; the row
  * result carries an outcome status, and [[succeeded]] is the one routing
  * decision over it, so success/error routing is a column of the annotated
  * frame rather than driver-side lists.
  *
  * The transport is pluggable (`ItemStore`) so tests run against an
  * in-memory stub and production supplies a `java.net.http`-based client —
  * executors construct it lazily per partition via the serializable
  * factory, never on the driver.
  */
object AlmaConnector {

  /** Minimal transport abstraction: fetch item XML by barcode; push the
    * merged XML back. Implementations must be thread-safe within a
    * partition. */
  trait ItemStore {
    /** GET by barcode → (status, body). (BatchUpdate.py:477) */
    def fetch(barcode: String): (Int, String)
    /** PUT merged XML → status. (BatchUpdate.py:556) */
    def put(url: String, xml: String): Int
  }

  /** `java.net.http` client against a real Alma-style endpoint. One
    * instance per executor partition; HTTP/1.1 keep-alive pooling.
    * `timeout` bounds both the connect and each request, so a stalled
    * endpoint fails its row with an `HttpTimeoutException` note instead
    * of hanging the task. */
  final class HttpItemStore(
      baseUrl: String,
      apiKey: String,
      timeout: Duration = Duration.ofSeconds(30)) extends ItemStore {
    private lazy val client =
      java.net.http.HttpClient.newBuilder().connectTimeout(timeout).build()
    private def uri(s: String) = java.net.URI.create(s)
    private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    def fetch(barcode: String): (Int, String) = {
      val sep = if (baseUrl.contains("?")) "&" else "?"
      val req = java.net.http.HttpRequest.newBuilder(
        uri(s"$baseUrl${sep}apikey=${enc(apiKey)}&item_barcode=${enc(barcode)}"))
        .timeout(timeout).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def put(url: String, xml: String): Int = {
      val sep = if (url.contains("?")) "&" else "?"
      val req = java.net.http.HttpRequest.newBuilder(uri(s"$url${sep}apikey=${enc(apiKey)}"))
        .timeout(timeout)
        .header("Content-Type", "application/xml")
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(xml))
        .build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    }
  }

  /** Run the update flow: for each non-errored row, fetch → merge → put,
    * appending a `__status` / `Notes` outcome. Returns the annotated frame;
    * route on [[succeeded]] ([[routeUpdateResult]] splits the frame on it
    * and drops the internal status column).
    *
    * `storeFactory` must be serializable; it is invoked once per partition
    * on the executor (connection reuse, no driver round-trips). */
  def update(
      dfIn: DataFrame,
      storeFactory: () => ItemStore): DataFrame = {
    // the reference appends Notes when the input lacks it (BatchUpdate.py:451-455)
    val df = if (dfIn.columns.contains("Notes")) dfIn
      else dfIn.withColumn("Notes", org.apache.spark.sql.functions.lit(""))
    val schema = df.schema
    val out = StructType(schema.fields :+ StructField("__status", StringType))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(out))

    val barcodeIdx = schema.fieldIndex("Barcode")
    val notesIdx = schema.fieldIndex("Notes")
    val patternIdx = schema.fieldNames.indexOf("Pattern")
    def idx(n: String) = schema.fieldNames.indexOf(n)
    val matIdx = idx("Material Type"); val polIdx = idx("Item Policy")
    val eaIdx = idx("Enum A"); val ebIdx = idx("Enum B")
    val ciIdx = idx("Chron I"); val cjIdx = idx("Chron J")
    def get(r: Row, i: Int): Option[String] =
      if (i < 0 || r.isNullAt(i)) None else Some(r.getString(i))

    df.mapPartitions { it =>
      lazy val store = storeFactory() // one client per partition
      it.map { row =>
        val notes = get(row, notesIdx).getOrElse("")
        val pattern = if (patternIdx >= 0) get(row, patternIdx).getOrElse("") else ""
        def withNote(status: String, extra: Option[String],
            overwrite: Boolean = false): Row = {
          val vals = row.toSeq.toArray
          extra.foreach { msg =>
            vals(notesIdx) =
              if (overwrite || notes.isEmpty) msg else s"$notes; $msg"
          }
          Row.fromSeq(vals.toSeq :+ status)
        }
        if (notes.contains("Err")) withNote("skipped_error", None)
        else if (pattern == "N/A") withNote("skipped_unmatched", None)
        else {
          // strip the apostrophe guard (BatchUpdate.py:474)
          val barcode = get(row, barcodeIdx).getOrElse("").stripPrefix("'")
          try {
            val (code, body) = store.fetch(barcode)
            if (code != 200)
              withNote("error",
                Some(s"Err: Problem fetching item information. Code $code"),
                overwrite = true)
            else {
              val parsed = AlmaXml.parse(body)
              val merged = AlmaXml.merge(parsed, AlmaXml.ItemFields(
                get(row, matIdx), get(row, polIdx), get(row, eaIdx),
                get(row, ebIdx), get(row, ciIdx), get(row, cjIdx)))
              AlmaXml.updateUrl(parsed) match {
                case None =>
                  withNote("error", Some("Err: No update link in item XML"))
                case Some(url) =>
                  val putCode = store.put(url, merged)
                  if (putCode == 200) withNote("success", None)
                  else withNote("error",
                    Some(s"Err: #Problem with Networking request. Code $putCode"))
              }
            }
          } catch {
            // not InterruptedException: a cancelled task must stop, not
            // record a row error and go on sending PUTs
            case NonFatal(e) =>
              withNote("error", Some(s"Err: ${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        }
      }
    }(enc)
  }

  /** S5's routing decision over the annotated frame, defined once: a row
    * goes to the success output iff its PUT answered 200; every other
    * outcome (fetch or PUT error, skipped row) goes to the error output. */
  val succeeded: Column = col("__status") === "success"

  /** S5 routing on the update result: (success frame, error frame) —
    * two filtered views over the annotated frame, status dropped. */
  def routeUpdateResult(annotated: DataFrame): (DataFrame, DataFrame) = (
    annotated.filter(succeeded).drop("__status"),
    annotated.filter(!succeeded).drop("__status"))
}
