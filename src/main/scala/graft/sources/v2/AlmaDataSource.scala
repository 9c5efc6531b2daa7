package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.AlmaConnector.{HttpItemStore, ItemStore}

/** DataSource V2 wrapper for the Alma REST item store (SURVEY.md §4
  * stretch): `spark.read.format("alma")` is a parallel lookup source and
  * `df.write.format("alma")` a parallel PUT sink, so SQL-only users reach
  * the connector without the Scala API.
  *
  * Read: options `barcodes` (comma-separated) fan out over `numPartitions`
  * slices; each partition drives one [[ItemStore]] (HTTP keep-alive per
  * task at cluster scale) and emits (barcode, http_status, item_xml).
  *
  * Write: expects rows of (url, xml); each task PUTs its partition and the
  * driver-side commit aggregates success/failure counts (visible via
  * [[AlmaBatchWrite.lastCommitted]] for tests/monitoring).
  *
  * Transport selection mirrors the mapPartitions connector: `storeClass`
  * names a no-arg [[ItemStore]] implementation (tests use the stub);
  * otherwise `baseUrl`/`apiKey` construct the production HTTP store.
  */
class AlmaDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "alma"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AlmaDataSource.readSchema

  // Writes carry their own (url, xml) schema rather than the lookup
  // table's; accepting external metadata makes Spark hand the data schema
  // to getTable instead of rejecting it against the read schema.
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AlmaTable(schema, properties.asScala.toMap)
}

object AlmaDataSource {
  val readSchema: StructType = StructType(Seq(
    StructField("barcode", StringType, nullable = false),
    StructField("http_status", IntegerType, nullable = false),
    StructField("item_xml", StringType, nullable = true)))

  /** Build the transport from connector options on the executor. */
  def storeFor(options: Map[String, String]): ItemStore =
    options.get("storeclass") match {
      case Some(cls) =>
        Class.forName(cls).getDeclaredConstructor()
          .newInstance().asInstanceOf[ItemStore]
      case None =>
        new HttpItemStore(
          options.getOrElse("baseurl",
            throw new IllegalArgumentException(
              "alma source needs storeClass or baseUrl")),
          options.getOrElse("apikey", ""))
    }
}

private[v2] class AlmaTable(tableSchema: StructType, options: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  private val opts = options.map { case (k, v) => k.toLowerCase -> v }

  override def name(): String = "alma"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new AlmaScan(
        opts ++ o.asScala.map { case (k, v) => k.toLowerCase -> v })
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val schema = info.schema()
    require(
      Seq("url", "xml").forall(schema.fieldNames.contains),
      s"alma sink expects (url, xml) columns, got ${schema.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new AlmaBatchWrite(
          opts ++ info.options().asScala.map { case (k, v) => k.toLowerCase -> v },
          schema.fieldIndex("url"), schema.fieldIndex("xml"))
      }
    }
  }
}

// ------------------------------------------------------------------ read

private[v2] case class BarcodeSlice(
    barcodes: Seq[String], options: Map[String, String]) extends InputPartition

private[v2] class AlmaScan(options: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = AlmaDataSource.readSchema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val barcodes = options.getOrElse("barcodes", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val n = math.max(1, math.min(
      options.get("numpartitions").map(_.toInt).getOrElse(4), barcodes.size))
    if (barcodes.isEmpty) Array.empty
    else barcodes.grouped((barcodes.size + n - 1) / n)
      .map(BarcodeSlice(_, options)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    AlmaReaderFactory()
}

private[v2] case class AlmaReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[BarcodeSlice]
    new PartitionReader[InternalRow] {
      private lazy val store = AlmaDataSource.storeFor(slice.options)
      private val it = slice.barcodes.iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (!it.hasNext) false
        else {
          val bc = it.next()
          val (status, body) =
            try store.fetch(bc)
            catch { case NonFatal(e) => (-1, e.getMessage) }
          current = InternalRow(
            UTF8String.fromString(bc), status,
            UTF8String.fromString(body))
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

// ----------------------------------------------------------------- write

private[v2] case class PutCounts(ok: Long, failed: Long)
    extends WriterCommitMessage

private[v2] case class AlmaWriterFactory(
    options: Map[String, String], urlIdx: Int, xmlIdx: Int)
    extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private lazy val store = AlmaDataSource.storeFor(options)
      private var ok = 0L
      private var failed = 0L
      override def write(row: InternalRow): Unit = {
        val code =
          try store.put(row.getUTF8String(urlIdx).toString,
            row.getUTF8String(xmlIdx).toString)
          catch { case NonFatal(_) => -1 }
        if (code == 200) ok += 1 else failed += 1
      }
      override def commit(): WriterCommitMessage = PutCounts(ok, failed)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

class AlmaBatchWrite(
    options: Map[String, String], urlIdx: Int, xmlIdx: Int) extends BatchWrite {

  // a top-level case class: the factory is shipped to executors, so it
  // must not capture this (non-serializable) BatchWrite
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    AlmaWriterFactory(options, urlIdx, xmlIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val total = messages.collect { case PutCounts(o, f) => (o, f) }
      .foldLeft((0L, 0L)) { case ((a, b), (o, f)) => (a + o, b + f) }
    AlmaBatchWrite.lastCommitted = total
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

object AlmaBatchWrite {
  /** (ok, failed) of the most recent commit — single-JVM observability
    * hook for tests; a production deployment would emit metrics. */
  @volatile var lastCommitted: (Long, Long) = (0L, 0L)
}
