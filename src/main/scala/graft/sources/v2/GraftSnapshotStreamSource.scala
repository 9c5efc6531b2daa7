package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Snapshots

/** A snapshot TABLE as a Structured Streaming SOURCE — the other half
  * of the lakehouse streaming loop ([[graft.streaming.SnapshotStream]]
  * is the sink): downstream consumers subscribe to a table and receive
  * each append commit as a micro-batch, exactly-once, O(delta) per
  * batch — the Delta/Iceberg streaming-read shape.
  *
  * {{{
  * spark.readStream.format("graft-snapshot")
  *   .option("path", tableRoot)            // required
  *   .option("startingVersion", "3")       // optional: serve > 3 only
  *   .load()
  * }}}
  *
  * The OFFSET IS THE SNAPSHOT VERSION: `latestOffset` is one manifest
  * directory listing (zero rows read), and a batch (start, end] plans
  * the manifest FILE-SET DIFFERENCE of exactly two generations — only
  * the delta commits' files are scanned, through Spark's own parquet
  * reader (pushdown/codegen stock). Because manifests are immutable, a
  * checkpoint-replayed batch re-plans the identical file set —
  * exactly-once across restarts with no side ledger, the same argument
  * as the ingest sink.
  *
  * Honest refusals, all per-batch and metadata-scale: a
  * replace/MERGE/OPTIMIZE inside an un-served interval breaks the
  * appends lineage (use batch [[Snapshots.readChangesBetween]] or
  * re-seed the consumer); fresh files carrying live deletion-vector
  * entries cannot stream (the scan cannot anti-join mid-stream);
  * hive-partitioned fresh files refuse toward the batch feed; a batch
  * whose stored schema no longer equals the stream's start schema
  * refuses rather than mis-reading widened files. The default start
  * (`startingVersion` = -1) serves the whole head as the first batch,
  * then increments. */
class GraftSnapshotStreamSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-snapshot stream source needs .option(\"path\", <tableRoot>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = rootOf(options)
    val head = Snapshots.latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot stream source: $root has no committed versions"))
    Snapshots.generationOf(spark, root, head).schema.getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot stream source: $root v$head carries no stored " +
          "schema (pre-schema-manifest generation) — recommit the head"))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val starting = Option(opts.get("startingVersion")).map(_.toLong)
    new GraftStreamTable(rootOf(opts), schema, starting)
  }
}

private[v2] class GraftStreamTable(
    root: String,
    streamSchema: StructType,
    starting: Option[Long]) extends Table with SupportsRead {

  override def name(): String = s"graft-snapshot(`$root`)"
  override def schema(): StructType = streamSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = streamSchema
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new GraftMicroBatchStream(root, streamSchema, starting)
      }
    }
}

private[v2] case class GraftVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[v2] class GraftMicroBatchStream(
    root: String,
    streamSchema: StructType,
    starting: Option[Long]) extends MicroBatchStream {

  private def spark: SparkSession = SparkSession.active

  // the delegate parquet Batch for the CURRENT planned interval —
  // Spark calls planInputPartitions then createReaderFactory for the
  // same batch; an empty interval never reaches the factory
  @volatile private var delegate: Batch = _

  override def initialOffset(): Offset =
    GraftVersionOffset(starting.getOrElse(-1L))

  /** One manifest-directory LISTING — zero rows read. */
  override def latestOffset(): Offset =
    GraftVersionOffset(
      Snapshots.latestVersion(spark, root).getOrElse(-1L))

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
    GraftVersionOffset(m.map(_.group(1).toLong).getOrElse(
      throw new IllegalArgumentException(
        s"graft-snapshot offset '$json' carries no version")))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(
      start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    if (e <= s || e < 0) return Array.empty
    val endGen = Snapshots.generationOf(spark, root, e)
    val (endRows, stored) = (endGen.files, endGen.schema)
    require(stored.contains(streamSchema) || stored.isEmpty,
      s"graft-snapshot stream on $root: version $e's stored schema " +
        s"(${stored.map(_.simpleString).getOrElse("?")}) no longer " +
        s"matches the stream's start schema " +
        s"(${streamSchema.simpleString}) — a schema-evolving commit " +
        "landed mid-stream; restart the stream to adopt it")
    val fresh =
      if (s < 0) endRows
      else {
        val startPaths = Snapshots.generationOf(spark, root, s).paths
        val startFiles = startPaths.toSet
        val dropped = startPaths.filterNot(f => endRows.exists(_.path == f))
        require(dropped.isEmpty,
          s"graft-snapshot stream on $root: versions $s..$e are not " +
            s"append lineage — ${dropped.size} file(s) of v$s were " +
            "rewritten in between (replace/MERGE/OPTIMIZE); the stream " +
            "cannot express row removal — re-seed the consumer (or " +
            "poll Snapshots.readChangesBetween in batch)")
        endRows.filterNot(d => startFiles.contains(d.path))
      }
    if (fresh.isEmpty) return Array.empty
    require(fresh.forall(_.part.isEmpty),
      s"graft-snapshot stream on $root: the interval's fresh files are " +
        "hive-partitioned — the stream scan cannot reconstruct " +
        "path-encoded partition columns; poll " +
        "Snapshots.readAppendsBetween in batch")
    require(!Snapshots.liveDvEntriesExist(spark, root, fresh.map(_.path)),
      s"graft-snapshot stream on $root: live deletion vectors govern " +
        "the interval's fresh files — the stream cannot apply them; " +
        "compact with optimize, or poll readChangesBetween in batch")
    // equality-delete tombstones are the same impossibility one layer
    // up: an eq generation's fresh rows SUPERSEDE older keys, and an
    // inserts-only feed that cannot retract would hand the consumer
    // both the stale and the new row per key
    require(!Snapshots.eqGovernedAt(spark, root, e),
      s"graft-snapshot stream on $root: the interval ends on an " +
        "equality-delete (merge-on-read) governed version — the " +
        "inserts-only feed cannot retract the keys its upserts " +
        "supersede; foldEqDeletes first, or consume readMorAsOf faces " +
        "in batch")
    val tbl = ParquetTable(s"graft-snapshot(`$root`)@$s..$e", spark,
      CaseInsensitiveStringMap.empty(),
      fresh.map(_.path).toIndexedSeq, Some(streamSchema),
      classOf[ParquetFileFormat])
    val batch = tbl.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toBatch
    delegate = batch
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val d = delegate
    require(d != null,
      "graft-snapshot stream: reader factory requested before any " +
        "non-empty batch was planned")
    d.createReaderFactory()
  }
}
