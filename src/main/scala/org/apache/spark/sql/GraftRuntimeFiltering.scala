package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, StructType}

/** RUNTIME FILE PRUNING for the graft catalog's SQL scans — the DSv2
  * `SupportsRuntimeV2Filtering` face of
  * `graft.operators.Snapshots.scanJoinPruned` (q81's verb): on a plain
  * SQL join `SELECT ... FROM graft.fact f JOIN dim d ON f.k = d.k`
  * over a stats-/bloom-governed snapshot table, Spark's own
  * dynamic-pruning rule sees the scan declare `k` filterable, plans
  * the dim side's key set as a runtime IN filter (reusing the join's
  * broadcast), and hands the values to [[GraftRuntimePrunedScan
  * .filter]] at execution — which re-plans the fact FILE LIST through
  * the snapshot's stats/bloom sidecars before any data file opens. A
  * 100-TB fact behind a selective dim filter reads the files the key
  * interval + sketches admit, not the face. Both sidecar legs are
  * conservative (no false prunes); an inapplicable or oversized filter
  * leaves the full file list untouched.
  *
  * Lives in `org.apache.spark.sql` because filter pushdown for file
  * sources flows through the `private[sql]`
  * [[SupportsPushDownCatalystFilters]] — the builder must forward it
  * or the wrap would cost the scan its parquet pushdown. (Aggregate
  * pushdown — default-off for parquet — is the one builder face not
  * forwarded.) `admit` maps one runtime IN-set (key, values, type) to
  * the admitted files in manifest spelling; None when nothing applies. */
class GraftRuntimePruneScanBuilder(
    inner: FileScanBuilder,
    spark: SparkSession,
    keys: Seq[String],
    admit: GraftRuntimePrunedScan.Admit) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {
  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)
  override def pushedFilters: Array[Predicate] = inner.pushedFilters
  override def build(): Scan = inner.build() match {
    // a scan with a non-empty readPartitionSchema reconstructs
    // partition-column values from the file index's partition spec —
    // the swapped bare InMemoryFileIndex in `filter` would lose that
    // reconstruction and mis-serve the partition column. Unreachable
    // today (partitioned faces never get covering stats/bloom
    // sidecars), but guard EXPLICITLY so a future partitioned+sidecar
    // composition degrades to unpruned, never to wrong values
    case ps: ParquetScan if ps.readPartitionSchema.isEmpty =>
      new GraftRuntimePrunedScan(ps, spark, keys, admit)
    case other => other // non-parquet/partitioned delegate: no hook
  }
}

/** The wrapped scan: delegates everything to the (possibly pruned)
  * inner [[ParquetScan]]; [[filter]] swaps the file index for the
  * sidecar-admitted subset. Spark calls `filter` on the driver right
  * before planning input partitions, so the admission's two
  * metadata-scale jobs run once per scan execution — after the dim
  * side's broadcast already materialized (DPP reuses it; the filter
  * is free on the dim side). */
object GraftRuntimePrunedScan {
  type Admit = (String, Seq[Any], DataType) => Option[Seq[String]]

  /** Observability for the admission-shape question: the distinct
    * predicate names Spark hands to [[GraftRuntimePrunedScan.filter]]
    * (spec-pinned in GraftCatalogSpec) — a set, so a long-lived driver
    * holds one entry per shape, not one per runtime-filtered scan.
    * Range admission (`>`/`<` via the stats sidecar's min/max) stays
    * UNWRITTEN until this set ever shows Spark emitting such a shape: Spark's runtime V2
    * filtering is dynamic partition/file pruning over an EQUI-join's
    * key values — `InSubqueryExec` materialized as IN (or = for a
    * single value) — and a non-equi join plans no runtime filter at
    * all, so a range branch in [[GraftRuntimePrunedScan.extractIn]]
    * would be dead code guarding nothing. */
  val observedFilterShapes: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

class GraftRuntimePrunedScan(
    inner: ParquetScan,
    spark: SparkSession,
    keys: Seq[String],
    admit: GraftRuntimePrunedScan.Admit) extends Scan with Batch
    with SupportsRuntimeV2Filtering {

  @volatile private var current: ParquetScan = inner
  // admitted files in MANIFEST spelling (the fileIndex's inputFiles
  // are scheme-qualified URIs — comparing across the two spellings
  // silently empties the intersection); None = unfiltered
  @volatile private var admitted: Option[Seq[String]] = None

  override def readSchema(): StructType = current.readSchema()
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    current.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    current.toBatch.createReaderFactory()
  override def description(): String =
    s"GraftRuntimePruned(${keys.mkString(",")}) ${current.description()}"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    current.columnarSupportMode()

  /** Post-filter observability: files the runtime admission kept
    * (None while unfiltered) — what the plan pin asserts on. */
  def admittedFiles: Option[Int] = admitted.map(_.length)

  override def filterAttributes(): Array[NamedReference] =
    keys.map(k => FieldReference(Seq(k))).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    // admission derives FRESH from `inner` on every filter round —
    // intersection only ACROSS THIS CALL's predicates. A re-executed
    // scan instance handed a DIFFERENT runtime key set (reused
    // exchange, re-optimized AQE stage) must not inherit the previous
    // round's admission: a stale monotonic intersect could silently
    // under-admit files the new key set needs
    var kept: Option[Seq[String]] = None
    predicates.foreach(p =>
      GraftRuntimePrunedScan.observedFilterShapes.add(p.name()))
    predicates.foreach { p =>
      extractIn(p).foreach { case (key, values, dt) =>
        admit(key, values, dt).foreach { adm =>
          // both in manifest spelling; conservative legs make order moot
          kept = Some(kept.fold(adm)(prev =>
            adm.filter(prev.toSet.contains)))
        }
      }
    }
    kept match {
      case Some(k) if k.length < inner.fileIndex.inputFiles.length =>
        admitted = Some(k)
        current = inner.copy(fileIndex = new InMemoryFileIndex(
          spark, k.map(new Path(_)),
          Map.empty[String, String], Some(inner.dataSchema)))
      case Some(_) => // admitted everything: serve the stock scan
        admitted = None
        current = inner
      case None => // no applicable predicate this round: unfiltered
        admitted = None
        current = inner
    }
  }

  /** (key, scala values, type) of an `IN(col, lit...)` or
    * `= (col, lit)` runtime predicate on a single top-level column —
    * the shapes Spark's runtime-filter translation emits. Anything
    * else is ignored (the filter is an optimization; rows still meet
    * the join exactly). */
  private def extractIn(p: Predicate)
      : Option[(String, Seq[Any], org.apache.spark.sql.types.DataType)] = {
    if (p.name() != "IN" && p.name() != "=") return None
    val children = p.children()
    if (children.isEmpty) return None
    children.head match {
      case f: NamedReference if f.fieldNames().length == 1 &&
        keys.contains(f.fieldNames().head) =>
        val lits = children.tail.collect {
          case l: LiteralValue[_] =>
            (CatalystTypeConverters.convertToScala(l.value, l.dataType),
              l.dataType)
        }
        if (lits.length != children.length - 1 || lits.isEmpty) None
        else Some((f.fieldNames().head, lits.map(_._1).toSeq,
          lits.head._2))
      case _ => None
    }
  }
}
