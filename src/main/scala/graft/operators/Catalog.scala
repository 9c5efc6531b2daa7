package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A NAMED CATALOG over [[Snapshots]] tables: the thin layer that turns
  * raw table-root paths into names with per-table PROPERTIES, so two
  * pipelines can share a table without hard-coding storage layout, and
  * a maintenance scheduler can sweep "every table I own" instead of a
  * hand-kept path list. Deliberately metadata-thin — the Hive-metastore
  * / Iceberg-REST-catalog role reduced to what the snapshot layer
  * actually consumes:
  *
  *  - `register(name) -> tableRoot` with properties (string→string;
  *    the layer understands `retain_versions` — how many newest
  *    generations a [[maintenance]] sweep keeps — and `dv_compact_at`,
  *    the [[Snapshots.dvStats]] threshold; anything else rides along
  *    uninterpreted, e.g. ownership or SLA tags).
  *  - `resolve(name)` for every read/write verb; `table(name)` sugar
  *    for the head read. Unknown names refuse loudly with the known
  *    set — never a silent empty table.
  *  - `maintenance()` — ONE metadata-scale sweep over every registered
  *    table returning a recommendation frame (deletion pressure via
  *    [[Snapshots.dvStats]], version count vs retention) a scheduler
  *    acts on; `maintain()` optionally EXECUTES the compact+vacuum
  *    recommendations, the auto-OPTIMIZE loop closed.
  *
  * Storage is one generation-versioned parquet doc per catalog change
  * under `_catalog/v<N>` (the same latest-generation resolution
  * discipline as the table sidecars, entries carried whole per
  * generation), so the catalog itself time-travels and a torn write
  * can never half-publish; renames are O(1) metadata. Registration
  * points at EXISTING roots — the catalog never owns data placement,
  * so adopting it (or abandoning it) costs nothing, which is the
  * property that lets path-based pipelines migrate incrementally.
  *
  * Spark-first note: this intentionally does NOT plug into
  * `spark.sql("SELECT ... FROM name")` catalog APIs — the snapshot
  * layer's verbs are version-addressed (AS OF, box scans, CDC), which
  * SQL's flat TABLE namespace cannot express without a full
  * DataSourceV2 TableCatalog + options plumbing; the function surface
  * keeps every verb first-class. */
object Catalog {

  private val CatalogDir = "_catalog"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The catalog doc's columns: one row per (table, property), a
    * table without properties one row with null key and value. */
  private val DocCols = Seq("name", "root", "prop_key", "prop_value")

  /** One catalog entry: the table root plus its property map. */
  final case class Entry(root: String, props: Map[String, String])

  /** The latest catalog generation as name → [[Entry]] — one listing,
    * one driver-side doc read, no Spark job. Empty map for a fresh
    * catalog. */
  def entries(
      spark: SparkSession,
      catalogRoot: String): Map[String, Entry] = {
    val dir = new Path(s"$catalogRoot/$CatalogDir")
    val f = fs(spark, catalogRoot)
    if (!f.exists(dir)) return Map.empty
    val latest = f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v"))
          scala.util.Try(n.drop(1).toLong).toOption.map(_ -> p.toString)
        else None
      }.sortBy(_._1).lastOption
    latest match {
      case None => Map.empty
      case Some((_, d)) =>
        // memoized per published catalog generation (rename-published,
        // immutable): the SQL catalog resolves EVERY statement's table
        // references through entries(); a miss reads the doc on the
        // driver, no Spark job
        Snapshots.memoizedMeta(f, new Path(d), "catalog") {
          Snapshots.readMetaParquet(spark.sparkContext.hadoopConfiguration,
            new Path(d), DocCols).toSeq
            .groupBy(_.getString(0))
            .map { case (name, rows) =>
              name -> Entry(rows.head.getString(1),
                rows.flatMap(r =>
                  if (r.isNullAt(2)) None
                  else Some(r.getString(2) -> r.getString(3))).toMap)
            }
        }
    }
  }

  /** Publish `next` as the new catalog generation — one staged parquet
    * dir renamed to `v<N+1>`; the rename is the publish point, so a
    * reader never sees a torn catalog. Single-catalog-writer contract
    * (catalog changes are rare administrative acts; racing ones mint
    * distinct dirs and the higher number wins, nothing tears). */
  private def publish(
      spark: SparkSession,
      catalogRoot: String,
      next: Map[String, Entry]): Unit = {
    val f = fs(spark, catalogRoot)
    val dir = new Path(s"$catalogRoot/$CatalogDir")
    val latest =
      if (!f.exists(dir)) -1L
      else f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("v")) // match entries(): a stray dir whose
        // tail parses as a number must not skew the next version
        .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
        .foldLeft(-1L)(math.max)
    val rows = next.toSeq.flatMap { case (name, e) =>
      if (e.props.isEmpty) Seq(Seq[Any](name, e.root, null, null))
      else e.props.toSeq.map { case (k, v) => Seq[Any](name, e.root, k, v) }
    }
    // driver-side single-file write (Snapshots.writeMetaParquet): the
    // doc rows are a driver Seq, and a Spark job per catalog publish —
    // one per pin/registration, i.e. per SQL DML statement — put
    // ~170 ms of job overhead on every statement
    val tmp = new Path(s"$catalogRoot/${CatalogDir}_tmp_v${latest + 1}")
    if (f.exists(tmp)) throw new IllegalStateException(
      s"catalog staging dir $tmp already exists — racing publish?")
    Snapshots.writeMetaParquet(spark.sparkContext.hadoopConfiguration,
      new Path(tmp, "part-00000.parquet"),
      DocCols.map(_ -> false), rows)
    require(f.rename(tmp,
      new Path(s"$catalogRoot/$CatalogDir/v${latest + 1}")),
      s"catalog publish failed for $catalogRoot — staged doc left at $tmp")
  }

  /** Register (or re-point) `name` at an existing table root. The
    * catalog never creates or moves data — callers init/commit through
    * [[Snapshots]] as ever; registration is adoption, not ownership. */
  def register(
      spark: SparkSession,
      catalogRoot: String,
      name: String,
      tableRoot: String,
      props: Map[String, String] = Map.empty): Unit = {
    require(name.nonEmpty && !name.contains("/"),
      s"catalog names are flat identifiers, got '$name'")
    publish(spark, catalogRoot,
      entries(spark, catalogRoot) + (name -> Entry(tableRoot, props)))
  }

  /** Merge `props` into `name`'s property map (null-valued keys are
    * not expressible — set a tombstone value by convention or
    * re-register). */
  def alterProperties(
      spark: SparkSession,
      catalogRoot: String,
      name: String,
      props: Map[String, String]): Unit = {
    val all = entries(spark, catalogRoot)
    val e = resolveEntry(all, name, catalogRoot)
    publish(spark, catalogRoot,
      all + (name -> e.copy(props = e.props ++ props)))
  }

  /** Drop the NAME — the table's data and manifest are untouched (the
    * catalog never owned them); re-register to re-adopt. */
  def dropTable(
      spark: SparkSession,
      catalogRoot: String,
      name: String): Unit = {
    val all = entries(spark, catalogRoot)
    resolveEntry(all, name, catalogRoot) // loud on unknown
    publish(spark, catalogRoot, all - name)
  }

  private def resolveEntry(
      all: Map[String, Entry],
      name: String,
      catalogRoot: String): Entry =
    all.getOrElse(name, throw new IllegalArgumentException(
      s"table '$name' is not registered in catalog $catalogRoot — " +
        s"known: ${all.keys.toSeq.sorted.mkString(", ")}"))

  /** The table root behind `name` — what every [[Snapshots]] verb
    * takes. Loud on unknown names. */
  def resolve(
      spark: SparkSession,
      catalogRoot: String,
      name: String): String =
    resolveEntry(entries(spark, catalogRoot), name, catalogRoot).root

  /** Reserved property key: the snapshot version catalog READERS
    * resolve for this table instead of its physical head — the handle
    * [[commitAtomic]] moves for N tables in ONE catalog-generation
    * rename, which is what makes a cross-table commit atomic to every
    * reader that resolves through the catalog. Absent = the head. */
  private[graft] val PinnedProp = "pinned_version"

  private def pinnedVersion(e: Entry): Option[Long] =
    e.props.get(PinnedProp).map(_.toLong)

  /** The snapshot version a catalog read of `name` resolves: the
    * pinned version when a [[commitAtomic]] governs the table, else
    * the physical head. */
  def tableVersion(
      spark: SparkSession,
      catalogRoot: String,
      name: String): Long = {
    val e = resolveEntry(entries(spark, catalogRoot), name, catalogRoot)
    pinnedVersion(e).orElse(Snapshots.latestVersion(spark, e.root))
      .getOrElse(throw new IllegalArgumentException(
        s"table '$name' (${e.root}) has no committed versions"))
  }

  /** Catalog read by name — `readAsOf(resolve(name), tableVersion)`:
    * pinned tables serve their pinned snapshot (the cross-table
    * consistent face), unpinned tables their head. */
  def table(
      spark: SparkSession,
      catalogRoot: String,
      name: String): DataFrame = {
    val e = resolveEntry(entries(spark, catalogRoot), name, catalogRoot)
    val v = pinnedVersion(e).orElse(Snapshots.latestVersion(spark, e.root))
      .getOrElse(throw new IllegalArgumentException(
        s"table '$name' (${e.root}) has no committed versions"))
    Snapshots.readAsOf(spark, e.root, v)
  }

  /** MULTI-TABLE ATOMIC COMMIT — the cross-table consistency the
    * logical-watermark discipline alone cannot give (a fact table and
    * its MV state table that must move together): each write lands as
    * its own snapshot commit (per-table generations, per-table
    * reconciliation — nothing about the single-table contract
    * changes), and then ONE catalog generation re-pins every written
    * table to its minted version. The catalog publish is a single
    * staged-dir rename, so every reader that resolves through the
    * catalog ([[table]]/[[tableVersion]]) sees ALL the new versions or
    * NONE:
    *
    *  - a crash (or a refused commit) BETWEEN the table commits leaves
    *    the catalog generation unpublished — catalog readers stay on
    *    the old consistent pair, and the already-committed tables'
    *    generations are merely unpinned (visible to path-direct reads,
    *    the documented boundary; their data would be reclaimed by
    *    retention like any superseded head).
    *  - a crash between the last table commit and the catalog publish
    *    is the same: old pair, retry re-runs the writes.
    *
    * Writes are `(name, frame, append)`; every name must be
    * registered. Returns name → minted version (the published pins).
    * Single-catalog-writer contract, like every catalog change. */
  def commitAtomic(
      spark: SparkSession,
      catalogRoot: String,
      writes: Seq[(String, DataFrame, Boolean)]): Map[String, Long] = {
    require(writes.nonEmpty, "commitAtomic: no writes given")
    require(writes.map(_._1).distinct.size == writes.size,
      "commitAtomic: one write per table per commit")
    val all = entries(spark, catalogRoot)
    writes.foreach { case (name, _, _) =>
      resolveEntry(all, name, catalogRoot)
    }
    val minted = writes.map { case (name, df, append) =>
      val e = all(name)
      val v =
        if (append) {
          // branch from the CATALOG-RESOLVED version (the pin when one
          // governs), not the physical head: after a torn atomic
          // commit the head may be a generation no catalog reader ever
          // saw, and appending onto it would double its rows on retry
          val parent = pinnedVersion(e)
            .orElse(Snapshots.latestVersion(spark, e.root))
          Snapshots.commitOntoParent(spark, df, e.root, parent)
        } else Snapshots.commit(spark, df, e.root, append = false)
      name -> v
    }.toMap
    publish(spark, catalogRoot, all ++ minted.map { case (n, v) =>
      n -> all(n).copy(props = all(n).props + (PinnedProp -> v.toString))
    })
    minted
  }

  /** ONE maintenance sweep over every registered table, all from
    * metadata: a recommendation frame with one row per table —
    * (name, versions, head_version, dv_fraction, compact_due,
    * vacuum_from, eq_fraction, fold_due) where `compact_due` applies
    * the table's own `dv_compact_at` property (default 0.1) to
    * [[Snapshots.dvStats]], `vacuum_from` is the keepFrom that
    * enforces the table's `retain_versions` property (null when
    * nothing to expire or no retention set), and `fold_due` applies
    * `eq_fold_at` (default 0.1) to [[Snapshots.eqStats]] on
    * merge-on-read heads — the gauge that keeps an unattended
    * CDC-upserted table's tombstone volume bounded (an eq-governed
    * head gauges its EQ pressure instead of the DV gauge, which its
    * lineage refuses by contract). The scheduler's poll surface:
    * WHICH tables need OPTIMIZE/VACUUM/FOLD next, decided without
    * opening one data file. */
  def maintenance(
      spark: SparkSession,
      catalogRoot: String): DataFrame = {
    val rows = entries(spark, catalogRoot).toSeq.sortBy(_._1)
      .map { case (name, e) =>
        // version numbers come off the manifest directory LISTING —
        // the whole fleet sweep reads zero manifest rows per healthy
        // table (dvStats reads only the head generation's)
        val versions = Snapshots.listGenerations(spark, e.root)
        val head = versions.lastOption
        val compactAt =
          e.props.get("dv_compact_at").map(_.toDouble).getOrElse(0.1)
        val foldAt =
          e.props.get("eq_fold_at").map(_.toDouble).getOrElse(0.1)
        // an eq-governed (merge-on-read) head refuses every DV-family
        // verb by contract — gauge ITS pressure instead: unattended,
        // readMorAsOf's broadcast anti-join grows with every CDC sync
        // until a fold, so the sweep is exactly where the gauge belongs
        val eqGoverned = head.exists(h =>
          Snapshots.eqGovernedAt(spark, e.root, h))
        // per-table error isolation: ONE table whose gauge refuses
        // (e.g. a legacy manifest lacking footer row counts makes
        // eqStats throw 'recommit the version') must not take down the
        // whole fleet's poll surface — it reports NaN (fold/compact
        // not due; the operator sees the odd fraction) and the sweep
        // continues over the other tables
        val eqFrac =
          if (!eqGoverned) 0.0
          else
            try Snapshots.eqStats(spark, e.root, foldAt)
              .select(col("eq_fraction")).collect().head.getDouble(0)
            catch { case _: IllegalArgumentException |
                         _: IllegalStateException => Double.NaN }
        val dvFrac = head.filter(_ => !eqGoverned).map { _ =>
          try Snapshots.dvStats(spark, e.root, compactAt)
            .select(col("dv_fraction")).collect().head.getDouble(0)
          catch { case _: IllegalArgumentException |
                       _: IllegalStateException => Double.NaN }
        }.getOrElse(0.0)
        val vacuumFrom = e.props.get("retain_versions").map(_.toInt)
          .filter(k => versions.length > k)
          .map(k => versions(versions.length - k))
        Row(name, versions.length.toLong,
          head.map(java.lang.Long.valueOf).orNull,
          dvFrac, dvFrac >= compactAt,
          vacuumFrom.map(java.lang.Long.valueOf).orNull,
          eqFrac, eqGoverned && eqFrac >= foldAt)
      }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("versions", LongType, nullable = false),
        StructField("head_version", LongType, nullable = true),
        StructField("dv_fraction", DoubleType, nullable = false),
        StructField("compact_due", BooleanType, nullable = false),
        StructField("vacuum_from", LongType, nullable = true),
        StructField("eq_fraction", DoubleType, nullable = false),
        StructField("fold_due", BooleanType, nullable = false))))
  }

  /** EXECUTE the [[maintenance]] recommendations: fold every
    * `fold_due` merge-on-read table ([[Snapshots.foldEqDeletes]] —
    * run FIRST, since an eq-governed head refuses the other verbs),
    * compact every `compact_due` table (clearing its deletion
    * pressure) then vacuum every table below its retention — the
    * closed auto-OPTIMIZE loop the growth trigger exists to feed. Compaction runs through
    * [[Snapshots.optimizePreserving]], so a blind fleet sweep never
    * degrades a table's layout contract: partitioned heads keep their
    * fragments, stats-governed heads keep range/box skipping,
    * bloom-governed heads keep their point index. ONE refusing table
    * must not strand the rest of the fleet: a layout-contract refusal
    * or a commit racing the maintenance verb (vacuum retries through
    * [[Snapshots.retryOnConflict]] first) records a `refused` row with
    * the reason and the sweep continues. Returns the actions taken as
    * (name, action, detail) rows — detail is the minted version for
    * optimize, the keepFrom for vacuum, the reason for refused — empty
    * when the fleet is healthy. */
  def maintain(
      spark: SparkSession,
      catalogRoot: String,
      targetBytes: Long = 128L << 20): DataFrame = {
    val plan = maintenance(spark, catalogRoot).collect()
    val all = entries(spark, catalogRoot)
    val did =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    plan.foreach { r =>
      val name = r.getString(0)
      val e = all(name)
      try {
        // fold FIRST: an eq-governed head refuses optimize/vacuum by
        // contract, and the fold's materialized copy-on-write face is
        // exactly what returns the table to the plain-verb surface
        // (the key columns come off the sidecar itself — the sweep
        // never needs to know the CDC pipeline's key choice)
        if (r.getBoolean(7)) {
          val v = Snapshots.foldEqDeletes(spark, e.root)
          did += ((name, "fold", v.toString))
        }
        if (r.getBoolean(4)) {
          val v = Snapshots.optimizePreserving(spark, e.root, targetBytes)
          did += ((name, "optimize", v.toString))
        }
        // retention re-derives from the POST-optimize version list — a
        // compaction bumped the head, and burned claims leave numeric
        // gaps, so the keepFrom is positional, never arithmetic
        e.props.get("retain_versions").map(_.toInt).foreach { k =>
          val versions = Snapshots.listGenerations(spark, e.root)
          if (versions.length > k) {
            // a pinned version is a catalog reader's LIVE face —
            // retention must never expire it out from under them
            val keepFrom = pinnedVersion(e)
              .fold(versions(versions.length - k))(
                _ min versions(versions.length - k))
            Snapshots.retryOnConflict() {
              Snapshots.vacuum(spark, e.root, keepFrom)
            }
            did += ((name, "vacuum", keepFrom.toString))
          }
        }
      } catch {
        case ex @ (_: IllegalArgumentException |
                   _: IllegalStateException |
                   _: ConcurrentCommitException) =>
          did += ((name, "refused", ex.getMessage))
      }
      // the table's BRANCHES are tables too — streaming ingest or DML
      // staged on a branch builds the same small-file/DV pressure, and
      // an unswept branch stays unhealthy until its fast-forward. Same
      // props, same per-target error isolation; branch vacuums are
      // parent-safe by Snapshots' own guard (fast-forwarded files
      // main references never die with the branch's generations).
      Snapshots.branches(spark, e.root).foreach { case (bName, _, _) =>
        val bRoot = Snapshots.branchPath(e.root, bName)
        val label = s"$name@$bName"
        try {
          val compactAt =
            e.props.get("dv_compact_at").map(_.toDouble).getOrElse(0.1)
          val due = Snapshots.dvStats(spark, bRoot, compactAt)
            .select(org.apache.spark.sql.functions.col("compaction_due"))
            .collect().head.getBoolean(0)
          if (due) {
            val v = Snapshots.optimizePreserving(spark, bRoot, targetBytes)
            did += ((label, "optimize", v.toString))
          }
          e.props.get("retain_versions").map(_.toInt).foreach { k =>
            val versions = Snapshots.listGenerations(spark, bRoot)
            if (versions.length > k) {
              val keepFrom = versions(versions.length - k)
              Snapshots.retryOnConflict() {
                Snapshots.vacuum(spark, bRoot, keepFrom)
              }
              did += ((label, "vacuum", keepFrom.toString))
            }
          }
        } catch {
          case ex @ (_: IllegalArgumentException |
                     _: IllegalStateException |
                     _: ConcurrentCommitException) =>
            did += ((label, "refused", ex.getMessage))
        }
      }
    }
    spark.createDataFrame(did.toSeq).toDF("name", "action", "detail")
  }
}
