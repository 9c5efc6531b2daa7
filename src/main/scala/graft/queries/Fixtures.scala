package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture code the query builds share: table reads, exact cents, the
  * per-process artifact root, SQL catalog registration, the bounded
  * streaming sentinel, and the synthetic columns that have a DuckDB twin
  * (each Spark expression sits next to its SQL restatement). */
private[queries] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Spread a CPU-bound narrow pipeline across all cores. The local test
    * parquet is one row group = one scan split, so regex/hash-heavy
    * projections would otherwise run in a single task; a round-robin
    * repartition costs one shuffle of the (small) input and unlocks full
    * parallelism. Same pattern applies on clusters whenever input splits
    * are fewer than cores (few large gzip/parquet files) and downstream
    * compute dominates scan cost. Gated on the *file* count, not
    * `rdd.getNumPartitions`: byte-range splitting of a single-row-group
    * parquet file yields many splits where only one carries rows, so the
    * split count over-reports real parallelism exactly in the case this
    * helper exists for (and `df.rdd` forces eager physical planning at
    * query-construction time). Few input files ⇒ few row-group-bearing
    * splits ⇒ repartition; at production scale — thousands of files, splits
    * far exceeding cores — the helper is a no-op instead of a full-input
    * shuffle baked into the query. Not used on queries that demonstrate
    * scan pushdown — a repartition would sit above the scan filters. */
  def par(s: SparkSession)(df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target) else df
  }

  /** Exact integer cents: round(x*100) as long. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** The events table as most snapshot and SQL queries commit it: ids,
    * type and the value as exact integer cents. */
  def eventsCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), cents(col("value")).as("value_cents"))

  /** Per-PROCESS scratch root for the persisted-artifact queries
    * (codebook/IVF-store round-trips). Within one Verify/Bench process
    * the per-query subpaths never collide, but a fixed CWD-relative
    * `target/...` raced when two harness processes overlapped (bench at
    * sf0.1 while verify ran sf0.01) — each could read the other's
    * half-overwritten store. A temp dir per process ends that. */
  lazy val artifactRoot: String =
    java.nio.file.Files.createTempDirectory("graft_artifacts_").toString

  /** Unique SQL catalog names per invocation — Spark caches catalog
    * instances by name once resolved, so a bench pass re-running a
    * query with a fresh root must also mint a fresh name. */
  val sqlCatN = new java.util.concurrent.atomic.AtomicInteger()

  /** Registers a [[graft.sources.v2.GraftCatalog]] over `root` under a
    * fresh name `<prefix><n>` and returns that name. */
  def sqlCatalog(s: SparkSession, prefix: String, root: String): String = {
    val cat = s"$prefix${sqlCatN.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** Single-file stream-source glob — see [[Tables.streamGlob]] (one
    * shared definition on purpose). */
  def streamGlob(path: String): String = Tables.streamGlob(path)

  /** 2100-01-01 UTC: the far-future flush timestamp sentinel rows carry
    * so a bounded streaming replay's watermark closes every real row's
    * window/timeout. */
  val sentinelUs = 4102444800000000L

  /** Stage a bounded streaming input (real rows + far-future sentinels)
    * and return its schema. The max REAL event time (rows with
    * `guardCol >= 0`) rides the staging write itself via `observe()` —
    * no extra job — and the require fails LOUDLY if fixture timestamps
    * ever grow within `horizonUs` of the sentinel, where the query would
    * instead return silently-empty output because the watermark never
    * clears the real rows' windows. Shared by every sentinel-flushed
    * streaming query (sessionize, both as-of joins, the outer range
    * join). */
  def stageWithSentinel(
      s: SparkSession,
      rows: DataFrame,
      staging: String,
      guardCol: String,
      horizonUs: Long): org.apache.spark.sql.types.StructType = {
    val obs = org.apache.spark.sql.Observation()
    rows
      .observe(obs, max(when(col(guardCol) >= 0,
        unix_micros(col("ts")))).as("max_us"))
      .write.mode("overwrite").parquet(staging)
    val maxUs = obs.get("max_us").asInstanceOf[Long]
    require(maxUs < sentinelUs - horizonUs,
      s"fixture max event ts ($maxUs us) reaches the sentinel's " +
        s"flush horizon ($horizonUs us) — watermark-driven emission " +
        s"would silently never fire; move the sentinel out")
    s.read.parquet(staging).schema
  }

  /** The messy synthetic URL each doc carries in the URL-dedup queries
    * (four spellings per resource: default port + uppercase host,
    * tracking params, fragments, an https:443 sibling) — the same
    * closed-form construction in Spark and SQL so the oracle replays
    * it arithmetically. */
  def messyUrl: Column = {
    val k = pmod(col("doc_id"), lit(7)).cast("string")
    val m = pmod(col("doc_id"), lit(3)).cast("string")
    val v = pmod(col("doc_id"), lit(4))
    concat(
      when(v === 3, lit("HTTPS://Site")).otherwise(lit("HTTP://Site")),
      k, lit(".Example.COM"),
      when(v === 3, lit(":443")).otherwise(lit(":80")),
      lit("/p"), m, lit("/"),
      when(v === 1, lit("?utm_source=x&fbclid=y"))
        .when(v === 2, lit("?a=1&utm_campaign=z#frag"))
        .when(v === 3, lit("#sec"))
        .otherwise(lit("")))
  }
  val duckMessyUrl =
    """CASE WHEN doc_id % 4 = 3 THEN 'HTTPS://Site' ELSE 'HTTP://Site' END
      | || (doc_id % 7) || '.Example.COM'
      | || CASE WHEN doc_id % 4 = 3 THEN ':443' ELSE ':80' END
      | || '/p' || (doc_id % 3) || '/'
      | || CASE doc_id % 4 WHEN 1 THEN '?utm_source=x&fbclid=y'
      |    WHEN 2 THEN '?a=1&utm_campaign=z#frag'
      |    WHEN 3 THEN '#sec' ELSE '' END""".stripMargin.replace("\n", "")

  /** The W1 natural-sort description synthesized from lineitem keys — the
    * same expression in Spark and SQL. */
  def synthDesc: Column =
    when(col("l_linenumber") % 7 === 0, lit("bound volume index"))
      .when(col("l_linenumber") % 3 === 0,
        concat(lit("ser."), (col("l_orderkey") % 5).cast("string"),
          lit(" v."), (col("l_partkey") % 40).cast("string"),
          lit(" no."), col("l_linenumber").cast("string")))
      .otherwise(
        concat(lit("v."), (col("l_partkey") % 40).cast("string"),
          lit(" no."), col("l_linenumber").cast("string")))
  val duckSynthDesc =
    """CASE WHEN l_linenumber % 7 = 0 THEN 'bound volume index'
      | WHEN l_linenumber % 3 = 0 THEN 'ser.' || CAST(l_orderkey % 5 AS VARCHAR) || ' v.' || CAST(l_partkey % 40 AS VARCHAR) || ' no.' || CAST(l_linenumber AS VARCHAR)
      | ELSE 'v.' || CAST(l_partkey % 40 AS VARCHAR) || ' no.' || CAST(l_linenumber AS VARCHAR) END""".stripMargin.replace("\n", "")
}
