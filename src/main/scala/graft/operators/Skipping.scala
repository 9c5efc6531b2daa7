package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping via an explicit min/max manifest — the
  * planning-time half of the lakehouse scan path (Delta/Iceberg file
  * statistics), expressed as plain Spark over plain parquet.
  *
  * Parquet row-group statistics already let Spark's reader skip data at
  * READ time, but only after the driver has listed the table and every
  * task has opened its files' footers. At 100 TB / millions of files
  * that listing-and-footer pass IS the latency floor for selective
  * queries. A manifest inverts it: one small table (a row per data
  * file, min/max per tracked column) answers "which files can contain
  * key ∈ [lo, hi]" BEFORE any data file is touched, and the scan is
  * planned over exactly that file list. Pruning power comes from the
  * physical layout: a range-clustered (or Z-ordered, [[Layout]]) write
  * gives each file a tight key interval, so the manifest's intervals
  * are near-disjoint and a selective predicate selects few files.
  *
  * The driver-side file-list collect is O(matching files) on a frame
  * that is O(total files) — the same order as Delta's log replay, and
  * the whole point: it replaces an O(files) remote listing + O(files)
  * footer reads with one local predicate over an already-compacted
  * table. The manifest build here is a one-pass aggregation over the
  * data (portable, engine-checkable); a production writer would fold
  * the same rows out of its commit statistics for free.
  *
  * This object is the ONE owner of the index row format — the stats
  * row builder ([[statsRows]]), the bloom row builder ([[bloomRows]]),
  * the key reader of each ([[statsKeys]], [[bloomKeys]]) and interval
  * admission ([[admits]]). The standalone manifests here and the
  * versioned `_stats`/`_bloom` sidecars [[Snapshots]] keeps per
  * generation (its `IndexFamilies`) are the same rows.
  */
object Skipping {

  /** Range-cluster `df` on `keyCol` into `numFiles` files at `path`:
    * one range exchange so each output file covers a compact, sorted
    * key interval — the layout that makes min/max manifests selective.
    * (For two-key pruning, Z-order via [[Layout.clusterByZOrder]] and
    * track both keys in the manifest.) */
  def writeClustered(
      df: DataFrame,
      keyCol: String,
      numFiles: Int,
      path: String): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(col(keyCol))
      .write.mode("overwrite").parquet(path)
  }

  /** The STATS row format: one row per data file of `files` (data
    * files or directories) — (file, n_rows, min_<k>/max_<k> for each
    * key). One grouped aggregation keyed on `input_file_name()`;
    * map-side partial aggregation reduces each file's task to a single
    * row before the (tiny) shuffle. */
  private[graft] def statsRows(
      spark: SparkSession,
      files: Seq[String],
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "track at least one column")
    val aggs = count(lit(1)).as("n_rows") +: keys.flatMap(k =>
      Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k")))
    readFresh(spark, files)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The BLOOM row format: one row per data file of `files` — (file,
    * n_rows, bf, key). `bf` is a `BloomFilterAggregate` over
    * `xxhash64(key)`, one grouped data pass, map-side combined; `key`
    * records the indexed column so a reader never has to be told it
    * ([[bloomKeys]]). */
  private[graft] def bloomRows(
      spark: SparkSession,
      files: Seq[String],
      keyCol: String,
      sizing: BloomSizing): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = GraftSqlShim.column(
      new BloomFilterAggregate(
        GraftSqlShim.expression(xxhash64(col(keyCol))),
        Literal(sizing.expectedPerFile), Literal(sizing.bits))
        .toAggregateExpression())
    readFresh(spark, files)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), agg.as("bf"))
      .withColumn("key", lit(keyCol))
  }

  /** The files a row builder aggregates over, read with the first
    * one's footer schema ([[graft.Tables.footerSchema]], no inference
    * job): the files of one commit come from one write, so they share
    * it. An empty list reads as Spark reads it. */
  private def readFresh(spark: SparkSession, files: Seq[String]): DataFrame =
    (if (files.isEmpty) spark.read
    else spark.read.schema(graft.Tables.footerSchema(spark, files.head)))
      .parquet(files: _*)

  /** A bloom's sizing: bits by the standard `n·ln(1/fpp)/ln²2` from
    * `expectedPerFile` (size for the real per-file row count — an
    * undersized bloom only costs false positives, never misses). */
  private[graft] final case class BloomSizing(
      expectedPerFile: Long,
      fpp: Double) {
    require(expectedPerFile > 0, "expectedPerFile must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    def bits: Long = math.max(64L, math.ceil(
      expectedPerFile * math.log(1 / fpp) /
        (math.log(2) * math.log(2))).toLong)
  }

  /** The sizing of every bloom built without an explicit one. */
  private[graft] val DefaultSizing = BloomSizing(100000L, 0.01)

  /** The keys a stats manifest dir carries intervals for: every
    * `min_<k>` column with a matching `max_<k>`, off the dir's footer
    * ([[graft.Tables.footerSchema]], no Spark job). Memoized per
    * published dir ([[Snapshots.memoizedMeta]]). */
  private[graft] def statsKeys(
      spark: SparkSession,
      dir: String): Seq[String] =
    memoized(spark, dir, "statskeys") {
      val cs = graft.Tables.footerSchema(spark, dir).fieldNames
      cs.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
        .filter(k => cs.contains(s"max_$k")).toSeq
    }

  /** The key columns a bloom manifest dir records, sorted — empty for a
    * legacy manifest without the `key` column (read as null). Read on
    * the driver ([[Snapshots.readMetaParquet]]). A probe is sound only
    * when this is exactly the probed column. Memoized per published dir,
    * keyed by its status: a dir recreated at the same path re-reads. */
  private[graft] def bloomKeys(
      spark: SparkSession,
      dir: String): Seq[String] =
    memoized(spark, dir, "bloomkeys") {
      Snapshots.readMetaParquet(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(dir), Seq("key"))
        .flatMap(r => Option(r.getString(0))).distinct.sorted.toSeq
    }

  private def memoized[T <: AnyRef](
      spark: SparkSession,
      dir: String,
      tag: String)(compute: => T): T = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.memoizedMeta(f, p, tag)(compute)
  }

  /** Interval admission on a stats row: can a file whose
    * [min_<key>, max_<key>] interval is read off the row hold a value in
    * [lo, hi]? `lo`/`hi` are values or columns. An all-null file (null
    * bounds) never admits — a null comparison is never TRUE. */
  private[graft] def admits(key: String, lo: Any, hi: Any): Column =
    col(s"max_$key") >= lit(lo) && col(s"min_$key") <= lit(hi)

  /** The manifest frame for the table at `tablePath` ([[statsRows]]
    * over the table directory). */
  def buildManifest(
      spark: SparkSession,
      tablePath: String,
      statsCols: Seq[String]): DataFrame =
    statsRows(spark, Seq(tablePath), statsCols)

  /** Build and persist the manifest beside the table (parquet at
    * `manifestPath`). Separate from the data so a scan planner can read
    * it without listing the data directory. */
  def writeManifest(
      spark: SparkSession,
      tablePath: String,
      statsCols: Seq[String],
      manifestPath: String): Unit =
    buildManifest(spark, tablePath, statsCols)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)

  /** The file list whose [min, max] interval on `keyCol` intersects
    * [lo, hi] — a driver-side collect over the manifest (O(files),
    * see object scaladoc). */
  def pruneFiles(
      manifest: DataFrame,
      keyCol: String,
      lo: Any,
      hi: Any): Seq[String] =
    manifest.filter(admits(keyCol, lo, hi))
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Per-file BLOOM membership manifest — the min/max statistics'
    * complement for HIGH-CARDINALITY POINT lookups on an UNCLUSTERED
    * column (Delta's bloom filter index): when every file's key
    * interval spans the whole domain (any layout not range-clustered
    * on this column), min/max pruning admits every file, but a
    * per-file bloom answers "can file F contain key = v"
    * probabilistically with NO false negatives — admitted ⊇ true
    * files, the exact row filter clears the false positives. The rows
    * are [[bloomRows]] over the table directory. */
  def writeBloomManifest(
      spark: SparkSession,
      tablePath: String,
      keyCol: String,
      manifestPath: String,
      expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit =
    bloomRows(spark, Seq(tablePath), keyCol,
      BloomSizing(expectedPerFile, fpp))
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)

  /** Bloom-pruned POINT scan: the manifest admits only the files whose
    * bloom might contain `value` ([[pruneFilesPoint]]). No false
    * negatives by construction; the exact predicate clears false
    * positives. */
  def scanPoint(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      keyCol: String,
      value: Any): DataFrame =
    faceOver(spark, tablePath, pruneFilesPoint(spark, manifestPath, value))
      .filter(col(keyCol) === lit(value))

  /** The files a [[writeBloomManifest]] manifest admits for
    * `key = value`: Spark's own `xxhash64(value)` (computed by the
    * engine so seeds/encodings can never drift from the aggregate's
    * inserts) probed by [[bloomAdmitted]]. */
  def pruneFilesPoint(
      spark: SparkSession,
      manifestPath: String,
      value: Any): Seq[String] =
    bloomAdmitted(spark, manifestPath, hashesOf(spark, Seq(value)))

  /** `xxhash64` of each of `values`, computed by the engine in one job. */
  private[graft] def hashesOf(
      spark: SparkSession,
      values: Seq[Any]): Seq[Long] = {
    val r = spark.range(1).select(values.map(v => xxhash64(lit(v))): _*)
      .head()
    values.indices.map(r.getLong)
  }

  /** The files of the bloom manifest at `dir` whose sketch might
    * contain any of `hashes`. The probe runs ON EXECUTORS (a
    * deserialize-and-test UDF — the one shape `might_contain` as an
    * expression refuses, since a per-file bloom column is not foldable)
    * so the driver collects only the admitted file NAMES: per-file
    * blooms are ~100 KB each, and a million-file manifest must never
    * ship its sketch bytes to the driver. */
  private[graft] def bloomAdmitted(
      spark: SparkSession,
      dir: String,
      hashes: Seq[Long]): Seq[String] = {
    val admits = udf { (bf: Array[Byte]) =>
      val sk = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bf))
      hashes.exists(sk.mightContainLong)
    }
    readIndex(spark, dir).filter(admits(col("bf")))
      .select(col("file")).collect().map(_.getString(0)).toIndexedSeq
  }

  /** The rows of a stats/bloom manifest or sidecar dir, read with its
    * footer schema ([[graft.Tables.footerSchema]]): no inference job. */
  private[graft] def readIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.Tables.footerSchema(spark, dir)).parquet(dir)

  /** Manifest-pruned range scan: plan the parquet read over ONLY the
    * files whose stats admit `keyCol` ∈ [lo, hi], then apply the exact
    * row filter (file stats are necessary, not sufficient). */
  def scanRange(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      keyCol: String,
      lo: Any,
      hi: Any): DataFrame =
    faceOver(spark, tablePath,
      pruneFiles(readIndex(spark, manifestPath), keyCol, lo, hi))
      .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))

  /** The table at `tablePath` read over exactly `files`. Zero files is
    * an answer — an empty frame with the table's schema: a selective
    * miss is not an error. */
  private def faceOver(
      spark: SparkSession,
      tablePath: String,
      files: Seq[String]): DataFrame = {
    val schema = graft.Tables.footerSchema(spark, tablePath)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(files: _*)
  }
}
