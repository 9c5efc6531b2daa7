package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

import graft.operators.Snapshots

/** Test-table loader: one parquet per table under the scale-factor dir
  * (TESTDATA.md). A plain parquet scan so Catalyst gets pushdown,
  * pruning, and partition-size planning from the source stats, handed
  * the schema read from the file's footer on the driver
  * ([[footerSchema]]) so no table read runs a schema-inference job.
  *
  * The `events` table carries TIMESTAMP(NANOS) parquet, which Spark has no
  * native type for — sessions must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Tables.configure]]),
  * and the loader converts the raw nanos to a microsecond timestamp with
  * INTEGER division (`div`, not `/`: ns values ≈ 1.7e18 overflow a double's
  * 53-bit mantissa, and truncation-toward-zero matches how other engines
  * read the same file at µs precision). */
object Tables {
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$sfDir/$name.parquet"
    normalize(spark.read.schema(footerSchema(spark, path)).parquet(path),
      isEvents = name == "events")
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from the footer of `path` (a file, or a directory's first data
    * file by name, `_`/`.` entries skipped — the file Spark's own
    * inference picks without schema merging), with no Spark job.
    * Converted by Spark's own footer reader under the session's
    * parquet settings, so `nanosAsLong` and NTZ inference match: call
    * it after [[configure]]. Every field nullable, as a file source
    * reads it. Memoized per file status ([[Snapshots.memoizedMeta]]),
    * keyed also by those settings. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val f = p.getFileSystem(conf)
    val file =
      if (f.getFileStatus(p).isFile) p
      else f.listStatus(p).map(_.getPath)
        .filterNot(q => q.getName.startsWith("_") || q.getName.startsWith("."))
        .sortBy(_.getName).headOption.getOrElse(
          throw new IllegalArgumentException(
            s"footerSchema: $path holds no data file"))
    val sql = spark.sessionState.conf
    val settings = Seq(sql.isParquetBinaryAsString,
      sql.isParquetINT96AsTimestamp, sql.legacyParquetNanosAsLong,
      sql.parquetInferTimestampNTZEnabled).mkString(",")
    Snapshots.memoizedMeta(f, file, s"footer[$settings]") {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      org.apache.spark.sql.GraftSqlShim.nullable(
        ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
          new ParquetToSparkSchemaConverter(sql)))
    }
  }

  /** Streaming twin of the batch loader for the `events` table: the SAME
    * Long/NTZ `ts` dispatch applied to a file-source stream, so a testdata
    * regeneration that switches the parquet timestamp annotation can never
    * break the batch and streaming readers differently (r12 regression:
    * the NTZ fix landed in the batch path only and three `ev_stream_*`
    * queries kept the stale nanos division). The file source accepts only
    * directories or globs; wrapping the final character in a
    * one-character class makes the single-file path its own glob. */
  def streamEvents(spark: SparkSession, sfDir: String): DataFrame = {
    configure(spark)
    val path = s"$sfDir/events.parquet"
    normalize(spark.readStream.schema(footerSchema(spark, path))
        .parquet(streamGlob(path)),
      isEvents = true)
  }

  /** The streaming file source accepts only directories or globs, not a
    * single file path. Wrapping the final character in a one-character
    * class ("…parquet" → "…parque[t]") makes the path its own glob —
    * matching exactly the original file, nothing wider — so a
    * single-file fixture can feed `readStream` without a staging copy.
    * ONE shared definition: a staging-scheme change must not be able to
    * fix one reader family and leave another stale (the r12 NTZ
    * failure mode). */
  def streamGlob(path: String): String =
    path.init + "[" + path.last + "]"

  /** Shared batch/stream timestamp normalization (see object scaladoc).
    * Keyed on the events table: only ITS `ts` is TIMESTAMP(NANOS)-read-
    * as-long; a future table with a legitimate epoch-long ts must not be
    * silently divided by 1000.
    *
    * Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference — and instant
    * functions (`unix_micros`, `window`, watermarks) reject NTZ
    * outright, so a regenerated testdata file silently switching
    * annotation took out every temporal query. Sessions here run with
    * `spark.sql.session.timeZone=UTC`, so casting NTZ → TIMESTAMP
    * reinterprets the wall clock as UTC — the exact instant other
    * engines (and the DuckDB oracle's epoch_us) assign the same file. */
  private def normalize(df: DataFrame, isEvents: Boolean): DataFrame = {
    val nanosFixed =
      df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
        case Some(_) if isEvents =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => df
      }
    nanosFixed.schema.fields.foldLeft(nanosFixed) { (d, f) =>
      f.dataType match {
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }
}
