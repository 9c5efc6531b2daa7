package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.model.{AlmaSchema, ColumnRegistry}
import graft.sources.{AlmaConnector, CsvStage}
// (routing for the update stage comes from AlmaConnector.routeUpdateResult)

/** The reference's CLI lifecycle (BatchUpdate.py:114-136) as a composable
  * driver: stages chained in the fixed order format → split → update
  * regardless of how flags were given, each stage reading the previous
  * stage's CSV and writing a prefixed one (`f_`, `s_`, then `suc_`/`err_`
  * from the routed update sinks).
  *
  * The reference's interactive guards — the Y/N confirm before update
  * (:127-132) and the per-column value prompts (:227, :254) — become
  * configuration: a distributed engine cannot block executors on stdin, so
  * defaults are supplied via the registry and the update stage runs only
  * when explicitly requested.
  */
object Pipeline {

  final case class StageFlags(
      format: Boolean = false,
      split: Boolean = false,
      update: Boolean = false)

  final case class Result(
      formatted: Option[String],
      split: Option[String],
      success: Option[String],
      error: Option[String])

  /** Run the selected stages over `path`, returning the written file paths
    * (the same chaining contract as the reference `main`). The `store`
    * supplies the update stage's transport; tests pass a stub. */
  def run(
      spark: SparkSession,
      path: String,
      flags: StageFlags,
      registry: ColumnRegistry = AlmaSchema.default,
      store: Option[() => AlmaConnector.ItemStore] = None): Result = {

    var current = path
    val formatted = if (flags.format) {
      val out = CsvStage.writeStage(
        FormatStage(registry)(CsvStage.read(spark, current)), current, "f_")
      current = out
      Some(out)
    } else None

    val splitOut = if (flags.split) {
      val out = CsvStage.writeStage(
        SplitStage(CsvStage.read(spark, current), registry), current, "s_")
      current = out
      Some(out)
    } else None

    val (suc, err) = if (flags.update) {
      val factory = store.getOrElse(
        throw new IllegalArgumentException(
          "update stage needs an ItemStore factory (no interactive confirm in a cluster)"))
      // Materialize the annotated result to disk BEFORE routing: the PUTs
      // in AlmaConnector.update are not idempotent, and cache() alone is
      // best-effort — an evicted partition (or task retry during the
      // second routed write) would re-execute the HTTP calls. One parquet
      // write gives the two filtered sinks a stable, re-readable input,
      // read back with the schema just written (no footer-merge job).
      val staging = CsvStage.stagedPath(current, "upd_") + ".staging"
      val updated = AlmaConnector.update(CsvStage.read(spark, current), factory)
      updated.write.mode("overwrite").parquet(staging)
      val annotated = spark.read.schema(updated.schema).parquet(staging)
      val (ok, bad) = AlmaConnector.routeUpdateResult(annotated)
      val routed = (Some(CsvStage.writeStage(ok, current, "suc_")),
        Some(CsvStage.writeStage(bad, current, "err_")))
      // only once both routed sinks have committed: the reference leaves
      // nothing but suc_/err_ beside the user's files
      val stagingPath = new Path(staging)
      stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(stagingPath, true)
      routed
    } else (None, None)

    Result(formatted, splitOut, suc, err)
  }
}
