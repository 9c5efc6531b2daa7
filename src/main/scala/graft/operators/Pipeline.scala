package graft.operators

import java.io.IOException

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{monotonically_increasing_id, when}

import graft.model.{AlmaSchema, ColumnRegistry}
import graft.sources.{AlmaConnector, CsvStage}
// (the update stage routes on AlmaConnector.succeeded)

/** The reference's CLI lifecycle (BatchUpdate.py:114-136) as a composable
  * driver: stages chained in the fixed order format → split → update
  * regardless of how flags were given, each stage reading the previous
  * stage's CSV and writing a prefixed one (`f_`, `s_`, then `suc_`/`err_`
  * from the update stage). The update stage writes its annotated frame
  * once, partitioned by route, and renames the two route directories to
  * `suc_`/`err_` on the driver ([[writeRouted]]).
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
      val (ok, bad) = writeRouted(spark,
        AlmaConnector.update(CsvStage.read(spark, current), factory), current)
      (Some(ok), Some(bad))
    } else (None, None)

    Result(formatted, splitOut, suc, err)
  }

  /** The update stage's one write: the annotated frame, written once as CSV
    * split into one directory per route, whose two directories are then
    * renamed to `suc_<name>`/`err_<name>` on the driver. Returns the
    * (success, error) paths.
    *
    * The PUTs in [[AlmaConnector.update]] are not idempotent, so the rows
    * must flow through one write and never be recomputed for a second.
    * `sortWithinPartitions` consumes each task's whole partition — every
    * row's GET+PUT — before the writer sees a row, so they run exactly once
    * per task attempt. Sorting by (route, input position) rather than by
    * route alone keeps each file's rows in input order, and it is the
    * ordering the partitioned writer needs, so Spark adds no sort of its
    * own.
    *
    * The routed outputs are replaced only after the write has committed,
    * and only once both route directories are ready (a route with no rows
    * gets Spark's header-only file for an empty frame, one more job). The
    * old `suc_`/`err_` are moved aside before the new ones are renamed in,
    * and moved back if a rename fails: a failed write or a failed rename
    * leaves the previous run's outputs as they were, and the temporary
    * directory is always removed. */
  private def writeRouted(
      spark: SparkSession,
      annotated: DataFrame,
      current: String): (String, String) = {
    val route = "__route"
    val position = "__position"
    val tmp = new Path(CsvStage.stagedPath(current, "upd_") + ".staging")
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new IOException(s"could not rename $from to $to")
    val routed = annotated
      .withColumn(route, when(AlmaConnector.succeeded, "suc_").otherwise("err_"))
      .drop("__status")
      .withColumn(position, monotonically_increasing_id())
      .sortWithinPartitions(route, position)
      .drop(position)
    try {
      routed.write.mode("overwrite").partitionBy(route)
        .option("header", "true").csv(tmp.toString)
      // (route directory, target, where the old target waits)
      val routes = Seq("suc_", "err_").map { prefix =>
        (new Path(tmp, s"$route=$prefix"),
          new Path(CsvStage.stagedPath(current, prefix)), new Path(tmp, s"old=$prefix"))
      }
      routes.foreach { case (dir, _, _) =>
        if (fs.exists(dir))
          // the marker Spark's own write leaves in an output directory
          fs.create(new Path(dir, "_SUCCESS")).close()
        else
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], routed.drop(route).schema)
            .write.option("header", "true").csv(dir.toString)
      }
      var published = Set.empty[Path]
      try routes.foreach { case (dir, target, old) =>
        if (fs.exists(target)) rename(target, old)
        rename(dir, target)
        published += target
      } catch {
        case NonFatal(e) =>
          routes.foreach { case (_, target, old) =>
            if (published(target)) fs.delete(target, true)
            if (fs.exists(old)) rename(old, target)
          }
          throw e
      }
      (routes(0)._2.toString, routes(1)._2.toString)
    } finally fs.delete(tmp, true)
  }
}
