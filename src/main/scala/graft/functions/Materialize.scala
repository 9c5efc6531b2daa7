package graft.functions

import org.apache.spark.sql.DataFrame

/** Lineage-truncating materialization for multi-consumer and iterative
  * frames (connected components' per-round labels, LSH signature/class
  * frames, banded candidate inputs).
  *
  * Default = `localCheckpoint()`: blocks land on executor-local storage —
  * cheap, no infrastructure, and right for bounded jobs, but an executor
  * loss severs the lineage and fails the job (which then simply re-runs).
  * A multi-hour 100-TB pipeline doesn't want that coin flip: set
  * `spark.graft.checkpoint.reliable=true` AND a checkpoint directory
  * (`SparkContext.setCheckpointDir`, typically on the cluster's durable
  * FS) and every call site swaps in `checkpoint()` — same plan shape and
  * same eager materialization semantics, blocks on reliable storage,
  * executor loss survivable. Asking for reliable mode without a
  * checkpoint dir fails loudly here rather than as Spark's opaque
  * mid-job error. The conf is read per call, so one session can mix
  * modes across jobs.
  */
object Materialize {
  /** Session conf key: "true" swaps localCheckpoint for reliable
    * checkpoint at every graft materialization site. */
  val ReliableConf = "spark.graft.checkpoint.reliable"

  def apply(df: DataFrame): DataFrame = {
    val reliable =
      df.sparkSession.conf.get(ReliableConf, "false").trim.toBoolean
    if (reliable) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires SparkContext.setCheckpointDir " +
          "(a durable location for the checkpoint blocks)")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Release the storage blocks behind a frame this object materialized,
    * once it is provably dead — an iterative loop's superseded round
    * frame, or a loop-local base after the final frame materialized.
    * Without this, every round's checkpoint blocks linger in the
    * BlockManager until the driver GCs the Dataset and the async
    * ContextCleaner catches up; across a many-query process the stale
    * blocks crowd the storage pool and every later query pays the
    * eviction + GC churn (guide §5: unpersist when done). Callers must
    * only pass frames whose blocks no LIVE frame still reads: a
    * localCheckpoint's lineage is REPLACED by its blocks, so any frame
    * derived from a still-held materialized frame is safe, but the
    * dropped frame itself must never be executed again. No-op for
    * reliable checkpoints (their files are managed by the checkpoint
    * cleaner, and unpersist of an unpersisted RDD does nothing).
    * Refuses any frame whose plan is not a single `LogicalRDD` leaf —
    * a [[Materialize]] result, possibly under projections: a join of
    * two materialized frames would otherwise release BOTH inputs'
    * blocks while they are still live. */
  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: org.apache.spark.sql.execution.LogicalRDD) =>
        l.rdd.unpersist(blocking = false)
      case leaves => throw new IllegalArgumentException(
        "Materialize.drop takes one materialized frame (a single " +
          "LogicalRDD leaf); got leaves " +
          leaves.map(_.nodeName).mkString(", "))
    }
}
