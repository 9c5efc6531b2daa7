package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every harness shares (Bench, Verify,
  * ProfileQuery, PlanDump, Main and the test suite), so their settings
  * cannot drift apart.
  *
  * A setting the launcher already gave as a `spark.*` system property wins
  * over the default here: spark-submit's `--master` and `--conf` values
  * arrive that way, so `graft.Main` under spark-submit keeps the cluster's
  * master, while a plain JVM gets `local[cpus]`. */
object GraftSession {

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, else every
    * processor the JVM sees. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Settings applied to every session; shuffle partitions follow `cpus`. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // Right-size AQE coalescing for small inputs: the 64m default advisory
    // collapses a ~3MB shuffle to one partition, serializing every
    // post-shuffle stage. At production scale partitions are far above
    // the advisory and these settings are inert.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "128k",
    "spark.ui.enabled" -> "false")

  /** Get or create the session with [[GraftExtensions]] injected and
    * [[settings]] applied, its log level at WARN. */
  def apply(cpus: Int = defaultCpus): SparkSession = {
    val builder = settings(cpus)
      .filterNot { case (k, _) => sys.props.contains(k) }
      .foldLeft(SparkSession.builder().appName("graft")
        .withExtensions(new GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
