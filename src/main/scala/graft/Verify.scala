package graft
import java.nio.file.{Files, Paths}

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.compact

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the driver passes two; extra
    // names restrict the dump to those queries (dev iteration only)
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0); val outDir = args(1)
    // unknown names fail here: a typo would leave stale outputs and
    // report a stale PASS
    val names = SparkEntry.select(args.drop(2))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Run queries CONCURRENTLY on a small thread pool. At sf0.01 each
    // query is dominated by per-job scheduling overhead, not compute, so
    // a serial sweep of 130+ queries wastes most of local[32]; round 11's
    // correctness run was cut off by the driver's wall-clock budget with
    // 21 queries still unwritten — silently shrinking the gate. Spark's
    // scheduler is thread-safe (concurrent actions from one session is
    // the documented multi-job pattern); outputs go to distinct dirs, so
    // the only shared state is the session itself. Each query runs in
    // its own `newSession()` (shared SparkContext, isolated SQLConf +
    // catalog): `Sessionize.runToMemory` pins shuffle partitions via a
    // set/restore around `start()`, which would corrupt a SHARED session
    // under interleaving, and memory-sink tables register per-catalog.
    // Names are sorted so the submission order is deterministic;
    // per-query failures are isolated and reported, never fatal.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = names.map { name =>
      scala.concurrent.Future {
        // the WHOLE body sits in the try: a failure anywhere (including
        // the stale-output delete — listFiles() can return null) must
        // print a [verify] line, not fail the Future silently (Await
        // .ready discards failures, so the query would surface as
        // MISSING with no stderr explaining why)
        try {
          // delete any stale output first: a failing query must surface
          // as MISSING to the compare, not as the previous run's rows
          val target = new java.io.File(s"$outDir/$name")
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(); ()
          }
          if (target.exists()) rm(target)
          SparkEntry.queries(name)(spark.newSession(), sfDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    futures.foreach(f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      compact(SparkEntry.oracleSql))
    spark.stop()
  }
}
