package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.compact

import graft.{GraftExtensions, SparkEntry}
import graft.operators.Pipeline

/** One benchmark run of one workload, as a closed loop with one client:
  * a check pass that writes every op's output for run.py to verify, then
  * untimed warm-up passes, then measured passes until the time is up,
  * each running every op once in a seeded order. It writes a raw JSON
  * record that run.py turns into metrics.
  *
  * Arguments are key=value pairs: kind (query | pipeline), ops (comma
  * list of query names or item-file names), data (table directory or
  * item-file directory), check (output directory of the check pass),
  * cpus, seed, seconds, warmup (passes), trace (0 | 1) and out (record
  * path).
  *
  * With trace=1 the passes alternate untraced and traced, so the record
  * holds both sides of the tracing overhead. */
object Main {
  /** graft.Bench's session, copied setting for setting. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private final class OpRun(val name: String, val pass: Int, val traced: Boolean) {
    val startUs: Long = nowUs()
    var endUs = 0L
    var ok = true
    var error = ""
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var counts = Map.empty[String, Long]
    var outputs = Map.empty[String, String]

    def phase[T](phaseName: String)(body: => T): T = {
      val t0 = nowUs()
      try body finally phases += ((phaseName, t0, nowUs()))
    }

    def json: JValue =
      ("name" -> name) ~ ("pass" -> pass) ~ ("traced" -> traced) ~
        ("start_us" -> startUs) ~ ("end_us" -> endUs) ~ ("ok" -> ok) ~
        ("error" -> error) ~
        ("phases" -> phases.toList.map { case (n, a, b) =>
          ("name" -> n) ~ ("start_us" -> a) ~ ("end_us" -> b)
        }) ~
        ("counts" -> counts) ~ ("outputs" -> outputs)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"argument '$s' is not key=value")
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val kind = a("kind")
    require(kind == "query" || kind == "pipeline", s"unknown kind '$kind'")
    val ops = a("ops").split(",").toSeq.filter(_.nonEmpty)
    val data = a("data")
    val checkDir = a("check")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val warmup = a("warmup").toInt
    val trace = a("trace") == "1"

    val spark = session(a("cpus").toInt)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Trace
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    def runOp(name: String, pass: Int, traced: Boolean, check: Boolean): OpRun = {
      val r = new OpRun(name, pass, traced)
      val before = StubStore.counts() ++ (if (traced) Trace.fsCounts() else Map.empty)
      if (traced) sc.setLocalProperty(Trace.OpProperty, s"$pass/$name")
      try {
        if (kind == "query") {
          val df = r.phase("build")(SparkEntry.queries(name)(spark, data))
          r.phase("exec") {
            if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
        } else {
          // one call per stage flag: each stage reads the previous stage's
          // file, exactly as the chained call does, and gets its own span
          val formatted = r.phase("format") {
            Pipeline.run(spark, s"$data/$name", Pipeline.StageFlags(format = true)).formatted.get
          }
          val split = r.phase("split") {
            Pipeline.run(spark, formatted, Pipeline.StageFlags(split = true)).split.get
          }
          val res = r.phase("update") {
            Pipeline.run(spark, split, Pipeline.StageFlags(update = true),
              store = Some(StubStore.factory))
          }
          r.outputs = Map("success" -> res.success.get, "error" -> res.error.get)
        }
      } catch {
        case NonFatal(e) =>
          r.ok = false
          r.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      } finally {
        if (traced) sc.setLocalProperty(Trace.OpProperty, null)
      }
      r.endUs = nowUs()
      val after = StubStore.counts() ++ (if (traced) Trace.fsCounts() else Map.empty)
      r.counts = after.map { case (k, v) => k -> (v - before(k)) }
      r
    }

    // Check pass, outside the timed window; it also warms the JIT, the
    // code generator and the file caches before anything is timed.
    val checkT0 = System.nanoTime()
    val checked = ops.sorted.map(runOp(_, -1, traced = false, check = true))
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val oracle = if (kind == "query") {
      val all = SparkEntry.oracleSql
      ops.flatMap(n => all.get(n).map(n -> _)).toMap
    } else Map.empty[String, String]

    // Warm-up passes, untimed and in the seeded order of the measured ones.
    val warmupT0 = System.nanoTime()
    for (w <- 1 to warmup)
      new Random(seed * 1000003L - w).shuffle(ops).foreach(runOp(_, -1 - w, traced = false, check = false))
    val warmupS = (System.nanoTime() - warmupT0) / 1e9

    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Long, Long)]
    val minPasses = if (trace) 2 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < minPasses || System.nanoTime() < deadline) {
      // the seed picks which side goes first, so warm-up drift cancels
      // over seeds instead of always favouring the traced side
      val traced = trace && Math.floorMod(p + seed, 2L) == 1
      val order = new Random(seed * 1000003L + p).shuffle(ops)
      val t0 = nowUs()
      order.foreach(n => runs += runOp(n, p, traced, check = false))
      passes += ((p, traced, t0, nowUs()))
      p += 1
    }
    if (trace) tracer.drain()

    System.gc()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val record =
      ("cpus" -> a("cpus").toInt) ~ ("session_s" -> sessionS) ~
        ("check_s" -> checkS) ~ ("warmup_s" -> warmupS) ~
        ("retained_heap_mb" -> heapMb) ~
        ("checks" -> checked.toList.map(_.json)) ~ ("oracle" -> oracle) ~
        ("passes" -> passes.toList.map { case (i, tr, s, e) =>
          ("pass" -> i) ~ ("traced" -> tr) ~ ("start_us" -> s) ~ ("end_us" -> e)
        }) ~
        ("ops" -> runs.toList.map(_.json)) ~
        ("jobs" -> tracer.jobsJson) ~ ("stages" -> tracer.stagesJson) ~
        ("plans" -> tracer.plansJson)
    Files.write(Paths.get(a("out")), compact(record).getBytes(UTF_8))
    spark.stop()
  }
}
