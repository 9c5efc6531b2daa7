package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run. */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** Spark jobs started while `body` runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold=-1`, which
    * keeps every graph loop over `Dedup`'s symmetrized edges on the
    * executors, whatever the graph's size. */
  def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Registers a graph-loop test twice with the same assertions: `name`
    * in the default session, where a small graph finishes on the
    * driver, and `name (distributed)` under [[distributed]]. */
  def graphTest(name: String)(body: => Any): Unit = {
    test(name)(body)
    test(s"$name (distributed)")(distributed(body))
  }

  /** Naive comma-split reader matching the reference's CSV dialect
    * (BatchUpdate.py:762-780) — the golden files contain a raw `"` (the
    * reference's Nov typo), which a quoting CSV parser would mangle. */
  def readNaiveCsv(resource: String): (Seq[String], Seq[Seq[String]]) = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    (lines.head.split(",", -1).toSeq,
      lines.tail.map(_.split(",", -1).toSeq))
  }
}
