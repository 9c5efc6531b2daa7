package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev utility for the optimization rounds: runs one declared query
  * (same construction as [[Bench]], same noop sink) a few times and
  * prints per-JOB wall time plus per-STAGE task counts / task-time
  * sums from a listener — the local stand-in for the Spark UI's
  * Stages tab the optimization guide (§1.1, §7.1) starts from. Not
  * part of the library surface. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val name = sys.env.getOrElse("SPARK_GRAFT_PROFILE_QUERY", "q17_cube")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    val spark = GraftSession(cpus)

    case class JobRec(id: Int, desc: String, var ms: Long = -1,
      var start: Long = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRec(e.jobId, d); r.start = e.time
        jobs.put(e.jobId, r)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.ms = e.time - r.start
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val tm = i.taskMetrics
        stages.add(f"stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"wall=${i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)}%6dms " +
          f"exec=${tm.executorRunTime}%7dms cpu=${tm.executorCpuTime / 1000000}%7dms " +
          f"gc=${tm.jvmGCTime}%5dms deser=${tm.executorDeserializeTime}%5dms " +
          f"shRead=${tm.shuffleReadMetrics.totalBytesRead}%10d " +
          f"shWrite=${tm.shuffleWriteMetrics.bytesWritten}%10d  ${i.name.take(80)}")
      }
    })

    def run(): Unit = SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    run() // warm-up
    (1 to passes).foreach { p =>
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      run()
      val el = (System.nanoTime() - t0) / 1e9
      println(f"== pass $p: $name = $el%.3f s (cpus=$cpus) ==")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      println(s"jobs: ${js.length}, total job ms: ${js.map(_.ms).sum}")
      js.foreach(j => println(f"  job ${j.id}%4d ${j.ms}%6dms  ${j.desc.take(90)}"))
      stages.asScala.foreach(s => println("  " + s))
    }
    spark.stop()
  }
}
