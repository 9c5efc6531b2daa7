package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run. */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

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
