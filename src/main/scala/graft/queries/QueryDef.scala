package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the driver contract: its name, the Spark build
  * over a table directory, and the DuckDB oracle SQL whose rows the build's
  * output must hash equal to. Declaring both together makes a query
  * without an oracle a compile error. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {

  /** Index `defs` by name. A repeated name fails here: a map would keep the
    * last of two same-named entries, so a copy-pasted query would silently
    * replace another and shrink the gate. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
