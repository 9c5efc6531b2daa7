package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AlmaQueries, CoreQueries, DedupQueries, EventQueries, MultimodalQueries, QueryDef, SimilarityQueries, TextQueries}

/** Driver contract: one query per implemented operator (SURVEY.md §2 plus
  * the corpus-scale extensions), each with a DuckDB oracle. Each query is
  * declared once, as a [[QueryDef]] in its family's file under
  * `graft/queries/`; `queries` and `oracleSql` are views of that registry.
  *
  * Oracle-parity ground rules used throughout (so value hashes match
  * bit-for-bit across engines):
  *  - money/metric sums go through exact integer cents:
  *    `sum(round(x*100)::bigint)` — order-independent, no float drift;
  *  - ratios are single IEEE divisions of exact integers — deterministic;
  *  - counts are always BIGINT on both sides;
  *  - every query ends in a total ORDER BY over a unique key;
  *  - hashes are md5 hex strings (portable), timestamps exported as
  *    epoch microseconds.
  */
object SparkEntry {

  /** Every declared query by name; a repeated name fails here. */
  lazy val registry: Map[String, QueryDef] = QueryDef.index(
    CoreQueries.defs ++ AlmaQueries.defs ++ DedupQueries.defs ++
      SimilarityQueries.defs ++ TextQueries.defs ++ EventQueries.defs ++
      MultimodalQueries.defs)

  /** Flagship: the 3-table join revenue query on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, d) => n -> d.build }

  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, d) => n -> d.oracle }

  /** The declared names to run, sorted: all of them when `only` is empty,
    * else `only`. An unknown name fails loudly: a typo that silently
    * dropped a query would make a bench total look faster and leave a
    * stale verify output behind. */
  def select(only: Iterable[String]): Seq[String] = {
    val unknown = only.filterNot(registry.contains).toSeq.distinct.sorted
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    (if (only.isEmpty) registry.keys else only).toSeq.distinct.sorted
  }
}
