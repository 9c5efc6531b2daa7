package graft

import graft.queries.QueryDef

/** Pins the WIDTH of the correctness gate itself. The r11/r12 incidents
  * were not wrong answers but silently-missing gate rows (a wall-clock
  * cutoff, then a schema regression that errored three queries out of
  * the dump) — each looked like "fewer queries", not "failures". These
  * invariants make a gate-width regression a loud local test failure:
  * every declared query must carry a DuckDB oracle, and every oracle
  * must point at a real query. */
class GateIntegritySpec extends SparkSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries with NO oracle (driver would record a weaker rows-only " +
        s"check): ${(q -- o).toSeq.sorted.mkString(", ")}")
    assert((o -- q).isEmpty,
      s"oracles naming NO query (dead gate rows): " +
        (o -- q).toSeq.sorted.mkString(", "))
  }

  test("oracle SQL is non-empty and ends in a total ORDER BY") {
    // the driver compare is order-sensitive; an oracle without a total
    // order is a flaky hash-mismatch waiting for a DuckDB version bump.
    // Single-row GLOBAL aggregates are exempt — one row has one order
    val singleRow = Set(
      "alma_nomatch_count", "dedup_jaccard", "dedup_recall_minhash",
      "dedup_recall_hamming", "text_corpus_stats",
      "text_corpus_stats_approx")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // a TOP-LEVEL ORDER BY, not substring containment — a window's
      // OVER (ORDER BY ...) or a subquery's ORDER BY must not satisfy
      // the check. Rule: the LAST ORDER BY sits at paren depth 0 (order
      // keys may still call functions — coalesce(...) etc. — after it).
      // Single-quoted literals are blanked first: several oracles embed
      // regexes, and an unbalanced '(' inside a string would corrupt the
      // depth count (DuckDB strings escape a quote by doubling it, which
      // this regex handles as two adjacent literals)
      val up = sql.toUpperCase.replaceAll("'[^']*'", "''")
      val ob = up.lastIndexOf("ORDER BY")
      def depthAt(i: Int): Int =
        up.take(i).count(_ == '(') - up.take(i).count(_ == ')')
      assert(singleRow(name) || (ob >= 0 && depthAt(ob) == 0),
        s"$name: oracle has no top-level ORDER BY — the hash " +
          "compare is order-sensitive")
    }
  }

  test("query names are stable identifiers (no spaces, lowercase)") {
    SparkEntry.queries.keys.foreach { name =>
      assert(name.matches("[a-z0-9_]+"),
        s"query name '$name' is not a stable snake_case identifier")
    }
  }

  test("the registry rejects a repeated query name") {
    val d = QueryDef("dup_query", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      QueryDef.index(Seq(d, d.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("dup_query"))
  }

  test("selecting an unknown query name fails instead of dropping it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_agg_lineitem", "q01_agg_lineitme")))
    assert(e.getMessage.contains("q01_agg_lineitme"))
    assert(SparkEntry.select(Seq("q05_topk", "q01_agg_lineitem")) ==
      Seq("q01_agg_lineitem", "q05_topk"))
    assert(SparkEntry.select(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
