package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.operators.{Basket, Catalog, Compaction, FillStage, IncrementalAgg, IncrementalJoin, Layout, Mirror, Skew, Skipping, Skyline, Snapshots, Stats}

import graft.queries.Fixtures._

/** The `q*` family: the TPC-H-style relational core, plus the snapshot,
  * SQL-catalog, materialized-view, layout and graph-loop queries built on
  * the same tables. */
private[graft] object CoreQueries {

  // shared with q27_mv_refresh
  private val q24MvRewriteOracle =
    """WITH f AS (SELECT user_id, event_type,
      |  CAST(round(value*100,0) AS BIGINT) AS value_cents
      | FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(sum(value_cents) AS BIGINT) AS sum_cents,
      | min(value_cents) AS min_cents, max(value_cents) AS max_cents
      |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin

  // the source rows verbatim — compaction moves bytes, never rows
  // shared with q29_optimize
  private val q22CompactOracle =
    """SELECT event_id, user_id, event_type,
      | CAST(round(value*100,0) AS BIGINT) AS value_cents
      |FROM events ORDER BY event_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q01_agg_lineitem", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      oracle =
        """SELECT l_returnflag, l_linestatus,
          | CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
          | CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
          | CAST(sum(CAST(round((l_extendedprice*(1.0-l_discount))*100,0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
          | count(*) AS n_rows
          |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    QueryDef("q02_filter_project", (s, dir) => {
      // predicate + projection pushdown: scan should read 3 columns,
      // PushedFilters on p_type/p_size
      t(s, dir, "part")
        .filter(col("p_type") === "PROMO" && col("p_size") >= 25)
        .select(col("p_partkey"), col("p_name"), col("p_size"))
        .orderBy(col("p_partkey"))
    },
      oracle =
        """SELECT p_partkey, p_name, p_size FROM part
          |WHERE p_type = 'PROMO' AND p_size >= 25 ORDER BY p_partkey""".stripMargin),

    QueryDef("q03_join_revenue", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    },
      oracle =
        """SELECT c_mktsegment,
          | CAST(sum(CAST(round((l_extendedprice*(1.0-l_discount))*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
          | count(DISTINCT o_orderkey) AS n_orders
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("q04_broadcast_lookup", (s, dir) => {
      // dimension chain nation⋈region stays broadcast; fact side never
      // shuffles for the join (P7's broadcast-lookup generalization)
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val c = t(s, dir, "customer")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(cents(col("c_acctbal"))).as("acctbal_cents"))
        .orderBy(col("r_name"))
    },
      oracle =
        """SELECT r_name, count(*) AS n_customers,
          | CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS acctbal_cents
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("q05_topk", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      oracle =
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    QueryDef("q06_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))
    },
      oracle =
        """SELECT c_custkey FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin),

    QueryDef("q07_semi_join", (s, dir) => {
      val sup = t(s, dir, "supplier")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      sup.join(l, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },
      oracle =
        """SELECT s_suppkey, s_name FROM supplier s
          |WHERE EXISTS (SELECT 1 FROM lineitem l
          |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 45)
          |ORDER BY s_suppkey""".stripMargin),

    QueryDef("q08_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    },
      oracle =
        """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice FROM (
          | SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
          |  CAST(row_number() OVER (PARTITION BY l_suppkey
          |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
          | FROM lineitem) WHERE rn <= 2 ORDER BY l_suppkey, rn""".stripMargin),

    QueryDef("q09_set_except", (s, dir) => {
      val buyers = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 30000)
        .select(col("o_custkey").as("custkey"))
      val rich = t(s, dir, "customer")
        .filter(col("c_acctbal") >= 5000)
        .select(col("c_custkey").as("custkey"))
      buyers.except(rich).orderBy(col("custkey"))
    },
      oracle =
        """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice >= 30000
          |EXCEPT
          |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal >= 5000
          |ORDER BY custkey""".stripMargin),

    QueryDef("q11_set_intersect", (s, dir) => {
      // set intersection: urgent buyers who are also high-balance customers
      val buyers = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val rich = t(s, dir, "customer")
        .filter(col("c_acctbal") >= 5000)
        .select(col("c_custkey").as("custkey"))
      buyers.intersect(rich).orderBy(col("custkey"))
    },
      oracle =
        """SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          |INTERSECT
          |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal >= 5000
          |ORDER BY custkey""".stripMargin),

    QueryDef("q12_rollup", (s, dir) => {
      // hierarchical aggregate (rollup): per (returnflag, linestatus),
      // per returnflag subtotal, and grand total in one pass
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("l_quantity"))).as("qty_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      oracle =
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          | CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS qty_cents
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),

    QueryDef("q13_zorder", (s, dir) => {
      // Z-order layout key: Morton interleave of (orderkey, partkey) —
      // pure shift/mask integer arithmetic, codegen'd, engine-portable.
      // clusterByZOrder range-partitions on this key so parquet min/max
      // stats prune on EITHER dimension (RangePartitioning pinned in
      // LayoutSpec; this query checks the interleave arithmetic).
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .withColumn("zkey",
          Layout.zValue2(col("l_orderkey"), col("l_partkey")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // identical shift/mask interleave, 42 generated terms — bitwise
      // ops are exact and shared by both engines
      // key reduction mirrors Layout.zValue2's pmod, not sign-preserving
      // % — identical on the non-negative TPC-H keys, but the oracle
      // must stay semantically identical to the engine if a fixture
      // ever carries negative keys
      oracle = {
        def pm(c: String) = s"(($c % 2097152 + 2097152) % 2097152)"
        val terms = (0 until 21).map(k =>
          s"(((${pm("l_orderkey")} >> $k) & 1) << ${2 * k})" +
            s" + (((${pm("l_partkey")} >> $k) & 1) << ${2 * k + 1})")
          .mkString(" + ")
        s"""SELECT l_orderkey, l_partkey, l_linenumber,
           | CAST($terms AS BIGINT) AS zkey
           |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
      }),

    QueryDef("q14_skyline", (s, dir) => {
      // Pareto frontier of parts on (minimize price, maximize size):
      // the two-level bucketed-window skyline — no self-join — against
      // the oracle's textbook NOT EXISTS dominance scan. Integer cents
      // keep every comparison exact. bucketBits=12 puts the ~200k-cent
      // domain into ~50 buckets, so the level-2 frame is tiny while the
      // level-1 windows stay parallel.
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          cents(col("p_retailprice")).as("price_cents"),
          col("p_size").cast("long").as("sz"))
      Skyline.frontier2(p, col("price_cents"), col("sz"), bucketBits = 12)
        .orderBy(col("p_partkey"))
    },
      // the textbook NOT EXISTS dominance scan — deliberately a
      // DIFFERENT formulation from the engine's bucketed-window plan,
      // so the frontier equivalence itself is what's checked
      oracle =
        """WITH p AS (SELECT p_partkey, p_name,
          |  CAST(round(p_retailprice*100,0) AS BIGINT) AS price_cents,
          |  CAST(p_size AS BIGINT) AS sz FROM part)
          |SELECT p_partkey, p_name, price_cents, sz FROM p a
          |WHERE NOT EXISTS (SELECT 1 FROM p b
          |  WHERE b.price_cents <= a.price_cents AND b.sz >= a.sz
          |    AND (b.price_cents < a.price_cents OR b.sz > a.sz))
          |ORDER BY p_partkey""".stripMargin),

    QueryDef("q15_assoc", (s, dir) => {
      // market-basket association rules over (order, brand) baskets:
      // Apriori min-support pushdown BEFORE the pair self-join, counts
      // exact longs, confidence/lift as explicitly-ordered IEEE
      // arithmetic mirrored in the oracle
      val b = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      Basket.associationRules(b, "l_orderkey", "p_brand", minSupport = 300)
        .orderBy(col("ante"), col("cons"))
    },
      // same counts, same explicitly-ordered IEEE measure arithmetic:
      // one division for confidence, double products for lift
      oracle =
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS item
          |  FROM lineitem l JOIN part p ON l_partkey = p_partkey),
          |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM b),
          |f AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
          |  FROM b GROUP BY 1 HAVING count(*) >= 300),
          |pr AS (SELECT a.item AS ante, c.item AS cons,
          |  min(fa.n_item) AS n_ante, min(fc.n_item) AS n_cons,
          |  CAST(count(*) AS BIGINT) AS n_pair
          | FROM b a JOIN b c ON a.bk = c.bk AND a.item <> c.item
          | JOIN f fa ON a.item = fa.item JOIN f fc ON c.item = fc.item
          | GROUP BY 1, 2 HAVING count(*) >= 300)
          |SELECT ante, cons, n_ante, n_cons, n_pair,
          | CAST(n_pair AS DOUBLE) / n_ante AS confidence,
          | (CAST(n_pair AS DOUBLE) * CAST(n.n AS DOUBLE))
          |   / (CAST(n_ante AS DOUBLE) * CAST(n_cons AS DOUBLE)) AS lift
          |FROM pr, n ORDER BY ante, cons""".stripMargin),

    QueryDef("q17_cube", (s, dir) => {
      // full CUBE over the two status dims — all four grouping sets in
      // one pass (the Expand-based plan), the rollup twin's superset
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("l_quantity"))).as("qty_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      oracle =
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          | CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT)
          |  AS qty_cents
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST,
          | l_linestatus ASC NULLS FIRST""".stripMargin),

    QueryDef("q18_expectations", (s, dir) => {
      // the ingest-gate expectation suite: four row predicates counted
      // in ONE scan + the key-uniqueness check, unioned into one
      // (rule, n_rows, n_violations) report
      val li = t(s, dir, "lineitem")
      Stats.expectRows(li, Seq(
          "qty_in_range" -> !col("l_quantity").between(1, 50),
          "price_positive" -> (col("l_extendedprice") <= 0),
          "returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R"),
          "shipdate_present" -> col("l_shipdate").isNull))
        .unionByName(Stats.expectUniqueKey(li,
          Seq("l_orderkey", "l_linenumber")))
        .orderBy(col("rule"))
    },
      oracle =
        """SELECT 'price_positive' AS rule,
          | (SELECT count(*) FROM lineitem) AS n_rows,
          | (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
          |  AS n_violations
          |UNION ALL SELECT 'qty_in_range',
          | (SELECT count(*) FROM lineitem),
          | (SELECT count(*) FROM lineitem
          |   WHERE NOT (l_quantity BETWEEN 1 AND 50))
          |UNION ALL SELECT 'returnflag_domain',
          | (SELECT count(*) FROM lineitem),
          | (SELECT count(*) FROM lineitem
          |   WHERE l_returnflag NOT IN ('A', 'N', 'R'))
          |UNION ALL SELECT 'shipdate_present',
          | (SELECT count(*) FROM lineitem),
          | (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
          |UNION ALL SELECT 'unique_key',
          | (SELECT count(*) FROM lineitem),
          | (SELECT COALESCE(CAST(sum(c) AS BIGINT), 0) FROM (
          |   SELECT count(*) AS c FROM lineitem
          |   GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1))
          |ORDER BY rule""".stripMargin),

    QueryDef("q36_expect_fk", (s, dir) => {
      // referential integrity in the expectation suite: the real
      // lineitem → orders FK (zero violations) beside a deliberately
      // broken one (parent restricted to even part keys, so odd
      // l_partkeys violate) — both the clean and dirty paths under the
      // oracle. Keys-only anti-joins; the report unions with the q18
      // suite shape.
      val li = t(s, dir, "lineitem")
      Stats.expectForeignKey(li, t(s, dir, "orders"),
          Seq("l_orderkey"), Seq("o_orderkey"), "lineitem_orders_fk")
        .unionByName(Stats.expectForeignKey(li,
          t(s, dir, "part").filter(col("p_partkey") % 2 === 0),
          Seq("l_partkey"), Seq("p_partkey"), "lineitem_even_parts_fk"))
        .orderBy(col("rule"))
    },
      // each rule restated as an independent WHERE count; the unique-key
      // rule sums the sizes of over-populated key groups
      // SQL FK semantics both sides: null child keys assert nothing
      oracle =
        """SELECT 'lineitem_even_parts_fk' AS rule,
          | (SELECT count(*) FROM lineitem) AS n_rows,
          | (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
          |   AND l_partkey NOT IN (SELECT p_partkey FROM part
          |     WHERE p_partkey % 2 = 0)) AS n_violations
          |UNION ALL SELECT 'lineitem_orders_fk',
          | (SELECT count(*) FROM lineitem),
          | (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
          |   AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          |ORDER BY rule""".stripMargin),

    QueryDef("q29_optimize", (s, dir) => {
      // OPTIMIZE inside the snapshot lineage: three append commits
      // accrete a small-file mess (8 files each), optimize rewrites the
      // latest snapshot into few uniform files AS A REPLACE VERSION —
      // old versions stay readable until vacuumed, and the optimized
      // read must carry EXACTLY the source rows (the oracle: the whole
      // events table; SnapshotsSpec pins the file-count arithmetic).
      val tbl = s"$artifactRoot/snap_opt_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0)
        .repartition(8), tbl, append = false)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1)
        .repartition(8), tbl, append = true)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2)
        .repartition(8), tbl, append = true)
      val v = Snapshots.optimize(s, tbl, targetBytes = 1L << 20)
      Snapshots.readAsOf(s, tbl, v).orderBy(col("event_id"))
    },
      // optimize moves bytes, never rows: q22's source-preservation oracle
      oracle = q22CompactOracle),

    QueryDef("q28_snapshot_skipping", (s, dir) => {
      // time travel × data skipping multiply — the Iceberg read path
      // over plain parquet: both commits are range-clustered with
      // per-file min/max stats persisted beside the version (the append
      // commit REUSES the parent's stats rows), and a key-range scan AS
      // OF each version plans only the admitted files (file-count
      // arithmetic pinned in SnapshotsSpec). Pruning may skip bytes,
      // never change rows — the oracle recomputes both snapshots'
      // ranges from the source table.
      val tbl = s"$artifactRoot/snap_skip_table"
      Snapshots.init(s, tbl)
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      val v0 = Snapshots.commitClustered(s,
        li.filter(col("l_orderkey") % 2 === 0), tbl,
        keyCol = "l_orderkey", numFiles = 8, append = false)
      val v1 = Snapshots.commitClustered(s,
        li.filter(col("l_orderkey") % 2 === 1), tbl,
        keyCol = "l_orderkey", numFiles = 8, append = true)
      Snapshots.scanRangeAsOf(s, tbl, v0, "l_orderkey", 1000L, 2000L)
        .withColumn("version", lit(0L))
        .unionByName(
          Snapshots.scanRangeAsOf(s, tbl, v1, "l_orderkey", 1000L, 2000L)
            .withColumn("version", lit(1L)))
        .orderBy(col("version"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
    },
      // the same aggregate straight over events — the MV-redirected
      // engine plan must reproduce it exactly (all-long state algebra)
      // both snapshots' key ranges recomputed from the source table —
      // versioned stats pruning may skip bytes, never change rows
      oracle =
        """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
          |  l_suppkey FROM lineitem
          | WHERE l_orderkey BETWEEN 1000 AND 2000)
          |SELECT *, CAST(0 AS BIGINT) AS version FROM li
          | WHERE l_orderkey % 2 = 0
          |UNION ALL
          |SELECT *, CAST(1 AS BIGINT) AS version FROM li
          |ORDER BY version, l_orderkey, l_linenumber, l_partkey,
          | l_suppkey""".stripMargin),

    QueryDef("q27_mv_refresh", (s, dir) => {
      // the full MV LIFECYCLE under one oracle: build state over day-0
      // facts, serve; a delta lands in the fact table (parquet append);
      // the MV refreshes by ALGEBRAIC MERGE of the reloaded old state
      // with the delta's aggregate — the fact table is never rescanned
      // for maintenance — and the refreshed registration redirects the
      // same dashboard aggregate, now bit-equal to a full recompute
      // (q24's oracle verbatim: the whole events table). Deregister
      // first so the build aggregates are immune to a previous run's
      // registration (bench runs queries twice per process).
      val fact = s"$artifactRoot/mvr_fact"
      val mv0 = s"$artifactRoot/mvr_state0"
      val mv1 = s"$artifactRoot/mvr_state1"
      val keys = Seq("user_id", "event_type")
      graft.plans.MvRewrite.install(s)
      graft.plans.MvRewrite.deregister(fact)
      val ev = eventsCents(s, dir)
      ev.filter(col("event_id") % 4 =!= 0)
        .write.mode("overwrite").parquet(fact)
      IncrementalAgg.aggregate(s.read.parquet(fact), keys,
        sums = Seq("value_cents"), mins = Seq("value_cents"),
        maxes = Seq("value_cents"))
        .write.mode("overwrite").parquet(mv0)
      val delta = ev.filter(col("event_id") % 4 === 0)
      delta.write.mode("append").parquet(fact)
      IncrementalAgg.merge(
        IncrementalAgg.loadState(s, mv0, keys,
          sums = Seq("value_cents"), mins = Seq("value_cents"),
          maxes = Seq("value_cents")),
        IncrementalAgg.aggregate(delta, keys,
          sums = Seq("value_cents"), mins = Seq("value_cents"),
          maxes = Seq("value_cents")),
        keys, sums = Seq("value_cents"), mins = Seq("value_cents"),
        maxes = Seq("value_cents"))
        .write.mode("overwrite").parquet(mv1)
      graft.plans.MvRewrite.register(s, fact, mv1, keys,
        sums = Seq("value_cents"), mins = Seq("value_cents"),
        maxes = Seq("value_cents"))
      s.read.parquet(fact).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"),
          min(col("value_cents")).as("min_cents"),
          max(col("value_cents")).as("max_cents"))
        .orderBy(col("user_id"))
    },
      // refresh lands the MV at the full corpus state, so the redirected
      // aggregate answers q24's full-recompute oracle
      oracle = q24MvRewriteOracle),

    QueryDef("q25_time_travel", (s, dir) => {
      // the snapshot lifecycle end-to-end under ONE oracle: v0 is
      // "yesterday's" load (even event_ids), v1 appends the odd half
      // WITHOUT rewriting v0's files (append-mode file sharing, pinned
      // in SnapshotsSpec), v2 is a replace-commit compliance delete
      // (every user_id % 13 == 0 purged). Versions 0 and 1 are read
      // AS OF and materialized (the export-then-expire shape), vacuum
      // expires everything below v2 — and MUST actually delete files
      // (required loudly) while leaving the live snapshot untouched,
      // which the post-vacuum v2 read proves. The oracle recomputes
      // all three snapshots straight from events: versioning and
      // vacuum may move bytes, never rows.
      val tbl = s"$artifactRoot/snap_table"
      val scratch = s"$artifactRoot/snap_export"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      val v1 = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        tbl, append = true)
      val v2 = Snapshots.commit(s,
        Snapshots.readAsOf(s, tbl, v1).filter(col("user_id") % 13 =!= 0),
        tbl, append = false)
      // time-travel reads are lazy — materialize v0/v1 BEFORE their
      // files expire
      Snapshots.readAsOf(s, tbl, v0).withColumn("version", lit(0L))
        .unionByName(
          Snapshots.readAsOf(s, tbl, v1).withColumn("version", lit(1L)))
        .write.mode("overwrite").parquet(scratch)
      val deleted = Snapshots.vacuum(s, tbl, keepFrom = v2)
      require(deleted > 0,
        "vacuum retained every file — v0/v1's replace-expired data " +
          "should have been deleted")
      s.read.parquet(scratch)
        .unionByName(
          Snapshots.readAsOf(s, tbl, v2).withColumn("version", lit(2L)))
        .orderBy(col("version"), col("event_id"))
    },
      // all three snapshots recomputed straight from events —
      // versioning and vacuum may move bytes, never rows
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT *, CAST(0 AS BIGINT) AS version FROM ev
          | WHERE event_id % 2 = 0
          |UNION ALL
          |SELECT *, CAST(1 AS BIGINT) AS version FROM ev
          |UNION ALL
          |SELECT *, CAST(2 AS BIGINT) AS version FROM ev
          | WHERE user_id % 13 <> 0
          |ORDER BY version, event_id""".stripMargin),

    QueryDef("q26_snapshot_diff", (s, dir) => {
      // the audit face of the same lineage: what did the v2 compliance
      // delete change vs v1? diff() is a two-sided multiset EXCEPT ALL
      // over the two AS-OF reads — here pure removals (the purged
      // users' rows), which the oracle derives independently from
      // events. Rebuilt lineage (bench runs queries twice per process;
      // commits mint fresh versions only on a fresh root).
      val tbl = s"$artifactRoot/snap_diff_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v1 = Snapshots.commit(s, ev, tbl, append = false)
      val v2 = Snapshots.commit(s, ev.filter(col("user_id") % 13 =!= 0),
        tbl, append = false)
      Snapshots.diff(s, tbl, oldVersion = v1, newVersion = v2)
        .orderBy(col("change"), col("event_id"))
    },
      // the compliance delete's change set derived independently: pure
      // removals — every row of the purged users
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents,
          | '-' AS change
          |FROM events WHERE user_id % 13 = 0
          |ORDER BY change, event_id""".stripMargin),

    QueryDef("q31_snapshot_partitioned", (s, dir) => {
      // time travel × partition skip: the event stream versioned as a
      // HIVE-PARTITIONED snapshot table (partition = event_type — the
      // by-date/IVF-cell layout shape), v0 = event_id%3==0, v1 appends
      // %3==1 (sharing v0's files, fragments and all), v2 appends the
      // rest. Two partition-pruned AS-OF scans — 'purchase' AT v1 and
      // 'view' AT v0 — aggregate per user; only the named partition's
      // directories enter either plan (pinned in SnapshotsSpec), and
      // AS-OF v1/v0 must NOT see v2's rows even though v2 exists by
      // read time. The oracle recomputes both scans straight from the
      // modulus slices of events.
      val tbl = s"$artifactRoot/snap_part_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commitPartitioned(s,
        ev.filter(col("event_id") % 3 === 0), tbl, "event_type",
        append = false)
      val v1 = Snapshots.commitPartitioned(s,
        ev.filter(col("event_id") % 3 === 1), tbl, "event_type",
        append = true)
      Snapshots.commitPartitioned(s,
        ev.filter(col("event_id") % 3 === 2), tbl, "event_type",
        append = true)
      def slice(v: Long, et: String) =
        Snapshots.scanPartitionAsOf(s, tbl, v, "event_type", et)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value_cents")).as("cents"))
          .withColumn("version", lit(v))
          .withColumn("part", lit(et))
      slice(v1, "purchase").unionByName(slice(v0, "view"))
        .select(col("version"), col("part"), col("user_id"),
          col("n_events"), col("cents"))
        .orderBy(col("version"), col("part"), col("user_id"))
    },
      // v1 = modulus slices {0,1}, v0 = slice {0}: the partitioned
      // snapshot reads must equal these row-filters of the raw stream
      oracle =
        """WITH base AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS cents FROM events),
          |v1p AS (SELECT CAST(1 AS BIGINT) AS version,
          |  'purchase' AS part, user_id,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(cents) AS BIGINT) AS cents
          | FROM base WHERE event_id % 3 <= 1 AND event_type = 'purchase'
          | GROUP BY user_id),
          |v0v AS (SELECT CAST(0 AS BIGINT) AS version,
          |  'view' AS part, user_id,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(cents) AS BIGINT) AS cents
          | FROM base WHERE event_id % 3 = 0 AND event_type = 'view'
          | GROUP BY user_id)
          |SELECT * FROM (SELECT * FROM v1p UNION ALL SELECT * FROM v0v)
          |ORDER BY version, part, user_id""".stripMargin),

    QueryDef("q33_snapshot_merge", (s, dir) => {
      // the lakehouse MERGE verb at partition scope: the event snapshot
      // (partitioned by event_type) absorbs a correction batch — every
      // purchase's cents bumped by 1 (same keys → updates) plus a batch
      // of brand-new 'promo' rows (inserts into a new partition) —
      // rewriting ONLY the purchase and promo directories; click/view/
      // signup/error files carry over as manifest pointers
      // (SnapshotsSpec pins the file reuse). The oracle recomputes the
      // merged table straight from events.
      val tbl = s"$artifactRoot/snap_merge_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commitPartitioned(s, ev, tbl, "event_type", append = false)
      val updates = ev.filter(col("event_type") === "purchase")
        .withColumn("value_cents", col("value_cents") + 1L)
        .unionByName(ev.filter(col("event_id") % 7 === 0)
          .withColumn("event_id", col("event_id") + 1000000L)
          .withColumn("event_type", lit("promo")))
      val v = Snapshots.mergePartitioned(s, tbl, updates,
        keyCols = Seq("event_id"), partCol = "event_type")
      Snapshots.readAsOf(s, tbl, v)
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },
      // merged table = purchases bumped, others verbatim, promo inserts
      oracle =
        """WITH base AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events)
          |SELECT event_id, user_id, event_type,
          | CASE WHEN event_type = 'purchase' THEN value_cents + 1
          |  ELSE value_cents END AS value_cents
          |FROM base
          |UNION ALL
          |SELECT event_id + 1000000, user_id, 'promo' AS event_type,
          | value_cents
          |FROM base WHERE event_id % 7 = 0
          |ORDER BY event_id""".stripMargin),

    QueryDef("q34_snapshot_merge_delete", (s, dir) => {
      // MERGE with per-row verbs — the full CDC-correction shape
      // (ev_cdc_apply's delete semantics at the snapshot layer):
      // one batch carries upserts (purchases bumped +1, new promo
      // rows) AND deletes (every 5th click evicted, never
      // re-inserted); only the purchase/click/promo directories
      // rewrite, the rest of the partitions carry over as manifest
      // pointers. The oracle replays the same verbs in SQL.
      val tbl = s"$artifactRoot/snap_merge_del_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commitPartitioned(s, ev, tbl, "event_type", append = false)
      val updates = ev.filter(col("event_type") === "purchase")
        .withColumn("value_cents", col("value_cents") + 1L)
        .withColumn("op", lit("upsert"))
        .unionByName(ev.filter(col("event_id") % 7 === 0)
          .withColumn("event_id", col("event_id") + 1000000L)
          .withColumn("event_type", lit("promo"))
          .withColumn("op", lit("upsert")))
        .unionByName(ev
          .filter(col("event_type") === "click" && col("event_id") % 5 === 0)
          .withColumn("op", lit("delete")))
      val v = Snapshots.mergePartitioned(s, tbl, updates,
        keyCols = Seq("event_id"), partCol = "event_type",
        opCol = Some("op"))
      Snapshots.readAsOf(s, tbl, v)
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },
      // same merged table, minus the deleted click keys
      oracle =
        """WITH base AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events)
          |SELECT event_id, user_id, event_type,
          | CASE WHEN event_type = 'purchase' THEN value_cents + 1
          |  ELSE value_cents END AS value_cents
          |FROM base
          |WHERE NOT (event_type = 'click' AND event_id % 5 = 0)
          |UNION ALL
          |SELECT event_id + 1000000, user_id, 'promo' AS event_type,
          | value_cents
          |FROM base WHERE event_id % 7 = 0
          |ORDER BY event_id""".stripMargin),

    QueryDef("q35_optimize_partitioned", (s, dir) => {
      // partition-preserving OPTIMIZE: three append commits leave each
      // event_type directory with three file sets (the small-file
      // problem an appending table accrues); the rewrite compacts the
      // latest snapshot to one file per partition while the manifest
      // keeps carrying fragments — partition pruning survives the
      // compaction (SnapshotsSpec pins the file counts and pruning).
      // The oracle is the content invariant: compaction moves bytes,
      // never rows.
      val tbl = s"$artifactRoot/snap_optpart_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      (0 until 3).foreach { i =>
        Snapshots.commitPartitioned(s,
          ev.filter(col("event_id") % 3 === i), tbl, "event_type",
          append = i > 0)
      }
      val v = Snapshots.optimizePartitioned(s, tbl, "event_type")
      Snapshots.readAsOf(s, tbl, v)
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },
      // the source rows verbatim — partitioned compaction moves bytes,
      // never rows (q22's invariant at partition scope)
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("q24_mv_rewrite", (s, dir) => {
      // MV redirection end-to-end under the oracle: events stage as a
      // fact table with exact integer cents; IncrementalAgg materializes
      // the (user_id, event_type) state frame; MvRewrite registers it;
      // the PLAIN per-user aggregate below is then redirected by the
      // optimizer to roll the state frame up instead of rescanning the
      // fact table (MvRewriteSpec pins that the plan really swaps scans;
      // this row pins that redirection never changes an answer).
      // Deregister-first makes the MV-build aggregate immune to the
      // previous registration of the same path (bench runs each query
      // twice per process).
      val fact = s"$artifactRoot/mv_fact"
      val mv = s"$artifactRoot/mv_state"
      graft.plans.MvRewrite.install(s)
      graft.plans.MvRewrite.deregister(fact)
      eventsCents(s, dir)
        .write.mode("overwrite").parquet(fact)
      IncrementalAgg.aggregate(s.read.parquet(fact),
        keys = Seq("user_id", "event_type"), sums = Seq("value_cents"),
        mins = Seq("value_cents"), maxes = Seq("value_cents"))
        .write.mode("overwrite").parquet(mv)
      graft.plans.MvRewrite.register(s, fact, mv,
        keys = Seq("user_id", "event_type"), sums = Seq("value_cents"),
        mins = Seq("value_cents"), maxes = Seq("value_cents"))
      s.read.parquet(fact).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"),
          min(col("value_cents")).as("min_cents"),
          max(col("value_cents")).as("max_cents"))
        .orderBy(col("user_id"))
    },
      oracle = q24MvRewriteOracle),

    QueryDef("q32_mv_filter", (s, dir) => {
      // MV redirection under a grouping-key FILTER — the most common
      // dashboard shape (WHERE key = …  GROUP BY other_key): the
      // predicate references only MV key columns, so it is constant
      // within every state group and replays on the state frame; the
      // plan then rolls the filtered state up WITHOUT scanning the
      // fact table (plan swap pinned in MvRewriteSpec). The query
      // groups by user_id while FILTERING on event_type — the filter
      // key is not even in the grouping, the state-group constancy is
      // what makes it sound. The oracle computes the same filtered
      // aggregate straight from events.
      val fact = s"$artifactRoot/mvf_fact"
      val mv = s"$artifactRoot/mvf_state"
      graft.plans.MvRewrite.install(s)
      graft.plans.MvRewrite.deregister(fact)
      eventsCents(s, dir)
        .write.mode("overwrite").parquet(fact)
      IncrementalAgg.aggregate(s.read.parquet(fact),
        keys = Seq("user_id", "event_type"), sums = Seq("value_cents"),
        mins = Seq("value_cents"), maxes = Seq("value_cents"))
        .write.mode("overwrite").parquet(mv)
      graft.plans.MvRewrite.register(s, fact, mv,
        keys = Seq("user_id", "event_type"), sums = Seq("value_cents"),
        mins = Seq("value_cents"), maxes = Seq("value_cents"))
      s.read.parquet(fact)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"),
          min(col("value_cents")).as("min_cents"),
          max(col("value_cents")).as("max_cents"))
        .orderBy(col("user_id"))
    },
      oracle =
        """WITH f AS (SELECT user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(value_cents) AS BIGINT) AS sum_cents,
          | min(value_cents) AS min_cents, max(value_cents) AS max_cents
          |FROM f WHERE event_type IN ('purchase', 'click')
          |GROUP BY user_id ORDER BY user_id""".stripMargin),

    QueryDef("q37_bloom_skipping", (s, dir) => {
      // bloom-index point lookups where min/max statistics are BLIND:
      // events written UNCLUSTERED (round-robin repartition — every
      // file's event_id interval spans the whole domain, so interval
      // pruning admits everything), then a per-file bloom manifest
      // answers "which files can contain event_id = v" and three point
      // scans plan over only the admitted files. The oracle is the
      // plain IN filter — skipping may only skip bytes, never rows;
      // LayoutSpec pins that the blooms actually skip files where the
      // min/max manifest cannot.
      val store = s"$artifactRoot/bloom_store"
      val man = s"$artifactRoot/bloom_manifest"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          col("event_type").cast("string").as("event_type"),
          cents(col("value")).as("value_cents"))
      ev.repartition(8).write.mode("overwrite").parquet(store)
      Skipping.writeBloomManifest(s, store, "event_id", man,
        expectedPerFile = 20000L)
      Seq(7L, 123L, 777L)
        .map(id => Skipping.scanPoint(s, store, man, "event_id", id))
        .reduce(_ unionByName _)
        .orderBy(col("event_id"))
    },
      // the plain point-lookup filter — bloom skipping may only skip
      // bytes, never change rows
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events WHERE event_id IN (7, 123, 777)
          |ORDER BY event_id""".stripMargin),

    QueryDef("q50_delete_vectors", (s, dir) => {
      // row-level DELETE as a metadata commit (deletion vectors, the
      // merge-on-read shape): v0 + append v1 build the full table, v2
      // deletes purchases, v3 stacks a user-cohort delete on top —
      // each delete writes a (file, row_index) sidecar and repoints
      // the PARENT'S files verbatim (zero rows rewritten, spec-pinned
      // in SnapshotsSpec), readers anti-join the governing set. All
      // three faces stay readable: MVCC time travel composes with
      // deletes. The oracle replays each face as a plain filter.
      val tbl = s"$artifactRoot/snap_dv_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      val v1 = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        tbl, append = true)
      val v2 = Snapshots.deleteWhere(s, tbl,
        col("event_type") === "purchase")
      val v3 = Snapshots.deleteWhere(s, tbl, col("user_id") % 10 === 3)
      Snapshots.readAsOf(s, tbl, v1).withColumn("face", lit(1L))
        .unionByName(
          Snapshots.readAsOf(s, tbl, v2).withColumn("face", lit(2L)))
        .unionByName(
          Snapshots.readAsOf(s, tbl, v3).withColumn("face", lit(3L)))
        .orderBy(col("face"), col("event_id"))
    },
      // three faces of the stacked deletes: v1 = the full table, v2
      // minus purchases, v3 additionally minus the user cohort
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(1 AS BIGINT) AS face FROM ev
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(2 AS BIGINT) AS face FROM ev
          |WHERE event_type <> 'purchase'
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(3 AS BIGINT) AS face FROM ev
          |WHERE event_type <> 'purchase' AND user_id % 10 <> 3
          |ORDER BY face, event_id""".stripMargin),

    QueryDef("q61_correlated_scalar", (s, dir) => {
      // correlated SCALAR subquery surface (TPC-H Q2's shape): each
      // part keeps its row iff it carries its brand's minimum retail
      // price — Catalyst de-correlates the subquery into an aggregate
      // + join (no per-row re-execution, the rewrite that makes the
      // declarative form scale); DuckDB runs the identical SQL.
      t(s, dir, "part").createOrReplaceTempView("part_q61")
      s.sql(
        """SELECT p_partkey, p_brand,
          | CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents
          |FROM part_q61 p
          |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
          |  FROM part_q61 p2 WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_partkey""".stripMargin)
    },
      // identical correlated SQL, DuckDB's own decorrelation
      oracle =
        """SELECT p_partkey, p_brand,
          | CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents
          |FROM part p
          |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
          |  FROM part p2 WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_partkey""".stripMargin),

    QueryDef("q62_correlated_exists", (s, dir) => {
      // correlated NOT EXISTS surface: suppliers with no shipment on
      // or after 2001-10-25 (the fixture's final fortnight) — planned as a left-anti join (q06's
      // physical shape reached from the correlated-subquery SQL form).
      t(s, dir, "supplier").createOrReplaceTempView("supplier_q62")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q62")
      s.sql(
        """SELECT s_suppkey, s_name FROM supplier_q62 s
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem_q62 l
          |  WHERE l.l_suppkey = s.s_suppkey
          |   AND l.l_shipdate >= TIMESTAMP '2001-10-25 00:00:00')
          |ORDER BY s_suppkey""".stripMargin)
    },
      oracle =
        """SELECT s_suppkey, s_name FROM supplier s
          |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
          |  WHERE l.l_suppkey = s.s_suppkey
          |   AND l.l_shipdate >= TIMESTAMP '2001-10-25 00:00:00')
          |ORDER BY s_suppkey""".stripMargin),

    QueryDef("q65_catalog_join", (s, dir) => {
      // the NAMED CATALOG layer: two pipelines share tables by NAME —
      // fact and dimension live as snapshot tables under roots neither
      // query hard-codes, the catalog resolves names with per-table
      // properties (CatalogSpec pins loud unknowns, metadata-only
      // re-pointing, and the maintenance sweep that closes the
      // DV-growth loop). Oracle: the plain join aggregate — the
      // catalog may only change WHERE bytes come from, never values.
      val cat = s"$artifactRoot/catalog_root"
      Snapshots.init(s, cat) // wipe for rerun stability
      val facts = s"$cat/storage/fact_events"
      val dims = s"$cat/storage/dim_customer"
      Snapshots.init(s, facts); Snapshots.init(s, dims)
      Snapshots.commit(s,
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          cents(col("value")).as("value_cents")),
        facts, append = false)
      Snapshots.commit(s,
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment")),
        dims, append = false)
      Catalog.register(s, cat, "fact_events", facts,
        Map("owner" -> "pipeline-a"))
      Catalog.register(s, cat, "dim_customer", dims,
        Map("retain_versions" -> "8"))
      Catalog.table(s, cat, "fact_events")
        .join(Catalog.table(s, cat, "dim_customer"),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"))
        .orderBy(col("c_mktsegment"))
    },
      // names resolve to the same bytes: the plain join aggregate
      oracle =
        """SELECT c_mktsegment,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events JOIN customer ON user_id = c_custkey
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin),

    QueryDef("q66_sql_catalog", (s, dir) => {
      // the SQL face of the lakehouse layer: a DataSource V2
      // TableCatalog (graft.sources.v2.GraftCatalog) over the named
      // catalog, so registered snapshot tables are reachable from
      // PLAIN SQL by name — including time travel, `VERSION AS OF 0`
      // here reading the fact table's first era while the head carries
      // both. The scan plans from the manifest file list (file-exact,
      // pushdown-preserving — GraftCatalogSpec pins both, plus the
      // honest refusals for DV/colmap/multi-root faces). Oracle: the
      // same join over the v0 era expressed as a filter — the catalog
      // may only change WHERE bytes come from, never values.
      val cat = s"$artifactRoot/sqlcat_root"
      Snapshots.init(s, cat)
      val facts = s"$cat/storage/sql_fact"
      val dims = s"$cat/storage/sql_dim"
      Snapshots.init(s, facts); Snapshots.init(s, dims)
      val ev = t(s, dir, "events")
      Snapshots.commit(s,
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"),
            cents(col("value")).as("value_cents")),
        facts, append = false)
      Snapshots.commit(s,
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"),
            cents(col("value")).as("value_cents")),
        facts, append = true)
      Snapshots.commit(s,
        t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment")),
        dims, append = false)
      Catalog.register(s, cat, "sql_fact", facts)
      Catalog.register(s, cat, "sql_dim", dims)
      s.conf.set("spark.sql.catalog.gsql", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.gsql.root", cat)
      s.sql(
        """SELECT d.c_mktsegment,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(f.value_cents) AS BIGINT) AS sum_cents
          |FROM gsql.sql_fact VERSION AS OF 0 AS f
          |JOIN gsql.sql_dim AS d ON f.user_id = d.c_custkey
          |GROUP BY d.c_mktsegment
          |ORDER BY d.c_mktsegment""".stripMargin)
    },
      // VERSION AS OF 0 = the even era; the SQL catalog may only
      // change WHERE bytes come from, never values
      oracle =
        """SELECT c_mktsegment,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events JOIN customer ON user_id = c_custkey
          |WHERE event_id % 2 = 0
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin),

    QueryDef("q63_schema_widen", (s, dir) => {
      // schema TYPE WIDENING as pure metadata: v0 commits okey as
      // int32; the append's okey is int64 with values no int32 can
      // hold, and the merge PROMOTES the column (int→long — the
      // Iceberg/Delta type-promotion rule) instead of refusing — zero
      // bytes rewritten, the Spark 4 vectorized parquet reader
      // up-casts the old files at scan time, and time travel below the
      // widening commit still answers int32 (spec-pinned). Oracle: the
      // two eras unioned with explicit casts.
      val tbl = s"$artifactRoot/snap_widen_table"
      Snapshots.init(s, tbl)
      val li = t(s, dir, "lineitem")
      Snapshots.commit(s,
        li.filter(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey").cast("int").as("okey"),
            col("l_linenumber").cast("int").as("lineno"),
            col("l_quantity").cast("int").as("qty")),
        tbl, append = false)
      val v1 = Snapshots.commit(s,
        li.filter(col("l_orderkey") % 2 === 1)
          .select((col("l_orderkey") + lit(3000000000L)).as("okey"),
            col("l_linenumber").cast("int").as("lineno"),
            col("l_quantity").cast("int").as("qty")),
        tbl, append = true)
      Snapshots.readAsOf(s, tbl, v1)
        .orderBy(col("okey"), col("lineno"), col("qty"))
    },
      // the two eras unioned; the widened column as explicit BIGINT
      oracle =
        """SELECT CAST(l_orderkey AS BIGINT) AS okey,
          | CAST(l_linenumber AS INT) AS lineno,
          | CAST(l_quantity AS INT) AS qty
          |FROM lineitem WHERE l_orderkey % 2 = 0
          |UNION ALL
          |SELECT l_orderkey + 3000000000 AS okey,
          | CAST(l_linenumber AS INT) AS lineno,
          | CAST(l_quantity AS INT) AS qty
          |FROM lineitem WHERE l_orderkey % 2 = 1
          |ORDER BY okey, lineno, qty""".stripMargin),

    QueryDef("q64_zorder3", (s, dir) => {
      // N-dimensional Z-order: lineitem committed Morton-clustered on
      // THREE keys (l_orderkey, l_partkey, l_suppkey) — per-file
      // min/max covers a compact 3-rectangle, so a box over ANY SUBSET
      // of the keys prunes files (SnapshotsMaintenanceSpec pins the
      // strict file subset on each single key); here the scan
      // constrains only (l_partkey, l_suppkey), leaving l_orderkey
      // free — the subset-pruning a 1-D clustering cannot give.
      // Oracle: the plain 2-of-3 filter.
      val tbl = s"$artifactRoot/snap_zorder3_table"
      Snapshots.init(s, tbl)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
      val v0 = Snapshots.commitZorderedN(s, li, tbl,
        Seq("l_orderkey", "l_partkey", "l_suppkey"),
        numFiles = 16, append = false)
      Snapshots.scanBoxAsOfN(s, tbl, v0,
        Seq(("l_partkey", 100L, 300L), ("l_suppkey", 10L, 50L)))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("qty"))
    },
      // the 2-of-3 subset box as a plain filter; skipping only skips
      oracle =
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          | CAST(l_quantity AS BIGINT) AS qty
          |FROM lineitem
          |WHERE l_partkey BETWEEN 100 AND 300
          | AND l_suppkey BETWEEN 10 AND 50
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, qty""".stripMargin),

    QueryDef("q67_hilbert", (s, dir) => {
      // the HILBERT layout (q64's locality refinement): lineitem
      // committed Hilbert-clustered on the same THREE keys — identical
      // stats sidecar and read path (pruning reads only min_*/max_*
      // bounds, never the curve), but consecutive curve indexes are
      // grid-ADJACENT, so per-file rectangles stay compact where
      // Morton's bit spreading fattens them as keys grow
      // (HilbertIndex's bijection + unit-step walk is spec-pinned over
      // full 2-D/3-D grids; LayoutSpec). A DIFFERENT subset box than
      // q64 so the two layouts' answers are independently oracled.
      // Oracle: the plain 2-of-3 filter.
      val tbl = s"$artifactRoot/snap_hilbert_table"
      Snapshots.init(s, tbl)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity").cast("long").as("qty"))
      val v0 = Snapshots.commitHilbertN(s, li, tbl,
        Seq("l_orderkey", "l_partkey", "l_suppkey"),
        numFiles = 16, append = false)
      Snapshots.scanBoxAsOfN(s, tbl, v0,
        Seq(("l_orderkey", 1000L, 4000L), ("l_suppkey", 5L, 40L)))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("qty"))
    },
      // the Hilbert layout's 2-of-3 subset box as a plain filter —
      // the curve only moves bytes, never rows
      oracle =
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          | CAST(l_quantity AS BIGINT) AS qty
          |FROM lineitem
          |WHERE l_orderkey BETWEEN 1000 AND 4000
          | AND l_suppkey BETWEEN 5 AND 40
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, qty""".stripMargin),

    QueryDef("q68_snapshot_mirror", (s, dir) => {
      // incremental table MIRRORING over the appends feed: the
      // replication offset IS the destination's own commit stamp, so
      // each poll is exactly-once by the atomic-manifest-publish
      // argument (no side ledger, MirrorSpec pins the crash window).
      // Seed on the source's first commit, then TWO source appends
      // ship as ONE O(delta) poll; the caught-up rerun no-ops — both
      // pinned here by require, values by the oracle (a mirror may
      // only move bytes, never values). Fresh roots per invocation:
      // the mirror offset is stateful by design.
      val root = java.nio.file.Files
        .createTempDirectory("graft_mirror_q68_").toString
      val src = s"$root/src"; val dst = s"$root/dst"
      Snapshots.init(s, src); Snapshots.init(s, dst)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        src, append = false)
      require(Mirror.mirrorAppends(s, src, dst).nonEmpty,
        "the seed poll must mint the destination's v0")
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        src, append = true)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        src, append = true)
      require(Mirror.mirrorAppends(s, src, dst).nonEmpty,
        "the delta poll must ship both source appends as one commit")
      require(Mirror.mirrorAppends(s, src, dst).isEmpty,
        "a caught-up rerun must no-op — exactly-once replication")
      Snapshots.readAsOf(s, dst,
        Snapshots.latestVersion(s, dst).get)
        .orderBy(col("event_id"))
    },
      // a mirror may only move bytes: the caught-up destination is the
      // whole source content, i.e. all three event slices
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("q69_mirror_cdc", (s, dir) => {
      // the CDC mirror — replication that survives DELETES: the source
      // removes rows through deletion vectors and appends new ones;
      // one poll over the '+'/'-' row-level feed (readChangesBetween)
      // applies both to the destination as a keyed MERGE stamped with
      // the new offset. The appends feed structurally cannot express
      // the deletes; the oracle is the surviving-row set. Fresh roots
      // per invocation (stateful offset).
      val root = java.nio.file.Files
        .createTempDirectory("graft_mirror_q69_").toString
      val src = s"$root/src"; val dst = s"$root/dst"
      Snapshots.init(s, src); Snapshots.init(s, dst)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        src, append = false)
      require(Mirror.mirrorChanges(s, src, dst, Seq("event_id")).nonEmpty)
      Snapshots.deleteWhere(s, src, col("user_id") % 20 === 0)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        src, append = true)
      require(Mirror.mirrorChanges(s, src, dst, Seq("event_id")).nonEmpty,
        "one poll must replicate the deletes AND the appended rows")
      require(Mirror.mirrorChanges(s, src, dst, Seq("event_id")).isEmpty,
        "a caught-up rerun must no-op")
      Snapshots.readAsOf(s, dst,
        Snapshots.latestVersion(s, dst).get)
        .orderBy(col("event_id"))
    },
      // the CDC mirror's destination = the source's surviving rows:
      // the even era minus the deleted subjects, plus the odd era
      // (appended AFTER the delete, so its subjects survive)
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events
          |WHERE (event_id % 2 = 0 AND user_id % 20 <> 0)
          |   OR event_id % 2 = 1
          |ORDER BY event_id""".stripMargin),

    QueryDef("q70_sql_insert", (s, dir) => {
      // the SQL WRITE path: INSERT INTO a catalog table is an append
      // commit through the snapshot verbs (V1Write bridge) — the
      // manifest generation, racer reconciliation, and
      // constraint/generated-column enforcement all ride the SQL verb
      // (GraftCatalogSpec pins the refusals and the O(delta) file
      // sharing). Era 0 commits through the function verb, era 1
      // arrives via INSERT INTO ... SELECT; the aggregate must equal
      // the plain whole-table rollup. Fresh catalog name + root per
      // invocation: Spark caches catalog instances by name.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlins_").toString
      val tbl = s"$root/storage/ins"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          cents(col("value")).as("value_cents"))
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Catalog.register(s, root, "ins", tbl)
      val cat = sqlCatalog(s, "gins", root)
      ev.filter(col("event_id") % 2 === 1)
        .createOrReplaceTempView("q70_insert_src")
      s.sql(s"INSERT INTO $cat.ins " +
        "SELECT event_id, user_id, value_cents FROM q70_insert_src")
      require(Snapshots.latestVersion(s, tbl).contains(1L),
        "INSERT INTO must mint exactly one append generation")
      s.sql(
        s"""SELECT user_id,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.ins
           |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },
      // both eras (function-verb commit + SQL INSERT) together are the
      // whole events table — the SQL write may only add its era
      oracle =
        """SELECT user_id,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QueryDef("q72_sql_call", (s, dir) => {
      // SQL-DRIVEN MAINTENANCE (Spark 4's native CALL + a
      // ProcedureCatalog, the Iceberg `CALL catalog.system.*` shape):
      // a two-commit table compacts layout-preservingly through
      // `CALL system.optimize`, then expires its pre-compaction
      // history through `CALL system.vacuum` — the whole maintenance
      // loop from plain SQL, no library call. The procedures report
      // their actions as rows (version minted / files deleted,
      // require-pinned); the oracle is the table rollup — maintenance
      // may move bytes, never values. Fresh catalog name + root per
      // invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlcall_").toString
      val tbl = s"$root/storage/sc"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          cents(col("value")).as("value_cents"))
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        tbl, append = true)
      Catalog.register(s, root, "sc", tbl)
      val cat = sqlCatalog(s, "gcall", root)
      val opt = s.sql(s"CALL $cat.system.optimize('sc')").collect()
      require(opt.length == 1 && opt.head.getLong(1) == 2L,
        "CALL optimize must mint the compaction version")
      val vac = s.sql(s"CALL $cat.system.vacuum('sc', 2)").collect()
      require(vac.head.getLong(1) >= 1L,
        "CALL vacuum must delete the expired versions' files")
      s.sql(
        s"""SELECT user_id,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.sc
           |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },
      // maintenance may only move bytes: the post-optimize,
      // post-vacuum face is still the whole-table rollup
      oracle =
        """SELECT user_id,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    QueryDef("q74_sql_delete", (s, dir) => {
      // the merge-on-read DELETE loop entirely from SQL: DELETE FROM
      // is a deletion-vector commit (zero data files rewritten,
      // require-pinned via the version count — one metadata
      // generation), the DV-governed face then refuses SQL scans
      // toward CALL system.optimize, and the compaction restores the
      // SQL face minus the subjects. Oracle: the surviving rows'
      // rollup. Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqldel_").toString
      val tbl = s"$root/storage/del"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Catalog.register(s, root, "del", tbl)
      val cat = sqlCatalog(s, "gdel", root)
      // the predicate must translate to source filters (attribute
      // comparisons/IN/AND/OR — Spark's DELETE pushdown contract);
      // expression predicates route to Snapshots.deleteWhere
      s.sql(s"DELETE FROM $cat.del WHERE user_id <= 30")
      require(Snapshots.latestVersion(s, tbl).contains(1L),
        "DELETE FROM must mint exactly one metadata generation")
      s.sql(s"CALL $cat.system.optimize('del')")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.del
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the post-delete, post-optimize face = the even era minus the
      // deleted subjects
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events
          |WHERE event_id % 2 = 0 AND user_id > 30
          |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q83_sql_read_dv", (s, dir) => {
      // SELECT straight after DELETE FROM, NO compaction: the
      // governed-read rule (graft.plans.GraftGovernedReadRule)
      // substitutes readAsOf's clean/dirty split for the plain scan —
      // files no deletion vector touches keep their pushed-down
      // parquet scan, only the dirty files pay the broadcast
      // anti-join. Require-pins: the DELETE minted ONE metadata
      // generation and rewrote ZERO data files, and the SELECT ran
      // with no CALL system.optimize. Oracle: the same survivors'
      // rollup q74 checks post-compaction — here served pre-compaction.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlrdv_").toString
      val tbl = s"$root/storage/rdv"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      val v0Files = Snapshots.readAsOf(s, tbl, 0L).inputFiles.toSet
      Catalog.register(s, root, "rdv", tbl)
      val cat = sqlCatalog(s, "grdv", root)
      s.sql(s"DELETE FROM $cat.rdv WHERE user_id <= 30")
      require(Snapshots.latestVersion(s, tbl).contains(1L),
        "DELETE FROM must mint exactly one metadata generation")
      require(Snapshots.readAsOf(s, tbl, 1L).inputFiles.toSet
        .filter(_.contains("/data/")) == v0Files,
        "DELETE FROM must rewrite ZERO data files (deletion vectors)")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.rdv
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the SAME survivors' rollup as q74 — served straight off the
      // DV-governed face, no compaction between DELETE and SELECT
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events
          |WHERE event_id % 2 = 0 AND user_id > 30
          |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q75_sql_update", (s, dir) => {
      // SQL row-level UPDATE as FILE-EXACT copy-on-write
      // (graft.plans.GraftDmlRule → Snapshots.updateWhere): one
      // predicate-pushed pass finds the files containing a matching
      // row, ONLY those rewrite (require-pinned via manifest file
      // sharing — the table is range-laid-out on the predicate key, so
      // the blast radius is a file subset, the 100-TB shape), carried
      // rows byte-equal, history stays below. Oracle: the CASE WHEN
      // face of the same update. Fresh catalog name + root per
      // invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlupd_").toString
      val tbl = s"$root/storage/u"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
        .repartitionByRange(8, col("user_id"))
      val v0 = Snapshots.commit(s, ev, tbl, append = false)
      Catalog.register(s, root, "u", tbl)
      val cat = sqlCatalog(s, "gupd", root)
      s.sql(s"UPDATE $cat.u SET value_cents = value_cents + 100000, " +
        "event_type = 'boosted' WHERE user_id <= 25")
      val v1 = Snapshots.latestVersion(s, tbl).get
      require(v1 == v0 + 1,
        "SQL UPDATE must mint exactly one generation")
      val shared = Snapshots.generationOf(s, tbl, v0).paths.toSet
        .intersect(Snapshots.generationOf(s, tbl, v1).paths.toSet)
      // the sharing pin is only falsifiable when some range file lies
      // ENTIRELY above the predicate cut: at sf0.001 user_id tops out
      // at 14, `<= 25` matches every row, and the correct file-exact
      // blast radius IS the whole table — a vacuous pin there, not a
      // rewrite bug (the query's RESULT is unchanged either way)
      val maxUid = ev.agg(max(col("user_id"))).head().getLong(0)
      require(shared.nonEmpty || maxUid <= 25,
        "file-exact UPDATE must repoint the untouched range files " +
          "verbatim — a whole-table rewrite shared nothing")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.u
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the updated face as a CASE WHEN: boosted rows move bucket and
      // gain the constant, every other row is untouched
      oracle =
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(new_cents) AS BIGINT) AS sum_cents
          |FROM (
          | SELECT
          |  CASE WHEN user_id <= 25 THEN 'boosted'
          |       ELSE event_type END AS event_type,
          |  CASE WHEN user_id <= 25
          |       THEN CAST(round(value*100,0) AS BIGINT) + 100000
          |       ELSE CAST(round(value*100,0) AS BIGINT) END AS new_cents
          | FROM events)
          |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q76_sql_merge", (s, dir) => {
      // ANSI MERGE INTO from SQL (GraftDmlRule → Snapshots.mergeInto):
      // matched targets update from the source, unmatched source rows
      // insert, in ONE reconciled commit with the ANSI cardinality
      // check riding the verb. Target = the even-id era; source = the
      // %3 rows carrying value_cents+7. Oracle: the union face of the
      // same merge. Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlmrg_").toString
      val tbl = s"$root/storage/mg"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Catalog.register(s, root, "mg", tbl)
      val cat = sqlCatalog(s, "gmrg", root)
      ev.filter(col("event_id") % 3 === 0)
        .withColumn("value_cents", col("value_cents") + 7)
        .createOrReplaceTempView("q76_merge_src")
      s.sql(
        s"""MERGE INTO $cat.mg AS tgt USING q76_merge_src AS src
           |ON tgt.event_id = src.event_id
           |WHEN MATCHED THEN UPDATE SET value_cents = src.value_cents * 2
           |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type,
           |  value_cents) VALUES (src.event_id, src.user_id,
           |  src.event_type, src.value_cents)""".stripMargin)
      require(Snapshots.latestVersion(s, tbl).contains(v0 + 1),
        "SQL MERGE must mint exactly one generation")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.mg
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the merged face as a union: matched evens (id%6=0) doubled
      // from the source's +7 cents, unmatched evens untouched,
      // odd source rows (id%3=0, odd) inserted with their +7 cents
      oracle =
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(new_cents) AS BIGINT) AS sum_cents
          |FROM (
          | SELECT event_type,
          |  CASE WHEN event_id % 6 = 0
          |       THEN (CAST(round(value*100,0) AS BIGINT) + 7) * 2
          |       ELSE CAST(round(value*100,0) AS BIGINT) END AS new_cents
          | FROM events WHERE event_id % 2 = 0
          | UNION ALL
          | SELECT event_type,
          |  CAST(round(value*100,0) AS BIGINT) + 7 AS new_cents
          | FROM events WHERE event_id % 3 = 0 AND event_id % 2 = 1)
          |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q77_sql_tag", (s, dir) => {
      // TAGS — named version pointers (the Iceberg tag shape): a
      // human-stable time-travel address (`VERSION AS OF 'baseline'`)
      // that doubles as a RETENTION PIN — `CALL system.expire_snapshots`
      // REFUSES while a tag pins an expiring version (require-pinned),
      // and proceeds once the tag drops. The `.tags` metadata table
      // serves the live listing from metadata alone. Oracle: the
      // whole-table rollup (retention may only move bytes). Fresh
      // catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqltag_").toString
      val tbl = s"$root/storage/tg"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      // two REPLACE eras: expiry of era 0 then has files of its own to
      // delete (an append would share them and expiry would be a no-op)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Snapshots.tag(s, tbl, "baseline", 0L)
      Snapshots.commit(s, ev, tbl, append = false)
      Catalog.register(s, root, "tg", tbl)
      val cat = sqlCatalog(s, "gtag", root)
      val eraN = s.sql(
        s"SELECT count(*) FROM $cat.tg VERSION AS OF 'baseline'")
        .collect().head.getLong(0)
      val allN = s.sql(s"SELECT count(*) FROM $cat.tg")
        .collect().head.getLong(0)
      require(eraN > 0 && eraN < allN,
        "VERSION AS OF '<tag>' must answer the tagged era, not the head")
      val listed = s.sql(s"SELECT tag, version FROM $cat.tg.tags")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(listed == Seq(("baseline", 0L)),
        s"the .tags metadata table must list the live tag, got $listed")
      val refused = scala.util.Try(
        s.sql(s"CALL $cat.system.expire_snapshots('tg', 1)").collect())
      require(refused.isFailure &&
        refused.failed.get.getMessage.contains("tagged"),
        "expire_snapshots must refuse while a tag pins the expiring era")
      s.sql(s"CALL $cat.system.remove_tag('tg', 'baseline')")
      val exp = s.sql(s"CALL $cat.system.expire_snapshots('tg', 1)")
        .collect().head
      require(exp.getLong(2) >= 1L,
        "with the pin gone, expiry must delete the era-0-only files")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.tg
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // retention may only move bytes: the post-expiry head is the
      // whole-table rollup
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q78_sql_alter", (s, dir) => {
      // SQL DDL over the metadata-only schema verbs: ALTER TABLE ADD
      // COLUMNS widens the stored schema in ONE metadata generation —
      // zero bytes move, the era-0 files null-fill the new column at
      // scan time (the same stored-schema read path an evolving append
      // uses), and time travel below the DDL still answers the narrow
      // face (require-pinned). The inserted era then carries real
      // values. Oracle: the coalesced rollup recomputed from events.
      // Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlalter_").toString
      val tbl = s"$root/storage/al"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Catalog.register(s, root, "al", tbl)
      val cat = sqlCatalog(s, "galt", root)
      s.sql(s"ALTER TABLE $cat.al ADD COLUMNS (bonus_cents BIGINT)")
      require(Snapshots.latestVersion(s, tbl).contains(1L),
        "ADD COLUMN must mint exactly one metadata generation")
      require(!s.sql(s"SELECT * FROM $cat.al VERSION AS OF 0")
        .columns.contains("bonus_cents"),
        "time travel below the DDL must answer the narrow face")
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("bonus_cents", col("user_id").cast("long"))
        .createOrReplaceTempView("q78_alter_src")
      s.sql(s"INSERT INTO $cat.al SELECT event_id, user_id, " +
        "event_type, value_cents, bonus_cents FROM q78_alter_src")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(coalesce(bonus_cents, 0)) AS BIGINT) AS sum_bonus
           |FROM $cat.al
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the evolved face: era-0 rows null-fill the added column
      // (coalesce 0), the inserted era carries user_id as its bonus
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CASE WHEN event_id % 2 = 1
          |   THEN user_id ELSE 0 END) AS BIGINT) AS sum_bonus
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q82_sql_replace_where", (s, dir) => {
      // SQL REPLACE WHERE — the predicate-scoped INSERT OVERWRITE
      // (Delta's replaceWhere spelling) over commitReplaceWhere: ONE
      // derived generation whose face is (old face WHERE NOT pred) ∪
      // batch, FILE-EXACT blast radius require-pinned below — the
      // table is clustered on the predicate column, so exactly the
      // matching files rewrite and every clean file repoints
      // verbatim. A batch row outside the predicate's scope refuses
      // the whole statement (idempotent-reload contract), also pinned.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlrw_").toString
      val tbl = s"$root/storage/rw"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
      Snapshots.commitClustered(s, ev, tbl, "event_type",
        numFiles = 6, append = false)
      val v0 = Snapshots.latestVersion(s, tbl).get
      val f0 = Snapshots.generationOf(s, tbl, v0).paths.toSet
      Catalog.register(s, root, "rw", tbl)
      val cat = sqlCatalog(s, "grw", root)
      // the corrected reload: click rows at doubled cents
      ev.filter(col("event_type") === "click")
        .withColumn("value_cents", col("value_cents") * 2)
        .createOrReplaceTempView("q82_reload")
      // a batch leaking OUTSIDE the predicate refuses whole
      val leak = scala.util.Try(s.sql(
        s"""INSERT INTO $cat.rw REPLACE WHERE event_type = 'view'
           |SELECT * FROM q82_reload""".stripMargin))
      require(leak.isFailure && Snapshots.latestVersion(s, tbl)
        .contains(v0), "an out-of-scope batch must refuse whole")
      s.sql(
        s"""INSERT INTO $cat.rw REPLACE WHERE event_type = 'click'
           |SELECT * FROM q82_reload""".stripMargin)
      val v1 = Snapshots.latestVersion(s, tbl).get
      require(v1 == v0 + 1,
        "REPLACE WHERE must be exactly ONE derived generation")
      val f1 = Snapshots.generationOf(s, tbl, v1).paths.toSet
      require((f0 -- f1).nonEmpty && (f0 intersect f1).nonEmpty,
        s"file-exact blast radius: only the click-carrying files may " +
          s"rewrite (rewrote ${(f0 -- f1).size} of ${f0.size})")
      s.sql(
        s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.rw GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
    },
      // the post-replace face: clicks at doubled cents, everything
      // else untouched
      oracle =
        """WITH face AS (
          | SELECT event_type, CAST(round(value*100,0) AS BIGINT)
          |   AS value_cents
          |  FROM events WHERE event_type <> 'click'
          | UNION ALL
          | SELECT event_type, CAST(round(value*100,0) AS BIGINT) * 2
          |  FROM events WHERE event_type = 'click')
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(value_cents) AS BIGINT) AS sum_cents
          |FROM face GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q81_runtime_filter", (s, dir) => {
      // RUNTIME FILE PRUNING for a selective dim⋈fact join — the
      // dynamic-file-pruning leg Spark's DPP cannot reach inside a
      // manifest-planned snapshot scan: the dim side's key domain
      // (bounds + distinct keys at plan time) prunes the fact FILE
      // SET through the stats sidecar before any fact file opens,
      // require-pinned below to admit strictly fewer files than the
      // face carries while the join answer is byte-identical to the
      // plain join (the oracle). At 100× the fact only grows more
      // files of the same key-disjoint layout, so the admitted
      // fraction — not the file count — is the scan cost.
      val tbl = s"$artifactRoot/snap_runtime_filter"
      Snapshots.init(s, tbl)
      Snapshots.commitClustered(s,
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          cents(col("value")).as("value_cents")),
        tbl, "user_id", numFiles = 16, append = false)
      val head = Snapshots.latestVersion(s, tbl).get
      val total = Snapshots.readAsOf(s, tbl, head).inputFiles.length
      val cut = t(s, dir, "events")
        .agg(max(col("user_id"))).head().getLong(0) / 5L
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") <= cut &&
          col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_mktsegment"))
      val fact = Snapshots.scanJoinPruned(s, tbl, head, "user_id",
        dim.select(col("c_custkey")))
      require(fact.inputFiles.length < total,
        s"the dim side's key range must prune the fact file set " +
          s"(${fact.inputFiles.length} of $total admitted)")
      fact.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value_cents")).as("sum_cents"))
        .orderBy(col("c_mktsegment"))
    },
      // runtime file pruning may only change WHICH files are opened,
      // never the join's values — the plain selective join
      oracle =
        """WITH dim AS (SELECT c_custkey, c_mktsegment FROM customer
          | WHERE c_custkey <= (SELECT max(user_id) FROM events) // 5
          |   AND c_mktsegment = 'BUILDING')
          |SELECT c_mktsegment,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events JOIN dim ON user_id = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    QueryDef("q84_sql_runtime_filter", (s, dir) => {
      // q81's runtime file pruning, now on a PLAIN SQL catalog join —
      // no function verb in sight: the stats-governed fact scan
      // declares its clustered key runtime-filterable
      // (SupportsRuntimeV2Filtering), Spark's dynamic-pruning rule
      // wires the selective dim's key set into the scan at execution
      // (reusing the join's own broadcast), and the sidecar admission
      // re-plans the fact FILE LIST before any data file opens.
      // Require-pinned: the executed scan admitted strictly fewer
      // files than the face carries; the answer is byte-identical to
      // the plain join (the oracle). The commonest BI query shape —
      // SELECT ... FROM fact JOIN dim — now pays sidecar-pruned scans
      // straight from SQL.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlrtf_").toString
      val factT = s"$root/storage/fact"; val dimT = s"$root/storage/dim"
      Snapshots.init(s, factT); Snapshots.init(s, dimT)
      Snapshots.commitClustered(s,
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          cents(col("value")).as("value_cents")),
        factT, "user_id", numFiles = 16, append = false)
      val total = Snapshots.readAsOf(s, factT,
        Snapshots.latestVersion(s, factT).get).inputFiles.length
      val cut = t(s, dir, "events")
        .agg(max(col("user_id"))).head().getLong(0) / 5L
      Snapshots.commit(s, t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        dimT, append = false)
      Catalog.register(s, root, "fact", factT)
      Catalog.register(s, root, "dim", dimT)
      val cat = sqlCatalog(s, "grtf", root)
      val q = s.sql(
        s"""SELECT d.c_mktsegment,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(f.value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.fact f JOIN $cat.dim d ON f.user_id = d.c_custkey
           |WHERE d.c_custkey <= $cut AND d.c_mktsegment = 'BUILDING'
           |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin)
      q.collect() // execute THIS instance — the probe below reads it
      def prunedScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.GraftRuntimePrunedScan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          prunedScans(a.executedPlan)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          prunedScans(st.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan]
          => Seq(b.scan.asInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan])
        case other => other.children.flatMap(prunedScans)
      }
      val admitted = prunedScans(q.queryExecution.executedPlan)
        .flatMap(_.admittedFiles)
      // the pruning pin is only falsifiable when the dim selection is
      // NON-EMPTY: at sf0.001 no customer has both c_custkey <= cut
      // and the BUILDING segment, AQE replaces the join subtree with
      // EmptyRelation after the empty broadcast builds, and the
      // injected runtime filter never executes — correct (and cheaper
      // than any pruning), but unobservable by this probe
      val dimSel = s.sql(s"SELECT CAST(count(*) AS BIGINT) FROM " +
        s"$cat.dim WHERE c_custkey <= $cut AND c_mktsegment = " +
        "'BUILDING'").head().getLong(0)
      require((admitted.nonEmpty && admitted.head < total) || dimSel == 0L,
        s"the SQL join's runtime filter must prune the fact file set " +
          s"($admitted of $total admitted, $dimSel dim rows selected)")
      q
    },
      // the SQL face of the runtime filter may only change WHICH
      // files open, never the join's values — same plain join as q81
      oracle =
        """WITH dim AS (SELECT c_custkey, c_mktsegment FROM customer
          | WHERE c_custkey <= (SELECT max(user_id) FROM events) // 5
          |   AND c_mktsegment = 'BUILDING')
          |SELECT c_mktsegment,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events JOIN dim ON user_id = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    QueryDef("q85_sql_read_mor", (s, dir) => {
      // SELECT on the table a CDC pipeline is upserting into, with NO
      // fold in between: the governed-read rule substitutes
      // readMorAsOf — tombstone keys read off the sidecar itself —
      // so the SQL face equals the merge-on-read resolution (deleted
      // keys gone, re-upserted keys surviving their own batch's
      // tombstone). Require-pins: the sync rewrote ZERO pre-existing
      // files and the tombstone sidecar is still LIVE at the SELECT
      // (no fold ran). Oracle: the resolved face recomputed from
      // events (the %5 keys re-keyed at +7 cents, the rest verbatim).
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlmor_").toString
      val tbl = s"$root/storage/mor"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev, tbl, append = false)
      def filesOf(v: Long) =
        Snapshots.generationOf(s, tbl, v).paths.toSet
      val changed = ev.filter(col("event_id") % 5 === 0)
      val v1 = Snapshots.commitEqUpsert(s, tbl,
        upserts = changed.withColumn("value_cents",
          col("value_cents") + 7L),
        tombstones = changed.select(col("event_id")),
        keyCols = Seq("event_id"))
      require(filesOf(0L).subsetOf(filesOf(v1)),
        "the CDC sync must rewrite ZERO pre-existing files")
      Catalog.register(s, root, "mor", tbl)
      val cat = sqlCatalog(s, "gmor", root)
      val out = s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.mor
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
      val rows = out.collect()
      require(Snapshots.eqGovernedAt(s, tbl, v1) && rows.nonEmpty,
        "the SELECT must have served a STILL-GOVERNED face (no fold)")
      out
    },
      // the SQL face of a live MOR lineage = the merge-on-read
      // resolution: %5 keys re-keyed at +7 cents, the rest verbatim
      oracle =
        """WITH face AS (
          | SELECT event_type, CAST(round(value*100,0) AS BIGINT) AS c
          |  FROM events WHERE event_id % 5 <> 0
          | UNION ALL
          | SELECT event_type, CAST(round(value*100,0) AS BIGINT) + 7
          |  FROM events WHERE event_id % 5 = 0)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(c) AS BIGINT) AS sum_cents
          |FROM face GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q80_sql_merge_sync", (s, dir) => {
      // the FULL-SYNC MERGE (WHEN NOT MATCHED BY SOURCE — the
      // replication shape): after the statement the target IS the
      // source's face — present keys update, absent keys DELETE, new
      // keys insert — in ONE reconciled commit whose by-source blast
      // radius is its own condition-pruned anti-join pass. Target =
      // whole events; source = the %3 rows with value_cents+3; final
      // face = exactly the source. Oracle: recomputed from events.
      // Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlsync_").toString
      val tbl = s"$root/storage/sy"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev, tbl, append = false)
      Catalog.register(s, root, "sy", tbl)
      val cat = sqlCatalog(s, "gsy", root)
      ev.filter(col("event_id") % 3 === 0)
        .withColumn("value_cents", col("value_cents") + 3)
        .createOrReplaceTempView("q80_sync_src")
      s.sql(
        s"""MERGE INTO $cat.sy AS tgt USING q80_sync_src AS src
           |ON tgt.event_id = src.event_id
           |WHEN MATCHED THEN UPDATE SET value_cents = src.value_cents
           |WHEN NOT MATCHED THEN INSERT (event_id, user_id,
           |  event_type, value_cents) VALUES (src.event_id,
           |  src.user_id, src.event_type, src.value_cents)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      require(Snapshots.latestVersion(s, tbl).contains(v0 + 1),
        "the full-sync MERGE must be exactly one commit")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.sy
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // after the full-sync merge the target IS the source's face:
      // the %3 rows with their +3 cents
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT) + 3) AS BIGINT)
          |  AS sum_cents
          |FROM events WHERE event_id % 3 = 0
          |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q79_sql_branch", (s, dir) => {
      // BRANCHES — write-audit-publish at LINEAGE scope (the Iceberg
      // branch shape on the zero-copy clone): `CALL
      // system.create_branch` forks an isolated writable lineage,
      // commits stage invisibly to main (require-pinned: main's head
      // never moves), `VERSION AS OF '<branch>'` serves the audit
      // face from SQL, and `CALL system.fast_forward` publishes the
      // whole staged lineage as ONE metadata-only main generation.
      // Oracle: the whole-table rollup — the published face must be
      // exactly what a direct write would have produced. Fresh
      // catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlbr_").toString
      val tbl = s"$root/storage/br"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Catalog.register(s, root, "br", tbl)
      val cat = sqlCatalog(s, "gbr", root)
      val bRoot = s.sql(s"CALL $cat.system.create_branch('br', 'wap')")
        .collect().head.getString(2)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        bRoot, append = true)
      require(Snapshots.latestVersion(s, tbl).contains(0L),
        "staged branch commits must be invisible to main")
      val audit = s.sql(
        s"SELECT count(*) FROM $cat.br VERSION AS OF 'wap'")
        .collect().head.getLong(0)
      val mainN = s.sql(s"SELECT count(*) FROM $cat.br")
        .collect().head.getLong(0)
      require(audit > mainN,
        "the SQL audit face must be the branch head, not main")
      val ff = s.sql(s"CALL $cat.system.fast_forward('br', 'wap')")
        .collect().head
      require(ff.getLong(1) == 1L,
        "the publish must be exactly one main generation")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.br
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // the published face after the WAP loop is the whole table —
      // branching may only stage bytes, never change values
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q73_sql_ctas", (s, dir) => {
      // atomic CTAS (StagingTableCatalog): CREATE TABLE AS SELECT
      // births a snapshot table — the query result commits as version
      // 0 of a fresh root under the catalog's own storage/, and the
      // NAME registration is the publish point (abort deletes the
      // staged root; readers can never see a half-created table — the
      // WAP argument at DDL scope). The born table carries the full
      // snapshot contract from birth: INSERT INTO appends a
      // generation, VERSION AS OF 0 still answers the CTAS face
      // (require-pinned). Oracle: the same per-type rollup computed
      // straight from events. Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlctas_").toString
      Snapshots.init(s, root)
      val cat = sqlCatalog(s, "gctas", root)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          cents(col("value")).as("value_cents"))
        .createOrReplaceTempView("q73_ctas_src")
      s.sql(s"CREATE TABLE $cat.born AS " +
        "SELECT * FROM q73_ctas_src WHERE event_id % 2 = 0")
      s.sql(s"INSERT INTO $cat.born " +
        "SELECT * FROM q73_ctas_src WHERE event_id % 2 = 1")
      require(s.sql(s"SELECT count(*) FROM $cat.born VERSION AS OF 0")
        .collect().head.getLong(0) <
        s.sql(s"SELECT count(*) FROM $cat.born")
          .collect().head.getLong(0),
        "the CTAS face must stay time-travelable below the insert")
      s.sql(
        s"""SELECT event_type,
           | CAST(count(*) AS BIGINT) AS n_events,
           | CAST(sum(value_cents) AS BIGINT) AS sum_cents
           |FROM $cat.born
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
      // CTAS era + INSERT era together are the whole events table;
      // the rollup is engine-portable exact-cents arithmetic
      oracle =
        """SELECT event_type,
          | CAST(count(*) AS BIGINT) AS n_events,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT)
          |  AS sum_cents
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    QueryDef("q71_sql_meta", (s, dir) => {
      // SQL METADATA TABLES (the Iceberg shape): one extra identifier
      // part under a registered name serves the commit timeline —
      // `<cat>.<t>.history` — from the manifest alone, no data file
      // opened (`<t>.files` is its per-generation sibling,
      // GraftCatalogSpec pins both + the files VERSION AS OF travel).
      // Three stamped commits; history rows carry (version, stamp,
      // cumulative row count — append generations point at their
      // parent's files too). Oracle: the counts recomputed from the
      // slices. Fresh catalog name + root per invocation.
      val root = java.nio.file.Files
        .createTempDirectory("graft_sqlmeta_").toString
      val tbl = s"$root/storage/mt"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          cents(col("value")).as("value_cents"))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false, ts = Some(100L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true, ts = Some(200L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true, ts = Some(300L))
      Catalog.register(s, root, "mt", tbl)
      val cat = sqlCatalog(s, "gmeta", root)
      s.sql(
        s"""SELECT version, commit_ts, n_rows
           |FROM $cat.mt.history ORDER BY version""".stripMargin)
    },
      // the history face recomputed from the slices: append
      // generations carry their parent's files, so row counts are
      // cumulative per version
      oracle =
        """SELECT CAST(0 AS BIGINT) AS version,
          | CAST(100 AS BIGINT) AS commit_ts,
          | (SELECT CAST(count(*) AS BIGINT) FROM events
          |   WHERE event_id % 3 = 0) AS n_rows
          |UNION ALL
          |SELECT CAST(1 AS BIGINT), CAST(200 AS BIGINT),
          | (SELECT CAST(count(*) AS BIGINT) FROM events
          |   WHERE event_id % 3 IN (0, 1))
          |UNION ALL
          |SELECT CAST(2 AS BIGINT), CAST(300 AS BIGINT),
          | (SELECT CAST(count(*) AS BIGINT) FROM events)
          |ORDER BY version""".stripMargin),

    QueryDef("q60_snapshot_zorder", (s, dir) => {
      // Z-order × time travel: lineitem committed Morton-clustered on
      // (l_orderkey, l_partkey) with per-file min/max RECTANGLES in the
      // stats sidecar — a 2-D box scan admits only intersecting files
      // (metadata-decided on both dimensions at once; SnapshotsSpec
      // pins the file subset AND that 1-D range scans prune on either
      // column of the same sidecar — the pruning a 1-D clustering can
      // only give its own key). Oracle: the plain box filter.
      val tbl = s"$artifactRoot/snap_zorder_table"
      Snapshots.init(s, tbl)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
      val v0 = Snapshots.commitZordered(s, li, tbl,
        "l_orderkey", "l_partkey", numFiles = 16, append = false)
      Snapshots.scanBoxAsOf(s, tbl, v0,
        "l_orderkey", 1000L, 3000L, "l_partkey", 100L, 300L)
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    },
      // the box as a plain 2-D filter; skipping may only skip bytes
      oracle =
        """SELECT l_orderkey, l_partkey, l_linenumber,
          | CAST(l_quantity AS BIGINT) AS qty
          |FROM lineitem
          |WHERE l_orderkey BETWEEN 1000 AND 3000
          | AND l_partkey BETWEEN 100 AND 300
          |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin),

    QueryDef("q59_multi_table_asof", (s, dir) => {
      // CROSS-TABLE consistent time travel: fact and dimension are
      // separate snapshot tables, each stamping its commits with the
      // same upstream LOGICAL watermark — so "the warehouse as of
      // ts=250" is one versionAt resolution per table and the join is
      // consistent by construction (fact slices 100+200 against the
      // dimension's ts=100 face; the dimension's ts=300 append is
      // invisible), the poor-engineer's multi-table transaction that
      // needs no cross-table lock, only a shared watermark discipline.
      val fact = s"$artifactRoot/snap_mt_fact"
      val dim = s"$artifactRoot/snap_mt_dim"
      Snapshots.init(s, fact); Snapshots.init(s, dim)
      val ev = eventsCents(s, dir)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        fact, append = false, ts = Some(100L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        fact, append = true, ts = Some(200L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        fact, append = true, ts = Some(300L))
      Snapshots.commit(s, cust.filter(col("c_custkey") % 2 === 0),
        dim, append = false, ts = Some(100L))
      Snapshots.commit(s, cust.filter(col("c_custkey") % 2 === 1),
        dim, append = true, ts = Some(300L))
      Snapshots.readAsOfTimestamp(s, fact, 250L)
        .join(Snapshots.readAsOfTimestamp(s, dim, 250L),
          col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value_cents"), col("c_mktsegment"))
        .orderBy(col("event_id"))
    },
      // the warehouse as of ts=250: fact slices 0+1, even-custkey dim
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents,
          | c_mktsegment
          |FROM events JOIN customer ON user_id = c_custkey
          |WHERE event_id % 3 IN (0, 1) AND c_custkey % 2 = 0
          |ORDER BY event_id""".stripMargin),

    QueryDef("q58_generated_columns", (s, dir) => {
      // generated columns: declared once as a metadata-only commit,
      // then MATERIALIZED inside every subsequent ingest's write job
      // (a writer-supplied wrong value refuses — spec pins validation,
      // constraint composition, drop, rollback travel). History is
      // untouched: the pre-declaration era's rows null-fill by schema
      // evolution, the post-declaration era carries the computed value.
      val tbl = s"$artifactRoot/snap_gencol_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Snapshots.addGeneratedColumn(s, tbl, "value_bucket",
        "value_cents DIV 500")
      val v = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        tbl, append = true)
      Snapshots.readAsOf(s, tbl, v).orderBy(col("event_id"))
    },
      // pre-declaration rows null-fill, post-declaration rows computed
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents,
          | CASE WHEN event_id % 2 = 0 THEN NULL
          |  ELSE CAST(round(value*100,0) AS BIGINT) // 500
          | END AS value_bucket
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("q57_optimize_clustered", (s, dir) => {
      // compaction that KEEPS range skipping: three round-robin append
      // commits leave every file spanning the whole key domain (interval
      // pruning admits everything), then optimizeClustered rewrites the
      // head range-clustered with a fresh stats sidecar — scanRangeAsOf
      // on the compacted version prunes again (file-subset spec-pinned
      // in SnapshotsSpec, with a DV delete compacting away physically).
      val tbl = s"$artifactRoot/snap_optclust_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      (0L until 3L).foreach { i =>
        Snapshots.commit(s, ev.filter(col("event_id") % 3 === i)
          .repartition(4), tbl, append = i > 0L)
      }
      val vOpt = Snapshots.optimizeClustered(s, tbl, "event_id", 8)
      Snapshots.scanRangeAsOf(s, tbl, vOpt, "event_id", 100L, 400L)
        .orderBy(col("event_id"))
    },
      // the compacted head's range scan: a plain interval filter
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events WHERE event_id BETWEEN 100 AND 400
          |ORDER BY event_id""".stripMargin),

    QueryDef("q56_replace_partitions", (s, dir) => {
      // dynamic partition overwrite — the idempotent daily-reload verb:
      // the corrected purchase feed (cents doubled, every 7th row
      // dropped upstream) wholesale-replaces ONLY its partition; the
      // four untouched partitions carry as pointers (spec pins file
      // reuse + re-run convergence). A keyed merge cannot express the
      // dropped rows; an append would duplicate the kept ones.
      val tbl = s"$artifactRoot/snap_replace_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commitPartitioned(s, ev, tbl, "event_type",
        append = false)
      val corrected = ev.filter(col("event_type") === "purchase" &&
        col("event_id") % 7 =!= 0)
        .withColumn("value_cents", col("value_cents") * 2L)
      val v1 = Snapshots.replacePartitions(s, tbl, corrected, "event_type")
      Snapshots.readAsOf(s, tbl, v1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },
      // untouched partitions verbatim + the corrected purchase feed
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents FROM ev
          |WHERE event_type <> 'purchase'
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents * 2 FROM ev
          |WHERE event_type = 'purchase' AND event_id % 7 <> 0
          |ORDER BY event_id""".stripMargin),

    QueryDef("q55_partition_evolution", (s, dir) => {
      // partition evolution: era 1 lands partitioned by event_type,
      // era 2 switches the layout to a user bucket — zero bytes of
      // history rewritten (the manifest carries each file's own
      // fragment). The evolved scan composes three metadata decisions:
      // fragment-match on the queried key, outright prune of same-key
      // other-value fragments, and a data-filter fallback over the
      // other era's files (the key is carried as DATA from day one —
      // the evolution contract). Both directions exercised: the new
      // key prunes era 2, the old key prunes era 1; the naive
      // fragment-only scan refuses the mixed layout (spec-pinned).
      val tbl = s"$artifactRoot/snap_evolve_table"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("value_cents"),
          (col("user_id") % 4).as("ub"))
      Snapshots.commitPartitioned(s, ev.filter(col("event_id") % 2 === 0),
        tbl, "event_type", append = false)
      val v1 = Snapshots.commitPartitioned(s,
        ev.filter(col("event_id") % 2 === 1), tbl, "ub", append = true)
      val cols = Seq("event_id", "user_id", "event_type",
        "value_cents", "ub").map(col)
      Snapshots.scanPartitionEvolved(s, tbl, v1, "ub", 2L)
        .select(cols :+ lit(1L).as("face"): _*)
        .unionByName(
          Snapshots.scanPartitionEvolved(s, tbl, v1, "event_type", "click")
            .select(cols :+ lit(2L).as("face"): _*))
        .orderBy(col("face"), col("event_id"))
    },
      // both evolved-scan faces recomputed as plain filters
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents,
          |  user_id % 4 AS ub FROM events)
          |SELECT event_id, user_id, event_type, value_cents, ub,
          | CAST(1 AS BIGINT) AS face FROM ev WHERE ub = 2
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents, ub,
          | CAST(2 AS BIGINT) AS face FROM ev WHERE event_type = 'click'
          |ORDER BY face, event_id""".stripMargin),

    QueryDef("q54_snapshot_cdc", (s, dir) => {
      // the O(delta) row-level CDC feed over an append+delete lineage:
      // v0 commits evens, v1 appends odds, v2 deletion-vectors the
      // purchases away; the v0→v2 changes are '+' for odd
      // non-purchases (odd purchases were added AND deleted inside the
      // interval — net nothing) and '-' for even purchases (real
      // deletes of pre-existing rows), with only the fresh files and
      // the delete-carrying files scanned (diff() is the O(table)
      // fallback; SnapshotsSpec pins netting, resurrection, refusal).
      val tbl = s"$artifactRoot/snap_cdc_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 2 === 0),
        tbl, append = false)
      Snapshots.commit(s, ev.filter(col("event_id") % 2 === 1),
        tbl, append = true)
      val v2 = Snapshots.deleteWhere(s, tbl,
        col("event_type") === "purchase")
      Snapshots.readChangesBetween(s, tbl, v0, v2)
        .orderBy(col("change"), col("event_id"))
    },
      // net interval changes: '+' odd non-purchases (odd purchases
      // netted out inside the interval), '-' even purchases
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | '+' AS change FROM ev
          |WHERE event_id % 2 = 1 AND event_type <> 'purchase'
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | '-' AS change FROM ev
          |WHERE event_id % 2 = 0 AND event_type = 'purchase'
          |ORDER BY change, event_id""".stripMargin),

    QueryDef("q53_snapshot_rename", (s, dir) => {
      // RENAME/DROP COLUMN as pure metadata (the field-id idea reduced
      // to names): files keep their PHYSICAL column names forever, a
      // column-mapping sidecar moves the logical label — zero bytes
      // rewritten on a 100-TB table. v0 commits under "cents", v1
      // renames to value_cents, v2 APPENDS speaking the new name (the
      // write translates back to the old physical), v3 drops
      // event_type (pruned at scan, tombstoned against resurrection).
      // The head face must equal the plain projection of all events
      // under the final names. SnapshotsSpec pins the per-face schema,
      // tombstone refusals, rollback/clone travel, and the loud guards
      // on name-addressed sidecar verbs.
      val tbl = s"$artifactRoot/snap_rename_table"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
      Snapshots.commit(s,
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("cents")),
        tbl, append = false)
      Snapshots.renameColumn(s, tbl, "cents", "value_cents")
      Snapshots.commit(s,
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_cents")),
        tbl, append = true)
      val v3 = Snapshots.dropColumn(s, tbl, "event_type")
      Snapshots.readAsOf(s, tbl, v3)
        .select(col("event_id"), col("user_id"), col("value_cents"))
        .orderBy(col("event_id"))
    },
      // the head face after rename + append + drop: all events under
      // the final logical names
      oracle =
        """SELECT event_id, user_id,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events ORDER BY event_id""".stripMargin),

    QueryDef("q52_recursive_closure", (s, dir) => {
      // SQL-surface parity: WITH RECURSIVE (Spark 4's UnionLoop)
      // computes a bounded-hop min-distance closure over a DATA-DERIVED
      // graph — the dominant direction of each event-type transition
      // (edge kept iff count(A→B) > count(B→A), the antisymmetric
      // tournament) — the declarative twin of the explicit iterative
      // loops the graph family runs (CC/SCC/PageRank, which remain the
      // scale path: each UnionLoop round re-plans the full join).
      // DuckDB runs the textually identical recursion as the oracle.
      t(s, dir, "events").createOrReplaceTempView("ev_rec_q52")
      s.sql(
        """WITH RECURSIVE
          |seq AS (SELECT user_id, event_type,
          |  lead(event_type) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS nxt
          | FROM ev_rec_q52),
          |pc AS (SELECT event_type AS src, nxt AS dst,
          |  CAST(count(*) AS BIGINT) AS c
          | FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
          |edges AS (SELECT a.src, a.dst FROM pc a LEFT JOIN pc b
          |  ON a.src = b.dst AND a.dst = b.src
          | WHERE a.src <> a.dst AND a.c > coalesce(b.c, CAST(0 AS BIGINT))),
          |reach(src, dst, hops) AS (
          |  SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM edges
          |  UNION ALL
          |  SELECT r.src, e.dst, r.hops + 1
          |  FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE r.hops < 4 AND e.dst <> r.src)
          |SELECT src, dst, min(hops) AS min_hops
          |FROM reach GROUP BY src, dst ORDER BY src, dst""".stripMargin)
    },
      // the textually identical recursion (DuckDB's WITH RECURSIVE)
      oracle =
        """WITH RECURSIVE
          |seq AS (SELECT user_id, event_type,
          |  lead(event_type) OVER (PARTITION BY user_id
          |    ORDER BY ts, event_id) AS nxt
          | FROM events),
          |pc AS (SELECT event_type AS src, nxt AS dst,
          |  CAST(count(*) AS BIGINT) AS c
          | FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
          |edges AS (SELECT a.src, a.dst FROM pc a LEFT JOIN pc b
          |  ON a.src = b.dst AND a.dst = b.src
          | WHERE a.src <> a.dst AND a.c > coalesce(b.c, CAST(0 AS BIGINT))),
          |reach(src, dst, hops) AS (
          |  SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM edges
          |  UNION ALL
          |  SELECT r.src, e.dst, r.hops + 1
          |  FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE r.hops < 4 AND e.dst <> r.src)
          |SELECT src, dst, min(hops) AS min_hops
          |FROM reach GROUP BY src, dst ORDER BY src, dst""".stripMargin),

    QueryDef("q51_snapshot_constraints", (s, dir) => {
      // versioned CHECK constraints: declared once as a metadata-only
      // commit (parent files repointed, existing face validated), then
      // enforced INSIDE every subsequent ingest's write job via an
      // assert_true guard — zero extra passes, Delta's invariant
      // shape. The violating batch (negated cents) must abort without
      // publishing; the clean append lands; the head face equals the
      // two clean slices. SnapshotsSpec pins the refusal naming the
      // constraint, null semantics, drop/rollback/clone travel.
      val tbl = s"$artifactRoot/snap_check_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false)
      Snapshots.addConstraint(s, tbl, "cents_nonneg", "value_cents >= 0")
      val bad = ev.filter(col("event_id") % 3 === 1)
        .withColumn("value_cents", -col("value_cents") - 1L)
      val refused =
        try { Snapshots.commit(s, bad, tbl, append = true); false }
        catch { case _: Exception => true }
      require(refused, "the violating batch must abort")
      val vOk = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true)
      Snapshots.readAsOf(s, tbl, vOk).orderBy(col("event_id"))
    },
      // the head face after the refused batch: exactly the two clean
      // modulus slices — the botch contributed nothing
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events WHERE event_id % 3 IN (0, 1)
          |ORDER BY event_id""".stripMargin),

    QueryDef("q49_snapshot_history", (s, dir) => {
      // the .history metadata view: three stamped modulus appends
      // profiled as one row per version — logical commit stamp and
      // manifest-summed row count, all from metadata (file counts are
      // writer-dependent and stay out of the oracle surface); the
      // oracle re-derives both columns from the slices
      val tbl = s"$artifactRoot/snap_hist_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false, ts = Some(100L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true, ts = Some(200L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true, ts = Some(300L))
      Snapshots.tableHistory(s, tbl)
        .select(col("version"), col("commit_ts"), col("n_rows"))
        .orderBy(col("version"))
    },
      // version v holds slices <= v; stamps are the literal watermarks
      oracle =
        """SELECT CAST(v.ver AS BIGINT) AS version,
          | CAST(100 * (v.ver + 1) AS BIGINT) AS commit_ts,
          | CAST(count(*) AS BIGINT) AS n_rows
          |FROM (SELECT event_id % 3 AS m FROM events) ev,
          | (VALUES (0), (1), (2)) AS v(ver)
          |WHERE ev.m <= v.ver
          |GROUP BY 1, 2
          |ORDER BY version""".stripMargin),

    QueryDef("q48_snapshot_bloom", (s, dir) => {
      // time travel x bloom skipping: two commitBloom generations over
      // an UNCLUSTERED high-cardinality key (modulus slices,
      // repartitioned round-robin so min/max pruning would admit
      // everything), then point lookups AS OF both versions — v0 must
      // MISS the id that only arrived in v1's append, v1 must find
      // every id, all through sidecar-admitted files only
      // (SnapshotsSpec pins the file skip). The oracle replays both
      // faces as plain IN filters over the modulus slices.
      val tbl = s"$artifactRoot/snap_bloom_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commitBloom(s,
        ev.filter(col("event_id") % 2 === 0).repartition(8),
        tbl, "event_id", append = false, expectedPerFile = 20000L)
      val v1 = Snapshots.commitBloom(s,
        ev.filter(col("event_id") % 2 === 1).repartition(8),
        tbl, "event_id", append = true, expectedPerFile = 20000L)
      val asOf0 = Seq(42L, 777L)
        .map(id => Snapshots.scanPointAsOf(s, tbl, v0, "event_id", id))
        .reduce(_ unionByName _).withColumn("as_of", lit(0L))
      val asOf1 = Seq(42L, 123L, 777L)
        .map(id => Snapshots.scanPointAsOf(s, tbl, v1, "event_id", id))
        .reduce(_ unionByName _).withColumn("as_of", lit(1L))
      asOf0.unionByName(asOf1).orderBy(col("as_of"), col("event_id"))
    },
      // v0 holds even ids only (777 must MISS), v1 all ids; skipping
      // may only skip bytes, never rows
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(0 AS BIGINT) AS as_of
          |FROM ev WHERE event_id % 2 = 0 AND event_id IN (42, 777)
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(1 AS BIGINT) AS as_of
          |FROM ev WHERE event_id IN (42, 123, 777)
          |ORDER BY as_of, event_id""".stripMargin),

    QueryDef("q38_snapshot_rollback", (s, dir) => {
      // ROLLBACK as the recovery verb: v0 is the good load, v1 a
      // botched "correction" (purchase amounts zeroed AND half the
      // table dropped), v2 = rollback to v0 — published as POINTERS to
      // v0's files, strictly metadata-only (no data file written,
      // pinned in SnapshotsSpec). The head must read back as v0's
      // content exactly, while the botch stays readable AS OF v1 for
      // the post-mortem; the oracle recomputes both faces from events.
      val tbl = s"$artifactRoot/snap_rb_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev, tbl, append = false)
      val bad = ev.filter(col("event_id") % 2 === 0)
        .withColumn("value_cents",
          when(col("event_type") === "purchase", lit(0L))
            .otherwise(col("value_cents")))
      val v1 = Snapshots.commit(s, bad, tbl, append = false)
      val v2 = Snapshots.rollback(s, tbl, v0)
      Snapshots.readAsOf(s, tbl, v1).withColumn("version", lit(v1))
        .unionByName(
          Snapshots.readAsOf(s, tbl, v2).withColumn("version", lit(v2)))
        .orderBy(col("version"), col("event_id"))
    },
      // both faces of the rollback: v1 is the botch (even ids only,
      // purchases zeroed), v2 restores v0 = the full table verbatim
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type,
          | CASE WHEN event_type = 'purchase' THEN CAST(0 AS BIGINT)
          |  ELSE value_cents END AS value_cents,
          | CAST(1 AS BIGINT) AS version
          |FROM ev WHERE event_id % 2 = 0
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(2 AS BIGINT) AS version
          |FROM ev
          |ORDER BY version, event_id""".stripMargin),

    QueryDef("q39_snapshot_stats", (s, dir) => {
      // COUNT(*) from metadata alone: q31's partitioned lineage (three
      // modulus commits, appends sharing the parent's files) profiled
      // via tableStats — every (version, partition) row count is a sum
      // over the manifest's per-file footer counts, ZERO data files
      // opened (SnapshotsSpec pins it by hiding the data directory
      // entirely). File counts are writer-dependent so the query
      // exposes only row counts; the oracle recomputes them from
      // events' modulus slices.
      val tbl = s"$artifactRoot/snap_stats_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commitPartitioned(s, ev.filter(col("event_id") % 3 === 0),
        tbl, "event_type", append = false)
      Snapshots.commitPartitioned(s, ev.filter(col("event_id") % 3 === 1),
        tbl, "event_type", append = true)
      Snapshots.commitPartitioned(s, ev.filter(col("event_id") % 3 === 2),
        tbl, "event_type", append = true)
      Snapshots.tableStats(s, tbl)
        .select(col("version"), col("part"), col("n_rows"))
        .orderBy(col("version"), col("part"))
    },
      // per-(version, partition) row counts recomputed from the raw
      // stream: version v holds the modulus slices <= v (appends share
      // the parent's files) — metadata may only summarize, never drift
      oracle =
        """SELECT CAST(v.ver AS BIGINT) AS version,
          | 'event_type=' || event_type AS part,
          | CAST(count(*) AS BIGINT) AS n_rows
          |FROM (SELECT event_type, event_id % 3 AS m FROM events) ev,
          | (VALUES (0), (1), (2)) AS v(ver)
          |WHERE ev.m <= v.ver
          |GROUP BY 1, 2
          |ORDER BY version, part""".stripMargin),

    QueryDef("q40_snapshot_incremental", (s, dir) => {
      // the incremental-ETL primitive: three append commits by modulus,
      // then "what arrived after v0" answered as the manifest file-set
      // difference — only the two delta commits' files enter the scan
      // (SnapshotsSpec pins the plan via inputFiles, and that a replace
      // in the interval refuses). A consumer checkpointing its last
      // processed version pays O(delta) per poll on a 100-TB table.
      val tbl = s"$artifactRoot/snap_incr_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true)
      val v2 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true)
      Snapshots.readAppendsBetween(s, tbl, v0, v2)
        .orderBy(col("event_id"))
    },
      // the appended delta: slices 1 and 2 arrived after v0's slice 0
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events WHERE event_id % 3 IN (1, 2)
          |ORDER BY event_id""".stripMargin),

    QueryDef("q43_snapshot_purge", (s, dir) => {
      // right-to-erasure across the WHOLE history: a three-commit
      // lineage, then every user_id divisible by 50 is purged — from
      // EVERY version, not just the head (the one verb that rewrites
      // history, file-granular: clean files keep their paths,
      // spec-pinned). All three faces must read back minus the
      // subjects; the oracle rebuilds each face from events with the
      // subjects filtered out.
      val tbl = s"$artifactRoot/snap_purge_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false)
      val v1 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true)
      val v2 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true)
      Snapshots.purgeKeys(s, tbl,
        ev.filter(col("user_id") % 50 === 0)
          .select(col("user_id")).distinct(),
        Seq("user_id"))
      Seq(v0, v1, v2).map(v =>
        Snapshots.readAsOf(s, tbl, v).withColumn("version", lit(v)))
        .reduce(_.unionByName(_))
        .orderBy(col("version"), col("event_id"))
    },
      // every face re-derived from the stream minus the purged
      // subjects: version v holds slices <= v without user_id % 50 = 0
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events WHERE user_id % 50 <> 0)
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(v.ver AS BIGINT) AS version
          |FROM ev, (VALUES (0), (1), (2)) AS v(ver)
          |WHERE event_id % 3 <= v.ver
          |ORDER BY version, event_id""".stripMargin),

    QueryDef("q47_snapshot_incr_mv", (s, dir) => {
      // the incremental-ETL loop END-TO-END: a consumer maintains a
      // per-user rollup over a snapshot table without EVER rescanning
      // history — checkpoint the last processed version, read ONLY the
      // appended delta (manifest file-set difference), absorb it by
      // algebraic merge. Three commits, two absorb rounds; the oracle
      // recomputes from all events, and exact-long algebra makes
      // absorb == full recompute bit-for-bit.
      val tbl = s"$artifactRoot/snap_mv_loop_table"
      Snapshots.init(s, tbl)
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          cents(col("value")).as("v"))
      val v0 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false)
      val v1 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true)
      val v2 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true)
      val keys = Seq("user_id")
      var state = IncrementalAgg.aggregate(
        Snapshots.readAsOf(s, tbl, v0), keys, sums = Seq("v"))
      for ((from, to) <- Seq((v0, v1), (v1, v2))) {
        val delta = IncrementalAgg.aggregate(
          Snapshots.readAppendsBetween(s, tbl, from, to),
          keys, sums = Seq("v"))
        state = IncrementalAgg.merge(state, delta, keys, sums = Seq("v"))
      }
      state.orderBy(col("user_id"))
    },
      // absorb == full recompute: the rollup over all events
      oracle =
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
          | CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS sum_v
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("q46_snapshot_clone", (s, dir) => {
      // ZERO-COPY fork, then the clone runs its destructive verbs —
      // purge of every user_id % 50 subject, a replace commit, vacuum
      // — and the SOURCE must come through byte-untouched: its face
      // still carries the purged subjects (the witness that the
      // clone's purge rewrote pointers, not the source's files, and
      // vacuum skipped the external files it merely borrowed).
      val src = s"$artifactRoot/snap_clone_src"
      val dst = s"$artifactRoot/snap_clone_dst"
      Snapshots.init(s, src)
      Snapshots.init(s, dst)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        src, append = false)
      val s1 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        src, append = true)
      Snapshots.cloneTable(s, src, s1, dst)
      Snapshots.purgeKeys(s, dst,
        ev.filter(col("user_id") % 50 === 0)
          .select(col("user_id")).distinct(),
        Seq("user_id"))
      val d1 = Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        dst, append = false)
      Snapshots.vacuum(s, dst, keepFrom = d1)
      Snapshots.readAsOf(s, dst, d1).withColumn("face", lit("dst"))
        .unionByName(
          Snapshots.readAsOf(s, src, s1).withColumn("face", lit("src")))
        .orderBy(col("face"), col("event_id"))
    },
      // dst face = slice 2 (the replace after the fork); src face =
      // slices 0,1 INCLUDING the subjects the clone purged — the
      // source must be untouched by the fork's destructive verbs
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | 'dst' AS face
          |FROM ev WHERE event_id % 3 = 2
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | 'src' AS face
          |FROM ev WHERE event_id % 3 IN (0, 1)
          |ORDER BY face, event_id""".stripMargin),

    QueryDef("q45_snapshot_drift", (s, dir) => {
      // distribution-drift monitor between two faces: v1 is a
      // "correction" that nulls clicks' value_cents and doubles the
      // rest — profileDrift catches the null-rate jump, the min/max
      // stretch, and the distinct-count shift from ONE aggregate pass
      // per side (no sums of floats, no sketches — every number
      // replays on any engine)
      val tbl = s"$artifactRoot/snap_drift_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      val v0 = Snapshots.commit(s, ev, tbl, append = false)
      val bad = ev.withColumn("value_cents",
        when(col("event_type") === "click", lit(null).cast("long"))
          .otherwise(col("value_cents") * 2L))
      val v1 = Snapshots.commit(s, bad, tbl, append = false)
      Stats.profileDrift(
        Snapshots.readAsOf(s, tbl, v0),
        Snapshots.readAsOf(s, tbl, v1),
        Seq("value_cents", "user_id"))
        .orderBy(col("col_name"), col("metric"))
    },
      // five metrics x two columns, each side recomputed from events
      // (o = raw cents, n = clicks nulled + rest doubled)
      oracle = {
        def sub(side: String, c: String, metric: String) = metric match {
          case "n_rows" => s"(SELECT CAST(count(*) AS DOUBLE) FROM $side)"
          case "n_nulls" =>
            s"(SELECT CAST(count(*) - count($c) AS DOUBLE) FROM $side)"
          case "n_distinct" =>
            s"(SELECT CAST(count(DISTINCT $c) AS DOUBLE) FROM $side)"
          case m => s"(SELECT CAST($m($c) AS DOUBLE) FROM $side)"
        }
        val rows = for {
          c <- Seq("value_cents", "user_id")
          mt <- Seq("max", "min", "n_distinct", "n_nulls", "n_rows")
        } yield s"SELECT '$c' AS col_name, '$mt' AS metric, " +
          s"${sub("o", c, mt)} AS old_value, ${sub("n", c, mt)} AS new_value, " +
          s"${sub("n", c, mt)} - ${sub("o", c, mt)} AS delta"
        s"""WITH o AS (SELECT user_id,
           |  CAST(round(value*100,0) AS BIGINT) AS value_cents FROM events),
           |n AS (SELECT user_id,
           |  CASE WHEN event_type = 'click' THEN NULL
           |   ELSE CAST(round(value*100,0) AS BIGINT) * 2 END AS value_cents
           | FROM events)
           |SELECT * FROM (
           |${rows.mkString("\nUNION ALL\n")}
           |) ORDER BY col_name, metric""".stripMargin
      }),

    QueryDef("q42_time_travel_ts", (s, dir) => {
      // AS OF TIMESTAMP over LOGICAL commit stamps: three modulus
      // appends watermarked 100/200/300 (event-time, never wall clock
      // — deterministic on any engine), then the table read at ts=250
      // (resolves to the second commit: slices 0,1) and ts=999 (the
      // head). Resolution is "latest version with commit_ts <= ts"
      // over the metadata-scale manifest; boundary/refusal semantics
      // pinned in SnapshotsSpec.
      val tbl = s"$artifactRoot/snap_ts_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 0),
        tbl, append = false, ts = Some(100L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 1),
        tbl, append = true, ts = Some(200L))
      Snapshots.commit(s, ev.filter(col("event_id") % 3 === 2),
        tbl, append = true, ts = Some(300L))
      Snapshots.readAsOfTimestamp(s, tbl, 250L)
        .withColumn("as_of", lit(250L))
        .unionByName(Snapshots.readAsOfTimestamp(s, tbl, 999L)
          .withColumn("as_of", lit(999L)))
        .orderBy(col("as_of"), col("event_id"))
    },
      // ts=250 resolves to the second commit (slices 0,1); ts=999 to
      // the head (all slices)
      oracle =
        """WITH ev AS (SELECT event_id, user_id, event_type,
          |  CAST(round(value*100,0) AS BIGINT) AS value_cents
          | FROM events)
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(250 AS BIGINT) AS as_of
          |FROM ev WHERE event_id % 3 IN (0, 1)
          |UNION ALL
          |SELECT event_id, user_id, event_type, value_cents,
          | CAST(999 AS BIGINT) AS as_of
          |FROM ev
          |ORDER BY as_of, event_id""".stripMargin),

    QueryDef("q41_snapshot_wap", (s, dir) => {
      // WRITE-AUDIT-PUBLISH: the bad batch (every value negated below
      // zero) is staged, audited, REFUSED — its files deleted, never
      // visible to any reader — then the clean batch passes the same
      // gate and publishes. The oracle witnesses the refusal: had the
      // bad batch published, the final table would carry its negated
      // duplicates and hash-mismatch.
      val tbl = s"$artifactRoot/snap_wap_table"
      Snapshots.init(s, tbl)
      val ev = eventsCents(s, dir)
      Snapshots.commit(s, ev.filter(col("event_type") === "purchase"),
        tbl, append = false)
      val rest = ev.filter(col("event_type") =!= "purchase")
      val gate: DataFrame => DataFrame =
        f => Stats.expectRows(f,
          Seq("non_negative_cents" -> (col("value_cents") < 0)))
      val bad = rest.withColumn("value_cents", -col("value_cents") - 1L)
      val refused = Snapshots.commitAudited(s, bad, tbl, gate, append = true)
      require(refused.isLeft, "the audit gate must refuse the bad batch")
      val accepted = Snapshots.commitAudited(s, rest, tbl, gate,
        append = true)
      val v = accepted.getOrElse(
        throw new IllegalStateException("the clean batch must publish"))
      Snapshots.readAsOf(s, tbl, v).orderBy(col("event_id"))
    },
      // the published faces only: base purchases + the clean batch; the
      // refused negated batch must have left no rows behind
      oracle =
        """SELECT event_id, user_id, event_type,
          | CAST(round(value*100,0) AS BIGINT) AS value_cents
          |FROM events
          |ORDER BY event_id""".stripMargin),

    QueryDef("q23_skipping", (s, dir) => {
      // planning-time file pruning under the oracle: lineitem is
      // range-clustered on l_orderkey into 16 files, a min/max manifest
      // built beside it, and the scan planned over ONLY the files whose
      // stats admit the key range — the Delta/Iceberg data-skipping
      // shape over plain parquet. The oracle is the plain filter on the
      // source table: pruning may only skip bytes, never change rows.
      // ScaleSpec pins the file arithmetic (scan numFiles < total).
      val store = s"$artifactRoot/skip_store"
      val man = s"$artifactRoot/skip_manifest"
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      Skipping.writeClustered(li, "l_orderkey", numFiles = 16, path = store)
      Skipping.writeManifest(s, store, Seq("l_orderkey"), man)
      Skipping.scanRange(s, store, man, "l_orderkey", 1000L, 2000L)
        // (l_orderkey, l_linenumber) is not unique in the fixture — all
        // four columns join the sort so order is total up to fully-equal
        // rows
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
    },
      // the plain filter over the source table — manifest pruning may
      // only skip bytes, never change rows
      oracle =
        """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
          |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
          |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin),

    QueryDef("q22_compact", (s, dir) => {
      // table maintenance under the oracle: events staged as a 64-file
      // small-file mess, compacted through the size-targeted rewrite,
      // read back — the rows must be EXACTLY the source's (compaction
      // may only move bytes, never rows). File-count arithmetic is
      // pinned in ScaleSpec; the oracle pins content preservation.
      val ev = eventsCents(s, dir)
      val small = s"$artifactRoot/compact_small"
      val packed = s"$artifactRoot/compact_packed"
      ev.repartition(64).write.mode("overwrite").parquet(small)
      Compaction.compact(s, small, packed, targetBytes = 1L << 20)
      s.read.parquet(packed).orderBy(col("event_id"))
    },
      oracle = q22CompactOracle),

    QueryDef("q21_delta_join", (s, dir) => {
      // incremental join maintenance under the oracle: yesterday's
      // materialized lineitem⋈orders absorbs today's deltas on BOTH
      // sides via the three broadcast-delta terms (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB)
      // — the base tables never shuffle — and the result must equal the
      // full join recomputed from scratch, row for row. Splits are
      // arithmetic on the keys so the oracle reproduces them exactly.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("l_cents"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val liNew = col("l_orderkey") % 4 === 0
      val ordNew = col("l_orderkey") % 7 === 0
      val jOld = li.filter(!liNew).join(ord.filter(!ordNew), Seq("l_orderkey"))
      val delta = IncrementalJoin.joinDelta(
        li.filter(!liNew), li.filter(liNew),
        ord.filter(!ordNew), ord.filter(ordNew),
        Seq("l_orderkey"))
      // (l_orderkey, l_linenumber) is NOT unique in the fixture — cents
      // joins the sort key so the order is total up to fully-equal rows
      jOld.unionByName(delta)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_cents"))
    },
      // the full join recomputed from scratch — the maintained
      // old ∪ three-delta-terms union must reproduce it row for row
      oracle =
        """SELECT l.l_orderkey, l.l_linenumber,
          | CAST(round(l.l_extendedprice*100,0) AS BIGINT) AS l_cents,
          | o.o_orderpriority
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |ORDER BY l.l_orderkey, l.l_linenumber, l_cents""".stripMargin),

    QueryDef("q20_skew_salted", (s, dir) => {
      // the skew mechanism under the oracle: lineitem's return flag has
      // THREE values — every key is a hot key, the worst case a plain
      // hash join degenerates to three straggler reducers on. The salted
      // join scatters each hot key across 16 sub-keys and must produce
      // exactly the plain join's rows (the salt never leaves the
      // operator); the post-join aggregation makes the check
      // scatter-invariant and the oracle is the unsalted join in SQL.
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), cents(col("l_quantity")).as("qty_cents"))
      val dim = li.groupBy(col("l_returnflag"))
        .agg(max(col("qty_cents")).as("max_qty_cents"))
      Skew.saltedJoin(li, dim, Seq("l_returnflag"), salts = 16)
        .groupBy(col("l_returnflag"), col("max_qty_cents"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("qty_cents") === col("max_qty_cents"), 1L)
            .otherwise(0L)).as("n_at_max"))
        .orderBy(col("l_returnflag"))
    },
      // the UNSALTED join — the salted engine plan must reproduce it
      // exactly, salts cancelling out of every aggregate
      oracle =
        """WITH li AS (SELECT l_returnflag,
          |  CAST(round(l_quantity*100,0) AS BIGINT) AS qty_cents
          | FROM lineitem),
          |d AS (SELECT l_returnflag, max(qty_cents) AS max_qty_cents
          | FROM li GROUP BY 1)
          |SELECT l.l_returnflag, d.max_qty_cents,
          | CAST(count(*) AS BIGINT) AS n_rows,
          | CAST(sum(CASE WHEN l.qty_cents = d.max_qty_cents
          |   THEN 1 ELSE 0 END) AS BIGINT) AS n_at_max
          |FROM li l JOIN d USING (l_returnflag)
          |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    QueryDef("q19_communities", (s, dir) => {
      // label-propagation communities over the part co-occurrence graph
      // (DISTINCT edges — votes are unweighted): 3 deterministic sync
      // rounds, smallest-label tie-break, replayed round-for-round by
      // the oracle's unrolled CTEs
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
      val edges = b.groupBy(col("bk"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .select(explode(Dedup.sortedPairs(col("items"), "u", "v")).as("p"))
        .select(col("p.u"), col("p.v")).distinct()
      Dedup.labelPropagation(edges, rounds = 3, aCol = "u", bCol = "v")
        .select(col("node").as("p_partkey"), col("community"))
        .orderBy(col("p_partkey"))
    },
      // the same three sync rounds unrolled: count votes per (node,
      // label), argmax via the same lexical min(-count, label) struct
      oracle = {
        val iter = (1 to 3).map { i =>
          s"""cnt$i AS (SELECT e.dst AS node, l.lbl,
             |  CAST(count(*) AS BIGINT) AS n
             | FROM e JOIN l${i - 1} l ON l.node = e.src GROUP BY 1, 2),
             |l$i AS (SELECT node, min({'a': -n, 'b': lbl})['b'] AS lbl
             | FROM cnt$i GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
           |  FROM lineitem),
           |und AS (SELECT DISTINCT a.item AS u, c.item AS v
           |  FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item),
           |e AS (SELECT u AS src, v AS dst FROM und
           |  UNION ALL SELECT v, u FROM und),
           |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
           |$iter
           |SELECT node AS p_partkey, CAST(lbl AS BIGINT) AS community
           |FROM l3 ORDER BY node""".stripMargin
      }),

    QueryDef("q30_kcore", (s, dir) => {
      // 80-core of the part co-occurrence graph: peel parts with fewer
      // than 80 surviving co-purchase partners until the dense core
      // stabilizes (5 sync rounds at this SF) — the dense-region
      // extractor that separates structurally-embedded nodes from
      // incidentally-connected ones. Output is each survivor's WITHIN-
      // CORE degree; the oracle unrolls 12 peel rounds as CTEs
      // (post-fixpoint rounds are no-ops, so the engine's
      // converge-and-stop answer equals the fixed unroll).
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
      val edges = b.groupBy(col("bk"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .select(explode(Dedup.sortedPairs(col("items"), "u", "v")).as("p"))
        .select(col("p.u"), col("p.v")).distinct()
      Dedup.kCore(edges, k = 80, aCol = "u", bCol = "v")
        .select(col("node").as("p_partkey"), col("degree"))
        .orderBy(col("p_partkey"))
    },
      // the naive sorted three-way join — independent of the engine's
      // degree-ordered orientation
      // sync peel unrolled: an edge of round i survives iff BOTH its
      // endpoints had degree >= 80 in round i-1 — degrees come from two
      // window counts over the symmetrized edge list, so each round
      // references its predecessor exactly ONCE (a self-join form would
      // re-expand the whole chain per reference under CTE inlining:
      // 2^12 scans). 12 rounds >> the 5 the graph needs, and a
      // post-fixpoint round is the identity.
      oracle = {
        val rounds = (1 to 12).map { i =>
          s"""e$i AS (SELECT src, dst FROM (
             |  SELECT src, dst, count(*) OVER (PARTITION BY src) AS dsrc,
             |   count(*) OVER (PARTITION BY dst) AS ddst
             |  FROM e${i - 1}) WHERE dsrc >= 80 AND ddst >= 80)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
           |  FROM lineitem),
           |ed AS (SELECT DISTINCT a.item AS u, c.item AS v
           |  FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item),
           |e0 AS (SELECT u AS src, v AS dst FROM ed
           |  UNION ALL SELECT v, u FROM ed),
           |$rounds
           |SELECT src AS p_partkey, CAST(count(*) AS BIGINT) AS degree
           |FROM e12 GROUP BY src ORDER BY p_partkey""".stripMargin
      }),

    QueryDef("q44_scc", (s, dir) => {
      // STRONGLY connected components — the directed classic the
      // undirected CC family cannot answer (redirect cycles, link
      // rings). Closed-form directed graph over complete 8-doc groups:
      // ids 8g..8g+3 form a 4-ring (one SCC, min 8g), 8g+3 exits into
      // the chain 8g+4..8g+7 (singletons, trimmed as sources/sinks).
      // FW-BW-MIN coloring with trimming; the oracle re-derives every
      // component id arithmetically.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val lim = docs.agg((count(lit(1)) - count(lit(1)) % 8).as("lim"))
      val nodes = docs.crossJoin(broadcast(lim))
        .filter(col("doc_id") < col("lim")).select(col("doc_id"))
      val g = col("doc_id") - col("doc_id") % 8
      val p = col("doc_id") % 8
      val ring = nodes.filter(p <= 3)
        .select(col("doc_id").as("src"), (g + (p + 1) % 4).as("dst"))
      val chain = nodes.filter(p >= 3 && p <= 6)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      Dedup.stronglyConnectedComponents(
        ring.unionByName(chain), "src", "dst")
        .orderBy(col("node"))
    },
      // closed form: complete-group ring members collapse to the ring
      // min, chain members are their own singleton SCC
      oracle =
        """WITH lim AS (SELECT count(*) - count(*) % 8 AS l FROM documents)
          |SELECT doc_id AS node,
          | CASE WHEN doc_id % 8 <= 3 THEN doc_id - doc_id % 8
          |  ELSE doc_id END AS scc
          |FROM documents, lim WHERE doc_id < l
          |ORDER BY node""".stripMargin),

    QueryDef("q16_triangles", (s, dir) => {
      // triangle census of the part co-occurrence graph (parts sharing
      // an order): edges from the bucket pair expansion, triangles via
      // degree-ordered orientation (out-degree O(√m), no hub blowup),
      // output per-part participation counts — the local-clustering
      // numerator. The oracle recomputes via the naive a<b<c three-way
      // join, so the orientation's count-each-once argument is under
      // test.
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
      // no .distinct() here: triangles canonicalizes + dedups its edge
      // input itself, a second pass would just shuffle the pairs twice
      val edges = b.groupBy(col("bk"))
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .select(explode(Dedup.sortedPairs(col("items"), "u", "v")).as("p"))
        .select(col("p.u"), col("p.v"))
      Dedup.triangles(edges, "u", "v")
        .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
        .groupBy(col("p_partkey")).agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("p_partkey"))
    },
      oracle =
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
          |  FROM lineitem),
          |e AS (SELECT DISTINCT a.item AS u, c.item AS v
          |  FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item),
          |tri AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e x
          |  JOIN e y ON x.u = y.u AND x.v < y.v
          |  JOIN e z ON z.u = x.v AND z.v = y.v)
          |SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
          |FROM (SELECT a AS node FROM tri
          |  UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri) t
          |GROUP BY 1 ORDER BY p_partkey""".stripMargin),

    QueryDef("q10_fill_route", (s, dir) => {
      // P4/P5/P8/P9 composed over orders: blank-fill, two conditional
      // note-appends, and the success/error routing flag
      val o = t(s, dir, "orders")
        .withColumn("status_filled",
          when(col("o_orderstatus") === "P", lit("PENDING"))
            .otherwise(col("o_orderstatus")))
        .withColumn("Notes", lit(""))
      val noted = FillStage.noteAppendWhen(
        col("o_orderpriority") === "1-URGENT", "urgent")(
        FillStage.noteAppendWhen(col("o_totalprice") < 5000, "Err: low value")(o))
      noted
        .withColumn("route",
          when(col("Notes").contains("Err"), lit("err")).otherwise(lit("ok")))
        .select(col("o_orderkey"), col("status_filled"),
          col("Notes").as("notes"), col("route"))
        .orderBy(col("o_orderkey"))
    },
      oracle =
        """SELECT o_orderkey,
          | CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END AS status_filled,
          | CASE
          |  WHEN o_totalprice < 5000 AND o_orderpriority = '1-URGENT' THEN 'Err: low value; urgent'
          |  WHEN o_totalprice < 5000 THEN 'Err: low value'
          |  WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
          |  ELSE '' END AS notes,
          | CASE WHEN o_totalprice < 5000 THEN 'err' ELSE 'ok' END AS route
          |FROM orders ORDER BY o_orderkey""".stripMargin)
  )
}
