package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{FormatStage, SplitStage, YearInference}
import graft.model.AlmaSchema

/** Physical-plan regression checks: the properties that matter at 100 TB —
  * scan pruning/pushdown, broadcast vs shuffle joins, shuffle counts, and
  * SQL availability of the native kernels — asserted on the real sf0.001
  * plans so a refactor that silently de-optimizes a plan fails CI. */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString

  private def countIn(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).length

  test("q02: filters reach the parquet scan, schema pruned to 3 columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), IsNotNull(p_size), " +
      "EqualTo(p_type,PROMO), GreaterThanOrEqual(p_size,25)]"),
      s"missing pushed filters in:\n$p")
    // scan reads only the output + filter columns; the wide ones are pruned
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string," +
      "p_type:string,p_size:int>"),
      s"scan not pruned to output+filter columns in:\n$p")
    assert(!p.contains("p_retailprice") && !p.contains("p_comment"),
      s"unused columns not pruned in:\n$p")
  }

  test("orc_roundtrip: the partition filter prunes ORC directories at " +
    "planning time and the scan reads the pruned column set") {
    // the gate query writes the store itself; plan it, then check the
    // executed scan: only purchase/view partitions survive, and the
    // event_type predicate sits in PartitionFilters (metadata), not in
    // the data filter (bytes)
    val p = plan("orc_roundtrip")
    val scanLine = p.linesIterator.find(_.contains("Scan orc")).getOrElse(
      fail(s"no ORC scan in the plan:\n$p"))
    // the IN predicate sits in PartitionFilters — metadata-level
    // directory pruning, by definition of that clause — and NOT in
    // PushedFilters (which would mean reading bytes to re-check it)
    assert(scanLine.contains("PartitionFilters") &&
      scanLine.replaceAll(".*PartitionFilters", "")
        .takeWhile(_ != ']').contains("event_type"),
      s"event_type predicate not in PartitionFilters:\n$scanLine")
    assert(scanLine.contains("IN (purchase,view)"),
      s"IN predicate missing from the scan's partition filters:\n$scanLine")
    assert(scanLine.contains("PushedFilters: []"),
      s"partition predicate leaked into data filters:\n$scanLine")
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q01_agg_lineitem")
    // partial + final HashAggregate pair around one exchange
    assert(countIn(p, "HashAggregate") >= 2, p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q04: dimension chain joins broadcast; fact side never shuffles for the join") {
    val p = plan("q04_broadcast_lookup")
    assert(countIn(p, "BroadcastHashJoin") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only exchanges are the broadcasts and the final agg/sort
    assert(countIn(p, "BroadcastExchange") == 2, p)
  }

  test("q05: top-k is a TakeOrderedAndProject, not a global sort") {
    val p = plan("q05_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q06/q07: anti and semi joins planned as such") {
    assert(plan("q06_anti_join").contains("LeftAnti"), plan("q06_anti_join"))
    assert(plan("q07_semi_join").contains("LeftSemi"), plan("q07_semi_join"))
  }

  test("format stage: narrow plan — no exchange, scan-fused projection") {
    val df = FormatStage(AlmaSchema.default)(
      Tables(spark, dir, "customer").select(
        col("c_custkey").cast("string").as("MMS ID"),
        col("c_custkey").cast("string").as("Barcode"),
        col("c_name").as("title")))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("median/MAD, value CDF, equi-depth histogram: no row-scale window " +
    "on the bare group key — every window ranks the count-by-value " +
    "aggregate") {
    // a rank/ntile/row_number over partitionBy(event_type) funnels
    // every row of a ~4-valued group into one sort task at 100 TB; the
    // deployed plans must rank the (event_type, value) → cnt aggregate
    // instead, so each logical Window's subtree must contain an
    // Aggregate and no per-row rank function may survive
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LogicalWindow}
    Seq("ev_median_mad", "ev_value_cdf", "ev_histogram_eqdepth").foreach { q =>
      val lp = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val wins = lp.collect { case w: LogicalWindow => w }
      assert(wins.nonEmpty, s"$q: expected cumulative-count windows in:\n$lp")
      wins.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"$q: window ranks raw rows (single-reducer sort at scale):\n$w")
      }
      val s = lp.toString
      Seq("row_number", "ntile", "percent_rank").foreach { fn =>
        assert(!s.contains(fn), s"$q: per-row $fn survived:\n$s")
      }
    }
  }

  test("text_selfdedup_spans: the dup-gram table is a map-side-combined " +
    "aggregate over the DISTINCT gram vocabulary — partial count+min " +
    "run before the exchange, and no corpus-sized window exists") {
    // the suffix-array global sort of EXACTSUBSTR, re-expressed: the
    // only gram-keyed shuffle carries partially-combined (count, min)
    // state, so the map side reduces occurrence mass to vocabulary
    // mass before anything moves
    val p = plan("text_selfdedup_spans")
    assert(p.contains("partial_count") && p.contains("partial_min"),
      s"dup-gram aggregate must combine map-side:\n$p")
    // the island window partitions by doc — never by the bare gram
    assert(!p.contains("windowspecdefinition(gram"),
      s"a gram-keyed window would serialize hot grams:\n$p")
  }

  test("ev_unpivot: the melt is an Expand over the pivoted aggregate — " +
    "no exchange beyond the pivot's own groupBy, and the round-trip " +
    "is lossless") {
    val p = plan("ev_unpivot")
    assert(p.contains("Expand"),
      s"unpivot must plan as an Expand (row fan-out, zero shuffle):\n$p")
    // the pivot pays two exchanges ((user,type) pre-agg, then the
    // user-level pivotfirst) and the final orderBy one more — the melt
    // itself must add none
    assert(countIn(p, "Exchange") <= 3,
      s"the melt added an exchange:\n$p")
    // losslessness: melting the matrix and re-summing per user equals
    // the plain per-user event count
    val melted = SparkEntry.queries("ev_unpivot")(spark, dir)
      .groupBy(col("user_id")).agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = Tables(spark, dir, "events")
      .groupBy(col("user_id")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(melted == direct)
  }

  test("year inference (windowed): exactly one hash exchange on the group key") {
    val base = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        col("event_id").cast("string").as("Chron I"))
      .withColumn("Notes", lit(""))
    val out = YearInference.inferWindowed(base, mmsCol = "user_id",
      orderCols = _ => Seq(col("event_id")))
    val p = out.queryExecution.executedPlan.toString
    assert(countIn(p, "Exchange hashpartitioning") == 1, p)
    assert(countIn(p, "Exchange rangepartitioning") == 0, p)
    // the year probe regex is evaluated once per row, not re-inlined per use
    assert(countIn(p, "regexp_extract") <= 3, p)
  }

  test("split (windowed): one range exchange on MMS ID serves the window " +
    "and the global sort — no hash exchange, one Sort") {
    val path = getClass.getResource("/alma/fixture.csv").getPath
    val p = SplitStage(graft.sources.CsvStage.read(spark, path))
      .queryExecution.executedPlan.toString
    assert(countIn(p, "Exchange rangepartitioning\\(MMS ID") == 1, p)
    assert(countIn(p, "Exchange") == 1, p)
    assert(countIn(p, "hashpartitioning") == 0, p)
    assert(countIn(p, "Sort \\[") == 1, p)
  }

  test("alma_desc_parse / alma_chronj_norm: sorted on the raw keys with the " +
    "regex work above the one range exchange — the sampling job never runs it") {
    Seq("alma_desc_parse" -> "parse_description",
      "alma_chronj_norm" -> "regexp_replace").foreach { case (name, work) =>
      val p = plan(name)
      assert(countIn(p, "Exchange") == 1, p)
      assert(countIn(p, "Exchange rangepartitioning") == 1, p)
      val (above, below) = p.linesIterator.toSeq.span(!_.contains("Exchange"))
      assert(above.exists(_.contains(work)) && !below.exists(_.contains(work)), p)
    }
  }

  test("minhash LSH: signature computed once, one shuffle to the band buckets") {
    val df = graft.functions.Dedup.minhashCandidates(
      Tables(spark, dir, "documents"), k = 8, bands = 4)
    val p = df.queryExecution.executedPlan.toString
    // one scan of documents (no self-join paying the signature twice)
    assert(countIn(p, "FileScan parquet") == 1, p)
    // the md5 signature chain appears in one generator input only
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("simhash pairs: signature materialized once — self-join sides scan " +
    "checkpoint blocks, not parquet") {
    val df = graft.functions.Dedup.simhashNearDupPairs(
      Tables(spark, dir, "documents"), bits = 48, maxDist = 3)
    val p = df.queryExecution.executedPlan.toString
    // the signature frame is localCheckpoint-ed: both join sides read the
    // stored (id, sh) blocks; zero parquet scans survive into the join plan
    assert(countIn(p, "FileScan parquet") == 0, p)
    assert(countIn(p, "Scan ExistingRDD") == 2, p)
    // and no md5 signature evaluation remains above the checkpoint
    assert(!p.contains("md5"), p)
  }

  test("jaccard pairs: capped inverted index materialized once — no scan, " +
    "window, or shingle work above the checkpoint") {
    val df = graft.functions.Dedup.ngramJaccardPairs(
      Tables(spark, dir, "documents"), maxGramDf = 64)
    val p = df.queryExecution.executedPlan.toString
    assert(countIn(p, "FileScan parquet") == 0, p)
    assert(countIn(p, "Window") == 0, p)
    // sizes come from a partial-aggregated groupBy, not a second window
    assert(p.contains("partial_count") || p.contains("partial_"), p)
  }

  test("stratified sample: row_number quota plans as WindowGroupLimit — " +
    "groups truncate to k before the shuffle") {
    val df = graft.functions.TextAnalysis.stratifiedSample(
      Tables(spark, dir, "documents"), k = 5)
    val p = df.queryExecution.executedPlan.toString
    // Partial sits below the exchange (map-side truncation to k), Final
    // above it — the pair that bounds the shuffle to k rows per group
    assert(p.contains("row_number(), 5, Partial"), p)
    assert(p.contains("row_number(), 5, Final"), p)
  }

  test("skyline: no dominance self-join — windows plus the B-row prefix " +
    "frame only") {
    val p = plan("q14_skyline")
    assert(!p.contains("CartesianProduct"), p)
    // two level-1 window families + the level-2 prefix window
    assert(countIn(p, "Window") >= 3, p)
  }

  test("fuzzy pairs: the bucket shape has NO join at all — one shuffle " +
    "to variant buckets, pairs expand in-task") {
    val p = plan("dedup_fuzzy_names")
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p) // the explode expansions
  }

  test("pq adc: code-only scoring is a narrow scan into " +
    "TakeOrderedAndProject — zero exchanges") {
    val p = plan("sim_pq_adc")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(countIn(p, "Exchange") == 0, p)
  }

  test("histogram: partial aggregation before the one agg exchange") {
    val p = plan("ev_histogram")
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    assert(countIn(p, "HashAggregate") >= 2, p)
  }

  test("triangles: adjacency-intersection plan — no cartesian product, " +
    "no wedge-row join output") {
    val p = plan("q16_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("array_intersect"), p)
  }

  test("vec_dot_f: available from SQL via extensions, codegen-capable") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot_f(array(cast(1 as float), cast(2 as float)), " +
        "array(cast(3 as float), cast(4 as float))) AS d")
    assert(r.collect().head.getDouble(0) == 11.0)
  }

  test("dedup primitives available from SQL via extensions, equal to the " +
    "Column API") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import graft.functions.Dedup
    val r = spark.sql(
      "SELECT simhash('the quick brown fox', 48) AS sh, " +
        "shingles('a b c d', 2) AS sg, " +
        "minhash(shingles('a b c d', 2), 7) AS mh, " +
        "hamming_distance(7, 1) AS hd, " +
        "vec_l2_f(array(cast(1 as float)), array(cast(3 as float))) AS l2")
      .collect().head
    val api = Seq("x").toDF("t").select(
      Dedup.simhash(lit("the quick brown fox"), 48).as("sh"),
      Dedup.minhash(Dedup.shingles(lit("a b c d"), 2), 7).as("mh"))
      .collect().head
    assert(r.getLong(0) == api.getLong(0))
    assert(r.getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(r.getString(2) == api.getString(1))
    assert(r.getInt(3) == 2)
    assert(r.getDouble(4) == 4.0)
    // sizing args must be literals — a column there has no tree to build
    val err = intercept[Exception] {
      spark.sql("SELECT simhash('x', cast(rand() * 8 as int))").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("z_value available from SQL, equal to the Column API; bits must " +
    "be a literal") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT z_value(5, 2, 3) AS z").collect().head
    assert(r.getLong(0) == 25L) // x=101, y=010 → 011001
    val err = intercept[Exception] {
      spark.sql("SELECT z_value(1, 2, cast(rand() * 4 as int))").collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("hilbert_index available from SQL, equal to the Column API; " +
    "bits must be a literal") {
    GraftExtensions.register(spark)
    // 2-D, 2 bits: the curve visits (0,0)->(1,0)->(1,1)->(0,1) in the
    // first quadrant — index of (0,1) is 3 (LayoutSpec pins the full
    // grid walk; this pins the SQL reach)
    val viaSql = spark.sql(
      "SELECT hilbert_index(array(0L, 1L), 2) AS h").collect().head
    val viaApi = spark.range(1).select(
      graft.operators.Layout.hilbertValueN(
        Seq(org.apache.spark.sql.functions.lit(0L),
          org.apache.spark.sql.functions.lit(1L)), 2).as("h"))
      .collect().head
    assert(viaSql.getLong(0) == viaApi.getLong(0))
    val err = intercept[Exception] {
      spark.sql(
        "SELECT hilbert_index(array(1L, 2L), cast(rand() * 4 as int))")
        .collect()
    }
    assert(err.getMessage.contains("integer literal"))
  }

  test("vec_quantize_int8 available from SQL, equal to the Column API") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val r = spark.sql(
      "SELECT vec_quantize_int8(array(cast(0.5 as float), " +
        "cast(-1.0 as float), cast(0.25 as float))) AS q").collect().head
      .getStruct(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[Byte](1) == Seq[Byte](64, -127, 32))
    val api = graft.functions.Similarity.quantizeInt8(
      Seq((1L, Seq(0.5f, -1.0f, 0.25f))).toDF("vec_id", "embedding"))
      .select($"q_scale", $"q").as[(Double, Seq[Byte])].head()
    assert((r.getDouble(0), r.getSeq[Byte](1)) == api)
  }

  test("vec_dot_i8 available from SQL: exact integer dot, null on " +
    "length mismatch") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot_i8(array(cast(3 as tinyint), cast(-2 as tinyint)), " +
        "array(cast(10 as tinyint), cast(4 as tinyint))) AS d").head
    assert(r.getLong(0) == 22L)
    val n = spark.sql(
      "SELECT vec_dot_i8(array(cast(1 as tinyint)), " +
        "array(cast(1 as tinyint), cast(2 as tinyint))) AS d").head
    assert(n.isNullAt(0))
  }

  test("cms_estimate available from SQL against a hex-literal sketch; " +
    "sketch must be a binary literal") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val items = (1 to 30).map(i => s"w${i % 3}").toDF("g")
    val bytes = graft.functions.TextAnalysis.cmsSketch(items, "g")
    val hex = bytes.map("%02X".format(_)).mkString
    val r = spark.sql(s"SELECT cms_estimate('w1', X'$hex') AS e")
      .collect().head
    // exact count of w1 is 10; CMS never undercounts
    assert(r.getLong(0) >= 10L)
    val api = items.filter($"g" === "w1").limit(1)
      .select(graft.functions.TextAnalysis.cmsEstimate(bytes, $"g"))
      .as[Long].head()
    assert(r.getLong(0) == api)
    val err = intercept[Exception] {
      spark.sql("SELECT cms_estimate('x', cast('ab' as binary))")
        .collect()
    }
    assert(err.getMessage.contains("binary literal"), err.getMessage)
  }

  test("broadcast domain validation: no shuffle of the fact side") {
    val p = plan("alma_domain_validate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("decontamination: benchmark gram set broadcasts — the train-side " +
    "gram stream never shuffles for the join") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("weighted sampling: one-row total broadcasts, the gate is a " +
    "narrow filter — the corpus never hash-shuffles") {
    val p = plan("text_sample_weighted")
    // the totals frame broadcasts as a single row; the corpus side is
    // scanned and gated in place (only the final ORDER BY range-shuffles)
    assert(p.contains("IdentityBroadcastMode"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(countIn(p, "Exchange hashpartitioning") == 0, p)
  }

  test("incremental stats merge: partial+final around the union reuses " +
    "the per-side aggregation partitioning — two exchanges, not three") {
    val p = plan("ev_agg_incremental_stats")
    // base + delta each shuffle once for their keyed aggregation; the
    // merge's partial/final pair sits directly on the union with NO
    // third exchange (both children already hash on the key)
    assert(countIn(p, "Exchange hashpartitioning") == 2, p)
    // the sumsq state is exact decimal, never a float sum
    assert(p.contains("decimal(19,0)"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scanJoinPruned: a selective dim side prunes the fact FILE SET " +
    "through the stats and bloom sidecars (runtime filter) with the " +
    "join answer unchanged; an unindexed fact refuses") {
    import org.apache.spark.sql.SparkSession
    import graft.operators.Snapshots
    val s: SparkSession = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("plan_rtf_").toString

    // STATS leg: key-clustered fact, dim keys in a narrow range
    val statsTbl = s"$base/stats_fact"
    Snapshots.init(spark, statsTbl)
    Snapshots.commitClustered(spark,
      (1L to 1000L).map(k => (k, k * 3L)).toDF("k", "v"),
      statsTbl, "k", numFiles = 10, append = false)
    val sv = Snapshots.latestVersion(spark, statsTbl).get
    val dimRange = (150L to 180L).toDF("k")
    val prunedS = Snapshots.scanJoinPruned(spark, statsTbl, sv, "k",
      dimRange)
    val allFiles =
      Snapshots.readAsOf(spark, statsTbl, sv).inputFiles.length
    assert(prunedS.inputFiles.length < allFiles &&
      prunedS.inputFiles.length >= 1,
      s"stats leg admitted ${prunedS.inputFiles.length} of $allFiles")
    val got = prunedS.join(dimRange, Seq("k")).agg(sum($"v")).head.getLong(0)
    assert(got == (150L to 180L).map(_ * 3).sum,
      "pruning must never change the join answer")

    // BLOOM leg: unclustered high-card key — interval logic admits
    // everything, the dim key set's bloom probe prunes
    val bloomTbl = s"$base/bloom_fact"
    Snapshots.init(spark, bloomTbl)
    // shuffled so each file spans the whole key domain
    Snapshots.commitBloom(spark,
      (1L to 2000L).map(k => (k, k * 7L)).toDF("k", "v")
        .repartition(8, $"k"),
      bloomTbl, "k", append = false, expectedPerFile = 300L)
    val bv = Snapshots.latestVersion(spark, bloomTbl).get
    val dimPoints = Seq(13L, 77L).toDF("k")
    val prunedB = Snapshots.scanJoinPruned(spark, bloomTbl, bv, "k",
      dimPoints)
    val allB = Snapshots.readAsOf(spark, bloomTbl, bv).inputFiles.length
    assert(prunedB.inputFiles.length < allB,
      s"bloom leg admitted ${prunedB.inputFiles.length} of $allB — " +
        "the scattered key set must prune what intervals cannot")
    val gotB = prunedB.join(dimPoints, Seq("k")).agg(sum($"v"))
      .head.getLong(0)
    assert(gotB == (13L + 77L) * 7L)
    // an EMPTY dim side is an empty face, zero files opened
    assert(Snapshots.scanJoinPruned(spark, bloomTbl, bv, "k",
      Seq.empty[Long].toDF("k")).count() == 0L)

    // no sidecar at all → loud refusal, never a silent full scan
    val plainTbl = s"$base/plain_fact"
    Snapshots.init(spark, plainTbl)
    Snapshots.commit(spark, Seq((1L, 1L)).toDF("k", "v"),
      plainTbl, append = false)
    val e = intercept[IllegalArgumentException] {
      Snapshots.scanJoinPruned(spark, plainTbl, 0L, "k", dimPoints)
    }
    assert(e.getMessage.contains("stats or bloom"), e.getMessage)
  }
}
