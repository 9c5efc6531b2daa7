package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.{Dedup, Kmv, TextAnalysis}
import graft.operators.Stats
import graft.streaming.{Sessionize, StreamGate}

import graft.queries.DuckSql._
import graft.queries.Fixtures._

/** The `text_*` family: text analysis, filtering, sampling, tokenization
  * and decontamination over documents. */
private[graft] object TextQueries {

  // hex→u32 by digit arithmetic (the mm_features strpos pattern);
  // weight = the text_mixture formula inline
  // shared with text_stream_mixture_apply
  private val textMixtureApplyOracle = {
    val hex8 = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")
    s"""WITH p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN $duckNorm = '' THEN 0
       |    ELSE CAST(len($duckWords) AS BIGINT) END) AS BIGINT) AS n_tokens
       | FROM documents GROUP BY source),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
       |  CAST(count(*) AS BIGINT) AS nsrc FROM p),
       |w AS (SELECT p.source,
       |  least(1.0, CAST(t.total AS DOUBLE)
       |    / CAST(t.nsrc * p.n_tokens AS DOUBLE)) AS weight
       | FROM p, t),
       |d AS (SELECT doc_id, source,
       |  substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       | FROM documents)
       |SELECT d.doc_id, d.source,
       | CAST($hex8 AS DOUBLE) / 4294967296.0 AS u, w.weight
       |FROM d JOIN w USING (source)
       |WHERE CAST($hex8 AS DOUBLE) / 4294967296.0 < w.weight
       |ORDER BY d.doc_id""".stripMargin
  }

  // same md5-fraction gate construction as text_mixture_apply; p is
  // one IEEE division of exact BIGINTs on both engines
  // shared with text_stream_sample_weighted
  private val textSampleWeightedOracle = {
    val hex8 = (1 to 8).map { i =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
    }.mkString("(", " + ", ")")
    s"""WITH t AS (SELECT CAST(sum(CAST(len(text) AS BIGINT)) AS BIGINT)
       |  AS total FROM documents),
       |d AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS score,
       |  substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
       | FROM documents)
       |SELECT d.doc_id, d.score,
       | least(1.0, CAST(d.score * 200 AS DOUBLE)
       |   / CAST(t.total AS DOUBLE)) AS p,
       | CAST($hex8 AS DOUBLE) / 4294967296.0 AS u
       |FROM d, t
       |WHERE CAST($hex8 AS DOUBLE) / 4294967296.0
       |  < least(1.0, CAST(d.score * 200 AS DOUBLE)
       |      / CAST(t.total AS DOUBLE))
       |ORDER BY d.doc_id""".stripMargin
  }

  // shared with text_stream_decontaminate, text_decontaminate_bloom
  private val textDecontaminateOracle =
    s"""WITH b AS (SELECT DISTINCT unnest(list_distinct($duckShingles3)) AS gram
       | FROM documents WHERE doc_id % 50 = 0),
       |t AS (SELECT doc_id, unnest(list_distinct($duckShingles3)) AS gram
       | FROM documents WHERE doc_id % 50 <> 0)
       |SELECT t.doc_id,
       | CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       | sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
       |FROM t LEFT JOIN b USING (gram)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("text_lm_score", (s, dir) => {
      // count-based bigram LM familiarity scoring — the exact-integer
      // analog of perplexity filtering (CCNet-style: train a cheap LM
      // on trusted text, score candidates, gate on the score). The LM
      // trains on even doc_ids (bigram counts c2, unigram counts c1);
      // each held-out doc scores Σ (10^6·c2(w1,w2)) div c1(w1) over its
      // bigram POSITIONS — integer division both engines compute
      // identically, no IEEE logs whose last ulp differs per libm.
      // The count-table joins carry NO broadcast hint on purpose:
      // a bigram table is CORPUS-sized, not vocabulary-sized (it grows
      // with the trusted slice — a Wikipedia-scale LM's bigram table
      // exceeds any broadcast threshold), so AQE's runtime sizing
      // decides — broadcast while the LM is small, shuffle join once
      // it isn't. A hard hint here would OOM the driver exactly when
      // the trusted corpus is scaled up.
      val docs = par(s)(t(s, dir, "documents"))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val trainBigrams = train
        .select(explode(Dedup.shingles(col("text"), 2)).as("bg"))
        .filter(col("bg").contains(" "))
        .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val trainWords = train
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(explode(TextAnalysis.words(col("text"))).as("w1"))
        .filter(col("w1") =!= "")
        .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), 2)).as("bg"))
        .filter(col("bg").contains(" "))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(trainBigrams, Seq("bg"), "left")
        .join(trainWords, Seq("w1"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_hit"),
          coalesce(sum(when(col("c2").isNotNull,
            expr("(1000000 * c2) div c1")).otherwise(0L)), lit(0L))
            .as("score"))
        .orderBy(col("doc_id"))
    },
      // bigram counts from even docs, unigram prefix counts, then the
      // held-out docs' positional bigrams scored by exact integer
      // division — unseen bigrams contribute 0, sub-2-word docs have
      // no bigram rows on either side
      oracle = {
        s"""WITH tb AS (SELECT gram AS bg, CAST(count(*) AS BIGINT) AS c2
           | FROM (SELECT unnest($duckShingles2) AS gram FROM documents
           |   WHERE doc_id % 2 = 0)
           | WHERE gram LIKE '% %' GROUP BY 1),
           |tw AS (SELECT word AS w1, CAST(count(*) AS BIGINT) AS c1
           | FROM (SELECT unnest($duckWords) AS word FROM documents
           |   WHERE doc_id % 2 = 0 AND $duckNorm <> '')
           | WHERE word <> '' GROUP BY 1),
           |hb AS (SELECT doc_id, gram AS bg,
           |  split_part(gram, ' ', 1) AS w1
           | FROM (SELECT doc_id, unnest($duckShingles2) AS gram
           |   FROM documents WHERE doc_id % 2 = 1)
           | WHERE gram LIKE '% %')
           |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           | CAST(sum(CASE WHEN tb.c2 IS NOT NULL THEN 1 ELSE 0 END)
           |  AS BIGINT) AS n_hit,
           | CAST(coalesce(sum(CASE WHEN tb.c2 IS NOT NULL
           |   THEN (1000000 * tb.c2) // tw.c1 ELSE 0 END), 0)
           |  AS BIGINT) AS score
           |FROM hb h LEFT JOIN tb ON h.bg = tb.bg
           | LEFT JOIN tw ON h.w1 = tw.w1
           |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin
      }),

    QueryDef("text_pack", (s, dir) => {
      // sequence packing: per-source concatenate-and-chunk at 512 tokens,
      // exact integer offsets; pack_id is the chunk the doc starts in
      TextAnalysis.packByTokenBudget(par(s)(t(s, dir, "documents")),
        budgetTokens = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_off"), col("pack_id"))
        .orderBy(col("doc_id"))
    },
      // exclusive running token sum per source = start offset; integer
      // division by the budget = pack (duckdb SUM(BIGINT) is HUGEINT —
      // cast back so dtypes match the engine's long)
      oracle =
        s"""WITH t AS (SELECT doc_id, source,
           | (CASE WHEN $duckNorm = '' THEN 0 ELSE CAST(len($duckWords) AS BIGINT) END) AS n_tokens
           | FROM documents),
           |o AS (SELECT doc_id, source, n_tokens,
           | CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
           |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |  0) AS BIGINT) AS start_off
           | FROM t)
           |SELECT doc_id, source, n_tokens, start_off,
           | CAST(start_off // 512 AS BIGINT) AS pack_id
           |FROM o ORDER BY doc_id""".stripMargin),

    QueryDef("text_quality_filter", (s, dir) => {
      // rank-based per-source quality gate: keep each source's top half
      // by alpha ratio — no global threshold to tune, robust to
      // per-source scale drift. alpha_ratio is materialized as a column
      // BEFORE the window (CollapseProject would re-inline the regex
      // expression into every window comparison otherwise).
      val quality = TextAnalysis.qualityColumns(col("text")).toMap
      val scored = par(s)(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"),
          quality("alpha_ratio").as("alpha_ratio"))
      TextAnalysis.percentileRank(scored, "alpha_ratio")
        .filter(col("prank") >= 0.5)
        .orderBy(col("doc_id"))
    },
      // ANSI percent_rank on the identically-computed alpha ratio: ties
      // and the (rank-1)/(n-1) definition agree across engines, so the
      // 0.5 gate keeps the same rows
      oracle =
        """WITH q AS (SELECT doc_id, source,
          | CASE WHEN CAST(length(text) AS BIGINT) > 0
          |  THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)::DOUBLE
          |   / CAST(length(text) AS BIGINT)::DOUBLE
          |  ELSE 0.0 END AS alpha_ratio
          | FROM documents),
          |r AS (SELECT doc_id, source, alpha_ratio,
          | percent_rank() OVER (PARTITION BY source ORDER BY alpha_ratio) AS prank
          | FROM q)
          |SELECT doc_id, source, alpha_ratio, prank FROM r
          |WHERE prank >= 0.5 ORDER BY doc_id""".stripMargin),

    QueryDef("text_mixture", (s, dir) => {
      // per-source downsampling rates toward a uniform token mixture:
      // one combinable agg over the corpus, then a #sources-row window
      TextAnalysis.sourceMixture(par(s)(t(s, dir, "documents")))
        .orderBy(col("source"))
    },
      // share and weight are IEEE divisions of exact BIGINT sums; the
      // uniform target factor is 1/count(DISTINCT source)
      oracle =
        s"""WITH p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN $duckNorm = '' THEN 0
           |    ELSE CAST(len($duckWords) AS BIGINT) END) AS BIGINT) AS n_tokens
           | FROM documents GROUP BY source),
           |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
           |  CAST(count(*) AS BIGINT) AS nsrc FROM p)
           |SELECT p.source, p.n_docs, p.n_tokens,
           | CAST(p.n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           | least(1.0, CAST(t.total AS DOUBLE)
           |   / CAST(t.nsrc * p.n_tokens AS DOUBLE)) AS weight
           |FROM p, t ORDER BY p.source""".stripMargin),

    QueryDef("text_mixture_apply", (s, dir) => {
      // the mixing loop CLOSED: sourceMixture's per-source downsampling
      // weights actually gate the corpus. Keep a doc iff its salted-hash
      // fraction u ∈ [0,1) falls below its source's weight —
      // deterministic (rerun-stable, join/repartition-proof, unlike
      // rand()), unbiased within source, and exactly the advertised
      // rate in expectation. The weights frame is one row per source —
      // broadcast by size. u = first 8 md5 hex digits / 2^32, the same
      // portable construction the deterministic split uses.
      val docs = par(s)(t(s, dir, "documents"))
      val weights = TextAnalysis.sourceMixture(docs)
        .select(col("source"), col("weight"))
      val u = conv(substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("double") / lit(4294967296.0)
      docs.join(broadcast(weights), Seq("source"))
        .withColumn("u", u)
        .filter(col("u") < col("weight"))
        .select(col("doc_id"), col("source"), col("u"), col("weight"))
        .orderBy(col("doc_id"))
    },
      oracle = textMixtureApplyOracle),

    QueryDef("text_sample_weighted", (s, dir) => {
      // importance sampling inside a row budget: keep probability ∝
      // document length (score = char count, an exact long), expected
      // kept ≈ 200 of 500 docs biased long. One total + one-row
      // broadcast + narrow hash gate — no corpus shuffle.
      val docs = par(s)(t(s, dir, "documents"))
        .withColumn("score", length(col("text")).cast("long"))
      TextAnalysis.sampleWeighted(docs, "score", targetRows = 200)
        .select(col("doc_id"), col("score"), col("p"), col("u"))
        .orderBy(col("doc_id"))
    },
      oracle = textSampleWeightedOracle),

    QueryDef("text_token_budget", (s, dir) => {
      // token-budget capped sampling: per source, docs admit in salted-
      // hash order until 700 tokens fill (the first doc to cross the
      // line still ships). One window per group, no global sort.
      TextAnalysis.sampleTokenBudget(par(s)(t(s, dir, "documents")),
        budgetTokens = 700)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("tokens_before"))
        .orderBy(col("doc_id"))
    },
      // identical hash order + running-sum-before replay; the straddling
      // doc ships on both engines (tokens_before < budget, not cumsum)
      oracle =
        s"""WITH d AS (SELECT doc_id, source,
           |  (CASE WHEN $duckNorm = '' THEN 0
           |    ELSE CAST(len($duckWords) AS BIGINT) END) AS n_tokens,
           |  md5('budget:' || CAST(doc_id AS VARCHAR)) AS h
           | FROM documents),
           |c AS (SELECT doc_id, source, n_tokens,
           |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
           |    ORDER BY h, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |   AS BIGINT) AS tokens_before
           | FROM d)
           |SELECT doc_id, source, n_tokens, tokens_before
           |FROM c WHERE tokens_before < 700
           |ORDER BY doc_id""".stripMargin),

    QueryDef("text_stream_mixture_apply", (s, dir) => {
      // the batch-train / stream-apply twin of text_mixture_apply: the
      // per-source downsampling weights train on the batch corpus (a
      // #sources-row static frame, broadcast), and arriving docs join it
      // stream-static — STATELESS: no watermark, no state store, the
      // at-ingest mixing gate. The salted-hash keep decision depends only
      // on (doc_id, weight), so a full replay equals the batch operator
      // row-for-row and both share an oracle.
      Tables.configure(s)
      val weights = TextAnalysis.sourceMixture(par(s)(t(s, dir, "documents")))
        .select(col("source"), col("weight"))
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw)
        .parquet(streamGlob(s"$dir/documents.parquet"))
      val u = conv(substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("double") / lit(4294967296.0)
      val gated = stream.join(broadcast(weights), Seq("source"))
        .withColumn("u", u)
        .filter(col("u") < col("weight"))
        .select(col("doc_id"), col("source"), col("u"), col("weight"))
      Sessionize.runToMemory(s, gated, "text_stream_mix",
        OutputMode.Append, statePartitions = 8)
        .orderBy(col("doc_id"))
    },
      // same rows as text_mixture_apply by construction, so its oracle verbatim
      oracle = textMixtureApplyOracle),

    QueryDef("text_stream_sample_weighted", (s, dir) => {
      // the batch-train / stream-apply twin of text_sample_weighted: the
      // score total trains on the batch corpus (materialized one-row
      // frame), the stream gates arriving docs statelessly against the
      // broadcast total — no watermark, no state store, and over a full
      // replay the kept set equals the batch operator's by construction,
      // so both share an oracle.
      Tables.configure(s)
      def scoreOf(df: DataFrame) = df.select(col("doc_id"),
        length(col("text")).cast("long").as("score"))
      val totals = TextAnalysis.sampleWeightedTotals(
        scoreOf(s.read.parquet(s"$dir/documents.parquet")), "score")
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw)
        .parquet(streamGlob(s"$dir/documents.parquet"))
      val gated = TextAnalysis.sampleWeightedApply(
        scoreOf(stream), totals, "score", targetRows = 200)
      Sessionize.runToMemory(s,
        gated.select(col("doc_id"), col("score"), col("p"), col("u")),
        "text_stream_sw", OutputMode.Append, statePartitions = 8)
        .orderBy(col("doc_id"))
    },
      // same rows as text_sample_weighted by construction, so its oracle verbatim
      oracle = textSampleWeightedOracle),

    QueryDef("text_pii_scrub", (s, dir) => {
      // PII redaction + per-category audit counts. The corpus text is
      // PII-free synthetic prose, so the query deterministically plants
      // an email, URL, phone, and IP derived from (doc_id, source) —
      // both engines build the identical string, then redact it, putting
      // the regex semantics themselves (not just a no-op pass) under the
      // hash. Pure codegen'd projection either way.
      val d = par(s)(t(s, dir, "documents"))
        .withColumn("pii_text", concat(
          lit("contact u"), col("doc_id").cast("string"),
          lit("@"), col("source"), lit(".example.com or http://"),
          col("source"), lit(".example.com/d/"), col("doc_id").cast("string"),
          lit(" tel 555-0"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" host 10."), (col("doc_id") % 200).cast("string"),
          lit(".0."), (col("doc_id") % 250).cast("string"),
          lit(" "), col("text")))
      TextAnalysis.piiCounts(col("pii_text"))
        .foldLeft(d) { case (acc, (n, c)) => acc.withColumn(n, c) }
        .select(col("doc_id"),
          TextAnalysis.scrubPii(col("pii_text")).as("scrubbed"),
          col("n_url"), col("n_email"), col("n_ip"), col("n_phone"))
        .orderBy(col("doc_id"))
    },
      // both engines synthesize the identical PII-laden string, then
      // redact: patterns and replacement order come verbatim from
      // TextAnalysis.piiPatterns (single-quoted DuckDB strings are raw,
      // so the compiled Scala patterns pass through unchanged)
      oracle = {
        val piiText =
          "'contact u' || doc_id || '@' || source || '.example.com" +
            " or http://' || source || '.example.com/d/' || doc_id ||" +
            " ' tel 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')" +
            " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||" +
            " ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' ||" +
            " CAST(doc_id % 250 AS VARCHAR) || ' ' || text"
        val scrub = TextAnalysis.piiPatterns.foldLeft("pt") {
          case (acc, (_, re, repl)) =>
            s"regexp_replace($acc, '$re', '$repl', 'g')"
        }
        val counts = TextAnalysis.piiPatterns.map { case (name, re, _) =>
          s"CAST(len(regexp_extract_all(pt, '$re')) AS BIGINT) AS n_$name"
        }.mkString(", ")
        s"""WITH p AS (SELECT doc_id, $piiText AS pt FROM documents)
           |SELECT doc_id, $scrub AS scrubbed, $counts
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_len_quantiles", (s, dir) => {
      // corpus length-distribution diagnostic: exact per-source token
      // quantiles (exact for the oracle; approx_percentile is the same
      // call with approx = true — the mergeable-sketch path for 100 TB)
      TextAnalysis.lengthQuantiles(par(s)(t(s, dir, "documents")),
        Seq(0.25, 0.5, 0.75, 0.9))
        .select(col("source"),
          col("qs")(0).as("p25"), col("qs")(1).as("p50"),
          col("qs")(2).as("p75"), col("qs")(3).as("p90"))
        .orderBy(col("source"))
    },
      // exact interpolated quantiles: Spark percentile and DuckDB
      // quantile_cont share the p·(n−1) linear-interpolation definition
      oracle =
        s"""WITH tk AS (SELECT source, CASE WHEN $duckNorm = '' THEN 0
           |  ELSE CAST(len($duckWords) AS BIGINT) END AS n FROM documents)
           |SELECT source,
           | quantile_cont(n, 0.25) AS p25, quantile_cont(n, 0.5) AS p50,
           | quantile_cont(n, 0.75) AS p75, quantile_cont(n, 0.9) AS p90
           |FROM tk GROUP BY source ORDER BY source""".stripMargin),

    QueryDef("text_chunk", (s, dir) => {
      // sliding-window context chunking: 32-token chunks every 16 tokens
      // (50% overlap), short tail chunks kept — a narrow per-doc fan-out,
      // no shuffle
      TextAnalysis.chunkByTokens(par(s)(t(s, dir, "documents")),
        chunkTokens = 32, stride = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // chunk starts 0,16,32,… while start < len(words); duckdb list
      // slice is 1-based inclusive and clamps like Spark's slice
      oracle =
        s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
           |s AS (SELECT doc_id, ws,
           |  unnest(range(0, len(ws), 16)) AS start_tok FROM w)
           |SELECT doc_id,
           | CAST(start_tok // 16 AS BIGINT) AS chunk_idx,
           | CAST(start_tok AS BIGINT) AS start_tok,
           | CAST(least(32, len(ws) - start_tok) AS BIGINT) AS n_tok,
           | array_to_string(ws[start_tok + 1 : start_tok + 32], ' ') AS chunk_text
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),

    QueryDef("text_top_grams", (s, dir) => {
      // global heavy hitters: top-20 word-2-grams by occurrence count
      // (non-distinct — every occurrence counts); partial-agg explode →
      // count → TakeOrderedAndProject, no global sort
      par(s)(t(s, dir, "documents"))
        .select(explode(Dedup.shingles(col("text"), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20)
    },
      oracle =
        s"""SELECT gram, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT unnest($duckShingles2) AS gram FROM documents)
           |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin),

    QueryDef("text_retrieve", (s, dir) => {
      // seed-based retrieval: every doc_id%100==0 doc queries the corpus
      // for its top-10 by exact integer rarity-weighted gram overlap —
      // the targeted-decontamination / data-selection primitive; the
      // self-match ranks first by construction and stays (deterministic)
      val docs = par(s)(t(s, dir, "documents"))
      TextAnalysis.retrieveTopK(docs,
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"), col("text").as("qtext")),
        k = 10)
        .orderBy(col("qid"), col("rank"))
    },
      // same inverted-index retrieval replayed: integer floor-division
      // weights, long sums, row_number ties on doc_id
      oracle =
        s"""WITH g AS (SELECT doc_id,
           |  unnest(list_distinct($duckShingles2)) AS gram
           | FROM documents),
           |nn AS (SELECT count(*) AS nd FROM documents),
           |df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
           | FROM g GROUP BY gram),
           |q AS (SELECT doc_id AS qid, gram FROM g WHERE doc_id % 100 = 0),
           |w AS (SELECT q.qid, q.gram, (1000 * nn.nd) // df.df AS w
           | FROM q JOIN df USING (gram) CROSS JOIN nn),
           |sc AS (SELECT w.qid, g.doc_id,
           |  CAST(sum(w.w) AS BIGINT) AS score
           | FROM g JOIN w ON g.gram = w.gram GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score,
           |  CAST(row_number() OVER (PARTITION BY qid
           |   ORDER BY score DESC, doc_id) AS INT) AS rank FROM sc)
           |SELECT qid, doc_id, score, rank FROM r
           |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    QueryDef("text_heavy_grams", (s, dir) => {
      // exact frequent grams behind the CMS gate: the sketch-probe
      // filter drops light grams map-side (no false negatives — CMS
      // only overcounts), the exact count over the surviving sliver
      // clears the gate's false positives; answer == plain groupBy
      TextAnalysis.heavyGrams(par(s)(t(s, dir, "documents")), n = 2,
        minCount = 30L)
        .orderBy(col("gram"))
    },
      // the plain threshold count — the sketch gate may drop work, never
      // rows
      oracle =
        s"""SELECT gram, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT unnest($duckShingles2) AS gram FROM documents)
           |GROUP BY gram HAVING count(*) >= 30 ORDER BY gram""".stripMargin),

    QueryDef("text_stream_quality_filter", (s, dir) => {
      // batch-train / stream-apply: a batch pass trains per-source
      // rank thresholds (a percentile needs the whole corpus), the
      // stream gates docs against the broadcast threshold table —
      // stateless, no watermark, and by the min-kept-value threshold
      // construction the admitted set is EXACTLY the batch
      // text_quality_filter's (same oracle contract)
      Tables.configure(s)
      val quality = TextAnalysis.qualityColumns(col("text")).toMap
      def scoreOf(df: DataFrame) = df.select(col("doc_id"), col("source"),
        quality("alpha_ratio").as("alpha_ratio"))
      val thresholds = StreamGate.rankThresholds(
        scoreOf(s.read.parquet(s"$dir/documents.parquet")), "alpha_ratio")
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw)
        .parquet(streamGlob(s"$dir/documents.parquet"))
      val gated = StreamGate.applyThresholds(
        scoreOf(stream), thresholds, "alpha_ratio")
      Sessionize.runToMemory(s, gated.select(col("doc_id"), col("source")),
        "text_stream_qf", OutputMode.Append, statePartitions = 8)
        .orderBy(col("doc_id"))
    },
      // same rank-gate contract as text_quality_filter (the min-kept-value
      // threshold reproduces it exactly), projected to the stream
      // output's (doc_id, source)
      oracle =
        """WITH q AS (SELECT doc_id, source,
          | CASE WHEN CAST(length(text) AS BIGINT) > 0
          |  THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)::DOUBLE
          |   / CAST(length(text) AS BIGINT)::DOUBLE
          |  ELSE 0.0 END AS alpha_ratio
          | FROM documents),
          |r AS (SELECT doc_id, source, alpha_ratio,
          | percent_rank() OVER (PARTITION BY source ORDER BY alpha_ratio) AS prank
          | FROM q)
          |SELECT doc_id, source FROM r
          |WHERE prank >= 0.5 ORDER BY doc_id""".stripMargin),

    QueryDef("text_url_domains", (s, dir) => {
      // per-domain URL stats from raw markup: each doc carries one link
      // whose host is closed-form in doc_id (site{id % 7}.example.com),
      // so the engine must extract + parse real URLs while the oracle
      // counts arithmetically — the blocklist/domain-mixing input
      val id = col("doc_id").cast("string")
      val raw = concat(
        lit("<a href=\"https://site"),
        pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example.com/d/"), id, lit("?r=1\">x</a> <p>"),
        col("text"), lit("</p>"))
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(TextAnalysis.extractUrls(raw)).as("url"))
        .select(col("doc_id"), TextAnalysis.urlDomain(col("url")).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    },
      // the engine extracts + parses real URLs from markup; the oracle
      // counts the closed-form hosts arithmetically
      oracle =
        """SELECT 'site' || (doc_id % 7) || '.example.com' AS domain,
          | CAST(count(*) AS BIGINT) AS n_urls,
          | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    QueryDef("text_chunk_overlap", (s, dir) => {
      // fixed-size overlapping token windows — the RAG/pretraining
      // chunking op (size 32, stride 24 → 8-token overlap): chunk
      // starts are a per-doc sequence(0, n−1, stride), each chunk is a
      // SLICE of the one materialized words array — pure narrow
      // expressions, no shuffle until the final sort; trailing
      // fragments keep their honest (shorter) token count. Chunks
      // travel as md5 digests — the dedup/jaccard layers downstream
      // key on hashes, and the gate compares them engine-to-engine.
      val size32 = lit(32)
      val stride = 24
      par(s)(t(s, dir, "documents"))
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
        .withColumn("st",
          explode(sequence(lit(0), size(col("ws")) - 1, lit(stride))))
        .select(col("doc_id"),
          expr(s"st div $stride").cast("long").as("chunk_idx"),
          least(size32, size(col("ws")) - col("st")).cast("long")
            .as("n_tokens"),
          md5(concat_ws(" ", slice(col("ws"), col("st") + 1, size32)))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // the same start-sequence + list-slice chunking; DuckDB's range()
      // excludes its bound where Spark's sequence() includes it, so the
      // bounds differ by one to generate the same start set
      oracle =
        s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents
           |  WHERE $duckNorm <> ''),
           |s AS (SELECT doc_id, ws,
           |  CAST(unnest(range(0, len(ws), 24)) AS BIGINT) AS st FROM w)
           |SELECT doc_id, st // 24 AS chunk_idx,
           | CAST(least(32, len(ws) - st) AS BIGINT) AS n_tokens,
           | md5(array_to_string(ws[st+1:st+32], ' ')) AS chunk_md5
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),

    QueryDef("text_url_canonical", (s, dir) => {
      // URL-level dedup, the cheapest tier of crawl curation: four
      // messy spellings of each resource (default port + uppercase
      // host, tracking params, fragments, https:443 sibling) are
      // constructed closed-form per doc, canonicalized by the pure
      // expression chain, and grouped — the oracle replays the exact
      // regex surgery in SQL, so every collapse is engine-checked
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"), messyUrl.as("raw"))
        .select(col("doc_id"), col("raw"),
          TextAnalysis.canonicalizeUrl(col("raw")).as("url"))
        .groupBy(col("url"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("raw")).as("n_raw_forms"))
        .orderBy(col("url"))
    },
      // the same canonicalization chain replayed in DuckDB's RE2 (the
      // patterns avoid lookarounds precisely so both engines agree);
      // DuckDB regexp_replace needs the explicit 'g' flag on the only
      // rule with several occurrences per string
      oracle =
        """WITH r AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 3 THEN 'HTTPS://Site' ELSE 'HTTP://Site' END
          |  || (doc_id % 7) || '.Example.COM'
          |  || CASE WHEN doc_id % 4 = 3 THEN ':443' ELSE ':80' END
          |  || '/p' || (doc_id % 3) || '/'
          |  || CASE doc_id % 4 WHEN 1 THEN '?utm_source=x&fbclid=y'
          |     WHEN 2 THEN '?a=1&utm_campaign=z#frag'
          |     WHEN 3 THEN '#sec' ELSE '' END AS raw
          | FROM documents),
          |nf AS (SELECT doc_id, raw, regexp_replace(raw, '#.*', '') AS u FROM r),
          |lh AS (SELECT doc_id, raw,
          |  lower(regexp_extract(u, '(?i)^(https?://[^/?#]+)', 1))
          |   || regexp_replace(u, '(?i)^https?://[^/?#]+', '') AS u FROM nf),
          |np AS (SELECT doc_id, raw,
          |  regexp_replace(regexp_replace(u,
          |   '^(http://[^/:?#]+):80($|[/?#].*)', '\1\2'),
          |   '^(https://[^/:?#]+):443($|[/?#].*)', '\1\2') AS u FROM lh),
          |nt AS (SELECT doc_id, raw,
          |  regexp_replace(regexp_replace(regexp_replace(u,
          |   '&(utm_[^=&]*|fbclid|gclid)=[^&]*', '', 'g'),
          |   '\?(utm_[^=&]*|fbclid|gclid)=[^&]*&', '?'),
          |   '\?(utm_[^=&]*|fbclid|gclid)=[^&]*$', '') AS u FROM np),
          |c AS (SELECT doc_id, raw, regexp_replace(u, '/$', '') AS url FROM nt)
          |SELECT url, CAST(count(*) AS BIGINT) AS n_urls,
          | CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_forms
          |FROM c GROUP BY url ORDER BY url""".stripMargin),

    QueryDef("text_sample_topk", (s, dir) => {
      // exact-k global sample: smallest k salted hashes, id tie-break;
      // plans as TakeOrderedAndProject (map-side top-k, no global sort)
      TextAnalysis.sampleExactK(par(s)(t(s, dir, "documents")), k = 100)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // identical salted-hash order on both engines (md5 hex strings)
      oracle =
        """SELECT doc_id, source FROM (
          | SELECT doc_id, source FROM documents
          | ORDER BY md5('exact:' || CAST(doc_id AS VARCHAR)), doc_id
          | LIMIT 100)
          |ORDER BY doc_id""".stripMargin),

    QueryDef("text_strip_html", (s, dir) => {
      // raw-web ingest: each doc is wrapped in deterministic markup
      // (style + script blocks with stray '<' inside, tags, double-escaped
      // entities, an href URL) and the engine must recover the prose via
      // stripMarkup and the URLs via extractUrls; the oracle builds the
      // identical wrap and replicates the RE2-portable chain verbatim
      val id = col("doc_id").cast("string")
      val wrapped = concat(
        lit("<html><head><style type=\"text/css\">p { color: red; }" +
          "</style></head><body><h1>Doc "), id,
        lit("</h1><a href=\"https://example.com/d/"), id,
        lit("?ref=corpus\">link</a><p>Q&amp;A &lt;3 "), col("text"),
        lit("</p><script>if (1 < 2) { alert(\"x&y\"); }" +
          "</script></body></html>"))
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.stripMarkup(wrapped).as("clean"),
          concat_ws(",", TextAnalysis.extractUrls(wrapped)).as("urls_csv"))
        .orderBy(col("doc_id"))
    },
      // same wrap, same RE2-portable strip chain: blocks -> tags ->
      // entities (amp LAST) -> whitespace collapse; URL extraction runs
      // on the RAW markup (stripMarkup eats hrefs)
      oracle =
        """WITH w AS (SELECT doc_id,
          | '<html><head><style type="text/css">p { color: red; }</style></head><body><h1>Doc '
          |  || doc_id || '</h1><a href="https://example.com/d/' || doc_id
          |  || '?ref=corpus">link</a><p>Q&amp;A &lt;3 ' || text
          |  || '</p><script>if (1 < 2) { alert("x&y"); }</script></body></html>' AS raw
          | FROM documents)
          |SELECT doc_id,
          | trim(regexp_replace(
          |  replace(replace(replace(replace(replace(replace(
          |   regexp_replace(regexp_replace(raw,
          |     '(?is)<(script|style)[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
          |     '(?s)<[^>]*>', ' ', 'g'),
          |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          |   '&nbsp;', ' '), '&amp;', '&'),
          |  '\s+', ' ', 'g')) AS clean,
          | array_to_string(regexp_extract_all(raw,
          |  'https?://[^\s<>"'']+', 0), ',') AS urls_csv
          |FROM w ORDER BY doc_id""".stripMargin),

    QueryDef("text_oov", (s, dir) => {
      // per-doc OOV rate vs the corpus's learned top-16 vocabulary —
      // the fixture corpus has ~31 distinct normalized terms, so 16
      // actually exercises the LIMIT boundary and produces real OOV
      // hits (a vocab above the distinct-term count would make the
      // query degenerate: every n_oov = 0); the (count desc, term)
      // total order makes the boundary deterministic cross-engine, and
      // the ratio is one IEEE division of exact integer counts
      TextAnalysis.oovRate(par(s)(t(s, dir, "documents")), vocabSize = 16)
        .orderBy(col("doc_id"))
    },
      // top-16 vocabulary by the same (count desc, term) total order
      // (below the fixture's ~31 distinct terms, so OOV hits are real);
      // left join marks OOV terms, ratio = IEEE division of exact counts
      oracle =
        s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
           |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
           |v AS (SELECT term FROM (
           |  SELECT term, count(*) AS n FROM t GROUP BY 1
           |  ORDER BY n DESC, term LIMIT 16)),
           |s AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
           | FROM t LEFT JOIN v ON t.term = v.term GROUP BY 1)
           |SELECT doc_id, n_tokens, n_oov,
           | n_oov::DOUBLE / n_tokens::DOUBLE AS oov_rate
           |FROM s ORDER BY doc_id""".stripMargin),

    QueryDef("text_vocab", (s, dir) => {
      // per-source vocabulary profile, exact path — hash-comparable
      // cross-engine. The 100-TB default is vocabProfile(approx = true)
      // (HLL++ sketch, bounded state, map-side mergeable), spec-tested
      // against the exact counts at its documented error bound because
      // sketch estimates are implementation-specific.
      TextAnalysis.vocabProfile(par(s)(t(s, dir, "documents")))
        .orderBy(col("source"))
    },
      oracle =
        s"""WITH tok AS (SELECT source, unnest($duckWords) AS term FROM documents)
           |SELECT source, count(*) AS n_tokens,
           | count(DISTINCT term) AS n_terms,
           | CAST(count(DISTINCT term) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |  AS type_token_ratio
           |FROM tok WHERE term <> '' GROUP BY source ORDER BY source""".stripMargin),

    QueryDef("text_tfidf", (s, dir) => {
      // per-doc top-3 salient terms: tf·(N+1)/(df+1) rarity weighting
      // (log-free so scores hash-match across engines); the per-doc rank
      // plans as WindowGroupLimit
      TextAnalysis.topTfIdf(par(s)(t(s, dir, "documents")), k = 3)
        .orderBy(col("doc_id"), col("term_rank"))
    },
      // same inverted-index arithmetic: tf per (doc, term), df over the
      // distinct tf frame, score = one IEEE division of exact integer
      // products (no ln(), whose last ulp is engine-specific)
      oracle =
        s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           | WHERE term <> '' GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
           |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
           |  CAST(tf.tf * (n.n_docs + 1) AS DOUBLE)
           |    / CAST(dfq.df + 1 AS DOUBLE) AS score
           | FROM tf JOIN dfq USING (term), n),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
           |   ORDER BY score DESC, term) AS BIGINT) AS term_rank FROM sc)
           |SELECT doc_id, term, tf, df, score, term_rank FROM r
           |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin),

    QueryDef("text_collocations", (s, dir) => {
      // corpus-wide top-25 collocations by log-free PMI: exact integer
      // count products, one IEEE division, TakeOrderedAndProject top-k —
      // only (term, count) pairs ever shuffle, never text
      TextAnalysis.collocations(par(s)(t(s, dir, "documents")),
        k = 25, minCount = 3)
    },
      // same log-free PMI arithmetic: c_xy·N and c_x·c_y as exact BIGINT
      // products, one IEEE division, (score DESC, gram) total order; the
      // two-component filter mirrors the shingle fallback drop
      oracle =
        s"""WITH t AS (SELECT unnest($duckWords) AS term FROM documents),
           |tok AS (SELECT term FROM t WHERE term <> ''),
           |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok
           | GROUP BY 1),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
           |g AS (SELECT unnest($duckShingles2) AS gram FROM documents),
           |bg AS (SELECT gram, CAST(count(*) AS BIGINT) AS c_xy FROM g
           | WHERE len(string_split(gram, ' ')) = 2
           |  AND string_split(gram, ' ')[1] <> ''
           |  AND string_split(gram, ' ')[2] <> ''
           | GROUP BY 1 HAVING count(*) >= 3)
           |SELECT bg.gram, bg.c_xy, ux.c AS c_x, uy.c AS c_y,
           | CAST(bg.c_xy * n.n_tok AS DOUBLE)
           |  / CAST(ux.c * uy.c AS DOUBLE) AS score
           |FROM bg CROSS JOIN n
           | JOIN uni ux ON string_split(bg.gram, ' ')[1] = ux.term
           | JOIN uni uy ON string_split(bg.gram, ' ')[2] = uy.term
           |ORDER BY score DESC, gram LIMIT 25""".stripMargin),

    QueryDef("text_repetition", (s, dir) => {
      // Gopher-style repetition diagnostics: duplicate-word and
      // duplicate-2-gram fractions are narrow array expressions (no
      // shuffle); the top-word fraction needs the word mode, a two-level
      // partial-aggregated explode→count→max keyed on doc_id. Both
      // divisions use |words| so the three fractions share a denominator.
      val docs = par(s)(t(s, dir, "documents"))
      val base = docs.select(col("doc_id"),
        TextAnalysis.dupWordFrac(col("text")).as("dup_word_frac"),
        TextAnalysis.dupNgramFrac(col("text"), 2).as("dup_2gram_frac"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_words"))
      val topWord = docs
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
      base.join(topWord, Seq("doc_id"))
        .select(col("doc_id"), col("dup_word_frac"), col("dup_2gram_frac"),
          (col("top_c").cast("double") / col("n_words").cast("double"))
            .as("top_word_frac"))
        .orderBy(col("doc_id"))
    },
      // all three fractions divide by len(words); IEEE double division
      // of exact integer counts on both engines
      oracle =
        s"""WITH m AS (SELECT doc_id,
           |  CAST(len($duckWords) - len(list_distinct($duckWords)) AS DOUBLE)
           |    / CAST(len($duckWords) AS DOUBLE) AS dup_word_frac,
           |  CAST(len($duckShingles2) - len(list_distinct($duckShingles2)) AS DOUBLE)
           |    / CAST(len($duckShingles2) AS DOUBLE) AS dup_2gram_frac,
           |  CAST(len($duckWords) AS BIGINT) AS n_words
           | FROM documents),
           |wc AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c FROM
           |  (SELECT doc_id, w, count(*) AS c FROM
           |    (SELECT doc_id, unnest($duckWords) AS w FROM documents)
           |   GROUP BY 1, 2) GROUP BY 1)
           |SELECT m.doc_id, m.dup_word_frac, m.dup_2gram_frac,
           | CAST(wc.top_c AS DOUBLE) / CAST(m.n_words AS DOUBLE) AS top_word_frac
           |FROM m JOIN wc USING (doc_id) ORDER BY m.doc_id""".stripMargin),

    QueryDef("text_decontaminate_fuzzy", (s, dir) => {
      // fuzzy decontamination: drop docs sharing ANY MinHash band bucket
      // with the benchmark set (doc_id % 17 == 0 plays the eval suite) —
      // catches near-dup leakage the exact-gram text_decontaminate
      // misses; every benchmark doc trivially collides with itself, so
      // the % 17 docs all drop along with their near-dups
      val docs = par(s)(t(s, dir, "documents"))
      val bench = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.decontaminateFuzzy(docs, bench)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // the shared sig -> band CTEs; the benchmark (doc_id % 17 = 0) is a
      // subset of the corpus, so its band keys are a filter over the
      // shared band CTE rather than a second sig pass
      oracle =
        s"""WITH $duckBandCtes,
           |bkeys AS (SELECT DISTINCT band, bucket FROM band WHERE doc_id % 17 = 0),
           |contaminated AS (SELECT DISTINCT a.doc_id FROM band a
           | JOIN bkeys q ON a.band = q.band AND a.bucket = q.bucket)
           |SELECT d.doc_id, d.source FROM documents d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
           |ORDER BY d.doc_id""".stripMargin),

    QueryDef("text_leak_census", (s, dir) => {
      // the eval-owner's face of decontamination: per BENCH item (every
      // 50th doc, the suite's decontamination fixture), how many train
      // docs leak it, across how many distinct grams, with what total
      // mass — zero-leak items reported at 0, a census is complete.
      // Bench grams broadcast with their item ids; only hit triples
      // reach the aggregate.
      val docs = par(s)(t(s, dir, "documents"))
      Dedup.leakCensus(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 3)
        .orderBy(col("bench_id"))
    },
      // benchmark = doc_id % 50 = 0; n_shared counts the train doc's
      // DISTINCT 3-grams that appear anywhere in the benchmark set
      // the reverse face: per bench item, distinct leaking train docs,
      // distinct leaked grams, and total hit mass; zero-leak items at 0
      oracle =
        s"""WITH bg AS (SELECT doc_id AS bench_id,
           |  unnest(list_distinct($duckShingles3)) AS gram
           | FROM documents WHERE doc_id % 50 = 0),
           |tg AS (SELECT doc_id AS train_id,
           |  unnest(list_distinct($duckShingles3)) AS gram
           | FROM documents WHERE doc_id % 50 <> 0),
           |j AS (SELECT bench_id, train_id, gram
           | FROM bg JOIN tg USING (gram)),
           |c AS (SELECT bench_id,
           |  CAST(count(DISTINCT train_id) AS BIGINT) AS n_leaking_docs,
           |  CAST(count(DISTINCT gram) AS BIGINT) AS n_hit_grams,
           |  CAST(count(*) AS BIGINT) AS n_hit_pairs
           | FROM j GROUP BY 1)
           |SELECT b.bench_id,
           | COALESCE(c.n_leaking_docs, 0) AS n_leaking_docs,
           | COALESCE(c.n_hit_grams, 0) AS n_hit_grams,
           | COALESCE(c.n_hit_pairs, 0) AS n_hit_pairs
           |FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
           |  WHERE doc_id % 50 = 0) b
           |LEFT JOIN c USING (bench_id)
           |ORDER BY bench_id""".stripMargin),

    QueryDef("text_decontaminate", (s, dir) => {
      // benchmark decontamination: per train doc, count distinct 3-gram
      // shingles shared with the held-out benchmark set (doc_id % 50 ==
      // 0 here; a real eval suite at scale). The benchmark gram set is
      // small by construction — BROADCAST it so the train-side explode
      // never shuffles; contaminated docs are then dropped (or flagged,
      // as here) before training.
      val docs = par(s)(t(s, dir, "documents"))
      val benchGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
        .distinct()
        .withColumn("__hit", lit(1))
      val trainGrams = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
      trainGrams.join(broadcast(benchGrams), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("n_shared"))
        .withColumn("contaminated", col("n_shared") > 0)
        .orderBy(col("doc_id"))
    },
      oracle = textDecontaminateOracle),

    QueryDef("text_decontaminate_spans", (s, dir) => {
      // span-LEVEL decontamination: not just WHICH docs leak benchmark
      // text but WHERE — each hit 3-gram covers words [pos, pos+3), and
      // overlapping/touching hit windows merge into maximal redaction
      // spans via the SAME interval-union operator the event coverage
      // uses (Intervals.mergeIslands — one operator, two domains; see
      // Dedup.decontaminateSpans). A production pipeline cuts these
      // spans and keeps the rest of the document; doc-level dropping
      // wastes the clean 99% of a 20k-token page that quotes one
      // benchmark item. Only (doc_id, pos) pairs of HIT grams shuffle —
      // the benchmark set broadcasts as in text_decontaminate.
      val docs = par(s)(t(s, dir, "documents"))
      Dedup.decontaminateSpans(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0))
        .orderBy(col("doc_id"), col("island"))
    },
      // hit 3-grams (ALL positions, not distinct — the same gram at two
      // positions is two windows) cover [pos, pos+3) word intervals,
      // merged into maximal spans by the ev_coverage island arithmetic
      oracle =
        s"""WITH bench AS (SELECT DISTINCT unnest($duckShingles3) AS gram
           | FROM documents WHERE doc_id % 50 = 0),
           |t0 AS (SELECT doc_id, len($duckWords) AS wc,
           |  $duckShingles3 AS gs FROM documents WHERE doc_id % 50 <> 0),
           |tg AS (SELECT doc_id, wc, unnest(gs) AS gram,
           |  CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS pos FROM t0),
           |h AS (SELECT tg.doc_id, tg.pos, tg.pos AS s,
           |  least(tg.pos + 3, tg.wc) AS e FROM tg JOIN bench USING (gram)),
           |w AS (SELECT *, max(e) OVER (PARTITION BY doc_id
           |  ORDER BY s, pos
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM h),
           |g AS (SELECT *, CAST(sum(CASE WHEN pe IS NULL OR s > pe
           |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
           |  ORDER BY s, pos) AS BIGINT) AS island FROM w)
           |SELECT doc_id, island, min(s) AS span_start,
           | max(e) AS span_end, CAST(count(*) AS BIGINT) AS n_grams,
           | max(e) - min(s) AS covered_words
           |FROM g GROUP BY doc_id, island
           |ORDER BY doc_id, island""".stripMargin),

    QueryDef("text_split_decontaminated", (s, dir) => {
      // contamination-aware train/test split: a deterministic md5 gate
      // proposes ~16% test, then any proposed test doc sharing even one
      // 8-gram with any train doc MOVES to train — the held-out set has
      // zero 8-gram overlap by construction (the GPT-3 split
      // discipline, applied at split time). Long grams so only genuine
      // near-dup leakage evicts, not shared idiom; the fixture's
      // planted near-dups make the eviction set nontrivial.
      val docs = par(s)(t(s, dir, "documents"))
      Dedup.splitDecontaminated(docs)
        .orderBy(col("doc_id"))
    },
      // the same gate + 8-gram eviction replayed; w bound once per level
      oracle = {
        val w = duckWords
        val g8 = s"(CASE WHEN len($w) < 8 THEN [$duckNorm] ELSE " +
          s"list_transform(range(1, len($w)-6), i -> " +
          s"$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2] || ' ' || $w[i+3]" +
          s" || ' ' || $w[i+4] || ' ' || $w[i+5] || ' ' || $w[i+6]" +
          s" || ' ' || $w[i+7]) END)"
        s"""WITH d AS (SELECT doc_id,
           |  CASE WHEN substr(md5('tsplit:' || CAST(doc_id AS VARCHAR)), 1, 2)
           |   < '29' THEN 'test' ELSE 'train' END AS split0,
           |  $g8 AS gs FROM documents),
           |tg AS (SELECT DISTINCT unnest(gs) AS gram FROM d
           |  WHERE split0 = 'train'),
           |lk AS (SELECT DISTINCT doc_id FROM
           |  (SELECT doc_id, unnest(gs) AS gram FROM d
           |   WHERE split0 = 'test') x JOIN tg USING (gram))
           |SELECT d.doc_id,
           | CASE WHEN d.split0 = 'test' AND lk.doc_id IS NULL
           |  THEN 'test' ELSE 'train' END AS split
           |FROM d LEFT JOIN lk USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      }),

    QueryDef("text_selfdedup_spans", (s, dir) => {
      // exact-substring SELF-dedup (Lee et al. EXACTSUBSTR): every word
      // 3-gram repeated anywhere in the corpus is redacted at all but
      // one survivor occurrence (global min (doc,pos)); windows merge
      // into maximal spans per doc via the same interval-union operator
      // as decontamination. The suffix-array global sort of the paper
      // becomes one partially-aggregated shuffle over the DISTINCT gram
      // vocabulary plus a join that only duplicated occurrences survive.
      val docs = par(s)(t(s, dir, "documents"))
      Dedup.selfDedupSpans(docs)
        .orderBy(col("doc_id"), col("island"))
    },
      // exact-substring self-dedup: grams with corpus-wide count >= 2,
      // all occurrences except the global (doc,pos)-min survivor become
      // [pos, pos+3) windows, merged by the same island arithmetic
      oracle =
        s"""WITH t0 AS (SELECT doc_id, len($duckWords) AS wc,
           |  $duckShingles3 AS gs FROM documents),
           |tg AS (SELECT doc_id, wc, unnest(gs) AS gram,
           |  CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS pos FROM t0),
           |rk AS (SELECT *, count(*) OVER (PARTITION BY gram) AS cnt,
           |  row_number() OVER (PARTITION BY gram
           |    ORDER BY doc_id, pos) AS rn FROM tg),
           |h AS (SELECT doc_id, pos, pos AS s, least(pos + 3, wc) AS e
           |  FROM rk WHERE cnt >= 2 AND rn > 1),
           |w AS (SELECT *, max(e) OVER (PARTITION BY doc_id
           |  ORDER BY s, pos
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM h),
           |g AS (SELECT *, CAST(sum(CASE WHEN pe IS NULL OR s > pe
           |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
           |  ORDER BY s, pos) AS BIGINT) AS island FROM w)
           |SELECT doc_id, island, min(s) AS span_start,
           | max(e) AS span_end, CAST(count(*) AS BIGINT) AS n_grams,
           | max(e) - min(s) AS covered_words
           |FROM g GROUP BY doc_id, island
           |ORDER BY doc_id, island""".stripMargin),

    QueryDef("text_stream_decontaminate", (s, dir) => {
      // decontamination at INGEST: the benchmark gram set is batch-built
      // (eval suites change rarely) and broadcast; the train stream's
      // gram explode left-joins it stream-static — stateless per gram —
      // and the per-doc shared count is a Complete-mode aggregation
      // (state: one count per doc in flight). Zero-hit docs keep their
      // row via the left join, matching the batch oracle exactly.
      val docs = t(s, dir, "documents")
      val benchGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
        .distinct()
        .withColumn("__hit", lit(1))
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw)
        .parquet(streamGlob(s"$dir/documents.parquet"))
      val trainGrams = stream.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
      val counts = trainGrams
        .join(broadcast(benchGrams), Seq("gram"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("n_shared"))
        .withColumn("contaminated", col("n_shared") > 0)
      Sessionize.runToMemory(s, counts, "text_stream_decon_sink",
        OutputMode.Complete, statePartitions = 8)
        .orderBy(col("doc_id"))
    },
      // same rows as text_decontaminate by construction, so its oracle verbatim
      oracle = textDecontaminateOracle),

    QueryDef("text_decontaminate_bloom", (s, dir) => {
      // text_decontaminate's exact answer through the bloom-prefilter
      // scale shape: the sketch (native BloomFilterAggregate, ~10
      // bits/gram) drops definitely-clean grams before any join, and
      // the exact semi-join — now free to shuffle rather than
      // broadcast — clears the false positives. Same output as the
      // broadcast form, so it shares that oracle verbatim.
      val docs = par(s)(t(s, dir, "documents"))
      val benchGrams = docs.filter(col("doc_id") % 50 === 0)
        .select(explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
      val trainGrams = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), explode(array_distinct(
          Dedup.shingles(col("text"), 3))).as("gram"))
      Dedup.decontaminateBloomExact(trainGrams, benchGrams)
        .orderBy(col("doc_id"))
    },
      // same rows as text_decontaminate by construction, so its oracle verbatim
      oracle = textDecontaminateOracle),

    QueryDef("text_sample_stratified", (s, dir) => {
      // exact per-source quota by salted-hash order; WindowGroupLimit
      // truncates each map task's groups to k before the shuffle
      TextAnalysis.stratifiedSample(par(s)(t(s, dir, "documents")), k = 5)
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy(col("doc_id"))
    },
      // salted-hash order makes the per-source quota deterministic and
      // engine-portable (md5 hex collates identically)
      oracle =
        """WITH r AS (SELECT doc_id, source,
          | row_number() OVER (PARTITION BY source
          |  ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          | FROM documents)
          |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM r
          |WHERE rn <= 5 ORDER BY doc_id""".stripMargin),

    QueryDef("text_langid", (s, dir) => {
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
      oracle = {
        val langs = TextAnalysis.stopwords.keys.toSeq.sorted
        val scoreDefs = langs.map(l => s"${duckLangScore(l)} AS s_$l").mkString(", ")
        val best = langs.map(l => s"s_$l").reduce((a, b) => s"greatest($a, $b)")
        val pick = langs.foldRight("'und'") { (l, acc) =>
          s"CASE WHEN s_$l = best AND s_$l > 0 THEN '$l' ELSE $acc END"
        }
        s"""WITH sc AS (SELECT doc_id, $scoreDefs FROM documents),
           |b AS (SELECT *, $best AS best FROM sc)
           |SELECT doc_id, $pick AS lang_pred FROM b ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_quality", (s, dir) => {
      TextAnalysis.withQuality(par(s)(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_chars_q"), col("n_words"),
          col("avg_word_len"), col("punct_ratio"), col("alpha_ratio"),
          col("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
      oracle = {
        val nChars = "CAST(length(text) AS BIGINT)"
        val nWords = s"(CASE WHEN $duckNorm = '' THEN 0 ELSE CAST(len($duckWords) AS BIGINT) END)"
        val nAlpha = "CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT)"
        val nPunct =
          """CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS BIGINT)"""
        val nStop = s"CAST(${duckLangScore("en")} AS BIGINT)"
        s"""SELECT doc_id,
           | $nChars AS n_chars_q,
           | $nWords AS n_words,
           | CASE WHEN $nWords > 0 THEN $nAlpha::DOUBLE / $nWords::DOUBLE ELSE 0.0 END AS avg_word_len,
           | CASE WHEN $nChars > 0 THEN $nPunct::DOUBLE / $nChars::DOUBLE ELSE 0.0 END AS punct_ratio,
           | CASE WHEN $nChars > 0 THEN $nAlpha::DOUBLE / $nChars::DOUBLE ELSE 0.0 END AS alpha_ratio,
           | CASE WHEN $nWords > 0 THEN $nStop::DOUBLE / $nWords::DOUBLE ELSE 0.0 END AS stopword_ratio
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_tokens", (s, dir) => {
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    },
      oracle =
        s"""SELECT doc_id,
           | (CASE WHEN $duckNorm = '' THEN 0 ELSE CAST(len($duckWords) AS BIGINT) END) AS n_tokens,
           | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords
           |FROM documents ORDER BY doc_id""".stripMargin),

    QueryDef("text_sample_det", (s, dir) => {
      // deterministic content-hash sampling: the reproducible train/eval
      // split primitive (stable under reruns, joins, and repartitioning —
      // unlike rand()-based sampling)
      par(s)(t(s, dir, "documents"))
        .filter(substring(md5(concat(lit("split:"), col("doc_id"))), 1, 2) < "29")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
      oracle =
        """SELECT doc_id FROM documents
          |WHERE substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '29'
          |ORDER BY doc_id""".stripMargin),

    QueryDef("text_corpus_stats", (s, dir) => {
      // corpus profile: doc/token totals and length quantiles — the
      // summary a pipeline checks before/after each filter stage
      par(s)(t(s, dir, "documents"))
        .select(TextAnalysis.tokenCount(col("text")).as("n_tok"),
          length(col("text")).cast("long").as("n_chars"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("n_tok")).as("min_tokens"),
          max(col("n_tok")).as("max_tokens"),
          expr("percentile(n_tok, array(0.5D, 0.9D))").as("p50_90"))
        .select(col("n_docs"), col("total_tokens"), col("total_chars"),
          col("min_tokens"), col("max_tokens"),
          col("p50_90").getItem(0).as("p50_tokens"),
          col("p50_90").getItem(1).as("p90_tokens"))
    },
      oracle = {
        val nTok = s"(CASE WHEN $duckNorm = '' THEN 0 ELSE CAST(len($duckWords) AS BIGINT) END)"
        s"""WITH t AS (SELECT $nTok AS n_tok,
           |  CAST(length(text) AS BIGINT) AS n_chars FROM documents)
           |SELECT count(*) AS n_docs,
           | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           | CAST(sum(n_chars) AS BIGINT) AS total_chars,
           | min(n_tok) AS min_tokens, max(n_tok) AS max_tokens,
           | quantile_cont(n_tok, 0.5) AS p50_tokens,
           | quantile_cont(n_tok, 0.9) AS p90_tokens
           |FROM t""".stripMargin
      }),

    QueryDef("text_corpus_stats_approx", (s, dir) => {
      // the 100-TB default: approx_percentile's GK sketch is a bounded-size
      // map-side-mergeable aggregate (one pass, no per-group sort), where
      // exact percentile materializes and sorts every group's values. At
      // the accuracy used here the rank error is < 1 for any corpus below
      // ~10^6 docs, so the oracle can still compare discrete quantiles
      // exactly; at real scale callers trade accuracy for memory.
      par(s)(t(s, dir, "documents"))
        .select(TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("approx_percentile(n_tok, array(0.5D, 0.9D), 1000000)")
            .as("p50_90"))
        .select(col("n_docs"),
          col("p50_90").getItem(0).as("p50_tokens"),
          col("p50_90").getItem(1).as("p90_tokens"))
    },
      // discrete quantiles: at rank-exact accuracy Spark's GK sketch
      // returns the element at rank floor(p*(n-1))+1; DuckDB's
      // quantile_disc uses ceil(p*n), identical whenever p*n has no
      // fractional part below 1-p — true for these p at the test corpus
      // sizes (n = 50/500/5000), and verified empirically at all three SFs
      oracle = {
        val nTok = s"(CASE WHEN $duckNorm = '' THEN 0 ELSE CAST(len($duckWords) AS BIGINT) END)"
        s"""WITH t AS (SELECT $nTok AS n_tok FROM documents)
           |SELECT count(*) AS n_docs,
           | quantile_disc(n_tok, 0.5) AS p50_tokens,
           | quantile_disc(n_tok, 0.9) AS p90_tokens
           |FROM t""".stripMargin
      }),

    QueryDef("text_fingerprint", (s, dir) => {
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      oracle =
        s"""SELECT doc_id, md5($duckNorm) AS fp FROM documents ORDER BY doc_id"""),

    QueryDef("text_bpe_merges", (s, dir) => {
      // BPE tokenizer training over the corpus: 8 merge rounds on the
      // distinct-word frequency table (the corpus aggregates ONCE; every
      // round after that is vocabulary-sized). The oracle replays the
      // full loop — pair counts, argmax with the lexicographic
      // tie-break, and the left-to-right non-overlapping fuse — as 8
      // unrolled CTE rounds, so the learned merge table must match
      // round-for-round, count-for-count.
      import s.implicits._
      val (ms, _) = TextAnalysis.bpeTrain(
        par(s)(t(s, dir, "documents")), merges = 8)
      ms.map(m => (m.round.toLong, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
        .toDF("round", "lhs", "rhs", "merged", "pair_count")
        .orderBy(col("round"))
    },
      // the full BPE training loop unrolled: w0 = the word-frequency
      // table with char-split symbol strings, then per round pair
      // counts → argmax (count desc, lexicographic) → non-overlapping
      // replace. DuckDB's replace and the engine's share left-to-right
      // non-overlap semantics, which the 'a|a|a' overlap case exercises
      // whenever a doubled letter wins a round.
      oracle = {
        s"""WITH $duckBpeCtes
           |SELECT CAST(round AS BIGINT) AS round, lhs, rhs,
           | lhs || rhs AS merged, n AS pair_count
           |FROM (${(1 to 8).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
           |ORDER BY round""".stripMargin
      }),

    QueryDef("text_bpe_encode", (s, dir) => {
      // the trained tokenizer APPLIED: after the same 8 merges, the
      // final word table's symbol string IS the encoding of every
      // distinct word — corpus encoding is then a broadcast join on
      // word. The oracle re-derives the merges and re-applies them, so
      // both the training replay and the apply order are under test.
      val (_, encoded) = TextAnalysis.bpeTrain(
        par(s)(t(s, dir, "documents")), merges = 8)
      encoded.select(col("word"), col("cnt"),
        size(split(col("sym"), "\\|")).cast("long").as("n_tokens"),
        col("sym").as("tokens"))
        .orderBy(col("word"))
    },
      oracle = {
        s"""WITH $duckBpeCtes
           |SELECT word, cnt,
           | CAST(len(string_split(sym, '|')) AS BIGINT) AS n_tokens,
           | sym AS tokens
           |FROM w8 ORDER BY word""".stripMargin
      }),

    QueryDef("text_shuffle_det", (s, dir) => {
      // deterministic global shuffle into training shards: every doc
      // gets a stable salted-hash position (rerun-stable, join/
      // repartition-proof — unlike rand()), the hash's top 32 bits pick
      // one of 16 shards, and ORDER IS SHARD-LOCAL: 16 independent
      // windows instead of one global sort, so at 100 TB each shard
      // ranks and writes in parallel and no stage ever totally orders
      // the corpus. Reading shards round-robin replays the same
      // training order on every run — the reproducible-data-order
      // contract an LLM training job needs.
      val h = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard",
          conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 16)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    },
      // same salted-hash shard + shard-local rank arithmetic
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH d AS (SELECT doc_id,
           |  md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
           |b AS (SELECT doc_id, h, CAST($hex8 AS BIGINT) % 16 AS shard
           | FROM d)
           |SELECT doc_id, shard,
           | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
           |  AS BIGINT) AS pos
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_bpe_doc_tokens", (s, dir) => {
      // the tokenizer budget loop CLOSED at corpus level: per-doc token
      // counts under the TRAINED tokenizer (not whitespace) — the number
      // that actually prices a document into a training mix. The
      // encoded vocabulary is tiny, so it BROADCASTS and the corpus
      // aggregates in one shuffle on doc_id; at 100 TB the per-doc cost
      // is one explode + one hash-join probe per word.
      val (_, encoded) = TextAnalysis.bpeTrain(
        par(s)(t(s, dir, "documents")), merges = 8)
      val wordTok = encoded.select(col("word"),
        size(split(col("sym"), "\\|")).cast("long").as("w_tokens"))
      par(s)(t(s, dir, "documents"))
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(wordTok), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("w_tokens")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
      oracle = {
        s"""WITH $duckBpeCtes,
           |wt AS (SELECT word,
           |  CAST(len(string_split(sym, '|')) AS BIGINT) AS w_tokens
           | FROM w8),
           |dw AS (SELECT doc_id, unnest($duckWords) AS word
           | FROM documents WHERE $duckNorm <> ''),
           |j AS (SELECT doc_id, w_tokens FROM dw JOIN wt USING (word)
           | WHERE word <> '')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           | CAST(sum(w_tokens) AS BIGINT) AS n_bpe_tokens
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_cdc_chunks", (s, dir) => {
      // content-defined chunking: segment boundaries chosen by word
      // CONTENT (md5 gate, expected length 8 words), not position — the
      // rsync/LBFS property that makes segment-level dedup survive
      // insertions: a fixed-width segmentation shifts every segment
      // after an edit (zero shared keys), CDC re-synchronizes at the
      // next content cut and the tail dedups again (DedupSpec
      // demonstrates both behaviors side by side). One posexplode, one
      // per-doc window cumsum, one grouped reassembly — only
      // (doc, pos, word) rows shuffle.
      Dedup.cdcSegments(par(s)(t(s, dir, "documents")), modulus = 8)
        .orderBy(col("doc_id"), col("seg"))
    },
      // same md5-gated boundary rule, window cumsum segment ids,
      // position-ordered reassembly
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(md5('cdc:' || word), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH w AS (SELECT doc_id, unnest($duckWords) AS word,
           |  CAST(generate_subscripts($duckWords, 1) - 1 AS BIGINT) AS pos
           | FROM documents WHERE $duckNorm <> ''),
           |c AS (SELECT doc_id, word, pos,
           |  CASE WHEN pos > 0 AND CAST($hex8 AS BIGINT) % 8 = 0
           |   THEN 1 ELSE 0 END AS cut
           | FROM w WHERE word <> ''),
           |s AS (SELECT *, CAST(sum(cut) OVER (PARTITION BY doc_id
           |  ORDER BY pos) AS BIGINT) AS seg FROM c)
           |SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS n_words,
           | md5(string_agg(word, ' ' ORDER BY pos)) AS seg_key
           |FROM s GROUP BY doc_id, seg
           |ORDER BY doc_id, seg""".stripMargin
      }),

    QueryDef("text_kmv_vocab", (s, dir) => {
      // mergeable distinct-cardinality sketch: per-source vocabulary
      // size via k-minimum-values (k=64) — the COUNT DISTINCT a 100-TB
      // rollup cannot afford exactly, as a deterministic md5 bottom-k
      // whose estimate an independent engine replays bit-for-bit
      // (unlike any HLL register layout). The aggregation state is a
      // bounded ≤64-entry array combined map-side; elements never
      // shuffle. The exact count rides along so the estimate's error
      // is visible in the gated row itself.
      val words = par(s)(t(s, dir, "documents"))
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(col("source"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
      Kmv.kmvDistinct(words, "source", "word", k = 64)
        .join(words.groupBy(col("source"))
          .agg(countDistinct(col("word")).as("exact_distinct")),
          Seq("source"))
        .orderBy(col("source"))
    },
      // bottom-k of distinct word hashes per source; estimate = exact
      // size below k, else (k-1)/u_k with u_k = first 8 hex digits of
      // the k-th smallest hash over 2^32 — the engine's arithmetic,
      // division for division
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(k64.h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH w0 AS (SELECT source, unnest($duckWords) AS word
           | FROM documents WHERE $duckNorm <> ''),
           |w AS (SELECT DISTINCT source, md5(word) AS h
           | FROM w0 WHERE word <> ''),
           |r AS (SELECT source, h,
           |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
           |  count(*) OVER (PARTITION BY source) AS n FROM w),
           |k64 AS (SELECT source, h FROM r WHERE rn = 64),
           |n AS (SELECT source, CAST(max(n) AS BIGINT) AS nd FROM r
           | GROUP BY source),
           |ex AS (SELECT source,
           |  CAST(count(DISTINCT word) AS BIGINT) AS exact_distinct
           | FROM w0 WHERE word <> '' GROUP BY source)
           |SELECT n.source, least(n.nd, 64) AS n_mins,
           | CASE WHEN n.nd < 64 THEN CAST(n.nd AS DOUBLE)
           |  ELSE 63.0 / (CAST($hex8 AS DOUBLE) / 4294967296.0) END
           |  AS est_distinct,
           | ex.exact_distinct
           |FROM n LEFT JOIN k64 ON k64.source = n.source
           | JOIN ex ON ex.source = n.source
           |ORDER BY n.source""".stripMargin
      }),

    QueryDef("text_pack_sequences", (s, dir) => {
      // GPT-style packed-sequence layout: documents are concatenated in
      // a deterministic shard-local order and split into fixed
      // 256-token training sequences — a doc may straddle a sequence
      // boundary, exactly as Pile-style pretraining packs. The whole
      // layout is window arithmetic over per-shard token cumsums (16
      // independent shards, the text_shuffle_det scheme — no global
      // sort at any scale); each doc's row says which sequences carry
      // it and at which token offset, which is all a loader needs to
      // materialize batch n without touching batch n-1.
      val budget = 256
      val h = md5(concat(lit("pack:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      par(s)(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"), h.as("h"))
        .filter(col("n_tokens") > 0)
        .withColumn("shard",
          conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 16)
        .withColumn("tok_start",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("tok_end", col("tok_start") + col("n_tokens"))
        .withColumn("seq_first",
          floor(col("tok_start") / budget).cast("long"))
        .withColumn("seq_last",
          floor((col("tok_end") - 1) / budget).cast("long"))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("tok_start"), col("tok_end"), col("seq_first"),
          col("seq_last"))
        .orderBy(col("doc_id"))
    },
      // same salted-hash shard assignment as text_shuffle_det, then
      // shard-local token cumsums and integer sequence indices
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH d AS (SELECT doc_id,
           |  CAST(len($duckWords) AS BIGINT) AS n_tokens,
           |  md5('pack:' || CAST(doc_id AS VARCHAR)) AS h
           | FROM documents WHERE $duckNorm <> ''),
           |b AS (SELECT doc_id, n_tokens, h,
           |  CAST($hex8 AS BIGINT) % 16 AS shard FROM d),
           |c AS (SELECT doc_id, shard, n_tokens,
           |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
           |   ORDER BY h, doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |   AS BIGINT) AS tok_start FROM b)
           |SELECT doc_id, shard, n_tokens, tok_start,
           | tok_start + n_tokens AS tok_end,
           | tok_start // 256 AS seq_first,
           | (tok_start + n_tokens - 1) // 256 AS seq_last
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_bpe_apply_new", (s, dir) => {
      // the frozen-tokenizer production path: train on HALF the corpus
      // (even doc_ids), then price the DISJOINT held-out half under the
      // trained tokenizer. The apply is a merge REPLAY, not a vocabulary
      // join against the training word table — the held-out corpus's own
      // word table is char-split and the 8 learned merges re-run in
      // order (TextAnalysis.bpeApply), so a word unseen at train time
      // fuses less instead of silently dropping from the count. Every
      // held-out word prices; n_words is total coverage by construction.
      val docs = par(s)(t(s, dir, "documents"))
      val (ms, _) = TextAnalysis.bpeTrain(
        docs.filter(col("doc_id") % 2 === 0), merges = 8)
      val held = docs.filter(col("doc_id") % 2 =!= 0)
      val wordTok = TextAnalysis.bpeApply(ms, held)
        .select(col("word"),
          size(split(col("sym"), "\\|")).cast("long").as("w_tokens"))
      held
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(col("doc_id"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .join(broadcast(wordTok), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("w_tokens")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
      // train replay restricted to even doc_ids, then the held-out apply
      // replay: a0 = the ODD docs' own char-split word table, a1..a8 =
      // the trained merges m1..m8 re-fused in order with the same
      // whole-symbol fold. MATERIALIZED m's keep the double reference
      // (training w{i} + apply a{i}) from re-inlining the whole chain.
      oracle = {
        val applyRounds = (1 to 8).map { i =>
          s"""a$i AS MATERIALIZED (SELECT word, cnt,
             |  ${duckFuse("sym", "t.lhs", "t.rhs")} AS sym
             | FROM a${i - 1}, m$i t)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${duckBpeTrainCtes("AND doc_id % 2 = 0")},
           |a0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
           |  rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS sym
           | FROM (SELECT unnest($duckWords) AS word FROM documents
           |   WHERE $duckNorm <> '' AND doc_id % 2 = 1)
           | WHERE word <> '' GROUP BY word),
           |$applyRounds,
           |wt AS (SELECT word,
           |  CAST(len(string_split(sym, '|')) AS BIGINT) AS w_tokens
           | FROM a8),
           |dw AS (SELECT doc_id, unnest($duckWords) AS word
           | FROM documents WHERE $duckNorm <> '' AND doc_id % 2 = 1),
           |j AS (SELECT doc_id, w_tokens FROM dw JOIN wt USING (word)
           | WHERE word <> '')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           | CAST(sum(w_tokens) AS BIGINT) AS n_bpe_tokens
           |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    QueryDef("text_feature_hash", (s, dir) => {
      // hashing-trick features for a linear quality classifier: every
      // word lands in one of 64 md5 buckets, counts aggregate per
      // (doc, bucket) — a fixed-width sparse feature space with no
      // vocabulary pass and no driver state. Sparse rows, not a dense
      // array column: the oracle checks exact counts per cell and the
      // downstream trainer consumes (row, col, value) triplets anyway.
      TextAnalysis.featureHash(par(s)(t(s, dir, "documents")),
        nBuckets = 64)
        .orderBy(col("doc_id"), col("bucket"))
    },
      // same word→bucket map by digit arithmetic on the md5 prefix (the
      // text_mixture_apply hex8 pattern, integer modulus instead of the
      // double fraction)
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH w AS (SELECT doc_id,
           |  substr(md5('fh:' || unnest($duckWords)), 1, 8) AS h
           | FROM documents WHERE $duckNorm <> ''),
           |b AS (SELECT doc_id, CAST($hex8 AS BIGINT) % 64 AS bucket FROM w)
           |SELECT doc_id, bucket, count(*) AS n
           |FROM b GROUP BY doc_id, bucket
           |ORDER BY doc_id, bucket""".stripMargin
      }),

    QueryDef("text_winsorize", (s, dir) => {
      // per-source Tukey-fence clipping of document lengths: quartiles
      // interpolate at DYADIC fractions, so fences and clips are exact
      // doubles on both engines (a p05/p95 clip would drift in the last
      // ulp — scaladoc'd in Stats.tukeyClip)
      Stats.tukeyClip(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")),
        "n_chars", Seq("source"))
        .orderBy(col("doc_id"))
    },
      // quantile_cont at dyadic quarters == Spark percentile exactly
      // over integer inputs; every fence/clip value is an exact double
      oracle =
        """WITH q AS (SELECT source,
          |  quantile_cont(n_chars, 0.25) AS q1,
          |  quantile_cont(n_chars, 0.75) AS q3
          | FROM documents GROUP BY 1),
          |f AS (SELECT source, q1, q3,
          |  q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM q)
          |SELECT d.doc_id, d.source, d.n_chars, f.q1, f.q3, f.lo, f.hi,
          | greatest(least(CAST(d.n_chars AS DOUBLE), f.hi), f.lo) AS clipped
          |FROM documents d JOIN f USING (source)
          |ORDER BY d.doc_id""".stripMargin),

    QueryDef("text_stream_kmv", (s, dir) => {
      // distinct-cardinality AT INGEST: the same KMV bottom-k sketch as
      // text_kmv_vocab running as a Complete-mode streaming aggregation
      // — state per source is the bounded ≤64-hash array, combined
      // incrementally as micro-batches arrive, so a live dashboard
      // reads vocabulary size without a distinct-scan (exact
      // count(DISTINCT) is structurally unsupported over streams; the
      // sketch is the operator that CAN run there). Drained after the
      // bounded replay; the oracle replays the bottom-k arithmetic.
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw)
        .parquet(streamGlob(s"$dir/documents.parquet"))
      val words = stream
        .filter(TextAnalysis.normalize(col("text")) =!= "")
        .select(col("source"),
          explode(TextAnalysis.words(col("text"))).as("word"))
        .filter(col("word") =!= "")
      val out = Kmv.kmvDistinct(words, "source", "word", k = 64)
      Sessionize.runToMemory(s, out, "text_stream_kmv_sink",
        OutputMode.Complete, statePartitions = 8)
        .orderBy(col("source"))
    },
      // the sketch columns of text_kmv_vocab (no exact_distinct — the
      // stream twin can't run an exact distinct, that's its point)
      oracle = {
        val hex8 = (1 to 8).map { i =>
          s"(strpos('0123456789abcdef', substr(k64.h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
        }.mkString("(", " + ", ")")
        s"""WITH w0 AS (SELECT source, unnest($duckWords) AS word
           | FROM documents WHERE $duckNorm <> ''),
           |w AS (SELECT DISTINCT source, md5(word) AS h
           | FROM w0 WHERE word <> ''),
           |r AS (SELECT source, h,
           |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
           |  count(*) OVER (PARTITION BY source) AS n FROM w),
           |k64 AS (SELECT source, h FROM r WHERE rn = 64),
           |n AS (SELECT source, CAST(max(n) AS BIGINT) AS nd FROM r
           | GROUP BY source)
           |SELECT n.source, least(n.nd, 64) AS n_mins,
           | CASE WHEN n.nd < 64 THEN CAST(n.nd AS DOUBLE)
           |  ELSE 63.0 / (CAST($hex8 AS DOUBLE) / 4294967296.0) END
           |  AS est_distinct
           |FROM n LEFT JOIN k64 ON k64.source = n.source
           |ORDER BY n.source""".stripMargin
      })
  )
}
