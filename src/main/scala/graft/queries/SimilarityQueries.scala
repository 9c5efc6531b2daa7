package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.operators.Snapshots

import graft.queries.DuckSql._
import graft.queries.Fixtures._

/** The `sim_*`/`emb_*` family: similarity search, quantization and
  * trained codebooks over embeddings. */
private[graft] object SimilarityQueries {

  // shared with sim_ivf_topk_partitioned
  private val simIvfTopkOracle = {
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c, q
       |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
       |assign AS (SELECT e.vec_id, e.embedding,
       |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
       | FROM embeddings e CROSS JOIN c GROUP BY e.vec_id, e.embedding)
       |SELECT a.vec_id, ${duckCosine("a.embedding", "q.qe")} AS score
       |FROM assign a, q
       |WHERE a.cell IN (SELECT cid FROM probe)
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  // codes joined back to their codewords per subspace, distance
  // recomputed with the SAME sequential double sum, four terms
  // added in the engine's fixed left-associated order
  // shared with sim_pq_adc_trained
  private val simPqAdcOracle = {
    val subs = (0 until 4)
      .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2, k = 4))
      .mkString(",\n")
    val dists = (0 until 4).map { j =>
      s"""d$j AS (SELECT f.vec_id,
         |  ${duckL2(s"(SELECT embedding[${j * 16 + 1}:${(j + 1) * 16}] FROM embeddings WHERE vec_id = 0)", "c.ce")} AS d
         | FROM p${j}f f JOIN p${j}c2 c ON c.cid = f.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH $subs,
       |$dists
       |SELECT d0.vec_id, ((d0.d + d1.d) + d2.d) + d3.d AS adist
       |FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
       | JOIN d3 USING (vec_id)
       |ORDER BY adist, vec_id LIMIT 10""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("sim_topk_cosine", (s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), q, k = 10)
    },
      oracle =
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, ${duckCosine("e.embedding", "q.qe")} AS score
           |FROM embeddings e, q
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),

    QueryDef("sim_topk_int8", (s, dir) => {
      // quantize-then-search: top-k cosine over the int8-quantized corpus
      // (vec_dot_i8 exact integer dots; the only IEEE ops are one sqrt +
      // one division per row, so the scores hash-match the oracle's
      // replication of the identical quantization + integer arithmetic)
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.int8TopK(t(s, dir, "embeddings"), q, k = 10)
    },
      // int8 quantize-then-search: the oracle replicates the symmetric
      // absmax quantization (identical IEEE floor(x*127/m + 0.5), the
      // emb_quantize_int8 arithmetic), then EXACT integer dots; the only
      // IEEE ops are the final sqrt + division, correctly rounded in both
      // engines
      oracle =
        """WITH q8 AS (SELECT vec_id,
          |  CASE WHEN ms > 0 THEN list_transform(embedding,
          |    x -> CAST(floor(x::DOUBLE * 127.0 / ms + 0.5) AS BIGINT))
          |   ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
          | FROM (SELECT vec_id, embedding,
          |   COALESCE(list_aggregate(list_transform(embedding,
          |     x -> abs(x::DOUBLE)), 'max'), 0.0) AS ms
          |  FROM embeddings)),
          |qv AS (SELECT q AS qq FROM q8 WHERE vec_id = 0),
          |s AS (SELECT v.vec_id,
          |  CAST(list_sum(list_transform(range(1, len(v.q) + 1),
          |    i -> v.q[i] * qv.qq[i])) AS BIGINT) AS di,
          |  CAST(list_sum(list_transform(v.q, x -> x * x)) AS BIGINT) AS na2,
          |  CAST(list_sum(list_transform(qv.qq, x -> x * x)) AS BIGINT) AS nq2
          | FROM q8 v, qv)
          |SELECT vec_id,
          | CASE WHEN na2 > 0 AND nq2 > 0
          |  THEN di / sqrt(CAST(na2 * nq2 AS DOUBLE)) ELSE 0.0 END AS score
          |FROM s ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),

    QueryDef("sim_ann_bucket", (s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.annTopK(t(s, dir, "embeddings"), q, k = 5)
    },
      oracle =
        s"""WITH q AS (SELECT embedding AS qe,
           |  ${duckBkt("embedding")} AS qb
           | FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, ${duckCosine("e.embedding", "q.qe")} AS score
           |FROM embeddings e, q
           |WHERE bit_count(xor(${duckBkt("e.embedding")}, q.qb)) <= 1
           |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin),

    QueryDef("sim_recall_ann", (s, dir) => {
      // the index-quality eval: recall@5 of hamming<=1 multi-probe vs
      // exact brute force over a 10-query eval set — one broadcast
      // scored pass shared by both rankings, exact integer hit counts,
      // one IEEE division per query
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallAtK(emb,
        emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 5)
        .orderBy(col("qid"))
    },
      // hamming<=1 multi-probe: the engine probes the query bucket plus
      // every single-bit flip of it, so the oracle filters on xor bit
      // count rather than bucket equality
      // both rankings replayed with the shared bucket/cosine chains;
      // row_number ties break on vec_id exactly as the engine's window
      oracle =
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe,
           |  ${duckBkt("embedding")} AS qb
           | FROM embeddings WHERE vec_id % 50 = 0),
           |sc AS (SELECT q.qid, e.vec_id,
           |  ${duckCosine("e.embedding", "q.qe")} AS score,
           |  bit_count(xor(${duckBkt("e.embedding")}, q.qb)) AS ham
           | FROM embeddings e, q),
           |brute AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
           |  row_number() OVER (PARTITION BY qid
           |   ORDER BY score DESC, vec_id) AS rn FROM sc) WHERE rn <= 5),
           |ann AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
           |  row_number() OVER (PARTITION BY qid
           |   ORDER BY score DESC, vec_id) AS rn FROM sc WHERE ham <= 1)
           |  WHERE rn <= 5),
           |h AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hit
           | FROM ann a JOIN brute b ON a.qid = b.qid
           |  AND a.vec_id = b.vec_id GROUP BY a.qid),
           |bn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_brute
           | FROM brute GROUP BY qid)
           |SELECT q.qid, coalesce(h.n_hit, 0) AS n_hit,
           | CAST(coalesce(h.n_hit, 0) AS DOUBLE)
           |  / CAST(coalesce(bn.n_brute, 5) AS DOUBLE) AS recall
           |FROM q LEFT JOIN bn ON q.qid = bn.qid
           | LEFT JOIN h ON q.qid = h.qid ORDER BY q.qid""".stripMargin),

    QueryDef("emb_kmeans_step", (s, dir) => {
      // one Lloyd's iteration over the IVF codebook: narrow assignment
      // (centroid literals), one map-side-combinable (cell, dim) shuffle,
      // fixed-point sums so the means are order-independent
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      Similarity.kmeansStep(emb, cents)
        .orderBy(col("cell"), col("dim"))
    },
      oracle = {
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |assign AS (SELECT e.vec_id, e.embedding,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN c GROUP BY e.vec_id, e.embedding),
           |x AS (SELECT cell,
           |   CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
           |   unnest(embedding) AS x
           | FROM assign)
           |SELECT cell, dim, CAST(count(*) AS BIGINT) AS n,
           | CAST(sum(CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS DOUBLE)
           |   / (count(*) * 1000000) AS mean
           |FROM x GROUP BY cell, dim ORDER BY cell, dim""".stripMargin
      }),

    QueryDef("emb_quantize_int8", (s, dir) => {
      // symmetric absmax int8 quantization, serialized as csv for the
      // hash compare (array columns don't cross the oracle boundary)
      Similarity.quantizeInt8(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("q_scale"),
          concat_ws(",", col("q")).as("q_csv"))
        .orderBy(col("vec_id"))
    },
      // absmax and the floor(x+0.5) half-up rounding are the same IEEE
      // double ops in both engines; csv render of the int components
      oracle =
        """WITH m AS (SELECT vec_id, embedding,
          |  COALESCE(list_aggregate(list_transform(embedding,
          |    x -> abs(x::DOUBLE)), 'max'), 0.0) AS q_scale
          | FROM embeddings)
          |SELECT vec_id, q_scale,
          | array_to_string(CASE WHEN q_scale > 0
          |  THEN list_transform(embedding,
          |    x -> CAST(floor(x::DOUBLE * 127.0 / q_scale + 0.5) AS INT))
          |  ELSE list_transform(embedding, x -> 0) END, ',') AS q_csv
          |FROM m ORDER BY vec_id""".stripMargin),

    QueryDef("emb_drift", (s, dir) => {
      // embedding drift monitor: per-(label, dim) mean gap between the
      // standing corpus (3/4 of vectors) and a fresh ingest slice (the
      // rest) — fixed-point sums, one IEEE division per mean, so every
      // gap is bit-exact against the oracle
      val e = t(s, dir, "embeddings")
      Similarity.centroidDrift(
        e.filter(col("vec_id") % 4 =!= 0),
        e.filter(col("vec_id") % 4 === 0))
        .orderBy(col("label"), col("dim"))
    },
      // same assign CTE as sim_ivf_topk; fixed-point sums (round to 1e-6
      // then BIGINT) make the mean order-independent on both engines
      // same fixed-point slice sums as the kmeans oracles; means and
      // the gap are the same IEEE division/subtraction in both engines
      oracle =
        """WITH x AS (SELECT label, vec_id,
          |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
          |  unnest(embedding) AS x FROM embeddings),
          |b AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n_base,
          |  sum(CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS s
          | FROM x WHERE vec_id % 4 <> 0 GROUP BY 1, 2),
          |d AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n_delta,
          |  sum(CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS s
          | FROM x WHERE vec_id % 4 = 0 GROUP BY 1, 2)
          |SELECT b.label, b.dim, b.n_base, d.n_delta,
          | CAST(b.s AS DOUBLE) / (b.n_base * 1000000) AS mean_base,
          | CAST(d.s AS DOUBLE) / (d.n_delta * 1000000) AS mean_delta,
          | abs(CAST(b.s AS DOUBLE) / (b.n_base * 1000000)
          |   - CAST(d.s AS DOUBLE) / (d.n_delta * 1000000)) AS gap
          |FROM b JOIN d USING (label, dim) ORDER BY label, dim""".stripMargin),

    QueryDef("emb_pq_codes", (s, dir) => {
      // product quantization end to end: 4 independent 4-centroid
      // codebooks over 16-dim slices (2 Lloyd's rounds each, the
      // deterministic fixed-point replay), then every vector encoded as
      // its 4 sub-codes — 64 floats → 4 small ints. Narrow assignment:
      // codebooks are plan literals, the corpus never shuffles.
      val e = t(s, dir, "embeddings")
      val cbs = Similarity.pqTrain(e, d = 64, m = 4, k = 4, maxIters = 2)
      e.select(col("vec_id"),
          posexplode(Similarity.pqAssign(col("embedding"), cbs))
            .as(Seq("subspace", "code")))
        .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
          col("code"))
        .orderBy(col("vec_id"), col("subspace"))
    },
      // four independent sliced replays of the SAME training recipe,
      // one per subspace, then the four assignments unioned
      oracle = {
        val subs = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2, k = 4))
          .mkString(",\n")
        val un = (0 until 4).map(j => s"SELECT * FROM p${j}f")
          .mkString(" UNION ALL ")
        s"""WITH $subs
           |SELECT vec_id, subspace, code FROM ($un)
           |ORDER BY vec_id, subspace""".stripMargin
      }),

    QueryDef("emb_kmeans_train", (s, dir) => {
      // the full Lloyd's training loop (3 fixed rounds; tol 0 so an
      // exact fixed point short-circuits identically on both engines):
      // per round one distributed step job, k×d means collected as the
      // next round's plan literals. The oracle replays the identical 3
      // rounds as unrolled CTEs — fixed-point sums make every round's
      // means order-independent, so the trained codebook is bit-stable.
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val trained = Similarity.kmeansTrain(emb, k = 8, maxIters = 3)
      trained.zipWithIndex.flatMap { case (c, cid) =>
        c.zipWithIndex.map { case (v, d) =>
          (cid.toLong, d.toLong, v.toDouble)
        }
      }.toDF("cell", "dim", "val")
        .orderBy(col("cell"), col("dim"))
    },
      // the training loop unrolled: three identical (assign → fixed-point
      // means → rebuild codebook) rounds as CTE blocks; an empty cell
      // COALESCEs to its previous centroid, and the REAL cast per round
      // mirrors the engine's mean.toFloat round-trip (both IEEE
      // round-to-nearest-even)
      oracle =
        s"""WITH ${kmTrainCtes(3, 8)}
           |SELECT cell, dim, CAST(v AS DOUBLE) AS val FROM (
           | SELECT CAST(cid AS BIGINT) AS cell,
           |  CAST(generate_subscripts(ce, 1) - 1 AS BIGINT) AS dim,
           |  unnest(ce) AS v
           | FROM c3)
           |ORDER BY cell, dim""".stripMargin),

    QueryDef("sim_ivf_topk_trained", (s, dir) => {
      // IVF probe against the trained codebook — same ivfTopK plan, but
      // the codebook takes the full production path: trained once,
      // persisted to parquet, RELOADED from disk for the probe (the
      // train-weekly / encode-daily split). FloatType round-trips
      // bit-exactly, so the result is identical to probing the
      // in-memory codebook — which is exactly what the shared oracle
      // checks.
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.kmeansTrain(emb, k = 8, maxIters = 2)
      val artifact = s"$artifactRoot/codebook_ivf"
      Similarity.saveCodebook(s, cb, artifact)
      val loaded = Similarity.loadCodebook(s, artifact)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfTopK(emb, loaded, q, k = 10, nprobe = 3)
    },
      // ivfTopK fed by the TRAINED codebook: probe selection and cell
      // assignment both run against c2
      oracle =
        s"""WITH ${kmTrainCtes(2, 8)},
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cid FROM c2, q
           |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
           |assign AS (SELECT e.vec_id, e.embedding,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN c2 c GROUP BY e.vec_id, e.embedding)
           |SELECT a.vec_id, ${duckCosine("a.embedding", "q.qe")} AS score
           |FROM assign a, q
           |WHERE a.cell IN (SELECT cid FROM probe)
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),

    QueryDef("sim_knn_join", (s, dir) => {
      // batch ANN: top-3 cosine neighbors for EVERY vector among its
      // hamming<=1 sign-bucket candidates; per-vector top-k plans as
      // WindowGroupLimit (map-side truncation to k before the shuffle)
      Similarity.knnSelfJoin(t(s, dir, "embeddings"), k = 3)
        .orderBy(col("vec_id"), col("nbr_rank"))
    },
      // per-vector top-3 among hamming<=1 bucket candidates; same bucket
      // arithmetic as sim_ann_bucket, row_number tie-break on nbr id
      oracle =
        s"""WITH v AS (SELECT vec_id, embedding,
           |  ${duckBkt("embedding")} AS bk FROM embeddings),
           |c AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
           |  ${duckCosine("a.embedding", "b.embedding")} AS score
           | FROM v a JOIN v b ON a.vec_id <> b.vec_id
           |  AND bit_count(xor(a.bk, b.bk)) <= 1),
           |r AS (SELECT vec_id, nbr_id, score,
           |  CAST(row_number() OVER (PARTITION BY vec_id
           |    ORDER BY score DESC, nbr_id) AS BIGINT) AS nbr_rank
           | FROM c)
           |SELECT vec_id, nbr_id, score, nbr_rank FROM r
           |WHERE nbr_rank <= 3 ORDER BY vec_id, nbr_rank""".stripMargin),

    QueryDef("sim_ivf_topk", (s, dir) => {
      // IVF scale path: coarse-quantizer cell assignment (narrow), probe
      // only the nprobe cells nearest the query, exact cosine within them
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfTopK(emb, cents, q, k = 10, nprobe = 3)
    },
      oracle = simIvfTopkOracle),

    QueryDef("sim_ivf_topk_partitioned", (s, dir) => {
      // the IVF scale layout made real: corpus written cell-partitioned
      // (one directory per coarse cell — the index build), probe reads
      // with DIRECTORY pruning so only nprobe/k of the bytes are
      // touched. Same centroids and probe as sim_ivf_topk ⇒ same
      // oracle, bit for bit; ScaleSpec pins the numFiles skip.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val store = s"$artifactRoot/ivf_store"
      Similarity.writeIvfPartitioned(emb, cents, store)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfTopKPartitioned(s, store, cents, q, k = 10, nprobe = 3)
    },
      // same rows as sim_ivf_topk by construction, so its oracle verbatim
      oracle = simIvfTopkOracle),

    QueryDef("sim_pq_adc", (s, dir) => {
      // the PQ search path end to end: train 4 sub-codebooks, encode
      // every vector to 4 codes, then answer a top-10 query from CODES
      // alone — m LUT lookups per row summed in fixed order, no per-row
      // vector math (the billion-scale ADC scan)
      val emb = t(s, dir, "embeddings")
      val cbs = Similarity.pqTrain(emb, d = 64, m = 4, k = 4, maxIters = 2)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      val codes = emb.select(col("vec_id"),
        Similarity.pqAssign(col("embedding"), cbs).as("codes"))
      Similarity.pqAdcTopK(codes, cbs, q, k = 10)
    },
      oracle = simPqAdcOracle),

    QueryDef("sim_pq_adc_trained", (s, dir) => {
      // sim_pq_adc through the PERSISTED-artifact path: the 4 sub-
      // codebooks round-trip parquet (saveCodebooks/loadCodebooks multi-
      // book form) before encoding and the ADC scan — the train-weekly /
      // encode-daily split for PQ. Bit-exact round-trip ⇒ the same
      // oracle as the in-memory twin.
      val emb = t(s, dir, "embeddings")
      val cbs = Similarity.pqTrain(emb, d = 64, m = 4, k = 4, maxIters = 2)
      val artifact = s"$artifactRoot/codebook_pq"
      Similarity.saveCodebooks(s, cbs, artifact)
      val loaded = Similarity.loadCodebooks(s, artifact)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      val codes = emb.select(col("vec_id"),
        Similarity.pqAssign(col("embedding"), loaded).as("codes"))
      Similarity.pqAdcTopK(codes, loaded, q, k = 10)
    },
      // same rows as sim_pq_adc by construction, so its oracle verbatim
      oracle = simPqAdcOracle),

    QueryDef("sim_ivfpq_topk", (s, dir) => {
      // the billion-scale composite: the store holds (vec_id, codes)
      // ONLY, partitioned by coarse cell — a probe directory-skips to
      // nprobe/k of the files AND reads no vector bytes inside them
      // (both pinned in ScaleSpec). Seed coarse codebook (= sim_ivf's),
      // trained PQ codebooks (= sim_pq_adc's), so the oracle is the
      // composition of the two green replays: ADC ranking restricted to
      // probed cells.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val cbs = Similarity.pqTrain(emb, d = 64, m = 4, k = 4, maxIters = 2)
      val store = s"$artifactRoot/ivfpq_store"
      Similarity.writeIvfPqPartitioned(emb, cents, cbs, store)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfPqTopK(s, store, cents, cbs, q, k = 10, nprobe = 3)
    },
      // the sim_pq_adc ADC ranking restricted to the sim_ivf_topk
      // probed cells: the two green replays composed — seed coarse
      // codebook for probe/assign, trained PQ codebooks for the dists
      oracle = {
        val subs = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2, k = 4))
          .mkString(",\n")
        val dists = (0 until 4).map { j =>
          s"""d$j AS (SELECT f.vec_id,
             |  ${duckL2(s"(SELECT embedding[${j * 16 + 1}:${(j + 1) * 16}] FROM embeddings WHERE vec_id = 0)", "c.ce")} AS d
             | FROM p${j}f f JOIN p${j}c2 c ON c.cid = f.code)""".stripMargin
        }.mkString(",\n")
        s"""WITH $subs,
           |$dists,
           |cc AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cid FROM cc, q
           |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
           |assign AS (SELECT e.vec_id,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN cc c GROUP BY e.vec_id, e.embedding)
           |SELECT d0.vec_id, ((d0.d + d1.d) + d2.d) + d3.d AS adist
           |FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
           | JOIN d3 USING (vec_id) JOIN assign a ON a.vec_id = d0.vec_id
           |WHERE a.cell IN (SELECT cid FROM probe)
           |ORDER BY adist, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef("sim_ivfpq_residual_topk", (s, dir) => {
      // the higher-recall residual sibling (FAISS by_residual=true): PQ
      // codebooks train on CELL RESIDUALS, the store quantizes each
      // vector's residual, and the probe builds per-cell LUTs from the
      // query's residual against each probed centroid — nprobe pruned
      // codes-only scans unioned into one global top-k. The oracle
      // replays residual computation (double-subtract rounded once to
      // REAL — the pinned rounding point), all four residual training
      // chains, and the per-cell LUT join.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val cbs = Similarity.pqTrainResidual(emb, cents,
        d = 64, m = 4, k = 4, maxIters = 2)
      val store = s"$artifactRoot/ivfpq_res_store"
      Similarity.writeIvfPqResidualPartitioned(emb, cents, cbs, store)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfPqResidualTopK(s, store, cents, cbs, q,
        k = 10, nprobe = 3)
    },
      // the residual composite: residuals = double-subtract rounded once
      // to REAL (both engines' pinned recipe), four training chains over
      // the residual corpus, per-cell LUTs via the qres join, ADC
      // restricted to probed cells
      oracle = {
        val resSub = "CAST(x[1]::DOUBLE - x[2]::DOUBLE AS REAL)"
        val subs = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2,
            k = 4, src = "res", vcol = "rv"))
          .mkString(",\n")
        val dists = (0 until 4).map { j =>
          s"""d$j AS (SELECT f.vec_id,
             |  ${duckL2(s"qres.rqv[${j * 16 + 1}:${(j + 1) * 16}]", "c.ce")} AS d
             | FROM p${j}f f JOIN p${j}c2 c ON c.cid = f.code
             | JOIN res r ON r.vec_id = f.vec_id
             | JOIN qres ON qres.cell = r.cell)""".stripMargin
        }.mkString(",\n")
        s"""WITH cc AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cid FROM cc, q
           |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
           |assign AS (SELECT e.vec_id, e.embedding,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN cc c GROUP BY e.vec_id, e.embedding),
           |res AS (SELECT a.vec_id, a.cell,
           |   list_transform(list_zip(a.embedding, c.ce), x -> $resSub) AS rv
           | FROM assign a JOIN cc c ON c.cid = a.cell),
           |qres AS (SELECT cc.cid AS cell,
           |   list_transform(list_zip(q.qe, cc.ce), x -> $resSub) AS rqv
           | FROM cc, q),
           |$subs,
           |$dists
           |SELECT d0.vec_id, ((d0.d + d1.d) + d2.d) + d3.d AS adist
           |FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
           | JOIN d3 USING (vec_id) JOIN res rr ON rr.vec_id = d0.vec_id
           |WHERE rr.cell IN (SELECT cid FROM probe)
           |ORDER BY adist, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef("sim_ivfpq_filtered", (s, dir) => {
      // FILTERED vector search — nearest neighbors among rows passing a
      // metadata predicate (here vec_id % 3 = 0, standing in for a
      // per-source/tenant slice): PRE-filter semantics, so the ranking
      // runs over probed-cells ∩ allowed and returns a full k whenever
      // the intersection has k rows — a post-filter would silently
      // under-fill. Same store, codebooks, and ADC arithmetic as the
      // green sim_ivfpq_topk row; the oracle is that query's replay
      // with the predicate applied before the LIMIT.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val cbs = Similarity.pqTrain(emb, d = 64, m = 4, k = 4, maxIters = 2)
      val store = s"$artifactRoot/ivfpq_filtered_store"
      Similarity.writeIvfPqPartitioned(emb, cents, cbs, store)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      Similarity.ivfPqTopKFiltered(s, store, cents, cbs, q,
        allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id")),
        k = 10, nprobe = 3)
    },
      // sim_ivfpq_topk's replay with the metadata predicate applied
      // BEFORE the limit — pre-filter semantics: rank over
      // probed-cells ∩ allowed, return a full k when it has k rows
      oracle = {
        val subs = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2, k = 4))
          .mkString(",\n")
        val dists = (0 until 4).map { j =>
          s"""d$j AS (SELECT f.vec_id,
             |  ${duckL2(s"(SELECT embedding[${j * 16 + 1}:${(j + 1) * 16}] FROM embeddings WHERE vec_id = 0)", "c.ce")} AS d
             | FROM p${j}f f JOIN p${j}c2 c ON c.cid = f.code)""".stripMargin
        }.mkString(",\n")
        s"""WITH $subs,
           |$dists,
           |cc AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cid FROM cc, q
           |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
           |assign AS (SELECT e.vec_id,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN cc c GROUP BY e.vec_id, e.embedding)
           |SELECT d0.vec_id, ((d0.d + d1.d) + d2.d) + d3.d AS adist
           |FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
           | JOIN d3 USING (vec_id) JOIN assign a ON a.vec_id = d0.vec_id
           |WHERE a.cell IN (SELECT cid FROM probe) AND d0.vec_id % 3 = 0
           |ORDER BY adist, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef("sim_ivfpq_incremental", (s, dir) => {
      // INCREMENTAL index maintenance — the daily-crawl shape: the
      // coarse codebook and PQ codebooks train once on the initial
      // batch (even vec_ids) and FREEZE; the initial batch's codes
      // commit as snapshot v0 of a cell-partitioned table, and the new
      // batch (odd vec_ids) encodes under the frozen codebooks and
      // APPENDS as v1 — v0's files carry into v1 as manifest pointers,
      // so the daily cost is O(new batch), never a rebuild. The probe
      // composes the whole stack: probe cells from the frozen coarse
      // codebook, one metadata-pruned scanPartitionAsOf per probed
      // cell AT v1, ADC over the union. The oracle replays frozen
      // training on the even slice and ranks the full corpus — append
      // vs rebuild must be invisible to the answer.
      val emb = t(s, dir, "embeddings")
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 =!= 0)
      val cents = Similarity.ivfCentroids(a, k = 8)
      val cbs = Similarity.pqTrain(a, d = 64, m = 4, k = 4, maxIters = 2)
      val tbl = s"$artifactRoot/ivfpq_snap_store"
      Snapshots.init(s, tbl)
      def codes(df: DataFrame) = df.select(col("vec_id"),
        Similarity.pqAssign(col("embedding"), cbs).as("codes"),
        Similarity.ivfAssign(col("embedding"), cents).as("ivf_cell"))
      Snapshots.commitPartitioned(s, codes(a), tbl, "ivf_cell",
        append = false)
      val v1 = Snapshots.commitPartitioned(s, codes(b), tbl, "ivf_cell",
        append = true)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).first().getSeq[Float](0)
      val scan = Similarity.probeCells(cents, q, nprobe = 3)
        .map(c => Snapshots.scanPartitionAsOf(s, tbl, v1, "ivf_cell", c))
        .reduce(_ unionByName _)
      Similarity.pqAdcTopK(scan, cbs, q, k = 10)
    },
      // frozen-codebook incremental build: training chains run over the
      // EVEN slice only (the initial batch), codes for the FULL corpus
      // assign under those frozen codebooks, ranking as usual — append
      // vs rebuild must be invisible to the answer
      oracle = {
        val subs = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2,
            k = 4, src = "av"))
          .mkString(",\n")
        val full = (0 until 4).map { j =>
          s"""e$j AS (SELECT e.vec_id,
             |   min({'d': ${duckL2(s"e.embedding[${j * 16 + 1}:${(j + 1) * 16}]", "c.ce")}, 'cid': c.cid})['cid'] AS code
             | FROM embeddings e CROSS JOIN p${j}c2 c
             | GROUP BY e.vec_id, e.embedding)""".stripMargin
        }.mkString(",\n")
        val dists = (0 until 4).map { j =>
          s"""d$j AS (SELECT f.vec_id,
             |  ${duckL2(s"(SELECT embedding[${j * 16 + 1}:${(j + 1) * 16}] FROM embeddings WHERE vec_id = 0)", "c.ce")} AS d
             | FROM e$j f JOIN p${j}c2 c ON c.cid = f.code)""".stripMargin
        }.mkString(",\n")
        s"""WITH av AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id % 2 = 0),
           |$subs,
           |$full,
           |$dists,
           |cc AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM av ORDER BY vec_id LIMIT 8),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cid FROM cc, q
           |  ORDER BY ${duckL2("ce", "qe")}, cid LIMIT 3),
           |assign AS (SELECT e.vec_id,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN cc c GROUP BY e.vec_id, e.embedding)
           |SELECT d0.vec_id, ((d0.d + d1.d) + d2.d) + d3.d AS adist
           |FROM d0 JOIN d1 USING (vec_id) JOIN d2 USING (vec_id)
           | JOIN d3 USING (vec_id) JOIN assign a ON a.vec_id = d0.vec_id
           |WHERE a.cell IN (SELECT cid FROM probe)
           |ORDER BY adist, vec_id LIMIT 10""".stripMargin
      }),

    QueryDef("sim_recall_ivfpq", (s, dir) => {
      // recall@10 of the index a user actually deploys: BOTH IVF-PQ
      // variants (raw codes and FAISS-style residual codes) evaluated
      // against exact L2 ground truth over a 5-query eval set — same
      // seed coarse codebook, same nprobe=3 probe, same per-store ADC
      // rankings as the green sim_ivfpq_topk / sim_ivfpq_residual_topk
      // rows, so this measures the INDEX, not a new ranking. Both arms
      // run through the BATCHED probe (ivfPqTopKBatch — the query
      // frame joins its probed cells in one job; SimilaritySpec pins
      // bit-equality with the per-query loop), so the eval set never
      // collects to the driver and the harness is the serving shape a
      // 10k-query suite needs. The residual variant's recall edge
      // (tighter residual clusters under the same code budget) is
      // asserted in SimilaritySpec; here both recalls sit under the
      // oracle, denominators = the brute top-k's actual size per query.
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.ivfCentroids(emb, k = 8)
      val cbsRaw = Similarity.pqTrain(emb, d = 64, m = 4, k = 4, maxIters = 2)
      val cbsRes = Similarity.pqTrainResidual(emb, cents,
        d = 64, m = 4, k = 4, maxIters = 2)
      val storeRaw = s"$artifactRoot/ivfpq_recall_raw"
      val storeRes = s"$artifactRoot/ivfpq_recall_res"
      Similarity.writeIvfPqPartitioned(emb, cents, cbsRaw, storeRaw)
      Similarity.writeIvfPqResidualPartitioned(emb, cents, cbsRes, storeRes)
      val k = 10
      val qdf = graft.functions.Materialize(
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
      val candRaw = Similarity.ivfPqTopKBatch(s, storeRaw, cents, cbsRaw,
        qdf, k = k, nprobe = 3)
        .select(col("qid"), col("vec_id"))
      val candRes = Similarity.ivfPqTopKBatch(s, storeRes, cents, cbsRes,
        qdf, k = k, nprobe = 3, byResidual = true)
        .select(col("qid"), col("vec_id"))
      // exact ground truth: ONE broadcast scored pass, L2 ascending,
      // shared by both arms' recall joins
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("d").asc, col("vec_id"))
      val brute = graft.functions.Materialize(
        emb.crossJoin(broadcast(qdf))
          .select(col("qid"), col("vec_id"),
            Similarity.l2sq(col("embedding"), col("qvec")).as("d"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k)
          .select(col("qid"), col("vec_id")))
      val bn = brute.groupBy(col("qid")).agg(count(lit(1)).as("n_brute"))
      def hits(cand: DataFrame, as: String) =
        cand.join(brute, Seq("qid", "vec_id"))
          .groupBy(col("qid")).agg(count(lit(1)).as(as))
      qdf.select(col("qid"))
        .join(bn, Seq("qid"))
        .join(hits(candRaw, "n_hit_raw"), Seq("qid"), "left")
        .join(hits(candRes, "n_hit_res"), Seq("qid"), "left")
        .select(col("qid"), col("n_brute"),
          coalesce(col("n_hit_raw"), lit(0L)).as("n_hit_raw"),
          coalesce(col("n_hit_res"), lit(0L)).as("n_hit_res"),
          (coalesce(col("n_hit_raw"), lit(0L)).cast("double") /
            col("n_brute").cast("double")).as("recall_raw"),
          (coalesce(col("n_hit_res"), lit(0L)).cast("double") /
            col("n_brute").cast("double")).as("recall_res"))
        .orderBy(col("qid"))
    },
      // both composite indexes replayed for a QUERY SET: raw chains
      // prefix p0..p3, residual chains p4..p7 (over the res frame), a
      // per-qid probe, per-qid ADC rankings restricted to probed cells,
      // and exact-L2 brute ground truth. MATERIALIZED on the shared
      // frames (qset/assign/res/brute) — each is referenced by several
      // downstream CTEs and DuckDB inlines plain multi-referenced CTEs.
      oracle = {
        val resSub = "CAST(x[1]::DOUBLE - x[2]::DOUBLE AS REAL)"
        val subsRaw = (0 until 4)
          .map(j => pqSubCtes(j, j * 16 + 1, (j + 1) * 16, iters = 2, k = 4))
          .mkString(",\n")
        val subsRes = (4 until 8)
          .map(j => pqSubCtes(j, (j - 4) * 16 + 1, (j - 3) * 16, iters = 2,
            k = 4, src = "res", vcol = "rv"))
          .mkString(",\n")
        val rawDists = (0 until 4).map { j =>
          s"""rd$j AS (SELECT q.qid, f.vec_id,
             |  ${duckL2(s"q.qe[${j * 16 + 1}:${(j + 1) * 16}]", "c.ce")} AS d
             | FROM p${j}f f JOIN p${j}c2 c ON c.cid = f.code
             | CROSS JOIN qset q)""".stripMargin
        }.mkString(",\n")
        val resDists = (0 until 4).map { j =>
          s"""sd$j AS (SELECT qres.qid, f.vec_id,
             |  ${duckL2(s"qres.rqv[${j * 16 + 1}:${(j + 1) * 16}]", "c.ce")} AS d
             | FROM p${j + 4}f f JOIN p${j + 4}c2 c ON c.cid = f.code
             | JOIN res r ON r.vec_id = f.vec_id
             | JOIN qres ON qres.cell = r.cell)""".stripMargin
        }.mkString(",\n")
        def cand(name: String, d: String, cellOf: String) =
          s"""$name AS (SELECT qid, vec_id FROM (
             | SELECT qid, vec_id,
             |  row_number() OVER (PARTITION BY qid
             |   ORDER BY adist, vec_id) AS rn
             | FROM (SELECT ${d}0.qid, ${d}0.vec_id,
             |    ((${d}0.d + ${d}1.d) + ${d}2.d) + ${d}3.d AS adist
             |   FROM ${d}0 JOIN ${d}1 USING (qid, vec_id)
             |    JOIN ${d}2 USING (qid, vec_id)
             |    JOIN ${d}3 USING (qid, vec_id)
             |    JOIN $cellOf
             |    JOIN probe p ON p.qid = ${d}0.qid AND p.cid = cl.cell))
             | WHERE rn <= 10)""".stripMargin
        s"""WITH cc AS (SELECT vec_id AS cid, embedding AS ce
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |qset AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
           |  FROM embeddings WHERE vec_id % 100 = 0),
           |probe AS MATERIALIZED (SELECT qid, cid FROM (
           |  SELECT q.qid, cc.cid, row_number() OVER (PARTITION BY q.qid
           |   ORDER BY ${duckL2("cc.ce", "q.qe")}, cc.cid) AS rn
           |  FROM cc, qset q) WHERE rn <= 3),
           |assign AS MATERIALIZED (SELECT e.vec_id, e.embedding,
           |   min({'d': ${duckL2("e.embedding", "c.ce")}, 'cid': c.cid})['cid'] AS cell
           | FROM embeddings e CROSS JOIN cc c GROUP BY e.vec_id, e.embedding),
           |res AS MATERIALIZED (SELECT a.vec_id, a.cell,
           |   list_transform(list_zip(a.embedding, c.ce), x -> $resSub) AS rv
           | FROM assign a JOIN cc c ON c.cid = a.cell),
           |qres AS MATERIALIZED (SELECT q.qid, cc.cid AS cell,
           |   list_transform(list_zip(q.qe, cc.ce), x -> $resSub) AS rqv
           | FROM cc, qset q),
           |$subsRaw,
           |$subsRes,
           |$rawDists,
           |$resDists,
           |${cand("candraw", "rd", "assign cl ON cl.vec_id = rd0.vec_id")},
           |${cand("candres", "sd", "res cl ON cl.vec_id = sd0.vec_id")},
           |brute AS MATERIALIZED (SELECT qid, vec_id FROM (
           |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
           |   ORDER BY ${duckL2("e.embedding", "q.qe")}, e.vec_id) AS rn
           |  FROM embeddings e, qset q) WHERE rn <= 10),
           |bn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_brute
           | FROM brute GROUP BY qid),
           |hr AS (SELECT c.qid, CAST(count(*) AS BIGINT) AS n
           | FROM candraw c JOIN brute b USING (qid, vec_id) GROUP BY c.qid),
           |hs AS (SELECT c.qid, CAST(count(*) AS BIGINT) AS n
           | FROM candres c JOIN brute b USING (qid, vec_id) GROUP BY c.qid)
           |SELECT q.qid, bn.n_brute,
           | coalesce(hr.n, 0) AS n_hit_raw,
           | coalesce(hs.n, 0) AS n_hit_res,
           | CAST(coalesce(hr.n, 0) AS DOUBLE)
           |  / CAST(bn.n_brute AS DOUBLE) AS recall_raw,
           | CAST(coalesce(hs.n, 0) AS DOUBLE)
           |  / CAST(bn.n_brute AS DOUBLE) AS recall_res
           |FROM qset q JOIN bn ON bn.qid = q.qid
           | LEFT JOIN hr ON hr.qid = q.qid
           | LEFT JOIN hs ON hs.qid = q.qid
           |ORDER BY q.qid""".stripMargin
      })
  )
}
