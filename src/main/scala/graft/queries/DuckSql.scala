package graft
package queries

import graft.functions.{Description, TextAnalysis}

/** DuckDB SQL fragments the oracles share. Each restates a Spark-side
  * kernel so the oracle's rows hash equal to the query's: the same
  * normalization, shingles, signatures, bands, BPE rounds, Lloyd's rounds
  * and distance sums, in the same order of operations. */
private[queries] object DuckSql {

  /** DuckDB cosine between two FLOAT[] expressions, matching
    * [[Similarity.cosine]] bit-for-bit: double products, left-to-right
    * list_aggregate sum, d/(sqrt(a)*sqrt(b)). */
  private def duckDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), 'sum')"
  def duckCosine(a: String, b: String): String = {
    val d = duckDot(a, b)
    val na = s"sqrt(${duckDot(a, a)})"
    val nb = s"sqrt(${duckDot(b, b)})"
    s"(CASE WHEN $na > 0 AND $nb > 0 THEN $d / ($na * $nb) ELSE 0.0 END)"
  }

  /** DuckDB normalize/words/shingles matching [[TextAnalysis.normalize]]. */
  val duckNorm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  val duckWords = s"string_split($duckNorm, ' ')"

  /** [[graft.functions.TextAnalysis.canonicalizeUrl]]'s chain as ONE
    * nested DuckDB expression over `u` (a column or parenthesized
    * expression) — for oracles that need the canonical form inline
    * rather than as the CTE pipeline `text_url_canonical` replays. */
  def duckCanonical(u: String): String = {
    def nf = s"regexp_replace($u, '#.*', '')"
    val lh = s"lower(regexp_extract($nf, '(?i)^(https?://[^/?#]+)', 1))" +
      s" || regexp_replace($nf, '(?i)^https?://[^/?#]+', '')"
    val np = s"regexp_replace(regexp_replace($lh," +
      s" '^(http://[^/:?#]+):80($$|[/?#].*)', '\\1\\2')," +
      s" '^(https://[^/:?#]+):443($$|[/?#].*)', '\\1\\2')"
    val nt = s"regexp_replace(regexp_replace(regexp_replace($np," +
      s" '&(utm_[^=&]*|fbclid|gclid)=[^&]*', '', 'g')," +
      s" '\\?(utm_[^=&]*|fbclid|gclid)=[^&]*&', '?')," +
      s" '\\?(utm_[^=&]*|fbclid|gclid)=[^&]*$$', '')"
    s"regexp_replace($nt, '/$$', '')"
  }

  /** RE2-safe variant of the month canonicalization chain: identical to
    * [[Description.monthSubs]] except the Fall pattern's lookahead
    * (`au(?!thor|g)\w*`, not expressible in RE2) is replaced by
    * `autum\w*`; equivalent on any vocabulary without other au- words
    * (asserted by MonthSubSpec). */
  val oracleMonthSubs: Seq[(String, String)] =
    Description.monthSubs().map {
      case ("Fal", _) => ("Fal", """fa\w*|autum\w*""")
      case other => other
    }

  // NB: DuckDB single-quoted strings are raw — regex backslashes pass
  // through verbatim, so patterns are embedded unescaped.
  def duckMonthChain(inner: String): String =
    oracleMonthSubs.foldLeft(inner) { case (acc, (repl, pat)) =>
      s"regexp_replace($acc, '$pat', '$repl', 'gi')"
    }

  val duckShingles2 =
    s"(CASE WHEN len($duckWords) < 2 THEN [$duckNorm] ELSE list_transform(range(1, len($duckWords)), i -> $duckWords[i] || ' ' || $duckWords[i+1]) END)"
  val duckShingles3 =
    s"(CASE WHEN len($duckWords) < 3 THEN [$duckNorm] ELSE list_transform(range(1, len($duckWords)-1), i -> $duckWords[i] || ' ' || $duckWords[i+1] || ' ' || $duckWords[i+2]) END)"
  def duckMinhash(shingles: String, seed: Int): String =
    s"list_aggregate(list_transform($shingles, s -> md5(s || ':$seed')), 'min')"
  private def duckSimhash(bits: Int) = {
    // mirror Dedup.simhash: one md5 gives 32 hex digits; wider
    // signatures read a doubled digest (digits 1..32 unchanged)
    val digest = if (bits <= 32) "md5(w)" else "md5(w) || md5(w || '~')"
    s"""CAST(list_sum(list_transform(range(0, $bits), b ->
       | CASE WHEN list_sum(list_transform($duckWords, w ->
       |   CASE WHEN substr($digest, b + 1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
       |  THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin.replace("\n", "")
  }
  val duckSimhash48 = duckSimhash(48)
  // sig → band arithmetic shared by every MinHash oracle (pairs,
  // clusters, fuzzy decontamination, online dedup)
  val duckBandCtes =
    s"""sig AS (SELECT doc_id,
       | ${(0 until 8).map(i => duckMinhash(duckShingles3, i) + s" AS mh$i").mkString(", ")}
       | FROM documents),
       |band AS (
       | ${(0 until 4).map(b =>
         s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS bucket FROM sig")
         .mkString(" UNION ALL ")})""".stripMargin
  // first-writer-wins losers: docs that are NOT the min id in some of
  // their band buckets — the complement of dedup_online's survivors and
  // the streaming twin's single-batch loser feed
  val duckOnlineLostCtes =
    s"""$duckBandCtes,
       |firsts AS (SELECT band, bucket, min(doc_id) AS f
       | FROM band GROUP BY 1, 2),
       |lost AS (SELECT DISTINCT b.doc_id FROM band b
       | JOIN firsts f ON b.band = f.band AND b.bucket = f.bucket
       |  AND b.doc_id <> f.f)""".stripMargin
  // MinHash LSH candidate edges as reusable CTEs (sig → band → qual →
  // edges), shared by the pair listing and the clusters closure
  val duckMinhashEdgeCtes =
    s"""$duckBandCtes,
       |qual AS (SELECT band, bucket FROM band GROUP BY band, bucket
       | HAVING count(*) > 1 AND count(*) <= 64),
       |edges AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM band a JOIN qual q ON a.band = q.band AND a.bucket = q.bucket
       | JOIN band b ON a.band = b.band AND a.bucket = b.bucket
       |  AND a.doc_id < b.doc_id)""".stripMargin
  // BPE training replay shared by the merge-table, encode, and
  // held-out-apply oracles: w0 = the word-frequency table with
  // pipe-joined char symbols, then per round p/x = pair explode, g =
  // weighted pair counts, m = the argmax merge, w = the fused table.
  // The fuse is the same whole-symbol left-to-right fold as
  // TextAnalysis.bpeFusePair (list_reduce with a string accumulator:
  // last emitted symbol == lhs AND next == rhs → append undelimited) —
  // NOT a raw substring replace, which can match across symbol
  // boundaries ('ab|c' contains 'b|c'). Each w{i} is MATERIALIZED:
  // w{i-1} is referenced by its round's p AND w CTEs (and m{i} by the
  // apply replay too), and DuckDB inlines multiply-referenced plain
  // CTEs — materialization pins each round to one evaluation.
  // Parameterized by a source filter so the apply oracle can train on
  // a slice of the corpus.
  def duckFuse(sym: String, lhs: String, rhs: String): String =
    s"""list_reduce(string_split($sym, '|'),
       |  (acc, x) -> CASE WHEN regexp_extract(acc, '([^|]*)$$', 1) = $lhs
       |    AND x = $rhs THEN acc || x ELSE acc || '|' || x END)""".stripMargin
  def duckBpeTrainCtes(where: String): String = {
    val rounds = (1 to 8).map { i =>
      s"""p$i AS (SELECT cnt, string_split(sym, '|') AS sy FROM w${i - 1}),
         |x$i AS (SELECT cnt, sy, unnest(range(1, len(sy))) AS i FROM p$i),
         |g$i AS (SELECT sy[i] AS lhs, sy[i + 1] AS rhs,
         |  CAST(sum(cnt) AS BIGINT) AS n FROM x$i GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT $i AS round, lhs, rhs, n FROM g$i
         | ORDER BY n DESC, lhs, rhs LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, cnt,
         |  ${duckFuse("sym", "t.lhs", "t.rhs")} AS sym
         | FROM w${i - 1}, m$i t)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
       |  rtrim(regexp_replace(word, '(.)', '\\1|', 'g'), '|') AS sym
       | FROM (SELECT unnest($duckWords) AS word FROM documents
       |   WHERE $duckNorm <> '' $where) WHERE word <> '' GROUP BY word),
       |$rounds""".stripMargin
  }
  val duckBpeCtes: String = duckBpeTrainCtes("")
  def duckLangScore(lang: String): String =
    TextAnalysis.stopwords(lang)
      .map(w => "len(regexp_extract_all(lower(text), '\\b" + w + "\\b'))")
      .mkString("(", " + ", ")")
  def duckL2(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), " +
      s"x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)), 'sum')"
  // sign-bucket key over defaultPositions (1/17/33/49) — shared by every
  // embedding-LSH oracle so the bucket arithmetic cannot drift between
  // the pair, cluster, knn, and ann restatements
  def duckBkt(e: String): String =
    s"""(CASE WHEN $e[1] > 0 THEN 1 ELSE 0 END
       | + CASE WHEN $e[17] > 0 THEN 2 ELSE 0 END
       | + CASE WHEN $e[33] > 0 THEN 4 ELSE 0 END
       | + CASE WHEN $e[49] > 0 THEN 8 ELSE 0 END)""".stripMargin.replace("\n", "")
  // the hamming<=1 near-dup edge SQL shared by dedup_embed_lsh (pair
  // listing, with score) and dedup_embed_clusters (closure input) —
  // one definition, as with duckMinhashEdgeCtes
  val duckEmbedEdgeCtes: String =
    s"""v AS (SELECT vec_id, embedding, ${duckBkt("embedding")} AS bk
       |  FROM embeddings),
       |eedges AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |  ${duckCosine("x.embedding", "y.embedding")} AS score
       | FROM v x JOIN v y ON x.vec_id < y.vec_id
       | WHERE bit_count(xor(x.bk, y.bk)) <= 1
       |  AND ${duckCosine("x.embedding", "y.embedding")} >= 0.35)""".stripMargin
  // Lloyd's training replay shared by every trained-codebook oracle:
  // c0 = the id-order seed, then per round assign → fixed-point means →
  // rebuild codebook (REAL cast = the engine's mean.toFloat; COALESCE =
  // the empty-cell-keeps-centroid rule). After kmTrainCtes(n), CTE c<n>
  // is the trained codebook (cid, ce).
  // ONE iteration template serves both the full-vector kmeans replays
  // and the PQ per-subspace replays — prefix `p` namespaces the CTE
  // chain, `base`/`vcol` pick the (vec_id, vector) source
  private def lloydIterCtes(p: String, base: String, vcol: String)(i: Int): String =
    s"""${p}a$i AS (SELECT v.vec_id, v.$vcol,
       |   min({'d': ${duckL2(s"v.$vcol", "c.ce")}, 'cid': c.cid})['cid'] AS cell
       | FROM $base v CROSS JOIN ${p}c${i - 1} c GROUP BY v.vec_id, v.$vcol),
       |${p}x$i AS (SELECT cell,
       |   CAST(generate_subscripts($vcol, 1) - 1 AS BIGINT) AS dim,
       |   unnest($vcol) AS x
       | FROM ${p}a$i),
       |${p}s$i AS (SELECT cell, dim,
       |   CAST(sum(CAST(round(x::DOUBLE * 1000000, 0) AS BIGINT)) AS DOUBLE)
       |     / (count(*) * 1000000) AS mean
       | FROM ${p}x$i GROUP BY cell, dim),
       |${p}c$i AS (SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
       | FROM ${p}c${i - 1} p LEFT JOIN (SELECT cell AS cid,
       |    list(CAST(mean AS REAL) ORDER BY dim) AS ce
       |   FROM ${p}s$i GROUP BY cell) n ON n.cid = p.cid)""".stripMargin
  private def kmIterCtes(i: Int): String =
    lloydIterCtes("", "embeddings", "embedding")(i)
  // the same Lloyd's replay over a SLICED vector, prefixed p<j> so m
  // independent subspace chains coexist in one statement — the PQ
  // oracle; after pqSubCtes(j, ...), CTE p<j>f is that subspace's
  // (vec_id, subspace, code) assignment under the trained codebook
  def pqSubCtes(j: Int, lo: Int, hi: Int, iters: Int, k: Int,
      src: String = "embeddings", vcol: String = "embedding"): String = {
    val it = lloydIterCtes(s"p$j", s"p${j}v", "sv") _
    s"""p${j}v AS (SELECT vec_id, $vcol[$lo:$hi] AS sv FROM $src),
       |p${j}c0 AS (SELECT vec_id AS cid, sv AS ce
       |  FROM p${j}v ORDER BY vec_id LIMIT $k),
       |${(1 to iters).map(it).mkString(",\n")},
       |p${j}f AS (SELECT v.vec_id, CAST($j AS BIGINT) AS subspace,
       |   CAST(min({'d': ${duckL2("v.sv", "c.ce")}, 'cid': c.cid})['cid']
       |     AS BIGINT) AS code
       | FROM p${j}v v CROSS JOIN p${j}c$iters c GROUP BY v.vec_id)""".stripMargin
  }
  def kmTrainCtes(iters: Int, k: Int): String =
    s"""c0 AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT $k),
       |${(1 to iters).map(kmIterCtes).mkString(",\n")}""".stripMargin
}
