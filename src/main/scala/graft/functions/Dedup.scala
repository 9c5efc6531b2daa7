package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for corpus-scale pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Design for 100 TB:
  *  - Signatures (minhash / simhash / fingerprints) are computed per-row
  *    with array expressions — `transform`/`aggregate`/`array_min` over the
  *    token list — so signature generation is a narrow, shuffle-free,
  *    codegen'd map. No explode: a 1k-token document never becomes 1k rows.
  *  - Candidate generation shuffles only (key, doc_id) pairs, never text:
  *    LSH band buckets (minhash) or blocking keys (jaccard) keep the
  *    pairwise comparison bounded per bucket instead of O(n²) global.
  *  - Hashes are md5-hex-string based: deterministic, seedable by suffix,
  *    portable across engines (used by the DuckDB oracle), and min() over
  *    hex strings is a valid uniform min-hash order.
  *  - Multi-consumer frames and iterative lineage are pinned via
  *    [[Materialize]]: `localCheckpoint` by default (executor-local
  *    blocks — an executor loss severs the lineage and the bounded job
  *    re-runs), or a RELIABLE `checkpoint()` when the session sets
  *    `spark.graft.checkpoint.reliable=true` plus a checkpoint dir —
  *    the mode a multi-hour 100-TB pipeline runs.
  */
object Dedup {

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Fingerprint groups: one hash aggregation (map-side partial, then one
    * shuffle on the 128-bit key) with group size and survivor id. */
  def fingerprintGroups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Exact duplicate groups only (size > 1). */
  def exactDuplicates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    fingerprintGroups(df, textCol, idCol).filter(col("n_dups") > 1)

  /** Keep one representative per fingerprint (the min id): the
    * dropDuplicates analog with a deterministic survivor. */
  def exactDedup(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Word n-gram shingles of the normalized text, as an array column
    * (pure array expression, no explode).
    *
    * The words array is bound ONCE as a lambda variable via a one-element
    * `transform` (a let-binding). Referencing `words(text)` directly inside
    * the per-shingle lambda would re-evaluate the whole
    * `split(normalize(text))` regex chain for every element — Spark's
    * subexpression elimination hoists common subtrees at *argument*
    * positions but never descends into lambda bodies — turning shingling
    * into O(words²) regex work per row (measured 11.6 s vs ~1 s on 5k docs
    * at sf0.1). */
  def shingles(text: Column, n: Int = 3): Column =
    element_at(
      transform(array(TextAnalysis.words(text)), ws =>
        when(size(ws) < n, array(concat_ws(" ", ws)))
          .otherwise(
            transform(
              sequence(lit(0), size(ws) - n),
              i => concat_ws(" ", slice(ws, i + 1, lit(n)))))),
      1)

  /** One minhash value: the minimum md5 hex digest over the shingle set,
    * salted by `seed`. min over uniformly-hashed values = classic minhash;
    * hex strings order like their 128-bit values. */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(s, lit(":" + seed)))))

  /** Whole k-row signature as ONE `array<string>` expression, with the
    * shingle array bound once via an outer single-element `transform` (a
    * let-binding: the lambda variable is evaluated once, so the shingle
    * construction doesn't get re-inlined into every hash row the way k
    * separate `withColumn`s are after `CollapseProject`). */
  private def signatureExpr(text: Column, k: Int, shingleSize: Int): Column =
    transform(array(shingles(text, shingleSize)), sh =>
      transform(sequence(lit(0), lit(k - 1)), seed =>
        array_min(transform(sh, s =>
          md5(concat(s, lit(":"), seed.cast("string")))))))

  /** Attach the signature as a single `__sig` array column. Routed through
    * `explode` (a Generator) so the signature expression is materialized
    * exactly once per row — projections downstream reference the generated
    * attribute instead of re-inlining the hash chain. */
  private def withSignatureArray(
      df: DataFrame, textCol: String, k: Int, shingleSize: Int): DataFrame =
    df.select(col("*"),
      explode(signatureExpr(col(textCol), k, shingleSize)).as("__sig"))

  /** k-permutation minhash signature as k columns `mh0..mh{k-1}`. */
  def withMinhashSignature(
      df: DataFrame,
      textCol: String = "text",
      k: Int = 8,
      shingleSize: Int = 3): DataFrame = {
    val sig = withSignatureArray(df, textCol, k, shingleSize)
    (0 until k).foldLeft(sig) { (d, i) =>
      d.withColumn(s"mh$i", element_at(col("__sig"), i + 1))
    }.drop("__sig")
  }

  /** Sorted-prefix pair expansion: for ids sorted ascending, every (a, b)
    * with a earlier than b — i.e. all unordered pairs, emitted as a < b
    * under the given struct field names. Shared by the LSH bucket
    * operators here and the bucket-shaped pair generators in
    * [[Fuzzy.fuzzyPairs]] / [[graft.operators.Basket]]. */
  private[graft] def sortedPairs(
      ids: Column,
      loName: String = "doc_a",
      hiName: String = "doc_b"): Column =
    flatten(transform(ids, (b, j) =>
      transform(slice(ids, lit(1), j), a =>
        struct(a.as(loName), b.as(hiName)))))

  /** LSH candidate pairs: band the k-signature into `bands` groups of
    * `k/bands` rows and bucket on (band index, band hash).
    *
    * Shape chosen for scale: ONE shuffle of (band, bucket, id) triples —
    * never the text or the signature — partitioned on (band, bucket). A
    * window count over that same partitioning (no extra exchange, and
    * WindowExec's spill-capable row buffer, never an array) sizes each
    * bucket, and buckets above `maxBucket` are dropped BEFORE any array
    * or pair materializes: an oversized bucket means degenerate shingles
    * (empty/boilerplate docs), not near-dups, and its quadratic pair
    * expansion is exactly what OOMs a reducer at corpus scale. Only then
    * do the surviving buckets — each provably ≤ maxBucket ids — collect
    * and pair-expand. Use [[minhashOversizedBuckets]] to observe/log what
    * the cap dropped. Output: (doc_a < doc_b) distinct candidate pairs. */
  def minhashCandidates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = bandBuckets(df, textCol, idCol, k, bands, shingleSize)
    val w = Window.partitionBy(col("band"), col("bucket"))
    banded
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") > 1 && col("__n") <= maxBucket)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .select(explode(sortedPairs(col("ids"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** The buckets [[minhashCandidates]]' cap would drop, with their sizes —
    * count/log these per run so the cap is an observable policy, not a
    * silent data loss. */
  def minhashOversizedBuckets(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64): DataFrame =
    bandBuckets(df, textCol, idCol, k, bands, shingleSize)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucket)

  /** (band, bucket, id) triples: one row per (doc, band), bucket = hash of
    * the band's signature slice. */
  private def bandBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      bands: Int,
      shingleSize: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val rowsPerBand = k / bands
    val sig = withSignatureArray(df.select(col(idCol), col(textCol)),
      textCol, k, shingleSize)
    sig.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        md5(concat_ws("|", slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "bucket")))
  }

  /** FUZZY benchmark decontamination: drop every corpus doc whose MinHash
    * signature shares ANY LSH band bucket with a benchmark doc — catches
    * the paraphrased/reformatted benchmark leakage that exact-gram
    * decontamination misses (near-dup text agrees on some band with
    * probability ≈ 1−(1−s^r)^b for Jaccard s). Same banding as
    * [[minhashCandidates]] but cross-corpus and deliberately UNCAPPED:
    * decontamination is recall-first — a false positive drops one
    * training doc, a false negative leaks an eval item into training —
    * and the expansion is a semi-join (one row per matching doc), never
    * a pair expansion, so there is no quadratic bucket hazard to cap.
    *
    * Shape: the benchmark side collapses to its DISTINCT (band, bucket)
    * key set — thousands of rows for a real eval suite, broadcast-sized,
    * but data-dependent, so AQE decides (the dedup-frame policy). The
    * corpus side shuffles only (band, bucket, id) triples. */
  def decontaminateFuzzy(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    val docBands = bandBuckets(docs, textCol, idCol, k, bands, shingleSize)
    val benchKeys = bandBuckets(bench, textCol, idCol, k, bands, shingleSize)
      .select(col("band"), col("bucket")).distinct()
    val contaminated = docBands
      .join(benchKeys, Seq("band", "bucket"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Build the benchmark-gram BLOOM FILTER for
    * [[decontaminateBloomExact]] — the sketch a 100-TB decontamination
    * pass ships instead of a broadcast hash table when the eval-suite
    * gram set grows past broadcast comfort: ~`1.44·log2(1/fpp)` bits per
    * gram (≈10 bits at 1% FPP) versus tens of bytes per entry in a
    * broadcast map, a ~40× cut in what every executor must hold. Built
    * with Spark's native `BloomFilterAggregate` over `xxhash64(gram)`
    * (one map-side-combinable aggregation, codegen'd probe on the read
    * side — no UDF anywhere). Bits are sized by the standard
    * `n·ln(1/fpp)/ln²2` formula from the DISTINCT gram count. */
  def benchGramBloom(
      benchGrams: DataFrame,
      gramCol: String = "gram",
      fpp: Double = 0.01): Array[Byte] = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val distinctGrams = benchGrams.select(col(gramCol)).distinct()
    val n = math.max(1L, distinctGrams.count())
    val bits = math.max(64L,
      math.ceil(n * math.log(1 / fpp) / (math.log(2) * math.log(2))).toLong)
    val agg = GraftSqlShim.column(
      new BloomFilterAggregate(
        GraftSqlShim.expression(xxhash64(col(gramCol))),
        Literal(n), Literal(bits)).toAggregateExpression())
    distinctGrams.agg(agg.as("bf")).collect()(0).getAs[Array[Byte]](0)
  }

  /** The codegen'd membership probe over a [[benchGramBloom]] sketch:
    * `might_contain(bloom, xxhash64(gram))` as a native Catalyst
    * expression (the bloom bytes ride the plan as a literal — Spark
    * broadcasts the task binary once per executor). */
  def bloomProbe(bloom: Array[Byte], gram: Column): Column = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    GraftSqlShim.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      GraftSqlShim.expression(xxhash64(gram))))
  }

  /** EXACT decontamination behind a bloom prefilter — same answer as the
    * broadcast-join form (`text_decontaminate`), different scale shape:
    * the probe drops every gram the sketch proves absent (no false
    * negatives, so no missed contamination), and only the surviving
    * sliver reaches the exact semi-join that clears the sketch's false
    * positives. That join can therefore SHUFFLE instead of broadcast —
    * the right plan once the eval suite outgrows broadcast — and the
    * shuffled row count is the survivor sliver, not the corpus gram
    * stream. Emits every doc in `docGrams` with its exact shared-gram
    * count (zero-hit docs included), matching the broadcast form
    * bit-for-bit. */
  def decontaminateBloomExact(
      docGrams: DataFrame,
      benchGrams: DataFrame,
      docCol: String = "doc_id",
      gramCol: String = "gram",
      fpp: Double = 0.01): DataFrame = {
    val bench = benchGrams.select(col(gramCol)).distinct()
    val bloom = benchGramBloom(bench, gramCol, fpp)
    val counts = docGrams
      .filter(bloomProbe(bloom, col(gramCol)))
      .join(bench, Seq(gramCol), "left_semi")
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_shared"))
    docGrams.select(col(docCol)).distinct()
      .join(counts, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** The banding surface as a public frame — (idCol, band, bucket) — for
    * consumers outside this object (the streaming online-dedup twin). */
  def bandKeys(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3): DataFrame =
    bandBuckets(docs, textCol, idCol, k, bands, shingleSize)

  /** ONLINE (first-writer-wins) fuzzy dedup, batch form: a doc survives
    * iff it is the MINIMUM id in every LSH band bucket it lands in — the
    * greedy "first doc claims the bucket, later near-dups lose" contract
    * a continuously-ingesting corpus runs (the streaming twin keys the
    * same buckets by arrival order). Deliberately transitive-conservative:
    * a doc can lose its bucket to a doc that itself lost elsewhere — at
    * dedup scale dropping an extra near-dup is the cheap error direction.
    * Versus [[connectedComponents]] survivors: no iteration — ONE
    * signature pass feeding one (band, bucket) shuffle, with the
    * per-bucket min as a window over that same partitioning (the
    * [[minhashCandidates]] shape: no extra exchange, and no self-join
    * that would re-run the signature chain, which lambda-variable HOFs
    * prevent ReuseExchange from unifying). */
  def onlineDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 8,
      bands: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = bandBuckets(docs, textCol, idCol, k, bands, shingleSize)
    val w = Window.partitionBy(col("band"), col("bucket"))
    val losers = b
      .withColumn("__first", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("__first"))
      .select(col(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** `bits`-bit SimHash over the word set, as a per-row array expression:
    * bit b is the sign of Σ_tokens (±1 by the b-th hex digit's high bit of
    * the token's digest). No shuffle; one pass.
    *
    * The signature is a long: ≥48-bit signatures are what keep pigeonhole
    * buckets selective at ≥10⁸ docs (a 24-bit space has only 16M values —
    * at corpus scale every bucket is hot by pigeonhole alone). Bit 62 is
    * the highest usable weight (2^63 overflows), so `bits <= 63`. One md5
    * yields 32 hex digits; for bits > 32 the digest is md5(w)‖md5(w‖"~"),
    * 64 digits — digits 1..32 are unchanged, so signatures for bits ≤ 32
    * are identical to the single-digest form. */
  def simhash(text: Column, bits: Int = 16): Column = {
    require(bits <= 63, "signature is a non-negative long; max 63 bits")
    // Hash every word ONCE, binding the digest array as a lambda variable;
    // the per-bit votes then read one hex digit of the materialized
    // digests. Hashing inside the per-bit lambda would md5 each word
    // `bits` times (subexpression elimination never enters lambda bodies).
    val digests =
      if (bits <= 32) transform(TextAnalysis.words(text), w => md5(w))
      else transform(TextAnalysis.words(text), w =>
        concat(md5(w), md5(concat(w, lit("~")))))
    // null text yields null (matching SQL semantics and the oracle);
    // without the guard the per-bit votes read null as 0 votes and every
    // null-text doc would share signature 0, flooding near-dup pairs
    when(text.isNull, lit(null).cast("long")).otherwise(element_at(
      transform(array(digests), hs => {
        val perBit = transform(
          sequence(lit(0), lit(bits - 1)),
          b => {
            val vote = aggregate(
              hs,
              lit(0),
              (acc, h) =>
                acc + when(h.substr(b + 1, lit(1)) >= "8", 1).otherwise(-1))
            // 2^b is a power of two — exact in double for b <= 62
            when(vote > 0, pow(lit(2), b).cast("long")).otherwise(lit(0L))
          })
        aggregate(perBit, lit(0L), (acc, x) => acc + x)
      }),
      1))
  }

  /** Hamming distance between two simhash ints (for near-dup thresholds). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: exact-match blocking on the simhash
    * value itself (identical signatures), the cheapest useful variant —
    * one aggregation, no cross join. */
  def simhashDuplicates(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      bits: Int = 16): DataFrame =
    df.select(col(idCol), simhash(col(textCol), bits).as("sh"))
      .groupBy("sh")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** SimHash near-dup pairs within hamming distance `maxDist`, by
    * pigeonhole blocking: split the `bits`-bit signature into
    * `maxDist + 1` chunks — two signatures differing in at most `maxDist`
    * bits must agree EXACTLY on at least one chunk, so bucketing on
    * (chunk index, chunk value) generates every qualifying pair without a
    * global cross join. Only (chunk, value, id, sh) rows shuffle; the
    * exact hamming check then filters false candidates. Classic
    * multi-index hamming search; complements [[simhashDuplicates]]'s
    * identical-signature grouping. */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      bits: Int = 16,
      maxDist: Int = 3): DataFrame =
    hammingNearDupPairs(
      df.select(col(idCol), simhash(col(textCol), bits).as("sh")),
      idCol, "sh", bits, maxDist)

  /** The pigeonhole hamming self-join itself, over ANY existing
    * (id, long-signature) frame — shared by [[simhashNearDupPairs]]
    * (text) and [[graft.functions.Multimodal.extractDHash]]'s perceptual
    * image pairs, because a 64-bit fingerprint joins the same way no
    * matter which modality produced it. `bits` may be 64: chunk
    * extraction masks after the arithmetic shift, so a signature riding
    * the sign bit still buckets correctly. */
  def hammingNearDupPairs(
      sigFrame: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int,
      maxDist: Int): DataFrame = {
    // Bucketed SELF-JOIN on (chunk, value): narrow chunks (bits/(maxDist+1))
    // give wide buckets at corpus scale, so the quadratic in-bucket pair
    // expansion must stay inside codegen — a collect_list + higher-order
    // pair expansion was measured 3x slower than the hash join on the same
    // buckets (interpreted HOFs, per-bucket array allocation). Only (chunk,
    // value, id, sh) tuples shuffle.
    //
    // The per-word md5 signature is the dominant cost of the whole query,
    // and a naive self-join evaluates it once PER SIDE: ReuseExchange
    // cannot unify the two subplans because the signature is built from
    // higher-order functions whose lambda variables defeat plan
    // canonicalization (verified: `explain` shows two full scans and no
    // ReusedExchange even with both sides repartitioned identically). So
    // the (id, sh) frame — 16 bytes/doc, the smallest possible cut point —
    // is materialized ONCE eagerly (Materialize: localCheckpoint, or a
    // reliable checkpoint under spark.graft.checkpoint.reliable); both
    // join sides then re-derive only the trivial chunk explode from the
    // stored blocks.
    val banded = hammingChunkKeys(
      Materialize(sigFrame.select(col(idCol), col(sigCol).as("sh"))),
      idCol, "sh", bits, maxDist)
    val l = banded.select(col("ci"), col("cv"),
      col(idCol).as("id_a"), col("sh").as("sha"))
    val r = banded.select(col("ci"), col("cv"),
      col(idCol).as("id_b"), col("sh").as("shb"))
    l.join(r, Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sha"), col("shb")).as("dist"))
      // filter BEFORE the distinct: false candidates (chunk collisions
      // above the threshold) are most of the volume in the wide-bucket
      // regime and need not reach the dedup shuffle
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** The pigeonhole CANDIDATE pairs of [[hammingNearDupPairs]] BEFORE
    * the exact distance filter — the hamming family's deploy-time
    * measurement surface (`dedup_recall_minhash`'s sibling): at
    * `chunks = maxDist + 1` the banding is LOSSLESS by pigeonhole, so
    * recall against the brute cross-product truth reads EXACTLY 1.0
    * (the invariant the recall row and `DedupSpec` pin as measured
    * fact, not assumption), and the quantity a deployment actually
    * tunes is PRECISION — candidate pairs per true near-dup, the
    * in-bucket expansion the chunk width admits and the exact check
    * then pays for. Returns distinct (id_a, id_b, dist). */
  def hammingCandidatePairs(
      sigFrame: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int,
      maxDist: Int): DataFrame = {
    val banded = hammingChunkKeys(
      Materialize(sigFrame.select(col(idCol), col(sigCol).as("sh"))),
      idCol, "sh", bits, maxDist)
    val l = banded.select(col("ci"), col("cv"),
      col(idCol).as("id_a"), col("sh").as("sha"))
    val r = banded.select(col("ci"), col("cv"),
      col(idCol).as("id_b"), col("sh").as("shb"))
    l.join(r, Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sha"), col("shb")).as("dist"))
      .distinct()
  }

  /** The pigeonhole chunk projection shared by [[hammingNearDupPairs]]
    * and the streaming image-dedup twin: one row per (id, signature,
    * chunk index, chunk value), `maxDist + 1` balanced chunks. Chunk c
    * covers bits [c·bits/chunks, (c+1)·bits/chunks) — every chunk
    * non-empty for chunks ≤ bits; a fixed ceil-width layout would push
    * trailing chunks past the signature for some (bits, maxDist),
    * collapsing them into one global bucket. Pure stateless projection
    * (works on a streaming frame); two signatures within `maxDist`
    * hamming agree exactly on ≥ 1 chunk, so (ci, cv) equality is a
    * lossless candidate key. */
  def hammingChunkKeys(
      sig: DataFrame,
      idCol: String,
      sigCol: String,
      bits: Int,
      maxDist: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, "long signatures carry 1..64 bits")
    require(maxDist >= 0 && maxDist < bits, "need 0 <= maxDist < bits")
    val chunks = maxDist + 1
    val chunkVals = (0 until chunks).map { c =>
      val lo = c * bits / chunks
      val hi = (c + 1) * bits / chunks
      // long mask: width can reach 63 when maxDist = 0 ((1L<<63)-1 wraps
      // to Long.MaxValue, which IS the correct 63-bit mask); width 64
      // (bits=64, maxDist=0) needs -1L explicitly — a JVM shift by 64
      // is a shift by 0 and would yield mask 0, one global bucket
      val width = hi - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(c).as("ci"),
        shiftright(col(sigCol), lo).bitwiseAND(lit(mask)).as("cv"))
    }
    sig
      .select(col(idCol), col(sigCol).as("sh"),
        explode(array(chunkVals: _*)).as("b"))
      .select(col(idCol), col("sh"), col("b.ci"), col("b.cv"))
  }

  // ------------------------------------------------------------------
  // N-gram Jaccard
  // ------------------------------------------------------------------

  /** Connected components over an undirected candidate-pair edge list —
    * the step that turns pairwise near-dup CANDIDATES into dedup CLUSTERS
    * (transitive closure), whose minimum member id is the canonical
    * survivor.
    *
    * Iterative min-label propagation WITH pointer jumping: every node
    * starts as its own label; each round every node takes the minimum of
    * (its label, its neighbors' labels, its label's label). The third
    * term — label-of-label, the classic shortcutting step — is what keeps
    * adversarially deep graphs from costing diameter rounds: a minimum
    * label reachable in d hops propagates via neighbor hops AND via
    * pointer doubling, so rounds grow with log(diameter) (a million-hop
    * chain converges in ~20 rounds, not a million). Labels are always
    * node ids drawn from the same frame, so the jump is a self-join of
    * the label frame on (lbl = node). Each round is two shuffle joins
    * plus a map-side-combinable min aggregation, with the label frame
    * materialized per round ([[Materialize]]: localCheckpoint, or a
    * reliable checkpoint under `spark.graft.checkpoint.reliable` — the
    * mode a long-running CC over a 100-TB edge set wants, since an
    * executor loss otherwise fails the whole iteration) — iterative
    * plans otherwise stack each round's joins into one exponentially
    * deep lineage.
    *
    * Convergence is checked with zero extra jobs: the changed-row count
    * rides the checkpoint action itself via `observe()` (an
    * `Observation` per round), instead of a separate `count()` job per
    * round against the checkpointed frame.
    *
    * When the symmetrized edge list fits on the driver
    * ([[symmetrizedEdges]]: no null endpoint and rows × 16 bytes within
    * `spark.sql.autoBroadcastJoinThreshold`; -1 keeps it distributed)
    * the same rounds replay there over primitive arrays: the same
    * neighbour-min and label-of-label jump, the same changed count, the
    * same `maxIter` failure, and a local frame with the same columns.
    *
    * Only nodes that appear in at least one edge are returned (isolated
    * docs are their own trivial cluster and need no shuffle). Output:
    * (node, component) with component = min reachable node id.
    *
    * @throws IllegalStateException if maxIter rounds pass without
    *         convergence — an unconverged labeling silently mislabels
    *         components, so it must fail loudly. */
  def connectedComponents(
      edges: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 25): DataFrame = {
    val loop: Rounds = symmetrizedEdges(edges, aCol, bCol) match {
      case OnDriver(g) => new Rounds {
        private var lbl = Array.range(0, g.n)
        def round(): Long = {
          val cur = lbl
          // min of its label, its label's label and its neighbours'
          lbl = Array.tabulate(g.n)(v => g.row(v).foldLeft(
            math.min(cur(v), cur(cur(v))))((m, j) =>
            math.min(m, cur(g.nbr(j)))))
          (0 until g.n).count(v => lbl(v) < cur(v)).toLong
        }
        def result(): DataFrame = g.frame(edges.sparkSession, "component",
          v => Some(g.ids(lbl(v))))
      }
      case OnExecutors(symM, _) => new Rounds {
        private var labels = Materialize(
          symM.select(col("src").as("node")).distinct()
            .withColumn("lbl", col("node")))
        def round(): Long = {
          val nbrMin = symM
            .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
            .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
          // pointer jump: the label of my label (left join — every lbl IS
          // a node id in the frame, but coalesce keeps a miss from
          // dropping rows rather than silently mislabeling)
          val obs = org.apache.spark.sql.Observation()
          val next = labels
            .join(nbrMin.select(col("src").as("node"), col("nbr_lbl")),
              Seq("node"))
            .join(labels.select(col("node").as("j_node"),
              col("lbl").as("j_lbl")), col("lbl") === col("j_node"), "left")
            .select(col("node"), col("lbl"),
              least(col("lbl"), col("nbr_lbl"),
                coalesce(col("j_lbl"), col("lbl"))).as("new_lbl"))
            .observe(obs,
              sum(when(col("new_lbl") < col("lbl"), 1L).otherwise(0L))
                .as("changed"))
          val nextM = Materialize(next)
          Materialize.drop(labels) // superseded round frame: blocks dead
          labels = nextM.select(col("node"), col("new_lbl").as("lbl"))
          Option(obs.get.apply("changed"))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
        }
        def result(): DataFrame = {
          Materialize.drop(symM) // final labels are materialized
          labels.select(col("node"), col("lbl").as("component"))
        }
      }
    }
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIter) {
      changed = loop.round()
      it += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          s"raise maxIter (graph diameter exceeds it)")
    loop.result()
  }

  /** STRONGLY connected components of a DIRECTED graph — the classic
    * [[connectedComponents]] cannot answer: in a link/citation/redirect
    * graph, "mutually reachable" (a genuine cluster, a redirect cycle,
    * a link ring) is a far stronger signal than "connected ignoring
    * direction". FW-BW-MIN coloring with trimming, the standard
    * distributed SCC shape:
    *
    *  1. TRIM to fixpoint: a node with no incoming or no outgoing edge
    *     among the remaining graph is its own singleton SCC — chains
    *     and DAG tails peel off in diameter-free rounds, which is most
    *     of a real web graph.
    *  2. COLOR the residue: F = min node id that REACHES each node
    *     (min-label fixpoint along edges), B = min id each node
    *     reaches (same along reversed edges); `F(u) == B(u) == m`
    *     proves mutual reachability with m, so those nodes are
    *     CONFIRMED as SCC(m) — at minimum the SCC of the remaining
    *     global minimum confirms every round. Both fixpoints
    *     pointer-jump (min-ancestor composes transitively, so the
    *     label-of-label shortcut is sound in a directed graph too),
    *     converging in O(log diameter) rounds.
    *  3. Remove confirmed nodes and repeat.
    *
    * Cost shape: rounds × (edge-join + node-sized aggregates), every
    * frame re-materialized per round to cap lineage — the same
    * sync-iterative contract as [[connectedComponents]]/[[pagerank]].
    * Worst case (cycle-chain-cycle graphs) confirms one SCC per outer
    * round; `maxIter` guards both loops loudly. Isolated nodes carry
    * no edges and are omitted, matching the family. Output:
    * (node, scc) with scc = the component's minimum node id. */
  def stronglyConnectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 25): DataFrame = {
    var rem = Materialize(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // node count rides the checkpoint action via observe() — the
    // connectedComponents convergence pattern, zero extra jobs (applied
    // to every count this loop takes below)
    val nodesObs = org.apache.spark.sql.Observation()
    var nodes = Materialize(
      rem.select(col("src").as("node"))
        .unionByName(rem.select(col("dst").as("node"))).distinct()
        .observe(nodesObs, count(lit(1)).as("n")))
    val spark = edges.sparkSession
    var done = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("scc",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var outer = 0
    var remaining = Option(nodesObs.get.apply("n"))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // superseded survivor/edge frames are dead once their replacement
    // materialized — release the blocks (trimmed/confirmed frames stay:
    // `done` reads them at the final action)
    def replaceNodes(next: DataFrame): Unit = {
      Materialize.drop(nodes); nodes = next
    }
    def replaceRem(next: DataFrame): Unit = {
      Materialize.drop(rem); rem = next
    }
    while (remaining > 0 && outer < maxIter) {
      // 1. trim to fixpoint: sources/sinks are singleton SCCs
      var trimming = true
      var inner = 0
      while (trimming && inner < maxIter) {
        val hasOut = rem.select(col("src").as("node")).distinct()
        val hasIn = rem.select(col("dst").as("node")).distinct()
        val tObs = org.apache.spark.sql.Observation()
        val trimmed = Materialize(
          nodes.join(hasOut, Seq("node"), "left_anti")
            .unionByName(nodes.join(hasIn, Seq("node"), "left_anti"))
            .distinct()
            .observe(tObs, count(lit(1)).as("n")))
        val t = Option(tObs.get.apply("n"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        if (t == 0) {
          Materialize.drop(trimmed) // empty: `done` never reads it
          trimming = false
        } else {
          done = done.unionByName(
            trimmed.select(col("node"), col("node").as("scc")))
          replaceNodes(Materialize(
            nodes.join(trimmed, Seq("node"), "left_anti")))
          replaceRem(Materialize(rem
            .join(nodes.select(col("node").as("src")), Seq("src"))
            .join(nodes.select(col("node").as("dst")), Seq("dst"))
            .select(col("src"), col("dst"))))
          remaining -= t
        }
        inner += 1
      }
      require(!trimming,
        s"SCC trim did not converge in $maxIter rounds")
      if (remaining > 0) {
        // 2. color: forward and backward min-reachability labels
        val f = minReachLabels(rem, "src", "dst", nodes, maxIter)
        val b = minReachLabels(rem, "dst", "src", nodes, maxIter)
        val cObs = org.apache.spark.sql.Observation()
        val confirmed = Materialize(
          f.join(b.select(col("node"), col("lbl").as("blbl")), Seq("node"))
            .filter(col("lbl") === col("blbl"))
            .select(col("node"), col("lbl").as("scc"))
            .observe(cObs, count(lit(1)).as("n")))
        val c = Option(cObs.get.apply("n"))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        Materialize.drop(f)
        Materialize.drop(b)
        require(c > 0,
          "SCC coloring confirmed nothing — impossible on a trimmed " +
            "residue; corrupted edge frame?")
        done = done.unionByName(confirmed.select(col("node"), col("scc")))
        replaceNodes(Materialize(
          nodes.join(confirmed.select(col("node")), Seq("node"), "left_anti")))
        replaceRem(Materialize(rem
          .join(nodes.select(col("node").as("src")), Seq("src"))
          .join(nodes.select(col("node").as("dst")), Seq("dst"))
          .select(col("src"), col("dst"))))
        remaining -= c
      }
      outer += 1
    }
    Materialize.drop(nodes) // empty at convergence; `done` reads only
    Materialize.drop(rem)   // the trimmed/confirmed frames
    if (remaining > 0)
      throw new IllegalStateException(
        s"stronglyConnectedComponents did not converge in $maxIter " +
          "outer rounds — a cycle-chain necklace longer than maxIter; " +
          "raise it")
    done
  }

  /** Min-label reachability fixpoint: label(v) = min node id with a
    * directed path to v along (`fromCol` → `toCol`) edges, v included.
    * Pointer-jumps (label-of-label — sound because min-ancestor is
    * transitive) like [[connectedComponents]]; loud on
    * non-convergence. */
  private def minReachLabels(
      edges: DataFrame,
      fromCol: String,
      toCol: String,
      nodes: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = Materialize(nodes.withColumn("lbl", col("node")))
    var it = 0
    var changed = 1L
    while (changed > 0 && it < maxIter) {
      val push = edges
        .join(labels.select(col("node").as(fromCol), col("lbl")),
          Seq(fromCol))
        .groupBy(col(toCol)).agg(min(col("lbl")).as("in_lbl"))
      val obs = org.apache.spark.sql.Observation()
      val next = labels
        .join(push.select(col(toCol).as("node"), col("in_lbl")),
          Seq("node"), "left")
        .join(labels.select(col("node").as("j_node"), col("lbl").as("j_lbl")),
          col("lbl") === col("j_node"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("in_lbl"), col("lbl")),
            coalesce(col("j_lbl"), col("lbl"))).as("new_lbl"))
        .observe(obs,
          sum(when(col("new_lbl") < col("lbl"), 1L).otherwise(0L))
            .as("changed"))
      val nextM = Materialize(next)
      changed = Option(obs.get.apply("changed"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      Materialize.drop(labels) // superseded round frame: blocks dead
      labels = nextM.select(col("node"), col("new_lbl").as("lbl"))
      it += 1
    }
    require(changed == 0,
      s"min-reachability fixpoint did not converge in $maxIter rounds")
    labels
  }

  /** Degree-damped centrality (PageRank) over the undirected candidate
    * graph — which member of a near-dup neighborhood is the HUB. Where
    * [[connectedComponents]] answers "which docs belong together",
    * centrality ranks them: canonical-document selection, crawl-frontier
    * prioritization, or spotting template pages whose boilerplate links
    * them to everything.
    *
    * All arithmetic is FIXED-POINT integer: ranks are longs scaled by
    * 10⁶, one round is `r' = (15·10⁶) div 100 + (85 · Σ_in (r div
    * deg)) div 100`. Long sums are order-independent and integer `div`
    * truncation is engine-portable (all values positive), so a replay in
    * any engine reproduces every round bit-for-bit — the same
    * transcendental-free determinism contract as the k-means trainer,
    * where float summation order would diverge. Headroom: the in-sum is
    * bounded by the total rank mass ≈ |V|·10⁶, so longs are exact to
    * ~10¹² nodes — beyond any corpus this engine will see.
    *
    * Shape at scale: the symmetrized edge list is materialized once
    * ([[Materialize]] — localCheckpoint or reliable per
    * `spark.graft.checkpoint.reliable`) and every round is one shuffle
    * join of the (node, rank, deg) frame against it plus a
    * map-side-combinable sum and a node-sized degree re-attach (skipped
    * on the final round), with the rank frame re-materialized per round
    * to cap lineage. An edge list that fits on the driver
    * ([[symmetrizedEdges]]) replays the same `Long` rounds there — `r
    * div deg`, `(85 * in_sum) div 100`, overflow throwing as under ANSI
    * — and returns a local frame.
    * A fixed iteration count (not a convergence test) keeps the replay
    * closed-form; 4–8 rounds is the usual plateau for near-dup graphs,
    * whose components are small by construction.
    *
    * Every node in an undirected edge graph has degree ≥ 1, so each
    * round's join covers all nodes — no dangling-mass correction needed.
    * Isolated docs (no edges) carry no signal and are omitted, matching
    * [[connectedComponents]]. Output: (node, rank_fp), rank_fp the
    * 10⁶-scaled fixed-point rank after `iterations` rounds. */
  def pagerank(
      edges: DataFrame,
      iterations: Int,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    val Scale = 1000000L
    val Teleport = 15L * Scale / 100
    val loop: Rounds = symmetrizedEdges(edges, aCol, bCol) match {
      case OnDriver(g) => new Rounds {
        private val deg = Array.tabulate(g.n)(v => g.row(v).length.toLong)
        private var r = Array.fill(g.n)(Scale)
        def round(): Long = {
          val contrib = Array.tabulate(g.n)(v => r(v) / deg(v))
          r = Array.tabulate(g.n) { v =>
            val inSum = g.row(v).foldLeft(0L)((t, j) =>
              Math.addExact(t, contrib(g.nbr(j))))
            Math.addExact(Teleport, Math.multiplyExact(85L, inSum) / 100)
          }
          0L
        }
        def result(): DataFrame =
          g.frame(edges.sparkSession, "rank_fp", v => Some(r(v)))
      }
      case OnExecutors(symM, _) => new Rounds {
        private val deg =
          symM.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // degree rides along with the rank frame so the contribution is
        // a single projection at round start — one edge join + one
        // node-sized deg re-attach per round, the latter skipped after
        // the final round where it would only feed a dropped column
        private var ranks = Materialize(
          deg.select(col("src").as("node"), lit(Scale).as("r"), col("deg")))
        private var i = 0
        def round(): Long = {
          i += 1
          val stepped = symM
            .join(ranks.select(col("node").as("src"),
              expr("r div deg").as("contrib")), Seq("src"))
            .groupBy(col("dst")).agg(sum(col("contrib")).as("in_sum"))
            .select(col("dst").as("node"),
              (lit(Teleport) + expr("(85 * in_sum) div 100")).as("r"))
          val next = Materialize(
            if (i == iterations) stepped
            else stepped.join(
              deg.select(col("src").as("node"), col("deg")), Seq("node")))
          Materialize.drop(ranks) // superseded round frame: blocks dead
          ranks = next
          0L
        }
        def result(): DataFrame = {
          Materialize.drop(symM) // final ranks are materialized
          ranks.select(col("node"), col("r").as("rank_fp"))
        }
      }
    }
    for (_ <- 1 to iterations) loop.round()
    loop.result()
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al., 2007): every node starts as its own label; each round, every
    * node adopts the most frequent label among its neighbors (ties to
    * the SMALLEST label — the determinism rule that makes a fixed-round
    * run replayable, where the classic randomized tie-break is not).
    * Communities complement [[connectedComponents]] (which only finds
    * reachability) by splitting a connected graph along its dense
    * regions.
    *
    * Edges must be DISTINCT undirected pairs — duplicate edges would
    * double-weight a neighbor's vote. Per round: one join of the
    * (node, label) frame against the symmetrized edge list, one
    * map-side-combinable (node, label) count, one argmax via lexical
    * `min(struct(-count, label))` — all exact longs. The label frame
    * re-materializes per round ([[Materialize]]) to cap lineage, the CC
    * / pagerank loop shape; an edge list that fits on the driver
    * ([[symmetrizedEdges]]) replays the same argmax rounds there and
    * returns a local frame. Fixed `rounds` keeps the replay closed-form;
    * LPA plateaus in a handful of rounds on community-structured
    * graphs. Output: (node, community) after `rounds` rounds. */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    val loop: Rounds = symmetrizedEdges(edges, aCol, bCol) match {
      case OnDriver(g) => new Rounds {
        private var lbl = Array.range(0, g.n)
        // votes(j) is the label row j carries into its node this round
        private val votes = new Array[Int](g.nbr.length)
        def round(): Long = {
          val cur = lbl
          lbl = Array.tabulate(g.n) { v =>
            val (lo, hi) = (g.off(v), g.off(v + 1))
            for (j <- lo until hi) votes(j) = cur(g.nbr(j))
            java.util.Arrays.sort(votes, lo, hi)
            // the longest run of equal labels wins; scanning ascending,
            // a tie keeps the smaller label
            var best = -1
            var bestN = 0
            var j = lo
            while (j < hi) {
              var e = j + 1
              while (e < hi && votes(e) == votes(j)) e += 1
              if (e - j > bestN) { best = votes(j); bestN = e - j }
              j = e
            }
            best
          }
          0L
        }
        def result(): DataFrame = g.frame(edges.sparkSession, "community",
          v => Some(g.ids(lbl(v))))
      }
      case OnExecutors(symM, _) => new Rounds {
        private var labels =
          Materialize(symM.select(col("src").as("node")).distinct()
            .withColumn("lbl", col("node")))
        def round(): Long = {
          val counts = symM
            .join(labels.select(col("node").as("src"), col("lbl")),
              Seq("src"))
            .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("n"))
          val next = Materialize(counts.groupBy(col("dst"))
            .agg(min(struct((-col("n")).as("negn"), col("lbl").as("l")))
              .as("m"))
            .select(col("dst").as("node"), col("m.l").as("lbl")))
          // the superseded round's label blocks are dead once the next
          // round materialized — release them instead of letting them
          // crowd the storage pool until the context cleaner catches up
          Materialize.drop(labels)
          labels = next
          0L
        }
        def result(): DataFrame = {
          Materialize.drop(symM) // final labels are materialized; the
          // edge frame is dead once the loop ends
          labels.select(col("node"), col("lbl").as("community"))
        }
      }
    }
    for (_ <- 1 to rounds) loop.round()
    loop.result()
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes
    * of degree < k (and their edges) until every survivor has >= k
    * neighbors inside the surviving set — the densest-region extractor
    * used to separate tightly-duplicated spam farms from incidental
    * near-dup pairs in a candidate graph. Each round is one degree
    * aggregation plus two semi-joins of the live edge set against the
    * survivor list; the edge frame is re-[[Materialize]]d per round, so
    * lineage stays O(1) and each round's shuffle is bounded by the
    * shrinking live set. Rounds ~ the core-peeling depth (typically a
    * handful), detected by the edge count reaching a fixpoint — the same
    * unrollable fixed-round shape the other graph loops use, so the
    * oracle replays the rounds as CTEs (post-fixpoint rounds are no-ops
    * on both engines). The initial count is the one the symmetrize
    * checkpoint observes, and an edge list that fits on the driver
    * ([[symmetrizedEdges]]) peels there by the same rule. Returns
    * surviving (node, degree) — degrees within the k-core, not the input
    * graph. Fails loudly on non-convergence. */
  def kCore(
      edges: DataFrame,
      k: Int,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val sym = symmetrizedEdges(edges, aCol, bCol)
    // round() peels once and returns the surviving row count
    val loop: Rounds = sym match {
      case OnDriver(g) => new Rounds {
        private val alive = Array.fill(g.nbr.length)(true)
        private def degrees = Array.tabulate(g.n)(v => g.row(v).count(alive(_)))
        def round(): Long = {
          val deg = degrees
          for (v <- 0 until g.n; j <- g.row(v))
            alive(j) &&= deg(v) >= k && deg(g.nbr(j)) >= k
          alive.count(a => a).toLong
        }
        def result(): DataFrame = {
          val deg = degrees
          g.frame(edges.sparkSession, "degree",
            v => Some(deg(v).toLong).filter(_ > 0))
        }
      }
      case OnExecutors(symM, _) => new Rounds {
        private var live = symM
        def round(): Long = {
          val keep = live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select(col("src"))
          // the surviving-edge count rides the checkpoint action itself
          // via observe() (the connectedComponents convergence pattern) —
          // the fixpoint test costs zero extra jobs per peel round
          val obs = org.apache.spark.sql.Observation()
          val next = Materialize(live
            .join(keep, Seq("src"), "left_semi")
            .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst"))
            .observe(obs, count(lit(1)).as("n")))
          Materialize.drop(live) // superseded peel round: blocks dead
          live = next
          Option(obs.get.apply("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
        }
        def result(): DataFrame =
          live.groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("degree"))
      }
    }
    var prev = -1L
    var cur = sym.rows
    var it = 0
    while (cur != prev && it < maxIter) {
      prev = cur
      cur = loop.round()
      it += 1
    }
    if (cur != prev)
      throw new IllegalStateException(
        s"kCore did not reach a fixpoint in $maxIter rounds — " +
          "raise maxIter (peeling depth exceeds it)")
    loop.result()
  }

  /** Triangle enumeration by degree-ordered orientation — the
    * third graph primitive (after [[connectedComponents]] /
    * [[pagerank]]): triangle density separates tight duplicate cliques
    * from chains of borderline pairs, and per-node triangle counts are
    * the local-clustering-coefficient numerator.
    *
    * The naive three-way edge self-join explodes on hubs (a degree-d
    * node contributes d² wedges). The standard fix: orient every
    * undirected edge from the endpoint with LOWER (degree, id) to the
    * higher one — a DAG where every out-degree is O(√m) regardless of
    * hub size (a node with out-degree k has k neighbors of degree ≥ k,
    * so k² ≤ 2m) — then each triangle closes exactly one oriented edge
    * (u→v) with a common out-neighbor w ∈ N⁺(u) ∩ N⁺(v). The
    * intersection form matters at scale: enumerating wedges as ROWS
    * (the self-join-on-source plan) shuffles Σ outdeg² rows — measured
    * 20M+ on the co-occurrence graph — where joining each edge to its
    * two endpoints' out-neighbor ARRAYS shuffles only m edges + m
    * array payloads and intersects in-task, emitting one row per
    * actual triangle. The canonical edge list, the oriented list, and
    * the adjacency arrays each feed two consumers, so all three are
    * materialized once ([[Materialize]]). Per-array memory is the
    * O(√m) out-degree bound, not the raw hub degree. All comparisons
    * are exact longs. Output: one row per triangle, corner ids sorted
    * as (a < b < c). */
  def triangles(
      edges: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val und = Materialize(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull).distinct())
    // explode, not self-union (see symmetrizedEdges): one read of the
    // canonical edge blocks instead of two, half the degree stage's
    // map tasks, identical (node) multiset
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total order (deg, id): strict because ids are distinct per edge
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Materialize(und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst")))
    Materialize.drop(und) // both consumers (degree, orientation) are
    // inside the oriented plan just materialized; the canonical list is
    // dead past this point
    val adj = Materialize(oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs")))
    // sinks (dst with no out-edges) drop at the inner join — their
    // intersection is empty by definition
    oriented
      .join(adj.select(col("src"), col("nbrs").as("__nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("__nv")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("__nu"), col("__nv"))).as("w"))
      // sort the three corners directly — a sum-and-subtract middle
      // corner overflows (ANSI-throws) on ids past Long.MaxValue/3
      .select(array_sort(array(col("src"), col("dst"), col("w"))).as("__t"))
      .select(element_at(col("__t"), 1).as("a"),
        element_at(col("__t"), 2).as("b"),
        element_at(col("__t"), 3).as("c"))
  }

  /** Incremental connected-components maintenance — the graph face of
    * the [[graft.operators.IncrementalAgg]] story: yesterday's
    * (node, component) labels absorb a delta edge batch WITHOUT
    * re-walking the base edge set. Star collapse: every labeled node
    * becomes one edge (node → component), so each base component is a
    * depth-1 star; CC over stars ∪ delta equals CC over base ∪ delta
    * because component ids are min member ids ([[connectedComponents]]'
    * contract) and min labels survive the union. Survivors' self-loop
    * star edges keep isolated components in the node set. Edge volume
    * is |labeled nodes| + |Δ| instead of |E_base| + |Δ| — on a dense
    * near-dup graph that is the difference between re-clustering the
    * corpus nightly and folding in the day's pairs. Pointer-jumped
    * rounds then converge in O(log diameter of the DELTA's bridging),
    * typically 1-2 rounds for a daily batch. */
  def incrementalComponents(
      baseLabels: DataFrame,
      deltaEdges: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 25): DataFrame = {
    val stars = baseLabels
      .select(col("node").as(aCol), col("component").as(bCol))
    connectedComponents(
      stars.unionByName(deltaEdges.select(col(aCol), col(bCol))),
      aCol, bCol, maxIter)
  }

  /** One graph loop on either side of [[symmetrizedEdges]]' decision:
    * `round()` runs one synchronous round and returns the count the
    * loop's stop rule reads (changed labels, surviving rows; 0 for the
    * fixed-round loops), `result()` the loop's answer. */
  private trait Rounds {
    def round(): Long
    def result(): DataFrame
  }

  /** Where a loop over a symmetrized edge list runs; `rows` counts the
    * (src, dst) rows, both directions. */
  private sealed trait SymEdges { def rows: Long }
  private final case class OnExecutors(edges: DataFrame, rows: Long)
    extends SymEdges
  private final case class OnDriver(g: DriverGraph) extends SymEdges {
    def rows: Long = g.nbr.length.toLong
  }

  /** A symmetrized edge list on the driver, as CSR: node ids ascending
    * (a node's index orders like its id, so min-label rules hold on
    * indices), and for node `v` the slice `nbr(off(v) until off(v + 1))`
    * holding `u` for each (v, u) row — one entry per row, so duplicate
    * edges and self-loops weigh what they weigh in the joins. The list
    * is symmetric, so the slice is also the multiset of v's (u, v)
    * rows. */
  private final class DriverGraph(
      val ids: Array[Long], val off: Array[Int], val nbr: Array[Int]) {
    def n: Int = ids.length
    def row(v: Int): Range = off(v) until off(v + 1)

    /** The loop's answer as a local frame of (node, `value`) longs, one
      * row per node `at` keeps. */
    def frame(spark: SparkSession, value: String,
        at: Int => Option[Long]): DataFrame = {
      val rows = (0 until n).flatMap(v => at(v).map(x => Row(ids(v), x)))
      spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("node", LongType), StructField(value, LongType))))
    }
  }

  private object DriverGraph {
    def apply(rows: Array[Row]): DriverGraph = {
      val ids = rows.map(_.getLong(0)).distinct.sorted
      def ix(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
      val off = new Array[Int](ids.length + 1)
      rows.foreach(r => off(ix(r.getLong(0)) + 1) += 1)
      for (v <- ids.indices) off(v + 1) += off(v)
      val at = off.clone()
      val nbr = new Array[Int](rows.length)
      rows.foreach { r =>
        val v = ix(r.getLong(0))
        nbr(at(v)) = ix(r.getLong(1))
        at(v) += 1
      }
      new DriverGraph(ids, off, nbr)
    }
  }

  /** Symmetrize an undirected (a, b) edge list into long-typed (src,
    * dst) rows in BOTH directions, materialized once ([[Materialize]])
    * — the shared first step of [[connectedComponents]], [[pagerank]],
    * [[labelPropagation]] and [[kCore]]: without the checkpoint each
    * round would re-run the whole upstream pipeline the edges derive
    * from.
    *
    * It also decides where the loop runs. The checkpoint job counts the
    * rows and the null endpoints (`observe`, no extra job). With no null
    * endpoint and rows × 16 bytes within
    * `spark.sql.autoBroadcastJoinThreshold` — Spark's own size for a
    * relation shipped whole, -1 turning this off — the rows are
    * collected once, the blocks released, and the loop replays its own
    * round rule on the driver ([[OnDriver]]): the small-tail finish of
    * Kiveris et al. (SoCC 2014), where a graph of a few thousand edges
    * would otherwise pay several Spark jobs a round. Otherwise the loop
    * joins against the materialized frame ([[OnExecutors]]); a null
    * endpoint always goes that way, since the joins drop null ids in
    * ways a replay would have to copy. */
  private def symmetrizedEdges(
      edges: DataFrame, aCol: String, bCol: String): SymEdges = {
    val obs = org.apache.spark.sql.Observation()
    // explode, not self-union: the union form reads the (often
    // shuffle-produced) edge subtree twice and doubles the map tasks of
    // the materializing stage; one explode pass emits exactly the same
    // (src, dst) ∪ (dst, src) rows from a single read (guide §2.3 —
    // fewer bytes through the exchange, same multiset out)
    val symM = Materialize(edges
      .select(explode(array(
        struct(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .observe(obs, count(lit(1)).as("rows"),
        count(when(col("src").isNull || col("dst").isNull, 1)).as("nulls")))
    val seen = obs.get
    val rows = seen("rows").asInstanceOf[Long]
    val fits = rows * 16 <=
      edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (seen("nulls").asInstanceOf[Long] == 0L && fits) {
      val g = DriverGraph(symM.collect())
      Materialize.drop(symM)
      OnDriver(g)
    } else OnExecutors(symM, rows)
  }

  /** Jaccard similarity of two (already distinct) string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni > 0, inter.cast("double") / uni.cast("double")).otherwise(lit(0.0))
  }

  /** The grams [[ngramJaccardPairs]]' `maxGramDf` cap would drop, with
    * their per-block document frequency — the
    * [[minhashOversizedBuckets]] / `Similarity.lshOversizedBuckets`
    * analog for the inverted-index join: run/log this per job so the
    * hot-gram cap is an observable policy, not silent signal loss. One
    * map-side-combinable aggregation; output is hot grams only, tiny by
    * construction. */
  def jaccardHotGrams(
      df: DataFrame,
      maxGramDf: Int,
      textCol: String = "text",
      blockCol: String = "source",
      n: Int = 2): DataFrame = {
    require(maxGramDf > 0, "maxGramDf must be positive to observe drops")
    df.select(col(blockCol).as("blk"),
        explode(array_distinct(shingles(col(textCol), n))).as("gram"))
      .groupBy(col("blk"), col("gram")).agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") > maxGramDf)
  }

  /** Word-n-gram Jaccard near-dups via an inverted index, blocked on
    * `blockCol` so candidate generation is per-block, not global O(n²).
    *
    * Shape chosen for scale: explode each doc's distinct gram set and
    * self-join on (block, gram) — the classic set-similarity-join plan. Only
    * (block, gram, id, setSize) rows shuffle; the gram *arrays* never
    * travel, and intersection sizes fall out of a count aggregation instead
    * of per-pair `array_intersect` over replicated arrays. Pairs sharing
    * zero grams never materialize at all (they can't pass any threshold
    * > 0). |A ∪ B| = |A| + |B| − |A ∩ B| over distinct sets, so the score
    * is exactly the pairwise `jaccard` value.
    *
    * `maxGramDf` caps gram document frequency: a gram shared by k docs
    * emits k² join rows, and the hottest grams ("of the", boilerplate
    * headers) are non-discriminative by construction — at corpus scale
    * they ARE the join's cost. Grams with per-block df > maxGramDf are
    * dropped from every doc's gram set before the index join (similarity
    * is then Jaccard over the discriminative gram space; set sizes shrink
    * consistently on both sides of the ratio). The cap is a count window
    * over (block, gram): one shuffle of the gram stream, versus the two a
    * separate aggregate + re-join would cost. 0 disables the cap.
    *
    * The capped inverted index is materialized ONCE with an eager
    * materialized before the self-join: the shingle expressions are
    * higher-order functions whose lambda variables defeat plan
    * canonicalization, so (as with [[simhashNearDupPairs]]) ReuseExchange
    * cannot unify the two sides and a naive self-join re-runs the
    * normalize→shingle→explode→cap chain per side — the dominant cost.
    * Per-doc set sizes come off the checkpointed index as a map-side
    * combinable aggregate joined onto the (far smaller) candidate-pair
    * set, not a second full-stream window. Executor loss invalidates
    * local checkpoint blocks and fails the job (it simply re-runs);
    * fault-tolerant cluster runs can set a checkpoint dir and swap in
    * `checkpoint()`. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCol: String = "source",
      n: Int = 2,
      threshold: Double = 0.25,
      maxGramDf: Int = 0): DataFrame = {
    require(threshold > 0.0, "inverted-index join requires a positive threshold")
    // |A ∪ B| = sa + sb − inter over distinct sets
    gramOverlapPairs(df, textCol, idCol, blockCol, n, maxGramDf)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric near-dup detection by n-gram CONTAINMENT: `|A ∩ B| /
    * min(|A|, |B|)` — how much of the SMALLER doc's gram set lives
    * inside the other. This is the sub-document-duplication detector
    * Jaccard structurally cannot be: a 200-token quote embedded verbatim
    * in a 20k-token page has containment 1.0 but Jaccard ~0.01, far
    * below any usable threshold. The standard companion pass in a
    * training-data pipeline for boilerplate, quotation, and
    * wrapped-republication detection.
    *
    * Same inverted-index shape (and [[jaccardHotGrams]] observability
    * contract for `maxGramDf`) as [[ngramJaccardPairs]] — both wrap one
    * shared candidate-pair core, so the expensive index is one code
    * path. Score is one IEEE division of exact counts. Output:
    * (doc_a, doc_b, containment, jaccard) — Jaccard rides along free
    * (same three integers) so callers can separate "near-identical"
    * from "one-embeds-the-other" without a second pass. */
  def ngramContainmentPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCol: String = "source",
      n: Int = 2,
      threshold: Double = 0.8,
      maxGramDf: Int = 0): DataFrame = {
    require(threshold > 0.0, "inverted-index join requires a positive threshold")
    gramOverlapPairs(df, textCol, idCol, blockCol, n, maxGramDf)
      .withColumn("containment", col("inter").cast("double") /
        least(col("sa"), col("sb")).cast("double"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"), col("jaccard"))
  }

  /** Shared inverted-index candidate core for [[ngramJaccardPairs]] /
    * [[ngramContainmentPairs]]: per-block gram explode → optional
    * hot-gram cap → ONE materialization (lambda-built shingles defeat
    * ReuseExchange — see the Jaccard scaladoc) → self-join on (block,
    * gram) → per-pair intersection counts with both post-cap set sizes
    * attached. Returns (doc_a, doc_b, inter, sa, sb); doc_a < doc_b. */
  private def gramOverlapPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      n: Int,
      maxGramDf: Int): DataFrame =
    overlapFromKept(
      cappedGramIndex(df, textCol, idCol, blockCol, n, maxGramDf), idCol)

  /** The capped, MATERIALIZED inverted-index input every n-gram pair
    * operator starts from: per-block distinct gram explode → gram
    * document frequency → optional hot-gram df cap → one eager
    * materialization (the lambda-built shingles defeat plan
    * canonicalization, so without it every downstream self-join re-runs
    * the normalize→shingle→explode→cap chain per side — see the
    * Jaccard scaladoc). The df is computed as a partial-aggregated
    * `groupBy(blk, gram)` joined back to the stream, NOT as a count
    * window: the window shuffles AND sorts the full gram stream by
    * (blk, gram), while the aggregate's shuffle carries only the
    * map-side-combined distinct-gram frame — vocabulary-scale, which
    * AQE then broadcasts for the join-back. Rows: (blk, gram, idCol,
    * __gdf), the df column riding along so [[jaccardPrefixIndex]] can
    * skip recomputing it (post-cap df equals pre-cap df for every
    * surviving gram — the cap removes whole grams, never rows within
    * one). */
  private def cappedGramIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: String,
      n: Int,
      maxGramDf: Int): DataFrame = {
    val grams = df
      .select(col(blockCol).as("blk"), col(idCol),
        explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val dfs = grams.groupBy(col("blk"), col("gram"))
      .agg(count(lit(1)).as("__gdf"))
    val capped = if (maxGramDf <= 0) dfs
      else dfs.filter(col("__gdf") <= maxGramDf)
    Materialize(grams.join(capped, Seq("blk", "gram"))
      .select(col("blk"), col(idCol), col("gram"), col("__gdf")))
  }

  /** The full inverted-index pair core over a prebuilt [[cappedGramIndex]]
    * frame: self-join on (block, gram) → per-pair intersection counts
    * with both post-cap set sizes attached. Returns
    * (doc_a, doc_b, inter, sa, sb); doc_a < doc_b. */
  private def overlapFromKept(kept: DataFrame, idCol: String): DataFrame = {
    // post-cap set size, keyed on the doc (a doc lives in one block, so
    // idCol alone identifies its set): partial-aggregated before the
    // shuffle, one output row per doc
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val l = kept.select(col("blk"), col("gram"), col(idCol).as("doc_a"))
    val r = kept.select(col("blk"), col("gram"), col(idCol).as("doc_b"))
    l.join(r, Seq("blk", "gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      // sizes attach to candidate pairs (small) instead of the gram
      // stream (huge)
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sb")), "doc_b")
  }

  /** Prefix-filtered candidate pairs for [[ngramJaccardPairsPrefix]] —
    * the AllPairs/PPJoin pruning: order every doc's gram set by one
    * global canonical order (ascending per-block gram df, gram text as
    * tie-break), and index only each doc's PREFIX — its first
    * `sz − minOverlap + 1` grams, `minOverlap = ⌈t·sz⌉`. Two sets with
    * Jaccard ≥ t must overlap by ≥ ⌈t·max(sa,sb)⌉; if neither's prefix
    * tokens meet the other, every common gram sits in both suffixes,
    * bounding overlap below that — so prefix-sharing is guaranteed and
    * the filter has NO false negatives. Rarest-first ordering makes
    * prefixes maximally discriminative: the join never touches a gram's
    * hottest tail, which is where Σ df² lives.
    *
    * `minOverlap` is under-approximated as `max(⌊t·sz⌋, 1)` instead of
    * the exact `⌈t·sz⌉`: IEEE jitter in `t·sz` near an integer could
    * over-ceil and shorten the prefix below the proof's bound (a silent
    * false negative); flooring costs at most one extra indexed gram per
    * doc and can only ADD candidates. Exposed (not private) so the spec
    * can pin candidate-set shrinkage against the full index join. */
  def jaccardPrefixCandidates(
      kept: DataFrame,
      idCol: String,
      threshold: Double): DataFrame =
    candidatesFromPrefixIndex(
      jaccardPrefixIndex(kept, idCol, threshold), idCol)

  /** Candidate pairs from a prebuilt prefix index (see
    * [[jaccardPrefixCandidates]]) — split out so the auto arm can
    * reuse the index its cost probe already built. */
  private def candidatesFromPrefixIndex(
      ranked: DataFrame,
      idCol: String): DataFrame =
    ranked.select(col("blk"), col("gram"), col(idCol).as("doc_a"))
      .join(ranked.select(col("blk"), col("gram"), col(idCol).as("doc_b")),
        Seq("blk", "gram"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** The pruned inverted index [[jaccardPrefixCandidates]] joins: each
    * doc's PREFIX gram rows (blk, gram, id) under the rarest-first
    * canonical order. Public so the crossover spec can measure
    * Σ prefix-df² directly against the full index's Σ df² — the two
    * numbers whose gap IS the PPJoin win on a heavy-tailed corpus. */
  def jaccardPrefixIndex(
      kept: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a [[cappedGramIndex]] input already carries each gram's df; a
    // bare (blk, gram, id) frame pays the count window here
    val withDf =
      if (kept.columns.contains("__gdf")) kept
      else kept.withColumn("__gdf",
        count(lit(1)).over(Window.partitionBy(col("blk"), col("gram"))))
    withDf
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__gdf"), col("gram"))))
      .withColumn("__sz",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("__minov",
        greatest(floor(lit(threshold) * col("__sz")).cast("long"), lit(1L)))
      .filter(col("__pos") <= col("__sz") - col("__minov") + 1L)
      .select(col("blk"), col("gram"), col(idCol))
  }

  /** [[ngramJaccardPairs]] with PPJoin-style prefix filtering — same
    * answer (the spec pins equality), different join-cost curve. The
    * full inverted index pays Σ_gram df² join rows and survives at
    * corpus scale only by capping hot grams (`maxGramDf`), which CHANGES
    * the score space. Prefix filtering keeps the exact semantics and
    * cuts the quadratic term structurally: candidates come from a join
    * over rarest-first PREFIXES only ([[jaccardPrefixCandidates]]), and
    * exact intersections are then counted by joining the (small)
    * candidate-pair set back to the full gram stream twice — linear
    * passes keyed on doc id. `maxGramDf` still composes on top (applied
    * before prefixing, same capped-gram-space semantics as the full
    * join) for corpora whose boilerplate makes even prefixes hot.
    *
    * Cost shape at 100 TB: 3 linear window/aggregation passes over the
    * gram stream + Σ prefix-df² (≪ Σ df² — prefixes exclude every
    * gram's hot tail) + two candidate-keyed semi-joins, vs the full
    * index's Σ df². The crossover favors prefixes exactly when the
    * corpus is big enough for df² to dominate — i.e. always at scale. */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCol: String = "source",
      n: Int = 2,
      threshold: Double = 0.25,
      maxGramDf: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs threshold in (0,1], got $threshold")
    val kept = cappedGramIndex(df, textCol, idCol, blockCol, n, maxGramDf)
    // the prefix index is consumed twice (both sides of the candidate
    // self-join); unmaterialized, each side re-runs its three window
    // passes over `kept` — the same reuse the auto arm already gets
    // because its cost probe forces the materialization
    prefixPairsFrom(kept,
      Materialize(jaccardPrefixIndex(kept, idCol, threshold)),
      idCol, threshold)
  }

  /** The prefix arm's pair pipeline over a prebuilt capped index and
    * prefix index: candidates from the prefix self-join, exact
    * verification by two candidate-keyed joins back to the full gram
    * stream — linear passes keyed on doc id. */
  private def prefixPairsFrom(
      kept: DataFrame,
      ranked: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val cand = candidatesFromPrefixIndex(ranked, idCol)
    // exact verification: count the grams present on BOTH sides of each
    // candidate pair — two joins keyed on doc id over the linear gram
    // stream, grouped once per pair
    val ga = kept.select(col(idCol).as("doc_a"), col("gram"))
    val gb = kept.select(col(idCol).as("doc_b"), col("gram"))
    cand.join(ga, "doc_a")
      .join(gb, Seq("doc_b", "gram"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sb")), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Measured join-cost statistics of the two Jaccard arms over a
    * capped gram index: (Σ df² of the FULL inverted index, Σ df² of the
    * rarest-first PREFIX index) — each term is the number of join rows
    * a (block, gram) posting list emits in its arm's candidate
    * self-join, so the two sums ARE the arms' quadratic costs (the same
    * numbers the ScaleSpec crossover measures). Both are map-side-
    * combinable aggregates over metadata-scale posting-list counts. */
  def jaccardJoinCosts(
      kept: DataFrame,
      ranked: DataFrame): (Long, Long) = {
    def df2(ix: DataFrame): Long = ix
      .groupBy(col("blk"), col("gram")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * col("d")), lit(0L)))
      .head().getLong(0)
    (df2(kept), df2(ranked))
  }

  /** The auto arm's decision rule, pure so the spec can pin it: prefix
    * wins only when its measured quadratic term undercuts the full
    * index's by more than `prefixCostRatio` — the margin pays for the
    * prefix arm's extra linear passes (index build re-runs for the
    * self-join's two sides, candidate distinct, two verification
    * joins), which on a prefix-hostile corpus (uniform vocabulary, no
    * light tail) are pure overhead over a barely-smaller join. */
  def jaccardAutoArm(
      fullCost: Long,
      prefixCost: Long,
      prefixCostRatio: Double): String =
    if (prefixCost.toDouble < fullCost.toDouble * prefixCostRatio) "prefix"
    else "full"

  /** COST-BASED arm selection for the n-gram Jaccard join — the
    * physical-operator choice a static pipeline cannot make: the full
    * inverted index pays Σ df² join rows (catastrophic on a
    * heavy-tailed web corpus), the PPJoin prefix arm pays Σ prefix-df²
    * plus several extra linear passes (pure overhead on a uniform
    * corpus where prefixes cannot prune — both regimes are REAL, see
    * the `dedup_jaccard`/`dedup_jaccard_prefix` bench pair and the
    * ScaleSpec crossover). This operator measures both quadratic terms
    * on the actual corpus — two small aggregates over the materialized
    * gram index, the optimizer-statistics pass — and runs the cheaper
    * arm; the prefix index built for the probe is materialized and
    * reused by the prefix arm, so the decision's cost rides the work
    * the chosen arm needed anyway. Same answer as both fixed arms by
    * the spec's equality pins; at 100 TB the wrong fixed arm is not a
    * constant factor but a blowup, which is why engines gather stats
    * before picking join strategies. */
  def ngramJaccardPairsAuto(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      blockCol: String = "source",
      n: Int = 2,
      threshold: Double = 0.25,
      maxGramDf: Int = 0,
      prefixCostRatio: Double = 0.25): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs threshold in (0,1], got $threshold")
    val kept = cappedGramIndex(df, textCol, idCol, blockCol, n, maxGramDf)
    val ranked = Materialize(jaccardPrefixIndex(kept, idCol, threshold))
    val (fullCost, prefixCost) = jaccardJoinCosts(kept, ranked)
    if (jaccardAutoArm(fullCost, prefixCost, prefixCostRatio) == "prefix")
      prefixPairsFrom(kept, ranked, idCol, threshold)
    else
      jaccardFromKept(kept, idCol, threshold)
  }

  /** The full arm over a prebuilt capped index (the auto arm's
    * full-side terminal). */
  private def jaccardFromKept(
      kept: DataFrame,
      idCol: String,
      threshold: Double): DataFrame =
    overlapFromKept(kept, idCol)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Span-LEVEL benchmark decontamination: not just WHICH training docs
    * leak the benchmark ([[decontaminateFuzzy]] and the exact-gram
    * variants flag docs) but WHERE — each training-side n-gram that
    * appears anywhere in the benchmark covers the word interval
    * `[pos, pos+n)`, and overlapping/touching hit windows merge into
    * maximal redaction spans via [[graft.operators.Intervals
    * .mergeIslands]] (one interval-union operator, two domains). A
    * production pipeline CUTS these spans and keeps the rest of the
    * document — doc-level dropping wastes the clean 99% of a 20k-token
    * page that quotes one benchmark item.
    *
    * Scale shape: the benchmark gram set broadcasts (eval suites are
    * small by construction); the training side is one posexplode whose
    * MISSES die in the broadcast join — only (doc_id, pos) pairs of hit
    * grams reach the island window, and spans per doc are bounded by
    * hits, not length. Output: one row per (doc, span) —
    * (idCol, island, span_start, span_end, n_grams, covered_words),
    * word-indexed half-open. */
  /** Per-BENCHMARK-ITEM leak census — the eval-integrity report the
    * train-side decontamination family cannot give: `decontaminate*`
    * answers "which TRAINING docs are contaminated", this answers
    * "which EVAL ITEMS are compromised and how badly" — the number an
    * eval owner reads before trusting a score (an item leaked into ten
    * thousand training pages measures memorization, not capability).
    * One row per bench item, zero-leak items included at 0 (a census
    * must be complete): n_leaking_docs (distinct train docs sharing ≥1
    * n-gram), n_hit_grams (distinct leaked grams of the item),
    * n_hit_pairs (total gram co-occurrences — the mass).
    *
    * Scale shape: the bench gram frame broadcasts WITH its item ids
    * (eval suites are small by construction — the
    * [[decontaminateSpans]] justification); the train side is one
    * distinct-shingle explode whose misses die in the broadcast join,
    * so only hit (train, bench, gram) triples reach the aggregate,
    * bounded by contamination mass, not corpus size. */
  def leakCensus(
      train: DataFrame,
      bench: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val bg = bench.select(col(idCol).as("bench_id"),
      explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val tg = train.select(col(idCol).as("train_id"),
      explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val census = tg.join(broadcast(bg), Seq("gram"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("train_id")).as("n_leaking_docs"),
        countDistinct(col("gram")).as("n_hit_grams"),
        count(lit(1)).as("n_hit_pairs"))
    bench.select(col(idCol).as("bench_id")).distinct()
      .join(census, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_leaking_docs"), lit(0L)).as("n_leaking_docs"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_hit_pairs"), lit(0L)).as("n_hit_pairs"))
  }

  def decontaminateSpans(
      train: DataFrame,
      bench: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val benchGrams = bench
      .select(explode(array_distinct(shingles(col(textCol), n))).as("gram"))
      .distinct()
    val hits = train
      .select(col(idCol),
        size(TextAnalysis.words(col(textCol))).cast("long").as("wc"),
        posexplode(shingles(col(textCol), n)).as(Seq("pos", "gram")))
      .join(broadcast(benchGrams), Seq("gram"))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("pos").cast("long").as("s"),
        least(col("pos") + n.toLong, col("wc")).as("e"))
    graft.operators.Intervals.mergeIslands(hits, Seq(idCol), "s", "e", "pos")
      .select(col(idCol), col("island"),
        col("island_start").as("span_start"),
        col("island_end").as("span_end"),
        col("n_intervals").as("n_grams"),
        col("covered").as("covered_words"))
  }

  /** Exact-substring SELF-deduplication — the "deduplicating training
    * data makes language models better" redaction pass (Lee et al.,
    * ACL 2022, EXACTSUBSTR), re-expressed as relational algebra: every
    * word `n`-gram that occurs more than once ANYWHERE in the corpus is
    * a duplicated substring; all of its occurrences except one globally
    * chosen survivor (the lexicographically least `(doc, pos)` — the
    * deterministic analog of "keep the first copy") become redaction
    * windows `[pos, pos+n)`, merged per document into maximal spans by
    * the same interval-union operator the benchmark decontamination and
    * the event-coverage queries use ([[decontaminateSpans]],
    * `Intervals.mergeIslands` — one operator, three domains). Cutting
    * spans rather than dropping documents keeps the clean remainder of
    * a page that shares one boilerplate paragraph with another.
    *
    * The reference formulation builds a corpus-wide suffix array — a
    * global sort of every suffix. The Spark-native equivalent is this
    * shuffle-by-content: pass 1 partially aggregates `(gram → count,
    * min(doc,pos))` — both `count` and `min(struct)` are algebraic, so
    * the map side combines before anything moves, and the shuffled key
    * set is the DISTINCT gram vocabulary, not the occurrence stream.
    * Grams with count ≥ 2 (in web corpora a small minority of the
    * vocabulary) survive the filter; pass 2 joins occurrences back on
    * gram — AQE broadcast-sizes the duplicated-gram frame at runtime
    * when it fits, making the occurrence side shuffle-free — and only
    * DUPLICATED occurrences reach the per-doc island window, bounded
    * by duplication mass, not corpus size. Intra-document repeats are
    * covered by the same rule: the earlier position survives, later
    * copies are redacted.
    *
    * Output: one row per (doc, span) — (idCol, island, span_start,
    * span_end, n_grams, covered_words), word-indexed half-open. */
  def selfDedupSpans(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    // persist(MEMORY_AND_DISK), not Materialize: two consumers share
    // this frame (the vocabulary aggregate, the join probe), and the
    // three sharing mechanisms were MEASURED at sf0.1 —
    // localCheckpoint LOSES (~9 s shuffle-file write vs ~5 s saved,
    // the r16 note), recompute costs the explode twice (~10.7 s
    // total), cache wins (the aggregate's evaluation populates it, the
    // probe reads blocks instead of re-running the normalize/shingle
    // chain; measured 10.7 → ~2 s cold in-suite). Unlike checkpoint,
    // a cache write is memory-speed and spills to disk only under
    // pressure. Two effects to know about: the blocks LINGER after the
    // action (evicted LRU — the lakehouse-library trade every cached
    // internal frame makes), and Spark's CacheManager matches by
    // canonicalized plan, so a repeated identical call reuses the
    // blocks outright.
    val occ = docs
      .select(col(idCol),
        size(TextAnalysis.words(col(textCol))).cast("long").as("wc"),
        posexplode(shingles(col(textCol), n)).as(Seq("pos", "gram")))
      .select(col(idCol), col("wc"), col("pos").cast("long").as("pos"),
        col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = occ
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("pos"))).as("__surv"))
      .filter(col("__cnt") >= 2L)
      .select(col("gram"), col("__surv"))
    val hits = occ.join(dup, Seq("gram"))
      .filter(!(col(idCol) === col("__surv")(idCol) &&
        col("pos") === col("__surv")("pos")))
      .select(col(idCol), col("pos"),
        col("pos").as("s"), least(col("pos") + n.toLong, col("wc")).as("e"))
    graft.operators.Intervals.mergeIslands(hits, Seq(idCol), "s", "e", "pos")
      .select(col(idCol), col("island"),
        col("island_start").as("span_start"),
        col("island_end").as("span_end"),
        col("n_intervals").as("n_grams"),
        col("covered").as("covered_words"))
  }

  /** Contamination-aware train/test SPLIT — the GPT-3-style eval-split
    * discipline applied at split time rather than after the fact: a
    * deterministic md5 gate proposes the test set (rerun/repartition-
    * stable, the [[TextAnalysis]] sampling-gate construction), then any
    * proposed test doc sharing even ONE word `n`-gram with any train
    * doc is MOVED TO TRAIN — long grams (default 8) so only genuine
    * near-dup leakage trips the eviction, not shared idiom. Moving
    * (not dropping) is the standard fix: the doc is still clean
    * training data, it just cannot be trusted as held-out. The result
    * is a test set with zero `n`-gram overlap against train, by
    * construction.
    *
    * Scale shape: the train gram set is corpus-scale (no broadcast
    * pretense) — one gram-keyed semi-join shuffle whose PROBE side is
    * only the proposed test slice's grams (the small fraction), and
    * distinct-shingle explode bounds both sides by vocabulary, not
    * occurrences. Output: (idCol, split) for every document. */
  def splitDecontaminated(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 8,
      gatePrefix: String = "tsplit:",
      gateBelow: String = "29"): DataFrame = {
    val gate = substring(
      md5(concat(lit(gatePrefix), col(idCol).cast("string"))), 1, 2)
      .< (lit(gateBelow))
    val tagged = docs.select(col(idCol),
      when(gate, "test").otherwise("train").as("__split0"), col(textCol))
    val grams = tagged.select(col(idCol), col("__split0"),
      explode(array_distinct(shingles(col(textCol), n))).as("gram"))
    val trainGrams = grams.filter(col("__split0") === "train")
      .select(col("gram")).distinct()
    val leaky = grams.filter(col("__split0") === "test")
      .join(trainGrams, Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__leak", lit(1))
    tagged.join(leaky, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__split0") === "test" && col("__leak").isNull, "test")
          .otherwise("train").as("split"))
  }

  // ------------------------------------------------------------------
  // Segment-level boilerplate removal (line-level dedup, generalized)
  // ------------------------------------------------------------------

  /** Consecutive `width`-word segments of the normalized text as an array
    * column — the segmentation for [[segmentDedup]]. The tail segment may
    * be shorter than `width`; an empty/non-alphanumeric document yields an
    * empty array. Words are let-bound once via the one-element-`transform`
    * pattern (see [[shingles]]) so the regex chain isn't re-inlined into
    * the per-segment lambda. */
  def segments(text: Column, width: Int): Column = {
    require(width > 0, s"segment width must be positive, got $width")
    element_at(
      transform(array(TextAnalysis.words(text)), ws =>
        when(size(ws) === 1 && element_at(ws, 1) === "",
          array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), floor((size(ws) - 1) / lit(width)).cast("int")),
            i => array_join(slice(ws, i * lit(width) + 1, lit(width)), " ")))),
      1)
  }

  /** Content-defined chunking (CDC) of the normalized word stream — the
    * rsync/LBFS segmentation trick, word-granular: a segment boundary
    * opens BEFORE word `i` (i ≥ 2) exactly where
    * `u32(md5("cdc:" + word_i)) % modulus == 0`, so boundaries are a
    * function of CONTENT, not position. That is the property fixed-width
    * segmentation ([[segments]]) lacks: insert one word near the top of
    * a page and every fixed-width segment after it shifts — zero shared
    * keys with the original — while CDC boundaries re-synchronize at the
    * next content-chosen cut and the whole tail dedups again
    * (spec-demonstrated). Expected segment length = `modulus` words.
    *
    * Word-level single-hash boundaries rather than a byte rolling hash:
    * same re-synchronization property, zero per-byte state, and the
    * boundary rule replays in one SQL expression — a byte-windowed
    * Rabin fingerprint is the refinement when sub-word edits matter.
    *
    * Output: one row per (doc, segment) — (idCol, seg, n_words,
    * seg_key = md5 of the space-joined segment words). Per-doc window
    * cumsum assigns segments; reassembly sorts by position inside the
    * group so output never depends on shuffle order. */
  def cdcSegments(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      modulus: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modulus >= 1, s"modulus must be positive, got $modulus")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    df
      .filter(TextAnalysis.normalize(col(textCol)) =!= "")
      .select(col(idCol),
        posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .withColumn("__cut",
        when(col("pos") > 0 &&
          conv(substring(md5(concat(lit("cdc:"), col("word"))), 1, 8), 16, 10)
            .cast("long") % modulus === 0L, 1L)
          .otherwise(0L))
      .withColumn("seg",
        sum(col("__cut")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("n_words"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ")).as("seg_key"))
  }

  /** Corpus-wide boilerplate removal at fixed word-segment granularity —
    * the line-level dedup step of C4/RefinedWeb-style web curation,
    * generalized to `width`-word segments so it stays defined for corpora
    * whose documents carry no newline structure. Text repeated verbatim
    * across many pages (nav bars, cookie banners, license footers) is
    * boilerplate by construction: split each document into consecutive
    * segments, count each distinct segment's DOCUMENT frequency across
    * the corpus, drop every occurrence of segments appearing in more than
    * `maxDf` distinct documents, and reassemble each document from its
    * surviving segments in original order.
    *
    * Scale shape:
    *  - segmentation is a narrow array expression ([[segments]]) — no
    *    per-word explode, one segment row per `width` words after;
    *  - the df aggregation and the boilerplate verdict shuffle a 128-bit
    *    md5 segment KEY, never segment text; the drop set (df > maxDf
    *    keys only — the boilerplate sliver, not the corpus) feeds a
    *    left-anti join that AQE plans broadcast when it fits;
    *  - reassembly sorts each doc's surviving (seg, text) structs with
    *    `array_sort`, so output never depends on shuffle arrival order.
    *
    * Output: one row per input document — (idCol, n_segs, n_kept,
    * clean_text). A fully-boilerplate document survives with an empty
    * `clean_text` rather than vanishing: the caller decides whether to
    * drop empty docs, and the kept/total counts make the removal rate
    * observable per document. */
  /** INTRA-document repeated-segment removal — the other half of line
    * dedup: [[segmentDedup]] drops segments hot ACROSS docs
    * (boilerplate); this keeps the FIRST occurrence of each segment
    * WITHIN a doc and drops its repeats (navigation stutter, template
    * echo, scraper page-merge artifacts — the C4-style "dedupe
    * repeated lines in page" pass, at word-segment granularity for
    * this corpus's newline-free text).
    *
    * Deliberately ONE narrow expression: per-doc dedup needs no
    * cross-row state, so there is no explode, no window, NO SHUFFLE —
    * the segment array is let-bound once (one-element-`transform`
    * trick, see [[shingles]]) and first-occurrence keeping is
    * `array_position(segs, s) == own index` inside a single indexed
    * `filter`; a 100-TB corpus dedups at scan speed, embarrassingly
    * parallel. Output: (idCol, n_segs, n_kept, dedup_text); docs with
    * no segments (empty/non-alphanumeric) are dropped, matching the
    * oracle's normalized-nonempty frame. Quadratic in segments-per-doc
    * inside the row (array_position scans the array) — bounded by
    * document length, the usual per-row codegen trade. */
  def dedupSegmentsWithinDoc(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      width: Int = 3): DataFrame = {
    val packed = element_at(
      transform(array(segments(col(textCol), width)), sg => {
        val kept = filter(sg, (s, i) =>
          array_position(sg, s) === (i + 1).cast("long"))
        struct(
          size(sg).cast("long").as("n_segs"),
          size(kept).cast("long").as("n_kept"),
          array_join(kept, " ").as("dedup_text"))
      }), 1)
    df.select(col(idCol), packed.as("__d"))
      .filter(col("__d.n_segs") > 0L)
      .select(col(idCol),
        col("__d.n_segs").as("n_segs"),
        col("__d.n_kept").as("n_kept"),
        col("__d.dedup_text").as("dedup_text"))
  }

  def segmentDedup(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      width: Int = 3,
      maxDf: Long = 3L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val segged = Materialize(
      df.select(col(idCol), segments(col(textCol), width).as("segs")))
    val base = segged.select(col(idCol),
      size(col("segs")).cast("long").as("n_segs"))
    val segs = segged
      .select(col(idCol), posexplode(col("segs")).as(Seq("seg", "seg_text")))
      .withColumn("seg_key", md5(col("seg_text")))
    val hot = segs
      .groupBy(col("seg_key"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("seg_key"))
    val kept = segs.join(hot, Seq("seg_key"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(struct(col("seg"), col("seg_text")))),
          x => x.getField("seg_text")),
        " ").as("clean_text"))
    base.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The production dedup CASCADE, tiers in cost order, as a funnel
    * report — each tier runs only on the previous tier's survivors, so
    * the cheapest key absorbs volume before any shingle forms:
    *
    *   1. canonical-URL exact (`urlCol` — run
    *      [[graft.functions.TextAnalysis.canonicalizeUrl]] upstream):
    *      keep the min id per URL; a string groupBy, pennies per row.
    *   2. content-hash exact: md5 of the normalized text among tier-1
    *      survivors; still one shuffle of 16-byte keys.
    *   3. MinHash-band near-dup: signatures are banded ONCE over the
    *      FULL corpus ([[minhashCandidates]] — the production shape:
    *      signatures are an index, dedup is a policy over it), and a
    *      survivor drops iff it band-collides with a LOWER-id survivor
    *      — the greedy first-writer-wins rule [[graft.streaming.StreamDedup]]
    *      applies online, deterministic, no transitive closure (a
    *      chain A~B~C with A<B<C keeps A and any member not colliding
    *      with a surviving lower id — [[connectedComponents]] is the
    *      closure-complete alternative when chains matter).
    *
    * Output: one (tier, method, n_in, n_removed, n_out) row per tier —
    * the funnel an operator reads to see which tier earns its cost.
    * Tier frames are materialized: each feeds both the next tier and
    * its own report row. */
  def cascadeReport(
      docs: DataFrame,
      urlCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      bands: Int = 4): DataFrame = {
    require(docs.columns.contains(urlCol), s"no url column '$urlCol'")
    val t1 = Materialize(
      docs.select(col(urlCol), col(idCol))
        .groupBy(col(urlCol)).agg(min(col(idCol)).as(idCol))
        .select(col(idCol)))
    val t2 = Materialize(
      docs.join(t1, Seq(idCol), "left_semi")
        .select(md5(TextAnalysis.normalize(col(textCol))).as("fp"),
          col(idCol))
        .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
        .select(col(idCol)))
    val edges = minhashCandidates(docs, k = k, bands = bands,
      idCol = idCol, textCol = textCol)
    val dropped3 = edges
      .join(t2.select(col(idCol).as("doc_a")), Seq("doc_a"), "left_semi")
      .join(t2.select(col(idCol).as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as(idCol)).distinct()
    def tier(n: Long, name: String, nIn: DataFrame, nOut: DataFrame) =
      nIn.agg(count(lit(1)).as("n_in"))
        .crossJoin(nOut.agg(count(lit(1)).as("n_out")))
        .select(lit(n).as("tier"), lit(name).as("method"),
          col("n_in"), (col("n_in") - col("n_out")).as("n_removed"),
          col("n_out"))
    tier(1L, "url_canonical", docs.select(col(idCol)), t1)
      .unionByName(tier(2L, "content_md5", t1, t2))
      .unionByName(
        t2.agg(count(lit(1)).as("n_in"))
          .crossJoin(dropped3.agg(count(lit(1)).as("n_removed")))
          .select(lit(3L).as("tier"), lit("minhash_band").as("method"),
            col("n_in"), col("n_removed"),
            (col("n_in") - col("n_removed")).as("n_out")))
  }
}
