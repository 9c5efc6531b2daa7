package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextAnalysis}

/** Dedup operator suite: shingles, exact, MinHash+LSH, SimHash, n-gram
  * Jaccard — including a cross-check that the inverted-index Jaccard join
  * computes exactly the naive pairwise formula. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private def shingleSeq(text: String, n: Int): Seq[String] =
    Seq(text).toDF("text")
      .select(Dedup.shingles(col("text"), n).as("g"))
      .as[Seq[String]].head()

  test("shingles: word n-grams of the normalized text") {
    assert(shingleSeq("The quick brown fox", 2) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(shingleSeq("The quick brown fox", 3) ==
      Seq("the quick brown", "quick brown fox"))
    // punctuation and case fold away before shingling
    assert(shingleSeq("Quick, BROWN; fox!", 2) ==
      Seq("quick brown", "brown fox"))
  }

  test("shingles: short text falls back to the whole normalized string") {
    assert(shingleSeq("hello", 3) == Seq("hello"))
    assert(shingleSeq("hello world", 3) == Seq("hello world"))
    assert(shingleSeq("hello world again", 3) == Seq("hello world again"))
  }

  test("exact dedup: fingerprint groups and deterministic survivor") {
    val df = Seq(
      (1L, "Same Text here."),
      (2L, "same text HERE"),   // normalizes identically to doc 1
      (3L, "different entirely"),
      (4L, "same text here"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDuplicates(df).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_dups") == 3L)
    assert(groups.head.getAs[Long]("keep_id") == 1L)

    val kept = Dedup.exactDedup(df).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("minhash signature: deterministic, k columns, identical for near-identical texts") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // identical
      (3L, "totally unrelated content words here"))
      .toDF("doc_id", "text")
    val sig = Dedup.withMinhashSignature(df, k = 4, shingleSize = 2)
      .orderBy("doc_id").collect()
    // identical text -> identical signature
    (0 until 4).foreach { i =>
      assert(sig(0).getAs[String](s"mh$i") == sig(1).getAs[String](s"mh$i"))
    }
    // different text -> some row differs
    assert((0 until 4).exists { i =>
      sig(0).getAs[String](s"mh$i") != sig(2).getAs[String](s"mh$i")
    })
    // signature equals the directly-computed per-seed minhash
    val direct = df.filter($"doc_id" === 1)
      .select(Dedup.minhash(Dedup.shingles($"text", 2), 0)).as[String].head()
    assert(sig(0).getAs[String]("mh0") == direct)
  }

  test("LSH candidates: near-identical docs collide, distinct pairs a < b") {
    val base = "the common run of words shared by near duplicates in this corpus"
    val df = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, base),
      (4L, "completely different text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(df, k = 8, bands = 4, shingleSize = 2)
      .as[(Long, Long)].collect().toSet
    // identical docs 1 and 3 must collide in every band
    assert(pairs.contains((1L, 3L)))
    // ordering invariant
    assert(pairs.forall { case (a, b) => a < b })
    // the unrelated doc shares no shingles -> no band hash collision
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: deterministic, equal for equal word sets, hamming distance") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "Alpha, beta; GAMMA delta!"),  // same normalized words
      (3L, "omega psi chi phi"))
      .toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.simhash($"text", 16).as("sh"))
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(sh(0) == sh(1))
    assert(sh(0) >= 0 && sh(0) < (1L << 16))
    val dist = Seq((sh(0), sh(2))).toDF("a", "b")
      .select(Dedup.hammingDistance($"a", $"b")).as[Int].head()
    assert(dist == java.lang.Long.bitCount(sh(0) ^ sh(2)))
  }

  test("simhash: 48-bit signatures use the full width, low 32 bits stable") {
    val docs = (1 to 30).map { i =>
      (i.toLong, (0 until 10).map(j => s"tok${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val wide = docs.select($"doc_id", Dedup.simhash($"text", 48).as("sh"))
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(wide.forall(s => s >= 0 && s < (1L << 48)))
    // some doc must set a bit above 32 or the widening buys nothing
    assert(wide.exists(s => (s >> 32) != 0))
    // digits 1..32 of the doubled digest are md5(w) itself, so a 48-bit
    // signature truncated to 32 bits equals the 32-bit signature
    val narrow = docs.select($"doc_id", Dedup.simhash($"text", 32).as("sh"))
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(wide.map(_ & 0xFFFFFFFFL).toSeq == narrow.toSeq)
  }

  test("simhash near-dup pairs: 48-bit blocking matches brute force") {
    val docs = (1 to 40).map { i =>
      val words = (0 until 8).map(j => s"w${(i + j * 3) % 15}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val blocked = Dedup.simhashNearDupPairs(docs, bits = 48, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val sig = docs.select($"doc_id", Dedup.simhash($"text", 48).as("sh"))
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Dedup.hammingDistance($"a.sh", $"b.sh").as("d"))
      .filter($"d" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked == brute)
  }

  test("hammingCandidatePairs: the banding is LOSSLESS at the deployed " +
    "chunk count — candidates cover the brute truth exactly (recall " +
    "1.0), and the verified pairs are the candidates' within-threshold " +
    "slice") {
    val docs = (1 to 40).map { i =>
      val words = (0 until 8).map(j => s"w${(i + j * 3) % 15}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sig = docs.select($"doc_id", Dedup.simhash($"text", 48).as("sh"))
    val cand = Dedup.hammingCandidatePairs(sig, "doc_id", "sh",
      bits = 48, maxDist = 3)
    val candSet = cand.select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val truth = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
        Dedup.hammingDistance($"a.sh", $"b.sh").as("d"))
      .filter($"d" <= 3)
      .select($"da", $"db")
      .as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture must contain true near-dups")
    assert(truth.subsetOf(candSet),
      s"pigeonhole banding at chunks = maxDist+1 must be lossless — " +
        s"missed ${truth -- candSet}")
    // the verified pair set IS the candidates' within-threshold slice
    val verified = Dedup.hammingNearDupPairs(sig, "doc_id", "sh",
      bits = 48, maxDist = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified == truth)
    val candWithin = cand.filter($"dist" <= 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(candWithin == truth)
  }

  test("simhash near-dup pairs: pigeonhole blocking matches brute force") {
    val docs = (1 to 40).map { i =>
      // overlapping word sets so some pairs land within hamming distance
      val words = (0 until 8).map(j => s"w${(i + j * 3) % 15}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

    val blocked = Dedup.simhashNearDupPairs(docs, bits = 16, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet

    val sig = docs.select($"doc_id", Dedup.simhash($"text", 16).as("sh"))
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Dedup.hammingDistance($"a.sh", $"b.sh").as("d"))
      .filter($"d" <= 3)
      .as[(Long, Long, Int)].collect().toSet

    assert(blocked == brute)
    assert(brute.nonEmpty, "test corpus should produce at least one pair")

    // regression: (bits=16, maxDist=4) once pushed the last chunk past the
    // signature width, collapsing it into one global bucket — the balanced
    // layout must keep every chunk inside the signature AND stay exact
    val blocked4 = Dedup.simhashNearDupPairs(docs, bits = 16, maxDist = 4)
      .as[(Long, Long, Int)].collect().toSet
    val brute4 = sig.as("a").crossJoin(sig.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Dedup.hammingDistance($"a.sh", $"b.sh").as("d"))
      .filter($"d" <= 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked4 == brute4)
  }

  test("jaccard column: |A intersect B| / |A union B|") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y").select(Dedup.jaccard($"x", $"y")).as[Double].head()
    assert(math.abs(j - 2.0 / 4.0) < 1e-15)
    val empty = Seq((Seq.empty[String], Seq.empty[String]))
      .toDF("x", "y").select(Dedup.jaccard($"x", $"y")).as[Double].head()
    assert(empty == 0.0)
  }

  test("inverted-index Jaccard pairs match the naive pairwise computation") {
    val docs = Seq(
      (1L, "s1", "the quick brown fox jumps over the lazy dog"),
      (2L, "s1", "the quick brown fox leaps over the lazy dog"),
      (3L, "s1", "an utterly different document about spark engines"),
      (4L, "s1", "the quick brown fox jumps over a lazy dog today"),
      (5L, "s2", "the quick brown fox jumps over the lazy dog"),
      (6L, "s2", "spark engines process corpus data at large scale"))
      .toDF("doc_id", "source", "text")

    val fast = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.1)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq

    // naive reference: per-block cross join + jaccard column
    val prep = docs.select($"source".as("blk"), $"doc_id",
      array_distinct(Dedup.shingles($"text", 2)).as("g"))
    val naive = prep.as("a").join(prep.as("b"), Seq("blk"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        Dedup.jaccard($"a.g", $"b.g").as("j"))
      .filter($"j" >= 0.1)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq

    assert(fast.map(p => (p._1, p._2)) == naive.map(p => (p._1, p._2)))
    fast.zip(naive).foreach { case (f, n) =>
      assert(math.abs(f._3 - n._3) < 1e-12, s"score mismatch: $f vs $n")
    }
    // cross-block pair (1, 5) identical texts but different sources: absent
    assert(!fast.exists(p => p._1 == 1L && p._2 == 5L))
  }

  test("prefix-filtered Jaccard equals the full inverted-index join " +
    "and generates strictly fewer candidates") {
    // a shared hot bigram ("the quick") makes the full index pay df²
    // rows the rarest-first prefixes never touch
    val docs = Seq(
      (1L, "s1", "the quick brown fox jumps over the lazy dog"),
      (2L, "s1", "the quick brown fox leaps over the lazy dog"),
      (3L, "s1", "an utterly different document about spark engines"),
      (4L, "s1", "the quick brown fox jumps over a lazy dog today"),
      (5L, "s1", "the quick red panda naps under a shady tree"),
      (6L, "s2", "the quick brown fox jumps over the lazy dog"),
      (7L, "s2", "spark engines process corpus data at large scale"))
      .toDF("doc_id", "source", "text")
    for (t <- Seq(0.1, 0.25, 0.5, 0.9)) {
      val full = Dedup.ngramJaccardPairs(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
      val pref = Dedup.ngramJaccardPairsPrefix(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
      assert(pref.map(p => (p._1, p._2)) == full.map(p => (p._1, p._2)),
        s"pair sets diverge at threshold $t")
      pref.zip(full).foreach { case (p, f) =>
        assert(math.abs(p._3 - f._3) < 1e-12, s"score mismatch: $p vs $f")
      }
    }
    // candidate shrinkage at a selective threshold: every doc pair
    // sharing ANY gram is a full-index candidate; prefixes prune
    val kept = docs.select($"source".as("blk"), $"doc_id",
      explode(array_distinct(Dedup.shingles($"text", 2))).as("gram"))
    val fullCand = kept.select($"blk", $"gram", $"doc_id".as("doc_a"))
      .join(kept.select($"blk", $"gram", $"doc_id".as("doc_b")),
        Seq("blk", "gram"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct().count()
    val prefCand = Dedup.jaccardPrefixCandidates(kept, "doc_id", 0.5).count()
    assert(prefCand < fullCand,
      s"prefix filter pruned nothing: $prefCand vs $fullCand")
  }

  test("prefix-filtered Jaccard composes with the hot-gram cap and " +
    "rejects thresholds outside (0,1]") {
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon eta"),
      (3L, "s1", "alpha beta totally unrelated words here"))
      .toDF("doc_id", "source", "text")
    val full = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.2,
      maxGramDf = 2).orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq
    val pref = Dedup.ngramJaccardPairsPrefix(docs, n = 2, threshold = 0.2,
      maxGramDf = 2).orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pref == full)
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(docs, threshold = 1.5)
    }
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(docs, threshold = 0.0)
    }
  }

  test("jaccardAutoArm decision boundary: strict inequality — at the " +
    "exact ratio the full arm keeps the tie, zero costs never divide") {
    assert(Dedup.jaccardAutoArm(1000L, 249L, 0.25) == "prefix")
    assert(Dedup.jaccardAutoArm(1000L, 250L, 0.25) == "full",
      "prefixCost == ratio*fullCost must NOT clear the margin — the " +
        "margin pays for the prefix arm's extra passes")
    assert(Dedup.jaccardAutoArm(1000L, 251L, 0.25) == "full")
    // degenerate corpora: empty index (both costs 0) stays on the
    // full arm — no prefix machinery for nothing
    assert(Dedup.jaccardAutoArm(0L, 0L, 0.25) == "full")
  }

  test("auto Jaccard arm: cost probe picks full on a uniform corpus, " +
    "prefix on a light-tailed one, and matches both fixed arms") {
    // uniform regime: every doc is the same text, so every gram is
    // maximally hot AND the prefix cannot exclude anything — the
    // measured prefix cost equals the full cost and auto must refuse
    // the prefix arm's overhead
    val uniform = (0L until 10L).map(i =>
      (i, "s1", "w0 w1 w2 w3 w4 w5 w6 w7")).toDF("doc_id", "source", "text")
    // light-tail regime: one corpus-hot bigram, everything else unique —
    // the rarest-first prefixes exclude the hot gram entirely and the
    // quadratic term collapses
    val tailed = (0L until 60L).map(i =>
      (i, "s1", s"hot pair u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"))
      .toDF("doc_id", "source", "text")
    def keptOf(docs: org.apache.spark.sql.DataFrame) =
      docs.select($"source".as("blk"), $"doc_id",
        explode(array_distinct(Dedup.shingles($"text", 2))).as("gram"))
    val t = 0.5
    val (uf, up) = Dedup.jaccardJoinCosts(keptOf(uniform),
      Dedup.jaccardPrefixIndex(keptOf(uniform), "doc_id", t))
    assert(Dedup.jaccardAutoArm(uf, up, 0.25) == "full",
      s"uniform corpus must choose the full arm (costs $uf vs $up)")
    val (tf, tp) = Dedup.jaccardJoinCosts(keptOf(tailed),
      Dedup.jaccardPrefixIndex(keptOf(tailed), "doc_id", t))
    assert(Dedup.jaccardAutoArm(tf, tp, 0.25) == "prefix",
      s"light-tailed corpus must choose the prefix arm (costs $tf vs $tp)")
    // answer equality with the fixed arms in BOTH regimes
    for (docs <- Seq(uniform, tailed)) {
      val auto = Dedup.ngramJaccardPairsAuto(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
      val full = Dedup.ngramJaccardPairs(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
      val pref = Dedup.ngramJaccardPairsPrefix(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").as[(Long, Long, Double)].collect().toSeq
      assert(auto == full && auto == pref,
        "the auto arm must reproduce both fixed arms exactly")
    }
  }

  test("stronglyConnectedComponents: rings confirm, chains trim, " +
    "direction is respected, necklaces take multiple outer rounds") {
    // ring {1,2,3}; 2-cycle {10,11}; chain 3→5→6→10 (5,6 singletons);
    // sink 20. Undirected CC would merge ALL of this into one blob —
    // the direction IS the signal.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 10L),
      (3L, 5L), (5L, 6L), (6L, 10L), (11L, 20L)).toDF("src", "dst")
    val out = Dedup.stronglyConnectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 5L -> 5L, 6L -> 6L, 20L -> 20L))
    assert(Dedup.connectedComponents(edges, "src", "dst")
      .select($"component").distinct().count() == 1L,
      "the undirected view collapses everything — SCC must not")
    // descending necklace ring(6,7)→ring(4,5)→ring(2,3): trim peels
    // nothing, and coloring can only confirm the globally-minimal ring
    // each round — the multi-outer-round path
    val necklace = Seq((6L, 7L), (7L, 6L), (4L, 5L), (5L, 4L),
      (2L, 3L), (3L, 2L), (7L, 4L), (5L, 2L)).toDF("src", "dst")
    val n = Dedup.stronglyConnectedComponents(necklace)
      .as[(Long, Long)].collect().toMap
    assert(n == Map(2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 6L))
    // self-loops are ignored; an empty edge frame yields no rows
    assert(Dedup.stronglyConnectedComponents(
      Seq((1L, 1L)).toDF("src", "dst")).count() == 0L)
  }

  test("dedupSegmentsWithinDoc: first occurrence kept, repeats dropped, " +
    "empty docs vanish, and the plan has NO exchange") {
    val docs = Seq(
      (1L, "s", "a b c a b c d e f"), // segment 'a b c' repeats
      (2L, "s", "x y z p q r"), // no repeats
      (3L, "s", ""), // no segments — dropped
      (4L, "s", "m n o m n")) // short tail is a DIFFERENT segment
      .toDF("doc_id", "source", "text")
    val out = Dedup.dedupSegmentsWithinDoc(docs, width = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "a b c d e f"),
      (2L, 2L, 2L, "x y z p q r"),
      (4L, 2L, 2L, "m n o m n")))
    val plan = Dedup.dedupSegmentsWithinDoc(docs, width = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "per-doc segment dedup must be a narrow expression — no shuffle")
  }

  test("leakCensus: per-bench-item leak counts hand-verified, " +
    "zero-leak items reported at 0") {
    val bench = Seq(
      (100L, "alpha beta gamma delta"),
      (150L, "unique phrase nowhere else found"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma x y"), // shares 'alpha beta gamma'
      (2L, "z alpha beta gamma delta"), // shares both bench-100 grams
      (3L, "completely different text here"))
      .toDF("doc_id", "text")
    val got = Dedup.leakCensus(train, bench, n = 3)
      .orderBy("bench_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (100L, 2L, 2L, 3L), // 2 leaking docs, 2 distinct grams, 3 pairs
      (150L, 0L, 0L, 0L)))
  }

  test("decontaminateFuzzy: docs sharing a band with a benchmark doc " +
    "drop (identical text always collides); distinct docs survive; " +
    "empty benchmark keeps everything") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different document about spark partitioning"),
      (3L, "the quick brown fox jumps over the lazy dog tonight")) // = 1
      .toDF("doc_id", "text")
    // benchmark holds doc 1's exact text (different id namespace)
    val bench = Seq((900L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(docs, bench)
      .select($"doc_id").as[Long].collect().toSet
    // identical text -> identical signature -> every band collides
    assert(kept == Set(2L))
    val emptyBench = bench.filter($"doc_id" < 0)
    assert(Dedup.decontaminateFuzzy(docs, emptyBench).count() == 3L)
  }

  test("onlineDedup: min id wins every bucket; a doc can lose to a doc " +
    "that itself lost elsewhere (transitive-conservative)") {
    import spark.implicits._
    // 1 and 2 share text (every bucket); 3 is distinct
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely unrelated content about something else entirely"))
      .toDF("doc_id", "text")
    val kept = Dedup.onlineDedup(docs)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("streaming online dedup: arrival order beats id order across " +
    "batches; min id wins within a batch; one state row per bucket") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamDedup
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    val losses = StreamDedup.onlineDedupStream(Dedup.bandKeys(docs))
    val query = losses.toDF().writeStream.format("memory")
      .queryName("online_dedup_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      // batch 1: ids 10 and 7 share text -> 7 wins every bucket (min id
      // within the batch); 50 is distinct and claims its own buckets
      stream.addData((10L, "the shared text body one two three four"),
        (7L, "the shared text body one two three four"),
        (50L, "some other text body five six seven eight"))
      query.processAllAvailable()
      // batch 2: id 1 arrives LATE with the shared text — smaller id
      // than the batch-1 winner, but arrival order wins: 1 loses to 7
      stream.addData((1L, "the shared text body one two three four"))
      query.processAllAvailable()
      // batch 3: the WINNER re-arrives (at-least-once delivery) — it
      // must NOT be emitted as its own loser, or the anti-join consumer
      // would drop the bucket's only survivor
      stream.addData((7L, "the shared text body one two three four"))
      query.processAllAvailable()

      val loserRows: Set[(Long, Long)] = spark.table("online_dedup_test")
        .select($"doc_id", $"won_by").as[(Long, Long)].collect().toSet
      val losers: Map[Long, Set[Long]] =
        loserRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      assert(losers.keySet == Set(10L, 1L))
      assert(losers(10L) == Set(7L) && losers(1L) == Set(7L))
      // state: one row per distinct bucket = 4 bands x 2 distinct texts
      val stateRows = Option(query.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(stateRows.contains(8L),
        s"expected 8 bucket-state rows, got $stateRows")
    } finally {
      query.stop()
      spark.sql("DROP VIEW IF EXISTS online_dedup_test")
    }
  }

  graphTest("connected components: transitive closure with min-id labels, " +
    "edge-free nodes absent") {
    import spark.implicits._
    // two components: a 4-chain {1,2,3,4} (diameter 3 — needs real
    // propagation, not one hop) and a pair {10, 11}; 99 only ever appears
    // as a neighbor of itself — never in the edge list — so it is absent
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cc == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  graphTest("connected components: pointer jumping converges a deep chain in " +
    "logarithmic rounds") {
    import spark.implicits._
    // a 64-node chain has diameter 63: plain one-hop min propagation
    // needs 63 rounds, pointer jumping needs O(log n) — maxIter = 12
    // passes only if the label-of-label shortcut is actually working
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(chain, maxIter = 12)
      .as[(Long, Long)].collect().toSeq
    assert(cc.length == 64 && cc.forall(_._2 == 1L))
  }

  graphTest("connected components under RELIABLE checkpointing: same labels, " +
    "and reliable mode without a checkpoint dir fails loudly") {
    import spark.implicits._
    import graft.functions.Materialize
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    spark.conf.set(Materialize.ReliableConf, "true")
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        // asking for durability without a durable location must not
        // silently fall back to executor-local blocks
        val e = intercept[IllegalArgumentException] {
          Dedup.connectedComponents(edges).collect()
        }
        assert(e.getMessage.contains("setCheckpointDir"))
        spark.sparkContext.setCheckpointDir(
          java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      }
      val cc = Dedup.connectedComponents(edges)
        .orderBy("node").as[(Long, Long)].collect().toSeq
      assert(cc == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (10L, 10L), (11L, 10L)))
    } finally spark.conf.unset(Materialize.ReliableConf)
  }

  test("Materialize.drop refuses a frame over two materialized leaves " +
    "and releases neither; a projection of one releases it") {
    import graft.functions.Materialize
    val a = Materialize(spark.range(0, 10).toDF("id"))
    val b = Materialize(spark.range(5, 20).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      Materialize.drop(a.join(b, Seq("id")))
    }
    assert(e.getMessage.contains("single LogicalRDD leaf"))
    // both inputs' blocks survived the refused drop
    assert(a.count() == 10L && b.count() == 15L)
    val c = Materialize(spark.range(0, 3).toDF("id"))
    Materialize.drop(c.select((c("id") + 1).as("id")))
    Materialize.drop(a)
    Materialize.drop(b)
  }

  graphTest("incrementalComponents: star-collapsed fold equals the full " +
    "recompute — delta bridges two base components, isolated base " +
    "components survive via their self-loop stars") {
    // base: {1,2,3} (chain) and {10,11}; isolated pair {20,21}
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    // delta: bridge 3-10 (merges the first two components), plus a
    // brand-new component {30,31} whose nodes have no base labels
    val delta = Seq((3L, 10L), (30L, 31L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(base)
    val inc = Dedup.incrementalComponents(labels, delta)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(base.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(inc == full)
    assert(inc(10L) == 1L, "bridged component must take the global min id")
    assert(inc(21L) == 20L, "isolated base component must survive")
    assert(inc(31L) == 30L, "delta-only nodes must cluster fresh")
  }

  graphTest("kCore: cascading peel reaches the maximal k-core, degrees are " +
    "within-core, fully-peeled graph returns empty") {
    // triangle {1,2,3} each + a pendant chain 3-4-5: 2-core = the
    // triangle, and the chain peels in CASCADE (5 first, then 4) —
    // two rounds, exercising the fixpoint loop
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val core2 = Dedup.kCore(edges, k = 2).as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      "2-core is the triangle with within-core degree 2 each")
    // k=3: even the triangle dies (degree 2 < 3) → empty result
    assert(Dedup.kCore(edges, k = 3).isEmpty)
    // k=1 keeps everything; degrees are the input degrees
    val core1 = Dedup.kCore(edges, k = 1).as[(Long, Long)].collect().toMap
    assert(core1 == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  graphTest("connected components: non-convergence fails loudly") {
    import spark.implicits._
    // a 6-node chain has diameter 5; min-label propagation moves the min
    // one hop per round, so maxIter = 2 cannot converge
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("containment pairs: embedded sub-document scores 1.0 where " +
    "Jaccard dilutes; blocks never cross") {
    import spark.implicits._
    // doc 2 is a verbatim chunk of doc 1: every one of its 2-grams is
    // contained (containment 1.0) but Jaccard = 3/7 — the asymmetric
    // case the operator exists for. Doc 3 matches doc 1 only in another
    // block and must not pair.
    val docs = Seq(
      (1L, "a b c d e f g h", "s1"),
      (2L, "a b c d", "s1"),
      (3L, "a b c d e f g h", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.ngramContainmentPairs(docs, threshold = 0.5)
      .select($"doc_a", $"doc_b", $"containment", $"jaccard")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0, 3.0 / 7.0)))
    // the jaccard face over the same core still reports the diluted view
    val j = Dedup.ngramJaccardPairs(docs, threshold = 0.25)
      .select($"jaccard").as[Double].collect().toSeq
    assert(j == Seq(3.0 / 7.0))
  }

  graphTest("pagerank: exact fixed-point round on a star, hub dominates") {
    import spark.implicits._
    // star 1—{2,3,4}: deg(1)=3, deg(leaf)=1. Round 1 by hand:
    //   center in-sum = 3·(10⁶ div 1)       → 150000 + (85·3000000) div 100
    //   leaf   in-sum = 10⁶ div 3 = 333333  → 150000 + (85·333333)  div 100
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val r1 = Dedup.pagerank(star, iterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(1L) == 150000L + 85L * 3000000L / 100L) // 2700000
    assert(r1(2L) == 150000L + 85L * 333333L / 100L) // 433333
    assert(r1(2L) == r1(3L) && r1(3L) == r1(4L)) // leaf symmetry
    // more rounds keep the hub on top and never drop a node
    val r4 = Dedup.pagerank(star, iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(r4.keySet == Set(1L, 2L, 3L, 4L))
    assert(r4(1L) > r4(2L))
  }

  graphTest("pagerank: symmetric graphs stay symmetric; bad args rejected") {
    import spark.implicits._
    // 4-cycle: every node has degree 2 — ranks must all stay equal at
    // the teleport-adjusted fixed point
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("doc_a", "doc_b")
    val r = Dedup.pagerank(cycle, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(r.values.toSet.size == 1)
    intercept[IllegalArgumentException] {
      Dedup.pagerank(cycle, iterations = 0)
    }
  }

  test("bloom decontamination: exact answer behind the prefilter — no " +
    "false negatives, false positives cleared by the confirm join") {
    import org.apache.spark.sql.functions._
    val docGrams = Seq(
      (1L, "aa"), (1L, "bb"), (1L, "cc"),
      (2L, "dd"), (2L, "ee"),
      (3L, "aa"), (3L, "dd")).toDF("doc_id", "gram")
    val bench = Seq("aa", "cc", "zz").toDF("gram")
    val out = Dedup.decontaminateBloomExact(docGrams, bench)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // doc 1 shares aa+cc, doc 2 nothing (MUST still appear, n=0),
    // doc 3 shares aa
    assert(out.toSeq == Seq((1L, 2L, true), (2L, 0L, false), (3L, 1L, true)))

    // equality with the broadcast-exact recompute on a wider fixture,
    // at a deliberately high FPP so false positives definitely occur
    // and the confirm join is doing real work
    val wide = (1L to 200L).flatMap(i =>
      Seq((i, s"g${i % 37}"), (i, s"g${(i * 7) % 37}")))
      .toDF("doc_id", "gram")
    val wideBench = (0 until 5).map(i => s"g$i").toDF("gram")
    val bloomed = Dedup.decontaminateBloomExact(wide, wideBench, fpp = 0.5)
      .orderBy($"doc_id").collect().toSeq
    val exact = wide.join(broadcast(wideBench.withColumn("__hit", lit(1))),
        Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(sum(when($"__hit".isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("contaminated", $"n_shared" > 0)
      .select($"doc_id", $"n_shared", $"contaminated")
      .orderBy($"doc_id").collect().toSeq
    assert(bloomed == exact)
  }

  test("bloom probe: definitely-absent grams are dropped, members " +
    "always pass (no false negatives by construction)") {
    import org.apache.spark.sql.functions._
    val bench = (1 to 500).map(i => s"m$i").toDF("gram")
    val bloom = Dedup.benchGramBloom(bench, fpp = 0.01)
    // every member passes
    val members = bench.filter(Dedup.bloomProbe(bloom, col("gram"))).count()
    assert(members == 500L, s"bloom dropped ${500 - members} members")
    // non-members are mostly dropped (FPP 1% — allow generous slack)
    val nonMembers = (1 to 2000).map(i => s"x$i").toDF("gram")
    val passed = nonMembers.filter(Dedup.bloomProbe(bloom, col("gram"))).count()
    assert(passed < 200L, s"bloom passed $passed of 2000 non-members")
  }

  test("cdcSegments: boundaries are content-defined — an insertion " +
    "shifts fixed-width segments but CDC re-synchronizes; determinism") {
    // 120 distinct words, then doc B = doc A with one word inserted at
    // the front — the edit every fixed-width segmentation is blind to
    val wordsA = (1 to 120).map(i => s"tok${i}word$i")
    val textA = wordsA.mkString(" ")
    val textB = ("inserted" +: wordsA).mkString(" ")
    val docs = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    def keys(id: Long, df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") === id).select(col("seg_key"))
        .as[String].collect().toSet
    val cdc = Dedup.cdcSegments(docs, modulus = 8)
    val (ca, cb) = (keys(1L, cdc), keys(2L, cdc))
    // everything after the first content-chosen cut is identical text,
    // so most of A's segments reappear verbatim in B
    val shared = ca.intersect(cb).size
    assert(ca.size >= 8, s"fixture produced only ${ca.size} segments")
    assert(shared >= ca.size - 2,
      s"CDC failed to re-synchronize: $shared of ${ca.size} shared")
    // fixed-width segmentation of the same pair shares (almost) nothing
    val fixed = docs.select(col("doc_id"),
      explode(Dedup.segments(col("text"), 8)).as("seg_text"))
      .select(col("doc_id"), md5(col("seg_text")).as("seg_key"))
    val (fa, fb) = (keys(1L, fixed), keys(2L, fixed))
    assert(fa.intersect(fb).size <= 1,
      "fixed-width segments unexpectedly survived the shift")
    // deterministic under repartitioning (window order is pinned)
    val re = Dedup.cdcSegments(docs.repartition(7), modulus = 8)
      .select(col("doc_id"), col("seg"), col("n_words"), col("seg_key"))
      .as[(Long, Long, Long, String)].collect().toSet
    val base = cdc.select(col("doc_id"), col("seg"), col("n_words"),
      col("seg_key")).as[(Long, Long, Long, String)].collect().toSet
    assert(re == base)
  }

  test("decontaminateSpans: overlapping hit windows merge into maximal " +
    "word spans; repeated grams are separate windows; gaps split") {
    val bench = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // doc 1: grams at pos 1 ("alpha beta gamma") and 2 ("beta gamma
    // delta") hit — overlapping windows [1,4) ∪ [2,5) = one span [1,5);
    // a benchmark gram repeats at pos 7, far away — its own span
    // [7,10). doc 2: clean, no rows. doc 3: the whole doc IS a
    // benchmark gram (3 words) — one full-width span.
    val train = Seq(
      (1L, "x1 alpha beta gamma delta x2 x3 alpha beta gamma"),
      (2L, "totally clean words here"),
      (3L, "beta gamma delta")).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(train, bench)
      .orderBy(col("doc_id"), col("island"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 5L, 2L, 4L),
      (1L, 2L, 7L, 10L, 1L, 3L),
      (3L, 1L, 0L, 3L, 1L, 3L)))
  }

  test("splitDecontaminated: a gated test doc sharing an 8-gram with " +
    "train moves to train; a clean test doc stays; the final test set " +
    "has zero 8-gram overlap by construction") {
    // gate (md5('tsplit:'||id)[0,2) < '29'): ids 1, 3, 12 -> test;
    // 2, 4 -> train. doc 3 shares its full 8-gram run with train doc 2
    // -> evicted; doc 1 and 12 are clean 8-plus-word docs -> stay.
    val leakRun = "q w e r t y u i"
    val docs = Seq(
      (1L, "one clean held out document with enough words"),
      (2L, s"train page carrying the run $leakRun verbatim"),
      (3L, s"test page quoting the run $leakRun too"),
      (4L, "another train document with its own words here"),
      (12L, "second clean held out document of eight words plus"))
      .toDF("doc_id", "text")
    val got = Dedup.splitDecontaminated(docs)
      .orderBy($"doc_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "test"), (2L, "train"), (3L, "train"),
      (4L, "train"), (12L, "test")))
    // the invariant the operator exists for: no 8-gram crosses sides
    val sides = Dedup.splitDecontaminated(docs)
      .join(docs, Seq("doc_id"))
      .select($"split", explode(array_distinct(
        Dedup.shingles($"text", 8))).as("gram"))
    val crossed = sides.filter($"split" === "test")
      .join(sides.filter($"split" === "train"), Seq("gram"), "left_semi")
    assert(crossed.isEmpty, "a test 8-gram leaked into train")
  }

  test("selfDedupSpans: cross-doc repeats redact every occurrence but " +
    "the global (doc,pos)-min survivor; intra-doc repeats keep the " +
    "earlier copy; clean docs emit nothing") {
    // doc 1 and doc 2 share "alpha beta gamma delta" — doc 1 holds the
    // survivor occurrences of both duplicated grams, so only doc 2's
    // overlapping windows [1,4) ∪ [2,5) merge into one span. doc 4
    // repeats "p q r" at pos 0 and 5 — the later copy is redacted.
    val docs = Seq(
      (1L, "alpha beta gamma delta eps"),
      (2L, "x1 alpha beta gamma delta x2"),
      (3L, "unique words entirely here"),
      (4L, "p q r z1 z2 p q r")).toDF("doc_id", "text")
    val out = Dedup.selfDedupSpans(docs)
      .orderBy(col("doc_id"), col("island"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (2L, 1L, 1L, 5L, 2L, 4L),
      (4L, 1L, 5L, 8L, 1L, 3L)))
    // deterministic under repartitioning: survivor choice is a global
    // min, not an arrival-order artifact
    val re = Dedup.selfDedupSpans(docs.repartition(7))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(re == out.toSet)
  }

  test("cascadeReport: each tier removes its planted duplicates and " +
    "passes the rest down the funnel") {
    // ids 1,2: same canonical url (tier 1 drops 2). ids 3,4: distinct
    // urls, identical normalized text (tier 2 drops 4). ids 5,6:
    // distinct urls and texts but shingle-identical long prefix (tier
    // 3 band-collides, drops 6). id 7: unique on every axis.
    val near =
      "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, "https://a.io/x", "first unique document body one"),
      (2L, "https://a.io/x", "second body that never gets hashed"),
      (3L, "https://a.io/y", "Shared  CONTENT here!"),
      (4L, "https://a.io/z", "shared content here"),
      (5L, "https://b.io/p", near + " alpha"),
      (6L, "https://b.io/q", near + " alpha"),
      (7L, "https://c.io/r", "totally different text about ships"))
      .toDF("doc_id", "url", "text")
    // 5/6 share their text exactly too — push them apart at tier 2 by
    // a suffix the 3-gram shingles mostly share
    val spread = docs.withColumn("text",
      when($"doc_id" === 6L, concat($"text", lit(" beta"))).otherwise($"text"))
    val got = Dedup.cascadeReport(spread, urlCol = "url")
      .orderBy($"tier")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._3, r._5)) ==
      Seq((1L, 7L, 6L), (2L, 6L, 5L), (3L, 5L, 4L)),
      s"funnel counts off: $got")
    assert(got.map(_._4) == Seq(1L, 1L, 1L),
      s"each tier must remove exactly its planted duplicate: $got")
  }
}
