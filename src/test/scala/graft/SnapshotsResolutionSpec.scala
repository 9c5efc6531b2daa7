package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.operators.Snapshots

/** The read-path resolution BUDGET, pinned as counted facts (the
  * [[Snapshots.manifestReads]]/[[Snapshots.sidecarListings]]
  * instrumentation) rather than wall-clock: each read verb takes ONE
  * eager manifest read and ONE combined sidecar resolution — a single
  * listing of the table root to discover which families exist, plus
  * one listing per family actually present — instead of an
  * exists+list pair per family per verb, a constant that grew with
  * every sidecar family the engine accrued. At 100 TB these listings
  * are object-store round-trips on every query's critical path; the
  * budget is the contract that keeps new sidecar families from
  * silently taxing every read. */
class SnapshotsResolutionSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val p = Files.createTempDirectory("snap_res_").toString + "/tbl"
    Snapshots.init(spark, p)
    p
  }

  /** (result, manifest reads, sidecar listings) around `body`. */
  private def counted[T](body: => T): (T, Long, Long) = {
    val m0 = Snapshots.manifestReads.get
    val l0 = Snapshots.sidecarListings.get
    val r = body
    (r, Snapshots.manifestReads.get - m0,
      Snapshots.sidecarListings.get - l0)
  }

  /** (result, manifest ROWS collected) around `body`. */
  private def rowsCounted[T](body: => T): (T, Long) = {
    val r0 = Snapshots.manifestRowsCollected.get
    val r = body
    (r, Snapshots.manifestRowsCollected.get - r0)
  }

  test("readAsOf budget: one manifest read, one combined resolution — " +
    "1 listing with no sidecars, 1 + families-present with them") {
    val tbl = freshTable()
    val v0 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      tbl, append = false)
    // plain table: no sidecar family exists — the root listing is the
    // resolution's ONLY listing I/O
    val (n0, m0, l0) = counted(Snapshots.readAsOf(spark, tbl, v0).count())
    assert(n0 == 3L)
    assert(m0 == 1L, s"plain readAsOf took $m0 manifest reads, budget 1")
    assert(l0 == 1L, s"plain readAsOf took $l0 sidecar listings, budget 1")

    // stack TWO governing families (a delete's _dv, a constraint's
    // _constraints): the budget grows to 1 root + 2 present families,
    // NOT to an exists+list pair per family per verb
    val vDel = Snapshots.deleteWhere(spark, tbl, col("id") === 1L)
    Snapshots.addConstraint(spark, tbl, "id_nn", "id IS NOT NULL")
    val head = Snapshots.latestVersion(spark, tbl).get
    val (n1, m1, l1) = counted(Snapshots.readAsOf(spark, tbl, head).count())
    assert(n1 == 2L && vDel > v0)
    assert(m1 == 1L, s"sidecarred readAsOf took $m1 manifest reads, budget 1")
    assert(l1 == 3L,
      s"sidecarred readAsOf took $l1 sidecar listings, budget 3 " +
        "(root + _dv + _constraints)")
  }

  test("copy-on-write DML lists only the sidecar families it reads: a " +
    "CHECK constraint adds no listing to deleteWhere") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listcount.impl", classOf[ListCountFs].getName)
    // a table with a deletion vector, and its twin with a constraint too
    def dvTable(constrained: Boolean): String = {
      val tbl = "listcount://" + freshTable()
      Snapshots.commit(spark,
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1),
        tbl, append = false)
      Snapshots.deleteWhere(spark, tbl, col("id") === 1L)
      if (constrained)
        Snapshots.addConstraint(spark, tbl, "id_nn", "id IS NOT NULL")
      tbl
    }
    def deleteListings(tbl: String): Long = {
      val l0 = ListCountFs.listings.get
      Snapshots.deleteWhere(spark, tbl, col("id") === 2L)
      ListCountFs.listings.get - l0
    }
    val plain = deleteListings(dvTable(constrained = false))
    val constrained = deleteListings(dvTable(constrained = true))
    assert(plain <= 10L,
      s"deleteWhere made $plain listStatus calls on a DV table, budget 10")
    assert(constrained == plain,
      s"deleteWhere made $constrained listStatus calls on a DV+constraint " +
        s"table against $plain on a DV-only one")
  }

  private def listCountTable(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listcount.impl", classOf[ListCountFs].getName)
    "listcount://" + freshTable()
  }

  test("the no-equality-delete fast path: eqGovernedAt makes one exists " +
    "call and no listing, and resolveSidecars touches nothing of _eq") {
    val tbl = listCountTable()
    val v = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), tbl,
      append = false)
    Snapshots.deleteWhere(spark, tbl, col("id") === 1L)
    val head = Snapshots.latestVersion(spark, tbl).get
    val (governed, calls) =
      ListCountFs.during(Snapshots.eqGovernedAt(spark, tbl, head))
    assert(!governed && head > v)
    assert(calls == Seq(s"exists ${new HPath(tbl).toUri.getPath}/_eq"),
      s"eqGovernedAt on a table with no _eq made: $calls")
    val (gens, rcalls) =
      ListCountFs.during(Snapshots.resolveSidecars(spark, tbl, head))
    assert(gens.dv.nonEmpty)
    assert(!rcalls.exists(_.contains("/_eq")),
      s"resolveSidecars on a table with no _eq touched it: $rcalls")
    assert(!rcalls.exists(_.startsWith("open")),
      s"resolveSidecars on a table with no _eq opened a file: $rcalls")
  }

  test("a write verb resolves its sidecars once: a warm updateWhere on " +
    "a plain, clustered or bloom table and a clustered mergeInto read " +
    "the manifest twice and probe no mapping or index root") {
    def table(layout: (String, org.apache.spark.sql.DataFrame) => Long)
        : String = {
      val tbl = listCountTable()
      layout(tbl, (1L to 12L).map(i => (i, s"v$i", i * 10L))
        .toDF("id", "v", "amt").repartitionByRange(4, col("id")))
      tbl
    }
    val plain = table((t, df) => Snapshots.commit(spark, df, t,
      append = false))
    val clustered = table((t, df) => Snapshots.commitClustered(spark, df,
      t, "id", numFiles = 4, append = false))
    val bloom = table((t, df) => Snapshots.commitBloom(spark, df, t, "id",
      append = false))
    def update(tbl: String)(amt: Long): Long =
      Snapshots.updateWhere(spark, tbl, col("id") === 5L,
        Seq("amt" -> lit(amt)))
    def merge(tbl: String)(amt: Long): Long =
      Snapshots.mergeInto(spark, tbl, Seq((5L, amt)).toDF("sid", "samt"),
        col("t.id") === col("s.sid"),
        Seq(Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt")))))
    Seq(("plain updateWhere", plain, update(plain) _),
      ("clustered updateWhere", clustered, update(clustered) _),
      ("bloom updateWhere", bloom, update(bloom) _),
      ("clustered mergeInto", clustered, merge(clustered) _)).foreach {
      case (name, tbl, verb) =>
        verb(1L) // warms the memos
        val m0 = Snapshots.manifestReads.get
        val (_, calls) = ListCountFs.during(verb(2L))
        val m = Snapshots.manifestReads.get - m0
        assert(m == 2L, s"$name read the manifest $m times: $calls")
        val path = new HPath(tbl).toUri.getPath
        val probed = Seq("_colmap", "_stats", "_bloom")
          .filter(f => calls.contains(s"exists $path/$f"))
        assert(probed.isEmpty, s"$name probed $probed: $calls")
        assert(Snapshots.readAsOf(spark, tbl,
          Snapshots.latestVersion(spark, tbl).get)
          .filter(col("id") === 5L).select("amt").as[Long].head() == 2L)
    }
  }

  test("readMorAsOf over a two-sync lineage lists _eq once and the " +
    "manifest directory once") {
    val tbl = listCountTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1),
      tbl, append = false)
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((4L, "d")).toDF("id", "v"),
      tombstones = Seq(1L, 4L).toDF("id"), keyCols = Seq("id"))
    val v2 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b2")).toDF("id", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"))
    val (face, calls) = ListCountFs.during(
      Snapshots.readMorAsOf(spark, tbl, v2, Seq("id")))
    val lists = calls.filter(_.startsWith("list "))
    val eqLists = lists.count(_.endsWith("/_eq"))
    val genLists = lists.count(_.endsWith("/_versions"))
    assert(eqLists == 1, s"readMorAsOf listed _eq $eqLists times: $lists")
    assert(genLists == 1,
      s"readMorAsOf listed the manifest directory $genLists times: $lists")
    assert(face.select("id", "v").as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c", 4L -> "d"))
  }

  test("countAsOf and scanRangeAsOf stay inside the same budget — the " +
    "stats scan's happy path reads the manifest ZERO times") {
    val tbl = freshTable()
    val v = Snapshots.commitClustered(spark,
      (1L to 100L).map(i => (i, s"r$i")).toDF("k", "v"),
      tbl, "k", numFiles = 4, append = false)
    val (c, mc, lc) = counted(Snapshots.countAsOf(spark, tbl, v))
    assert(c == 100L)
    assert(mc == 1L, s"countAsOf took $mc manifest reads, budget 1")
    assert(lc == 1L, s"countAsOf took $lc sidecar listings, budget 1")
    // the stats sidecar admits the files; the manifest never opens
    val (rows, mr, lr) = counted(
      Snapshots.scanRangeAsOf(spark, tbl, v, "k", 10L, 20L).count())
    assert(rows == 11L)
    assert(mr == 0L,
      s"scanRangeAsOf(non-empty) took $mr manifest reads, budget 0")
    assert(lr <= 2L,
      s"scanRangeAsOf took $lr sidecar listings, budget 2 (colmap guard " +
        "+ combined resolution root)")
  }

  test("manifest rows collected are bounded by the QUERIED generation, " +
    "not the history — the O(versions × files) full-history collect " +
    "is gone from every read verb") {
    val tbl = freshTable()
    // a deep history: 12 single-file append generations, so generation
    // v carries v+1 files and the WHOLE manifest holds Σ(v+1) = 78
    // rows — an unbounded reader would collect all 78 per verb
    var head = Snapshots.commit(spark,
      Seq((0L, "r0")).toDF("id", "v").coalesce(1), tbl,
      append = false, ts = Some(0L))
    (1L to 11L).foreach { i =>
      head = Snapshots.commit(spark,
        Seq((i, s"r$i")).toDF("id", "v").coalesce(1), tbl,
        append = true, ts = Some(i))
    }
    val headFiles = 12L
    val historyRows = (1L to 12L).sum // 78

    val ((), latestRows) = rowsCounted {
      assert(Snapshots.latestVersion(spark, tbl).contains(head)); ()
    }
    assert(latestRows == 0L,
      s"latestVersion collected $latestRows manifest rows — the head " +
        "must resolve from the directory listing alone")

    // UPPER bounds since r21: the status-keyed generation memo can
    // answer a repeat of an already-read generation with ZERO rows
    // collected — the budget contract (never the history) holds either
    // way
    val (n, readRows) = rowsCounted(
      Snapshots.readAsOf(spark, tbl, head).count())
    assert(n == 12L)
    assert(readRows <= headFiles,
      s"readAsOf(head) collected $readRows manifest rows over a " +
        s"$historyRows-row history — budget: the generation's own " +
        s"$headFiles")

    val (c, countRows) = rowsCounted(Snapshots.countAsOf(spark, tbl, head))
    assert(c == 12L)
    assert(countRows <= headFiles,
      s"countAsOf(head) collected $countRows manifest rows, budget " +
        s"$headFiles")

    // an OLD generation's read is bounded by ITS file count, not the
    // head's and not the history's
    val (c3, oldRows) = rowsCounted(Snapshots.countAsOf(spark, tbl, 2L))
    assert(c3 == 3L)
    assert(oldRows <= 3L,
      s"countAsOf(v2) collected $oldRows manifest rows, budget 3")

    // the timeline verb collects one row per GENERATION (the distinct
    // runs in the executors), never the per-file fan-out
    val (vAt, tsRows) = rowsCounted(Snapshots.versionAt(spark, tbl, 5L))
    assert(vAt == 5L)
    assert(tsRows == 12L,
      s"versionAt collected $tsRows manifest rows, budget 12 (one per " +
        "generation)")

    // an append COMMIT reads its rebase parent's generation (and the
    // stats-free publish tail), never the history
    val (_, commitRows) = rowsCounted(
      Snapshots.commit(spark, Seq((99L, "z")).toDF("id", "v").coalesce(1),
        tbl, append = true, ts = Some(99L)))
    assert(commitRows <= 2L * headFiles,
      s"an append commit collected $commitRows manifest rows over a " +
        s"$historyRows-row history — budget 2×${headFiles} (rebase " +
        "parent + publish tail)")
  }

  test("partition scans AS OF stay inside the per-generation rows " +
    "budget") {
    val tbl = freshTable()
    val df = (1L to 40L).map(i => (i, s"d${i % 4}")).toDF("id", "day")
    val v0 = Snapshots.commitPartitioned(spark, df, tbl, "day",
      append = false)
    (1 to 5).foreach { i =>
      Snapshots.commitPartitioned(spark,
        Seq((100L + i, "d1")).toDF("id", "day"), tbl, "day", append = true)
    }
    val head = Snapshots.latestVersion(spark, tbl).get
    val headFileCount =
      Snapshots.readAsOf(spark, tbl, head).inputFiles.length.toLong
    val (n, rows) = rowsCounted(
      Snapshots.scanPartitionAsOf(spark, tbl, head, "day", "d1").count())
    assert(n == 15L && v0 == 0L)
    // ≤ since r21: the status-keyed generation memo can answer a
    // generation the commits already read with ZERO rows collected
    assert(rows <= headFileCount,
      s"scanPartitionAsOf collected $rows manifest rows, budget " +
        s"$headFileCount (the head generation's own files)")
  }

  test("the interval verbs resolve BOTH endpoints from one manifest " +
    "read and one DV family listing") {
    val tbl = freshTable()
    val v0 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"),
      tbl, append = true)
    val v2 = Snapshots.deleteWhere(spark, tbl, col("id") === 2L)
    val (changes, m, l) = counted(
      Snapshots.readChangesBetween(spark, tbl, v0, v2)
        .select(col("change"), col("id")).as[(String, Long)]
        .collect().toSet)
    assert(changes == Set(("+", 3L), ("-", 2L)))
    assert(m == 1L, s"readChangesBetween took $m manifest reads, budget 1")
    // the combined resolution's root + dv listings: both endpoints'
    // DV sets come from the one dv listing
    assert(l <= 2L,
      s"readChangesBetween took $l sidecar listings, budget 2")
  }

  /** (result, manifest FILES opened) around `body`. */
  private def opensCounted[T](body: => T): (T, Long) = {
    val o0 = Snapshots.manifestFilesOpened.get
    val r = body
    (r, Snapshots.manifestFilesOpened.get - o0)
  }

  test("manifest checkpoint: timeline reads open 1 + (commits since " +
    "the checkpoint) manifest files — CONSTANT-bounded as the history " +
    "grows; vacuum stays correct with no checkpoint rewrite") {
    val tbl = freshTable()
    spark.conf.set("graft.manifest.checkpointInterval", "8")
    try {
      var head = Snapshots.commit(spark,
        Seq((0L, "r0")).toDF("id", "v").coalesce(1), tbl,
        append = false, ts = Some(0L))
      (1L to 19L).foreach { i =>
        head = Snapshots.commit(spark,
          Seq((i, s"r$i")).toDF("id", "v").coalesce(1), tbl,
          append = false, ts = Some(i), derivedFrom = Some(head))
      }
      assert(Snapshots.lastCheckpointVersion(spark, tbl).contains(16L),
        "the 16th commit must roll a checkpoint (interval 8)")
      val (vAt, opens1) = opensCounted(Snapshots.versionAt(spark, tbl, 5L))
      assert(vAt == 5L)
      assert(opens1 == 1L + 3L,
        s"versionAt opened $opens1 manifest files with the checkpoint " +
          "at v16 and 3 newer generations — budget 4")
      // DOUBLE the history: the budget must not grow with it
      (20L to 39L).foreach { i =>
        head = Snapshots.commit(spark,
          Seq((i, s"r$i")).toDF("id", "v").coalesce(1), tbl,
          append = false, ts = Some(i), derivedFrom = Some(head))
      }
      assert(Snapshots.lastCheckpointVersion(spark, tbl).contains(32L))
      val (vAt2, opens2) = opensCounted(Snapshots.versionAt(spark, tbl, 5L))
      assert(vAt2 == 5L)
      assert(opens2 == 1L + 7L,
        s"versionAt opened $opens2 manifest files at 40 generations — " +
          "budget 8 (checkpoint at v32 + 7 newer), NOT 40 footers")
      // the answers are checkpoint-invariant across the whole timeline
      assert(Snapshots.versionAt(spark, tbl, 33L) == 33L)
      assert(Snapshots.readAsOfTimestamp(spark, tbl, 10L)
        .select("id").as[Long].head() == 10L)
      // vacuum swaps the manifest dir whole (checkpoint + pointer go
      // with it) and the READ PATH survives on the fallback: expired
      // generations vanish from the timeline, retained ones answer
      Snapshots.vacuum(spark, tbl, keepFrom = 35L)
      assert(Snapshots.versionAt(spark, tbl, 37L) == 37L)
      intercept[IllegalArgumentException] {
        Snapshots.versionAt(spark, tbl, 5L) // every admissible gen expired
      }
      assert(Snapshots.readAsOf(spark, tbl, head)
        .select("id").as[Long].head() == 39L)
      // the next interval-th commit re-rolls a fresh checkpoint
      head = Snapshots.commit(spark,
        Seq((40L, "r40")).toDF("id", "v").coalesce(1), tbl,
        append = false, ts = Some(40L), derivedFrom = Some(head))
      assert(Snapshots.lastCheckpointVersion(spark, tbl).contains(40L),
        "v40 (interval 8) must re-checkpoint after the vacuum dropped " +
          "the old one")
      val (vAt4, opens4) = opensCounted(Snapshots.versionAt(spark, tbl, 40L))
      assert(vAt4 == 40L && opens4 == 1L,
        s"post-re-checkpoint versionAt opened $opens4 files, budget 1")
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }

  test("metadata-plane soak: a 200-generation table answers head, " +
    "deep-history and timeline verbs inside budgets CONSTANT in the " +
    "history length — listings, file opens, rows collected, sidecar " +
    "listings all pinned") {
    val tbl = freshTable()
    // default checkpoint interval (16) — the production shape
    var head = Snapshots.commit(spark,
      Seq((0L, "r0")).toDF("id", "v").coalesce(1), tbl,
      append = false, ts = Some(0L))
    (1L to 199L).foreach { i =>
      head = Snapshots.commit(spark,
        Seq((i, s"r$i")).toDF("id", "v").coalesce(1), tbl,
        append = false, ts = Some(i), derivedFrom = Some(head))
    }
    assert(head == 199L)
    assert(Snapshots.lastCheckpointVersion(spark, tbl).contains(192L))
    def fullBudget[T](body: => T): (T, Long, Long, Long, Long) = {
      val (d0, o0, r0, s0) = (Snapshots.manifestDirListings.get,
        Snapshots.manifestFilesOpened.get,
        Snapshots.manifestRowsCollected.get,
        Snapshots.sidecarListings.get)
      val r = body
      (r, Snapshots.manifestDirListings.get - d0,
        Snapshots.manifestFilesOpened.get - o0,
        Snapshots.manifestRowsCollected.get - r0,
        Snapshots.sidecarListings.get - s0)
    }
    // head resolution: one listing, ZERO files opened, ZERO rows
    val (h, dl, fo, rc, sl) = fullBudget(
      Snapshots.latestVersion(spark, tbl))
    assert(h.contains(199L))
    assert(dl == 1L && fo == 0L && rc == 0L && sl == 0L,
      s"latestVersion budget: listings=$dl opens=$fo rows=$rc " +
        s"sidecars=$sl — expected 1/0/0/0")
    // a HEAD read: 1 listing lap + AT MOST 1 gen file + its own rows +
    // 1 root sidecar listing (≤ since r21: the status-keyed generation
    // memo answers a re-read of a generation some commit's
    // reconciliation already opened with ZERO opens)
    val (n1, dl1, fo1, rc1, sl1) = fullBudget(
      Snapshots.readAsOf(spark, tbl, 199L).count())
    assert(n1 == 1L)
    assert(dl1 <= 2L && fo1 <= 1L && rc1 <= 1L && sl1 == 1L,
      s"readAsOf(head) budget: listings=$dl1 opens=$fo1 rows=$rc1 " +
        s"sidecars=$sl1 — expected ≤2/≤1/≤1/1 on a 200-generation table")
    // a DEEP-HISTORY read (v1): the SAME budget — depth is free
    val (n2, dl2, fo2, rc2, sl2) = fullBudget(
      Snapshots.readAsOf(spark, tbl, 1L).count())
    assert(n2 == 1L)
    assert(dl2 <= 2L && fo2 <= 1L && rc2 <= 1L && sl2 == 1L,
      s"readAsOf(v1) budget: listings=$dl2 opens=$fo2 rows=$rc2 " +
        s"sidecars=$sl2 — expected ≤2/≤1/≤1/1: reading 200 versions " +
        "deep must cost the same as reading the head")
    // the TIMELINE verb: checkpoint + ≤ interval newer gen files; rows
    // one per generation (that is the verb's answer), opens constant
    val (vAt, dl3, fo3, rc3, _) = fullBudget(
      Snapshots.versionAt(spark, tbl, 100L))
    assert(vAt == 100L)
    assert(fo3 == 1L + 7L,
      s"versionAt opened $fo3 manifest files on a 200-generation " +
        "table — budget 8 (one checkpoint + 7 post-checkpoint gens)")
    assert(dl3 == 1L && rc3 <= 200L + 16L,
      s"versionAt budget: listings=$dl3 rows=$rc3 — one listing, one " +
        "row per generation (never the per-file fan-out)")
    // the same reads, and the full-history ones, run no Spark job
    Seq[(String, () => Any)](
      "latestVersion" -> (() => Snapshots.latestVersion(spark, tbl)),
      "versionAt" -> (() => Snapshots.versionAt(spark, tbl, 100L)),
      "manifest()" -> (() => Snapshots.manifest(spark, tbl).collect()),
      "tableHistory" -> (() => Snapshots.tableHistory(spark, tbl).collect())
    ).foreach { case (what, read) =>
      val (_, jobs) = jobsDuring(read())
      assert(jobs == 0, s"$what ran $jobs Spark job(s) on a " +
        "200-generation table")
    }
  }

  test("full-history manifest() is served by the generation memo: a " +
    "repeat read opens ZERO files, history growth re-reads only the " +
    "new generation, and a vacuum swap invalidates wholesale") {
    val tbl = freshTable()
    var head = Snapshots.commit(spark,
      Seq((0L, "r0")).toDF("id", "v").coalesce(1), tbl,
      append = false, ts = Some(0L))
    (1L to 9L).foreach { i =>
      head = Snapshots.commit(spark,
        Seq((i, s"r$i")).toDF("id", "v").coalesce(1), tbl,
        append = false, ts = Some(i), derivedFrom = Some(head))
    }
    // warm pass (commits themselves memoized some generations; the
    // exact split is not the contract — the REPEAT budget is)
    val all = Snapshots.manifest(spark, tbl).collect()
    assert(all.map(_.getLong(0)).distinct.sorted.toSeq == (0L to 9L))
    val (again, o1) = opensCounted(Snapshots.manifest(spark, tbl).collect())
    assert(again.length == all.length &&
      again.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        all.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq,
      "repeat full-history read must answer the same rows")
    assert(o1 == 0L,
      s"repeat full-history manifest() opened $o1 files — the " +
        "generation memo must serve all of them")
    // one more commit: only ITS generation is newly read
    head = Snapshots.commit(spark,
      Seq((10L, "r10")).toDF("id", "v").coalesce(1), tbl,
      append = false, ts = Some(10L), derivedFrom = Some(head))
    val (grown, o2) = opensCounted(Snapshots.manifest(spark, tbl).collect())
    assert(grown.map(_.getLong(0)).max == 10L)
    assert(o2 <= 1L,
      s"post-commit full-history manifest() opened $o2 files — only " +
        "the new generation may miss the memo")
    // vacuum swaps the manifest dir whole: every surviving generation
    // file is REWRITTEN (new status), so the memo must re-read them
    // all rather than serve the pre-vacuum rows
    Snapshots.vacuum(spark, tbl, keepFrom = 8L)
    val (kept, o3) = opensCounted(Snapshots.manifest(spark, tbl).collect())
    assert(kept.map(_.getLong(0)).distinct.sorted.toSeq == (8L to 10L),
      "post-vacuum manifest must carry exactly the retained versions")
    assert(o3 == 3L,
      s"post-vacuum manifest() opened $o3 files — the swap mints new " +
        "statuses, so all 3 retained generations re-read (never stale)")
  }

  test("metadata memo overflow evicts LRU, not wholesale: the hot " +
    "working set stays warm past the cap and answers stay correct") {
    // one real artifact, distinct derivation tags — each (tag, status)
    // is its own memo entry, so tags alone overflow the 8192 cap
    val dir = Files.createTempDirectory("memo_lru_")
    val fPath = dir.resolve("artifact").toString
    Files.writeString(dir.resolve("artifact"), "x")
    val p = new org.apache.hadoop.fs.Path(s"file:$fPath")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var computes = 0
    def read(i: Int): String =
      Snapshots.memoizedMeta(f, p, s"lru_t$i") { computes += 1; s"v$i" }
    val n = 9500 // > the 8192 cap: forces evictions
    (0 until n).foreach(i => assert(read(i) == s"v$i"))
    assert(computes == n)
    // the RECENT window must still be warm: under the former wholesale
    // clear() the cap crossing emptied everything and this window
    // would recompute (a full re-read storm on a live driver)
    val recomputesBefore = computes
    ((n - 4000) until n).foreach(i => assert(read(i) == s"v$i"))
    assert(computes == recomputesBefore,
      s"recent-window re-access recomputed ${computes - recomputesBefore}" +
        " entries — LRU eviction must keep the hot set warm past the cap")
    // the OLDEST entries were evicted and recompute correctly
    assert(read(0) == "v0")
    assert(computes == recomputesBefore + 1)
  }
}
