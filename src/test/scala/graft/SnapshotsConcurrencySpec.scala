package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, ExecutionException,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath,
  RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ConcurrentCommitException, Snapshots}

/** Multi-writer commit reconciliation (the commit-class contract on
  * [[Snapshots]]' scaladoc): racing APPENDS all land in the final head
  * (publish-time rebase + corrective laps), DERIVED verbs racing the
  * head refuse loudly with the retry-able
  * [[ConcurrentCommitException]] and retract what they staged, and the
  * manifest records each generation's lineage parent so a successor
  * that SAW a commit is distinguishable from a racer that did not.
  * The window interleavings that threads cannot hit deterministically
  * are driven through the `private[graft]` publish seams with the
  * stale `observed`/`derivedFrom` a racer would really hold. */
class SnapshotsConcurrencySpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val p = Files.createTempDirectory("snap_conc_").toString + "/tbl"
    Snapshots.init(spark, p)
    p
  }

  private val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

  /** Stage a single parquet data file under the table root the way an
    * in-flight committer's write step does, returning the manifest
    * rows [[Snapshots.publishAppend]]/[[Snapshots.publishDerived]]
    * take. */
  private def staged(
      tbl: String,
      tag: String,
      df: DataFrame): Seq[Snapshots.DataFile] = {
    val dir = s"$tbl/data/$tag"
    df.coalesce(1).write.parquet(dir)
    val fs = new java.io.File(dir).listFiles
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(fs.length == 1, s"expected one staged file, got ${fs.length}")
    Seq(Snapshots.DataFile(fs.head.getAbsolutePath, None, Some(df.count())))
  }

  private def headValues(tbl: String): Set[String] = {
    val head = Snapshots.latestVersion(spark, tbl).get
    Snapshots.readAsOf(spark, tbl, head)
      .select($"v").as[String].collect().toSet
  }

  test("two racing appends: the final head carries BOTH racers' rows") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false)
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(tag: String) = pool.submit(new Callable[Long] {
      def call(): Long = {
        gate.await(10, TimeUnit.SECONDS)
        Snapshots.commit(spark, Seq((10L, tag)).toDF("id", "v"), tbl,
          append = true)
      }
    })
    val (fa, fb) = (racer("ra"), racer("rb"))
    gate.countDown()
    val (va, vb) = (fa.get(120, TimeUnit.SECONDS),
      fb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(va != vb, s"racing appends minted the same version $va")
    // whichever interleaving the scheduler produced — clean stack,
    // rebase, or a corrective lap — no racer's rows may be missing
    // from the head
    assert(headValues(tbl) == Set("a", "b", "ra", "rb"),
      "the losing racer's rows vanished from the head")
  }

  test("checkpoints under RACING appends: rolls fire mid-race from " +
    "whichever committer crosses the interval, no row is lost, and " +
    "the checkpointed timeline answers AS OF exactly") {
    val tbl = freshTable()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    try {
      Snapshots.commit(spark, base, tbl, append = false, ts = Some(0L))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      def racer(tag: String, n: Int) = pool.submit(new Callable[Long] {
        def call(): Long = {
          gate.await(10, TimeUnit.SECONDS)
          (1 to n).map { i =>
            Snapshots.retryOnConflict() {
              Snapshots.commit(spark,
                Seq((100L + i, s"$tag$i")).toDF("id", "v"), tbl,
                append = true, ts = Some(50L))
            }
          }.last
        }
      })
      val (fa, fb) = (racer("x", 6), racer("y", 6))
      gate.countDown()
      fa.get(240, TimeUnit.SECONDS); fb.get(240, TimeUnit.SECONDS)
      pool.shutdown()
      // 12 appends + base: every row present however the race went
      val expect: Set[String] =
        Set("a", "b") ++ (1 to 6).flatMap(i => Seq(s"x$i", s"y$i"))
      val got = headValues(tbl)
      if (got != expect) {
        // DIAGNOSTIC dump: the full manifest timeline + per-file tags
        val m = Snapshots.manifest(spark, tbl)
          .select($"version", $"file", $"parent")
          .as[(Long, String, Option[Long])].collect().sortBy(_._1)
        m.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, rows) =>
          val tags = rows.map(_._2).distinct.map { f =>
            spark.read.parquet(f).select($"v").as[String]
              .collect().mkString("+")
          }
          println(s"GEN v$v parent=${rows.head._3} files=${rows.length} tags=${tags.sorted.mkString(",")}")
        }
      }
      assert(got == expect,
        "a racer's rows vanished under checkpointing")
      // at least one interval boundary was crossed mid-race
      assert(Snapshots.lastCheckpointVersion(spark, tbl).isDefined,
        "no checkpoint rolled across >= 12 generations at interval 4")
      // the checkpointed timeline resolves both eras
      val head = Snapshots.latestVersion(spark, tbl).get
      assert(Snapshots.versionAt(spark, tbl, 50L) == head)
      assert(Snapshots.versionAt(spark, tbl, 0L) == 0L)
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }

  test("a commitOntoParent BRANCH-OVER is not a shadow: the head's " +
    "permanent interior generation admits appends and derived verbs " +
    "after the bounded wait, and the branched-over rows stay dead") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // v0: a, b
    // v1: committed but never pinned by any catalog reader (the torn
    // multi-table commit's dangling half)
    Snapshots.commit(spark, Seq((7L, "torn")).toDF("id", "v"),
      tbl, append = true)
    // the convergence verb BRANCHES OVER v1: v2's lineage parent is v0
    val v2 = Snapshots.commitOntoParent(spark,
      Seq((8L, "retry")).toDF("id", "v"), tbl, parent = Some(0L))
    assert(v2 == 2L)
    // a plain append must rebase on the branch-over head (not spin on
    // its interior generation), carrying exactly v2's face
    val v3 = Snapshots.commit(spark, Seq((9L, "next")).toDF("id", "v"),
      tbl, append = true)
    assert(v3 == 3L)
    assert(headValues(tbl) == Set("a", "b", "retry", "next"),
      "the branched-over generation's rows stay dead; the append lands")
    // a derived verb over the branch-over lineage works too
    Snapshots.deleteWhere(spark, tbl, col("id") === 8L)
    assert(headValues(tbl) == Set("a", "b", "next"))
  }

  test("mixed verbs racing under checkpoint rolls: appends and " +
    "DV deletes from two threads converge to the exact face — no row " +
    "lost, none resurrected, every delete applied") {
    val tbl = freshTable()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    try {
      Snapshots.commit(spark,
        (1L to 8L).map(i => (i, s"base$i")).toDF("id", "v"),
        tbl, append = false, ts = Some(0L))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      // thread A: 6 appends; thread B: 3 appends interleaved with 3
      // DV deletes of base rows — the derived verb racing the appends
      val fa = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          gate.await(10, TimeUnit.SECONDS)
          (1 to 6).foreach { i =>
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.commit(spark,
                Seq((100L + i, s"x$i")).toDF("id", "v"), tbl,
                append = true, ts = Some(50L))
            }
          }
        }
      })
      val fb = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          gate.await(10, TimeUnit.SECONDS)
          (1 to 3).foreach { i =>
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.commit(spark,
                Seq((200L + i, s"y$i")).toDF("id", "v"), tbl,
                append = true, ts = Some(50L))
            }
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.deleteWhere(spark, tbl, col("id") === i.toLong)
            }
          }
        }
      })
      gate.countDown()
      fa.get(300, TimeUnit.SECONDS); fb.get(300, TimeUnit.SECONDS)
      pool.shutdown()
      val expect: Set[String] =
        ((4L to 8L).map(i => s"base$i") ++
          (1 to 6).map(i => s"x$i") ++ (1 to 3).map(i => s"y$i")).toSet
      assert(headValues(tbl) == expect,
        "the mixed race must land every append and apply every delete")
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }

  test("copy-on-write verbs racing appends under checkpoint rolls: " +
    "updateWhere and commitReplaceWhere retry to the exact face") {
    val tbl = freshTable()
    spark.conf.set("graft.manifest.checkpointInterval", "4")
    try {
      Snapshots.commit(spark,
        (1L to 8L).map(i => (i, s"base$i")).toDF("id", "v"),
        tbl, append = false, ts = Some(0L))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val fa = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          gate.await(10, TimeUnit.SECONDS)
          (1 to 6).foreach { i =>
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.commit(spark,
                Seq((100L + i, s"x$i")).toDF("id", "v"), tbl,
                append = true, ts = Some(50L))
            }
          }
        }
      })
      // thread B: per round, update one base row and replace another
      val fb = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          gate.await(10, TimeUnit.SECONDS)
          (1 to 3).foreach { i =>
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.updateWhere(spark, tbl, col("id") === i.toLong,
                Seq("v" -> lit(s"u$i")))
            }
            Snapshots.retryOnConflict(maxAttempts = 12) {
              Snapshots.commitReplaceWhere(spark, tbl,
                Seq((4L + i, s"r$i")).toDF("id", "v"),
                col("id") === 4L + i)
            }
          }
        }
      })
      gate.countDown()
      fa.get(300, TimeUnit.SECONDS); fb.get(300, TimeUnit.SECONDS)
      pool.shutdown()
      val expect: Set[String] =
        ((1 to 3).map(i => s"u$i") ++ Seq("base4") ++
          (1 to 3).map(i => s"r$i") ++ Seq("base8") ++
          (1 to 6).map(i => s"x$i")).toSet
      val head = Snapshots.latestVersion(spark, tbl).get
      val rows = Snapshots.readAsOf(spark, tbl, head)
        .select($"v").as[String].collect()
      assert(rows.toSet == expect && rows.length == expect.size,
        s"the race must land every append and every rewrite exactly " +
          s"once, got ${rows.sorted.mkString(",")}")
    } finally spark.conf.unset("graft.manifest.checkpointInterval")
  }

  test("stale-observed append REBASES onto the actual head at publish " +
    "time — the racer that published first loses nothing") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // v0
    // the racer: observed v0 too, already published its append as v1
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"), tbl,
      append = true)
    // our append also observed v0 before the racer landed (the stale
    // head a real race window produces), files already written
    val freshDf = Seq((4L, "d")).toDF("id", "v")
    val fresh = staged(tbl, "late", freshDf)
    val claimed = Snapshots.claimVersion(spark, tbl, 2L)
    val v = Snapshots.publishAppend(spark, tbl, claimed, fresh,
      Some(0L), freshDf.schema, None)
    assert(Snapshots.latestVersion(spark, tbl).contains(v))
    assert(headValues(tbl) == Set("a", "b", "c", "d"),
      "rebase must union the racer's append with ours")
    // lineage: our generation records the REBASED parent (the racer's
    // version), not the stale observed one
    val parent = Snapshots.manifest(spark, tbl)
      .filter(col("version") === v).select(col("parent"))
      .distinct().as[Long].collect().toSeq
    assert(parent == Seq(1L), s"rebased append must record parent 1, got $parent")
  }

  test("derived commit from a stale head refuses loudly and retracts " +
    "its staged sidecar — nothing ungoverned ever governs") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // v0
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"), tbl,
      append = true) // v1 — the commit our derived racer never saw
    val v0File = Snapshots.manifest(spark, tbl)
      .filter(col("version") === 0L).select(col("file"))
      .as[String].head()
    val fresh = staged(tbl, "stale", Seq((9L, "z")).toDF("id", "v"))
    val claimed = Snapshots.claimVersion(spark, tbl, 2L)
    // the deleteWhere shape: the version-keyed DV sidecar lands BEFORE
    // the publish — against a LIVE v0 file, so an unretracted sidecar
    // would really delete rows from every later read
    Seq((v0File, 0L)).toDF("file", "row_index")
      .coalesce(1).write.parquet(s"$tbl/_dv/v$claimed")
    val e = intercept[ConcurrentCommitException] {
      Snapshots.publishDerived(spark, tbl, claimed, fresh,
        base.schema.json, None, 0L, "merge")
    }
    assert(e.getMessage.contains("re-read and retry"))
    assert(Snapshots.latestVersion(spark, tbl).contains(1L),
      "a refused derived commit must not move the head")
    assert(!new java.io.File(s"$tbl/_dv/v$claimed").exists,
      "the refusal must retract the staged deletion-vector sidecar")
    // the retracted DV must not govern a later commit's reads
    Snapshots.commit(spark, Seq((5L, "e")).toDF("id", "v"), tbl,
      append = true)
    assert(headValues(tbl) == Set("a", "b", "c", "e"),
      "a retracted sidecar deleted rows from a committed read")
  }

  test("two racing merges: serial lineage when they stack, otherwise " +
    "exactly one winner and a loud retry-able loser") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false)
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(update: (Long, String)) = pool.submit(
      new Callable[Long] {
        def call(): Long = {
          gate.await(10, TimeUnit.SECONDS)
          Snapshots.merge(spark, tbl,
            Seq(update).toDF("id", "v"), Seq("id"))
        }
      })
    val (fa, fb) = (racer((1L, "ax")), racer((2L, "by")))
    gate.countDown()
    def outcome(f: java.util.concurrent.Future[Long]): Either[Throwable, Long] =
      try Right(f.get(120, TimeUnit.SECONDS))
      catch { case e: ExecutionException => Left(e.getCause) }
    val (oa, ob) = (outcome(fa), outcome(fb))
    pool.shutdown()
    val wins = Seq(oa, ob).collect { case Right(v) => v }
    val losses = Seq(oa, ob).collect { case Left(t) => t }
    assert(wins.nonEmpty, s"both merges lost: $losses")
    losses.foreach(t => assert(t.isInstanceOf[ConcurrentCommitException],
      s"a losing merge must fail retry-ably, got $t"))
    val head = Snapshots.latestVersion(spark, tbl).get
    val vals = Snapshots.readAsOf(spark, tbl, head)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    if (wins.size == 2) {
      // both published: the later must have derived from the earlier
      // (serial lineage), so both updates are in the head
      assert(vals == Map(1L -> "ax", 2L -> "by"),
        s"two 'serial' merges lost an update: $vals")
      val parent = Snapshots.manifest(spark, tbl)
        .filter(col("version") === wins.max).select(col("parent"))
        .distinct().as[Long].collect().toSeq
      assert(parent == Seq(wins.min),
        s"later merge must derive from the earlier, got parent $parent")
    } else {
      assert(losses.size == 1, s"outcomes disagree: $oa / $ob")
      assert(vals == Map(1L -> "ax", 2L -> "b") ||
        vals == Map(1L -> "a", 2L -> "by"),
        s"the head must be exactly the winner's merge: $vals")
    }
  }

  test("append racing a governance change refuses: the batch was " +
    "prepared under constraints the new head replaced") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // v0
    Snapshots.addConstraint(spark, tbl, "v_nn", "v IS NOT NULL") // v1
    val freshDf = Seq((5L, "e")).toDF("id", "v")
    val fresh = staged(tbl, "gov", freshDf)
    val claimed = Snapshots.claimVersion(spark, tbl, 2L)
    val e = intercept[ConcurrentCommitException] {
      Snapshots.publishAppend(spark, tbl, claimed, fresh, Some(0L),
        freshDf.schema, None)
    }
    assert(e.getMessage.contains("governance"))
    assert(Snapshots.latestVersion(spark, tbl).contains(1L))
  }

  test("retryOnConflict closes the loop: two racing merges BOTH land " +
    "when the loser re-derives and retries — no update is ever lost") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false)
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def racer(update: (Long, String)) = pool.submit(new Callable[Long] {
      def call(): Long = {
        gate.await(10, TimeUnit.SECONDS)
        // the WHOLE derive-and-commit step is the retried body: merge
        // re-reads the head and recomputes survivors on every attempt
        Snapshots.retryOnConflict() {
          Snapshots.merge(spark, tbl,
            Seq(update).toDF("id", "v"), Seq("id"))
        }
      }
    })
    val (fa, fb) = (racer((1L, "ax")), racer((2L, "by")))
    gate.countDown()
    val (va, vb) = (fa.get(180, TimeUnit.SECONDS),
      fb.get(180, TimeUnit.SECONDS))
    pool.shutdown()
    assert(va != vb)
    val head = Snapshots.latestVersion(spark, tbl).get
    val vals = Snapshots.readAsOf(spark, tbl, head)
      .select($"id", $"v").as[(Long, String)].collect().toMap
    assert(vals == Map(1L -> "ax", 2L -> "by"),
      s"a retried merge lost an update: $vals")
    // zero attempts left = the last conflict rethrows untouched
    Snapshots.commit(spark, Seq((9L, "z")).toDF("id", "v"), tbl,
      append = true)
    val e = intercept[ConcurrentCommitException] {
      Snapshots.retryOnConflict(maxAttempts = 2) {
        // derived from a PERMANENTLY stale version: never succeeds
        Snapshots.publishDerived(spark, tbl,
          Snapshots.claimVersion(spark, tbl, 99L),
          Seq.empty, base.schema.json, None, 0L, "merge")
      }
    }
    assert(e.getMessage.contains("re-read and retry"))
  }

  test("whole-manifest maintenance refuses when a commit raced its " +
    "snapshot — the pre-swap guard, driven through its seam") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // v0
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"),
      tbl, append = true) // v1 — the commit the maintenance job missed
    // the stale-snapshot window with the observed head a real
    // vacuum/purgeKeys race would hold (both call this immediately
    // before their manifest swap; the residual check-to-swap window is
    // the documented single-maintenance-writer contract)
    val e = intercept[ConcurrentCommitException] {
      Snapshots.requireHeadUnmoved(spark, tbl, Some(0L), "vacuum")
    }
    assert(e.getMessage.contains("erased by the swap"))
    // the guard passes when the snapshot IS current, and vacuum's own
    // use of it leaves a clean run untouched
    Snapshots.requireHeadUnmoved(spark, tbl, Some(1L), "vacuum")
    Snapshots.vacuum(spark, tbl, keepFrom = 1L)
    assert(headValues(tbl) == Set("a", "b", "c"))
  }

  test("the manifest records lineage parents by commit class") {
    val tbl = freshTable()
    Snapshots.commit(spark, base, tbl, append = false) // blind replace
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"), tbl,
      append = true) // append
    Snapshots.deleteWhere(spark, tbl, col("id") === 1L) // derived
    Snapshots.commit(spark, base, tbl, append = false) // blind replace
    val parents = Snapshots.manifest(spark, tbl)
      .select(col("version"), col("parent")).distinct().collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(parents == Map(0L -> None, 1L -> Some(0L), 2L -> Some(1L),
      3L -> None), s"lineage parents wrong: $parents")
  }

  test("a full-history manifest read racing a manifest swap answers " +
    "the post-swap view, never a mix of pre- and post-swap generations") {
    import SnapshotsConcurrencySpec.SwapFs
    spark.sparkContext.hadoopConfiguration
      .set("fs.swaphook.impl", classOf[SwapFs].getName)
    val tbl = freshTable()
    Seq("a", "b", "c").zipWithIndex.foreach { case (v, i) =>
      Snapshots.commit(spark, Seq((i + 1L, v)).toDF("id", "v").coalesce(1),
        tbl, append = i > 0)
    }
    def files(m: DataFrame): Set[(Long, String)] =
      m.select(col("version"), col("file")).as[(Long, String)].collect().toSet
    // purgeKeys rewrites id 1's file in EVERY generation, under the same
    // generation file names; it lands after v0's read, before v1's
    var purged = false
    SwapFs.beforeGen1.set(() => {
      Snapshots.purgeKeys(spark, tbl, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
      purged = true
    })
    val seen =
      try files(Snapshots.manifest(spark, s"swaphook://$tbl"))
      finally SwapFs.beforeGen1.set(null)
    assert(purged, "the swap must land inside the manifest read")
    assert(seen == files(Snapshots.manifest(spark, tbl)),
      "the read mixed pre- and post-swap generations")
  }
}

object SnapshotsConcurrencySpec {
  /** The checksummed local file system under the `swaphook:` scheme;
    * the first existence probe of `gen-v1.parquet` after `beforeGen1`
    * is set runs it (and clears it) before answering. */
  class SwapFs extends LocalFileSystem(new RawLocalFileSystem {
    override def getUri: URI = URI.create("swaphook:///")
  }) {
    override def exists(p: HPath): Boolean = {
      if (p.getName == "gen-v1.parquet")
        Option(SwapFs.beforeGen1.getAndSet(null)).foreach(_.apply())
      super.exists(p)
    }
  }
  object SwapFs {
    val beforeGen1 = new AtomicReference[() => Unit]
  }
}
