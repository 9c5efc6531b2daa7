package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Snapshots
import graft.streaming.SnapshotStream

/** Equality-delete sidecars — merge-on-read upsert
  * ([[Snapshots.commitEqUpsert]] / [[Snapshots.readMorAsOf]] /
  * [[Snapshots.foldEqDeletes]]): a CDC sync commits O(batch) keyed
  * tombstones with ZERO existing files rewritten, the read resolves
  * them scoped to OLDER files only (re-upserts survive their own
  * deletes), governed faces refuse every plain verb loudly, and the
  * fold bounds tombstone volume while expiring the MOR history window
  * honestly. */
class SnapshotMorSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val p = Files.createTempDirectory("snap_mor_").toString + "/tbl"
    Snapshots.init(spark, p)
    p
  }

  private def filesOf(tbl: String, v: Long): Set[String] =
    Snapshots.generationOf(spark, tbl, v).paths.toSet

  test("commitEqUpsert is O(batch): tombstones + fresh files only, " +
    "every parent file repoints verbatim; readMorAsOf resolves " +
    "age-scoped — re-upserted keys survive their own batch's delete " +
    "and all earlier ones") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "v", "amt"),
      tbl, append = false)
    // sync 1: delete id=2, upsert id=1 (new row), insert id=4
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((1L, "a2", 11L), (4L, "d", 40L)).toDF("id", "v", "amt"),
      tombstones = Seq(1L, 2L, 4L).toDF("id"),
      keyCols = Seq("id"))
    assert(filesOf(tbl, 0L).subsetOf(filesOf(tbl, v1)),
      "an eq-upsert commit must rewrite NOTHING")
    val face1 = Snapshots.readMorAsOf(spark, tbl, v1, Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(face1 == Map(1L -> "a2", 3L -> "c", 4L -> "d"),
      s"sync 1 face wrong: $face1")
    // sync 2: re-insert id=2 — the NEWER upsert must survive sync 1's
    // tombstone (age scoping), and sync 1's row for id=1 must survive
    // a tombstone-free sync
    val v2 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b2", 21L)).toDF("id", "v", "amt"),
      tombstones = Seq(2L).toDF("id"),
      keyCols = Seq("id"))
    assert(filesOf(tbl, v1).subsetOf(filesOf(tbl, v2)))
    val face2 = Snapshots.readMorAsOf(spark, tbl, v2, Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(face2 == Map(1L -> "a2", 2L -> "b2", 3L -> "c", 4L -> "d"),
      s"sync 2 face wrong: $face2")
    // time travel WITHIN the MOR lineage serves each sync's face
    assert(Snapshots.readMorAsOf(spark, tbl, v1, Seq("id"))
      .count() == 3L)
    assert(Snapshots.readMorAsOf(spark, tbl, 0L, Seq("id"))
      .count() == 3L, "the pre-MOR base face reads plainly")
  }

  test("a tombstone-governed face REFUSES every plain verb loudly: " +
    "reads, count, copy-on-write DML, vacuum") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = spark.emptyDataset[(Long, String)].toDF("id", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"))
    def refuses(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("equality-delete") ||
        e.getMessage.contains("merge-on-read"), e.getMessage)
    }
    refuses(Snapshots.readAsOf(spark, tbl, v1).count())
    refuses(Snapshots.countAsOf(spark, tbl, v1))
    refuses(Snapshots.updateWhere(spark, tbl, col("id") === 1L,
      Seq("v" -> lit("x"))))
    refuses(Snapshots.deleteWhere(spark, tbl, col("id") === 1L))
    refuses(Snapshots.mergeInto(spark, tbl, Seq(1L).toDF("sid"),
      col("t.id") === col("s.sid"),
      Seq(Snapshots.MergeDelete(None))))
    refuses(Snapshots.vacuum(spark, tbl, keepFrom = v1))
    // the PRE-MOR version still reads plainly
    assert(Snapshots.readAsOf(spark, tbl, 0L).count() == 2L)
  }

  test("mergePartitioned refuses a tombstone-governed head before " +
    "claiming a version, like every copy-on-write verb") {
    val tbl = freshTable()
    Snapshots.commitPartitioned(spark,
      Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "p", "v"),
      tbl, "p", append = false)
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((3L, "p1", "c")).toDF("id", "p", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"),
      partCol = Some("p"))
    val e = intercept[IllegalArgumentException](
      Snapshots.mergePartitioned(spark, tbl,
        Seq((1L, "p1", "a2")).toDF("id", "p", "v"), Seq("id"), "p"))
    assert(e.getMessage.contains("mergePartitioned") &&
      e.getMessage.contains("equality-delete"), e.getMessage)
    assert(Snapshots.latestVersion(spark, tbl).contains(v1))
    // folded, the lineage takes the merge, and its MOR face still reads
    val vF = Snapshots.foldEqDeletes(spark, tbl, Seq("id"))
    val vM = Snapshots.mergePartitioned(spark, tbl,
      Seq((1L, "p1", "a2")).toDF("id", "p", "v"), Seq("id"), "p")
    assert(vM == vF + 1L)
    assert(Snapshots.readMorAsOf(spark, tbl, vM, Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 3L -> "c"))
  }

  /** A base face and two merge-on-read syncs keyed on `id`. */
  private def twoSyncLineage(): (String, Long) = {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      tbl, append = false)
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((4L, "d")).toDF("id", "v"),
      tombstones = Seq(1L, 4L).toDF("id"), keyCols = Seq("id"))
    val v2 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b2")).toDF("id", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"))
    (tbl, v2)
  }

  test("the equality-delete metadata reads run no Spark job: a cold " +
    "eqLiveKeyCols, eqStats and commitEqUpsert key check, and building " +
    "readMorAsOf over a two-sync lineage") {
    val (a, va) = twoSyncLineage()
    val (refusal, checkJobs) = jobsDuring(
      intercept[IllegalArgumentException](
        Snapshots.commitEqUpsert(spark, a,
          upserts = Seq((5L, "e")).toDF("id", "v"),
          tombstones = Seq("e").toDF("v"), keyCols = Seq("v"))))
    assert(refusal.getMessage.contains("cannot join the same"),
      refusal.getMessage)
    assert(checkJobs == 0,
      s"commitEqUpsert's key check ran $checkJobs job(s)")
    assert(Snapshots.latestVersion(spark, a).contains(va))
    val (face, buildJobs) =
      jobsDuring(Snapshots.readMorAsOf(spark, a, va, Seq("id")))
    assert(buildJobs == 0, s"building readMorAsOf ran $buildJobs job(s)")
    assert(face.select("id", "v").as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c", 4L -> "d"))

    val (b, _) = twoSyncLineage()
    val (keys, keyJobs) = jobsDuring(Snapshots.eqLiveKeyCols(spark, b))
    assert(keys.contains(Seq("id")))
    assert(keyJobs == 0, s"a cold eqLiveKeyCols ran $keyJobs job(s)")
    val (stats, statJobs) = jobsDuring(Snapshots.eqStats(spark, b))
    assert(statJobs == 0, s"eqStats ran $statJobs job(s)")
    val row = stats.select("physical_rows", "eq_tombstones", "eq_sidecars")
      .as[(Long, Long, Long)].head()
    assert(row == ((5L, 3L, 2L)), s"eqStats gauged $row")
  }

  test("foldEqDeletes materializes the MOR face copy-on-write, drops " +
    "the tombstones, and expires the fold window HONESTLY: plain " +
    "verbs serve again at and above the fold, history inside the " +
    "window refuses, pre-MOR history below it still answers") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      tbl, append = false)
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((4L, "d")).toDF("id", "v"),
      tombstones = Seq(1L, 4L).toDF("id"), keyCols = Seq("id"))
    val v2 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b2")).toDF("id", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"))
    val folded = Snapshots.foldEqDeletes(spark, tbl, Seq("id"))
    assert(folded == v2 + 1)
    // plain surface is back, face preserved
    assert(Snapshots.readAsOf(spark, tbl, folded)
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(2L -> "b2", 3L -> "c", 4L -> "d"))
    assert(Snapshots.countAsOf(spark, tbl, folded) == 3L)
    Snapshots.deleteWhere(spark, tbl, col("id") === 3L)
    // the expired window refuses BOTH read shapes (its tombstones are
    // gone — a raw answer would resurrect the deletes)
    Seq(v1, v2).foreach { v =>
      val e = intercept[IllegalArgumentException](
        Snapshots.readAsOf(spark, tbl, v).count())
      assert(e.getMessage.contains("folded away"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](
        Snapshots.readMorAsOf(spark, tbl, v, Seq("id")).count())
      assert(e2.getMessage.contains("folded away"), e2.getMessage)
    }
    // pre-MOR history below the window still serves
    assert(Snapshots.readAsOf(spark, tbl, 0L).count() == 3L)
  }

  test("the SQL catalog serves an eq-governed face through the " +
    "merge-on-read resolution — keys read off the sidecar, deleted " +
    "rows gone, no fold required; a fold-expired window keeps " +
    "refusing") {
    val root = Files.createTempDirectory("graft_morsql_").toString
    val tbl = s"$root/storage/m"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    graft.operators.Catalog.register(spark, root, "m", tbl)
    val cat = "gmorsql"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    assert(spark.sql(s"SELECT count(*) FROM $cat.m")
      .head.getLong(0) == 2L)
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((3L, "c")).toDF("id", "v"),
      tombstones = Seq(2L, 3L).toDF("id"), keyCols = Seq("id"))
    // the governed face serves from SQL at once: id=2 deleted, id=3
    // upserted (surviving its own batch's tombstone)
    assert(spark.sql(s"SELECT id FROM $cat.m ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L),
      "SQL must serve the MOR-resolved face with no fold")
    // pre-MOR time travel still serves from SQL
    assert(spark.sql(s"SELECT count(*) FROM $cat.m VERSION AS OF 0")
      .head.getLong(0) == 2L)
    // a fold expires the tombstone history: the window's versions
    // have NO servable face — the SQL scan keeps refusing loudly
    val eqV = Snapshots.latestVersion(spark, tbl).get
    Snapshots.foldEqDeletes(spark, tbl)
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.m VERSION AS OF $eqV")
        .collect()
    }
    assert(e.getMessage.contains("equality-delete") ||
      e.getMessage.contains("folded away"), e.getMessage)
    // the folded head serves as a plain face
    assert(spark.sql(s"SELECT id FROM $cat.m ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("readMorAsOf refuses a mid-lineage NON-MOR commit (its files' " +
    "age against the tombstones is unknowable)") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a")).toDF("id", "v"), tbl, append = false)
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((2L, "b")).toDF("id", "v"),
      tombstones = Seq(2L).toDF("id"), keyCols = Seq("id"))
    // a foreign append lands mid-lineage
    val v2 = Snapshots.commit(spark, Seq((9L, "z")).toDF("id", "v"),
      tbl, append = true)
    val e = intercept[IllegalArgumentException](
      Snapshots.readMorAsOf(spark, tbl, v2, Seq("id")).count())
    assert(e.getMessage.contains("mid-MOR-lineage"), e.getMessage)
  }

  test("the snapshot STREAMING source refuses an eq-governed " +
    "interval: an inserts-only feed cannot retract superseded keys") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((1L, "a2")).toDF("id", "v"),
      tombstones = Seq(1L).toDF("id"), keyCols = Seq("id"))
    val q = spark.readStream.format("graft-snapshot")
      .option("path", tbl).load()
      .writeStream.format("memory").queryName("mor_feed_refuse")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("equality-delete") ||
        Option(e.getCause).exists(_.getMessage.contains("equality-delete")),
        s"got: ${e.getMessage}")
    } finally {
      q.stop(); spark.sql("DROP VIEW IF EXISTS mor_feed_refuse")
    }
  }

  test("crash model: a crashed upsert's unpublished sidecar NEVER " +
    "governs (tombstones of a batch that never happened), reads stay " +
    "plain, removeOrphans sweeps the debris; a fold that crashed " +
    "between its replace commit and cleanup FINISHES on re-run") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    // simulate the crashed commitEqUpsert: version 1 claimed (marker),
    // sidecar written, publish never landed
    val f = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$tbl/_commits"))
    f.create(new org.apache.hadoop.fs.Path(s"$tbl/_commits/v1"), false)
      .close()
    Seq(1L).toDF("id").write.parquet(s"$tbl/_eq/v1/keys")
    spark.createDataFrame(Seq.empty[Tuple1[String]]).toDF("file")
      .write.parquet(s"$tbl/_eq/v1/fresh")
    // the replayed batch re-commits under the NEXT version
    val v2 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((3L, "c")).toDF("id", "v"),
      tombstones = Seq(3L).toDF("id"), keyCols = Seq("id"))
    assert(v2 == 2L)
    val face = Snapshots.readMorAsOf(spark, tbl, v2, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(face == Seq(1L, 2L, 3L),
      s"the crashed batch's tombstone (id=1) must NOT apply: $face")
    // ...and the debris sweeps (the live v2 sidecar survives)
    assert(Snapshots.removeOrphans(spark, tbl, olderThanMs = 0L) >= 1L)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$tbl/_eq/v1")))
    assert(Snapshots.readMorAsOf(spark, tbl, v2, Seq("id"))
      .count() == 3L, "the live sidecar must survive the sweep")

    // crashed FOLD: intent written, the replace commit landed, cleanup
    // never ran — the poisoned state where re-deriving would refuse on
    // the fold's own mid-lineage commit
    val head = Snapshots.latestVersion(spark, tbl).get
    val out = f.create(
      new org.apache.hadoop.fs.Path(s"$tbl/_eq/folding"), true)
    out.write(head.toString.getBytes("UTF-8")); out.close()
    Snapshots.commit(spark,
      Snapshots.readMorAsOf(spark, tbl, head, Seq("id")),
      tbl, append = false, derivedFrom = Some(head))
    intercept[IllegalArgumentException] {
      Snapshots.readMorAsOf(spark, tbl, head + 1, Seq("id")).count()
    }
    val folded = Snapshots.foldEqDeletes(spark, tbl, Seq("id"))
    assert(folded == head + 1,
      "the re-run must FINISH the crashed fold, not mint a new face")
    assert(Snapshots.readAsOf(spark, tbl, folded)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("upsertBatchMor resolves ts-aware against the current face: an " +
    "OLDER change arriving in a later batch never overwrites, a newer " +
    "delete sticks against late upserts, replays skip exactly-once") {
    val tbl = freshTable()
    def r(id: Long, ts: Long, v: String, op: String) =
      (id, new java.sql.Timestamp(ts * 60000L), v, op)
    Snapshots.commit(spark,
      Seq(r(1L, 100L, "base1", "u"), r(2L, 100L, "base2", "u"),
        r(3L, 100L, "base3", "u"))
        .toDF("id", "ts", "v", "op"),
      tbl, append = false)
    // batch 0: id=1 upsert at t200 (wins), id=3 DELETE at t300 (wins)
    val b0 = Seq(r(1L, 200L, "new1", "u"), r(3L, 300L, "gone", "d"))
      .toDF("id", "ts", "v", "op")
    val v1 = SnapshotStream.upsertBatchMor(spark, tbl, 0L, b0,
      keyCols = Seq("id"), tsCol = "ts").get
    // batch 1 arrives LATE with OLDER changes: id=1 at t150 (loses to
    // t200), id=3 upsert at t250 (loses to the t300 delete), id=2 at
    // t400 (wins)
    val b1 = Seq(r(1L, 150L, "stale1", "u"), r(3L, 250L, "resurrect", "u"),
      r(2L, 400L, "new2", "u")).toDF("id", "ts", "v", "op")
    val v2 = SnapshotStream.upsertBatchMor(spark, tbl, 1L, b1,
      keyCols = Seq("id"), tsCol = "ts").get
    assert(filesOf(tbl, v1).subsetOf(filesOf(tbl, v2)))
    val face = Snapshots.readMorAsOf(spark, tbl, v2, Seq("id"))
      .filter(col("op") =!= "d")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(face == Map(1L -> "new1", 2L -> "new2"),
      s"ts-aware resolution wrong: $face")
    // replayed batch id: skipped, no generation minted
    assert(SnapshotStream.upsertBatchMor(spark, tbl, 1L, b1,
      keyCols = Seq("id"), tsCol = "ts").isEmpty)
    assert(Snapshots.latestVersion(spark, tbl).contains(v2))
  }

  test("partitioned MOR: syncs keep the hive layout (zero rewrites " +
    "pinned), readMorPartitionAsOf opens ONLY the partition's files, " +
    "and the fold materializes a still-partitioned face") {
    val tbl = freshTable()
    Snapshots.commitPartitioned(spark,
      Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c"))
        .toDF("id", "p", "v"),
      tbl, "p", append = false)
    // a flat sync on a partitioned base refuses toward the layout
    val eFlat = intercept[IllegalArgumentException](
      Snapshots.commitEqUpsert(spark, tbl,
        upserts = Seq((1L, "p1", "a2")).toDF("id", "p", "v"),
        tombstones = Seq(1L).toDF("id"), keyCols = Seq("id")))
    assert(eFlat.getMessage.contains("partCol"), eFlat.getMessage)
    // sync 1: re-key id=1 in p1, delete id=3 (p2), insert id=4 in p2
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((1L, "p1", "a2"), (4L, "p2", "d"))
        .toDF("id", "p", "v"),
      tombstones = Seq(1L, 3L, 4L).toDF("id"),
      keyCols = Seq("id"), partCol = Some("p"))
    assert(filesOf(tbl, 0L).subsetOf(filesOf(tbl, v1)),
      "a partitioned eq-upsert must rewrite NOTHING")
    val face = Snapshots.readMorAsOf(spark, tbl, v1, Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(face == Map(1L -> "a2", 2L -> "b", 4L -> "d"), s"$face")
    // the partition-scoped read: answer correct AND only p2 files open
    val p2 = Snapshots.readMorPartitionAsOf(spark, tbl, v1, Seq("id"),
      "p", "p2")
    assert(p2.select("id", "v").as[(Long, String)].collect().toMap ==
      Map(4L -> "d"))
    // inputFiles also lists the _eq sidecar the anti-join reads — the
    // DATA files must all be the requested partition's
    assert(p2.inputFiles.filter(_.contains("/data/"))
      .forall(_.contains("p=p2")),
      s"partition pruning must survive the MOR lineage: " +
        s"${p2.inputFiles.toSeq}")
    // the fold keeps the layout: every materialized file re-fragments
    val vF = Snapshots.foldEqDeletes(spark, tbl, Seq("id"))
    val foldedRows = Snapshots.generationOf(spark, tbl, vF).files
      .map(d => (d.path, d.part.orNull))
    assert(foldedRows.nonEmpty && foldedRows.forall(r =>
      r._2 != null && r._2.startsWith("p=")),
      s"the fold must materialize a partitioned face: $foldedRows")
    assert(Snapshots.scanPartitionAsOf(spark, tbl, vF, "p", "p1")
      .select("id", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b"))
  }

  test("constraint-governed MOR: every sync batch runs under the " +
    "table's CHECK constraints — a violating sync refuses BY NAME " +
    "with nothing published; clean syncs and the fold compose") {
    val tbl = freshTable()
    Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"), tbl, append = false)
    Snapshots.addConstraint(spark, tbl, "amt_positive", "amt > 0")
    val base = Snapshots.latestVersion(spark, tbl).get
    // a clean sync passes under the constraint
    val v1 = Snapshots.commitEqUpsert(spark, tbl,
      upserts = Seq((1L, 11L)).toDF("id", "amt"),
      tombstones = Seq(1L).toDF("id"), keyCols = Seq("id"))
    assert(Snapshots.readMorAsOf(spark, tbl, v1, Seq("id"))
      .select("id", "amt").as[(Long, Long)].collect().toMap ==
      Map(1L -> 11L, 2L -> 20L))
    // a violating sync fails BY NAME before anything publishes
    val e = intercept[Exception](
      Snapshots.commitEqUpsert(spark, tbl,
        upserts = Seq((5L, -3L)).toDF("id", "amt"),
        tombstones = Seq(5L).toDF("id"), keyCols = Seq("id")))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("amt_positive")),
      s"the refusal must name the constraint: ${msgs(e)}")
    assert(Snapshots.latestVersion(spark, tbl).contains(v1),
      "a refused sync must publish NO generation")
    // the MOR face is untouched by the refusal; the fold still works
    val vF = Snapshots.foldEqDeletes(spark, tbl, Seq("id"))
    assert(Snapshots.readAsOf(spark, tbl, vF)
      .select("id", "amt").as[(Long, Long)].collect().toMap ==
      Map(1L -> 11L, 2L -> 20L) && base >= 1L)
  }
}
