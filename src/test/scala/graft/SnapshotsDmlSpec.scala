package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Snapshots}

/** Row-level UPDATE and ANSI MERGE INTO as FILE-EXACT copy-on-write
  * ([[Snapshots.updateWhere]] / [[Snapshots.mergeInto]]), plus their
  * SQL faces routed through [[graft.plans.GraftDmlRule]]: only the
  * files containing a matching row rewrite (manifest-pinned), deletion
  * vectors / constraints compose, the ANSI cardinality contract
  * refuses loudly, and history stays time-travelable. */
class SnapshotsDmlSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String = {
    val p = Files.createTempDirectory("snap_dml_").toString + "/tbl"
    Snapshots.init(spark, p)
    p
  }

  /** ids 1..12 over exactly 4 files, 3 rows each (sorted ranges). */
  private def seed(tbl: String): Long = {
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    Snapshots.commit(spark, df, tbl, append = false)
  }

  private def filesOf(tbl: String, v: Long): Set[String] =
    Snapshots.generationOf(spark, tbl, v).paths.toSet

  test("updateWhere rewrites ONLY the predicate's files; carried rows " +
    "byte-equal; history time-travels") {
    val tbl = freshTable()
    val v0 = seed(tbl)
    val v1 = Snapshots.updateWhere(spark, tbl,
      col("id") === 5L, Seq("amt" -> lit(999L)))
    assert(v1 == v0 + 1)
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert((f0 -- f1).size == 1,
      s"exactly ONE parent file (id=5's) must leave the manifest, got " +
        s"${(f0 -- f1).size}")
    assert((f0 intersect f1).size == 3,
      "the three untouched files must repoint verbatim")
    val now = Snapshots.readAsOf(spark, tbl, v1)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(now(5L) == 999L && now(4L) == 40L && now(6L) == 60L)
    assert(now.size == 12)
    val before = Snapshots.readAsOf(spark, tbl, v0)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(before(5L) == 50L, "time travel below the update is MVCC")
  }

  test("updateWhere: assignments cast to the stored column type; " +
    "expressions may reference other columns") {
    val tbl = freshTable()
    seed(tbl)
    val v = Snapshots.updateWhere(spark, tbl,
      col("id") <= 2L,
      Seq("amt" -> (col("amt") + 1), // int literal + long col
        "v" -> concat(col("v"), lit("!"))))
    val rows = Snapshots.readAsOf(spark, tbl, v)
      .filter(col("id") <= 3L).orderBy("id")
      .select("v", "amt").as[(String, Long)].collect().toSeq
    assert(rows == Seq(("v1!", 11L), ("v2!", 21L), ("v3", 30L)))
  }

  test("updateWhere matching nothing is a NO-OP: no generation minted") {
    val tbl = freshTable()
    val v0 = seed(tbl)
    val v = Snapshots.updateWhere(spark, tbl,
      col("id") > 100L, Seq("amt" -> lit(0L)))
    assert(v == v0)
    assert(Snapshots.latestVersion(spark, tbl).contains(v0))
  }

  test("updateWhere composes with deletion vectors: deleted rows never " +
    "resurrect, the rewritten file's DV entries die, untouched files' " +
    "survive") {
    val tbl = freshTable()
    seed(tbl)
    // DV-delete id=4 (file 2) and id=10 (file 4)
    Snapshots.deleteWhere(spark, tbl, col("id").isin(4L, 10L))
    // update id=5 → rewrites file 2 (ids 4,5,6): its DV entry must die
    // physically; file 4's entry must survive the new version
    val v2 = Snapshots.updateWhere(spark, tbl,
      col("id") === 5L, Seq("amt" -> lit(555L)))
    val now = Snapshots.readAsOf(spark, tbl, v2)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(!now.contains(4L) && !now.contains(10L),
      "DV-deleted rows must stay deleted through the rewrite")
    assert(now(5L) == 555L && now.size == 10)
    // a further delete + update keeps composing
    Snapshots.deleteWhere(spark, tbl, col("id") === 1L)
    val v4 = Snapshots.updateWhere(spark, tbl,
      col("id") === 2L, Seq("v" -> lit("two")))
    val after = Snapshots.readAsOf(spark, tbl, v4)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(!after.contains(1L) && after(2L) == "two" && after.size == 9)
  }

  test("updateWhere on a hive-partitioned head rewrites partitionBy: " +
    "untouched partitions repoint, fragments follow moved rows, " +
    "partition pruning survives") {
    val tbl = freshTable()
    Snapshots.commitPartitioned(spark,
      Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3"))
        .toDF("id", "v", "p"),
      tbl, "p", append = false)
    // update id=1 (partition p1) AND move id=2 from p2 to p9
    val v1 = Snapshots.updateWhere(spark, tbl,
      col("id") === 1L, Seq("v" -> lit("A")))
    val v2 = Snapshots.updateWhere(spark, tbl,
      col("id") === 2L, Seq("p" -> lit("p9")))
    val rows2 = Snapshots.generationOf(spark, tbl, v2).files
      .map(d => (d.path, d.part.orNull))
    assert(rows2.forall(_._2 != null),
      "every manifest row must keep a partition fragment")
    assert(rows2.exists(_._2 == "p=p9"),
      "the moved row's fragment must re-derive from the data")
    assert(!rows2.exists(_._2 == "p=p2"))
    // untouched p3 repoints verbatim across BOTH updates
    val f0 = filesOf(tbl, 0L)
    assert((f0 intersect filesOf(tbl, v2)).nonEmpty)
    // fragment-scoped time travel still answers
    assert(Snapshots.scanPartitionAsOf(spark, tbl, v2, "p", "p9")
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(Snapshots.scanPartitionAsOf(spark, tbl, v1, "p", "p1")
      .select("v").as[String].collect().toSeq == Seq("A"))
  }

  test("updateWhere enforces governing CHECK constraints on the " +
    "updated rows") {
    val tbl = freshTable()
    seed(tbl)
    Snapshots.addConstraint(spark, tbl, "amt_pos", "amt >= 0")
    val e = intercept[Exception] {
      Snapshots.updateWhere(spark, tbl, col("id") === 3L,
        Seq("amt" -> lit(-1L)))
    }
    assert(e.getMessage.contains("amt_pos"))
    // and a lawful update passes
    val v = Snapshots.updateWhere(spark, tbl, col("id") === 3L,
      Seq("amt" -> lit(7L)))
    assert(Snapshots.readAsOf(spark, tbl, v)
      .filter(col("id") === 3L).select("amt").as[Long].head() == 7L)
  }

  test("mergeInto: update + insert in one commit; only matched files " +
    "rewrite; cardinality violation refuses loudly") {
    val tbl = freshTable()
    val v0 = seed(tbl)
    val src = Seq((5L, 500L), (6L, 600L), (99L, 990L))
      .toDF("sid", "samt")
    val v1 = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.sid"),
      Seq(
        Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt"))),
        Snapshots.MergeInsert(None, Seq(
          "id" -> col("s.sid"), "v" -> lit("new"),
          "amt" -> col("s.samt")))))
    assert(v1 == v0 + 1)
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert((f0 intersect f1).size == 3,
      "ids 5,6 share one file — the other three repoint verbatim")
    val now = Snapshots.readAsOf(spark, tbl, v1)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(now(5L) == 500L && now(6L) == 600L && now(99L) == 990L)
    assert(now.size == 13 && now(7L) == 70L)
    // ANSI cardinality: two source rows hitting one target row refuse
    val dup = Seq((5L, 1L), (5L, 2L)).toDF("sid", "samt")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, tbl, dup,
        col("t.id") === col("s.sid"),
        Seq(Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt")))))
    }
    assert(e.getMessage.contains("more than one source row"))
  }

  test("mergeInto: clause conditions, first-match-wins, DELETE clause, " +
    "conditional insert") {
    val tbl = freshTable()
    seed(tbl)
    val src = Seq((1L, "del"), (2L, "upd"), (50L, "ins"), (60L, "skip"))
      .toDF("sid", "op")
    val v = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.sid"),
      Seq(
        Snapshots.MergeDelete(Some(col("s.op") === "del")),
        Snapshots.MergeUpdate(Some(col("s.op") === "upd"),
          Seq("v" -> lit("updated"))),
        Snapshots.MergeInsert(Some(col("s.op") === "ins"), Seq(
          "id" -> col("s.sid"), "v" -> col("s.op"), "amt" -> lit(0L)))))
    val now = Snapshots.readAsOf(spark, tbl, v)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(!now.contains(1L), "matched del row must delete")
    assert(now(2L) == "updated")
    assert(now(50L) == "ins")
    assert(!now.contains(60L), "insert condition must gate")
    assert(now.size == 12)
  }

  test("mergeInto insert-only rewrites NO files (pure append shape)") {
    val tbl = freshTable()
    val v0 = seed(tbl)
    val src = Seq((200L, "x", 1L)).toDF("id", "v", "amt")
    val v1 = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.id"),
      Seq(Snapshots.MergeInsert(None, Seq(
        "id" -> col("s.id"), "v" -> col("s.v"), "amt" -> col("s.amt")))))
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert(f0.subsetOf(f1), "every parent file must repoint verbatim " +
      "even though some contain ON-matchable ids")
    assert((f1 -- f0).nonEmpty)
  }

  test("mergeInto WHEN NOT MATCHED BY SOURCE: the full-sync shape — " +
    "absent keys delete, present keys update, new keys insert, and " +
    "only the touched files rewrite") {
    val tbl = freshTable()
    val v0 = seed(tbl) // ids 1..12 over 4 range files
    // source carries ids 4..6 (file 2, updated) and 99 (new); ids in
    // file 2's range that vanished (none) and every other file's ids
    // are unmatched-by-source — but the DELETE clause is CONDITIONED
    // to ids <= 3, so only file 1 joins the by-source blast radius
    val src = Seq((4L, 400L), (5L, 500L), (6L, 600L), (99L, 990L))
      .toDF("sid", "samt")
    val v1 = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.sid"),
      Seq(
        Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt"))),
        Snapshots.MergeDeleteBySource(Some(col("t.id") <= 3L)),
        Snapshots.MergeInsert(None, Seq(
          "id" -> col("s.sid"), "v" -> lit("new"),
          "amt" -> col("s.samt")))))
    val now = Snapshots.readAsOf(spark, tbl, v1)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(!now.contains(1L) && !now.contains(2L) && !now.contains(3L),
      "unmatched rows hit by the by-source DELETE must leave")
    assert(now(4L) == 400L && now(5L) == 500L && now(6L) == 600L)
    assert(now(99L) == 990L && now(7L) == 70L && now.size == 10)
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert((f0 intersect f1).size == 2,
      "files 3 and 4 (ids 7..12, unmatched but outside the DELETE " +
        "condition) must repoint verbatim")
    // by-source UPDATE: unmatched survivors get flagged in one pass
    val v2 = Snapshots.mergeInto(spark, tbl,
      Seq(Tuple1(7L)).toDF("sid"),
      col("t.id") === col("s.sid"),
      Seq(Snapshots.MergeUpdateBySource(Some(col("t.id") <= 8L),
        Seq("v" -> lit("stale")))))
    val vs = Snapshots.readAsOf(spark, tbl, v2)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(vs(8L) == "stale" && vs(7L) == "v7" && vs(9L) == "v9",
      "only unmatched rows inside the condition update")
  }

  test("updateWhere keeps a CLUSTERED table's stats sidecar live: " +
    "range scans prune on the new head, fresh files get real bounds") {
    val tbl = freshTable()
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
    Snapshots.commitClustered(spark, df, tbl, "id",
      numFiles = 4, append = false)
    val v1 = Snapshots.updateWhere(spark, tbl,
      col("id") === 5L, Seq("amt" -> lit(999L)))
    // the governed scan still answers (no refusal) and still prunes
    val hit = Snapshots.scanRangeAsOf(spark, tbl, v1, "id", 5L, 5L)
    assert(hit.select("amt").as[Long].collect().toSeq == Seq(999L))
    assert(hit.inputFiles.length < filesOf(tbl, v1).size,
      "the range scan must still PRUNE after the update — the fresh " +
        "file's bounds must be real, not a refusal or a full scan")
    // an id untouched by the update scans from a verbatim parent file
    assert(Snapshots.scanRangeAsOf(spark, tbl, v1, "id", 11L, 11L)
      .select("amt").as[Long].collect().toSeq == Seq(110L))
  }

  test("mergeInto keeps a BLOOM-governed table's point lookups live") {
    val tbl = freshTable()
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    Snapshots.commitBloom(spark, df, tbl, "id", append = false)
    val src = Seq((5L, 500L), (99L, 990L)).toDF("sid", "samt")
    val v1 = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.sid"),
      Seq(
        Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt"))),
        Snapshots.MergeInsert(None, Seq(
          "id" -> col("s.sid"), "v" -> lit("new"),
          "amt" -> col("s.samt")))))
    assert(Snapshots.scanPointAsOf(spark, tbl, v1, "id", 5L)
      .select("amt").as[Long].collect().toSeq == Seq(500L))
    assert(Snapshots.scanPointAsOf(spark, tbl, v1, "id", 99L)
      .select("amt").as[Long].collect().toSeq == Seq(990L),
      "the INSERTED row must be bloom-indexed too")
    assert(Snapshots.scanPointAsOf(spark, tbl, v1, "id", 11L)
      .select("amt").as[Long].collect().toSeq == Seq(110L))
  }

  test("SQL UPDATE on a catalog table routes through updateWhere " +
    "(file-exact, not whole-table)") {
    val root = Files.createTempDirectory("graft_dmlsql_").toString
    val tbl = s"$root/storage/t"
    Snapshots.init(spark, tbl)
    val v0 = seed(tbl)
    Catalog.register(spark, root, "t", tbl)
    val cat = "gdmlu"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"UPDATE $cat.t SET amt = amt + 1000, v = 'sql' " +
      "WHERE id IN (7, 8)")
    val v1 = Snapshots.latestVersion(spark, tbl).get
    assert(v1 == v0 + 1, "SQL UPDATE must mint exactly one generation")
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert((f0 intersect f1).size == 3,
      "ids 7,8 live in one file — SQL UPDATE must stay file-exact")
    val now = spark.sql(s"SELECT id, v, amt FROM $cat.t WHERE id IN (6,7,8)")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(now == Seq((6L, "v6", 60L), (7L, "sql", 1070L),
      (8L, "sql", 1080L)))
  }

  test("SQL MERGE INTO on a catalog table: matched update + not-matched " +
    "insert, then VERSION AS OF still answers the pre-merge face") {
    val root = Files.createTempDirectory("graft_dmlsql_").toString
    val tbl = s"$root/storage/m"
    Snapshots.init(spark, tbl)
    val v0 = seed(tbl)
    Catalog.register(spark, root, "m", tbl)
    val cat = "gdmlm"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Seq((11L, "merged", 1100L), (300L, "born", 3000L))
      .toDF("id", "v", "amt").createOrReplaceTempView("dml_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.m AS tgt USING dml_merge_src AS src
         |ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET v = src.v, amt = src.amt
         |WHEN NOT MATCHED THEN INSERT (id, v, amt)
         |  VALUES (src.id, src.v, src.amt)""".stripMargin)
    val now = spark.sql(s"SELECT id, v, amt FROM $cat.m " +
      "WHERE id IN (11, 12, 300)")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(now == Seq((11L, "merged", 1100L), (12L, "v12", 120L),
      (300L, "born", 3000L)))
    val before = spark.sql(
      s"SELECT count(*) FROM $cat.m VERSION AS OF $v0")
      .as[Long].head()
    assert(before == 12L, "the pre-merge face must stay addressable")
  }

  test("SQL MERGE INTO UPDATE SET * / INSERT * expand by name") {
    val root = Files.createTempDirectory("graft_dmlsql_").toString
    val tbl = s"$root/storage/st"
    Snapshots.init(spark, tbl)
    seed(tbl)
    Catalog.register(spark, root, "st", tbl)
    val cat = "gdmls"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Seq((3L, "star", 333L), (400L, "new", 4L))
      .toDF("id", "v", "amt").createOrReplaceTempView("dml_star_src")
    spark.sql(
      s"""MERGE INTO $cat.st USING dml_star_src AS src
         |ON st.id = src.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = spark.sql(
      s"SELECT id, v, amt FROM $cat.st WHERE id IN (3, 400)")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(now == Seq((3L, "star", 333L), (400L, "new", 4L)))
  }

  test("updateWhere and mergeInto are DERIVED commits: a racing append " +
    "refuses them with the retry-able conflict, and retryOnConflict " +
    "re-derives to success") {
    val tbl = freshTable()
    seed(tbl)
    // simulate the race: between the head read and the publish, a
    // racer appends. updateWhere derives from the observed head, so
    // the publish must refuse — emulate by appending mid-flight via
    // the verb's own observed-head contract: append FIRST under the
    // hood of a stale caller by running the sequence explicitly.
    val observed = Snapshots.latestVersion(spark, tbl).get
    Snapshots.commit(spark, Seq((100L, "r", 0L)).toDF("id", "v", "amt"),
      tbl, append = true)
    // a caller that derived content from `observed` and now publishes
    // hits the moved head — the verb re-reads internally, so drive the
    // refusal through a branch-style stale fastForward instead is
    // covered elsewhere; here pin the POSITIVE contract: the verb
    // under retryOnConflict lands even while appends interleave
    val t = new Thread(() => {
      Snapshots.commit(spark,
        Seq((101L, "r2", 0L)).toDF("id", "v", "amt"), tbl, append = true)
    })
    t.start()
    val v = Snapshots.retryOnConflict() {
      Snapshots.updateWhere(spark, tbl, col("id") === 5L,
        Seq("amt" -> lit(777L)))
    }
    t.join()
    val finalV = Snapshots.latestVersion(spark, tbl).get
    val face = Snapshots.readAsOf(spark, tbl, finalV)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(face(5L) == 777L, "the update must land")
    assert(face.contains(100L) && face.contains(101L),
      "both appends must land — nobody's commit is silently lost")
    assert(v >= observed + 1)
  }

  test("SQL DML refuses subqueries in conditions loudly") {
    val root = Files.createTempDirectory("graft_dmlsub_").toString
    val tbl = s"$root/storage/sq"
    Snapshots.init(spark, tbl)
    seed(tbl)
    Catalog.register(spark, root, "sq", tbl)
    val cat = "gdmlsq"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $cat.sq SET amt = 0 WHERE id IN " +
        s"(SELECT id FROM $cat.sq WHERE amt > 100)")
    }
    assert(e.getMessage.contains("subqueries") ||
      e.getMessage.contains("Subquery") ||
      e.getMessage.toLowerCase.contains("unsupported"),
      s"got: ${e.getMessage}")
  }

  test("statsPrunedForDml: the discovery pass admits only the files " +
    "whose [min,max] can contain a match — conservative on shapes it " +
    "cannot read, exact-empty when stats disprove the predicate") {
    val tbl = freshTable()
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
    Snapshots.commitClustered(spark, df, tbl, "id",
      numFiles = 4, append = false)
    val rows = Snapshots.generationOf(spark, tbl, 0L).files
    val face = Snapshots.dmlFace(spark, tbl, "updateWhere")
    def admitted(pred: org.apache.spark.sql.Column): Int =
      Snapshots.statsPrunedForDml(face, rows, pred).length
    assert(admitted(col("id") === 5L) == 1,
      "a point predicate on the clustered key admits ONE file")
    assert(admitted(col("id") >= 4L && col("id") <= 7L) == 2)
    assert(admitted(col("id").isin(2L, 11L)) == 2)
    assert(admitted(col("id") > 100L) == 0,
      "stats disprove the predicate entirely")
    // unreadable shapes stay conservative: everything admits
    assert(admitted(concat(col("v"), lit("x")) === "v5x") == 4)
    assert(admitted(col("id") === 5L || col("amt") === 10L) == 4,
      "a top-level OR is not a conjunct — admit all")
    // mixed: the readable conjunct prunes, the opaque one is ignored
    assert(admitted(col("id") === 5L && concat(col("v"), lit("")) =!= "q")
      == 1)
    // end-to-end: the pruned discovery still yields the right answer,
    // and a stats-disproven UPDATE is a no-op commit-wise
    val v0 = Snapshots.latestVersion(spark, tbl).get
    assert(Snapshots.updateWhere(spark, tbl, col("id") > 100L,
      Seq("amt" -> lit(0L))) == v0)
    val v1 = Snapshots.updateWhere(spark, tbl, col("id") === 5L,
      Seq("amt" -> lit(999L)))
    assert(Snapshots.readAsOf(spark, tbl, v1)
      .filter(col("id") === 5L).select("amt").as[Long].head() == 999L)
  }

  test("bloomPrunedForDml: a point/IN predicate on the recorded bloom " +
    "key shrinks the discovery set; other shapes stay conservative") {
    val tbl = freshTable()
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
    Snapshots.commitBloom(spark, df, tbl, "id", append = false)
    val rows = Snapshots.generationOf(spark, tbl, 0L).files
    val face = Snapshots.dmlFace(spark, tbl, "updateWhere")
    def admitted(pred: org.apache.spark.sql.Column): Int =
      Snapshots.bloomPrunedForDml(face, rows, pred).length
    assert(admitted(col("id") === 5L) <= 2 && admitted(col("id") === 5L) >= 1,
      "a point predicate must bloom-prune to the containing file(s)")
    assert(admitted(col("id").isin(2L, 11L) && col("amt") > 0L) <= 3)
    assert(admitted(col("id") === -999L) == 0,
      "an absent key admits nothing (no false negatives needed)")
    assert(admitted(col("amt") === 50L) == 4,
      "a predicate off the recorded key admits everything")
    // end-to-end: the bloom-pruned UPDATE lands and keeps the index
    val v = Snapshots.updateWhere(spark, tbl, col("id") === 5L,
      Seq("amt" -> lit(555L)))
    assert(Snapshots.scanPointAsOf(spark, tbl, v, "id", 5L)
      .select("amt").as[Long].collect().toSeq == Seq(555L))
  }

  test("mergeSourcePruned: the matched pass on a clustered target " +
    "admits only files intersecting the source's key range; the merge " +
    "answer is unchanged") {
    val tbl = freshTable()
    val df = (1L to 12L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "amt")
    Snapshots.commitClustered(spark, df, tbl, "id",
      numFiles = 4, append = false)
    val rows = Snapshots.generationOf(spark, tbl, 0L).files
    val narrow = Seq((4L, 1L), (5L, 2L)).toDF("sid", "samt")
    val face = Snapshots.dmlFace(spark, tbl, "mergeInto")
    val admitted = Snapshots.mergeSourcePruned(face, rows,
      narrow, col("t.id") === col("s.sid"))
    assert(admitted.length == 1,
      s"source keys 4..5 live in ONE range file, got ${admitted.length}")
    // no stats key in the ON clause → conservative, everything stays
    assert(Snapshots.mergeSourcePruned(face, rows,
      narrow, col("t.amt") === col("s.samt")).length == 4)
    // end-to-end on the pruned path: values land, untouched rows stay
    val v = Snapshots.mergeInto(spark, tbl, narrow,
      col("t.id") === col("s.sid"),
      Seq(Snapshots.MergeUpdate(None, Seq("amt" -> col("s.samt")))))
    val now = Snapshots.readAsOf(spark, tbl, v)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(now(4L) == 1L && now(5L) == 2L && now(6L) == 60L &&
      now(12L) == 120L && now.size == 12)
  }

  test("DML on a column-mapped indexed table: the pruners and index " +
    "maintenance stand down, the answer is right, and the new head is " +
    "left undescribed") {
    val tbl = freshTable()
    Snapshots.commitClustered(spark,
      (1L to 12L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "amt"),
      tbl, "k", numFiles = 4, append = false)
    Snapshots.renameColumn(spark, tbl, "k", "key")
    val face = Snapshots.dmlFace(spark, tbl, "updateWhere")
    assert(Snapshots.statsPrunedForDml(face, face.files,
      col("key") === 5L) == face.files,
      "stats pruning must stand down under a column mapping")
    val v = Snapshots.updateWhere(spark, tbl, col("key") === 5L,
      Seq("amt" -> lit(999L)))
    val now = Snapshots.readAsOf(spark, tbl, v)
      .select("key", "amt").as[(Long, Long)].collect().toMap
    assert(now.size == 12 && now(5L) == 999L && now(4L) == 40L &&
      now(6L) == 60L)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/_stats/v$v")),
      "index maintenance must stand down under a column mapping")
    val e = intercept[IllegalArgumentException](
      Snapshots.scanRangeAsOf(spark, tbl, v, "key", 1L, 12L))
    assert(e.getMessage.contains("no stats manifest"), e.getMessage)
  }

  test("SQL DELETE FROM takes ANY predicate shape (expression deletes " +
    "route through the DV verb, not just source-filter-translatable " +
    "comparisons)") {
    val root = Files.createTempDirectory("graft_dmldel_").toString
    val tbl = s"$root/storage/xd"
    Snapshots.init(spark, tbl)
    seed(tbl)
    Catalog.register(spark, root, "xd", tbl)
    val cat = "gdmlxd"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // an expression predicate no V2 source filter can carry
    spark.sql(s"DELETE FROM $cat.xd WHERE id % 5 = 0 AND length(v) > 1")
    assert(Snapshots.latestVersion(spark, tbl).contains(1L),
      "the expression delete must be ONE metadata generation")
    assert(Snapshots.generationOf(spark, tbl, 0L).paths.toSet ==
      Snapshots.generationOf(spark, tbl, 1L).paths.toSet,
      "a deletion-vector commit rewrites no data file")
    val left = Snapshots.readAsOf(spark, tbl, 1L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(left == (1L to 12L).filterNot(_ % 5 == 0),
      s"ids 5 and 10 must be DV-deleted, got $left")
  }

  test("updateWhere is ANSI: every SET expression and the WHERE " +
    "predicate evaluate against the PRE-update row — SET a=b,b=a " +
    "swaps, and an assignment to the predicate column never masks a " +
    "later assignment") {
    val tbl = freshTable()
    seed(tbl)
    // swap: both RHS must see the original row
    val v1 = Snapshots.updateWhere(spark, tbl, col("id") === 7L,
      Seq("id" -> col("amt"), "amt" -> col("id")))
    val swapped = Snapshots.readAsOf(spark, tbl, v1)
      .filter(col("amt") === 7L)
      .select("id", "amt").as[(Long, Long)].collect().toSeq
    assert(swapped == Seq((70L, 7L)),
      s"SET id=amt, amt=id must SWAP (sequential application would " +
        s"yield (70,70)), got $swapped")
    // the predicate column updated FIRST: the second assignment still
    // fires for rows the ORIGINAL predicate admitted
    val v2 = Snapshots.updateWhere(spark, tbl, col("amt") === 30L,
      Seq("amt" -> lit(0L), "v" -> lit("hit")))
    val row3 = Snapshots.readAsOf(spark, tbl, v2)
      .filter(col("id") === 3L)
      .select("v", "amt").as[(String, Long)].collect().toSeq
    assert(row3 == Seq(("hit", 0L)),
      s"both assignments must fire against the pre-update row, got $row3")
  }

  test("commitReplaceWhere: one derived generation, file-exact blast " +
    "radius, survivors outside the predicate carry, out-of-scope " +
    "batch rows refuse whole, partitioned layout preserved") {
    val tbl = freshTable()
    val v0 = seed(tbl) // ids 1..12 over 4 files of 3
    // replace ids 4..6 (file 2) with two corrected rows
    val batch = Seq((4L, "four", 400L), (5L, "five", 500L))
      .toDF("id", "v", "amt")
    val v1 = Snapshots.commitReplaceWhere(spark, tbl,
      batch, col("id").between(4L, 6L))
    assert(v1 == v0 + 1)
    val (f0, f1) = (filesOf(tbl, v0), filesOf(tbl, v1))
    assert((f0 -- f1).size == 1 && (f0 intersect f1).size == 3,
      "exactly the matching file rewrites; clean files repoint")
    val now = Snapshots.readAsOf(spark, tbl, v1)
      .select("id", "amt").as[(Long, Long)].collect().toMap
    assert(now == ((1L to 12L).filterNot(i => i >= 4 && i <= 6)
      .map(i => i -> i * 10L) ++ Seq(4L -> 400L, 5L -> 500L)).toMap,
      s"face wrong: $now")
    // an out-of-scope batch row refuses BEFORE anything publishes
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitReplaceWhere(spark, tbl,
        Seq((7L, "seven", 700L)).toDF("id", "v", "amt"),
        col("id") === 4L)
    }
    assert(e.getMessage.contains("idempotent"), e.getMessage)
    assert(Snapshots.latestVersion(spark, tbl).contains(v1))
    // hive-partitioned: the untouched partitions repoint verbatim and
    // the layout survives (fragments re-derive from the data)
    val ptbl = freshTable()
    Snapshots.commitPartitioned(spark,
      (1L to 12L).map(i => (i, s"d${i % 3}")).toDF("id", "day"),
      ptbl, "day", append = false)
    val pv0 = Snapshots.latestVersion(spark, ptbl).get
    val pv1 = Snapshots.commitReplaceWhere(spark, ptbl,
      Seq((100L, "d1"), (101L, "d1")).toDF("id", "day"),
      col("day") === "d1")
    val p0 = filesOf(ptbl, pv0); val p1 = filesOf(ptbl, pv1)
    assert((p0 intersect p1).nonEmpty && (p0 -- p1).nonEmpty,
      "only d1's files may rewrite")
    assert(Snapshots.scanPartitionAsOf(spark, ptbl, pv1, "day", "d1")
      .select("id").as[Long].collect().sorted.toSeq == Seq(100L, 101L),
      "the replaced partition serves the batch; pruning survives")
    assert(Snapshots.scanPartitionAsOf(spark, ptbl, pv1, "day", "d0")
      .count() == 4L, "untouched partitions carry")
  }

  test("mergeInto with ONLY by-source clauses never duplicates a " +
    "matched target row the source matches more than once (the " +
    "rewrite join's fan-out collapses on row identity)") {
    val tbl = freshTable()
    seed(tbl)
    // duplicate source matches for ids 5 and 6 — legal ANSI when no
    // matched clause exists; file 2 (ids 4,5,6) dirties via the
    // by-source DELETE of id=4
    val src = Seq(5L, 5L, 6L, 6L, 6L).toDF("sid")
    val v = Snapshots.mergeInto(spark, tbl, src,
      col("t.id") === col("s.sid"),
      Seq(Snapshots.MergeDeleteBySource(Some(col("t.id") === 4L))))
    val ids = Snapshots.readAsOf(spark, tbl, v)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 12L).filterNot(_ == 4L),
      s"matched rows must carry exactly once, got $ids")
  }
}
