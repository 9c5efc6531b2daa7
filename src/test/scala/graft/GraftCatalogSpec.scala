package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, Snapshots}

/** The DataSource V2 SQL face ([[graft.sources.v2.GraftCatalog]]):
  * catalog-registered snapshot tables reachable from plain SQL by
  * name, with `VERSION AS OF` / `TIMESTAMP AS OF` time travel planned
  * from the manifest file list — plus the honest refusals for faces a
  * plain parquet scan cannot represent (deletion vectors, column
  * mappings, multi-root partitioned lineages). */
class GraftCatalogSpec extends SparkSuite {
  import spark.implicits._

  private var n = 0
  /** A fresh catalog ROOT and a fresh catalog NAME per test — Spark
    * caches catalog instances by name once resolved, so reusing a name
    * would pin the first test's root. */
  private def freshCatalog(): (String, String) = {
    val root = Files.createTempDirectory("sqlcat_").toString
    n += 1
    val name = s"gtest$n"
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  /** The files a DSv2 plan's parquet scan admits — `inputFiles` only
    * surfaces for raw FileTable relations, and the catalog wraps one
    * (read-only), so the assertion reads the physical scan's index. */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
          .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
          .fileIndex.inputFiles.toSet
    }.flatten.toSet

  test("SELECT by name + VERSION AS OF / TIMESTAMP AS OF: the SQL scan " +
    "plans exactly the generation's manifest files") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/t"
    Snapshots.init(spark, tbl)
    // logical commit stamps in MICROS so TIMESTAMP AS OF travels
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl,
      append = false, ts = Some(1000000L)) // 1970-01-01T00:00:01
    val v1 = Snapshots.commit(spark,
      Seq((3L, "c")).toDF("id", "v"), tbl,
      append = true, ts = Some(2000000L)) // :02
    Catalog.register(spark, root, "t", tbl)

    val head = spark.sql(s"SELECT id, v FROM $cat.t ORDER BY id")
    assert(head.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the scan plans from the manifest: exactly the head generation's
    // files, never a directory listing of other versions
    val v1Files = Snapshots.readAsOf(spark, tbl, v1).inputFiles.toSet
    assert(scanFiles(head) == v1Files,
      "the SQL scan must plan exactly the version's manifest files")

    val v0 = spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 0 ORDER BY id")
    assert(v0.as[Long].collect().toSeq == Seq(1L, 2L))
    assert(scanFiles(v0) ==
      Snapshots.readAsOf(spark, tbl, 0L).inputFiles.toSet)

    val asOfTs = spark.sql(s"SELECT id FROM $cat.t TIMESTAMP AS OF " +
      "'1970-01-01 00:00:01' ORDER BY id")
    assert(asOfTs.as[Long].collect().toSeq == Seq(1L, 2L),
      "TIMESTAMP AS OF must resolve through the logical commit timeline")

    // filter pushdown reaches the parquet scan (Spark's own
    // ParquetScanBuilder serves the plan)
    val filtered = spark.sql(s"SELECT v FROM $cat.t WHERE id = 3")
    assert(filtered.as[String].collect().toSeq == Seq("c"))
    assert(filtered.queryExecution.sparkPlan.toString
      .contains("PushedFilters"),
      "the SQL scan must push filters into the parquet scan")
  }

  test("joins across two catalog tables answer the plain-join values") {
    val (cat, root) = freshCatalog()
    val facts = s"$root/storage/f"; val dims = s"$root/storage/d"
    Snapshots.init(spark, facts); Snapshots.init(spark, dims)
    Snapshots.commit(spark,
      Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("id", "uid"),
      facts, append = false)
    Snapshots.commit(spark,
      Seq((10L, "gold"), (20L, "blue")).toDF("uid", "seg"),
      dims, append = false)
    Catalog.register(spark, root, "f", facts)
    Catalog.register(spark, root, "d", dims)
    val got = spark.sql(
      s"""SELECT d.seg, count(*) AS n FROM $cat.f f
         |JOIN $cat.d d ON f.uid = d.uid
         |GROUP BY d.seg ORDER BY d.seg""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("blue", 1L), ("gold", 2L)))
  }

  test("a single-root partitioned generation reads with its partition " +
    "column reconstructed; a multi-root lineage serves through the " +
    "resolved read (GraftGovernedReadRule)") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/p"
    Snapshots.init(spark, tbl)
    Snapshots.commitPartitioned(spark,
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2")).toDF("id", "day"),
      tbl, "day", append = false)
    Catalog.register(spark, root, "p", tbl)
    val got = spark.sql(
      s"SELECT id, day FROM $cat.p WHERE day = 'd1' ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "d1"), (2L, "d1")),
      "the path-encoded partition column must reconstruct")
    // a second partitioned append puts files under a second commit
    // root — one basePath cannot reconstruct both, so the plain scan
    // cannot serve; the analyzer rule substitutes readAsOf's per-root
    // basePath groups and the SELECT answers anyway
    Snapshots.commitPartitioned(spark,
      Seq((4L, "d2")).toDF("id", "day"), tbl, "day", append = true)
    assert(spark.sql(s"SELECT id, day FROM $cat.p ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d2")),
      "the multi-root face must serve through the resolved read")
    // compacting restores the single root — the plain file-exact scan
    // returns (no rule substitution needed)
    Snapshots.optimizePartitioned(spark, tbl, "day")
    assert(spark.sql(s"SELECT count(*) FROM $cat.p").as[Long].head() == 4L)
  }

  test("DV-governed versions serve the resolved face from SQL; " +
    "pre-delete versions still plan file-exact; unknown names raise " +
    "the SQL not-found error; DROP TABLE unregisters the name only") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/dv"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"), tbl,
      append = false)
    val vDel = Snapshots.deleteWhere(spark, tbl, col("id") <= 3L)
    Catalog.register(spark, root, "dv", tbl)
    // the DV-governed head serves the RESOLVED face directly — no
    // CALL system.optimize needed before the first post-delete SELECT
    assert(spark.sql(s"SELECT id FROM $cat.dv ORDER BY id")
      .as[Long].collect().toSeq == (4L to 10L),
      "the DV-governed head must serve the deletion-resolved rows")
    // time travel BELOW the delete still serves (nothing governs v0,
    // so it plans through the plain file-exact scan)
    assert(spark.sql(s"SELECT count(*) FROM $cat.dv VERSION AS OF 0")
      .as[Long].head() == 10L && vDel > 0L)
    // compaction still restores the plain scan
    Snapshots.optimize(spark, tbl, 1L << 30)
    assert(spark.sql(s"SELECT count(*) FROM $cat.dv").as[Long].head() == 7L)

    intercept[AnalysisException](spark.sql(s"SELECT * FROM $cat.ghost"))
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1))
      .toSeq == Seq("dv"))
    spark.sql(s"DROP TABLE $cat.dv")
    intercept[AnalysisException](spark.sql(s"SELECT * FROM $cat.dv"))
    assert(Snapshots.readAsOf(spark, tbl,
      Snapshots.latestVersion(spark, tbl).get).count() == 7L,
      "DROP TABLE unregisters the name; the data is untouched")
  }

  test("INSERT INTO is an append commit; INSERT OVERWRITE a replace — " +
    "both mint manifest generations, history stays time-travelable") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/w"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark, Seq((1L, "a")).toDF("id", "v"),
      tbl, append = false)
    Catalog.register(spark, root, "w", tbl)

    spark.sql(s"INSERT INTO $cat.w VALUES (2, 'b'), (3, 'c')")
    assert(Snapshots.latestVersion(spark, tbl).contains(1L),
      "INSERT INTO must mint ONE append generation")
    assert(spark.sql(s"SELECT id FROM $cat.w ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    assert(spark.sql(s"SELECT id FROM $cat.w VERSION AS OF 0")
      .as[Long].collect().toSeq == Seq(1L),
      "the pre-insert face must stay time-travelable")
    // the append SHARES the parent's files (O(delta), nothing rewritten)
    val v0Files = Snapshots.readAsOf(spark, tbl, 0L).inputFiles.toSet
    val v1Files = Snapshots.readAsOf(spark, tbl, 1L).inputFiles.toSet
    assert(v0Files.subsetOf(v1Files),
      "INSERT INTO must carry the parent's files as pointers")

    spark.sql(s"INSERT OVERWRITE $cat.w VALUES (9, 'z')")
    assert(spark.sql(s"SELECT id, v FROM $cat.w")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(spark.sql(s"SELECT id FROM $cat.w VERSION AS OF 1 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L),
      "the replaced face must stay time-travelable")
  }

  test("SQL inserts run under the table's governing constraints; a " +
    "violating INSERT refuses before anything publishes") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/c"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark, Seq((1L, 10L)).toDF("id", "amt"),
      tbl, append = false)
    Snapshots.addConstraint(spark, tbl, "amt_pos", "amt > 0")
    Catalog.register(spark, root, "c", tbl)
    val head = Snapshots.latestVersion(spark, tbl).get
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.c VALUES (2, -5)"))
    assert(e.getMessage.contains("amt_pos") ||
      e.getCause != null && e.getCause.getMessage.contains("amt_pos"),
      s"the constraint must refuse the SQL insert by name: $e")
    assert(Snapshots.latestVersion(spark, tbl).contains(head),
      "a refused INSERT must not publish a generation")
    spark.sql(s"INSERT INTO $cat.c VALUES (2, 5)")
    assert(spark.sql(s"SELECT sum(amt) FROM $cat.c").as[Long].head() == 15L)
  }

  test("INSERT INTO a hive-partitioned head refuses toward " +
    "commitPartitioned — a flat append would break the SQL read") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/pw"
    Snapshots.init(spark, tbl)
    Snapshots.commitPartitioned(spark,
      Seq((1L, "d1"), (2L, "d2")).toDF("id", "day"), tbl, "day",
      append = false)
    Catalog.register(spark, root, "pw", tbl)
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.pw VALUES (3, 'd1')"))
    assert(e.getMessage.contains("commitPartitioned") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("commitPartitioned"),
      s"partitioned heads must refuse flat SQL appends: $e")
  }

  test("metadata tables: <t>.history serves the commit timeline and " +
    "<t>.files the generation's manifest list — no data file opened") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/m"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      tbl, append = false, ts = Some(100L))
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"),
      tbl, append = true, ts = Some(200L))
    Catalog.register(spark, root, "m", tbl)

    val hist = spark.sql(
      s"SELECT version, commit_ts, n_rows FROM $cat.m.history " +
        "ORDER BY version").as[(Long, Long, Long)].collect().toSeq
    assert(hist == Seq((0L, 100L, 2L), (1L, 200L, 3L)),
      s"history must carry (version, stamp, row count): $hist")

    def norm(f: String): String =
      new org.apache.hadoop.fs.Path(f).toUri.getPath
    val headFiles = spark.sql(s"SELECT file FROM $cat.m.files")
      .as[String].collect().toSet.map(norm)
    assert(headFiles == Snapshots.readAsOf(spark, tbl, 1L)
      .inputFiles.toSet.map(norm),
      "files must list exactly the head generation's manifest files")
    val v0Files = spark.sql(
      s"SELECT file FROM $cat.m.files VERSION AS OF 0")
      .as[String].collect().toSet.map(norm)
    assert(v0Files.subsetOf(headFiles) && v0Files.size < headFiles.size,
      "files VERSION AS OF must serve that generation's list")
    assert(spark.sql(s"SELECT sum(n_rows) FROM $cat.m.files")
      .as[Long].head() == 3L,
      "manifest footer counts must ride the files face")
    // time travel does not address the timeline itself
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.m.history VERSION AS OF 0")
        .collect())
    assert(e.getMessage.contains("timeline") ||
      e.getCause != null && e.getCause.getMessage.contains("timeline"))
  }

  test("DELETE FROM is a deletion-vector commit: zero rows rewritten, " +
    "SELECT serves the resolved face at once, further DML keeps " +
    "working") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/del"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"), tbl,
      append = false)
    Catalog.register(spark, root, "del", tbl)
    val v0Files = Snapshots.readAsOf(spark, tbl, 0L).inputFiles.toSet

    spark.sql(s"DELETE FROM $cat.del WHERE id <= 3 OR v = 'r10'")
    val head = Snapshots.latestVersion(spark, tbl).get
    assert(head == 1L, "DELETE must mint one metadata generation")
    // inputFiles also lists the _dv sidecar the anti-join reads —
    // the DATA files must be exactly v0's (zero rewritten)
    assert(Snapshots.readAsOf(spark, tbl, head).inputFiles.toSet
      .filter(_.contains("/data/")) == v0Files,
      "DELETE must rewrite ZERO data files (deletion vectors)")
    assert(Snapshots.readAsOf(spark, tbl, head)
      .select("id").as[Long].collect().sorted.toSeq == (4L to 9L))

    // the DV-governed head serves the survivors straight from SQL —
    // the first statement a user types after DELETE FROM...
    assert(spark.sql(s"SELECT id FROM $cat.del ORDER BY id")
      .as[Long].collect().toSeq == (4L to 9L),
      "SELECT right after DELETE FROM must serve the DV-resolved face")
    // ...and further DML still works — a second DELETE composes, and
    // an INSERT appends under the inherited vectors
    spark.sql(s"DELETE FROM $cat.del WHERE id = 9")
    spark.sql(s"INSERT INTO $cat.del VALUES (11, 'r11')")
    // the whole loop closes from SQL: compact, then scan
    spark.sql(s"CALL $cat.system.optimize('del')")
    assert(spark.sql(s"SELECT id FROM $cat.del ORDER BY id")
      .as[Long].collect().toSeq == Seq(4L, 5L, 6L, 7L, 8L, 11L),
      "post-optimize the SQL face must serve the surviving rows")
  }

  test("the governed SQL read keeps the CLEAN files' leg a plain " +
    "pushed-down parquet scan: one anti-join over the DV-dirty file " +
    "only, filters reach both legs' scans") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/split"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      (1L to 40L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      tbl, append = false)
    assert(Snapshots.readAsOf(spark, tbl, 0L).inputFiles.length == 4)
    Catalog.register(spark, root, "split", tbl)
    spark.sql(s"DELETE FROM $cat.split WHERE id = 5")

    val df = spark.sql(s"SELECT id FROM $cat.split WHERE id > 2")
    assert(df.as[Long].collect().sorted.toSeq == ((3L to 4L) ++ (6L to 40L)),
      "the substituted read must serve the DV-resolved, filtered face")
    val plan = df.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1,
      s"expected ONE anti-join (the dirty leg only): $plan")
    def dataFiles(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation
            .asInstanceOf[org.apache.spark.sql.execution.datasources
              .HadoopFsRelation].location.inputFiles.toSeq
      }.flatten.filterNot(_.contains("/_dv/"))
    assert(dataFiles(joins.head).length == 1,
      "the anti-join must scan only the DV-dirty file")
    assert(dataFiles(plan).length == 4,
      "the union must still cover every admitted file")
    // the WHERE pushes into the parquet scans of BOTH legs
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("GreaterThan(id,2)"),
      s"the filter must reach the parquet scans:\n$formatted")
  }

  test("runtime file pruning on a SQL catalog join: a selective dim's " +
    "key set prunes the stats-governed fact's FILE list at execution " +
    "(SupportsRuntimeV2Filtering), answer unchanged") {
    val (cat, root) = freshCatalog()
    val fact = s"$root/storage/fact"; val dim = s"$root/storage/dim"
    Snapshots.init(spark, fact); Snapshots.init(spark, dim)
    // 8 range-clustered fact files on k; the dim filter selects keys
    // living in exactly one of them
    Snapshots.commitClustered(spark,
      (1L to 800L).map(i => (i, i * 3L)).toDF("k", "v"),
      fact, "k", numFiles = 8, append = false)
    Snapshots.commit(spark,
      (1L to 800L by 50L).map(i => (i, if (i <= 100L) "hot" else "cold"))
        .toDF("k", "seg"), dim, append = false)
    Catalog.register(spark, root, "fact", fact)
    Catalog.register(spark, root, "dim", dim)

    val q = spark.sql(
      s"""SELECT CAST(sum(f.v) AS BIGINT) AS s
         |FROM $cat.fact f JOIN $cat.dim d ON f.k = d.k
         |WHERE d.seg = 'hot'""".stripMargin)
    // hot keys: 1, 51 → sum(v) = 3 + 153 (collect on q ITSELF — a
    // derived Dataset would re-plan with a fresh scan instance and the
    // admission probe below would inspect the wrong one)
    assert(q.collect().head.getLong(0) == 156L,
      "the pruned join must answer exactly the unpruned values")
    // AQE nests scans inside executed query stages — walk through them
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(s.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan]
          => Seq(b)
        case other => other.children.flatMap(scansOf)
      }
    val scans = scansOf(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "the fact scan must be the runtime-pruned " +
      s"scan:\n${q.queryExecution.executedPlan}")
    assert(scans.head.runtimeFilters.nonEmpty,
      "Spark must wire the dim side's runtime filter to the fact scan " +
        s"(filterAttributes declared):\n${q.queryExecution.executedPlan}")
    val pruned = scans.head.scan
      .asInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan]
    assert(pruned.admittedFiles.exists(n => n >= 1 && n < 8),
      s"the runtime filter must prune the 8-file fact to fewer files, " +
        s"admitted ${pruned.admittedFiles}")
  }

  test("CTAS births a snapshot table atomically — the name " +
    "registration is the publish point; bare CREATE and duplicate " +
    "CTAS refuse") {
    val (cat, root) = freshCatalog()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.born AS SELECT * FROM ctas_src")
    assert(spark.sql(s"SELECT id FROM $cat.born ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    // the born table has the FULL snapshot contract from version 0
    spark.sql(s"INSERT INTO $cat.born VALUES (3, 'c')")
    assert(spark.sql(s"SELECT id FROM $cat.born VERSION AS OF 0 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L),
      "a CTAS-born table must time-travel like any snapshot table")
    assert(spark.sql(s"SELECT count(*) FROM $cat.born").as[Long].head() == 3L)
    // CTAS onto an existing name refuses (no silent replace)
    intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.born AS SELECT * FROM ctas_src"))
    // bare CREATE refuses — no first commit to stage
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.bare (id BIGINT) USING parquet"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("AS SELECT") || msgs.contains("first commit"),
      s"bare CREATE must refuse toward CTAS/register: $msgs")
  }

  test("CALL system.optimize/rollback/vacuum/maintain: the maintenance " +
    "verbs run from SQL and report their actions as rows") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/sp"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      tbl, append = false)
    Snapshots.commit(spark, Seq((3L, "c")).toDF("id", "v"),
      tbl, append = true)
    Catalog.register(spark, root, "sp", tbl)

    // optimize (positional arg; target_bytes rides its DEFAULT)
    val opt = spark.sql(s"CALL $cat.system.optimize('sp')").collect()
    assert(opt.length == 1 && opt.head.getString(0) == "sp")
    val vOpt = opt.head.getLong(1)
    assert(Snapshots.latestVersion(spark, tbl).contains(vOpt))
    assert(spark.sql(s"SELECT count(*) FROM $cat.sp").as[Long].head() == 3L,
      "compaction may only move bytes")

    // rollback by named args (Spark's CALL supports both)
    val rb = spark.sql(
      s"CALL $cat.system.rollback(table => 'sp', to_version => 0)")
      .collect()
    assert(rb.head.getLong(1) > vOpt, "rollback mints a NEW head")
    assert(spark.sql(s"SELECT count(*) FROM $cat.sp").as[Long].head() == 2L,
      "the head must answer the rolled-back face")

    // vacuum everything below the rollback head
    val keep = Snapshots.latestVersion(spark, tbl).get
    val vac = spark.sql(
      s"CALL $cat.system.vacuum('sp', $keep)").collect()
    assert(vac.head.getLong(1) >= 1L,
      "expiring the pre-rollback history must delete files")
    assert(spark.sql(s"SELECT count(*) FROM $cat.sp").as[Long].head() == 2L)

    // the fleet sweep runs and reports (a healthy fleet = no actions)
    val mt = spark.sql(s"CALL $cat.system.maintain()")
    assert(mt.columns.toSeq == Seq("name", "action", "detail"))
    assert(!mt.collect().exists(_.getString(1) == "refused"),
      "a healthy fleet sweep must not refuse")

    // unknown procedures refuse loudly (Spark wraps the loader error
    // as FAILED_TO_LOAD_ROUTINE; our known-set message is the cause)
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.system.ghost('sp')"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("system.optimize"),
      s"unknown procedure must name the known set: $msgs")
  }

  test("ALTER TABLE ADD COLUMN is one metadata generation: old files " +
    "null-fill at scan, time travel below answers the narrow face, " +
    "NOT NULL / nested / positioned adds refuse") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/al"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    Catalog.register(spark, root, "al", tbl)
    spark.sql(s"ALTER TABLE $cat.al ADD COLUMNS (score BIGINT)")
    assert(Snapshots.latestVersion(spark, tbl).contains(1L),
      "ADD COLUMN must mint exactly one generation, no data rewrite")
    assert(Snapshots.generationOf(spark, tbl, 0L).paths.toSet ==
      Snapshots.generationOf(spark, tbl, 1L).paths.toSet,
      "the files must repoint verbatim")
    val evolved = spark.sql(s"SELECT id, score FROM $cat.al ORDER BY id")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(evolved.toSeq == Seq((1L, true), (2L, true)),
      "existing rows must null-fill the added column")
    assert(!spark.sql(s"SELECT * FROM $cat.al VERSION AS OF 0")
      .columns.contains("score"))
    spark.sql(s"INSERT INTO $cat.al VALUES (3, 'c', 30)")
    assert(spark.sql(s"SELECT sum(coalesce(score, 0)) FROM $cat.al")
      .collect().head.getLong(0) == 30L)
    val notNull = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.al ADD COLUMNS (hard BIGINT NOT NULL)")
    }
    assert(notNull.getMessage.contains("null-fill"))
    // nested adds (`ADD COLUMNS (s.inner BIGINT)`) die in Spark's own
    // resolution before reaching the catalog — no struct column exists
    // to anchor them; the top-level guard in alterTable covers the
    // remaining path (a struct-typed table would resolve past Spark)
    val positioned = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.al ADD COLUMNS (early BIGINT FIRST)")
    }
    assert(positioned.getMessage.contains("at the end"))
  }

  test("SHOW TABLES lists the registered names and DESCRIBE TABLE " +
    "serves the stored schema — the first statements a SQL user types") {
    val (cat, root) = freshCatalog()
    Seq("alpha", "beta").foreach { n =>
      val tbl = s"$root/storage/$n"
      Snapshots.init(spark, tbl)
      Snapshots.commit(spark,
        Seq((1L, "x")).toDF("id", "v"), tbl, append = false)
      Catalog.register(spark, root, n, tbl)
    }
    val shown = spark.sql(s"SHOW TABLES IN $cat")
      .select("tableName").as[String].collect().toSet
    assert(shown == Set("alpha", "beta"), s"got $shown")
    val desc = spark.sql(s"DESCRIBE TABLE $cat.alpha")
      .select("col_name", "data_type").as[(String, String)]
      .collect().toMap
    assert(desc.get("id").contains("bigint") &&
      desc.get("v").contains("string"), s"got $desc")
  }

  test("ALTER TABLE with several changes is ATOMIC: a later invalid " +
    "change refuses the whole statement before any generation mints") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/at"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    Catalog.register(spark, root, "at", tbl)
    // the second ADD collides with an existing column — the FIRST add
    // must not land either (no half-applied DDL)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.at ADD COLUMNS (x BIGINT, id STRING)")
    }
    assert(e.getMessage.contains("already exists") ||
      e.getMessage.contains("EXISTS"), e.getMessage)
    assert(Snapshots.latestVersion(spark, tbl).contains(0L),
      "the refused statement must mint NO generation")
    assert(!Snapshots.storedSchema(spark, tbl, 0L).get
      .fieldNames.contains("x"),
      "the first change of the refused statement must not apply")
    // the valid multi-add still works whole
    spark.sql(s"ALTER TABLE $cat.at ADD COLUMNS (x BIGINT, y STRING)")
    assert(Snapshots.storedSchema(spark, tbl,
      Snapshots.latestVersion(spark, tbl).get).get.fieldNames.toSeq ==
      Seq("id", "v", "x", "y"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN route to the column-mapping " +
    "verbs; the mapped face serves its logical names from SQL") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/rn"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "w"),
      tbl, append = false)
    Catalog.register(spark, root, "rn", tbl)
    spark.sql(s"ALTER TABLE $cat.rn RENAME COLUMN v TO label")
    val mapped = Snapshots.readAsOf(spark, tbl,
      Snapshots.latestVersion(spark, tbl).get)
    assert(mapped.columns.toSeq == Seq("id", "label", "w"))
    // the mapped face serves from SQL under its LOGICAL names — the
    // analyzer rule substitutes readAsOf's mapping-translated read
    assert(spark.sql(s"SELECT id, label FROM $cat.rn ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")),
      "the mapped face must serve logical names from SQL")
    spark.sql(s"ALTER TABLE $cat.rn DROP COLUMN w")
    assert(Snapshots.readAsOf(spark, tbl,
      Snapshots.latestVersion(spark, tbl).get).columns.toSeq ==
      Seq("id", "label"))
    val unsupported = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.rn SET TBLPROPERTIES ('k'='v')")
    }
    assert(unsupported.getMessage.contains("ALTER TABLE"))
  }

  test("SQL UPDATE on a partitioned table: fragments follow the data, " +
    "the multi-root face serves through the resolved read, and the " +
    "compacted face plans file-exact again") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/pu"
    Snapshots.init(spark, tbl)
    Snapshots.commitPartitioned(spark,
      Seq((1L, 10L, "p1"), (2L, 20L, "p2"), (3L, 30L, "p2"))
        .toDF("id", "amt", "p"),
      tbl, "p", append = false)
    Catalog.register(spark, root, "pu", tbl)
    spark.sql(s"UPDATE $cat.pu SET amt = amt + 5 WHERE id = 2")
    assert(Snapshots.latestVersion(spark, tbl).contains(1L))
    // the head now mixes data/v0 and data/v1 roots: the plain
    // single-basePath scan cannot serve it, so the analyzer rule
    // substitutes readAsOf's per-root groups — the SELECT answers the
    // post-update face immediately
    assert(spark.sql(s"SELECT id, amt, p FROM $cat.pu ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1L, 10L, "p1"), (2L, 25L, "p2"), (3L, 30L, "p2")),
      "the multi-root post-UPDATE face must serve through the rule")
    spark.sql(s"CALL $cat.system.optimize('pu')")
    assert(spark.sql(s"SELECT id, amt, p FROM $cat.pu ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1L, 10L, "p1"), (2L, 25L, "p2"), (3L, 30L, "p2")))
  }

  test("TRUNCATE TABLE is one empty replace generation: the head " +
    "empties, history below stays time-travelable, inserts refill") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/tr"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl, append = false)
    Catalog.register(spark, root, "tr", tbl)
    spark.sql(s"TRUNCATE TABLE $cat.tr")
    assert(Snapshots.latestVersion(spark, tbl).contains(1L),
      "TRUNCATE must mint exactly one generation")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tr").as[Long].head() == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tr VERSION AS OF 0")
      .as[Long].head() == 2L,
      "the pre-truncate face must stay addressable")
    spark.sql(s"INSERT INTO $cat.tr VALUES (9, 'z')")
    assert(spark.sql(s"SELECT id FROM $cat.tr").as[Long].collect()
      .toSeq == Seq(9L), "the truncated table keeps its schema")
  }

  test("governed-read resolution is memoized: a SECOND SELECT over the " +
    "same DV-governed version opens ZERO additional manifest files, " +
    "answers byte-identically, and a NEW commit invalidates the memo") {
    val (cat, root) = freshCatalog()
    val tbl = s"$root/storage/memo"
    Snapshots.init(spark, tbl)
    Snapshots.commit(spark,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"),
      tbl, append = false)
    Catalog.register(spark, root, "memo", tbl)
    spark.sql(s"DELETE FROM $cat.memo WHERE id <= 3")
    // first governed SELECT: pays the resolution (manifest + sidecars)
    val first = spark.sql(s"SELECT id, v FROM $cat.memo ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(first == (4L to 10L).map(i => (i, s"r$i")))
    // the SECOND statement over the SAME immutable face: every
    // per-statement resolution (loadTable's generation read + DV probe,
    // the governed-read rule's readAsOf) answers from the status-keyed
    // memo — zero manifest files opened (the r20 q73–q80 analysis-time
    // cost, removed)
    val o0 = Snapshots.manifestFilesOpened.get
    val second = spark.sql(s"SELECT id, v FROM $cat.memo ORDER BY id")
      .as[(Long, String)].collect().toSeq
    val opened = Snapshots.manifestFilesOpened.get - o0
    assert(second == first,
      "the memoized resolution must serve the identical face")
    assert(opened == 0L,
      s"a repeated governed SELECT opened $opened manifest files — " +
        "the (path, FileStatus)-keyed memo must answer all of them")
    // invalidation: a NEW DELETE moves the head to a fresh generation
    // file and a fresh DV sidecar — the next SELECT must serve the new
    // face, never the memoized old one
    spark.sql(s"DELETE FROM $cat.memo WHERE id = 10")
    assert(spark.sql(s"SELECT count(*) FROM $cat.memo")
      .as[Long].head() == 6L,
      "a commit after the memoized read must invalidate the memo")
  }

  test("runtime-filter admission derives fresh per filter round: a " +
    "re-executed scan instance handed a DIFFERENT key set must not " +
    "inherit the previous round's intersection") {
    val (cat, root) = freshCatalog()
    val fact = s"$root/storage/refact"
    Snapshots.init(spark, fact)
    // 8 range-clustered files: k=1 lives only in file 1, k=799 only in
    // file 8 — a stale cross-round intersection would be EMPTY
    Snapshots.commitClustered(spark,
      (1L to 800L).map(i => (i, i * 3L)).toDF("k", "v"),
      fact, "k", numFiles = 8, append = false)
    Catalog.register(spark, root, "refact", fact)
    val df = spark.sql(s"SELECT k, v FROM $cat.refact")
    val scan = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan]
        => b.scan.asInstanceOf[org.apache.spark.sql.GraftRuntimePrunedScan]
    }.head
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    def inPred(vals: Seq[Long]) = new Predicate("IN",
      (Expressions.column("k") +:
        vals.map(v => Expressions.literal(Long.box(v)))).toArray[
        org.apache.spark.sql.connector.expressions.Expression])
    scan.filter(Array(inPred(Seq(1L))))
    val round1 = scan.admittedFiles
    assert(round1.exists(n => n >= 1 && n < 8),
      s"round 1 must prune the 8-file fact on k=1, admitted $round1")
    // the SAME scan instance re-filtered with a DISJOINT key set (the
    // reused-exchange / re-optimized-AQE-stage shape): admission must
    // derive from the FULL file list again — the old monotonic
    // intersection would admit ZERO files and silently drop k=799
    scan.filter(Array(inPred(Seq(799L))))
    val round2 = scan.admittedFiles
    assert(round2.exists(n => n >= 1 && n < 8),
      s"round 2 must admit k=799's file from the FULL list, not the " +
        s"previous round's intersection — admitted $round2")
    assert(scan.planInputPartitions().nonEmpty,
      "the re-filtered scan must still plan k=799's file")
  }

  test("runtime-filter shapes: an equi-join hands IN/= predicates to " +
    "the scan; a RANGE join plans no runtime filter at all — range " +
    "admission via stats min/max would be unreachable code") {
    val (cat, root) = freshCatalog()
    val fact = s"$root/storage/shfact"; val dim = s"$root/storage/shdim"
    Snapshots.init(spark, fact); Snapshots.init(spark, dim)
    Snapshots.commitClustered(spark,
      (1L to 800L).map(i => (i, i * 3L)).toDF("k", "v"),
      fact, "k", numFiles = 8, append = false)
    Snapshots.commit(spark,
      (1L to 800L by 50L).map(i => (i, if (i <= 100L) "hot" else "cold"))
        .toDF("k", "seg"), dim, append = false)
    Catalog.register(spark, root, "shfact", fact)
    Catalog.register(spark, root, "shdim", dim)
    val shapes = org.apache.spark.sql.GraftRuntimePrunedScan
      .observedFilterShapes
    shapes.clear()
    // equi-join: Spark's dynamic pruning DOES fire and the arriving
    // shapes are exactly what extractIn admits (IN, or = for a
    // single-value set) — never a range predicate
    val eq = spark.sql(
      s"""SELECT CAST(sum(f.v) AS BIGINT) AS s
         |FROM $cat.shfact f JOIN $cat.shdim d ON f.k = d.k
         |WHERE d.seg = 'hot'""".stripMargin)
    assert(eq.collect().head.getLong(0) == 156L)
    import scala.jdk.CollectionConverters._
    val eqShapes = shapes.asScala.toSet
    assert(eqShapes.nonEmpty && eqShapes.subsetOf(Set("IN", "=")),
      s"equi-join runtime filter shapes were $eqShapes — the IN/= " +
        "contract extractIn is written against")
    // RANGE join on the same governed tables: Spark plans NO runtime
    // V2 filter (dynamic pruning is equi-key-only), so no predicate of
    // any shape reaches the scan — pinning why extractIn carries no
    // range branch (the stats sidecar could answer min/max admission,
    // but Spark never asks)
    shapes.clear()
    val rg = spark.sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n
         |FROM $cat.shfact f JOIN $cat.shdim d ON f.k < d.k
         |WHERE d.seg = 'hot'""".stripMargin)
    // hot dim keys 1 and 51: fact rows with k < 1 (none) plus k < 51
    // (50) = 50 joined rows
    assert(rg.collect().head.getLong(0) == 50L)
    assert(shapes.isEmpty,
      s"range join handed ${shapes.asScala.toSeq} to the scan — if " +
        "Spark ever starts emitting range runtime filters, extractIn " +
        "can now justify a min/max admission leg")
  }

  test("runtime-filter shapes stay bounded: repeated runtime-filtered " +
    "scans record each distinct shape once") {
    val (cat, root) = freshCatalog()
    val fact = s"$root/storage/bdfact"; val dim = s"$root/storage/bddim"
    Snapshots.init(spark, fact); Snapshots.init(spark, dim)
    Snapshots.commitClustered(spark,
      (1L to 800L).map(i => (i, i * 3L)).toDF("k", "v"),
      fact, "k", numFiles = 8, append = false)
    Snapshots.commit(spark,
      (1L to 800L by 50L).map(i => (i, if (i <= 100L) "hot" else "cold"))
        .toDF("k", "seg"), dim, append = false)
    Catalog.register(spark, root, "bdfact", fact)
    Catalog.register(spark, root, "bddim", dim)
    val shapes = org.apache.spark.sql.GraftRuntimePrunedScan
      .observedFilterShapes
    shapes.clear()
    (1 to 3).foreach { _ =>
      val eq = spark.sql(
        s"""SELECT CAST(sum(f.v) AS BIGINT) AS s
           |FROM $cat.bdfact f JOIN $cat.bddim d ON f.k = d.k
           |WHERE d.seg = 'hot'""".stripMargin)
      assert(eq.collect().head.getLong(0) == 156L)
    }
    import scala.jdk.CollectionConverters._
    assert(shapes.size <= 2 && shapes.asScala.toSet.subsetOf(Set("IN", "=")),
      s"three runtime-filtered scans left ${shapes.asScala.toSeq} — " +
        "one entry per distinct shape (IN, =), not one per scan")
  }
}
