package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot versioning over plain parquet — the time-travel /
  * MVCC-lite layer that completes the lakehouse maintenance family
  * ([[IncrementalJoin]] delta maintenance, [[Compaction]] rewrites,
  * [[Skipping]] manifest pruning, [[graft.plans.MvRewrite]] MV
  * redirection): every commit is immutable data files plus a manifest
  * generation listing the FULL file set of that snapshot, so any past
  * version reads back byte-identically until vacuumed.
  *
  * Why a full file list per generation (Iceberg's manifest shape)
  * rather than a delta log (Delta's): reading version v needs no
  * replay — one small manifest filter answers "which files ARE
  * snapshot v", which is O(files of v) regardless of history length.
  * At 100 TB the manifest is metadata-scale (a row per data file per
  * generation, kilobytes per commit), and append-mode commits SHARE
  * the parent's files — only the new rows' files are written, the
  * manifest rows are duplicated pointers, not data.
  *
  * Concurrency contract: version numbers are minted by an ATOMIC
  * create-fails-if-exists claim on a per-version marker file
  * (`_commits/v<N>` via `FileSystem.create(path, overwrite=false)`).
  * That create is a true CAS on filesystems with atomic
  * create-if-absent — HDFS and the local FS, the deployments this
  * layer targets; on object stores (S3A) it degrades to
  * check-then-create, so object-store deployments must serialize
  * commits through a catalog or lock service instead. The claim is
  * retried upward on collision, so two racing committers always mint
  * DISTINCT versions and both survive. On top of the claim, the
  * publish tail RECONCILES lineage by commit class:
  *
  *  - APPEND commits rebase: at publish time the actual latest
  *    published head is re-read and becomes the new generation's
  *    parent file set (appends commute with anything that leaves the
  *    head current — racing appends stack, an append over a racing
  *    replace lands its rows in the post-replace table), verified by a
  *    post-publish check that publishes a corrective generation if a
  *    racer landed inside the check-to-publish window. The one rebase
  *    precondition is WRITE GOVERNANCE: the batch was generated,
  *    constraint-checked and physically translated under the observed
  *    head's constraint/column-mapping/generated-column sidecars, so
  *    if the moved head changed any of those, the append is refused
  *    with a retry-able [[ConcurrentCommitException]] (the retry
  *    re-prepares under the new governance).
  *  - Blind REPLACE commits ([[commit]] with `append = false`) carry
  *    content independent of the head, so last-writer-wins is their
  *    contract: no conflict check, racing replaces both publish and
  *    the higher version is the head.
  *  - DERIVED commits — verbs whose content is COMPUTED FROM the
  *    observed head ([[merge]], [[optimize]], [[rollback]],
  *    [[deleteWhere]], [[replacePartitions]], constraint /
  *    generated-column / column-mapping changes) — refuse with a
  *    retry-able [[ConcurrentCommitException]] when the head moved
  *    past the version they derived from, checked immediately before
  *    publish and verified again after it (a racer landing inside the
  *    narrow check-to-publish window is reported loudly rather than
  *    silently losing its commit).
  *
  * Whole-manifest maintenance ([[vacuum]], [[purgeKeys]]) remains
  * single-maintenance-writer: it refuses when the head moved before
  * its swap, but must not race data commits. A refused or crashed
  * commit leaves orphaned data files and a burned version number — a
  * benign gap ([[removeOrphans]]' territory) which [[readAsOf]]
  * reports loudly. Readers never block: snapshots are immutable and
  * vacuum only deletes files no retained generation references.
  */

/** Optimistic-concurrency refusal: a commit observed one published head
  * but the table's head moved before (or while) the commit published —
  * see the commit-class contract on [[Snapshots]]. Always RETRY-ABLE:
  * re-read the head, re-derive (or re-prepare) the content against it,
  * commit again. The refused attempt's data files and version claim are
  * left behind as a benign numeric gap ([[Snapshots.removeOrphans]]'
  * territory); nothing half-visible is ever published. */
class ConcurrentCommitException(message: String)
  extends RuntimeException(message)

object Snapshots {

  private val DataDir = "data"
  private val VersionsDir = "_versions"
  private val CommitsDir = "_commits"

  /** Scheme-free normalized path — `file:/x`, `file:///x` and `/x`
    * all compare equal. */
  private def normPath(p: String): String = new Path(p).toUri.getPath

  /** Does `file` live under this table's own directory tree? False for
    * EXTERNAL files — pointers into another table left by
    * [[cloneTable]] — which destructive verbs must never delete: the
    * source table still references them. */
  private def ownsFile(tablePath: String, file: String): Boolean =
    normPath(file).startsWith(normPath(tablePath) + "/")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** JVM-wide memo for PATH-ADDRESSED metadata artifacts — one
    * manifest generation file, one published sidecar dir, one catalog
    * doc dir. Entries are keyed by the artifact's `FileStatus`
    * (modificationTime, length) ALONGSIDE the path, so the memo
    * self-invalidates whenever the path is rewritten — including the
    * drop-table-and-recreate-the-same-path loop, where version
    * numbers restart and `v0` names a DIFFERENT artifact (the r20
    * advice against path-only cache keys, which could let a stale
    * bloom key silently false-prune). Artifacts are immutable once
    * published (`errorifexists` writes, rename publishes), so a
    * matching status can only describe the same bytes; a hit costs
    * one getFileStatus RPC where the computed read costs a driver
    * Spark job — the difference that makes per-STATEMENT SQL
    * resolution (loadTable + governed-read substitution, the r20
    * q73–q80 regression cluster) O(RPC) instead of O(jobs). Cached
    * values must be immutable; callers never mutate them.
    *
    * Bounded by LRU EVICTION (access-ordered LinkedHashMap behind a
    * synchronized wrapper), not the former wholesale `clear()` at the
    * cap: a long-lived driver serving many tables crossed the cap
    * periodically and every crossing forced a full re-read storm over
    * EVERY live artifact; evicting only the least-recently-used entry
    * keeps the hot working set warm at any table count. The lock is a
    * driver-side metadata map guarding O(1) operations — never on a
    * per-row path. */
  private val MetaMemoMax = 8192
  private val metaMemo: java.util.Map[(String, Long, Long), AnyRef] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), AnyRef](
        1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), AnyRef])
            : Boolean = size() > MetaMemoMax
      })

  private[graft] def memoizedMeta[T <: AnyRef](
      f: org.apache.hadoop.fs.FileSystem,
      path: Path,
      tag: String)(compute: => T): T = {
    val st =
      try f.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => null }
    if (st == null) return compute // absent: nothing stable to key on
    // `tag` namespaces DIFFERENT derivations of the same artifact
    // (e.g. a stats dir's described-file set vs its key columns)
    val key = (tag + ":" + path.toString, st.getModificationTime,
      st.getLen)
    val hit = metaMemo.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = compute
      metaMemo.put(key, v.asInstanceOf[AnyRef])
      v
    }
  }

  /** Driver-side single-file parquet write for TINY, DRIVER-HELD
    * metadata rows — manifest generations, checkpoints, catalog docs,
    * constraint/mapping sidecars. The metadata plane must not pay a
    * Spark job (scheduler round + task launch + job-commit staging —
    * measured ~170 ms local per write, a multipart commit dance on an
    * object store) to persist rows the driver already holds in a Seq;
    * Delta writes its JSON actions and Iceberg its avro manifests
    * driver-side for exactly this reason. Columns are the nullable
    * long/string shapes every graft metadata schema uses; the written
    * types (optional int64 / optional binary UTF8) read back under
    * Spark as the same long/string columns the Spark-written files
    * carried, and every reader reads its columns by name
    * ([[readMetaParquet]]). CREATE mode refuses an existing
    * destination — the `errorifexists` the Spark writes used. */
  private[graft] def writeMetaParquet(
      conf: org.apache.hadoop.conf.Configuration,
      dest: Path,
      cols: Seq[(String, Boolean)], // (name, isLong); false = string
      rows: Iterable[Seq[Any]]): Unit = {
    import org.apache.parquet.schema.{MessageType, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fields = cols.map { case (n, isLong) =>
      if (isLong) Types.optional(INT64).named(n)
      else Types.optional(BINARY).as(stringType()).named(n)
    }
    val schema = new MessageType("meta",
      fields.toArray[org.apache.parquet.schema.Type]: _*)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(dest, conf))
      .withConf(conf).withType(schema).build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      r.zip(cols).foreach { case (v, (n, _)) =>
        v match {
          case null | None => ()
          case Some(x: Long) => g.add(n, x)
          case Some(s: String) => g.add(n, s)
          case x: Long => g.add(n, x)
          case x: java.lang.Long => g.add(n, x.longValue)
          case s: String => g.add(n, s)
          case other => throw new IllegalArgumentException(
            s"writeMetaParquet: column $n got unsupported value " +
              s"$other (${other.getClass}) — long/string metadata only")
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** The read twin of [[writeMetaParquet]]: the rows of one small
    * metadata parquet file — or of every data file of a directory,
    * `_`/`.` entries skipped (`_SUCCESS`, checksums) — read on the
    * DRIVER with parquet's own record reader, no Spark job (a schema
    * job plus a collect job per file on the `spark.read` path). Each
    * row holds `cols` in the given order, read by name: a column the
    * file lacks (an earlier layout) reads as null, an int32 column
    * widens to long, a UTF8 binary reads as a string. Files written
    * by Spark or by [[writeMetaParquet]] read the same. A missing
    * path throws `FileNotFoundException`. Keeps no cache of its own:
    * callers that re-read memoize through [[memoizedMeta]]. */
  private[graft] def readMetaParquet(
      conf: org.apache.hadoop.conf.Configuration,
      file: Path,
      cols: Seq[String]): Array[Row] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
    import org.apache.parquet.schema.MessageType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // decode only the wanted columns the file has
    val projected = new org.apache.parquet.hadoop.example.GroupReadSupport {
      override def init(ctx: InitContext): ReadSupport.ReadContext = {
        val fileSchema = ctx.getFileSchema
        val present = cols.filter(fileSchema.containsField)
        new ReadSupport.ReadContext(
          if (present.isEmpty) fileSchema
          else new MessageType(fileSchema.getName,
            present.map(n =>
              fileSchema.getType(fileSchema.getFieldIndex(n))): _*))
      }
    }
    def value(g: Group, n: String): Any =
      if (!g.getType.containsField(n) || g.getFieldRepetitionCount(n) == 0)
        null
      else g.getType.getType(n).asPrimitiveType.getPrimitiveTypeName match {
        case INT64 => g.getLong(n, 0)
        case INT32 => g.getInteger(n, 0).toLong
        case BINARY => g.getString(n, 0)
        case other => throw new IllegalStateException(
          s"readMetaParquet: column $n of $file is $other — long/string " +
            "metadata only")
      }
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(projected, file).withConf(conf).build()
    try Iterator.continually(r.read()).takeWhile(_ != null)
      .map(g => Row.fromSeq(cols.map(value(g, _)))).toArray
    finally r.close()
  }

  /** [[writeMetaParquet]] into a DIRECTORY-shaped destination (the
    * sidecar layout Spark's own writer produced: a dir holding one
    * part file), refusing an existing dir — the `errorifexists`
    * contract the Spark writes had. The version-unique dir names are
    * CAS-claimed, so the check-then-write is as race-free as the
    * job-commit rename was. */
  private def writeMetaDir(
      spark: SparkSession,
      dir: String,
      cols: Seq[(String, Boolean)],
      rows: Iterable[Seq[Any]]): Unit = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    if (f.exists(d)) throw new IllegalStateException(
      s"metadata sidecar $dir already exists — refusing to overwrite")
    writeMetaParquet(spark.sparkContext.hadoopConfiguration,
      new Path(d, "part-00000.parquet"), cols, rows)
  }

  /** One data file of a generation: its path, its hive partition
    * fragment (`"event_date=2024-01-03"`; None for a flat commit) and
    * the record count its footer held at commit time (None for
    * generations written before row counts). */
  private[graft] final case class DataFile(
      path: String,
      part: Option[String],
      rows: Option[Long])

  /** One timeline entry: a generation's version, its caller-supplied
    * logical commit stamp and the version its content built on (see
    * [[manifest]]); both are constant per generation. */
  private[graft] final case class Commit(
      version: Long,
      commitTs: Option[Long],
      parent: Option[Long])

  /** One manifest generation, decoded once ([[readGenerations]]): its
    * timeline entry, its data files and the snapshot's stored read
    * schema — None for generations written before stored schemas,
    * whose reads footer-merge. */
  private[graft] final case class Generation(
      commit: Commit,
      files: Seq[DataFile],
      schemaJson: Option[String]) {
    def version: Long = commit.version

    def parent: Option[Long] = commit.parent

    def paths: Seq[String] = files.map(_.path)

    /** The decoded stored schema — parsed on first use. */
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The manifest generation file's column layout for
    * [[writeMetaParquet]], and the order [[readGenerations]] reads it
    * back in. Generations written by earlier layouts may lack the
    * partition, schema, row-count, lineage and/or commit-ts columns;
    * those read as null. */
  private val ManifestCols: Seq[(String, Boolean)] = Seq(
    "version" -> true, "file" -> false, "part" -> false,
    "schema_json" -> false, "rows" -> true, "commit_ts" -> true,
    "parent" -> true)

  /** The timeline columns of a generation or checkpoint file. */
  private val TimelineCols = Seq("version", "commit_ts", "parent")

  /** The rows of manifest-plane files — generations, checkpoints —
    * one array per path, in `cols` order, read on the driver; every
    * path counts as a file opened. Read only by the two decoders
    * below, the one code that knows the row layout. */
  private def readManifestFiles(
      spark: SparkSession,
      paths: Seq[String],
      cols: Seq[String]): Seq[Array[Row]] = {
    manifestFilesOpened.addAndGet(paths.length.toLong)
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map(p => readMetaParquet(conf, new Path(p), cols))
  }

  private def longAt(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  private def stringAt(r: Row, i: Int): Option[String] =
    if (r.isNullAt(i)) None else Some(r.getString(i))

  /** Generation files decoded, one [[Generation]] per file that has
    * rows; every row counts as collected. */
  private def readGenerations(
      spark: SparkSession,
      paths: Seq[String]): Seq[Generation] =
    readManifestFiles(spark, paths, ManifestCols.map(_._1)).flatMap { rows =>
      manifestRowsCollected.addAndGet(rows.length.toLong)
      rows.headOption.map(h => Generation(
        Commit(h.getLong(0), longAt(h, 5), longAt(h, 6)),
        rows.map(r => DataFile(r.getString(1), stringAt(r, 2), longAt(r, 4)))
          .toIndexedSeq,
        rows.collectFirst { case r if !r.isNullAt(3) => r.getString(3) }))
    }

  /** The timeline entries of checkpoint or generation files — each
    * generation's per-file fan-out dropped; every entry counts as a row
    * collected. */
  private def readCommits(
      spark: SparkSession,
      paths: Seq[String]): Seq[Commit] = {
    val commits = readManifestFiles(spark, paths, TimelineCols)
      .flatMap(_.distinct)
      .map(r => Commit(r.getLong(0), longAt(r, 1), longAt(r, 2)))
    manifestRowsCollected.addAndGet(commits.length.toLong)
    commits
  }

  /** [[ManifestCols]]-ordered rows of a generation — the write twin of
    * [[readGenerations]]. */
  private def encode(g: Generation): Seq[Seq[Any]] =
    g.files.map(d => Seq[Any](g.version, d.path, d.part, g.schemaJson,
      d.rows, g.commit.commitTs, g.parent))

  /** Wipe the table root — a fresh snapshot lineage. (Harness queries
    * rebuild their fixture lineage per run; real tables call this
    * never.) */
  def init(spark: SparkSession, tablePath: String): Unit = {
    val f = fs(spark, tablePath)
    val p = new Path(tablePath)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Data files (no `_*` markers) directly under `dir`, as URI
    * strings — the unit the manifest tracks. */
  private def listDataFiles(
      spark: SparkSession,
      dir: String): Seq[String] = {
    val f = fs(spark, dir)
    f.listStatus(new Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
      .toSeq
      .sorted
  }

  /** Crash recovery for [[vacuum]]'s manifest swap: the swap sequence
    * is staged-write → rename live aside to `_versions_prev` → rename
    * staged in → delete prev, so SOME complete manifest exists at every
    * instant. If a crash lands between the two renames, the live dir is
    * missing but the staged one is complete (live is only moved aside
    * AFTER the staged write finishes) — roll it forward. A leftover
    * prev beside a live manifest (crash after the second rename) is
    * inert and cleared at the next vacuum. Answers whether the live
    * manifest dir exists afterwards. */
  private def recoverManifestSwap(
      spark: SparkSession,
      tablePath: String): Boolean = {
    val f = fs(spark, tablePath)
    val live = new Path(s"$tablePath/$VersionsDir")
    val staged = new Path(s"$tablePath/${VersionsDir}_staged")
    f.exists(live) || f.exists(staged) && {
      require(f.rename(staged, live),
        s"manifest swap recovery failed for $tablePath — complete staged " +
          s"manifest at $staged could not be installed")
      true
    }
  }

  /** The manifest frame: one row per (version, file, part,
    * schema_json, rows, commit_ts, parent) — `part` is the hive-style partition path
    * fragment (`"event_date=2024-01-03"`) for files written by
    * [[commitPartitioned]], null for flat commits; `schema_json` is
    * the SNAPSHOT's full read schema (identical on every row of a
    * generation — kilobytes of metadata, the Iceberg move), so
    * [[readAsOf]] plans from the manifest alone instead of
    * footer-merging O(files) parquet footers per time-travel read;
    * `rows` is the file's record count captured from its parquet
    * footer at commit time, so COUNT-shaped questions ([[countAsOf]],
    * [[tableStats]]) answer from metadata without opening a data file;
    * `commit_ts` is the caller-supplied LOGICAL commit timestamp
    * (event-time watermark — e.g. the batch's max event ts — never
    * wall clock, so every read replays deterministically), constant
    * per generation, which [[versionAt]]/[[readAsOfTimestamp]] resolve
    * AS OF TIMESTAMP queries against; `parent` is the version this
    * generation's content BUILT ON (the rebased append parent or the
    * version a derived verb computed from — null for blind replaces,
    * first commits, and pre-lineage layouts), constant per generation,
    * which the publish-time reconciliation walks to tell a successor
    * that SAW a commit from a racer that did not.
    * Empty (with the right schema) when the table has no commits yet.
    * A DataFrame view of [[history]], built on the driver: no Spark
    * job reads it. */
  def manifest(spark: SparkSession, tablePath: String): DataFrame =
    manifestFrame(spark, history(spark, tablePath))

  /** `gens` as a driver-local frame of [[ManifestCols]] rows. */
  private def manifestFrame(
      spark: SparkSession,
      gens: Seq[Generation]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(ManifestCols.map { case (n, isLong) =>
      StructField(n, if (isLong) LongType else StringType,
        nullable = n != "version")
    })
    val rows = gens.flatMap(encode).map(r => Row.fromSeq(r.map {
      case o: Option[_] => o.orNull
      case v => v
    }))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Every generation of the table, version-ascending — the full-history
    * read of the maintenance verbs and the history tables. The
    * `_`-prefixed manifest dir hides it from any scan of the TABLE root
    * (the `_delta_log` convention), so it is assembled from
    * PER-GENERATION reads, each served by the same status-keyed memo
    * [[manifestFor]] uses: a repeated full-history read costs two
    * directory listings plus zero file opens once warm, and history
    * growth re-reads only the new generations. A whole-manifest swap
    * ([[swapManifest]]: vacuum, purgeKeys) rewrites generation files
    * under the SAME names, so one landing between two generation reads
    * would mix pre- and post-swap rows: the assembly re-lists after
    * reading and starts over when a generation it read is gone or
    * carries another status. An append landing meanwhile changes no
    * read generation, so the answer is still the view at the first
    * listing. */
  private[graft] def history(
      spark: SparkSession,
      tablePath: String): Seq[Generation] = {
    var gens = generationStatuses(spark, tablePath)
    while (true) {
      val read = gens.flatMap(g => manifestFor(spark, tablePath, g._1))
      val now = generationStatuses(spark, tablePath)
      if (gens.toSet.subsetOf(now.toSet)) return read
      gens = now
    }
    throw new IllegalStateException("unreachable")
  }

  private def isFileGone(e: Throwable): Boolean = {
    var c = e
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
        (c.getMessage != null &&
          (c.getMessage.contains("FileNotFoundException") ||
            c.getMessage.contains("does not exist"))))
        return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** One manifest generation = one file, its version IN THE NAME —
    * the index that lets every per-version verb read O(files of v)
    * manifest rows instead of the whole history ([[publishRows]]
    * mints the name; [[swapManifest]] preserves it through
    * vacuum/purge rewrites). */
  private val GenFileName = "gen-v(\\d+)\\.parquet".r

  private def genFilePath(tablePath: String, version: Long): String =
    s"$tablePath/$VersionsDir/gen-v$version.parquet"

  /** Every committed generation number, ascending, from ONE listing of
    * the manifest directory — no parquet footer opened, no row
    * collected. The head-resolution primitive: at a year of hourly
    * commits this is one directory listing, where a manifest READ
    * would materialize O(versions × files) rows to the driver. */
  private[graft] def listGenerations(
      spark: SparkSession,
      tablePath: String): Seq[Long] =
    generationStatuses(spark, tablePath).map(_._1)

  /** [[listGenerations]] with each generation file's (modificationTime,
    * length) — the status a rewrite under the same name changes. */
  private def generationStatuses(
      spark: SparkSession,
      tablePath: String): Seq[(Long, (Long, Long))] = {
    val present = recoverManifestSwap(spark, tablePath)
    manifestDirListings.incrementAndGet()
    val dir = new Path(s"$tablePath/$VersionsDir")
    val f = fs(spark, tablePath)
    if (!present) Seq.empty
    else f.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !isCkptFile(n)
    }.map { s =>
      s.getPath.getName match {
        case GenFileName(v) => v.toLong -> (s.getModificationTime -> s.getLen)
        case other => throw new IllegalStateException(
          s"manifest file '$other' in $dir does not carry its generation " +
            "number (gen-v<N>.parquet) — written by a foreign tool? The " +
            "version-bounded reads cannot resolve it")
      }
    }.sortBy(_._1)
  }

  /** ONE generation, read from its own file alone — the
    * version-bounded read every per-version verb plans from: O(files of
    * the version) rows collected, however long the history. None when
    * the generation does not exist (or lists no file) — never
    * committed, retracted by a racing rebase between a listing and this
    * read, or expired by vacuum — callers turn that into their own loud
    * error (or a corrective lap). */
  private def manifestFor(
      spark: SparkSession,
      tablePath: String,
      version: Long): Option[Generation] = {
    manifestReads.incrementAndGet()
    recoverManifestSwap(spark, tablePath)
    val path = new Path(genFilePath(tablePath, version))
    val f = fs(spark, tablePath)
    if (!f.exists(path)) return None
    // memoized per (path, FileStatus): a generation file is immutable
    // once published (vacuum/purge REPLACE it via swapManifest — new
    // status, fresh read), so repeated per-version resolution (every
    // SQL statement's loadTable + governed-read substitution) opens the
    // file once, not per statement
    memoizedMeta(f, path, "gen") {
      try readGenerations(spark, Seq(path.toString)).headOption
      catch {
        // the generation vanished between the exists check and the read
        // (a racer's retraction) — gone is gone, same answer as above;
        // the stale status key can never be consulted again
        case e: Throwable if isFileGone(e) => None
      }
    }
  }

  /** The files of a generation read — none when it found none. */
  private def filesOf(gen: Option[Generation]): Seq[DataFile] =
    gen.fold(Seq.empty[DataFile])(_.files)

  /** The observed head's generation for a verb that derives its content
    * from it. Missing only when a racing publisher retracted the head
    * between its resolution and this read — a retry-able conflict
    * ([[retryOnConflict]]), not a usage error. */
  private def observedGeneration(
      spark: SparkSession,
      tablePath: String,
      observed: Long,
      verb: String): Generation =
    manifestFor(spark, tablePath, observed).getOrElse(
      throw new ConcurrentCommitException(
        s"$verb: version $observed of $tablePath vanished between the " +
          "head resolution and its read — a racing retraction; retry"))

  // ------------------------------------------------------------------
  // MANIFEST CHECKPOINT — the Delta `_last_checkpoint` shape: every
  // [[CheckpointIntervalConf]] commits, (version, commit_ts, parent)
  // for ALL generations rolls into ONE `_checkpoint-v<N>.parquet`, so
  // timeline reads ([[manifestMeta]]: versionAt, contested
  // reconciliation laps, the streaming sink's replay check) open
  // 1 + O(commits since the checkpoint) manifest files instead of
  // O(versions) footers. The `_` prefix hides checkpoint artifacts
  // from [[listDataFiles]], so generation listings and full-history
  // reads never confuse them with gen files. Correct under vacuum
  // WITHOUT a rewrite: readers filter checkpoint rows to the LIVE
  // generation set (one listing they already hold), and a generation's
  // meta is immutable once committed, so stale checkpoints can only
  // over-cover, never lie. A missing/corrupt checkpoint falls back to
  // the full per-file scan — the checkpoint is an accelerator, never a
  // correctness dependency ([[swapManifest]]'s whole-dir swap drops it;
  // the next Nth commit re-rolls).
  //
  // WHY [[listGenerations]] still lists the WHOLE directory (the one
  // O(versions) surface left — pagination cost on an object store at
  // 10k+ generations, nothing more): a `startAfter`-bounded listing
  // that takes liveness-below-the-floor from the checkpoint is NOT
  // sound against this layer's own concurrency model, on three
  // independent grounds. (1) A checkpoint captures the listing AT ROLL
  // TIME, which can include a racer's published-but-unsettled
  // generation that its publisher retracts moments later — the
  // live-listing filter in [[manifestMeta]] exists precisely because
  // checkpoint rows may be RETRACTED rows, and a listing that trusted
  // them would resurrect a generation whose content was deliberately
  // withdrawn (the lost-append class of bug the r19 race work closed).
  // (2) The settled lineage CHAIN cannot stand in for liveness either:
  // blind replaces and [[commitOntoParent]] branch-overs are
  // deliberate chain breaks, so chain-walk liveness would truncate
  // legitimate time-travel history at every replace. (3) gen-v<N>
  // names are not zero-padded, so object-store lexicographic
  // `startAfter` does not even order them numerically — a bounded
  // tail listing needs a layout migration (padded names) plus
  // retraction tombstones that survive the checkpoint floor. The
  // honest fix is that THREE-part change (padded names, retraction
  // tombstones ordered after the floor, settled-only checkpoint
  // capture) — deferred as a deliberate decision rather than
  // half-shipped against the reconciliation protocol's guarantees.
  // ------------------------------------------------------------------

  /** Auto-checkpoint period in COMMITTED VERSIONS (0 disables). The
    * session conf knob lets the soak spec shrink it; 16 keeps the
    * amortized commit cost negligible while bounding every timeline
    * read to ≤ 17 manifest file opens at any history length. */
  private val CheckpointIntervalConf = "graft.manifest.checkpointInterval"
  private val CheckpointIntervalDefault = 16

  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption(CheckpointIntervalConf)
      .map(_.toInt).getOrElse(CheckpointIntervalDefault)

  /** NOT `_`-prefixed: Spark's hidden-path filter would refuse to read
    * it back; [[genFilesOf]] excludes it from generation listings by
    * name instead. */
  private def ckptFilePath(tablePath: String, version: Long): String =
    s"$tablePath/$VersionsDir/checkpoint-v$version.parquet"

  private def isCkptFile(name: String): Boolean =
    name.startsWith("checkpoint-v")

  /** The generation files of a manifest directory listing — checkpoint
    * artifacts excluded. */
  private def genFilesOf(parts: Seq[String]): Seq[String] =
    parts.filterNot(p => isCkptFile(new Path(p).getName))

  private def ckptPointerPath(tablePath: String): Path =
    new Path(s"$tablePath/$VersionsDir/_last_checkpoint")

  /** The one codec of the table's VERSION POINTERS — a Long in a small
    * file: `_last_checkpoint`, tags, the eq-fold intent and branch fork
    * markers. An absent file reads None. A present one that does not
    * parse, or vanishes under the read, throws — unless `lenient`, for
    * the pointers that are accelerators or crash-recovery hints (the
    * checkpoint pointer, the fold intent), which read it as None. */
  private def readPointer(
      f: org.apache.hadoop.fs.FileSystem,
      p: Path,
      lenient: Boolean): Option[Long] =
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val body =
          try {
            val buf = new Array[Byte](64)
            val n = in.read(buf)
            new String(buf, 0, math.max(n, 0), "UTF-8").trim
          } finally in.close()
        Some(body.toLong)
      }
    } catch {
      case e: Throwable if lenient &&
        (e.isInstanceOf[NumberFormatException] || isFileGone(e)) => None
    }

  /** [[readPointer]]'s writer: overwrite `p` with `version`. */
  private def writePointer(
      f: org.apache.hadoop.fs.FileSystem,
      p: Path,
      version: Long): Unit = {
    val out = f.create(p, true)
    try out.write(version.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The `_last_checkpoint` pointer's target version, if a readable
    * pointer exists — a dangling or corrupt pointer answers None (the
    * reader falls back to the full scan, never fails). */
  private[graft] def lastCheckpointVersion(
      spark: SparkSession,
      tablePath: String): Option[Long] =
    readPointer(fs(spark, tablePath), ckptPointerPath(tablePath),
      lenient = true)

  /** Roll the whole timeline's (version, commit_ts, parent) into one
    * checkpoint file at the current head and repoint
    * `_last_checkpoint` — idempotent, and itself accelerated by the
    * previous checkpoint (reads 1 + O(since) files, not the history).
    * Superseded checkpoint files are dropped best-effort after the new
    * pointer lands. Returns the checkpointed head, None on an empty
    * table. */
  private[graft] def checkpointManifest(
      spark: SparkSession,
      tablePath: String): Option[Long] = {
    val meta = manifestMeta(spark, tablePath)
    if (meta.isEmpty) return None
    val cv = meta.map(_.version).max
    val f = fs(spark, tablePath)
    val tmp = new Path(s"$tablePath/${VersionsDir}_ckpt_tmp_v$cv")
    f.delete(tmp, true) // overwrite semantics: a crashed stage re-stages
    writeMetaParquet(spark.sparkContext.hadoopConfiguration, tmp,
      TimelineCols.map(_ -> true),
      meta.map(c => Seq[Any](c.version, c.commitTs, c.parent)))
    val dest = new Path(ckptFilePath(tablePath, cv))
    f.delete(dest, false) // re-checkpointing the same head is idempotent
    require(f.rename(tmp, dest),
      s"manifest checkpoint publish failed for $tablePath at v$cv")
    writePointer(f, ckptPointerPath(tablePath), cv)
    val dir = new Path(s"$tablePath/$VersionsDir")
    f.listStatus(dir)
      .filter(s => s.isFile && isCkptFile(s.getPath.getName) &&
        s.getPath.getName != dest.getName)
      .foreach(s => f.delete(s.getPath, false))
    Some(cv)
  }

  /** One [[Commit]] PER GENERATION. With a
    * checkpoint present this opens ONE checkpoint file plus the gen
    * files NEWER than it (≤ the checkpoint interval, however long the
    * history) — checkpoint rows are filtered to the generations the
    * directory listing still carries, so vacuum/retraction need no
    * checkpoint rewrite. Without one (young table, post-vacuum), every
    * gen file, its per-data-file fan-out dropped. All of it is read on
    * the driver ([[readMetaParquet]]), no Spark job.
    * The timeline / lineage-chain read ([[versionAt]], the
    * reconciliation tails' contested laps, the streaming sink's
    * replay check). */
  private[graft] def manifestMeta(
      spark: SparkSession,
      tablePath: String): Seq[Commit] = {
    manifestReads.incrementAndGet()
    recoverManifestSwap(spark, tablePath)
    val dir = s"$tablePath/$VersionsDir"
    var lastErr: Throwable = null
    var attempt = 0
    while (attempt < 4) {
      attempt += 1
      manifestDirListings.incrementAndGet()
      val parts =
        if (fs(spark, tablePath).exists(new Path(dir)))
          genFilesOf(listDataFiles(spark, dir))
        else Seq.empty
      if (parts.isEmpty) return Seq.empty
      val byVersion: Map[Long, String] = parts.map { p =>
        new Path(p).getName match {
          case GenFileName(v) => v.toLong -> p
          case other => throw new IllegalStateException(
            s"manifest file '$other' in $dir does not carry its " +
              "generation number (gen-v<N>.parquet) — written by a " +
              "foreign tool? The version-bounded reads cannot resolve it")
        }
      }.toMap
      try {
        val ckpt: Option[(Long, Seq[Commit])] =
          lastCheckpointVersion(spark, tablePath).flatMap { cv =>
            val cp = ckptFilePath(tablePath, cv)
            try {
              if (!fs(spark, tablePath).exists(new Path(cp))) None
              else Some((cv, readCommits(spark, Seq(cp))))
            } catch {
              // a vanished, torn or unreadable checkpoint falls back
              // to the full per-file scan — never a read failure
              case scala.util.control.NonFatal(_) => None
            }
          }
        val (base, newerPaths) = ckpt match {
          case Some((cv, commits)) =>
            (commits.filter(c => byVersion.contains(c.version)),
              byVersion.view.filterKeys(_ > cv).values.toSeq.sorted)
          case None => (Seq.empty, parts)
        }
        return base ++ readCommits(spark, newerPaths)
      } catch {
        case e: Throwable if isFileGone(e) => lastErr = e
      }
    }
    throw lastErr
  }

  /** version → recorded lineage parent for every generation, from
    * [[manifestMeta]] — what [[inLineage]] walks. Read only on
    * CONTESTED reconciliation laps; the settled common case resolves
    * from the listing alone. */
  private def manifestChain(
      spark: SparkSession,
      tablePath: String): Map[Long, Option[Long]] =
    manifestMeta(spark, tablePath).map(c => c.version -> c.parent).toMap

  /** Latest committed version, or None for an empty table — resolved
    * from the manifest directory LISTING alone (the generation numbers
    * live in the filenames), zero rows read. */
  def latestVersion(spark: SparkSession, tablePath: String): Option[Long] =
    listGenerations(spark, tablePath).lastOption

  /** Generation `version`'s recorded lineage parent, that parent's
    * files, and the files `version` ADDED relative to it — the
    * reconciliation-safe "fresh files of this commit" (a `data/v<N>/`
    * path filter breaks when [[publishAppend]] publishes a corrective
    * lap under a higher version than the dir the batch was written
    * to; the pre-claim observed head breaks when the reconciliation
    * REBASED the append onto a racer's head). A parent-less generation
    * (first commit, blind replace) is wholly fresh; a derived replace's
    * parent files left the lineage, so subtracting them is a no-op.
    * Two single-generation reads (the version's, its parent's) — never
    * the history. */
  private final case class Lineage(
      parent: Option[Long],
      parentFiles: Set[String],
      fresh: Seq[String])

  private def lineageOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Lineage = {
    val gen = manifestFor(spark, tablePath, version)
    val parent = gen.flatMap(_.parent)
    val parentFiles = parent
      .flatMap(p => manifestFor(spark, tablePath, p))
      .fold(Set.empty[String])(_.paths.toSet)
    Lineage(parent, parentFiles,
      gen.fold(Seq.empty[String])(_.paths.filterNot(parentFiles)))
  }

  /** Atomically claim the next free version number at or above `from`:
    * `create(marker, overwrite = false)` either creates the marker —
    * the claim — or throws because a racing (or crashed) committer owns
    * that number, in which case the next number is tried. This is the
    * CAS that makes concurrent commits mint DISTINCT versions instead
    * of silently merging their file sets under one number. */
  private[graft] def claimVersion(
      spark: SparkSession,
      tablePath: String,
      from: Long): Long = {
    val f = fs(spark, tablePath)
    var v = from
    while (true) {
      if (tryCreateExclusive(f, new Path(s"$tablePath/$CommitsDir/v$v")))
        return v
      v += 1L
    }
    v // unreachable
  }

  /** Atomically create the claim marker, false on a benign collision.
    * HDFS `create(overwrite = false)` IS atomic, but the LOCAL
    * FileSystem's is check-then-create — two racing claimants can BOTH
    * "succeed" on one marker and mint the SAME version (surfacing
    * later as a spurious errorifexists collision on the staging dirs)
    * — so `file://` routes through POSIX O_CREAT|O_EXCL
    * (`File.createNewFile`), which is atomic. Object stores without
    * atomic create serialize commits through a catalog or lock service
    * (the standing note on [[Snapshots]]). */
  private def tryCreateExclusive(
      f: org.apache.hadoop.fs.FileSystem,
      p: Path): Boolean =
    if ("file" == f.getUri.getScheme) {
      val local = new java.io.File(p.toUri.getPath)
      val dir = local.getParentFile
      if (dir != null) dir.mkdirs()
      local.createNewFile() // atomic; false = a racer owns the number
    } else {
      try { f.create(p, false).close(); true }
      catch {
        case e: java.io.IOException =>
          // only an existing marker is a benign collision; a real IO
          // failure must not spin the claim loop forever
          if (f.exists(p)) false else throw e
      }
    }

  /** Shared commit tail: the observed parent generation's rows (for
    * append) plus fresh rows under one claimed version, published as
    * one manifest generation. `parent` is the latest PUBLISHED version
    * observed BEFORE the claim — never `version - 1`, which after a
    * crashed claim (or beside a racer's still-unpublished lower
    * number) is a numeric gap with no manifest rows, and an append
    * resolved through it would publish only the fresh files, silently
    * truncating the table. The manifest append is the PUBLISH point —
    * a crash before it leaves an orphaned marker and unreferenced data
    * files (a version gap that [[readAsOf]] reports loudly), never a
    * half-visible snapshot. */
  private def publish(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      fresh: Seq[DataFile],
      parent: Option[Long],
      freshSchema: org.apache.spark.sql.types.StructType,
      commitTs: Option[Long] = None): Long = {
    // ONE single-generation read answers the parent's files AND its
    // stored schema
    val parentGen = parent.flatMap(v => manifestFor(spark, tablePath, v))
    publishRows(spark, tablePath, Generation(
      Commit(version, commitTs, parent),
      filesOf(parentGen) ++ fresh,
      Some(evolvedSchema(parentGen, freshSchema).json)))
  }

  /** A generation's read schema: an append's is its parent's stored
    * schema merged with the fresh batch's (schema evolution — new
    * columns join the table, parent rows null-fill), a replace's — or
    * one over a parent without a stored schema — the fresh batch's
    * alone. Persisted per generation so readers never footer-merge. */
  private def evolvedSchema(
      parent: Option[Generation],
      freshSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    parent.flatMap(_.schema)
      .map(ps => mergeSchemas(ps, nullableTop(freshSchema)))
      .getOrElse(nullableTop(freshSchema))

  /** The sanctioned retry loop of the optimistic-concurrency contract:
    * run `body` — a commit attempt that RE-READS the head and
    * RE-DERIVES its content on every call, which is what makes a
    * [[ConcurrentCommitException]] retry-able at all — until it
    * publishes or `maxAttempts` conflicts burn (then the LAST conflict
    * rethrows). Appends rarely need it ([[publishAppend]] rebases
    * internally); it exists for the DERIVED verbs (merge, optimize,
    * deleteWhere, replacePartitions, metadata changes) whose content
    * must be recomputed against the moved head, and for the
    * maintenance verbs' pre-swap refusals. Every refused attempt
    * already retracted its staged generation and sidecars, so a retry
    * never sees half-published state — pass the WHOLE derive-and-commit
    * step as `body`, never a pre-derived frame captured outside it. */
  def retryOnConflict[T](maxAttempts: Int = 5)(body: => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be positive")
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Is `anc` on the recorded parent lineage of `from` (inclusive)?
    * A chain break — a retracted, vacuumed, blind-replace, or
    * pre-lineage generation — answers false: reconciliation treats an
    * unprovable ancestry as a conflict, never as consent. */
  private def inLineage(
      chain: Map[Long, Option[Long]],
      anc: Long,
      from: Long): Boolean = {
    var v = from
    while (true) {
      if (v == anc) return true
      chain.get(v).flatten match {
        case Some(p) if p < v => v = p
        case _ => return false
      }
    }
    false // unreachable; p < v bounds the walk
  }

  /** Presence-only marker naming generation `version` a DELIBERATE
    * [[commitOntoParent]] branch-over: the generations between its
    * recorded parent and it were skipped on purpose and are permanent
    * (unpinned-dead by the atomic-commit contract), NOT a racing
    * publish about to retract. Readers that find interior generations
    * classify by this marker DETERMINISTICALLY instead of by a bounded
    * wait — the wait survives only as the liveness fallback for the
    * genuinely ambiguous case (a crashed publisher's unmarked doomed
    * head). `_`-prefixed so generation listings never see it; written
    * BEFORE the branch-over's manifest rename so any reader that sees
    * the generation also sees the marker. */
  private def branchOverMarker(tablePath: String, version: Long): Path =
    new Path(s"$tablePath/$VersionsDir/_branchover-v$version")

  private[graft] def isBranchOver(
      spark: SparkSession,
      tablePath: String,
      version: Long): Boolean =
    fs(spark, tablePath).exists(branchOverMarker(tablePath, version))

  /** Withdraw a generation attempt: its manifest file (if it
    * published) and every version-keyed sidecar dir its verb may have
    * written before the refusal — without this, a refused
    * [[deleteWhere]]'s deletion-vector sidecar would keep GOVERNING later
    * reads through latest-at-or-below resolution, applying deletes
    * that were never committed. Data files stay ([[removeOrphans]]'
    * territory) and the claim marker stays burned (a benign numeric
    * gap — claims must never be re-mintable). */
  private def retractVersion(
      spark: SparkSession,
      tablePath: String,
      version: Long): Unit = {
    val f = fs(spark, tablePath)
    f.delete(new Path(s"$tablePath/$VersionsDir/gen-v$version.parquet"),
      false)
    f.delete(branchOverMarker(tablePath, version), false)
    sidecarFamilies.foreach(fam =>
      f.delete(new Path(fam.dirAt(tablePath, version)), true))
  }

  /** The write-governance fingerprint of `version`: the sidecar
    * generations whose content [[writeBatch]] bakes
    * into a batch (CHECK constraints, column mapping, generated
    * columns — deletion vectors govern reads, not batch preparation).
    * An append may rebase onto a moved head exactly when this
    * fingerprint is unchanged; otherwise its already-written files
    * were prepared under governance the new head revoked. */
  private def prepGovernanceAt(
      spark: SparkSession,
      tablePath: String,
      version: Option[Long]): Seq[Option[Long]] =
    GovFamilies.map(g => version.flatMap(v =>
      sidecarResolve(spark, g.root(tablePath), v).map(_._1)))

  /** The APPEND commit tail with publish-time reconciliation (see the
    * commit-class contract in the object scaladoc). Each lap's
    * point-in-time view is ONE listing of the manifest directory (the
    * version numbers) plus ONE single-generation read (the head's own
    * file) — O(files of the head) rows, never the history. A racer's
    * publish or retraction landing between the listing and the head
    * read surfaces as an EMPTY head read, which costs one corrective
    * lap instead of a torn union (a publish rebased on a vanished head
    * would silently truncate the table — the guard below). A publish
    * SETTLES when the head descends from it AND no racer's generation
    * sits strictly between its recorded parent and it; that contiguity
    * check is what catches the claims-inverted window (a racer with a
    * LOWER claim publishing after our head-read lands below us,
    * invisible to any head-only check) — and it reads NOTHING on the
    * common uncontested lap (head == published settles from the
    * listing alone; the lineage chain is consulted only when
    * contested). An unsettled publish is RETRACTED and the next lap
    * rebases the same fresh files onto the then-current head, so no
    * generation ever unions content it cannot see whole. Converges
    * because each publish is a filesystem-serialized rename and the
    * racer population is finite; the lap bound is a loud backstop, not
    * a correctness device. */
  private[graft] def publishAppend(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      fresh: Seq[DataFile],
      observed: Option[Long],
      freshSchema: org.apache.spark.sql.types.StructType,
      ts: Option[Long]): Long = {
    val freshFiles = fresh.map(_.path).toSet
    val prepGov = prepGovernanceAt(spark, tablePath, observed)
    var claimed = version
    var published = -1L
    var parentUsed: Option[Long] = None
    var parentOfParent: Option[Long] = None
    // interior generations KNOWN at rebase time — a commitOntoParent
    // branch-over's permanent skipped generations, accepted after the
    // bounded wait below; only interiors that appear AFTER the rebase
    // read are genuine shadows
    var parentInterior: Set[Long] = Set.empty
    var shadowWait: Option[(Long, Int)] = None
    var laps = 0
    while (laps < 16) {
      laps += 1
      val versions = listGenerations(spark, tablePath)
      val head = versions.lastOption
      val retractedThisLap =
        if (published < 0) false
        else {
          val shadowed = versions.exists(v =>
            v > parentUsed.getOrElse(-1L) && v < published)
          // the PARENT we rebased on may itself have been shadowed by a
          // racer whose lower-claimed generation renamed in after our
          // rebase read — its publisher will retract it, and our
          // generation would carry a file set missing the shadow's
          // settled rows. Settling anyway is exactly how a committed
          // row gets lost; withdraw and rebase onto the post-retraction
          // head instead.
          // (a PARENTLESS rebase parent — first commit or blind
          // replace — cannot be shadowed: blind is last-writer-wins
          // by contract, so lower generations are superseded, not
          // shadows; interiors already known at rebase time are a
          // branch-over's deliberate skips, not shadows)
          val parentShadowed = parentUsed.exists(p =>
            versions.contains(p) && parentOfParent.exists(pp =>
              versions.exists(v => v > pp && v < p &&
                !parentInterior.contains(v))))
          if (!shadowed && !parentShadowed && head.exists { h =>
            h == published ||
              inLineage(manifestChain(spark, tablePath), published, h) ||
              freshFiles.subsetOf(manifestFor(spark, tablePath, h)
                .fold(Set.empty[String])(_.paths.toSet))
          }) {
            maybeCheckpointManifest(spark, tablePath, published)
            return published
          }
          // shadowed, or superseded without our rows: withdraw and
          // rebase next lap (the retracted number stays burned; the
          // next lap's listing sees the retraction)
          retractVersion(spark, tablePath, published)
          published = -1L
          true
        }
      if (!retractedThisLap) {
        if (head != observed &&
          prepGovernanceAt(spark, tablePath, head) != prepGov) {
          throw new ConcurrentCommitException(
            s"append to $tablePath was prepared under the constraint/" +
              s"column-mapping/generated-column governance of version " +
              s"${observed.fold("<empty>")(_.toString)}, but the " +
              s"published head moved to " +
              s"${head.fold("<empty>")(_.toString)} under different " +
              "governance — re-prepare and retry")
        }
        // a head at or above our claimed number would leave this
        // generation below the maximum and invisible — re-claim above
        // it (the superseded claim burns as a benign gap)
        if (head.exists(_ >= claimed))
          claimed = claimVersion(spark, tablePath, head.get + 1L)
        val headGen = head.flatMap(h => manifestFor(spark, tablePath, h))
        val headParent = headGen.flatMap(_.parent)
        val interior: Set[Long] = headParent.map(p =>
          versions.filter(v => v > p && v < head.get).toSet)
          .getOrElse(Set.empty)
        if (head.isDefined && headGen.isEmpty) {
          // the listed head was retracted between the listing and its
          // read — rebasing on it would publish only the fresh files,
          // silently truncating the table; take a fresh lap instead
          shadowWait = None
          Thread.sleep(20L)
        } else if (head.isDefined && interior.nonEmpty &&
          !isBranchOver(spark, tablePath, head.get) && {
          // the listed head LOOKS shadowed — a generation sits between
          // it and its recorded parent. Either a lower-claimed racer's
          // publish just landed and the head's publisher is about to
          // retract it (rebasing would inherit a file set missing the
          // shadow's settled rows — the lost-append hole), or this is
          // commitOntoParent's DELIBERATE branch-over, whose interior
          // generations are permanent and unpinned-dead by contract.
          // A marked branch-over classifies instantly above; the
          // bounded wait below survives only for UNMARKED heads — a
          // doomed head retracts within its publisher's settle lap,
          // and one still standing after the wait is treated as
          // permanent (the liveness fallback for a publisher that
          // crashed between its publish and its retraction).
          val waited = shadowWait match {
            case Some((h, n)) if head.contains(h) => n + 1
            case _ => 1
          }
          shadowWait = Some((head.get, waited))
          waited < 8
        }) {
          Thread.sleep(50L)
        } else {
          parentUsed = head
          parentOfParent = headParent
          parentInterior = interior
          shadowWait = None
          // a relap after someone built on our retracted generation
          // could find our fresh paths already in the head — filter
          // them so a manifest row never duplicates (belt-and-braces;
          // the rebase guard above prevents the cause)
          published = publishRows(spark, tablePath, Generation(
            Commit(claimed, ts, head),
            filesOf(headGen)
              .filterNot(d => freshFiles.contains(d.path)) ++ fresh,
            Some(evolvedSchema(headGen, freshSchema).json)))
        }
      }
    }
    throw new ConcurrentCommitException(
      s"append to $tablePath did not reconcile — 16 corrective laps " +
        "lost to racing commits; retry")
  }

  /** The DERIVED commit tail (see the commit-class contract in the
    * object scaladoc): content computed FROM `derivedFrom` may publish
    * only while `derivedFrom` is still the head — checked immediately
    * before the publish rename, and verified again after it by looking
    * for a racer's generation strictly between `derivedFrom` and
    * `version` (a lower claim landing inside the check-to-publish
    * window). Either refusal retracts this attempt's manifest
    * generation and sidecars and throws the retry-able
    * [[ConcurrentCommitException]] — the loser is told loudly, never
    * silently shadowed. */
  private[graft] def publishDerived(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      files: Seq[DataFile],
      schemaJson: String,
      ts: Option[Long],
      derivedFrom: Long,
      verb: String): Long = {
    val pre = latestVersion(spark, tablePath)
    if (!pre.contains(derivedFrom)) {
      retractVersion(spark, tablePath, version)
      throw new ConcurrentCommitException(
        s"$verb derived its content from version $derivedFrom of " +
          s"$tablePath, but the published head is now " +
          s"${pre.fold("<empty>")(_.toString)} — re-read and retry")
    }
    // content computed from a SHADOWED head bakes its doomed file set
    // (missing the shadow's settled rows) into the replace — the same
    // lost-append hole the rebase guard closes; checked against the
    // recorded parent both before and after the publish rename. An
    // interior generation that SURVIVES a bounded wait is
    // commitOntoParent's deliberate branch-over (permanent, its rows
    // unpinned-dead by contract) — accepted, and only interiors that
    // appear AFTER it refuse.
    val dfParent = manifestFor(spark, tablePath, derivedFrom).flatMap(_.parent)
    def interiorOf(versions: Seq[Long]): Set[Long] =
      dfParent.map(p =>
        versions.filter(v => v > p && v < derivedFrom).toSet)
        .getOrElse(Set.empty)
    var preInterior = interiorOf(listGenerations(spark, tablePath))
    var waitLaps = 0
    // a MARKED derivedFrom is a deliberate branch-over: its interiors
    // are permanent by contract — classify instantly, no wait lap paid
    if (preInterior.nonEmpty && isBranchOver(spark, tablePath, derivedFrom))
      waitLaps = 8
    while (preInterior.nonEmpty && waitLaps < 8) {
      waitLaps += 1
      Thread.sleep(50L)
      val vs = listGenerations(spark, tablePath)
      if (!vs.contains(derivedFrom)) {
        retractVersion(spark, tablePath, version)
        throw new ConcurrentCommitException(
          s"$verb derived its content from version $derivedFrom of " +
            s"$tablePath, which a racing commit shadowed and its " +
            "publisher retracted — re-read and retry")
      }
      preInterior = interiorOf(vs)
    }
    publishRows(spark, tablePath, Generation(
      Commit(version, ts, Some(derivedFrom)), files, Option(schemaJson)))
    // ONE post-publish LISTING answers both window checks on the
    // uncontested path (version numbers alone); the lineage chain — a
    // per-generation projection, O(generations) rows — is read only
    // when the head moved past us
    val versions = listGenerations(spark, tablePath)
    val shadowed = versions.find(v => v > derivedFrom && v < version)
      .orElse(
        if (versions.contains(derivedFrom))
          (interiorOf(versions) -- preInterior).headOption
        else None)
    if (shadowed.isDefined) {
      retractVersion(spark, tablePath, version)
      throw new ConcurrentCommitException(
        s"$verb published version $version of $tablePath derived from " +
          s"$derivedFrom, but version ${shadowed.get} " +
          "landed concurrently in between or below it — retracted; " +
          "re-read and retry")
    }
    // the symmetric window: a racer with a HIGHER claim whose whole
    // check-publish-check sequence ran between our pre-check and our
    // publish settles without ever seeing us (we were unpublished at
    // its between-check) — if the head does not descend from us, we
    // are the shadowed one and must withdraw
    val after = versions.lastOption
    if (!after.contains(version) &&
      !after.exists(h =>
        inLineage(manifestChain(spark, tablePath), version, h))) {
      retractVersion(spark, tablePath, version)
      throw new ConcurrentCommitException(
        s"$verb published version $version of $tablePath derived from " +
          s"$derivedFrom, but the head moved to " +
          s"${after.fold("<empty>")(_.toString)} without descending " +
          "from it — retracted; re-read and retry")
    }
    maybeCheckpointManifest(spark, tablePath, version)
    version
  }

  /** The stored read schema of one generation, if its manifest carries
    * one (generations written by earlier layouts don't — their reads
    * fall back to footer-merging). */
  def storedSchema(
      spark: SparkSession,
      tablePath: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    manifestFor(spark, tablePath, version).flatMap(_.schema)

  /** Top-level nullable copy (parquet reads surface every column as
    * nullable; storing the schema that way keeps the manifest's word
    * identical to what a reader observes). */
  private def nullableTop(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true)))

  /** Append-evolution schema merge: parent columns keep their position,
    * fresh-only columns join at the end. A shared column's type must
    * match OR be a SAFE WIDENING pair — int→long, float→double, in
    * EITHER direction (the merged schema carries the wide type; the
    * Spark 4 vectorized parquet reader up-casts the narrow files at
    * scan time, so history is read through the widened schema with
    * zero rewrite — the Iceberg/Delta type-promotion rule, metadata
    * only). Past generations keep their own stored schema, so time
    * travel below the widening commit still answers the narrow type.
    * Any other retype is refused loudly — rewriting history's types is
    * a replace commit's job, not an append's. */
  private def mergeSchemas(
      parent: org.apache.spark.sql.types.StructType,
      fresh: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def widened(a: DataType, b: DataType): Option[DataType] = (a, b) match {
      case _ if a == b => Some(a)
      case (IntegerType, LongType) | (LongType, IntegerType) =>
        Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case _ => None
    }
    val merged = parent.fields.map { pf =>
      fresh.fields.find(_.name == pf.name) match {
        case None => pf
        case Some(ff) =>
          val w = widened(pf.dataType, ff.dataType)
          require(w.isDefined,
            s"append cannot change column '${pf.name}' from " +
              s"${pf.dataType.simpleString} to ${ff.dataType.simpleString} " +
              "— only int→long and float→double widen as metadata; " +
              "commit a replace version to retype")
          pf.copy(dataType = w.get)
      }
    }
    val known = parent.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      merged ++ fresh.fields.filterNot(f => known.contains(f.name)))
  }

  /** Per-file record counts read from the parquet FOOTERS of freshly
    * committed files — O(new files) metadata reads at commit time,
    * never a data scan (the Iceberg writer-stats retrofit: a writer
    * that gathered counts from its tasks would skip even the footer
    * read, but a commit already pays O(new files) listing, so the
    * footer pass rides the same budget). Small batches read serially
    * on the driver; past [[FooterFanoutThreshold]] files the footer
    * opens fan out as one executor job — a 10⁵-file commit must not
    * serialize 10⁵ round-trips through one thread (executors rebuild
    * the Hadoop conf from their own classpath site files, the same
    * config every task-side reader uses). */
  private val FooterFanoutThreshold = 16

  /** [[swapManifest]] stages ≤ this many retained generations
    * driver-side; past it the partitioned write job's executor fan-out
    * beats a sequential driver loop. */
  private val SwapManifestFanoutThreshold = 64

  private def footerCounts(
      spark: SparkSession,
      files: Seq[DataFile]): Seq[DataFile] = {
    def readOne(conf: org.apache.hadoop.conf.Configuration)(
        f: String): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount
      finally r.close()
    }
    if (files.size <= FooterFanoutThreshold) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map(d => d.copy(rows = Some(readOne(conf)(d.path))))
    } else {
      val counts = spark.sparkContext
        .parallelize(files.map(_.path), math.min(files.size, 64))
        .map { f =>
          f -> readOne(new org.apache.hadoop.conf.Configuration())(f)
        }
        .collect().toMap
      files.map(d => d.copy(rows = Some(counts(d.path))))
    }
  }

  private def publishRows(
      spark: SparkSession,
      tablePath: String,
      gen: Generation): Long = {
    val version = gen.version
    // one generation = one manifest file, staged at a version-unique
    // temp name and RENAMED in — never `mode("append")` into the shared
    // manifest dir, whose job-commit staging (`_temporary/0`) is a
    // single name that concurrent committers would clobber. The rename
    // is the atomic publish: a racing reader sees the generation
    // entirely or not at all. Written DRIVER-SIDE ([[writeMetaParquet]]):
    // the rows are already a driver Seq, and a Spark job per commit
    // put ~170 ms of scheduler+commit-protocol overhead on every
    // statement's critical path.
    val f = fs(spark, tablePath)
    val tmp = new Path(s"$tablePath/${VersionsDir}_tmp_v$version")
    writeMetaParquet(spark.sparkContext.hadoopConfiguration, tmp,
      ManifestCols, encode(gen))
    val live = new Path(s"$tablePath/$VersionsDir")
    if (!f.exists(live)) f.mkdirs(live)
    require(f.rename(tmp,
      new Path(s"$tablePath/$VersionsDir/gen-v$version.parquet")),
      s"manifest publish failed for version $version of $tablePath")
    version
  }

  /** Every Nth version rolls the timeline into a fresh checkpoint — an
    * accelerator only (a failure must never fail the commit that
    * already published; the stale checkpoint stays valid). Called at
    * SETTLE points, never inside [[publishRows]]: a checkpoint write
    * inside the publish-to-settle window widens the doomed-head race
    * the reconciliation guards from microseconds to a full Spark job
    * (found by the checkpoint race spec). */
  private def maybeCheckpointManifest(
      spark: SparkSession,
      tablePath: String,
      version: Long): Unit = {
    val interval = checkpointInterval(spark)
    if (interval > 0 && version > 0 && version % interval == 0)
      try checkpointManifest(spark, tablePath)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Commit `df` as the next version. `append = true` makes the new
    * snapshot the parent's files PLUS the newly written ones (no data
    * rewritten — the O(delta) fast path), reconciled against racing
    * commits by [[publishAppend]]; `append = false` makes it exactly
    * the newly written files (replace: corrections, deletes,
    * compactions) — blind last-writer-wins, unless `derivedFrom` names
    * the head version the replacement content was COMPUTED from, which
    * makes it a derived commit ([[publishDerived]]): refused with a
    * retry-able [[ConcurrentCommitException]] if the head moved. The
    * version number comes from [[claimVersion]]'s CAS, so racing
    * committers always mint distinct versions. Returns the minted
    * version. */
  def commit(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      append: Boolean,
      ts: Option[Long] = None,
      derivedFrom: Option[Long] = None,
      verb: String = "commit"): Long = {
    val observed = latestVersion(spark, tablePath)
    val version = claimVersion(spark, tablePath,
      observed.map(_ + 1L).getOrElse(0L))
    val w = writeBatch(spark, tablePath, version,
      observed.map(sidecarPass(spark, tablePath, _, GovFamilies)), df)
    if (append)
      publishAppend(spark, tablePath, version, w.fresh, observed, w.schema,
        ts)
    else derivedFrom match {
      case Some(d) =>
        publishDerived(spark, tablePath, version, w.fresh,
          nullableTop(w.schema).json, ts, d, verb)
      case None =>
        publish(spark, tablePath, version, w.fresh, None, w.schema, ts)
    }
  }

  /** Append `df` onto an EXPLICIT parent generation rather than the
    * physical head — the cross-table atomic commit's convergence verb
    * ([[graft.operators.Catalog.commitAtomic]]): after a torn
    * multi-table commit, a table's physical head may be a generation
    * NO catalog reader ever saw (committed, never pinned), and a
    * plain append-retry would double its rows into the table. This
    * verb BRANCHES OVER such generations: the new generation's
    * manifest rows are the stated parent's plus the fresh files', its
    * recorded lineage parent is the stated one, and the batch is
    * prepared under the PARENT's governance (the pinned lineage's
    * constraints/mapping/generated columns — a governance change
    * committed outside the pinned lineage is branched over with the
    * data, the same boundary). The version still claims above the
    * physical head so the generation is the new maximum. The
    * branched-over generation's rows stay unpinned and die by
    * retention. Single-logical-writer per table (the catalog commit's
    * own contract); racing path-direct appends may interleave their
    * rows out of the branch, which is exactly what pinning readers to
    * catalog generations is for. */
  def commitOntoParent(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      parent: Option[Long],
      ts: Option[Long] = None): Long = {
    parent.foreach { p =>
      require(manifestFor(spark, tablePath, p).nonEmpty,
        s"commitOntoParent: parent version $p of $tablePath is not in " +
          "the manifest (never committed, or expired by vacuum)")
    }
    val head = latestVersion(spark, tablePath)
    val version = claimVersion(spark, tablePath,
      head.map(_ + 1L).getOrElse(0L))
    val w = writeBatch(spark, tablePath, version,
      parent.map(sidecarPass(spark, tablePath, _, GovFamilies)), df)
    // branching over the physical head (parent != head) skips interior
    // generations PERMANENTLY — mark the generation BEFORE its manifest
    // publishes, so any reader that sees it classifies its interiors as
    // deliberate instead of waiting out the doomed-racer heuristic
    if (head != parent) {
      val f = fs(spark, tablePath)
      val live = new Path(s"$tablePath/$VersionsDir")
      if (!f.exists(live)) f.mkdirs(live)
      f.create(branchOverMarker(tablePath, version), true).close()
    }
    publish(spark, tablePath, version, w.fresh, parent, w.schema, ts)
  }

  /** [[commit]] over a HIVE-PARTITIONED layout: the batch is written
    * `partitionBy(partCol)` (one `partCol=value/` directory per value),
    * and every manifest row carries its partition fragment — so
    * [[scanPartitionAsOf]] can answer "partition P as of version V"
    * from the manifest alone, touching no other partition's directory,
    * and [[readAsOf]] rebuilds the partition column from the paths.
    * Time travel × partition skip is the standard lakehouse
    * composition (an IVF cell store or a by-date event table can now
    * be versioned); append commits still share the parent's files,
    * partition fragments and all. */
  def commitPartitioned(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partCol: String,
      append: Boolean,
      ts: Option[Long] = None,
      derivedFrom: Option[Long] = None,
      verb: String = "commitPartitioned"): Long = {
    require(df.columns.contains(partCol),
      s"commitPartitioned: frame has no column '$partCol'")
    val observed = latestVersion(spark, tablePath)
    val version = claimVersion(spark, tablePath,
      observed.map(_ + 1L).getOrElse(0L))
    val w = writeBatch(spark, tablePath, version,
      observed.map(sidecarPass(spark, tablePath, _, GovFamilies)), df,
      Some(partCol))
    if (append)
      publishAppend(spark, tablePath, version, w.fresh, observed, w.schema,
        ts)
    else derivedFrom match {
      case Some(d) =>
        publishDerived(spark, tablePath, version, w.fresh,
          nullableTop(w.schema).json, ts, d, verb)
      case None =>
        publish(spark, tablePath, version, w.fresh, None, w.schema, ts)
    }
  }

  /** The files of a freshly written partitioned batch, uncounted. */
  private def listPartitionedFiles(
      spark: SparkSession,
      dataPath: String): Seq[DataFile] =
    fs(spark, dataPath).listStatus(new Path(dataPath))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .toSeq
      .flatMap { d =>
        listDataFiles(spark, d.getPath.toString)
          .map(DataFile(_, Some(d.getPath.getName), None))
      }
      .sortBy(_.path)

  /** Read a set of partitioned data files, partition column rebuilt
    * via per-version basePath groups. With a manifest-carried `schema`
    * the read plans entirely from metadata — files missing an evolved
    * column null-fill it, no footer is opened for schema; without one
    * (legacy generations) each group footer-merges. */
  private def readPartedFiles(
      spark: SparkSession,
      files: Seq[DataFile],
      schema: Option[org.apache.spark.sql.types.StructType],
      withMeta: Boolean = false): DataFrame =
    files
      .groupBy(d => new Path(d.path).getParent.getParent.toString)
      .toSeq.sortBy(_._1)
      .map { case (root, fs) =>
        val rd = spark.read.option("basePath", root)
        val scan = schema.fold(rd.option("mergeSchema", "true"))(rd.schema)
          .parquet(fs.map(_.path).toIndexedSeq: _*)
        if (withMeta) attachRowMeta(scan) else scan
      }
      .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))

  /** Attach the per-row identity a DV apply joins on — must run
    * directly on a parquet scan, where the `_metadata` struct
    * resolves. */
  private def attachRowMeta(scan: DataFrame): DataFrame =
    scan.withColumn(DvFileCol, col("_metadata.file_path"))
      .withColumn(DvPosCol, col("_metadata.row_index"))

  /** MERGE (keyed upsert) into the latest snapshot of a PARTITIONED
    * table, copy-on-write at PARTITION scope — the lakehouse verb that
    * makes daily corrections affordable: only the partitions the
    * update batch touches are rewritten (their surviving rows
    * anti-joined on `keyCols`, unioned with the updates); every
    * untouched partition's files carry over into the new manifest
    * generation as POINTERS, byte-identical and never read. A
    * whole-table rewrite per merge — the naive copy-on-write — is
    * O(table) daily; this is O(touched partitions), which is the whole
    * point of partitioning the snapshot.
    *
    * Contract: `keyCols` identify rows globally and a key never moves
    * partitions (the standard date-partitioned layout); an update row
    * both deletes its key's old row (if its partition is touched) and
    * inserts itself. Readers of older versions are untouched; the
    * rewritten partitions' old files die later via [[vacuum]].
    *
    * `opCol` (optional) carries per-row verbs — `"upsert"` (replace or
    * insert, the default behavior) or `"delete"` (remove the key
    * without re-inserting, the CDC-correction shape
    * [[Changes.applyCdc]] produces). Deletes touch their partition
    * like upserts do (its survivors are rewritten minus the key); a
    * partition emptied entirely simply has no files in the new
    * generation. Any other verb is refused loudly. */
  def mergePartitioned(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keyCols: Seq[String],
      partCol: String,
      opCol: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "mergePartitioned needs key columns")
    require(updates.columns.contains(partCol),
      s"mergePartitioned: updates frame has no column '$partCol'")
    requireValidOps(updates, opCol)
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"mergePartitioned: $tablePath has no committed versions"))
    // a tombstone-governed head refuses before any claim, as every
    // copy-on-write verb does; the governing deletion vectors apply to
    // the touched-partition scan too — a rewrite that read the raw
    // files would resurrect DV-deleted rows into the new generation's
    // fresh files
    val gens = resolveSidecars(spark, tablePath, latest,
      refuseEqAs = Some("mergePartitioned"))
    val parent = manifestFor(spark, tablePath, latest)
    val parentFiles = filesOf(parent)
    require(parentFiles.forall(_.part.isDefined),
      s"mergePartitioned needs a partitioned table (commitPartitioned); " +
        s"version $latest of $tablePath carries flat files")
    val touched = updates
      .select(col(partCol).cast("string")).distinct()
      .collect().map(r => partFragment(partCol, r.getString(0))).toSet
    val (touchedFiles, untouched) =
      parentFiles.partition(_.part.exists(touched.contains))
    val version = claimVersion(spark, tablePath, latest + 1L)
    // every update row — upsert AND delete — evicts its key from the
    // touched survivors; only upserts re-insert
    val inserts = opCol.fold(updates)(op =>
      updates.filter(col(op) === "upsert").drop(op))
    val survivors =
      if (touchedFiles.isEmpty) inserts.limit(0)
      else
        readWithDv(spark, touchedFiles, parent.flatMap(_.schema), gens)
          .join(updates.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_anti")
    val w = writeBatch(spark, tablePath, version, Some(gens),
      survivors.unionByName(inserts), Some(partCol))
    publishDerived(spark, tablePath, version, untouched ++ w.fresh,
      evolvedSchema(parent, w.schema).json, None, latest, "mergePartitioned")
  }

  /** DYNAMIC PARTITION OVERWRITE into a partitioned snapshot table —
    * the idempotent daily-reload verb (Delta's `replaceWhere` /
    * Hive's `INSERT OVERWRITE ... PARTITION` dynamic mode): exactly
    * the partitions PRESENT IN the batch are replaced wholesale by its
    * rows; every untouched partition's files carry into the new
    * generation as pointers. Re-running a corrected reload for one day
    * converges to the same table no matter how many times it lands —
    * the property an append-based reload lacks (duplicates) and a
    * keyed MERGE only approximates when the source can DROP rows
    * (a vanished row survives a merge; an overwrite removes it).
    * O(touched partitions) like [[mergePartitioned]], no keys needed.
    * Constraints, the column mapping and deletion vectors compose: the
    * batch is guard-checked and physically translated, and untouched
    * partitions' DV entries keep governing (replaced files leave the
    * lineage, their entries go dead). Returns the minted version. */
  def replacePartitions(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partCol: String): Long = {
    require(df.columns.contains(partCol),
      s"replacePartitions: frame has no column '$partCol'")
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"replacePartitions: $tablePath has no committed versions"))
    val parent = manifestFor(spark, tablePath, latest)
    val parentFiles = filesOf(parent)
    require(parentFiles.forall(_.part.isDefined),
      s"replacePartitions needs a partitioned table (commitPartitioned); " +
        s"version $latest of $tablePath carries flat files")
    val touched = df
      .select(col(partCol).cast("string")).distinct()
      .collect().map(r => partFragment(partCol, r.getString(0))).toSet
    val untouched = parentFiles.filterNot(_.part.exists(touched.contains))
    val version = claimVersion(spark, tablePath, latest + 1L)
    val w = writeBatch(spark, tablePath, version,
      Some(sidecarPass(spark, tablePath, latest, GovFamilies)), df,
      Some(partCol))
    publishDerived(spark, tablePath, version, untouched ++ w.fresh,
      evolvedSchema(parent, w.schema).json, None, latest,
      "replacePartitions")
  }

  /** Reject unknown verbs in an op column before any data moves — a
    * typo'd `"detele"` must not silently upsert or silently vanish.
    * One bounded job over the delta-sized updates frame. */
  private def requireValidOps(updates: DataFrame, opCol: Option[String]): Unit =
    opCol.foreach { op =>
      require(updates.columns.contains(op),
        s"merge: updates frame has no op column '$op'")
      val bad = updates.filter(!col(op).isin("upsert", "delete"))
        .select(col(op)).limit(1).collect()
      require(bad.isEmpty,
        s"merge: op column '$op' carries unknown verb " +
          s"'${bad.head.get(0)}' — only upsert/delete are defined")
    }

  /** MERGE into an UNPARTITIONED snapshot table: same key semantics as
    * [[mergePartitioned]] (upserts replace-or-insert, deletes evict)
    * committed as a REPLACE version. This is an O(table) rewrite — the
    * whole latest snapshot is scanned and rewritten — which is the
    * honest cost for a table with no partition to scope the rewrite
    * to: the right verb for dimension/config tables that fit a few
    * files. Fact-scale tables should be committed via
    * [[commitPartitioned]] and merged at partition scope. Applied to a
    * PARTITIONED table it behaves like [[optimize]]: rows and columns
    * are preserved (the partition column becomes a data column) but
    * the new version's layout is flat — re-partitioning afterwards is
    * [[commitPartitioned]]'s job if wanted. */
  def merge(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keyCols: Seq[String],
      opCol: Option[String] = None,
      ts: Option[Long] = None): Long = {
    require(keyCols.nonEmpty, "merge needs key columns")
    requireValidOps(updates, opCol)
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"merge: $tablePath has no committed versions"))
    val inserts = opCol.fold(updates)(op =>
      updates.filter(col(op) === "upsert").drop(op))
    val survivors = readAsOf(spark, tablePath, latest)
      .join(updates.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
    commit(spark, survivors.unionByName(inserts), tablePath,
      append = false, ts = ts, derivedFrom = Some(latest), verb = "merge")
  }

  /** Read snapshot `version` — exactly the files its manifest
    * generation lists. Loud when the version is unknown (never
    * committed, or vacuumed away). Files carrying a partition fragment
    * are read per `data/v<K>` root with `basePath` set there, so Spark
    * rebuilds the partition column from the paths with a consistent
    * relative structure in every group; flat files read directly. */
  def readAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): DataFrame =
    readFace(spark, resolveFace(spark, tablePath, version))

  /** One resolved snapshot face: its data files and stored schema
    * from ONE manifest read, its sidecars from ONE
    * [[sidecarPass]]. The SQL catalog derives a table load's scan
    * guard, runtime-filter keys and governed read from one face;
    * resolving refuses nothing, reading does ([[readFace]],
    * [[readMorFace]]). */
  private[graft] final case class Face(
      tablePath: String,
      version: Long,
      files: Seq[DataFile],
      stored: Option[org.apache.spark.sql.types.StructType],
      gens: SidecarGens) {

    /** A governing deletion vector touches one of the face's files. */
    def dvGoverned(spark: SparkSession): Boolean =
      gens.dv.exists { case (_, dir) =>
        val dirty = dvRecordedFiles(spark, dir)
        files.exists(d => dirty.contains(normPath(d.path)))
      }

    /** A rename/drop column mapping governs the face. */
    def mapsColumns(spark: SparkSession): Boolean =
      renamesAny(gens.governing(spark, ColMap))

    /** The tombstone key columns; empty when none governs. */
    def eqKeyCols(spark: SparkSession): Seq[String] =
      Eq.keyCols(spark, gens.eqLive).getOrElse(Seq.empty)

    /** The key columns of the pruning-index sidecars that describe the
      * face (resolved with [[IndexFamilies]]) — physical names, so of
      * no use to a mapped face. */
    def runtimeKeys(spark: SparkSession): Seq[String] =
      IndexFamilies.flatMap(fam =>
        describing(spark, fam).toSeq.flatMap(fam.keys(spark, _))).distinct

    /** `fam`'s dir that describes the face, if one does. */
    def describing(spark: SparkSession, fam: IndexFamily): Option[String] =
      gens.describing(spark, fam, files.map(_.path))
  }

  /** Resolve `version`'s [[Face]], listing `families` beside DV and
    * `_eq`. */
  private[graft] def resolveFace(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      families: Seq[SidecarFamily] = GovFamilies): Face = {
    val gen = generationOf(spark, tablePath, version)
    Face(tablePath, version, gen.files, gen.schema,
      sidecarPass(spark, tablePath, version, families))
  }

  /** Plan a face's read — deletion vectors and the column mapping
    * applied. A tombstone-governed or folded-away face refuses. */
  private[graft] def readFace(spark: SparkSession, face: Face): DataFrame =
    readWithDv(spark, face.files, face.stored,
      face.gens.servable(face.tablePath, Some("read")))

  /** Plan a read over a generation's data files: flat files read
    * directly, partitioned ones via [[readPartedFiles]]' basePath
    * groups. With a manifest-carried `stored` schema the plan is built
    * from metadata alone — an append that evolved the schema (columns
    * its parent's files lack) null-fills the missing columns per file,
    * no footer is opened to discover the schema; legacy generations
    * without one footer-merge, O(files), which the stored path exists
    * to avoid. For flat files the stored schema applies as-is: a mixed
    * generation's partition column (from OTHER, parted rows) simply
    * reads as a null-filled data column by name. */
  private def readFileRows(
      spark: SparkSession,
      files: Seq[DataFile],
      stored: Option[org.apache.spark.sql.types.StructType],
      withMeta: Boolean = false): DataFrame = {
    val (parted, flat) = files.partition(_.part.isDefined)
    val reads =
      (if (flat.nonEmpty) {
        val rd = spark.read
        val scan = stored.fold(rd.option("mergeSchema", "true"))(rd.schema)
          .parquet(flat.map(_.path).toIndexedSeq: _*)
        Seq(if (withMeta) attachRowMeta(scan) else scan)
      } else Seq.empty) ++
        (if (parted.nonEmpty)
          Seq(readPartedFiles(spark, parted, stored, withMeta))
        else Seq.empty)
    reads.reduceLeft((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
  }

  /** Partition-pruned read AS OF `version`: the manifest admits only
    * the files whose fragment is `partCol=value` — no other partition's
    * DIRECTORY is listed or opened, the skip is decided entirely in
    * metadata (the composition of time travel and hive partition
    * pruning). A version with no such partition is an empty answer
    * (with the snapshot's schema); an unknown version is an error.
    * `value` is rendered with `toString` then hive path-escaped
    * ([[partFragment]]), matching the writer's fragment encoding even
    * for values carrying '=', ':', '%' or '/'. */
  def scanPartitionAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      partCol: String,
      value: Any): DataFrame = {
    val gen = generationOf(spark, tablePath, version)
    val stored = gen.schema
    // under PARTITION EVOLUTION a generation mixes layouts: files not
    // keyed on partCol (another key, or flat) may still CONTAIN the
    // requested rows, and a fragment-only answer would silently drop
    // them — refuse toward the evolution-aware verb
    require(gen.files.forall(_.part.exists(_.startsWith(s"$partCol="))),
      s"scanPartitionAsOf: version $version of $tablePath carries " +
        s"files not partitioned on '$partCol' (mixed layout) — their " +
        "rows are invisible to fragment pruning; use " +
        "scanPartitionEvolved, which scans them with a data filter")
    val frag = partFragment(partCol, String.valueOf(value))
    val hit = gen.files.filter(_.part.contains(frag))
    if (hit.isEmpty) {
      // the stored schema answers "what would this scan's columns be"
      // without opening a single data file
      val schema = stored.getOrElse(readAsOf(spark, tablePath, version).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      readWithDv(spark, hit, stored,
        resolveSidecars(spark, tablePath, version))
    }
  }

  /** Partition-pruned scan under PARTITION EVOLUTION — the Iceberg
    * mixed-spec read: a table may change its partition layout for
    * FUTURE commits without rewriting a byte of history (append a
    * differently-`partitionBy`'d batch; the manifest carries each
    * file's own fragment). A scan for `partCol = value` then
    * decomposes the generation's files three ways, all decided in
    * metadata: fragment-MATCHING files are read as the partition
    * (full skip of the directory walk); files keyed on the SAME
    * column with a different value are pruned outright; files keyed
    * on another column (or flat) fall back to a data-predicate scan —
    * partial pruning, exactly what an old-spec Iceberg partition
    * contributes, and the filter pushes to those files' row groups.
    * The evolved key must exist as a DATA column in the old files
    * (commit it as data from day one — the evolution contract);
    * composes with deletion vectors and the column mapping. */
  def scanPartitionEvolved(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      partCol: String,
      value: Any): DataFrame = {
    val gen = generationOf(spark, tablePath, version)
    val stored = gen.schema
    val frag = partFragment(partCol, String.valueOf(value))
    val hit = gen.files.filter(_.part.contains(frag))
    val fallback =
      gen.files.filterNot(_.part.exists(_.startsWith(s"$partCol=")))
    val gens = resolveSidecars(spark, tablePath, version)
    // each leg plans its own file-level DV split (clean files join
    // nothing); the exact-value filter commutes with the anti-join
    val legs =
      (if (hit.nonEmpty)
        Seq(readWithDv(spark, hit, stored, gens))
      else Seq.empty) ++
        (if (fallback.nonEmpty)
          Seq(readWithDv(spark, fallback, stored, gens)
            .filter(col(partCol) === lit(value)))
        else Seq.empty)
    if (legs.isEmpty) {
      val schema = stored.getOrElse(readAsOf(spark, tablePath, version).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else
      legs.reduceLeft((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
  }

  /** Maintenance guard: the whole-manifest swap verbs ([[vacuum]],
    * [[purgeKeys]]) rewrite EVERY generation's rows from a
    * point-in-time snapshot — a commit racing past that snapshot would
    * be silently ERASED by the swap. Checked immediately before the
    * swap, refusing retry-ably; the residual check-to-swap window is
    * the single-maintenance-writer contract (maintenance must not race
    * data commits), which this guard narrows from the whole
    * rewrite job to one rename. */
  private[graft] def requireHeadUnmoved(
      spark: SparkSession,
      tablePath: String,
      observed: Option[Long],
      verb: String): Unit = {
    val now = latestVersion(spark, tablePath)
    if (now != observed)
      throw new ConcurrentCommitException(
        s"$verb took its manifest snapshot at head " +
          s"${observed.fold("<empty>")(_.toString)} of $tablePath, but " +
          s"the published head is now ${now.fold("<empty>")(_.toString)}" +
          " — a commit raced the maintenance rewrite and would be " +
          "erased by the swap; re-read and retry")
  }

  /** Replace the ENTIRE live manifest with `gens` via the crash-safe
    * staged swap ([[recoverManifestSwap]]'s contract): staged write →
    * live moved aside → staged renamed in → aside deleted, so a
    * COMPLETE manifest exists on disk at every instant. */
  private def swapManifest(
      spark: SparkSession,
      tablePath: String,
      gens: Seq[Generation]): Unit = {
    val f = fs(spark, tablePath)
    val live = new Path(s"$tablePath/$VersionsDir")
    val staged = new Path(s"$tablePath/${VersionsDir}_staged")
    val prev = new Path(s"$tablePath/${VersionsDir}_prev")
    val raw = new Path(s"$tablePath/${VersionsDir}_staging_raw")
    if (f.exists(staged)) f.delete(staged, true)
    if (f.exists(prev)) f.delete(prev, true) // inert leftover of a crash
    if (f.exists(raw)) f.delete(raw, true)
    // the rewritten manifest keeps ONE FILE PER GENERATION under the
    // canonical gen-v<N>.parquet name — the invariant every
    // version-bounded read ([[manifestFor]], [[listGenerations]])
    // indexes by, which a single coalesced file would destroy for the
    // whole retained history. Small retained histories stage each
    // generation DRIVER-SIDE ([[writeMetaParquet]] — the rows are a
    // driver Seq already, and the partitioned write job costs a
    // shuffle plus job-commit staging per vacuum); past the fan-out
    // threshold one partitioned write job stages every generation
    // (`gen` duplicates `version` because partitionBy consumes its
    // column) and each part renames to its canonical name. Either way
    // the staged dir is complete and correctly named BEFORE the live
    // swap ([[recoverManifestSwap]]'s contract).
    if (gens.size <= SwapManifestFanoutThreshold) {
      f.mkdirs(staged)
      val conf = spark.sparkContext.hadoopConfiguration
      gens.foreach(g => writeMetaParquet(conf,
        new Path(s"$staged/gen-v${g.version}.parquet"), ManifestCols,
        encode(g)))
    } else {
      manifestFrame(spark, gens)
        .withColumn("gen", col("version"))
        .repartition(col("gen"))
        .write.partitionBy("gen").parquet(raw.toString)
      f.mkdirs(staged)
      f.listStatus(raw).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("gen=")).foreach { d =>
        val v = d.getPath.getName.stripPrefix("gen=").toLong
        val parts = listDataFiles(spark, d.getPath.toString)
        require(parts.length == 1,
          s"manifest rewrite staged ${parts.length} files for generation " +
            s"$v of $tablePath — expected exactly one")
        require(f.rename(new Path(parts.head),
          new Path(s"$staged/gen-v$v.parquet")),
          s"manifest rewrite could not stage generation $v of $tablePath")
      }
      f.delete(raw, true)
    }
    // branch-over markers are presence-only — stage copies for the
    // RETAINED generations so the swap doesn't silently demote their
    // readers to the timing fallback (a crash mid-swap loses them,
    // which degrades to that same safe fallback, never to a wrong
    // classification)
    val kept = gens.map(_.version).toSet
    f.listStatus(live).map(_.getPath.getName)
      .filter(_.startsWith("_branchover-v"))
      .flatMap(n => n.stripPrefix("_branchover-v").toLongOption)
      .filter(kept.contains)
      .foreach(v => f.create(new Path(s"$staged/_branchover-v$v"),
        true).close())
    require(f.rename(live, prev),
      s"manifest swap failed for $tablePath — live manifest could not " +
        s"be moved aside; staged manifest left at $staged, data intact")
    require(f.rename(staged, live),
      s"manifest swap failed for $tablePath — live manifest moved to " +
        s"$prev, staged left at $staged; recovery rolls $staged forward")
    f.delete(prev, true)
  }

  /** Expire every version below `keepFrom`: drop their manifest
    * generations, then delete the data files no retained generation
    * references. Returns the number of files deleted. The manifest
    * rewrite stages through a sibling directory, moves the live
    * manifest ASIDE (`_versions_prev`), renames the staged one in, and
    * only then deletes the aside copy — so a COMPLETE manifest exists
    * on disk at every instant. A crash between the renames (live
    * missing, staged complete) is rolled forward by
    * [[recoverManifestSwap]] on the next read; a crash before them
    * leaves the live manifest untouched. */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      keepFrom: Long): Long = {
    // retained MOR versions resolve tombstone sidecars CUMULATIVELY
    // below themselves — expiring any part of that chain would
    // silently resurrect deletes; fold first
    latestVersion(spark, tablePath).foreach(h =>
      Eq.requireUngoverned(Eq.listing(spark, tablePath), tablePath, h,
        "vacuum"))
    val all = history(spark, tablePath)
    val (keptGens, dropped) = all.partition(_.version >= keepFrom)
    require(keptGens.nonEmpty,
      s"vacuum(keepFrom=$keepFrom) would retain no versions of $tablePath")
    val kept = keptGens.flatMap(_.paths).toSet
    // a TAG is a retention pin (the Iceberg contract): expiring a
    // tagged version would turn its name into a dangling pointer —
    // refuse loudly; drop the tag or raise keepFrom
    val pinnedBelow = tags(spark, tablePath).filter(_._2 < keepFrom)
    require(pinnedBelow.isEmpty,
      s"vacuum(keepFrom=$keepFrom) would expire tagged version(s) " +
        pinnedBelow.map { case (n, v) => s"'$n'→$v" }.mkString(", ") +
        s" of $tablePath — removeTag first, or keep from lower")
    val doomed = all.flatMap(_.paths).distinct.filterNot(kept)

    val f = fs(spark, tablePath)
    requireHeadUnmoved(spark, tablePath, Some(all.map(_.version).max),
      "vacuum")
    // a parent expired by this vacuum keeps its number: lineage below
    // keepFrom is historical fact, and inLineage treats the resulting
    // chain break as a conflict, which is the safe side
    swapManifest(spark, tablePath, keptGens)

    // EXTERNAL files (a clone's pointers into its source) only drop
    // from the manifest — the source table still owns and references
    // them; deleting would corrupt it. A BRANCH root's vacuum
    // additionally spares files its PARENT table's manifest references
    // (a fast-forward published them into main's history): the branch
    // dropped them, but main now owns their lifecycle. Symmetrically,
    // MAIN's vacuum spares files a LIVE branch's manifest still
    // references — a branch forked below keepFrom (or fast-forwarded
    // files under the branch's own data dir) must survive main's
    // retention until the branch is dropped.
    val parentRef = parentTableRefs(spark, tablePath)
    val branchRef = liveBranchRefs(spark, tablePath)
    val deleted = doomed.count { file =>
      ownsFile(tablePath, file) && !parentRef.contains(normPath(file)) &&
        !branchRef.contains(normPath(file)) &&
        { f.delete(new Path(file), false); true }
    }

    // carried sidecars do NOT simply ride their version: a set
    // committed below keepFrom still GOVERNS every retained read
    // (resolution walks downward). Materialize the oldest retained
    // version's governing set AT keepFrom first, then the dropped dirs
    // are safe to expire: every retained version's resolution lands on
    // its own dir or this one, unchanged in content.
    CarriedFamilies.foreach(_.materializeAt(spark, tablePath, keepFrom, kept))

    // per-version sidecars ride their version: expired generations'
    // stats dirs and commit markers go with their data (retained
    // versions keep theirs; claims only ever move upward, so dropping
    // an old marker can never free a number for re-minting)
    dropped.map(_.version).foreach { v =>
      sidecarFamilies.map(_.dirAt(tablePath, v))
        .foreach { d =>
          val sd = new Path(d)
          if (f.exists(sd)) f.delete(sd, true)
        }
      val mk = new Path(s"$tablePath/$CommitsDir/v$v")
      if (f.exists(mk)) f.delete(mk, false)
    }
    deleted.toLong
  }

  /** When `tablePath` is a BRANCH root (`<parent>/_branches/<name>`),
    * the normalized files the parent table's manifest references — a
    * fast-forward publishes branch files into main's history, so the
    * branch's own destructive verbs must never delete them. Empty for
    * ordinary roots; metadata-scale for branches (one parent manifest
    * file-list read, the price of a destructive verb). */
  private def parentTableRefs(
      spark: SparkSession,
      tablePath: String): Set[String] = {
    val p = new Path(tablePath)
    if (p.getParent == null || p.getParent.getName != "_branches")
      Set.empty
    else {
      val parentRoot = p.getParent.getParent.toString
      history(spark, parentRoot).flatMap(_.paths).map(normPath).toSet
    }
  }

  /** The mirror guard of [[parentTableRefs]]: every normalized file a
    * LIVE branch's manifest still references. Main's destructive verbs
    * (vacuum, removeOrphans) must spare these — a branch forked at v5
    * keeps reading v5's files after main expires v5, and a
    * fast-forward repoints main at files physically under the branch's
    * own data dir that the branch history also still needs. Recursive
    * so nested branches are covered; metadata-scale (one manifest
    * file-list read per live branch, only on destructive verbs). */
  private def liveBranchRefs(
      spark: SparkSession,
      tablePath: String): Set[String] =
    branches(spark, tablePath).flatMap { case (name, _, _) =>
      val root = branchPath(tablePath, name)
      history(spark, root).flatMap(_.paths).map(normPath) ++
        liveBranchRefs(spark, root)
    }.toSet

  // ------------------------------------------------------------------
  // TAGS — named version pointers (the Iceberg tag shape)
  // ------------------------------------------------------------------

  private def tagsRoot(tablePath: String): String = s"$tablePath/_tags"

  private def requireTagName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag name '$name': letters, digits, '.', '_', '-' only — the " +
        "name is a filesystem path fragment")
    // SQL `VERSION AS OF '<ref>'` resolves a numeric ref as a snapshot
    // number FIRST, so an all-digit tag/branch name would be accepted
    // here yet permanently shadowed from SQL travel — refuse it
    require(!name.forall(_.isDigit),
      s"tag name '$name': all-digit names are reserved for snapshot " +
        "version numbers (VERSION AS OF would never resolve the tag)")
  }

  /** Name `version` — a human-stable address for time travel
    * (`readTag`, SQL `VERSION AS OF '<name>'`) and a RETENTION PIN
    * ([[vacuum]] refuses to expire a tagged version). Re-tagging an
    * existing name repoints it (single-maintenance-writer, like every
    * metadata sweep verb). The version must be committed and
    * unexpired. */
  def tag(
      spark: SparkSession,
      tablePath: String,
      name: String,
      version: Long): Unit = {
    requireTagName(name)
    require(manifestFor(spark, tablePath, version).nonEmpty,
      s"tag '$name': version $version of $tablePath is not in the " +
        "manifest (never committed, or expired by vacuum)")
    writePointer(fs(spark, tablePath),
      new Path(s"${tagsRoot(tablePath)}/$name"), version)
  }

  /** All (name, version) tags of the table — one directory listing
    * plus one tiny read per tag; metadata-scale by construction. */
  def tags(spark: SparkSession, tablePath: String): Seq[(String, Long)] = {
    val f = fs(spark, tablePath)
    val dir = new Path(tagsRoot(tablePath))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(_.isFile).toSeq.map { st =>
      st.getPath.getName -> readPointer(f, st.getPath, lenient = false)
        .getOrElse(throw new java.io.FileNotFoundException(
          s"tag ${st.getPath} vanished under its read"))
    }.sortBy(_._1)
  }

  /** The version a tag names, if the tag exists. */
  def tagVersion(
      spark: SparkSession,
      tablePath: String,
      name: String): Option[Long] = {
    requireTagName(name)
    tags(spark, tablePath).collectFirst { case (`name`, v) => v }
  }

  /** Drop a tag (the version stays readable by number; its retention
    * pin is gone). True when the tag existed. */
  def removeTag(
      spark: SparkSession,
      tablePath: String,
      name: String): Boolean = {
    requireTagName(name)
    val f = fs(spark, tablePath)
    val p = new Path(s"${tagsRoot(tablePath)}/$name")
    f.exists(p) && f.delete(p, false)
  }

  /** [[readAsOf]] addressed by tag name. */
  def readTag(
      spark: SparkSession,
      tablePath: String,
      name: String): DataFrame =
    readAsOf(spark, tablePath,
      tagVersion(spark, tablePath, name).getOrElse(
        throw new IllegalArgumentException(
          s"no tag '$name' on $tablePath — known: " +
            tags(spark, tablePath).map(_._1).mkString(", "))))

  /** Retention-policy sugar over [[vacuum]]: keep exactly the LAST
    * `retainLast` versions (tags still pin — vacuum's own guard
    * refuses to expire a tagged version, loudly). Already within
    * policy is a no-op. Returns (keepFrom, deletedFiles). */
  def expireSnapshots(
      spark: SparkSession,
      tablePath: String,
      retainLast: Int): (Long, Long) = {
    require(retainLast >= 1,
      s"expireSnapshots: retainLast must be >= 1, got $retainLast")
    val versions = listGenerations(spark, tablePath)
    if (versions.length <= retainLast)
      (versions.headOption.getOrElse(0L), 0L)
    else {
      val keepFrom = versions.takeRight(retainLast).head
      (keepFrom, vacuum(spark, tablePath, keepFrom))
    }
  }

  // ------------------------------------------------------------------
  // Deletion vectors — row-level DELETE without rewriting data files
  // ------------------------------------------------------------------

  /** Internal column names for the row identity a DV apply needs —
    * captured from the parquet scan's `_metadata` struct, rendered by
    * the same scan machinery on both the delete and the read side, so
    * equality is exact without any path normalization. */
  private val DvFileCol = "__dv_file"
  private val DvPosCol = "__dv_pos"
  private val MergeSrcSentinel = "__merge_src"

  private def dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("row_index",
      org.apache.spark.sql.types.LongType)))

  /** Latest-at-or-below resolution over a `_<root>/v<N>` sidecar
    * family — the shared lookup for versioned table metadata that
    * GOVERNS all later versions until superseded (deletion vectors,
    * CHECK constraints): each dir holds the FULL applicable set of its
    * version (not a delta), so append commits inherit their ancestor's
    * set without copying anything, while [[publishFace]] carries its
    * source's set so restored content never inherits metadata
    * committed after the source. Returns
    * (sidecarVersion, dir); None when nothing governs `version`. */
  private def sidecarResolve(
      spark: SparkSession,
      rootDir: String,
      version: Long): Option[(Long, String)] =
    pickAtOrBelow(sidecarListed(spark, rootDir), version)

  /** Every generation dir of a sidecar family root, sorted by version —
    * empty when the family does not exist. */
  private def sidecarListed(
      spark: SparkSession,
      rootDir: String): Seq[(Long, String)] = {
    val f = fs(spark, rootDir)
    if (!f.exists(new Path(rootDir))) Seq.empty
    else sidecarFamilyListed(f, rootDir)
  }

  /** One LISTING of a sidecar family root: every `v<N>` generation dir,
    * sorted by version — the shared I/O both [[sidecarResolve]] and the
    * combined [[resolveSidecars]] pass pick from (and count, for the
    * listing-budget spec). */
  private def sidecarFamilyListed(
      f: org.apache.hadoop.fs.FileSystem,
      rootDir: String): Seq[(Long, String)] = {
    sidecarListings.incrementAndGet()
    versionDirs(f.listStatus(new Path(rootDir)))
  }

  /** The `v<N>` generation dirs among a family root's entries, sorted
    * by version. */
  private def versionDirs(
      entries: Array[org.apache.hadoop.fs.FileStatus]): Seq[(Long, String)] =
    entries.filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v"))
          scala.util.Try(n.drop(1).toLong).toOption.map(_ -> p.toString)
        else None
      }
      .sortBy(_._1).toSeq

  private def pickAtOrBelow(
      family: Seq[(Long, String)],
      version: Long): Option[(Long, String)] =
    family.filter(_._1 <= version).lastOption

  // ------------------------------------------------------------------
  // EQUALITY DELETES — merge-on-read upsert (the Iceberg v2
  // equality-delete shape): a CDC micro-batch commits O(batch)
  // metadata — keyed tombstones + its own fresh files — and NO
  // existing data file is opened or rewritten; readers resolve the
  // tombstones at scan time. Unlike the superseding DV family, `_eq`
  // generations ACCUMULATE: the read unions every tombstone set at or
  // below the queried version, scoping each to rows from files OLDER
  // than its commit (each sidecar records its commit's own fresh
  // files, so per-file age derives from O(batches-since-fold) tiny
  // lists, never a history walk). [[foldEqDeletes]] materializes the
  // resolved face as one copy-on-write replace and drops the
  // tombstones — the compaction that bounds read-side join depth.
  // Governed faces refuse every plain read/DML verb loudly
  // ([[Eq.requireUngoverned]]); history inside a folded window refuses
  // too ([[Eq.Listing.foldedAt]]: the tombstones that defined those
  // faces are gone — a raw answer would be a lie).
  // ------------------------------------------------------------------

  /** Equality-delete tombstones: one `v<N>` dir per merge-on-read sync
    * holding `keys` (the tombstone rows — a Spark-written frame, as
    * large as the batch's deletes) and `fresh` (the sync's own data
    * files, written on the driver), beside two root files: `folded`
    * (the fold windows) and `folding` (a fold's intent). Every MOR
    * verb reads the family through [[listing]] and the readers below. */
  private[graft] object Eq extends SidecarFamily("_eq") {

    /** One listing of the family. `live`: the sync dirs whose version
      * is a committed generation — the only dirs that GOVERN (a crashed
      * commitEqUpsert leaves a dir no manifest references; honoring it
      * would apply a batch that never happened). `stale`: that debris,
      * swept by [[removeOrphans]]. `windows`: one `(firstEq, foldV)`
      * per fold ever run, so a second fold never swallows the first
      * fold's face. `generations`: the committed versions of the split
      * (empty when the family holds no dir). */
    final case class Listing(
        live: Seq[(Long, String)],
        stale: Seq[(Long, String)],
        windows: Seq[(Long, Long)],
        generations: Seq[Long]) {

      /** Every tombstone set governing `version`, oldest first. */
      def liveAt(version: Long): Seq[(Long, String)] =
        live.filter(_._1 <= version)

      /** The fold-window rule: `version`'s face is expired iff some
        * window holds `firstEq <= version < foldV`. */
      def foldedAt(version: Long): Option[(Long, Long)] =
        windows.find { case (minEq, foldV) =>
          version >= minEq && version < foldV }

      /** Tombstones govern `version`, or its face folded away — either
        * way a plain parquet scan would resurrect deleted keys. */
      def governs(version: Long): Boolean =
        liveAt(version).nonEmpty || foldedAt(version).nonEmpty
    }

    val Absent: Listing = Listing(Seq.empty, Seq.empty, Seq.empty, Seq.empty)

    def foldMarker(tablePath: String): Path =
      new Path(s"${root(tablePath)}/folded")

    def foldIntent(tablePath: String): Path =
      new Path(s"${root(tablePath)}/folding")

    /** The family's ONE listing: its sync dirs split live/stale against
      * one generation listing (taken only when a dir exists), and the
      * fold windows (read only when the marker is listed). [[Absent]]
      * when the table has no `_eq`. */
    def listing(spark: SparkSession, tablePath: String): Listing = {
      val f = fs(spark, tablePath)
      val entries =
        try f.listStatus(new Path(root(tablePath)))
        catch { case _: java.io.FileNotFoundException => return Absent }
      sidecarListings.incrementAndGet()
      val dirs = versionDirs(entries)
      val gens =
        if (dirs.isEmpty) Seq.empty[Long] else listGenerations(spark, tablePath)
      val committed = gens.toSet
      val (live, stale) = dirs.partition(d => committed.contains(d._1))
      val windows =
        if (!entries.exists(_.getPath.getName == "folded")) Seq.empty
        else {
          val in = f.open(foldMarker(tablePath))
          try new String(in.readAllBytes(), "UTF-8").linesIterator
            .map(_.trim).filter(_.nonEmpty).map { line =>
              val parts = line.split(" ")
              (parts(0).toLong, parts(1).toLong)
            }.toSeq
          finally in.close()
        }
      Listing(live, stale, windows, gens)
    }

    /** A merge-on-read verb's sidecars (resolved with [[GovFamilies]]):
      * a fold window, DV, column-mapping and generated-column
      * governance refuse; the tombstones are its own to apply. */
    def composable(
        gens: SidecarGens,
        tablePath: String,
        verb: String): SidecarGens = {
      gens.servable(tablePath, refuseEqAs = None)
      require(gens.dv.isEmpty && !gens.picked.contains(ColMap) &&
        !gens.picked.contains(GenCols),
        s"$verb: $tablePath carries DV/column-mapping/generated-column " +
          "governance — the MOR lineage composes with append faces and " +
          "CHECK constraints only")
      gens
    }

    /** The one guard: a plain scan or a copy-on-write verb on a
      * tombstone-governed face would read or rewrite rows WITHOUT
      * applying the tombstones, resurrecting deleted keys. */
    def requireUngoverned(
        eq: Listing,
        tablePath: String,
        version: Long,
        verb: String): Unit =
      require(eq.liveAt(version).isEmpty,
        s"$verb: version $version of $tablePath is governed by " +
          "equality-delete tombstones (merge-on-read) — a plain scan or " +
          "a copy-on-write rewrite would resurrect deleted keys; read " +
          "via readMorAsOf, or foldEqDeletes to materialize a " +
          "copy-on-write face")

    /** One sync's tombstone schema, off the keys file's footer — no
      * Spark job ([[graft.Tables.footerSchema]], memoized per file). */
    def keySchema(
        spark: SparkSession,
        dir: String): org.apache.spark.sql.types.StructType =
      graft.Tables.footerSchema(spark, s"$dir/keys")

    /** The key columns of the newest of `live` (one key set per lineage
      * is commit-enforced, so it speaks for all). */
    def keyCols(
        spark: SparkSession,
        live: Seq[(Long, String)]): Option[Seq[String]] =
      live.lastOption.map { case (_, dir) =>
        keySchema(spark, dir).fieldNames.toSeq }

    /** One sync's tombstone rows, as a frame. */
    def keys(spark: SparkSession, dir: String): DataFrame =
      spark.read.schema(keySchema(spark, dir)).parquet(s"$dir/keys")

    /** One sync's tombstone count, off the keys files' footers. */
    def keyCount(spark: SparkSession, dir: String): Long =
      footerCounts(spark,
        listDataFiles(spark, s"$dir/keys").map(DataFile(_, None, None)))
        .map(_.rows.get).sum

    /** One sync's own fresh data files, normalized — read on the
      * driver and memoized per published dir (every governed SQL
      * statement re-resolves it). Spark-written lists read the same. */
    def fresh(spark: SparkSession, dir: String): Set[String] =
      memoizedMeta(fs(spark, dir), new Path(s"$dir/fresh"), "eqfresh") {
        readMetaParquet(spark.sparkContext.hadoopConfiguration,
          new Path(s"$dir/fresh"), Seq("file"))
          .map(r => normPath(r.getString(0))).toSet
      }

    /** Write sync `version`'s dir: its tombstone rows and fresh files. */
    def write(
        spark: SparkSession,
        tablePath: String,
        version: Long,
        keys: DataFrame,
        fresh: Seq[String]): Unit = {
      val dir = dirAt(tablePath, version)
      keys.coalesce(1).write.mode("errorifexists").parquet(s"$dir/keys")
      writeMetaDir(spark, s"$dir/fresh", Seq("file" -> false),
        fresh.map(Seq(_)))
    }
  }

  private def eqKeysSchema(stored: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      keyCols.map(k => stored.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key '$k' is not a stored column"))))

  /** Is `version`'s face governed by equality-delete tombstones — or
    * inside a fold-expired window? The catalog maintenance sweep's and
    * the snapshot stream source's guard: a plain read of either would
    * resurrect deleted keys. One `exists` call on a table without the
    * family. */
  private[graft] def eqGovernedAt(
      spark: SparkSession,
      tablePath: String,
      version: Long): Boolean =
    fs(spark, tablePath).exists(new Path(Eq.root(tablePath))) &&
      Eq.listing(spark, tablePath).governs(version)

  /** ONE merge-on-read upsert commit: append `upserts` as fresh files
    * and record `tombstones` (rows of exactly `keyCols`) in the
    * version's `_eq` sidecar — O(batch) data written, O(batch)
    * metadata committed, ZERO existing files opened or rewritten,
    * whatever the table size. The tombstones kill matching-key rows
    * in files OLDER than this commit only, so this batch's own
    * upserts (and any later batch's) survive their own keys' deletes —
    * the Flink→Iceberg upsert-sink contract. Blind by design: the
    * caller decides winners (an unordered feed resolves them against
    * [[readMorAsOf]] first — a key-pruned READ, still zero rewrites).
    * Composes with hive partitioning (`partCol` — fragments follow
    * the sync batches, pruning survives) and CHECK constraints
    * (enforced per sync batch inside the write job); DV/column-
    * mapping/generated-column governance still refuses toward the
    * copy-on-write verbs. */
  def commitEqUpsert(
      spark: SparkSession,
      tablePath: String,
      upserts: DataFrame,
      tombstones: DataFrame,
      keyCols: Seq[String],
      ts: Option[Long] = None,
      partCol: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "commitEqUpsert needs key columns")
    val observed = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"commitEqUpsert: $tablePath has no committed versions — " +
          "commit the base face first"))
    val gen = observedGeneration(spark, tablePath, observed,
      "commitEqUpsert")
    // the MOR lineage composes with hive partitioning: a partitioned
    // base face syncs `partitionBy(partCol)` batches (fragments follow
    // the data; partition pruning survives the lineage — see
    // [[readMorPartitionAsOf]]); a flat base refuses a partCol and
    // vice versa, so one lineage never mixes layouts
    partCol match {
      case Some(pc) =>
        require(gen.files.forall(_.part.exists(_.startsWith(s"$pc="))),
          s"commitEqUpsert: $tablePath's base face is not " +
            s"hive-partitioned on '$pc' — commit it via " +
            "commitPartitioned first (one layout per MOR lineage)")
      case None =>
        require(gen.files.forall(_.part.isEmpty),
          s"commitEqUpsert: $tablePath carries hive-partitioned " +
            "files — pass partCol so the sync batches keep the layout")
    }
    val gens = Eq.composable(
      resolveSidecars(spark, tablePath, observed, refuseEqAs = None),
      tablePath, "commitEqUpsert")
    val stored = gen.schema.getOrElse(
      throw new IllegalArgumentException(
        s"commitEqUpsert: version $observed of $tablePath carries no " +
          "stored schema — recommit the base first"))
    require(upserts.columns.sorted.sameElements(
      stored.fieldNames.sorted),
      s"commitEqUpsert: upsert columns ${upserts.columns.sorted.mkString(",")} " +
        s"must match the stored face ${stored.fieldNames.sorted.mkString(",")}")
    val keysSchema = eqKeysSchema(stored, keyCols)
    // a lineage's tombstone sidecars must all share ONE key set —
    // readMorAsOf anti-joins every live sidecar against the same
    // keyCols, so a sync keyed differently than its predecessors would
    // poison every subsequent read; refuse it before anything publishes
    gens.eqLive.lastOption.foreach {
      case (n, dir) =>
        val prev = Eq.keySchema(spark, dir).fieldNames.sorted
        require(prev.sameElements(keyCols.sorted),
          s"commitEqUpsert: $tablePath's live tombstone sidecar v$n " +
            s"is keyed on (${prev.mkString(",")}) — a sync keyed on " +
            s"(${keyCols.sorted.mkString(",")}) cannot join the same " +
            "merge-on-read lineage; foldEqDeletes first")
    }
    val version = claimVersion(spark, tablePath, observed + 1L)
    // the batch's fresh data files (possibly none — a delete-only
    // sync), written under the lineage's layout, with the table's
    // governing CHECK constraints enforced INSIDE the write job — a
    // violating sync fails by constraint name before anything
    // publishes (the ingest path is exactly the one you want
    // constrained; the claimed number burns as a benign gap)
    val fresh = writeBatch(spark, tablePath, version, Some(gens),
      upserts.select(stored.fieldNames.map(col).toIndexedSeq: _*),
      partCol).fresh
    // the sidecar: keyed tombstones + this commit's own fresh files
    // (the age index readMorAsOf scopes each tombstone set with)
    Eq.write(spark, tablePath, version,
      tombstones.select(keyCols.map(c =>
        col(c).cast(keysSchema(c).dataType)).toIndexedSeq: _*).distinct(),
      fresh.map(_.path))
    publishDerived(spark, tablePath, version, gen.files ++ fresh,
      stored.json, ts, observed, "commitEqUpsert")
  }

  /** The MERGE-ON-READ face of `version`: the raw appended rows with
    * every governing equality-delete tombstone resolved at scan time.
    * Each file group reads with its ADD SEQUENCE (base files = before
    * the first tombstone commit; each sidecar's own fresh list = its
    * commit), and ONE broadcast anti-join drops rows whose key a
    * STRICTLY-NEWER tombstone names — so re-upserted keys survive
    * their own batch's delete and all earlier ones. Join depth is one;
    * tombstone volume is O(deletes since the last fold), which
    * [[foldEqDeletes]] bounds. Refuses mid-lineage non-MOR commits
    * loudly (their files' age against the tombstones is unknowable). */
  def readMorAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      keyCols: Seq[String],
      fragFilter: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "readMorAsOf needs key columns")
    val gen = generationOf(spark, tablePath, version)
    // partition scope ([[readMorPartitionAsOf]]): metadata-level
    // fragment pruning of EVERY leg's file list, before any read plans
    val files =
      fragFilter.fold(gen.files)(f => gen.files.filter(_.part.contains(f)))
    if (files.isEmpty) // an absent partition answers empty, schema intact
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        gen.schema.getOrElse(readAsOf(spark, tablePath, version).schema))
    readMorFace(spark, Face(tablePath, version, files, gen.schema,
      sidecarPass(spark, tablePath, version, GovFamilies)), keyCols)
  }

  /** Plan a face's merge-on-read resolution ([[readMorAsOf]]). */
  private[graft] def readMorFace(
      spark: SparkSession,
      face: Face,
      keyCols: Seq[String]): DataFrame = {
    val Face(tablePath, version, files, stored, _) = face
    val gens = Eq.composable(face.gens, tablePath, "readMorAsOf")
    require(keyCols.nonEmpty, "readMorAsOf needs key columns")
    val eqDirs = gens.eqLive
    if (eqDirs.isEmpty)
      return readWithDv(spark, files, stored, gens)
    val eqVs = eqDirs.map(_._1).toSet
    val firstEq = eqDirs.map(_._1).min
    val foreign = gens.eq.generations
      .filter(g => g >= firstEq && g <= version && !eqVs.contains(g))
    require(foreign.isEmpty,
      s"readMorAsOf: version(s) ${foreign.mkString(",")} of $tablePath " +
        "landed mid-MOR-lineage from non-MOR verbs — their files' age " +
        "against the tombstones is unknowable; foldEqDeletes first")
    // per-file add sequence from the sidecars' own fresh lists —
    // O(batches since fold) tiny metadata reads, never a history walk
    val freshOf: Seq[(Long, Set[String])] =
      eqDirs.map { case (n, dir) => n -> Eq.fresh(spark, dir) }
    val claimed = freshOf.flatMap(_._2).toSet
    val seqCol = "__eq_seq"
    val legs = ((Long.MinValue,
      files.filterNot(d => claimed.contains(normPath(d.path)))) +:
      freshOf.map { case (n, fresh) =>
        n -> files.filter(d => fresh.contains(normPath(d.path)))
      }).filter(_._2.nonEmpty).map { case (n, group) =>
      readFileRows(spark, group, stored).withColumn(seqCol, lit(n))
    }
    if (legs.isEmpty) {
      val schema = stored.getOrElse(
        throw new IllegalStateException(
          s"readMorAsOf: empty face of $tablePath with no stored schema"))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
    val data = legs.reduceLeft(_ unionByName _)
    val tombSeq = "__eq_tomb_seq"
    val tombs = eqDirs.map { case (n, dir) =>
      val keys = Eq.keys(spark, dir)
      val sideCols = keys.columns
      // BY NAME, never positionally: the sidecar's parquet columns are
      // the keyCols of ITS commit — a caller passing a different order
      // (or a different key set than the syncs used) must resolve to
      // the right columns or refuse loudly, not silently cross-wire
      // the anti-join
      require(sideCols.sorted.sameElements(keyCols.sorted),
        s"readMorAsOf: tombstone sidecar v$n of $tablePath is keyed " +
          s"on (${sideCols.sorted.mkString(",")}) but the read " +
          s"asked for (${keyCols.sorted.mkString(",")}) — the key " +
          "sets must match")
      keys.select(keyCols.map(k =>
          col(k).as(s"__eq_t_$k")).toIndexedSeq: _*)
        .withColumn(tombSeq, lit(n))
    }.reduceLeft(_ unionByName _)
    val cond = keyCols.map(k =>
      data(k) <=> col(s"__eq_t_$k")).reduce(_ && _) &&
      col(tombSeq) > col(seqCol)
    data.join(broadcast(tombs), cond, "left_anti").drop(seqCol)
  }

  /** [[readMorAsOf]] scoped to ONE hive partition — the composition
    * that keeps partition pruning alive on a partitioned MOR lineage:
    * every leg's FILE LIST is fragment-filtered in metadata before a
    * single file opens (base files and each sync's fresh files alike),
    * and only then does the tombstone anti-join run. Tombstones stay
    * GLOBAL — a key's delete applies wherever the key lives — but
    * rows of other partitions are never read to prove it. */
  def readMorPartitionAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      keyCols: Seq[String],
      partCol: String,
      value: Any): DataFrame = {
    val frag = partFragment(partCol, String.valueOf(value))
    readMorAsOf(spark, tablePath, version, keyCols,
      fragFilter = Some(frag))
  }

  /** COMPACTION for the MOR lineage: materialize [[readMorAsOf]]'s
    * head face as ONE copy-on-write replace commit, then drop every
    * tombstone sidecar — bounding the read-side tombstone volume and
    * returning the table to the plain-verb surface. The fold marker
    * records the expired window: time travel INSIDE it refuses loudly
    * (those faces' tombstones are gone; a raw answer would resurrect
    * deletes), while pre-MOR history below and the folded face above
    * keep serving. */
  def foldEqDeletes(
      spark: SparkSession,
      tablePath: String,
      keyCols: Seq[String]): Long = {
    val head = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"foldEqDeletes: $tablePath has no committed versions"))
    val f = fs(spark, tablePath)
    val eq = Eq.listing(spark, tablePath)
    val eqAll = eq.live ++ eq.stale
    require(eqAll.nonEmpty,
      s"foldEqDeletes: $tablePath carries no equality-delete sidecars")
    // TWO-PHASE against the crash between the replace commit and the
    // marker/cleanup: the intent records which head the fold derived
    // from, so a re-run whose head is the crashed fold's OWN replace
    // commit (parent == intent, not an eq generation) just FINISHES —
    // re-deriving from it would refuse on its own mid-lineage commit
    val intentFrom =
      readPointer(f, Eq.foldIntent(tablePath), lenient = true)
    val eqVs = eqAll.map(_._1).toSet
    val crashedFoldLanded = intentFrom.exists { from =>
      head > from && !eqVs.contains(head) &&
        manifestFor(spark, tablePath, head).flatMap(_.parent).contains(from)
    }
    val v =
      if (crashedFoldLanded) head
      else {
        writePointer(f, Eq.foldIntent(tablePath), head)
        val face = readMorAsOf(spark, tablePath, head, keyCols)
        // a partitioned MOR lineage folds through the partitioned
        // commit — the materialized face keeps its layout (and its
        // partition pruning) instead of silently flattening
        val headFrags = manifestFor(spark, tablePath, head)
          .fold(Seq.empty[Option[String]])(_.files.map(_.part))
        headFrags.headOption.flatten
          .map(_.takeWhile(_ != '=')) match {
          case Some(pc) if headFrags.forall(_.exists(_.startsWith(s"$pc="))) =>
            commitPartitioned(spark, face, tablePath, pc,
              append = false, derivedFrom = Some(head),
              verb = "foldEqDeletes")
          case _ =>
            commit(spark, face, tablePath, append = false,
              derivedFrom = Some(head), verb = "foldEqDeletes")
        }
      }
    // marker BEFORE dir deletion: a crash in between leaves
    // over-refusal (safe), never a raw answer for a governed version.
    // APPEND a per-fold window — rewriting one global (min, latest)
    // pair would retroactively refuse the previous fold's materialized
    // face and any plain commits that landed between folds.
    val windows = eq.windows :+ (eqAll.map(_._1).min, v)
    val out = f.create(Eq.foldMarker(tablePath), true)
    try out.write(windows.map { case (a, b) => s"$a $b" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    eqAll.foreach { case (_, dir) => f.delete(new Path(dir), true) }
    f.delete(Eq.foldIntent(tablePath), false)
    v
  }

  // ------------------------------------------------------------------
  // Combined per-verb resolution — one listing pass, one manifest read
  // ------------------------------------------------------------------

  /** Instrumentation: sidecar-family directory listings and manifest
    * reads issued since process start — `private[graft]` so the
    * listing-budget spec pins "one read verb = one combined resolution
    * pass" as a counted fact instead of a wall-clock guess. A manifest
    * read is one read of manifest FILES: a single generation
    * ([[manifestFor]], memo hits included), a timeline
    * ([[manifestMeta]]) or a generation pair ([[generationPair]]); a
    * full-history [[manifest]] counts once per generation it
    * assembles, nothing for itself. Monotone; tests snapshot-and-diff
    * around a verb. */
  private[graft] val sidecarListings =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong

  /** Manifest ROWS materialized to the driver since process start —
    * the scale gauge the version-bounded reads exist for: a read verb
    * must collect O(files of the queried generation), never
    * O(versions × files of the history) (the counter
    * [[SnapshotsResolutionSpec]] pins that bound with). */
  private[graft] val manifestRowsCollected =
    new java.util.concurrent.atomic.AtomicLong

  /** Manifest FILES OPENED (gen files + checkpoint files whose rows
    * were actually read) since process start — the checkpoint's budget
    * gauge: a timeline read must open 1 + O(commits since the last
    * checkpoint) files, never O(versions) footers, however long the
    * history ([[SnapshotsResolutionSpec]] pins that bound). */
  private[graft] val manifestFilesOpened =
    new java.util.concurrent.atomic.AtomicLong

  /** Manifest DIRECTORY listings since process start (head resolution
    * + manifest reads) — with rows, files-opened and sidecar listings
    * this completes the metadata-plane budget family the soak spec
    * fences. */
  private[graft] val manifestDirListings =
    new java.util.concurrent.atomic.AtomicLong

  /** Every versioned sidecar family's generation governing `version`,
    * resolved in ONE pass: a single listing of the table root discovers
    * which families exist at all — on a table with no sidecars that is
    * the only I/O — then one listing per PRESENT family finds its
    * latest-at-or-below dir, so the cost is 1 + families present,
    * however many verbs stack. The deletion-vector family's whole
    * listing is kept, so an interval verb picks its other endpoint's
    * set from it ([[dvAt]]); so is [[Eq.listing]]. A caller names the
    * other families it needs (`families`); the rest are not listed and
    * absent from `picked`. */
  private[graft] final case class SidecarGens(
      version: Long,
      families: Seq[SidecarFamily],
      dvListed: Seq[(Long, String)],
      picked: Map[SidecarFamily, (Long, String)],
      eq: Eq.Listing) {
    def dv: Option[(Long, String)] = dvAt(version)

    def dvAt(v: Long): Option[(Long, String)] = pickAtOrBelow(dvListed, v)

    /** The tombstone sets governing `version`, oldest first. */
    def eqLive: Seq[(Long, String)] = eq.liveAt(version)

    /** `fam`'s set governing `version` — empty when none does. */
    def governing[V](spark: SparkSession, fam: GovFamily[V]): Seq[(String, V)] =
      picked.get(fam).map { case (_, dir) => fam.read(spark, dir) }
        .getOrElse(Seq.empty)

    /** The one "describes" rule of the pruning indexes: `fam`'s picked
      * dir describes `version` when it is the version's own dir, or when
      * its recorded files cover all of the version's `files` (and there
      * are some) — how an index survives the FILE-PRESERVING metadata
      * verbs (deleteWhere, constraint changes) that repoint the parent's
      * files verbatim. A generation whose files left the described set
      * (replace, OPTIMIZE, purge) answers None rather than pruning with
      * bounds that no longer speak for it. `files` is read only for the
      * coverage check, so a version with its own dir costs no manifest
      * read. */
    def describing(
        spark: SparkSession,
        fam: IndexFamily,
        files: => Seq[String]): Option[String] =
      picked.get(fam).filter { case (v, dir) =>
        v == version || {
          val fs = files
          fs.nonEmpty && {
            val described = sidecarDescribedFiles(spark, dir)
            fs.forall(f => described.contains(normPath(f)))
          }
        }
      }.map(_._2)

    /** Refuse a version inside a fold window — its tombstone history
      * expired, so it has NO face; raw rows would be a lie — and a
      * tombstone-governed one as the verb `refuseEqAs` names (the
      * merge-on-read verbs pass None). */
    def servable(
        tablePath: String,
        refuseEqAs: Option[String]): SidecarGens = {
      eq.foldedAt(version).foreach { case (minEq, foldV) =>
        throw new IllegalArgumentException(
          s"version $version of $tablePath was merge-on-read " +
            s"governed and its equality-delete history folded away " +
            s"at v$foldV — no face exists inside [$minEq, $foldV); " +
            s"read v$foldV or later, or a version outside the window")
      }
      refuseEqAs.foreach(Eq.requireUngoverned(eq, tablePath, version, _))
      this
    }
  }

  /** [[sidecarPass]] with the refusals of a served face
    * ([[SidecarGens.servable]]). */
  private[graft] def resolveSidecars(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      refuseEqAs: Option[String] = Some("read"),
      families: Seq[SidecarFamily] = GovFamilies): SidecarGens =
    sidecarPass(spark, tablePath, version, families)
      .servable(tablePath, refuseEqAs)

  /** The listing pass of [[SidecarGens]]; refuses nothing. */
  private def sidecarPass(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      families: Seq[SidecarFamily]): SidecarGens = {
    val f = fs(spark, tablePath)
    sidecarListings.incrementAndGet()
    val present = f.listStatus(new Path(tablePath))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    def listed(fam: SidecarFamily): Seq[(Long, String)] =
      if (!present.contains(fam.dirName)) Seq.empty
      else sidecarFamilyListed(f, fam.root(tablePath))
    SidecarGens(version, families, listed(Dv),
      families.flatMap(g =>
        pickAtOrBelow(listed(g), version).map(g -> _)).toMap,
      if (!present.contains(Eq.dirName)) Eq.Absent
      else Eq.listing(spark, tablePath))
  }

  /** The governing DV frame from an already-resolved [[SidecarGens]] —
    * zero further listings. */
  private def dvSetOf(
      spark: SparkSession,
      gens: SidecarGens): Option[DataFrame] =
    gens.dv.map { case (_, dir) => Dv.read(spark, dir) }

  /** ONE generation from its own manifest file (O(files of v), never
    * the history), refused by name when it is not in the manifest —
    * what readers, the SQL catalog's scans and its `files` metadata
    * table plan from. */
  private[graft] def generationOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Generation = {
    val gen = manifestFor(spark, tablePath, version)
    require(gen.isDefined, notInManifest(tablePath, version))
    gen.get
  }

  private def notInManifest(tablePath: String, version: Long): String =
    s"snapshot version $version of $tablePath is not in the manifest " +
      "(never committed, or expired by vacuum)"

  /** The normalized file set one DV sidecar dir records — the SQL
    * catalog's DV guard ([[Face.dvGoverned]]) and every governed read's
    * clean/dirty split ([[readWithDv]]), memoized per published dir
    * ([[memoizedMeta]]): a driver Spark job otherwise repeated per
    * statement and per read. */
  private[graft] def dvRecordedFiles(
      spark: SparkSession,
      dir: String): Set[String] =
    memoizedMeta(fs(spark, dir), new Path(dir), "dvfiles") {
      Dv.read(spark, dir).select(col("file")).distinct()
        .collect().map(r => normPath(r.getString(0))).toSet
    }

  /** Does a deletion-vector entry of ANY generation touch one of
    * `files`? Callers pass files a manifest still lists, so entries on
    * files that left the lineage never count; an entry of a generation
    * that no longer governs (superseded, or expired but not yet swept)
    * does. That errs on the safe side for the guards that use it —
    * verbs whose answers would silently go wrong under row-level
    * deletes, and the streaming table feed, which cannot anti-join
    * vectors mid-flight. Metadata-scale: every DV dir is bounded by
    * deletes. */
  private[graft] def liveDvEntriesExist(
      spark: SparkSession,
      tablePath: String,
      files: Seq[String]): Boolean = {
    val dirs = sidecarListed(spark, Dv.root(tablePath)).map(_._2)
    dirs.nonEmpty && {
      val filesDf = spark.createDataFrame(
        files.distinct.map(Tuple1(_))).toDF("file")
      spark.read.schema(dvSchema).parquet(dirs: _*)
        .join(filesDf, Seq("file"), "left_semi")
        .limit(1).collect().nonEmpty
    }
  }

  /** Anti-join `df` (carrying the [[DvFileCol]]/[[DvPosCol]] row
    * identity) against a DV set. The DV side is a file-based relation
    * with known size, so the planner broadcasts it statically whenever
    * it fits — at 100 TB the refinement is per-file bitmaps pushed
    * into the scan (the Delta/Iceberg v2 physical shape); the
    * relational anti-join computes the identical answer. Keeps the
    * identity columns (callers drop them). */
  private def applyDv(df: DataFrame, dv: DataFrame): DataFrame =
    df.join(dv,
      df(DvFileCol) === dv("file") && df(DvPosCol) === dv("row_index"),
      "left_anti")

  /** Plan a read over manifest file rows under the deletion vectors and
    * column mapping `gens` resolved, with FILE-LEVEL DV PUSHDOWN: the
    * files split at METADATA time into DV-clean and DV-dirty by the
    * governing dir's recorded file set ([[dvRecordedFiles]]), and only
    * the dirty files' scan carries the `_metadata` row identity and
    * pays the anti-join — the clean files' subplan is a plain scan with
    * NO JOIN AT ALL (spec-pinned), so the join cost scales with the
    * deletes' blast radius, not the table. */
  private def readWithDv(
      spark: SparkSession,
      files: Seq[DataFile],
      stored: Option[org.apache.spark.sql.types.StructType],
      gens: SidecarGens): DataFrame = {
    val l2p = logicalToPhysical(gens.governing(spark, ColMap))
    val phys = stored.map(physicalSchema(_, l2p))
    gens.dv match {
      case None =>
        fromPhysical(readFileRows(spark, files, phys), l2p)
      case Some((_, dir)) =>
        val dirtySet = dvRecordedFiles(spark, dir)
        val (dirty, clean) = files.partition(d =>
          dirtySet.contains(normPath(d.path)))
        val legs =
          (if (clean.nonEmpty)
            Seq(fromPhysical(readFileRows(spark, clean, phys), l2p))
          else Seq.empty) ++
            (if (dirty.nonEmpty)
              Seq(applyDv(
                fromPhysical(
                  readFileRows(spark, dirty, phys, withMeta = true), l2p),
                Dv.read(spark, dir)).drop(DvFileCol, DvPosCol))
            else Seq.empty)
        legs.reduceLeft((a, b) =>
          a.unionByName(b, allowMissingColumns = true))
    }
  }

  /** Row-level DELETE as a metadata commit — deletion vectors, the
    * merge-on-read half of the lakehouse delete design space: the new
    * version's manifest carries the parent's data files VERBATIM (zero
    * rows rewritten — spec-pinned), plus a deletion-vector sidecar of
    * the (file, row_index) identities the predicate doomed, applied as
    * an anti-join by every read of this version onward. Copy-on-write
    * ([[mergePartitioned]], [[purgeKeys]]) pays O(touched files) per
    * delete; this pays O(deleted rows) — the right half when deletes
    * are small and frequent (CDC corrections, right-to-erasure queues
    * staged for a later [[optimize]], which physically drops the rows
    * because it rewrites through [[readAsOf]] and commits fresh
    * DV-free files).
    *
    * The sidecar stores the FULL governing set (parent's surviving
    * entries plus the fresh ones — disjoint by construction, the fresh
    * side is filtered from the already-DV-applied live view), so a
    * reader resolves ONE directory, and versions committed in between
    * by DV-unaware verbs inherit correctly (see [[sidecarResolve]]).
    * Older versions read back undeleted — MVCC — and [[rollback]]
    * restores the target's set. Returns the minted version. */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column,
      ts: Option[Long] = None): Long = {
    val face = dmlFace(spark, tablePath, "deleteWhere", Seq(ColMap))
    val fresh = face.live(face.files).filter(predicate)
      .select(col(DvFileCol).as("file"), col(DvPosCol).as("row_index"))
    val version = claimVersion(spark, tablePath, face.observed + 1L)
    val full = face.prior.fold(fresh)(p =>
      p.select(col("file"), col("row_index")).unionByName(fresh))
    Dv.write(spark, tablePath, version, full)
    publishDerived(spark, tablePath, version, face.files,
      face.schemaJson, ts, face.observed, "deleteWhere")
  }

  /** The observed face every row-level DML verb reads and derives its
    * commit from: the head's generation from ONE read, and the
    * sidecars its verb reads from ONE pass (`gens`) — the column
    * mapping, the deletion vectors governing it, the write-governance
    * sets its batch is prepared under ([[writeBatch]]) and the pruning
    * indexes describing it ([[indexDir]]). */
  private[graft] final case class DmlFace(
      spark: SparkSession,
      tablePath: String,
      gen: Generation,
      gens: SidecarGens) {
    private val cmap = gens.governing(spark, ColMap)
    val l2p: Map[String, String] = logicalToPhysical(cmap)
    val prior: Option[DataFrame] = dvSetOf(spark, gens)

    def observed: Long = gen.version

    def files: Seq[DataFile] = gen.files

    def stored: Option[org.apache.spark.sql.types.StructType] = gen.schema

    def schemaJson: String = gen.schemaJson.orNull

    /** The live rows of `files` (deletion vectors applied), carrying the
      * [[DvFileCol]]/[[DvPosCol]] row identity. */
    def live(files: Seq[DataFile]): DataFrame = {
      val base = fromPhysical(readFileRows(spark, files,
        stored.map(physicalSchema(_, l2p)), withMeta = true), l2p)
      prior.fold(base)(applyDv(base, _))
    }

    /** (dirty, clean) files against a normalized dirty-file set. */
    def split(dirty: Set[String]): (Seq[DataFile], Seq[DataFile]) =
      files.partition(d => dirty.contains(normPath(d.path)))

    /** `fam`'s dir that describes the observed head — None under a
      * rename/drop column mapping: index rows and physical file columns
      * keep their birth names, so the DML pruners and index maintenance
      * stand down there. */
    def indexDir(fam: IndexFamily): Option[String] =
      if (renamesAny(cmap)) None
      else gens.describing(spark, fam, files.map(_.path))
  }

  /** Resolve a DML verb's [[DmlFace]] at the current head, its
    * sidecars from one [[resolveSidecars]] pass over `families` (the
    * file-rewriting verbs' default: the write-governance and
    * pruning-index families). A table with no committed versions or a
    * tombstone-governed head refuses; a head retracted between its
    * resolution and the read is the retry-able conflict of
    * [[observedGeneration]]. */
  private[graft] def dmlFace(
      spark: SparkSession,
      tablePath: String,
      verb: String,
      families: Seq[SidecarFamily] = GovFamilies ++ IndexFamilies)
      : DmlFace = {
    val observed = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"$verb: $tablePath has no committed versions"))
    val gens = resolveSidecars(spark, tablePath, observed,
      refuseEqAs = Some(verb), families = families)
    DmlFace(spark, tablePath,
      observedGeneration(spark, tablePath, observed, verb), gens)
  }

  /** The normalized set of files a live frame (or a frame derived from
    * one, still carrying [[DvFileCol]]) draws its rows from. */
  private def dirtyFilesOf(live: DataFrame): Set[String] =
    live.select(col(DvFileCol)).distinct()
      .collect().map(r => normPath(r.getString(0))).toSet

  /** The predicate's file blast radius over the face: stats- then
    * bloom-sidecar pruning drops provably-clean files before any data
    * file opens ([[statsPrunedForDml]], [[bloomPrunedForDml]]), then
    * one scan reads only the predicate's columns (+ row identity) with
    * row-group stats skip. */
  private def predicateDirtyFiles(
      face: DmlFace,
      predicate: org.apache.spark.sql.Column): Set[String] = {
    val discovery = bloomPrunedForDml(face,
      statsPrunedForDml(face, face.files, predicate), predicate)
    if (discovery.isEmpty) Set.empty
    else dirtyFilesOf(face.live(discovery).filter(predicate))
  }

  /** Row-level UPDATE as FILE-EXACT copy-on-write — the other half of
    * the lakehouse DML design space from [[deleteWhere]]'s
    * merge-on-read: one predicate-pushed pass over the live face finds
    * the DISTINCT files that contain a matching row, and ONLY those
    * files are rewritten (matching rows with `assignments` applied —
    * each value cast to its column's stored type, the SQL UPDATE
    * contract — carried rows byte-equal); every untouched file's
    * manifest row repoints verbatim. At 100 TB the rewrite cost scales
    * with the predicate's file blast radius, never the table — a
    * selective update on a clustered key rewrites a handful of files,
    * and the discovery pass itself prunes to the predicate's columns
    * (parquet pushdown + row-group skipping).
    *
    * Composition: the governing DELETION VECTORS apply to both passes
    * (a rewrite that read raw files would resurrect DV-deleted rows
    * into fresh files), and the rewritten files' DV entries are
    * physically dropped — the new version's sidecar carries only the
    * untouched files' surviving entries. CHECK constraints and
    * generated-column definitions govern the updated rows exactly as
    * they govern ingest ([[writeBatch]]); a column-mapping face
    * translates both ways. Updated columns keep their stored type
    * (assignments cast; a type-changing update is a replace commit's
    * job). Hive-partitioned generations rewrite `partitionBy`, so
    * fragments re-derive from the data — an update that moves a row's
    * partition value moves the row's fragment with it (mixed-layout
    * generations refuse toward [[optimizePartitioned]]). A
    * stats/bloom-governed table
    * KEEPS ITS PRUNING INDEXES LIVE: [[maintainIndexSidecars]] mints
    * the new version's sidecar from the parent's surviving rows plus
    * one fresh-files-only data pass, so range/box/point scans keep
    * pruning across selective updates instead of refusing. A predicate
    * matching nothing is a no-op: no generation minted, the head
    * version returns unchanged. Returns the head after the verb. */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      ts: Option[Long] = None): Long = {
    require(assignments.nonEmpty, "updateWhere needs SET assignments")
    require(assignments.map(_._1).distinct.length == assignments.length,
      "updateWhere: duplicate assignment for column " +
        assignments.groupBy(_._1).collect { case (c, as) if as.length > 1 => c }
          .mkString(", "))
    val face = dmlFace(spark, tablePath, "updateWhere")
    val partCol = dmlPartitionCol(face, "updateWhere")
    // pass 1 — the predicate's file blast radius
    val dirtySet = predicateDirtyFiles(face, predicate)
    if (dirtySet.isEmpty) return face.observed
    val (dirtyRows, cleanRows) = face.split(dirtySet)
    // pass 2 — rewrite exactly the dirty files
    val dirtyLive = face.live(dirtyRows).drop(DvFileCol, DvPosCol)
    val colType: Map[String, org.apache.spark.sql.types.DataType] =
      face.stored.getOrElse(dirtyLive.schema)
        .fields.map(f => f.name -> f.dataType).toMap
    assignments.foreach { case (c, _) =>
      require(colType.contains(c),
        s"updateWhere: no column '$c' in $tablePath (columns: " +
          s"${colType.keys.toSeq.sorted.mkString(", ")})")
    }
    // ANSI UPDATE: every SET expression and the WHERE predicate see the
    // PRE-update row. The predicate lands once in a flag column, then a
    // single select builds all outputs against the original frame — so
    // `SET a = b, b = a` swaps and a later RHS never observes an
    // earlier assignment's result.
    val predFlag = "__graft_update_pred"
    val assigned = assignments.toMap
    val outCols = dirtyLive.columns.map { c =>
      assigned.get(c) match {
        case Some(v) =>
          when(col(predFlag), v.cast(colType(c))).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }
    val updated = dirtyLive.withColumn(predFlag, predicate)
      .select(outCols.toIndexedSeq: _*)
    rewriteCommit(face, partCol, dirtySet, cleanRows, updated, ts,
      "updateWhere")
  }

  /** REPLACE WHERE — Delta's `replaceWhere` / the predicate-scoped
    * INSERT OVERWRITE, and [[replacePartitions]]' general-predicate
    * sibling: ONE derived commit whose face is (old face WHERE NOT
    * predicate) ∪ `df`. FILE-EXACT like every DML verb here: the
    * stats/bloom-pruned discovery pass finds the files containing a
    * matching row, only those rewrite (minus their matching rows),
    * every clean file repoints verbatim, and the replacement batch
    * lands as fresh files — so an idempotent daily reload scoped by
    * its predicate converges however many times it lands. Every
    * replacement row must itself satisfy the predicate (Delta's
    * constraint — refused loudly BEFORE anything publishes, else a
    * re-run would double rows outside the scope). Deletion vectors,
    * constraints, generated columns and hive partitioning compose as
    * in [[updateWhere]]; the SQL face is
    * `INSERT INTO <t> REPLACE WHERE <pred> SELECT …` (q82). */
  def commitReplaceWhere(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      ts: Option[Long] = None): Long = {
    val face = dmlFace(spark, tablePath, "commitReplaceWhere")
    val partCol = dmlPartitionCol(face, "commitReplaceWhere")
    face.stored.foreach { st =>
      require(df.columns.sorted.sameElements(st.fieldNames.sorted),
        s"commitReplaceWhere: batch columns ${df.columns.sorted.mkString(",")} " +
          s"must match the stored face ${st.fieldNames.sorted.mkString(",")}")
    }
    // Delta's replaceWhere contract: a replacement row OUTSIDE the
    // predicate's scope would survive the next re-run's replace and
    // double — refuse the whole statement before anything publishes
    val offending = df.filter(!coalesce(predicate, lit(false)))
      .limit(1).collect()
    require(offending.isEmpty,
      s"commitReplaceWhere: the batch carries rows NOT satisfying the " +
        "REPLACE WHERE predicate — the reload would not be idempotent; " +
        "widen the predicate or filter the batch")
    val dirtySet = predicateDirtyFiles(face, predicate)
    val (dirtyRows, cleanRows) = face.split(dirtySet)
    val colOrder = face.stored.map(_.fieldNames.toSeq).getOrElse(
      df.columns.toSeq)
    val survivors =
      if (dirtyRows.isEmpty) None
      else Some(face.live(dirtyRows).drop(DvFileCol, DvPosCol)
        .filter(!coalesce(predicate, lit(false)))
        .select(colOrder.map(col): _*))
    val replaced = survivors
      .map(_.unionByName(df.select(colOrder.map(col): _*)))
      .getOrElse(df.select(colOrder.map(col): _*))
    rewriteCommit(face, partCol, dirtySet, cleanRows, replaced, ts,
      "commitReplaceWhere")
  }

  /** The partition column a file-swapping DML commit must preserve:
    * None for a flat generation, the single fragment key for a
    * uniformly hive-partitioned one (the rewrite then writes
    * `partitionBy` so fragments — including rows an UPDATE moved
    * across partitions — re-derive from the data). A MIXED layout
    * (partition evolution mid-flight) refuses: fragment-scoped
    * answers over it are undefined until [[optimizePartitioned]]. */
  private def dmlPartitionCol(face: DmlFace, verb: String): Option[String] = {
    val (files, version, tablePath) =
      (face.files, face.observed, face.tablePath)
    if (files.forall(_.part.isEmpty)) None
    else {
      require(files.forall(_.part.isDefined),
        s"$verb: version $version of $tablePath mixes flat and " +
          "partitioned files (partition evolution) — compact with " +
          "optimizePartitioned first")
      val keys = files.flatMap(_.part).map(_.split("=", 2)(0)).distinct
      require(keys.length == 1,
        s"$verb: version $version of $tablePath carries fragments on " +
          s"multiple keys (${keys.mkString(", ")}) — compact with " +
          "optimizePartitioned first")
      Some(keys.head)
    }
  }

  /** The commit tail of a file-exact copy-on-write verb: `frame` (the
    * rewritten dirty files' rows plus any fresh rows) lands as fresh
    * files beside the verbatim `cleanRows`. Every sidecar the new
    * version needs — its DV set, its stats/bloom indexes — is written
    * BEFORE [[publishDerived]], so a refused publish retracts them with
    * the generation. Returns the minted version. */
  private def rewriteCommit(
      face: DmlFace,
      partCol: Option[String],
      dirtySet: Set[String],
      cleanRows: Seq[DataFile],
      frame: DataFrame,
      ts: Option[Long],
      verb: String): Long = {
    val spark = face.spark
    val tablePath = face.tablePath
    val version = claimVersion(spark, tablePath, face.observed + 1L)
    val fresh = writeBatch(spark, tablePath, version, Some(face.gens),
      frame, partCol).fresh
    // the new version's DV sidecar: untouched files' entries survive,
    // rewritten files' entries died physically with the rewrite — an
    // empty survivor set still writes (it supersedes the parent's)
    face.prior.foreach { p =>
      val survivingFiles = p.select(col("file")).distinct().collect()
        .map(_.getString(0))
        .filter(f => !dirtySet.contains(normPath(f)))
      Dv.write(spark, tablePath, version,
        if (survivingFiles.isEmpty) p.limit(0)
        else p.filter(col("file").isin(survivingFiles.toIndexedSeq: _*)))
    }
    maintainIndexSidecars(face, version, cleanRows.map(_.path),
      fresh.map(_.path))
    publishDerived(spark, tablePath, version, cleanRows ++ fresh,
      face.schemaJson, ts, face.observed, verb)
  }

  /** A function call in the UNRESOLVED face of a predicate: the Column
    * DSL converts to unresolved function nodes ('and, '=, '>=…) while
    * the SQL DML rule hands over RESOLVED typed trees — the DML
    * pruners match both faces of each shape. */
  private object Fn {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Expression
    def unapply(e: Expression): Option[(String, Seq[Expression])] =
      e match {
        case f: UnresolvedFunction if f.nameParts.length == 1 =>
          Some((f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
            f.arguments))
        case _ => None
      }
  }

  /** The top-level AND conjuncts of a predicate, in either face. */
  private def conjunctsOf(predicate: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def walk(e: Expression): Seq[Expression] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case Fn("and", Seq(l, r)) => walk(l) ++ walk(r)
      case other => Seq(other)
    }
    walk(org.apache.spark.sql.GraftSqlShim.eagerExpression(predicate))
  }

  /** STATS-PRUNE a DML verb's DISCOVERY pass: when a stats sidecar
    * describes the parent generation, files whose per-file [min, max]
    * intervals PROVABLY cannot contain a predicate-matching row drop
    * from the discovery scan before any data file opens — so a
    * selective `UPDATE ... WHERE key BETWEEN ...` on a clustered or
    * Z-ordered 100-TB table reads only the admitted files even to FIND
    * its blast radius. Strictly conservative: the predicate is split
    * into top-level AND conjuncts, each simple comparison / IN on a
    * stats-keyed column maps to an interval test, and every shape the
    * translator does not recognize (OR trees, functions, other
    * columns) is simply ignored — ignoring a conjunct only WIDENS
    * admission, and the exact predicate still runs row-level inside
    * the discovery scan. Returns the input rows untouched when no
    * sidecar describes the generation, a column mapping governs, or
    * nothing translates. */
  private[graft] def statsPrunedForDml(
      face: DmlFace,
      files: Seq[DataFile],
      predicate: org.apache.spark.sql.Column): Seq[DataFile] = {
    if (files.isEmpty) return files
    val spark = face.spark
    val sd = face.indexDir(StatsIndex).getOrElse(return files)
    val statKeys = StatsIndex.keys(spark, sd).toSet
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo => CEq, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGe, In => CIn, LessThan => CLt, LessThanOrEqual => CLe, Literal => CLit}
    def keyOf(e: Expression): Option[String] = e match {
      case u: UnresolvedAttribute if u.nameParts.length == 1 &&
        statKeys.contains(u.nameParts.head) => Some(u.nameParts.head)
      case a: Attribute if statKeys.contains(a.name) => Some(a.name)
      case _ => None
    }
    def litCol(l: CLit): org.apache.spark.sql.Column =
      org.apache.spark.sql.GraftSqlShim.column(l)
    // a file whose key stats are all-null cannot satisfy a comparison
    // (null comparisons are never TRUE row-level), so a null interval
    // test dropping it is exact, not just conservative
    def admitOne(e: Expression): Option[org.apache.spark.sql.Column] =
      e match {
        case CEq(k, l: CLit) =>
          keyOf(k).map(c => Skipping.admits(c, litCol(l), litCol(l)))
        case CEq(l: CLit, k) => admitOne(CEq(k, l))
        case CGt(k, l: CLit) => keyOf(k).map(c => col(s"max_$c") > litCol(l))
        case CGt(l: CLit, k) => keyOf(k).map(c => col(s"min_$c") < litCol(l))
        case CGe(k, l: CLit) => keyOf(k).map(c => col(s"max_$c") >= litCol(l))
        case CGe(l: CLit, k) => keyOf(k).map(c => col(s"min_$c") <= litCol(l))
        case CLt(k, l: CLit) => keyOf(k).map(c => col(s"min_$c") < litCol(l))
        case CLt(l: CLit, k) => keyOf(k).map(c => col(s"max_$c") > litCol(l))
        case CLe(k, l: CLit) => keyOf(k).map(c => col(s"min_$c") <= litCol(l))
        case CLe(l: CLit, k) => keyOf(k).map(c => col(s"max_$c") >= litCol(l))
        case CIn(k, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[CLit]) =>
          keyOf(k).map { c =>
            vs.map { v =>
              val l = litCol(v.asInstanceOf[CLit])
              Skipping.admits(c, l, l)
            }.reduce(_ || _)
          }
        case Fn("=" | "==", Seq(a, b)) => admitOne(CEq(a, b))
        case Fn(">", Seq(a, b)) => admitOne(CGt(a, b))
        case Fn(">=", Seq(a, b)) => admitOne(CGe(a, b))
        case Fn("<", Seq(a, b)) => admitOne(CLt(a, b))
        case Fn("<=", Seq(a, b)) => admitOne(CLe(a, b))
        case Fn("in", k +: vs) if vs.nonEmpty => admitOne(CIn(k, vs))
        case _ => None
      }
    val admits = conjunctsOf(predicate).flatMap(admitOne)
    if (admits.isEmpty) return files
    val admitted = statsAdmitted(spark, sd, admits.reduce(_ && _))
    files.filter(d => admitted.contains(normPath(d.path)))
  }

  /** [[statsPrunedForDml]]'s point-lookup sibling: when a BLOOM
    * sidecar describes the parent generation and the predicate carries
    * an equality or IN conjunct on the sidecar's recorded key, only
    * the files whose bloom might contain one of the values stay in the
    * DML discovery scan — `UPDATE ... WHERE event_id = x` on a
    * bloom-indexed 100-TB table opens a handful of files to find its
    * blast radius. Same conservative contract: unrecognized shapes
    * widen admission, blooms never produce false negatives, and the
    * exact predicate still runs row-level. */
  private[graft] def bloomPrunedForDml(
      face: DmlFace,
      files: Seq[DataFile],
      predicate: org.apache.spark.sql.Column): Seq[DataFile] = {
    if (files.isEmpty) return files
    val spark = face.spark
    val bd = face.indexDir(BloomIndex).getOrElse(return files)
    val keyCol = BloomIndex.keys(spark, bd).headOption
      .getOrElse(return files)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo => CEq, Expression, In => CIn, Literal => CLit}
    def isKey(e: Expression): Boolean = e match {
      case u: UnresolvedAttribute =>
        u.nameParts.length == 1 && u.nameParts.head == keyCol
      case a: Attribute => a.name == keyCol
      case _ => false
    }
    def scalaValue(l: CLit): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType)
    def pointValues(e: Expression): Option[Seq[Any]] = e match {
      case CEq(k, l: CLit) if isKey(k) => Some(Seq(scalaValue(l)))
      case CEq(l: CLit, k) if isKey(k) => Some(Seq(scalaValue(l)))
      case CIn(k, vs) if isKey(k) && vs.nonEmpty &&
        vs.forall(_.isInstanceOf[CLit]) =>
        Some(vs.map(v => scalaValue(v.asInstanceOf[CLit])))
      case Fn("=" | "==", Seq(a, b)) => pointValues(CEq(a, b))
      case Fn("in", k +: vs) if vs.nonEmpty => pointValues(CIn(k, vs))
      case _ => None
    }
    // the FIRST point conjunct suffices (conjuncts intersect): a row
    // matching the whole predicate must match it
    conjunctsOf(predicate).flatMap(pointValues).headOption match {
      case None => files
      case Some(values) =>
        val admitted = Skipping.bloomAdmitted(spark, bd,
          Skipping.hashesOf(spark, values)).map(normPath).toSet
        files.filter(d => admitted.contains(normPath(d.path)))
    }
  }

  /** Prune [[mergeInto]]'s MATCHED-pass target scan by the SOURCE's
    * key range: when the ON condition carries a plain `t.<col> =
    * s.<col>` equality and a stats sidecar describes the target's
    * parent generation, ONE small aggregate computes the source key's
    * [min, max] and only target files whose interval intersects it
    * stay in the match scan — a MERGE whose source covers one day of
    * a date-clustered 100-TB table reads that day's files to find its
    * matches, not the table. Conservative as always: no sidecar, no
    * recognizable equality, or an all-null source key → no pruning;
    * rows outside the admitted files cannot match (their key interval
    * misses every source key), so the join answer is unchanged. */
  private[graft] def mergeSourcePruned(
      face: DmlFace,
      files: Seq[DataFile],
      source: DataFrame,
      on: org.apache.spark.sql.Column): Seq[DataFile] = {
    if (files.isEmpty) return files
    val spark = face.spark
    val sd = face.indexDir(StatsIndex).getOrElse(return files)
    val statKeys = StatsIndex.keys(spark, sd).toSet
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo => CEq, Expression}
    def sided(e: Expression): Option[(String, String)] = e match {
      // (alias, column) of a two-part attribute — the verbs' own
      // t./s. aliases, whichever way the equality was written
      case u: UnresolvedAttribute if u.nameParts.length == 2 =>
        Some((u.nameParts.head, u.nameParts.last))
      case _ => None
    }
    def eqKey(e: Expression): Option[(String, String)] = e match {
      case CEq(a, b) =>
        (sided(a), sided(b)) match {
          case (Some(("t", tc)), Some(("s", sc))) => Some((tc, sc))
          case (Some(("s", sc)), Some(("t", tc))) => Some((tc, sc))
          case _ => None
        }
      case Fn("=" | "==", Seq(a, b)) => eqKey(CEq(a, b))
      case _ => None
    }
    val key = conjunctsOf(on).flatMap(eqKey)
      .find { case (tc, sc) =>
        statKeys.contains(tc) && source.columns.contains(sc)
      }
      .getOrElse(return files)
    val (tCol, sCol) = key
    val bounds = source.agg(
      min(col(sCol)).as("lo"), max(col(sCol)).as("hi")).collect().head
    if (bounds.isNullAt(0)) return files // all-null source key
    val admitted = statsAdmitted(spark, sd,
      Skipping.admits(tCol, bounds.get(0), bounds.get(1)))
    files.filter(d => admitted.contains(normPath(d.path)))
  }

  /** One WHEN clause of [[mergeInto]] — the SQL MERGE action shapes.
    * `cond` is the clause's extra predicate (beyond the ON match),
    * evaluated over BOTH sides' columns; columns of the target
    * qualify as `t.<col>`, the source as `s.<col>` (unqualified names
    * resolve only while unambiguous). */
  sealed trait MergeClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ... */
  case class MergeUpdate(
      cond: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  case class MergeDelete(
      cond: Option[org.apache.spark.sql.Column]) extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols...) VALUES (...) */
  case class MergeInsert(
      cond: Option[org.apache.spark.sql.Column],
      values: Seq[(String, org.apache.spark.sql.Column)]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... —
    * target rows NO source row matched; expressions reference the
    * target side only (the ANSI restriction). */
  case class MergeUpdateBySource(
      cond: Option[org.apache.spark.sql.Column],
      set: Seq[(String, org.apache.spark.sql.Column)]) extends MergeClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — the
    * full-sync / replication clause: target rows the source stopped
    * carrying leave the table. */
  case class MergeDeleteBySource(
      cond: Option[org.apache.spark.sql.Column]) extends MergeClause

  /** ANSI MERGE INTO as FILE-EXACT copy-on-write — the general
    * source-driven upsert over a flat or hive-partitioned snapshot
    * table (partitioned rewrites go `partitionBy`, fragments
    * re-derive from the data), completing
    * [[merge]]'s keyed shape and [[mergePartitioned]]'s
    * partition-scoped shape. One semi-join pass finds the target
    * files containing ANY ON-matched row (the match blast radius —
    * only those rewrite; every untouched file repoints verbatim), a
    * cardinality aggregate enforces the ANSI contract that no target
    * row matches two source rows (refused loudly, never
    * last-source-wins), and ONE fresh write carries the rewritten
    * survivors plus the not-matched inserts. Matched clauses apply
    * first-match-wins in declaration order (the SQL contract), and so
    * do the WHEN NOT MATCHED BY SOURCE clauses over the target rows
    * the source stopped carrying — their blast radius is its own
    * condition-pruned anti-join pass, so a full-sync MERGE rewrites
    * only the files its deletes and updates actually touch. Rows hit
    * by no clause carry unchanged. Deletion vectors,
    * constraints, generated columns and column mappings compose
    * exactly as in [[updateWhere]]. The source is evaluated exactly
    * TWICE (blast radius + rewrite join) — cache it if expensive.
    * Returns the head after the verb (unchanged when the source
    * matches nothing and inserts nothing). */
  def mergeInto(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      on: org.apache.spark.sql.Column,
      clauses: Seq[MergeClause],
      ts: Option[Long] = None): Long = {
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    val matched = clauses.collect {
      case u: MergeUpdate => u: MergeClause
      case d: MergeDelete => d: MergeClause
    }
    val inserts = clauses.collect { case i: MergeInsert => i }
    val bySource = clauses.collect {
      case u: MergeUpdateBySource => u: MergeClause
      case d: MergeDeleteBySource => d: MergeClause
    }
    val face = dmlFace(spark, tablePath, "mergeInto")
    val partCol = dmlPartitionCol(face, "mergeInto")
    val files = face.files
    // the sentinel marks "the left join FOUND a source row" without
    // guessing at a non-null source column — MERGE's matched test
    val src = source.withColumn(MergeSrcSentinel, lit(1)).alias("s")
    // pass 1 — the match blast radius + the ANSI cardinality check in
    // ONE aggregate: per matched target row identity, how many source
    // rows matched
    val dirtyMatched: Set[String] =
      // no matched clause → no matched-file rewrites (and the ANSI
      // cardinality contract binds only update/delete — Spark and
      // Iceberg agree); an empty face has nothing to match either way
      if (files.isEmpty || matched.isEmpty) Set.empty
      else {
        // target files whose stats interval misses the source's whole
        // key range cannot contain a match — prune the match scan
        val matchScan = mergeSourcePruned(face, files, source, on)
        if (matchScan.isEmpty) Set.empty // stats disprove any match
        else {
          val matchCounts = face.live(matchScan).alias("t")
            .join(src, on, "inner")
            .groupBy(col(DvFileCol), col(DvPosCol))
            .agg(count(lit(1)).as("n_matches"))
          val ambiguous = matchCounts.filter(col("n_matches") > 1)
            .limit(1).collect()
          require(ambiguous.isEmpty,
            s"mergeInto: a target row of $tablePath matches more than " +
              "one source row — the ANSI MERGE cardinality contract; " +
              "deduplicate the source on the ON keys first")
          dirtyFilesOf(matchCounts)
        }
      }
    // the NOT MATCHED BY SOURCE blast radius: files containing a
    // target row with NO match that some by-source clause would hit —
    // one anti-join pass, pruned by the clauses' own conditions
    val dirtyBySource: Set[String] =
      if (files.isEmpty || bySource.isEmpty) Set.empty
      else {
        val anyCond = bySource.map {
          case MergeUpdateBySource(c, _) => c.getOrElse(lit(true))
          case MergeDeleteBySource(c) => c.getOrElse(lit(true))
          case _ => lit(false)
        }.reduce(_ || _)
        dirtyFilesOf(face.live(files).alias("t")
          .join(src, on, "left_anti")
          .filter(anyCond))
      }
    val dirtySet = dirtyMatched ++ dirtyBySource
    val (dirtyRows, cleanRows) = face.split(dirtySet)
    val colType: Map[String, org.apache.spark.sql.types.DataType] =
      face.stored.map(_.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
    def castTo(c: String, v: org.apache.spark.sql.Column) =
      colType.get(c).map(v.cast).getOrElse(v)
    val targetCols: Seq[String] = face.stored.map(_.fieldNames.toSeq)
      .getOrElse {
        require(files.nonEmpty,
          s"mergeInto: version ${face.observed} of $tablePath is empty " +
            "and carries no stored schema — the insert face is unknowable")
        fromPhysical(readFileRows(spark, files.take(1), None), face.l2p)
          .columns.toSeq
      }
    // pass 2 — rewrite the dirty files: left-join their live rows to
    // the source, apply the first matching WHEN clause per row
    val rewritten: Option[DataFrame] =
      if (dirtyRows.isEmpty) None
      else {
        val withSentinel = face.live(dirtyRows).alias("t")
          .join(src, on, "left_outer")
        val isMatched = col(MergeSrcSentinel).isNotNull
        // first-match-wins per row set: matched rows walk the matched
        // clauses in declaration order, unmatched-by-source rows the
        // by-source clauses — two independent CASE WHEN chains folded
        // per output column + one keep/delete flag
        var keep: org.apache.spark.sql.Column = lit(true)
        var decided: org.apache.spark.sql.Column = lit(false)
        var decidedBs: org.apache.spark.sql.Column = lit(false)
        val colExprs = scala.collection.mutable.LinkedHashMap[String,
          org.apache.spark.sql.Column]()
        targetCols.foreach(c => colExprs(c) = col(s"t.$c"))
        def setCols(
            fires: org.apache.spark.sql.Column,
            set: Seq[(String, org.apache.spark.sql.Column)],
            verb: String): Unit =
          set.foreach { case (c, v) =>
            require(targetCols.contains(c),
              s"mergeInto: $verb names no column '$c' of " +
                s"$tablePath (columns: ${targetCols.mkString(", ")})")
            colExprs(c) = when(fires, castTo(c, v)).otherwise(colExprs(c))
          }
        clauses.foreach {
          case MergeUpdate(cond, set) =>
            val fires = isMatched && !decided && cond.getOrElse(lit(true))
            setCols(fires, set, "UPDATE SET")
            decided = decided || (isMatched && cond.getOrElse(lit(true)))
          case MergeDelete(cond) =>
            val fires = isMatched && !decided && cond.getOrElse(lit(true))
            keep = keep && !fires
            decided = decided || (isMatched && cond.getOrElse(lit(true)))
          case MergeUpdateBySource(cond, set) =>
            val fires =
              !isMatched && !decidedBs && cond.getOrElse(lit(true))
            setCols(fires, set, "UPDATE SET (not matched by source)")
            decidedBs = decidedBs ||
              (!isMatched && cond.getOrElse(lit(true)))
          case MergeDeleteBySource(cond) =>
            val fires =
              !isMatched && !decidedBs && cond.getOrElse(lit(true))
            keep = keep && !fires
            decidedBs = decidedBs ||
              (!isMatched && cond.getOrElse(lit(true)))
          case _: MergeInsert => ()
        }
        // With no WHEN MATCHED clause the ANSI cardinality check never
        // ran, yet a by-source clause can dirty files that ALSO hold
        // matched rows; the left_outer join fans those out per source
        // match. Every such row's outputs depend on target columns
        // only (by-source SET is target-side by the ANSI restriction,
        // matched rows carry unchanged), so collapsing on the row
        // identity is exact. With matched clauses present the
        // cardinality check above already refused any fan-out.
        val applied = withSentinel.filter(keep)
        val collapsed =
          if (matched.isEmpty) applied.dropDuplicates(DvFileCol, DvPosCol)
          else applied
        Some(collapsed
          .select(targetCols.map(c => colExprs(c).as(c)): _*))
      }
    // not-matched inserts: source rows with NO target match at all
    val inserted: Option[DataFrame] =
      if (inserts.isEmpty) None
      else {
        val unmatched =
          if (files.isEmpty) src
          else src.join(face.live(files).alias("t"), on, "left_anti")
        var decided: org.apache.spark.sql.Column = lit(false)
        val legs = inserts.map { case MergeInsert(cond, values) =>
          values.foreach { case (c, _) =>
            require(targetCols.contains(c),
              s"mergeInto: INSERT names no column '$c' of $tablePath " +
                s"(columns: ${targetCols.mkString(", ")})")
          }
          val fires = !decided && cond.getOrElse(lit(true))
          decided = decided || cond.getOrElse(lit(true))
          val byName = values.toMap
          unmatched.filter(fires).select(targetCols.map(c =>
            byName.get(c).map(v => castTo(c, v))
              .getOrElse(lit(null).cast(colType.getOrElse(c,
                org.apache.spark.sql.types.StringType))).as(c)): _*)
        }
        legs.reduceLeftOption(_.unionByName(_))
      }
    val freshFrame = (rewritten, inserted) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (r, i) => r.orElse(i)
    }
    // short-circuits: the insert-emptiness probe job runs only when no
    // file rewrites force a commit anyway
    val anythingToWrite = freshFrame.isDefined &&
      (dirtyRows.nonEmpty || inserted.exists(!_.isEmpty))
    if (!anythingToWrite) return face.observed
    rewriteCommit(face, partCol, dirtySet, cleanRows, freshFrame.get, ts,
      "mergeInto")
  }

  // ------------------------------------------------------------------
  // Write-governance sidecar families — what batch preparation bakes
  // into a batch (CHECK constraints, generated columns, column mapping)
  // ------------------------------------------------------------------

  /** A versioned sidecar family: `<table>/<dirName>/v<N>` per
    * generation, resolved latest-at-or-below ([[sidecarResolve]]).
    * [[retractVersion]] and [[vacuum]]'s expiry sweep drop every
    * family's dir of a withdrawn or expired version. */
  private[graft] abstract class SidecarFamily(val dirName: String) {
    def root(tablePath: String): String = s"$tablePath/$dirName"

    def dirAt(tablePath: String, version: Long): String =
      s"${root(tablePath)}/v$version"
  }

  /** The carried, write-governance, pruning-index and equality-delete
    * families. */
  private def sidecarFamilies: Seq[SidecarFamily] =
    CarriedFamilies ++ IndexFamilies :+ Eq

  /** A CARRIED sidecar family: each `<table>/<dirName>/v<N>` holds the
    * FULL set governing generation N (a set of type `S`), resolved
    * latest-at-or-below ([[sidecarResolve]]), so appends inherit
    * without copying and every face replays under exactly the sets it
    * was written under. [[CarriedFamilies]] lists them; every verb that
    * publishes another version's face ([[publishFace]]) or expires the
    * versions a set was written at ([[vacuum]]) iterates that list. */
  private[graft] abstract class CarriedFamily[S](dirName: String)
      extends SidecarFamily(dirName) {

    /** One published dir's set. */
    def read(spark: SparkSession, dir: String): S

    def write(
        spark: SparkSession,
        tablePath: String,
        version: Long,
        set: S): Unit

    /** The empty set — written, it masks every set below it. */
    def empty(spark: SparkSession): S

    /** `set` restricted to the data files a vacuum retains. */
    protected def retain(spark: SparkSession, set: S, kept: Set[String]): S =
      set

    /** The carry rule: `src`'s set governing `srcVersion` becomes
      * `dst`'s at `dstVersion` when it exists or `dst` already has this
      * family — an EMPTY set then masks sets committed after the source
      * face instead of inheriting them. */
    def carry(
        spark: SparkSession,
        src: String,
        srcVersion: Long,
        dst: String,
        dstVersion: Long): Unit = {
      val set = sidecarResolve(spark, root(src), srcVersion)
      if (set.nonEmpty || fs(spark, dst).exists(new Path(root(dst))))
        write(spark, dst, dstVersion,
          set.fold(empty(spark)) { case (_, dir) => read(spark, dir) })
    }

    /** [[vacuum]]'s step: a set governing `keepFrom` from BELOW it is
      * written at `keepFrom` (restricted to the `kept` files), so the
      * dirs of the expired versions can go. */
    def materializeAt(
        spark: SparkSession,
        tablePath: String,
        keepFrom: Long,
        kept: Set[String]): Unit =
      sidecarResolve(spark, root(tablePath), keepFrom).foreach {
        case (v, dir) if v < keepFrom =>
          write(spark, tablePath, keepFrom,
            retain(spark, read(spark, dir), kept))
        case _ =>
      }
  }

  /** Deletion vectors: the (file, row_index) identities deleted from
    * the data files, read as a frame. They govern reads, not batch
    * preparation; a vacuum prunes them to the files it keeps. */
  private object Dv extends CarriedFamily[DataFrame]("_dv") {
    def read(spark: SparkSession, dir: String): DataFrame =
      spark.read.schema(dvSchema).parquet(dir)

    def write(
        spark: SparkSession,
        tablePath: String,
        version: Long,
        set: DataFrame): Unit =
      set.select(col("file"), col("row_index"))
        .coalesce(1)
        .write.mode("errorifexists").parquet(dirAt(tablePath, version))

    def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dvSchema)

    override protected def retain(
        spark: SparkSession,
        set: DataFrame,
        kept: Set[String]): DataFrame =
      set.join(spark.createDataFrame(kept.toSeq.map(Tuple1(_))).toDF("file"),
        Seq("file"), "left_semi")
  }

  /** One WRITE-GOVERNANCE family — what batch preparation bakes into a
    * batch: its set is (key, value) string rows, `value` decoded from a
    * nullable string. [[GovFamilies]] lists them. */
  private[graft] final class GovFamily[V](
      dirName: String,
      keyCol: String,
      valCol: String,
      decode: String => V) extends CarriedFamily[Seq[(String, V)]](dirName) {

    /** One published dir's rows, sorted by key — memoized per dir
      * ([[memoizedMeta]]): every ingest into a governed table and every
      * SQL statement's loadTable consult them, and a published dir is
      * immutable. */
    def read(spark: SparkSession, dir: String): Seq[(String, V)] =
      memoizedMeta(fs(spark, dir), new Path(dir), dirName) {
        readMetaParquet(spark.sparkContext.hadoopConfiguration,
          new Path(dir), Seq(keyCol, valCol))
          .map(r => (r.getString(0), decode(r.getString(1))))
          .sortBy(_._1).toSeq
      }

    /** The set GOVERNING `version` — empty when none does. */
    def asOf(
        spark: SparkSession,
        tablePath: String,
        version: Long): Seq[(String, V)] =
      sidecarResolve(spark, root(tablePath), version)
        .map { case (_, dir) => read(spark, dir) }.getOrElse(Seq.empty)

    def write(
        spark: SparkSession,
        tablePath: String,
        version: Long,
        set: Seq[(String, V)]): Unit =
      writeMetaDir(spark, dirAt(tablePath, version),
        Seq(keyCol -> false, valCol -> false),
        set.map { case (k, v) => Seq[Any](k, v) })

    def empty(spark: SparkSession): Seq[(String, V)] = Seq.empty
  }

  /** CHECK constraints: (name, exprSql). */
  private val Constraints =
    new GovFamily[String]("_constraints", "name", "expr", identity)

  /** Generated columns: (name, exprSql). */
  private val GenCols =
    new GovFamily[String]("_gencols", "name", "expr", identity)

  /** Column mapping: (physical, logical), `logical = None` a DROP
    * tombstone (see [[colMapAsOf]]). */
  private val ColMap = new GovFamily[Option[String]](
    "_colmap", "physical", "logical", Option(_))

  /** Every write-governance family — a new family is one entry here. */
  private[graft] val GovFamilies: Seq[GovFamily[_]] =
    Seq(Constraints, ColMap, GenCols)

  /** Every carried family — a new one is one entry here. */
  private[graft] val CarriedFamilies: Seq[CarriedFamily[_]] =
    Dv +: GovFamilies

  /** What a metadata-only DDL verb changes at the version it mints: the
    * stored schema (None keeps the head's) and the governance set it
    * writes there (`govWrite(version)`). */
  private final case class DdlChange(
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      govWrite: Long => Unit = _ => ())

  /** The shared commit tail of the metadata-only DDL verbs (constraint,
    * generated-column and column add/drop/rename): the observed head's
    * generation — refused by name when the table is empty — handed to
    * `change` for the verb's checks; then the claim, the governance
    * write and the derived publish that repoints the head's files
    * verbatim. Returns the minted version. */
  private def metadataDdl(
      spark: SparkSession,
      tablePath: String,
      verb: String)(
      change: Generation => DdlChange): Long = {
    val observed = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"$verb: $tablePath has no committed versions"))
    val gen = observedGeneration(spark, tablePath, observed, verb)
    val c = change(gen)
    val version = claimVersion(spark, tablePath, observed + 1L)
    c.govWrite(version)
    publishDerived(spark, tablePath, version, gen.files,
      c.schema.fold(gen.schemaJson.orNull)(_.json), None, observed, verb)
  }

  /** The head's stored schema for a DDL verb that edits it — refused
    * for generations written before stored schemas. */
  private def ddlSchema(
      gen: Generation,
      tablePath: String,
      verb: String): org.apache.spark.sql.types.StructType =
    gen.schema.getOrElse(throw new IllegalArgumentException(
      s"$verb: version ${gen.version} of $tablePath predates " +
        "manifest-carried schemas — recommit first"))

  /** Is `col` a hive partition key of one of `gen`'s files? */
  private def partitionsOn(gen: Generation, col: String): Boolean =
    gen.files.exists(_.part.exists(_.startsWith(s"$col=")))

  /** The CHECK constraints GOVERNING `version`, as (name, exprSql)
    * pairs. */
  def constraintsAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Seq[(String, String)] =
    Constraints.asOf(spark, tablePath, version)

  /** The generated columns GOVERNING `version` as (name, exprSql)
    * pairs. */
  def generatedColumnsAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Seq[(String, String)] =
    GenCols.asOf(spark, tablePath, version)

  /** The column mapping GOVERNING `version`: (physical, logical) pairs
    * where `logical = None` is a DROP tombstone. The Iceberg field-id
    * idea reduced to names: data files carry a column's PHYSICAL name
    * forever (assigned at column birth), renames and drops only move
    * the logical label in this sidecar — zero data rewritten, O(1)
    * metadata per schema change on a 100-TB table. Every write
    * translates logical→physical before touching parquet; every read
    * translates back. A dropped column's physical name stays
    * tombstoned so a later re-add can never resurrect old file data
    * under the same name (re-adds are refused loudly — the field-id
    * refinement would mint a fresh physical name instead). */
  def colMapAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Seq[(String, Option[String])] =
    ColMap.asOf(spark, tablePath, version)

  /** A mapping that renames or drops some physical column. Sidecar
    * columns and physical file columns keep their birth names, so the
    * verbs that address them by name stand down (or refuse) under one. */
  private def renamesAny(m: Seq[(String, Option[String])]): Boolean =
    m.exists { case (p, l) => !l.contains(p) }

  // ------------------------------------------------------------------
  // CHECK constraints — declarative row invariants enforced at ingest
  // ------------------------------------------------------------------

  /** Wrap a fresh batch in its governing CHECK constraints as an
    * `assert_true` filter that RIDES the write job — Delta's
    * invariant-enforcement shape: zero extra passes (the expressions
    * evaluate inside the write tasks, codegen'd with the rest of the
    * projection), and the first violating row aborts the job with the
    * constraint's name before anything publishes. SQL CHECK
    * three-valued semantics: a row violates only when the expression
    * is FALSE — null/unknown passes (`coalesce(expr, true)`). An
    * aborted write leaves a claimed marker and partial files — the
    * same benign debris any crashed committer leaves
    * ([[removeOrphans]]' job); the manifest never saw the batch. */
  private def constraintGuard(
      active: Seq[(String, String)],
      df: DataFrame): DataFrame =
    if (active.isEmpty) df
    else df.filter(active.map { case (n, e) =>
      assert_true(coalesce(expr(e), lit(true)),
        lit(s"CHECK constraint '$n' violated: $e")).isNull
    }.reduce(_ && _))

  /** ALTER TABLE ADD CONSTRAINT: a metadata-only commit (parent files
    * repointed verbatim) that installs a named CHECK expression
    * enforced on every subsequent ingest ([[constraintGuard]] rides
    * each write job). Delta's semantics: the EXISTING face must
    * already satisfy the new invariant — one explicit validation scan,
    * the honest cost of retrofitting — so a constraint can never be
    * true of some of a version's rows. Returns the minted version. */
  def addConstraint(
      spark: SparkSession,
      tablePath: String,
      name: String,
      exprSql: String): Long = {
    require(name.nonEmpty, "addConstraint needs a constraint name")
    metadataDdl(spark, tablePath, "addConstraint") { gen =>
      val observed = gen.version
      val active = constraintsAsOf(spark, tablePath, observed)
      require(!active.exists(_._1 == name),
        s"addConstraint: constraint '$name' already exists on $tablePath")
      // validate against the LOGICAL row shape — governing generated
      // columns materialize first (materialize-ONLY: rows from files
      // older than the generator null-fill the stored column, so the
      // ingest-time equality check would misfire here; the defining
      // expression is the truth either way), so a constraint may
      // reference generated columns even though older files never
      // wrote them
      val face = generatedColumnsAsOf(spark, tablePath, observed)
        .foldLeft(readAsOf(spark, tablePath, observed)) {
          case (d, (n, e)) => d.withColumn(n, expr(e))
        }
      val bad = face
        .filter(expr(exprSql) === lit(false)).limit(1).collect()
      require(bad.isEmpty,
        s"addConstraint('$name'): existing rows of $tablePath violate " +
          s"'$exprSql' — fix the data (or the expression) first")
      DdlChange(govWrite = Constraints.write(spark, tablePath, _,
        active :+ (name -> exprSql)))
    }
  }

  /** ALTER TABLE DROP CONSTRAINT — the metadata-only inverse. Past
    * versions keep their governing set (a face replays with the
    * invariants it was written under); only ingest from here on stops
    * checking. Returns the minted version. */
  def dropConstraint(
      spark: SparkSession,
      tablePath: String,
      name: String): Long =
    metadataDdl(spark, tablePath, "dropConstraint") { gen =>
      val observed = gen.version
      val active = constraintsAsOf(spark, tablePath, observed)
      require(active.exists(_._1 == name),
        s"dropConstraint: no constraint '$name' on $tablePath")
      DdlChange(govWrite = Constraints.write(spark, tablePath, _,
        active.filterNot(_._1 == name)))
    }

  // ------------------------------------------------------------------
  // Generated columns — declared once, materialized at every ingest
  // ------------------------------------------------------------------

  /** Materialize the governing generated columns into a fresh batch —
    * or, when the writer supplied the column itself, VALIDATE it
    * against the defining expression inside the write job (the same
    * zero-extra-pass assert_true shape as [[constraintGuard]]; a
    * writer-supplied wrong value is a refused batch, Delta's
    * semantics). Runs BEFORE the constraint guard so constraints may
    * reference generated columns, and before the physical translation
    * so expressions speak logical names. */
  private def genColumnsApply(
      generated: Seq[(String, String)],
      df: DataFrame): DataFrame =
    generated.foldLeft(df) { case (d, (n, e)) =>
      if (!d.columns.contains(n)) d.withColumn(n, expr(e))
      else d.filter(assert_true(col(n) <=> expr(e),
        lit(s"generated column '$n' violated its definition: $e")).isNull)
    }

  /** Declare a generated column: from this version on, every ingest
    * materializes `name = exprSql` when the batch lacks the column and
    * validates it when supplied. Metadata-only (parent files verbatim);
    * history is untouched — earlier files null-fill the column by
    * schema evolution once a later batch carries it. */
  def addGeneratedColumn(
      spark: SparkSession,
      tablePath: String,
      name: String,
      exprSql: String): Long = {
    require(name.nonEmpty, "addGeneratedColumn needs a column name")
    metadataDdl(spark, tablePath, "addGeneratedColumn") { gen =>
      val observed = gen.version
      gen.schema.foreach(st =>
        require(!st.fieldNames.contains(name),
          s"addGeneratedColumn: '$name' already exists as a data column"))
      val active = generatedColumnsAsOf(spark, tablePath, observed)
      require(!active.exists(_._1 == name),
        s"addGeneratedColumn: '$name' is already generated")
      DdlChange(govWrite = GenCols.write(spark, tablePath, _,
        active :+ (name -> exprSql)))
    }
  }

  /** Stop generating `name` — already-written data keeps the column
    * (drop it from the schema separately via [[dropColumn]]). */
  def dropGeneratedColumn(
      spark: SparkSession,
      tablePath: String,
      name: String): Long =
    metadataDdl(spark, tablePath, "dropGeneratedColumn") { gen =>
      val observed = gen.version
      val active = generatedColumnsAsOf(spark, tablePath, observed)
      require(active.exists(_._1 == name),
        s"dropGeneratedColumn: no generated column '$name' on $tablePath")
      DdlChange(govWrite = GenCols.write(spark, tablePath, _,
        active.filterNot(_._1 == name)))
    }

  /** A batch written for ingest: its LOGICAL schema (what the manifest
    * records), the logical→physical names its files carry, and the
    * files, counted. */
  private final case class Written(
      schema: org.apache.spark.sql.types.StructType,
      l2p: Map[String, String],
      fresh: Seq[DataFile])

  /** The ONE ingest write of every data-writing verb: `df` prepared
    * under the write-governance sets `gens` resolved at the batch's
    * parent (None: a first commit, nothing governs) — generated columns
    * materialize/validate, CHECK constraints guard, the column mapping
    * translates to physical names, in that order (constraints may
    * reference generated columns; both speak logical names) — then
    * written to `data/v<version>`, flat or `partitionBy(partCol)`. A
    * fresh column whose name collides with a mapped or tombstoned
    * physical name refuses: writing it would alias old file data under
    * the new column on read. */
  private def writeBatch(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      gens: Option[SidecarGens],
      df: DataFrame,
      partCol: Option[String] = None): Written = {
    def set[V](fam: GovFamily[V]): Seq[(String, V)] =
      gens.fold(Seq.empty[(String, V)]) { g =>
        require(g.families.contains(fam),
          s"batch preparation read sidecars resolved without ${fam.dirName}")
        g.governing(spark, fam)
      }
    val logical = constraintGuard(set(Constraints),
      genColumnsApply(set(GenCols), df))
    val cmap = set(ColMap)
    val l2p = logicalToPhysical(cmap)
    val reserved = cmap.map(_._1).toSet
    logical.columns.foreach { c =>
      require(l2p.contains(c) || !reserved.contains(c),
        s"column '$c' collides with a renamed or dropped column's " +
          "physical name — a tombstoned name cannot be re-added " +
          "(rename the new column first)")
    }
    val w = l2p.foldLeft(logical) { case (d, (l, p)) =>
      if (l == p || !d.columns.contains(l)) d else d.withColumnRenamed(l, p)
    }.write.mode("errorifexists")
    val dataPath = s"$tablePath/$DataDir/v$version"
    Written(logical.schema, l2p, partCol match {
      case Some(pc) =>
        require(logical.columns.contains(pc),
          s"DML rewrite of $tablePath lost partition column '$pc'")
        w.partitionBy(pc).parquet(dataPath)
        footerCounts(spark, listPartitionedFiles(spark, dataPath))
      case None =>
        w.parquet(dataPath)
        footerCounts(spark,
          listDataFiles(spark, dataPath).map(DataFile(_, None, None)))
    })
  }

  // ------------------------------------------------------------------
  // Column mapping — RENAME/DROP COLUMN as pure metadata (field-ids)
  // ------------------------------------------------------------------

  private def logicalToPhysical(
      cmap: Seq[(String, Option[String])]): Map[String, String] =
    cmap.collect { case (p, Some(l)) => l -> p }.toMap

  /** Translate a scanned PHYSICAL frame back to logical names. */
  private def fromPhysical(
      df: DataFrame,
      l2p: Map[String, String]): DataFrame =
    l2p.foldLeft(df) { case (d, (l, p)) =>
      if (l == p || !d.columns.contains(p)) d
      else d.withColumnRenamed(p, l)
    }

  /** The physical read schema for a stored LOGICAL schema. */
  private def physicalSchema(
      stored: org.apache.spark.sql.types.StructType,
      l2p: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      stored.fields.map(f => f.copy(name = l2p.getOrElse(f.name, f.name))))

  /** Loud guard for the verbs that address columns inside sidecar
    * FILES by name (clustered stats, blooms, purge rewrites) — their
    * mapping-aware refinement is not built, and running them under a
    * non-trivial mapping would silently miss renamed columns. */
  private def requireNoColMap(
      spark: SparkSession,
      tablePath: String,
      verb: String): Unit = {
    // resolved at Long.MaxValue = the latest mapping generation —
    // identical to resolving at the head version (sidecar generations
    // never outlive their commit: a refused commit retracts its dirs)
    // without the manifest read a latestVersion() would cost
    require(!renamesAny(colMapAsOf(spark, tablePath, Long.MaxValue)),
      s"$verb: a column rename/drop mapping governs $tablePath — " +
        "this verb addresses physical file columns by name and is not " +
        "mapping-aware yet; run it before the schema change or extend " +
        "it with the translation")
  }

  /** ALTER TABLE RENAME COLUMN as a metadata-only commit: the new
    * generation repoints the parent's files verbatim and its stored
    * schema carries the new LOGICAL name, while the column-mapping
    * sidecar records which PHYSICAL name the files keep. O(1) metadata
    * on any table size — the rewrite-free rename copy-on-write cannot
    * give. Partition columns refuse (fragments are path-encoded);
    * legacy generations without a manifest-carried schema refuse. */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      from: String,
      to: String): Long =
    metadataDdl(spark, tablePath, "renameColumn") { gen =>
      val observed = gen.version
      val stored = ddlSchema(gen, tablePath, "renameColumn")
      require(stored.fieldNames.contains(from),
        s"renameColumn: no column '$from' in ${stored.fieldNames.mkString(",")}")
      require(!stored.fieldNames.contains(to),
        s"renameColumn: column '$to' already exists")
      require(!partitionsOn(gen, from),
        s"renameColumn: '$from' is a partition column — its fragments " +
          "are path-encoded and cannot be relabeled in metadata")
      val cmap = colMapAsOf(spark, tablePath, observed)
      require(!cmap.exists(_._1 == to),
        s"renameColumn: '$to' collides with an existing physical name")
      val phys = logicalToPhysical(cmap).getOrElse(from, from)
      DdlChange(
        Some(org.apache.spark.sql.types.StructType(stored.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))),
        ColMap.write(spark, tablePath, _,
          cmap.filterNot(_._1 == phys) :+ (phys -> Some(to))))
    }

  /** ALTER TABLE DROP COLUMN as a metadata-only commit: the field
    * leaves the stored logical schema (so scans never even read its
    * bytes — column pruning does the physical work) and its physical
    * name is tombstoned in the mapping so no later commit can alias
    * old file data by re-adding it. Past versions keep the column. */
  def dropColumn(
      spark: SparkSession,
      tablePath: String,
      name: String): Long =
    metadataDdl(spark, tablePath, "dropColumn") { gen =>
      val observed = gen.version
      val stored = ddlSchema(gen, tablePath, "dropColumn")
      require(stored.fieldNames.contains(name),
        s"dropColumn: no column '$name' in ${stored.fieldNames.mkString(",")}")
      require(stored.fields.length > 1,
        "dropColumn: cannot drop the last column")
      require(!partitionsOn(gen, name),
        s"dropColumn: '$name' is a partition column — drop is undefined " +
          "for path-encoded fragments")
      val cmap = colMapAsOf(spark, tablePath, observed)
      val phys = logicalToPhysical(cmap).getOrElse(name, name)
      DdlChange(
        Some(org.apache.spark.sql.types.StructType(
          stored.fields.filterNot(_.name == name))),
        ColMap.write(spark, tablePath, _,
          cmap.filterNot(_._1 == phys) :+ (phys -> None)))
    }

  /** ALTER TABLE ADD COLUMN as a metadata-only commit: the field joins
    * the stored logical schema at the END (nullable by contract — a
    * retroactive NOT NULL would be a lie about history) and every
    * existing file null-fills it at scan time through the stored-schema
    * read path, the same mechanism an evolving append uses; no byte of
    * data moves. Past versions keep their own schema (time travel below
    * answers without the column). The name must not collide with a live
    * column OR a renamed/dropped column's tombstoned physical name —
    * re-adding a tombstone would alias old file data on read. */
  def addColumn(
      spark: SparkSession,
      tablePath: String,
      name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    require(name.nonEmpty, "addColumn needs a column name")
    metadataDdl(spark, tablePath, "addColumn") { gen =>
      val observed = gen.version
      val stored = ddlSchema(gen, tablePath, "addColumn")
      require(!stored.fieldNames.contains(name),
        s"addColumn: '$name' already exists")
      require(!colMapAsOf(spark, tablePath, observed).map(_._1)
        .contains(name),
        s"addColumn: '$name' collides with a renamed or dropped column's " +
          "physical name — a tombstoned name cannot be re-added")
      require(!generatedColumnsAsOf(spark, tablePath, observed)
        .exists(_._1 == name),
        s"addColumn: '$name' is a generated column")
      DdlChange(Some(org.apache.spark.sql.types.StructType(
        stored.fields :+ org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true))))
    }
  }

  /** Render a partition value the way Spark's writer renders it into a
    * directory name: hive path-escaping ('=', ':', '%', '/', … become
    * `%XX`). Manifest fragments are recorded from the written
    * directory names, so a LOOKUP value must pass through the same
    * escaping or any special-charactered value silently matches
    * nothing — a scan returns empty and a merge leaves the stale row
    * beside its replacement instead of rewriting the partition. */
  private def partFragment(partCol: String, value: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    s"$partCol=${ExternalCatalogUtils.escapePathName(value)}"
  }

  // ------------------------------------------------------------------
  // Pruning-index sidecars — per-file min/max stats and per-file blooms
  // ------------------------------------------------------------------

  /** One versioned PRUNING-INDEX sidecar family: `<table>/<dirName>/v<N>`
    * holds one row per data file of generation N in [[Skipping]]'s row
    * format. [[Skipping]] is the one owner of that format — the row
    * builders, the key readers and interval admission; this family list
    * owns where the rows live and how they move between versions:
    * every index verb pre-flights through [[preflightIndex]], mints
    * through [[indexedCommit]] and writes through [[writeIndex]], and
    * every version-keyed sweep iterates [[IndexFamilies]]. `keys` reads
    * the (physical) key columns a published dir can be probed on — empty
    * when none; `rows` builds fresh rows over a file list; `verbs` names
    * what mints the family, for refusals. */
  private[graft] final class IndexFamily(
      dirName: String,
      val noun: String,
      val verbs: String,
      val keys: (SparkSession, String) => Seq[String],
      val rows: (SparkSession, Seq[String], Seq[String],
        Skipping.BloomSizing) => DataFrame)
      extends SidecarFamily(dirName)

  /** Per-file min/max stats: range and box pruning. */
  private val StatsIndex = new IndexFamily("_stats", "stats",
    "a clustered/Z-ordered verb", Skipping.statsKeys,
    (spark, files, keys, _) => Skipping.statsRows(spark, files, keys))

  /** Per-file blooms: point pruning. A sketch answers for ONE column,
    * so a dir recording none (legacy) or several serves no probe. */
  private val BloomIndex = new IndexFamily("_bloom", "bloom", "commitBloom",
    (spark, dir) =>
      Some(Skipping.bloomKeys(spark, dir)).filter(_.size == 1)
        .getOrElse(Seq.empty),
    (spark, files, keys, sizing) =>
      Skipping.bloomRows(spark, files, keys.head, sizing))

  /** Every pruning-index family — a new family is one entry here. */
  private[graft] val IndexFamilies: Seq[IndexFamily] =
    Seq(StatsIndex, BloomIndex)

  /** `keys` as raw files spell them under the column mapping `cmap`:
    * index rows aggregate over the RAW files, whose columns carry
    * physical names under a column mapping (the scans translate back). */
  private def physicalKeys(
      cmap: Seq[(String, Option[String])],
      keys: Seq[String]): Seq[String] = {
    val l2p = logicalToPhysical(cmap)
    keys.map(k => l2p.getOrElse(k, k))
  }

  /** The one pre-flight of the index verbs: refuse an append onto a
    * head that no `fam` generation describes, or whose describing
    * sidecar records other keys than `keys`, BEFORE the commit
    * publishes — the parent's files would silently vanish from pruning,
    * or one sidecar would mix keys and a probe would test sketches or
    * intervals of another column (dropped rows); a post-publish refusal
    * would leave a committed head with no sidecar. The observed head
    * may differ from the post-rebase recorded parent under an active
    * race; [[indexedCommit]]'s resolve remains the authoritative check
    * for that residual window. */
  private def preflightIndex(
      spark: SparkSession,
      fam: IndexFamily,
      tablePath: String,
      keys: Seq[String],
      append: Boolean,
      verb: String): Unit =
    if (append) latestVersion(spark, tablePath).foreach { h =>
      val gens = sidecarPass(spark, tablePath, h, Seq(ColMap, fam))
      val dir = gens.describing(spark, fam,
        filesOf(manifestFor(spark, tablePath, h)).map(_.path))
      require(dir.isDefined,
        s"$verb append onto version $h of $tablePath, which no " +
          s"${fam.noun} sidecar describes — the parent's files would " +
          s"silently vanish from ${fam.noun} pruning; commit the parent " +
          s"through ${fam.verbs} first (refused before publishing; the " +
          "table is untouched)")
      val phys = physicalKeys(gens.governing(spark, ColMap), keys)
      val recorded = fam.keys(spark, dir.get)
      require(recorded.toSet == phys.toSet,
        s"$verb append on ${phys.mkString(", ")} onto version $h of " +
          s"$tablePath, whose ${fam.noun} sidecar records " +
          s"[${recorded.mkString(", ")}] — one sidecar mixing keys would " +
          "prune on the wrong column; append on the recorded keys, or " +
          s"replace the table through ${fam.verbs} first (refused before " +
          "publishing; the table is untouched)")
    }

  /** The ONE shape of every index-minting verb: [[preflightIndex]],
    * the verb's own commit (`publish` — the layout is all that
    * differs), then `fam`'s sidecar at the minted version over its
    * fresh files, an append carrying the rows of its RECORDED lineage
    * parent ([[lineageOf]] — never version−1, a crashed claim's numeric
    * gap, and never the pre-claim observed head, which the
    * reconciliation may have rebased past; unioning it would omit a
    * racer's files, and a version's own dir describes it with no
    * coverage check ([[SidecarGens.describing]]), so the scans would
    * silently never read them). The parent resolves through its
    * DESCRIBING generation, so an append onto a file-preserving
    * metadata head (deleteWhere, constraint change — no exact dir of
    * its own) inherits the covering sidecar. `keys` are logical.
    * Returns the version. */
  private def indexedCommit(
      spark: SparkSession,
      fam: IndexFamily,
      tablePath: String,
      keys: Seq[String],
      append: Boolean,
      verb: String,
      sizing: Skipping.BloomSizing = Skipping.DefaultSizing)(
      publish: => Long): Long = {
    preflightIndex(spark, fam, tablePath, keys, append, verb)
    val version = publish
    val phys = physicalKeys(colMapAsOf(spark, tablePath, version), keys)
    val lin = lineageOf(spark, tablePath, version)
    val parentDir = lin.parent.filter(_ => append).map { p =>
      sidecarPass(spark, tablePath, p, Seq(fam))
        .describing(spark, fam, lin.parentFiles.toSeq)
        .filter(d => fam.keys(spark, d).toSet == phys.toSet)
        .getOrElse(throw new IllegalStateException(
          s"$verb published version $version of $tablePath, but its " +
            s"recorded parent $p carries no ${fam.noun} sidecar on " +
            s"${phys.mkString(", ")} describing it (a racer rebased the " +
            "append onto a head indexed otherwise) — re-index the table " +
            s"with a replace through ${fam.verbs}"))
    }
    writeIndex(spark, fam, tablePath, version, phys, parentDir,
      lin.parentFiles, lin.fresh, sizing)
    version
  }

  /** The ONE write of a pruning-index sidecar at `version`: the rows of
    * `parentDir` for the `kept` files carried forward — a describing
    * dir may cover MORE files than the parent still lists, so only the
    * kept files' rows are inherited and the minted sidecar is exactly
    * the snapshot's file set — plus rows built over the `fresh` files
    * alone: one data pass over the commit's own blast radius, never
    * the table. */
  private def writeIndex(
      spark: SparkSession,
      fam: IndexFamily,
      tablePath: String,
      version: Long,
      keys: Seq[String],
      parentDir: Option[String],
      kept: Set[String],
      fresh: Seq[String],
      sizing: Skipping.BloomSizing): Unit = {
    val carried =
      parentDir.map(d =>
        filterSidecarToFiles(Skipping.readIndex(spark, d), kept))
    val built =
      if (fresh.isEmpty && carried.isDefined) None
      else Some(fam.rows(spark, fresh, keys, sizing))
    (carried ++ built).reduce(_.unionByName(_))
      .coalesce(1).write.mode("errorifexists")
      .parquet(fam.dirAt(tablePath, version))
  }

  /** The stats-minting commit verbs' shared body: the layout (range
    * clustering, Z-order or Hilbert — all that differs between them)
    * committed through [[indexedCommit]]. */
  private def statsCommit(
      spark: SparkSession,
      tablePath: String,
      keyCols: Seq[String],
      numFiles: Int,
      append: Boolean,
      derivedFrom: Option[Long],
      verb: String)(
      layout: => DataFrame): Long = {
    require(numFiles >= 1, "numFiles must be positive")
    require(keyCols.distinct.size == keyCols.size,
      s"$verb: duplicate cluster keys in $keyCols")
    indexedCommit(spark, StatsIndex, tablePath, keyCols, append, verb) {
      commit(spark, layout, tablePath, append, None, derivedFrom, verb)
    }
  }

  /** [[commit]] with the physical layout that makes snapshots CHEAP to
    * query selectively — the Iceberg read path over plain parquet:
    * the batch is range-clustered on `keyCol` into `numFiles` tight-
    * interval files ([[Skipping.writeClustered]]'s layout), and a
    * per-file min/max stats manifest for the WHOLE snapshot is
    * persisted beside the version (append commits reuse the parent's
    * stats rows — only the new files are ever re-scanned for stats).
    * [[scanRangeAsOf]] then plans a key-range read AS OF any version
    * over only the admitted files: time travel × data skipping
    * multiply. */
  def commitClustered(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      keyCol: String,
      numFiles: Int,
      append: Boolean,
      derivedFrom: Option[Long] = None,
      verb: String = "commitClustered"): Long =
    statsCommit(spark, tablePath, Seq(keyCol), numFiles, append,
      derivedFrom, verb) {
      df.repartitionByRange(numFiles, col(keyCol))
        .sortWithinPartitions(col(keyCol))
    }

  /** The normalized `file` set a stats/bloom sidecar dir describes —
    * the coverage-proof read of [[SidecarGens.describing]], memoized per
    * published dir ([[memoizedMeta]]) because it is a driver Spark job
    * on every resolve of a sidecar-governed table. */
  private def sidecarDescribedFiles(
      spark: SparkSession,
      dir: String): Set[String] =
    memoizedMeta(fs(spark, dir), new Path(dir), "described") {
      Skipping.readIndex(spark, dir).select(col("file")).collect()
        .map(r => normPath(r.getString(0))).toSet
    }

  /** The normalized files of the stats sidecar at `dir` whose rows
    * pass `admit` ([[Skipping.admits]] conjuncts). */
  private def statsAdmitted(
      spark: SparkSession,
      dir: String,
      admit: org.apache.spark.sql.Column): Set[String] =
    Skipping.readIndex(spark, dir).filter(admit).select(col("file"))
      .collect().map(r => normPath(r.getString(0))).toSet

  /** Stats-pruned key-range scan AS OF `version`: the version's stats
    * manifest admits only the files whose [min, max] interval meets
    * [lo, hi]; the exact row filter clears file-level false positives
    * (stats are necessary, not sufficient). Zero admitted files is an
    * answer (empty frame with the snapshot's schema), a missing stats
    * manifest (version unknown, vacuumed, or committed without
    * clustering) is an error. A version whose files the latest stats
    * generation still fully describes — a deleteWhere or constraint
    * change repointed them verbatim — scans through that generation
    * ([[SidecarGens.describing]]), composed with its own deletion
    * vectors. [[scanBoxAsOfN]] over one bound. */
  def scanRangeAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      keyCol: String,
      lo: Any,
      hi: Any): DataFrame =
    scanBoxAsOfN(spark, tablePath, version, Seq((keyCol, lo, hi)))

  /** The face of `version` over exactly the `admitted` files, composed
    * with the deletion vectors and column mapping `gens` resolved. Zero
    * admitted files is an answer: an empty frame with the snapshot's
    * schema — the only path that reads the manifest, so a pruned scan's
    * happy path stays at zero manifest reads (the budget
    * [[SnapshotsResolutionSpec]] pins). */
  private def admittedFace(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      gens: SidecarGens,
      admitted: Seq[String],
      stored: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    if (admitted.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        stored.orElse(generationOf(spark, tablePath, version).schema)
          .getOrElse(readAsOf(spark, tablePath, version).schema))
    else readWithDv(spark, admitted.map(DataFile(_, None, None)), stored,
      gens)

  /** RUNTIME FILTER into a snapshot scan — the dynamic-file-pruning
    * leg Spark's DPP cannot give a manifest-planned union scan: for a
    * selective dim⋈fact join, the DIM side's key domain prunes the
    * FACT FILE SET through the fact's own sidecars BEFORE any data
    * file opens. Two plan-time dim passes (the broadcast-side
    * contract — the dim is small by assumption): (1) one aggregate
    * for [min, max] + exact distinct count, admitted against the
    * STATS sidecar's per-file intervals; (2) when the distinct count
    * is within `maxPointKeys` and a BLOOM sidecar governs, the key
    * set's hashes probe every file's sketch in ONE executor pass
    * (sketch bytes never reach the driver) — scattered keys then
    * prune what interval logic cannot. Returns the fact face over
    * exactly the admitted files (DV-resolved); the caller applies the
    * join — every surviving row still meets the join exactly, the
    * filter only removes files that provably cannot match. Requires
    * at least one governing sidecar (an unindexed fact has nothing to
    * prune with — refused loudly rather than silently scanning
    * everything). */
  def scanJoinPruned(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      keyCol: String,
      dimKeys: DataFrame,
      maxPointKeys: Int = 4096): DataFrame = {
    requireNoColMap(spark, tablePath, "scanJoinPruned")
    require(dimKeys.columns.length == 1,
      s"scanJoinPruned: dimKeys must carry exactly the join key " +
        s"column, got ${dimKeys.columns.mkString(", ")}")
    val face = resolveFace(spark, tablePath, version,
      GovFamilies ++ IndexFamilies)
    val admitted = sidecarAdmission(spark, face, keyCol, dimKeys,
      maxPointKeys)
      .getOrElse(throw new IllegalArgumentException(
        s"scanJoinPruned: version $version of $tablePath carries no " +
          s"stats or bloom sidecar applicable to '$keyCol' — nothing " +
          "answers file admission; commit via commitClustered/" +
          "commitBloom on that key (or join the plain readAsOf face)"))
    val files = face.files.filter(d => admitted.contains(normPath(d.path)))
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      face.stored.getOrElse(readAsOf(spark, tablePath, version).schema))
    else readFace(spark, face.copy(files = files))
  }

  /** The STATS/BLOOM admission core of [[scanJoinPruned]] and the SQL
    * catalog scan's runtime filter: which of the face's files can a
    * bounded join-key set NOT rule out? None when no sidecar APPLICABLE
    * TO `keyCol` describes the face (a bloom's recorded key must BE the
    * key — a sketch of another column would falsely prune); the verb
    * refuses then, the SQL path scans everything. Some(admitted) is
    * scheme-NORMALIZED paths. Two dim passes at most: one bounds
    * aggregate, one executor-side sketch probe within `maxPointKeys`. */
  private def sidecarAdmission(
      spark: SparkSession,
      face: Face,
      keyCol: String,
      dimKeys: DataFrame,
      maxPointKeys: Int): Option[Set[String]] = {
    if (face.mapsColumns(spark)) return None
    val dimCol = dimKeys.columns.head
    def applicable(fam: IndexFamily): Option[String] =
      face.describing(spark, fam).filter(fam.keys(spark, _).contains(keyCol))
    val sd = applicable(StatsIndex)
    val bd = applicable(BloomIndex)
    if (sd.isEmpty && bd.isEmpty) return None
    val bounds = dimKeys.agg(min(col(dimCol)).as("lo"),
      max(col(dimCol)).as("hi"),
      count_distinct(col(dimCol)).as("n")).collect().head
    if (bounds.isNullAt(0)) return Some(Set.empty) // no dim keys at all
    var admitted: Set[String] = face.files.map(d => normPath(d.path)).toSet
    sd.foreach { d =>
      admitted = admitted.intersect(statsAdmitted(spark, d,
        Skipping.admits(keyCol, bounds.get(0), bounds.get(1))))
    }
    if (bd.isDefined && bounds.getLong(2) <= maxPointKeys &&
      admitted.nonEmpty) {
      val hashes = dimKeys.select(xxhash64(col(dimCol))).distinct()
        .collect().map(_.getLong(0)).toSeq
      admitted = admitted.intersect(
        Skipping.bloomAdmitted(spark, bd.get, hashes).map(normPath).toSet)
    }
    Some(admitted)
  }

  /** The SQL runtime-filter bridge: the files of a catalog table's
    * resolved face an IN-set of `values` on `keyCol` admits, spelled
    * EXACTLY as the manifest lists them (the caller rebuilds its file
    * index over the subset verbatim). None when nothing applicable
    * governs or the set is unusably large; never a false prune. */
  private[graft] def runtimeAdmittedFiles(
      spark: SparkSession,
      face: Face,
      keyCol: String,
      values: Seq[Any],
      valueType: org.apache.spark.sql.types.DataType,
      maxPointKeys: Int = 4096): Option[Seq[String]] = {
    if (values.isEmpty) return Some(Seq.empty)
    if (values.length > 65536) return None // DPP IN-set beyond sanity
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyCol, valueType)))
    val dimKeys = spark.createDataFrame(
      java.util.Arrays.asList(values.map(Row(_)): _*), schema)
    sidecarAdmission(spark, face, keyCol, dimKeys, maxPointKeys)
      .map(admitted =>
        face.files.map(_.path).filter(f => admitted.contains(normPath(f))))
  }

  /** [[commit]] plus a per-file BLOOM sidecar on `keyCol` — the
    * point-lookup complement of [[commitClustered]]'s min/max stats,
    * composed with time travel: min/max pruning needs the key
    * CLUSTERED (each file a narrow interval), while a high-cardinality
    * UNCLUSTERED key (event id, user id, url hash) spans the whole
    * domain in every file and interval pruning admits everything.
    * Each commit aggregates one `BloomFilterAggregate` per fresh file
    * (one grouped data pass, map-side combined) into
    * `_bloom/v<version>`; appends carry the parent's sidecar rows
    * forward unchanged — shared files keep their blooms, the Delta
    * bloom-index shape versioned. [[scanPointAsOf]] then answers
    * "key = v AS OF version" reading only the admitted files.
    * [[vacuum]] expires sidecars with their versions; [[purgeKeys]]
    * repoints them (a purged file's bloom stays a conservative
    * superset). Flat commits only — partition the table instead when
    * the lookup key IS the partition key. Returns the version. */
  def commitBloom(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      keyCol: String,
      append: Boolean,
      expectedPerFile: Long = 100000L,
      fpp: Double = 0.01,
      ts: Option[Long] = None): Long =
    indexedCommit(spark, BloomIndex, tablePath, Seq(keyCol), append,
      "commitBloom", Skipping.BloomSizing(expectedPerFile, fpp)) {
      commit(spark, df, tablePath, append, ts)
    }

  /** Restrict a (file, …) sidecar frame to rows describing `files`,
    * scheme-normalized on both sides (`input_file_name()` URIs vs
    * `listStatus` path strings differ in scheme rendering). The frame
    * is metadata-scale; the normalization runs executor-side so sketch
    * bytes never ship to the driver. */
  private def filterSidecarToFiles(
      df: DataFrame,
      files: Set[String]): DataFrame = {
    val keep = files.map(normPath)
    val inSet = udf((f: String) => keep.contains(new Path(f).toUri.getPath))
    df.filter(inSet(col("file")))
  }

  /** [[commitClustered]]'s TWO-dimensional sibling: the batch lays out
    * Z-ordered on `(xCol, yCol)` ([[Layout.clusterByZOrder]] — Morton
    * interleave + one range exchange), and the per-file stats sidecar
    * carries min/max for BOTH columns, so each file's statistics cover
    * a compact rectangle and a selective predicate on EITHER dimension
    * — or a 2-D box ([[scanBoxAsOf]]) — prunes most files, where a
    * layout clustered on x alone can only ever prune x.
    * [[scanRangeAsOf]] works as-is on either column (it reads
    * `min_<col>`/`max_<col>` by name). Flat commits only; appends
    * reuse the parent's stats rows like the 1-D verb. */
  def commitZordered(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      xCol: String,
      yCol: String,
      numFiles: Int,
      append: Boolean): Long =
    commitZorderedN(spark, df, tablePath, Seq(xCol, yCol), numFiles,
      append)

  /** [[commitZordered]] over N cluster keys: the batch lays out on the
    * N-dimensional Morton curve ([[Layout.clusterByZOrderN]]) and the
    * stats sidecar carries min/max for EVERY key, so each file's
    * statistics cover a compact N-rectangle — a selective predicate on
    * ANY single key ([[scanRangeAsOf]], which reads `min_<col>`/
    * `max_<col>` by name), or a box over ANY SUBSET of the keys
    * ([[scanBoxAsOfN]]), prunes files where a 1-D clustering serves
    * only its own key. `bits` per key must fit N×bits ≤ 63
    * ([[Layout.zValueN]] — 3 keys at the default 21, 4 at 15); real
    * layout tuning runs 3-4 keys, past which Morton locality decays
    * and a Hilbert option would be the refinement. Flat commits only;
    * appends reuse the parent's stats rows like the 1-D verb. */
  def commitZorderedN(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      numFiles: Int,
      append: Boolean,
      bits: Int = 21,
      derivedFrom: Option[Long] = None,
      verb: String = "commitZorderedN"): Long =
    statsCommit(spark, tablePath, keyCols, numFiles, append, derivedFrom,
      verb) {
      Layout.clusterByZOrderN(df, keyCols, numFiles, bits).drop("zkey")
    }

  /** [[commitZorderedN]] on the HILBERT curve
    * ([[Layout.clusterByHilbertN]]) — same stats sidecar, same
    * [[scanBoxAsOfN]]/[[scanRangeAsOf]] read path (pruning reads only
    * `min_*`/`max_*` bounds, never the curve), better per-file
    * rectangle compactness at 3+ keys where Morton's bit spreading
    * fattens them (consecutive Hilbert indexes are grid-adjacent —
    * the locality the N-D layout exists for). Flat commits only;
    * appends reuse the recorded lineage parent's stats rows. */
  def commitHilbertN(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      numFiles: Int,
      append: Boolean,
      bits: Int = 21,
      derivedFrom: Option[Long] = None,
      verb: String = "commitHilbertN"): Long =
    statsCommit(spark, tablePath, keyCols, numFiles, append, derivedFrom,
      verb) {
      Layout.clusterByHilbertN(df, keyCols, numFiles, bits).drop("hkey")
    }

  /** Keep a stats/bloom-governed table's PRUNING INDEXES LIVE across a
    * file-swapping DML commit ([[updateWhere]], [[mergeInto]]): for
    * each family whose sidecar describes the parent, mint the new
    * version's sidecar through [[writeIndex]] — the parent's rows for
    * the surviving files plus fresh rows for the fresh files only (the
    * DML's own blast radius), never the table. The sidecar's own key
    * reader names its keys, so no caller has to remember how the
    * table is indexed. Skips silently when nothing describes the
    * parent (the table was never index-governed), when a column
    * mapping governs (the stats verbs are not mapping-aware — scans
    * already refuse loudly), or when a bloom sidecar does not record
    * exactly one key; in those cases the new head is simply
    * non-described, exactly as every pre-maintenance DML commit was.
    * Runs BEFORE the publish so a refused commit retracts the staged
    * sidecar with the generation. */
  private def maintainIndexSidecars(
      face: DmlFace,
      version: Long,
      keptFiles: Seq[String],
      freshFiles: Seq[String]): Unit =
    IndexFamilies.foreach { fam =>
      face.indexDir(fam).foreach { dir =>
        val keys = fam.keys(face.spark, dir)
        if (keys.nonEmpty) writeIndex(face.spark, fam, face.tablePath,
          version, keys, Some(dir), keptFiles.toSet, freshFiles,
          Skipping.DefaultSizing)
      }
    }

  /** 2-D box scan AS OF `version` over a [[commitZordered]] layout:
    * the stats sidecar admits only files whose min/max RECTANGLE
    * intersects the box — metadata-decided on both dimensions at once,
    * the pruning a Z-order layout exists to enable — and the exact
    * predicate clears the interior. */
  def scanBoxAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      xCol: String, loX: Any, hiX: Any,
      yCol: String, loY: Any, hiY: Any): DataFrame =
    scanBoxAsOfN(spark, tablePath, version,
      Seq((xCol, loX, hiX), (yCol, loY, hiY)))

  /** [[scanBoxAsOf]] over ANY SUBSET of a [[commitZorderedN]] layout's
    * keys: each (col, lo, hi) bound intersects the stats sidecar's
    * per-file rectangle on that dimension — a file prunes when ANY
    * bound misses it — and the exact predicate clears the interior.
    * A single-element bounds list is [[scanRangeAsOf]]; unconstrained
    * keys simply don't appear in `bounds` (the Z-layout's point: every
    * key subset prunes, where clustering on one key serves only
    * itself). */
  def scanBoxAsOfN(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      bounds: Seq[(String, Any, Any)]): DataFrame = {
    require(bounds.nonEmpty, "scanBoxAsOfN: no bounds given")
    // MAPPING-AWARE: sidecar min_/max_ columns carry each key's
    // PHYSICAL name forever (stats are computed over raw files); each
    // bound resolves logical→physical for the sidecar probe and the row
    // filter runs on the logical face — a rename costs the table
    // nothing, not even its data skipping
    val gens = resolveSidecars(spark, tablePath, version,
      families = GovFamilies ++ IndexFamilies)
    val l2p = logicalToPhysical(gens.governing(spark, ColMap))
    val sd = gens.describing(spark, StatsIndex,
      filesOf(manifestFor(spark, tablePath, version)).map(_.path))
      .getOrElse(throw new IllegalArgumentException(
        s"no stats manifest for version $version of $tablePath — not " +
          "committed via a clustered/Z-ordered verb, or expired by " +
          "vacuum"))
    val admit = bounds.map { case (c, lo, hi) =>
      Skipping.admits(l2p.getOrElse(c, c), lo, hi)
    }.reduce(_ && _)
    val admitted = Skipping.readIndex(spark, sd).filter(admit)
      .select(col("file")).collect().map(_.getString(0)).toIndexedSeq
    admittedFace(spark, tablePath, version, gens, admitted, None)
      .filter(bounds.map { case (c, lo, hi) =>
        col(c) >= lit(lo) && col(c) <= lit(hi)
      }.reduce(_ && _))
  }

  /** OPTIMIZE that preserves RANGE skipping — [[optimizeBloom]]'s
    * min/max sibling: the latest snapshot rewrites range-clustered on
    * `keyCol` with a fresh `_stats` sidecar, so [[scanRangeAsOf]]
    * survives (and usually improves after) compaction where the plain
    * [[optimize]] would strand it. The rewrite reads through
    * [[readAsOf]], so deletion vectors compact away with it. */
  def optimizeClustered(
      spark: SparkSession,
      tablePath: String,
      keyCol: String,
      numFiles: Int): Long = {
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"optimizeClustered: $tablePath has no committed versions"))
    commitClustered(spark, readAsOf(spark, tablePath, latest),
      tablePath, keyCol, numFiles, append = false,
      derivedFrom = Some(latest), verb = "optimizeClustered")
  }

  /** [[optimize]] for a BLOOM-indexed table: the small-file rewrite
    * lands as a replace version AND rebuilds the bloom sidecar over
    * the compacted files, so point lookups keep their index across
    * compaction — without this, an OPTIMIZE leaves the new head
    * sidecar-less and [[scanPointAsOf]] refuses (loud, but a
    * maintenance regression). Old versions keep their own sidecars
    * until vacuum. Returns the minted version. */
  def optimizeBloom(
      spark: SparkSession,
      tablePath: String,
      keyCol: String,
      targetBytes: Long,
      expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Long =
    indexedCommit(spark, BloomIndex, tablePath, Seq(keyCol),
      append = false, "optimizeBloom",
      Skipping.BloomSizing(expectedPerFile, fpp)) {
      optimize(spark, tablePath, targetBytes)
    }

  /** Bloom-pruned POINT lookup AS OF `version`: the version's bloom
    * sidecar admits only the files that might contain `key = value`
    * (no false negatives by construction), the exact predicate clears
    * the false positives — time travel × bloom skipping multiply, the
    * same composition [[scanRangeAsOf]] gives min/max stats. Loud when
    * the version has no bloom sidecar (not committed via
    * [[commitBloom]], or expired by vacuum). */
  def scanPointAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      keyCol: String,
      value: Any): DataFrame = {
    // MAPPING-AWARE like [[scanBoxAsOfN]]: the bloom sidecar records
    // the key's PHYSICAL name; a renamed key resolves through the
    // mapping, and a key the sidecar does not index refuses loudly
    // (probing a sketch of a different column would falsely prune)
    val gens = resolveSidecars(spark, tablePath, version,
      families = GovFamilies ++ IndexFamilies)
    val l2p = logicalToPhysical(gens.governing(spark, ColMap))
    val phys = l2p.getOrElse(keyCol, keyCol)
    val bd = gens.describing(spark, BloomIndex,
      filesOf(manifestFor(spark, tablePath, version)).map(_.path))
      .getOrElse(throw new IllegalArgumentException(
        s"no bloom sidecar for version $version of $tablePath — not " +
          "committed via commitBloom, or expired by vacuum"))
    val recorded = Skipping.bloomKeys(spark, bd)
    require(recorded == Seq(phys),
      s"scanPointAsOf: the bloom sidecar of $tablePath indexes " +
        s"[${recorded.mkString(", ")}], not exactly '$keyCol' — a probe " +
        "against it would falsely prune files; commitBloom on the " +
        "queried key")
    val admitted = Skipping.pruneFilesPoint(spark, bd, value)
    admittedFace(spark, tablePath, version, gens, admitted,
      generationOf(spark, tablePath, version).schema)
      .filter(col(keyCol) === lit(value))
  }

  /** OPTIMIZE: rewrite the latest snapshot's many small files into
    * `ceil(bytes / targetBytes)` uniform ones and commit the result as
    * a REPLACE version — [[Compaction]]'s rewrite inside the snapshot
    * lineage, which is how a versioned table compacts safely: readers
    * of older versions keep their immutable files, the new version
    * carries identical rows in scan-efficient files, and the small
    * files die later via [[vacuum]] once no retained generation
    * references them (never in place). Returns the minted version. */
  def optimize(
      spark: SparkSession,
      tablePath: String,
      targetBytes: Long): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    // one listing resolves the head, one single-generation read its
    // file set
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"optimize: $tablePath has no committed versions"))
    val files = filesOf(manifestFor(spark, tablePath, latest)).map(_.path)
    val f = fs(spark, tablePath)
    val bytes = files.map(p => f.getFileStatus(new Path(p)).getLen).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // readAsOf (not the raw file list): a partitioned snapshot's
    // partition column lives in the paths, and a rewrite that read the
    // bare files would silently drop it. The rewrite itself commits a
    // flat layout — OPTIMIZE trades the partition directories for
    // uniform files; re-partitioning afterwards is commitPartitioned's
    // job if wanted.
    commit(spark, readAsOf(spark, tablePath, latest).repartition(n),
      tablePath, append = false, derivedFrom = Some(latest),
      verb = "optimize")
  }

  /** OPTIMIZE that preserves the table's LAYOUT CONTRACT — the verb a
    * maintenance scheduler may run blindly where the plain [[optimize]]
    * silently DEGRADES an indexed table (its flat rewrite leaves the
    * new head sidecar-less, so [[scanRangeAsOf]]/[[scanBoxAsOfN]]
    * refuse and [[scanPartitionAsOf]] loses its fragments): a
    * hive-partitioned head compacts via [[optimizePartitioned]] (one
    * file per partition, fragments survive), a stats-governed head
    * rewrites through [[commitClustered]] / [[commitZorderedN]] on the
    * sidecar's OWN key columns (read off its `min_*` schema — range
    * and box skipping survive compaction), a bloom-governed head
    * rebuilds its point index via [[optimizeBloom]] on the key column
    * the sidecar records (legacy keyless sidecars refuse toward the
    * explicit verb), and a plain head takes the plain [[optimize]].
    * Returns the minted version. */
  def optimizePreserving(
      spark: SparkSession,
      tablePath: String,
      targetBytes: Long): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val head = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"optimizePreserving: $tablePath has no committed versions"))
    val files = observedGeneration(spark, tablePath, head,
      "optimizePreserving").files
    val f = fs(spark, tablePath)
    if (files.forall(_.part.isDefined)) {
      // fragment key precedes '='; hive escaping applies to VALUES only
      val partCol = files.head.part.get.takeWhile(_ != '=')
      return optimizePartitioned(spark, tablePath, partCol)
    }
    // a stats generation GOVERNS the head when it still DESCRIBES
    // every head file ([[SidecarGens.describing]]) — true across
    // file-preserving commits (deleteWhere, constraint/gencol changes
    // repoint files verbatim without minting a stats dir of their
    // own), false after a plain replace buried the clustered era. Key
    // names come off the sidecar's min_* schema; the rewrite
    // re-clusters on them and mints a FRESH sidecar at the new head.
    val gens = sidecarPass(spark, tablePath, head, IndexFamilies)
    def describing(fam: IndexFamily): Option[String] =
      gens.describing(spark, fam, files.map(_.path))
    describing(StatsIndex).foreach { dir =>
      val keys = StatsIndex.keys(spark, dir)
      val bytes = files.map(d => f.getFileStatus(new Path(d.path)).getLen).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      return keys match {
        case Seq(one) =>
          commitClustered(spark, readAsOf(spark, tablePath, head),
            tablePath, one, n, append = false,
            derivedFrom = Some(head), verb = "optimizePreserving")
        case many =>
          commitZorderedN(spark, readAsOf(spark, tablePath, head),
            tablePath, many, n, append = false,
            derivedFrom = Some(head), verb = "optimizePreserving")
      }
    }
    // a bloom-governed head rebuilds its point index over the
    // compacted files — the sidecar records its own key column, so the
    // fleet sweep needs no out-of-band knowledge. A legacy sidecar
    // without the key (or with conflicting keys) refuses toward the
    // explicit verb rather than guessing.
    describing(BloomIndex).foreach { dir =>
      val key = BloomIndex.keys(spark, dir).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"optimizePreserving: version $head of $tablePath is " +
            "bloom-governed but the sidecar does not record ONE key " +
            "column — run optimizeBloom(keyCol) explicitly"))
      return optimizeBloom(spark, tablePath, key, targetBytes)
    }
    optimize(spark, tablePath, targetBytes)
  }

  /** Delete data files NO manifest generation references — the
    * "remove orphan files" maintenance job [[vacuum]] cannot cover:
    * vacuum deletes files of the generations it DROPS, but a committer
    * that crashed between writing its data files and publishing its
    * manifest leaves files referenced by nothing, invisible to every
    * reader and every vacuum, silently accumulating storage forever.
    * `olderThanMs` is the safety window (no default on purpose —
    * Iceberg ships days): a RACING committer's just-written files are
    * also unreferenced until its publish lands, so only files whose
    * modification time predates the window are deleted. Returns the
    * number of files removed; table content is untouched by
    * construction (only unreferenced files die). */
  def removeOrphans(
      spark: SparkSession,
      tablePath: String,
      olderThanMs: Long): Long = {
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val f = fs(spark, tablePath)
    val dataRoot = new Path(s"$tablePath/$DataDir")
    if (!f.exists(dataRoot)) return 0L
    val referenced = history(spark, tablePath).flatMap(_.paths).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    // a branch root's sweep spares files the PARENT table's manifest
    // references (published by a fast-forward — main's, not orphans),
    // and main's sweep spares files a LIVE branch still references
    // (main's manifest may have expired the forked-from version while
    // the branch keeps reading its files)
    val parentRef = parentTableRefs(spark, tablePath)
    val branchRef = liveBranchRefs(spark, tablePath)
    val orphans = walk(dataRoot).filter { s =>
      !s.getPath.getName.startsWith("_") &&
        !referenced.contains(s.getPath.toString) &&
        !parentRef.contains(normPath(s.getPath.toString)) &&
        !branchRef.contains(normPath(s.getPath.toString)) &&
        s.getModificationTime <= cutoff
    }
    orphans.foreach(s => f.delete(s.getPath, false))
    // a crashed commitEqUpsert's sidecar dir (version claimed, publish
    // never landed) is orphan metadata too: it never governs (the live
    // filter ignores it) but it accumulates — same safety window
    val staleEq = Eq.listing(spark, tablePath).stale
      .map(d => new Path(d._2))
      .filter(p => f.getFileStatus(p).getModificationTime <= cutoff)
    staleEq.foreach(p => f.delete(p, true))
    (orphans.length + staleEq.length).toLong
  }

  /** [[optimize]] for a HIVE-PARTITIONED snapshot table, preserving
    * the layout the flat rewrite would destroy: after many append
    * commits each partition directory accumulates one file set per
    * commit (the classic small-file problem — an incremental ANN
    * store's cells, a by-date event table's days), and this rewrites
    * the LATEST snapshot as one compact file per partition value while
    * the manifest keeps carrying partition fragments — so
    * [[scanPartitionAsOf]] pruning survives the compaction, which is
    * the point of compacting a partitioned table. Committed as a
    * REPLACE version: readers of older versions keep their immutable
    * files until [[vacuum]]. The `repartition(partCol)` shuffle routes
    * every partition's rows to one task, so each directory emits
    * exactly one file; at petabyte partitions a byte-targeted variant
    * (repartitionByRange within partitions) is the refinement, same
    * commit path. */
  def optimizePartitioned(
      spark: SparkSession,
      tablePath: String,
      partCol: String): Long = {
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"optimizePartitioned: $tablePath has no committed versions"))
    require(manifestFor(spark, tablePath, latest)
      .forall(_.files.forall(_.part.isDefined)),
      s"optimizePartitioned needs a partitioned table (commitPartitioned); " +
        s"version $latest of $tablePath carries flat files")
    commitPartitioned(spark,
      readAsOf(spark, tablePath, latest).repartition(col(partCol)),
      tablePath, partCol, append = false,
      derivedFrom = Some(latest), verb = "optimizePartitioned")
  }

  /** ROLLBACK: make `toVersion`'s content the table's new head by
    * publishing a fresh version whose manifest rows ARE `toVersion`'s —
    * pointers only, partition fragments, schema, and row counts
    * included. Strictly METADATA-ONLY: no data file is written, read,
    * or deleted, so reverting a bad terabyte-scale commit costs one
    * kilobyte-scale manifest generation (the Iceberg
    * `rollback_to_snapshot` shape). History stays intact — the bad
    * version remains readable AS OF until [[vacuum]] expires it, and
    * because the rolled-back-to files are referenced by the NEW head,
    * a subsequent vacuum keeps them while reclaiming the bad commit's
    * files. Rolling back to a vacuumed (or never-committed) version is
    * refused loudly. Returns the minted version. */
  def rollback(
      spark: SparkSession,
      tablePath: String,
      toVersion: Long,
      ts: Option[Long] = None): Long = {
    val observed = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"rollback: $tablePath has no committed versions"))
    publishFace(spark, tablePath, toVersion, tablePath, Some(observed),
      "rollback", ts)
  }

  /** ZERO-COPY shallow clone: fork `srcTable`'s snapshot `version` as
    * version 0 of the (empty) `dstTable` — the new table's first
    * manifest generation IS pointer rows to the source's files
    * (partition fragments, schema, and row counts carried; the commit
    * timeline starts fresh), so forking a 100-TB table costs one
    * kilobyte-scale manifest write and zero data movement (Delta's
    * SHALLOW CLONE — the test-against-prod-data and experiment-branch
    * verb). The fork then diverges freely: its own commits, merges and
    * purges write files under its OWN root, while destructive verbs
    * ([[vacuum]], [[purgeKeys]]) recognize the borrowed files as
    * EXTERNAL ([[ownsFile]]) and only ever drop them from the clone's
    * manifest — deleting them is the source's right, never the
    * clone's (spec-pinned). The standing caveat is Delta's too: the
    * SOURCE's vacuum does not know about clones, so retention policy
    * must outlive the forks. Clustered stats and bloom sidecars do not transfer
    * ([[scanRangeAsOf]]/[[scanPointAsOf]] on the clone refuse loudly); a clone of a
    * clone is just another clone. Returns the clone's version (0). */
  def cloneTable(
      spark: SparkSession,
      srcTable: String,
      version: Long,
      dstTable: String): Long = {
    require(latestVersion(spark, dstTable).isEmpty,
      s"cloneTable: destination $dstTable already has commits")
    publishFace(spark, srcTable, version, dstTable, None, "cloneTable")
  }

  /** The tail of every verb that publishes another version's face as a
    * new version of `dst` ([[rollback]], [[cloneTable]],
    * [[fastForward]]): `src`'s generation `srcVersion` — refused by
    * name when it is not in the manifest — repointed verbatim (files,
    * fragments, schema, row counts) under a version claimed above
    * `onto`, with every carried family's set moved along: the face
    * reads, writes and validates under the deletes, constraints, names
    * and generators it had at the source, never ones committed after
    * it. `onto` is the `dst` head the new version derives from (a
    * derived commit, refused when the head moved); None for a fresh
    * `dst`, whose version 0 has no parent. */
  private def publishFace(
      spark: SparkSession,
      src: String,
      srcVersion: Long,
      dst: String,
      onto: Option[Long],
      verb: String,
      ts: Option[Long] = None): Long = {
    val found = manifestFor(spark, src, srcVersion)
    require(found.isDefined,
      s"$verb: snapshot version $srcVersion of $src is not in " +
        "the manifest (never committed, or expired by vacuum)")
    val gen = found.get
    val version = claimVersion(spark, dst, onto.fold(0L)(_ + 1L))
    CarriedFamilies.foreach(_.carry(spark, src, srcVersion, dst, version))
    onto.fold(publishRows(spark, dst,
      Generation(Commit(version, ts, None), gen.files, gen.schemaJson)))(
      publishDerived(spark, dst, version, gen.files, gen.schemaJson.orNull,
        ts, _, verb))
  }

  // ------------------------------------------------------------------
  // BRANCHES — writable isolated lineages (the Iceberg branch / WAP
  // shape, built on the zero-copy clone)
  // ------------------------------------------------------------------

  /** The branch's own table root — a full snapshot table: every verb
    * (clustered commits, deletes, constraints, MERGE, time travel
    * WITHIN the branch) works on it unchanged. */
  def branchPath(tablePath: String, name: String): String =
    s"$tablePath/_branches/$name"

  private def forkMarker(tablePath: String, name: String): Path =
    new Path(s"$tablePath/_branches/$name.fork")

  private def readFork(
      spark: SparkSession,
      tablePath: String,
      name: String): Option[Long] =
    readPointer(fs(spark, tablePath), forkMarker(tablePath, name),
      lenient = false)

  private def writeFork(
      spark: SparkSession,
      tablePath: String,
      name: String,
      version: Long): Unit =
    writePointer(fs(spark, tablePath), forkMarker(tablePath, name), version)

  /** Fork an ISOLATED WRITABLE lineage off `fromVersion` (default the
    * head): a zero-copy clone under the table's own `_branches/<name>`
    * plus a fork marker recording the main version it left from. Main
    * readers NEVER see branch commits (the branch has its own manifest
    * space); the branch is a full snapshot table — write to it with
    * any verb against [[branchPath]], audit it with [[readBranch]],
    * and publish it back atomically with [[fastForward]]. This is
    * write-audit-publish at LINEAGE scope: stage any number of
    * commits, not one. While a branch is open, main's [[vacuum]] and
    * [[removeOrphans]] spare every file the branch's manifest still
    * references (the [[liveBranchRefs]] guard) — dropping the branch
    * releases them to the next sweep. Returns the branch's own
    * version 0. */
  def createBranch(
      spark: SparkSession,
      tablePath: String,
      name: String,
      fromVersion: Option[Long] = None): Long = {
    requireTagName(name)
    require(readFork(spark, tablePath, name).isEmpty,
      s"branch '$name' already exists on $tablePath")
    val from = fromVersion.orElse(latestVersion(spark, tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"createBranch: $tablePath has no committed versions"))
    val root = branchPath(tablePath, name)
    init(spark, root)
    val v = cloneTable(spark, tablePath, from, root)
    writeFork(spark, tablePath, name, from)
    v
  }

  /** All (name, forkVersion, branchHead) branches of the table. */
  def branches(
      spark: SparkSession,
      tablePath: String): Seq[(String, Long, Long)] = {
    val f = fs(spark, tablePath)
    val dir = new Path(s"$tablePath/_branches")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(s =>
      s.isFile && s.getPath.getName.endsWith(".fork")).toSeq.map { st =>
      val name = st.getPath.getName.stripSuffix(".fork")
      (name,
        readFork(spark, tablePath, name).get,
        latestVersion(spark, branchPath(tablePath, name)).getOrElse(-1L))
    }.sortBy(_._1)
  }

  /** The branch's current face. */
  def readBranch(
      spark: SparkSession,
      tablePath: String,
      name: String): DataFrame = {
    val root = branchPath(tablePath, name)
    readAsOf(spark, root, latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $tablePath — known: " +
          branches(spark, tablePath).map(_._1).mkString(", "))))
  }

  /** Publish the branch's head onto main as ONE metadata-only commit —
    * the branch's manifest rows repoint verbatim (files stay where
    * they are, under the branch's `data/`; main owns everything under
    * its root, so its vacuum lifecycle covers them) and the branch's
    * governing DV/constraint/mapping/generated-column sets transfer
    * exactly as [[rollback]] restores a target's (the branch face IS
    * the published face, deletes and invariants included). REFUSES
    * when main's head moved past the fork — a fast-forward is only
    * fast-forward onto the lineage it left; recreate the branch to
    * rebase (the same retry contract every derived commit has). The
    * fork marker advances to the published version, so the branch
    * remains usable for the next audit cycle. Stats/bloom sidecars do
    * not transfer (the clone contract) — re-cluster after merging if
    * the table is index-governed. Returns the minted main version. */
  def fastForward(
      spark: SparkSession,
      tablePath: String,
      name: String,
      ts: Option[Long] = None): Long = {
    val fork = readFork(spark, tablePath, name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' on $tablePath — known: " +
          branches(spark, tablePath).map(_._1).mkString(", ")))
    val observed = latestVersion(spark, tablePath)
    require(observed.contains(fork),
      s"fastForward('$name'): $tablePath's head is " +
        s"${observed.fold("<empty>")(_.toString)} but the branch forked " +
        s"from $fork — main moved; recreate the branch from the new " +
        "head to rebase its changes")
    val root = branchPath(tablePath, name)
    val bHead = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward('$name'): the branch has no commits"))
    val published = publishFace(spark, root, bHead, tablePath, Some(fork),
      s"fastForward('$name')", ts)
    writeFork(spark, tablePath, name, published)
    published
  }

  /** Drop a branch: its manifest space and its OWN data files go; a
    * branch whose files a retained MAIN generation references (it was
    * fast-forwarded) refuses toward [[optimize]]-then-vacuum first —
    * deleting them would corrupt main's history. */
  def dropBranch(
      spark: SparkSession,
      tablePath: String,
      name: String): Boolean = {
    requireTagName(name)
    val f = fs(spark, tablePath)
    val marker = forkMarker(tablePath, name)
    if (!f.exists(marker)) return false
    val root = branchPath(tablePath, name)
    val prefix = normPath(root) + "/"
    val borrowed = history(spark, tablePath).exists(
      _.paths.exists(file => normPath(file).startsWith(prefix)))
    require(!borrowed,
      s"dropBranch('$name'): a retained main generation references " +
        "files under the branch root (it was fast-forwarded) — " +
        "optimize main (rewriting them under main's own data/) and " +
        "vacuum the referencing versions first")
    f.delete(new Path(root), true)
    f.delete(marker, false)
    true
  }

  /** COUNT(*) AS OF `version`, answered from the manifest's per-file
    * footer counts alone — zero data files opened, the aggregate
    * pushdown every lakehouse metadata layer exists to enable (a
    * 100-TB table's row count is a sum over kilobytes of manifest).
    * Loud when the version is unknown or its generation predates
    * row-count manifests (recommit or rely on a scan). */
  def countAsOf(
      spark: SparkSession,
      tablePath: String,
      version: Long): Long = {
    val files = generationOf(spark, tablePath, version).files
    require(files.forall(_.rows.isDefined),
      s"snapshot version $version of $tablePath predates row-count " +
        "manifests — its generation carries no footer counts")
    val base = files.map(_.rows.get).sum
    // deletion vectors subtract from the footer counts. Still zero
    // DATA files opened — the DV sidecar is metadata-scale (bounded by
    // deletes).
    base - liveDvRows(spark, tablePath, version, files)
  }

  /** The governing DV entries of `version` on the generation's own
    * `files` — entries on files outside it (replaced or compacted away)
    * are dead and never count. */
  private def liveDvRows(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      files: Seq[DataFile]): Long =
    dvSetOf(spark, resolveSidecars(spark, tablePath, version)).fold(0L) {
      _.join(spark.createDataFrame(files.map(d => Tuple1(d.path))).toDF("file"),
        Seq("file"), "left_semi").count()
    }

  /** Metadata-only statistics frame: one row per (version, part) with
    * its file and row counts — `part` null for flat commits. Every
    * number derives from the manifest (footer counts captured at
    * commit), so the whole history of a 100-TB table profiles without
    * opening one data file; the row-count columns are null-free by
    * construction for tables written by this layer (guarded loudly
    * for legacy generations). Aggregated on the driver over
    * [[history]] — filter/join the frame like any table (Iceberg's
    * `.snapshots`/`.files` metadata-table shape). */
  def tableStats(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = countedHistory(spark, tablePath, "tableStats",
      "use countAsOf per version, and dvStats for the deletion " +
        "pressure gauge").flatMap { g =>
      g.files.groupBy(_.part).toSeq.sortBy(_._1).map { case (p, fs) =>
        Row(g.version, p.orNull, fs.length.toLong, fs.map(_.rows.get).sum)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("part", StringType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = true))))
  }

  /** Version-level history frame: one row per generation with its
    * logical commit stamp, file count, and row count — the Iceberg
    * `.history`/`.snapshots` metadata-table shape, derived entirely
    * from the manifest ([[tableStats]] is the per-partition
    * refinement), over [[historyRows]]. */
  def tableHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = historyRows(spark, tablePath).map { case (v, ts, n, r) =>
      Row(v, ts.orNull, n, r)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("commit_ts", LongType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = true))))
  }

  /** (version, commit_ts, n_files, n_rows) per generation,
    * version-ascending, aggregated on the driver — [[tableHistory]]'s
    * rows and the SQL catalog's `<t>.history` table. Loud when any
    * generation predates row-count manifests, rather than
    * undercounting. `commit_ts` is None for unstamped generations — a
    * report column, unlike [[versionAt]] which refuses mixed
    * timelines. */
  private[graft] def historyRows(
      spark: SparkSession,
      tablePath: String): Seq[(Long, Option[Long], Long, Long)] =
    countedHistory(spark, tablePath, "tableHistory", "use countAsOf")
      .map(g => (g.version, g.commit.commitTs, g.files.length.toLong,
        g.files.map(_.rows.get).sum))

  /** [[history]] for a verb that sums its footer counts, refused when a
    * generation predates row counts (it would undercount) or when live
    * deletion vectors touch its files: footer counts are PHYSICAL and
    * would silently overcount deleted rows — `advice` names the
    * DV-aware verb. */
  private def countedHistory(
      spark: SparkSession,
      tablePath: String,
      verb: String,
      advice: String): Seq[Generation] = {
    val gens = history(spark, tablePath)
    require(gens.forall(_.files.forall(_.rows.isDefined)),
      s"$tablePath carries generations without footer counts — " +
        s"$verb would undercount; recommit those versions")
    val possessive = if (verb.endsWith("s")) s"$verb'" else s"$verb's"
    require(!liveDvEntriesExist(spark, tablePath, gens.flatMap(_.paths)),
      s"$tablePath carries live deletion vectors — $possessive footer " +
        s"counts would overcount deleted rows; $advice")
    gens
  }

  /** Deletion-vector PRESSURE on the head version — the growth trigger
    * for the merge-on-read half of the delete design: each
    * [[deleteWhere]] grows the governing (file, row_index) set, every
    * read pays the anti-join against it, and nothing shrinks it until
    * a compacting [[optimize]] rewrites through the DV-applied read
    * and commits fresh DV-free files. One row, all from metadata (the
    * manifest's footer counts + the DV sidecar — zero data files
    * opened): `physical_rows` (footer sum of the head), `dv_rows`
    * (LIVE governing entries — entries on files the head no longer
    * references are dead and don't count, so an OPTIMIZE clears the
    * gauge by construction), `dv_fraction`, and `compaction_due` once
    * the fraction crosses `compactAt` (default 10%, the
    * Delta-ish maintenance heuristic) — the signal a table-maintenance
    * scheduler polls to know WHICH tables to OPTIMIZE next, instead of
    * discovering the anti-join tax in query latency. Refuses on
    * generations predating row-count manifests, like [[tableStats]]. */
  def dvStats(
      spark: SparkSession,
      tablePath: String,
      compactAt: Double = 0.1): DataFrame = {
    require(compactAt > 0 && compactAt <= 1,
      s"compactAt must be in (0, 1], got $compactAt")
    val head = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"dvStats: $tablePath has no committed versions"))
    val files = filesOf(manifestFor(spark, tablePath, head))
    require(files.forall(_.rows.isDefined),
      s"version $head of $tablePath predates row-count manifests — " +
        "dvStats needs footer counts; recommit the version")
    val physical = files.map(_.rows.get).sum
    val dvRows = liveDvRows(spark, tablePath, head, files)
    val frac =
      if (physical == 0L) 0.0 else dvRows.toDouble / physical.toDouble
    spark.createDataFrame(Seq(
      (head, physical, dvRows, frac, frac >= compactAt)))
      .toDF("version", "physical_rows", "dv_rows", "dv_fraction",
        "compaction_due")
  }

  /** The equality-delete PRESSURE GAUGE — [[dvStats]]' merge-on-read
    * sibling, closing the same growth-trigger loop for MOR lineages:
    * live tombstone rows vs the head's physical rows, all
    * metadata-scale (each keys sidecar is a coalesced single file the
    * size of its sync batch; the physical count comes off the
    * manifest's footer counts — no data file opens). Without a fold,
    * [[readMorAsOf]]'s broadcast anti-join grows with every sync;
    * `fold_due` is the fleet scheduler's signal to run
    * [[foldEqDeletes]] — the eq analog of `dv_fraction` →
    * `optimize`. A table with no live eq sidecars gauges zero. */
  def eqStats(
      spark: SparkSession,
      tablePath: String,
      foldAt: Double = 0.1): DataFrame = {
    require(foldAt > 0 && foldAt <= 1,
      s"foldAt must be in (0, 1], got $foldAt")
    val head = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"eqStats: $tablePath has no committed versions"))
    val eqDirs = Eq.listing(spark, tablePath).liveAt(head)
    val tombRows = eqDirs.map { case (_, dir) => Eq.keyCount(spark, dir) }.sum
    val files = filesOf(manifestFor(spark, tablePath, head))
    require(files.forall(_.rows.isDefined),
      s"version $head of $tablePath predates row-count manifests — " +
        "eqStats needs footer counts; recommit the version")
    val physical = files.map(_.rows.get).sum
    val frac =
      if (physical == 0L) { if (tombRows > 0L) 1.0 else 0.0 }
      else tombRows.toDouble / physical.toDouble
    spark.createDataFrame(Seq(
      (head, physical, tombRows, eqDirs.length.toLong, frac,
        frac >= foldAt)))
      .toDF("version", "physical_rows", "eq_tombstones", "eq_sidecars",
        "eq_fraction", "fold_due")
  }

  /** The live tombstone sidecars' recorded key columns (the newest
    * live sidecar's keys-parquet column names — one footer read), or
    * None when nothing governs: what lets a fleet sweep fold a MOR
    * table it never created. */
  def eqLiveKeyCols(
      spark: SparkSession,
      tablePath: String): Option[Seq[String]] =
    latestVersion(spark, tablePath).flatMap(h =>
      Eq.keyCols(spark, Eq.listing(spark, tablePath).liveAt(h)))

  /** [[foldEqDeletes]] with the key columns derived from the newest
    * live sidecar itself — the maintenance-sweep entry point (the
    * sweep knows the table, not its CDC pipeline's key choice).
    * Refuses when nothing governs. */
  def foldEqDeletes(spark: SparkSession, tablePath: String): Long =
    foldEqDeletes(spark, tablePath,
      eqLiveKeyCols(spark, tablePath).getOrElse(
        throw new IllegalArgumentException(
          s"foldEqDeletes: $tablePath carries no live equality-delete " +
            "sidecars — nothing to fold")))

  /** Resolve AS OF TIMESTAMP to a version: the LATEST version (in
    * commit order, the Iceberg rule) whose `commit_ts` is at or before
    * `ts`. Timestamps are the caller's LOGICAL clock — an event-time
    * watermark supplied at commit, never wall time — so resolution
    * replays deterministically on any engine. Loud in every murky
    * case: an empty table, a `ts` predating the first commit, and any
    * generation missing a timestamp (a mixed table would silently drop
    * untimestamped commits out of the timeline — refuse instead;
    * commit verbs take `ts` optionally, a timestamped table should
    * pass it on every commit). Driver-side over the metadata-scale
    * manifest. */
  def versionAt(
      spark: SparkSession,
      tablePath: String,
      ts: Long): Long = {
    val gens = manifestMeta(spark, tablePath)
    require(gens.nonEmpty, s"$tablePath has no committed versions")
    val missing = gens.filter(_.commitTs.isEmpty).map(_.version)
    require(missing.isEmpty,
      s"versions ${missing.sorted.mkString(",")} of $tablePath carry no " +
        "commit_ts — AS OF TIMESTAMP needs every generation timestamped")
    val admitted = gens.filter(_.commitTs.get <= ts)
    require(admitted.nonEmpty,
      s"no snapshot of $tablePath at or before ts=$ts (earliest " +
        s"commit_ts ${gens.map(_.commitTs.get).min})")
    admitted.map(_.version).max
  }

  /** [[readAsOf]] with the version resolved by [[versionAt]] — the
    * `SELECT … FOR TIMESTAMP AS OF` surface. */
  def readAsOfTimestamp(
      spark: SparkSession,
      tablePath: String,
      ts: Long): DataFrame =
    readAsOf(spark, tablePath, versionAt(spark, tablePath, ts))

  /** Incremental changelog read: the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive), planned as the manifest
    * file-set difference — ONLY the new files enter the scan, so a
    * consumer that checkpoints the last version it processed pays
    * O(delta) per poll on a 100-TB table (the Iceberg incremental-scan
    * / Delta streaming-source shape, expressed as a batch primitive:
    * poll `latestVersion`, read the delta, advance the checkpoint).
    *
    * Defined only for APPEND lineage over the interval: every file of
    * `fromVersion` must still be referenced by `toVersion`. A replace,
    * MERGE, or OPTIMIZE in between rewrote history — "what was added"
    * is ill-defined at file granularity — and is refused loudly; use
    * [[diff]] for the row-level audit there. `fromVersion ==
    * toVersion` is the empty delta (with the snapshot's schema).
    *
    * DV-AWARE: the destination's governing deletion vectors apply to
    * the fresh rows, so a row appended and then DV-deleted INSIDE the
    * interval is never replayed as live (a fresh file cannot carry a
    * pre-interval DV entry — the file did not exist yet — so filtering
    * the fresh scan by `toVersion`'s set is exactly the interval's
    * deletes on it). Deletes that hit PRE-EXISTING rows stay invisible
    * here by design: this is the inserts-only feed; a consumer that
    * must see retractions polls [[readChangesBetween]], the `'+'/'-'`
    * CDC feed over the same checkpoint discipline. */
  def readAppendsBetween(
      spark: SparkSession,
      tablePath: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readAppendsBetween: fromVersion $fromVersion > toVersion $toVersion")
    val (from, to, stored) =
      generationPair(spark, tablePath, fromVersion, toVersion)
    val toFiles = to.map(_.path).toSet
    val dropped = from.filterNot(d => toFiles.contains(d.path))
    require(dropped.isEmpty,
      s"readAppendsBetween: versions $fromVersion..$toVersion of " +
        s"$tablePath are not append lineage — ${dropped.size} file(s) of " +
        s"v$fromVersion were rewritten in between (replace/MERGE/" +
        "OPTIMIZE); use diff() for the row-level audit")
    val fromFiles = from.map(_.path).toSet
    val fresh = to.filterNot(d => fromFiles.contains(d.path))
    if (fresh.isEmpty) {
      val schema = stored.getOrElse(
        readAsOf(spark, tablePath, toVersion).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      readWithDv(spark, fresh, stored,
        resolveSidecars(spark, tablePath, toVersion))
    }
  }

  /** The files of TWO generations plus the destination's stored
    * schema, from a single eager read of exactly those TWO generations'
    * manifest files — the interval verbs' resolution: O(files of from
    * + files of to) rows collected, never the history. Loud per missing
    * version. */
  private def generationPair(
      spark: SparkSession,
      tablePath: String,
      fromVersion: Long,
      toVersion: Long)
      : (Seq[DataFile], Seq[DataFile],
        Option[org.apache.spark.sql.types.StructType]) = {
    manifestReads.incrementAndGet()
    recoverManifestSwap(spark, tablePath)
    val f = fs(spark, tablePath)
    val paths = Seq(fromVersion, toVersion).distinct
      .map(genFilePath(tablePath, _))
      .filter(p => f.exists(new Path(p)))
    val gens =
      try readGenerations(spark, paths)
      catch {
        // an endpoint vanished mid-read (racing retraction/vacuum) —
        // same loud answer as a missing generation below
        case e: Throwable if isFileGone(e) => Seq.empty
      }
    def of(v: Long): Option[Generation] = gens.find(_.version == v)
    val (from, to) = (of(fromVersion), of(toVersion))
    require(from.isDefined, notInManifest(tablePath, fromVersion))
    require(to.isDefined, notInManifest(tablePath, toVersion))
    (from.get.files, to.get.files, to.get.schema)
  }

  /** Row-level CDC feed between two versions, O(delta) — the
    * completion of [[readAppendsBetween]] for lineages that also
    * DELETE through deletion vectors: one frame of the interval's net
    * row changes tagged `change` `'+'`/`'-'`. Adds are the fresh
    * files' rows surviving the destination's DV (a row added and
    * deleted inside the interval nets to nothing); deletes are the DV
    * entries the interval ADDED, materialized by scanning ONLY the
    * files that contain them (a metadata-scale semi-join on the scan's
    * `_metadata` identity); a rollback that RESURRECTS rows (its
    * re-materialized DV set shrinks) emits them back as `'+'`. Where
    * [[diff]] scans both faces — O(table) — this scans the delta's
    * files only, which is what a checkpointing consumer pays per poll
    * on a 100-TB table. Same lineage contract as
    * [[readAppendsBetween]]: a replace/OPTIMIZE in the interval
    * refuses loudly toward [[diff]]. */
  def readChangesBetween(
      spark: SparkSession,
      tablePath: String,
      fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChangesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val (from, to, stored) =
      generationPair(spark, tablePath, fromVersion, toVersion)
    val toFiles = to.map(_.path).toSet
    val dropped = from.filterNot(d => toFiles.contains(d.path))
    require(dropped.isEmpty,
      s"readChangesBetween: versions $fromVersion..$toVersion of " +
        s"$tablePath are not append+delete lineage — ${dropped.size} " +
        "file(s) were rewritten in between; use diff() for the " +
        "row-level audit")
    // both versions' governing DV generations from ONE family listing
    val gens = resolveSidecars(spark, tablePath, toVersion)
    val l2p = logicalToPhysical(gens.governing(spark, ColMap))
    val phys = stored.map(physicalSchema(_, l2p))
    def rowsOf(files: Seq[DataFile], withMeta: Boolean) =
      fromPhysical(readFileRows(spark, files, phys, withMeta), l2p)

    def dvAt(v: Long) =
      gens.dvAt(v).fold(Dv.empty(spark))(d => Dv.read(spark, d._2))
    val dTo = dvAt(toVersion)
    val dFrom = dvAt(fromVersion)
    // DV sets are exact (file, row_index) id sets — set difference is
    // the interval's delete/resurrect delta, metadata-scale
    val newlyDeleted = dTo.exceptAll(dFrom)
    val resurrected = dFrom.exceptAll(dTo)

    val fromFileSet = from.map(_.path).toSet
    val freshFiles = to.filterNot(d => fromFileSet.contains(d.path))
    // materialize rows addressed by a DV-id frame: scan ONLY the
    // files that carry them, semi-join on the row identity
    def materialize(ids: DataFrame, tag: String): Option[DataFrame] = {
      val files = ids.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
      if (files.isEmpty) None
      else {
        val scan = rowsOf(to.filter(d => files.contains(d.path)),
          withMeta = true)
        Some(scan.join(ids,
          scan(DvFileCol) === ids("file") &&
            scan(DvPosCol) === ids("row_index"), "left_semi")
          .drop(DvFileCol, DvPosCol)
          .withColumn("change", lit(tag)))
      }
    }

    val plusFresh =
      if (freshFiles.isEmpty) None
      else {
        val scan = rowsOf(freshFiles, withMeta = true)
        Some(applyDv(scan, dTo).drop(DvFileCol, DvPosCol)
          .withColumn("change", lit("+")))
      }
    // deletes that hit PRE-EXISTING rows only (fresh-file deletes
    // already cancelled inside plusFresh)
    val fromFilesDf = spark.createDataFrame(
      from.map(d => Tuple1(d.path))).toDF("file")
    val minusRows = materialize(
      newlyDeleted.join(fromFilesDf, Seq("file"), "left_semi"), "-")
    val plusBack = materialize(resurrected, "+")

    val legs = Seq(plusFresh, minusRows, plusBack).flatten
    if (legs.isEmpty) {
      val schema = stored.getOrElse(
        readAsOf(spark, tablePath, toVersion).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema.add("change", org.apache.spark.sql.types.StringType))
    } else legs.reduceLeft((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
  }

  /** WRITE-AUDIT-PUBLISH: stage the batch's data files, run the audit
    * on the STAGED frame as read back from disk (what a reader would
    * actually see — not the in-memory input), and publish the manifest
    * generation only if the audit reports zero violations. On refusal
    * the staged files are deleted and the table is untouched — the bad
    * batch was never visible to any reader, because the manifest
    * append IS the publish point and it never happened (the WAP
    * pattern every ingest gate wants: audit between write and
    * publish, not after). The claimed version number stays burned — a
    * benign gap, the same one a crashed committer leaves, which the
    * gap-safe append lineage already tolerates.
    *
    * `audit` maps the staged frame to an expectation report with a
    * `n_violations` column — [[Stats.expectRows]] /
    * [[Stats.expectForeignKey]] / [[Stats.expectUniqueKey]] produce
    * exactly that shape, and their unions compose a suite. Returns
    * `Right(version)` on publish, `Left(report rows)` on refusal. */
  def commitAudited(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      audit: DataFrame => DataFrame,
      append: Boolean,
      ts: Option[Long] = None): Either[Seq[Row], Long] = {
    val observed = latestVersion(spark, tablePath)
    val version = claimVersion(spark, tablePath,
      observed.map(_ + 1L).getOrElse(0L))
    val dataPath = s"$tablePath/$DataDir/v$version"
    val w = writeBatch(spark, tablePath, version,
      observed.map(sidecarPass(spark, tablePath, _, GovFamilies)), df)
    val staged = fromPhysical(spark.read
      .schema(physicalSchema(nullableTop(w.schema), w.l2p))
      .parquet(dataPath), w.l2p)
    val report = audit(staged)
    require(report.columns.contains("n_violations"),
      "commitAudited: the audit report must carry an n_violations column")
    val rows = report.collect().toSeq
    val clean = rows.forall { r =>
      val i = r.fieldIndex("n_violations")
      r.isNullAt(i) || r.getLong(i) == 0L
    }
    if (!clean) {
      fs(spark, tablePath).delete(new Path(dataPath), true)
      Left(rows)
    } else Right(
      if (append)
        publishAppend(spark, tablePath, version, w.fresh, observed,
          w.schema, ts)
      else publish(spark, tablePath, version, w.fresh, None, w.schema, ts))
  }

  /** RIGHT-TO-ERASURE purge: remove every row matching `keys` from the
    * WHOLE retained history — every version, not just the head. Privacy
    * law trumps snapshot immutability: a keyed delete via [[merge]]
    * only cleans the new head while the subject's rows stay readable AS
    * OF every older version, which is exactly what a GDPR/CCPA erasure
    * request forbids. This is the one verb that rewrites history in
    * place, and it does so at FILE granularity:
    *
    *  1. ONE distributed pass over the distinct files of all retained
    *     generations, reading ONLY the key columns (fixed key schema —
    *     no footer merge, no payload bytes), finds the files that
    *     contain a hit; clean files are never rewritten, their paths
    *     stay byte-identical in every manifest (spec-pinned).
    *  2. Each hit file is rewritten minus the matching rows into a
    *     fresh purge directory (partition fragment preserved so
    *     partition-column reconstruction and [[scanPartitionAsOf]]
    *     still work), and every generation referencing the old file is
    *     repointed to the replacement — shared files are rewritten
    *     ONCE no matter how many snapshots reference them, and the
    *     manifests' row counts are refreshed from the new footers.
    *  3. The full manifest is replaced via the crash-safe
    *     [[swapManifest]], then the old hit files are deleted. A crash
    *     after the swap leaves them unreferenced — [[removeOrphans]]'
    *     territory — never a readable copy of the purged rows in any
    *     manifest.
    *
    * Cost: O(table keys-only scan) to find hits + O(files containing
    * the subject) rewrite jobs — on a partitioned/clustered table the
    * second term is the handful of files the subject actually touches.
    * `keys` columns must exist with matching types in the data files
    * (partition columns are not purgeable keys). Returns the number of
    * rows removed across distinct files. */
  def purgeKeys(
      spark: SparkSession,
      tablePath: String,
      keys: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "purgeKeys needs key columns")
    requireNoColMap(spark, tablePath, "purgeKeys")
    val gens = history(spark, tablePath)
    require(gens.nonEmpty, s"$tablePath has no committed versions")
    val entries = gens.flatMap(_.files)
    // purge rewrites files under NEW paths; a live deletion-vector
    // entry pointing at an old path would die silently and resurrect
    // its deleted row in every governed version. Refuse loudly while
    // any DV entry references a manifest file — compact the deletes
    // away first (optimize + vacuum) or extend purge with DV
    // remapping. (Dead entries — files already replaced — are fine.)
    require(!liveDvEntriesExist(spark, tablePath, entries.map(_.path)),
      s"purgeKeys: $tablePath carries live deletion-vector entries — " +
        "rewritten files would orphan them and resurrect deleted rows; " +
        "compact deletes first (optimize, then vacuum) or remap the " +
        "DV sidecars")
    def norm(p: String) = new Path(p).toUri.getPath
    val k = keys.select(keyCols.map(col): _*).distinct()
    val keySchema = org.apache.spark.sql.types.StructType(
      keyCols.map(c => k.schema(c)))
    val allFiles = entries.map(_.path).distinct.sorted
    val hitFiles = spark.read.schema(keySchema)
      .parquet(allFiles: _*)
      .withColumn("__f", input_file_name())
      .join(k, keyCols)
      .select(col("__f")).distinct()
      .collect().map(r => norm(r.getString(0))).toSet
    if (hitFiles.isEmpty) 0L
    else {
      val f = fs(spark, tablePath)
      // deterministic fresh purge root under the data dir
      val purgeRoot = Iterator.from(0)
        .map(i => s"$tablePath/$DataDir/purge$i")
        .find(d => !f.exists(new Path(d))).get
      var purged = 0L
      val mapping = hitFiles.toSeq.sorted.zipWithIndex.map {
        case (old, i) =>
          val frag = entries.find(d => norm(d.path) == old).get.part
          val outDir = frag.fold(s"$purgeRoot/f$i")(p => s"$purgeRoot/f$i/$p")
          spark.read.schema(graft.Tables.footerSchema(spark, old))
            .parquet(old)
            .join(k, keyCols.toSeq, "left_anti")
            .coalesce(1)
            .write.mode("errorifexists").parquet(outDir)
          val fresh = listDataFiles(spark, outDir)
          require(fresh.size == 1,
            s"purge rewrite of $old produced ${fresh.size} files")
          val Seq(oldRows, newRows) = footerCounts(spark,
            Seq(old, fresh.head).map(DataFile(_, frag, None))).map(_.rows.get)
          purged += oldRows - newRows
          old -> (fresh.head, newRows)
      }.toMap
      requireHeadUnmoved(spark, tablePath, Some(gens.map(_.version).max),
        "purgeKeys")
      swapManifest(spark, tablePath, gens.map(g => g.copy(files =
        g.files.map(d => mapping.get(norm(d.path)).fold(d) {
          case (nf, nRows) => d.copy(path = nf, rows = Some(nRows))
        }))))
      // per-version sidecars (clustered min/max stats, bloom
      // manifests) reference data files by path too: repoint them
      // (and refresh n_rows) BEFORE the old files die, so
      // scanRangeAsOf/scanPointAsOf never plan a deleted file. The
      // stored bounds and blooms stay valid — purging only REMOVES
      // rows, so both remain conservative supersets and pruning
      // remains sound (no false negatives can appear).
      IndexFamilies.map(fam => new Path(fam.root(tablePath)))
        .filter(f.exists).foreach { statsRoot =>
        f.listStatus(statsRoot).filter(_.isDirectory).foreach { d =>
          val sd = d.getPath.toString
          val index = Skipping.readIndex(spark, sd)
          val rows = index.collect()
          val fileIx = rows.headOption.map(_.fieldIndex("file")).getOrElse(-1)
          val nIx = rows.headOption.map(_.fieldIndex("n_rows")).getOrElse(-1)
          if (rows.exists(r => mapping.contains(norm(r.getString(fileIx))))) {
            val fixed = rows.map { r =>
              mapping.get(norm(r.getString(fileIx))) match {
                case Some((nf, nRows)) =>
                  Row.fromSeq(r.toSeq.zipWithIndex.map {
                    case (_, i) if i == fileIx => nf
                    case (_, i) if i == nIx => nRows
                    case (v, _) => v
                  })
                case None => r
              }
            }
            val tmp = new Path(sd + "_staged")
            val prev = new Path(sd + "_prev")
            if (f.exists(tmp)) f.delete(tmp, true)
            if (f.exists(prev)) f.delete(prev, true)
            spark.createDataFrame(
              spark.sparkContext.parallelize(fixed.toSeq, 1), index.schema)
              .coalesce(1).write.parquet(tmp.toString)
            require(f.rename(d.getPath, prev) && f.rename(tmp, d.getPath),
              s"stats swap failed for $sd")
            f.delete(prev, true)
          }
        }
      }
      // clone-table externals are rewritten locally (repointed above)
      // but the OLD file belongs to the source table — leave it
      hitFiles.filter(ownsFile(tablePath, _))
        .foreach(file => f.delete(new Path(file), false))
      purged
    }
  }

  /** Multiset diff between two snapshots: rows only in `newVersion`
    * tagged `'+'`, rows only in `oldVersion` tagged `'-'` — the audit
    * frame for "what did this commit change". `exceptAll` keeps
    * duplicate multiplicity (a row appearing 3× old / 1× new yields
    * two `'-'` rows), matching SQL `EXCEPT ALL`. */
  def diff(
      spark: SparkSession,
      tablePath: String,
      oldVersion: Long,
      newVersion: Long): DataFrame = {
    val o = readAsOf(spark, tablePath, oldVersion)
    val n = readAsOf(spark, tablePath, newVersion)
    n.exceptAll(o).withColumn("change", lit("+"))
      .unionByName(o.exceptAll(n).withColumn("change", lit("-")))
  }
}
