package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Changes, Snapshots}

/** Streaming ingest into a [[graft.operators.Snapshots]] table with
  * EXACTLY-ONCE commits — the `writeStream → lakehouse table` leg that
  * completes the snapshot layer (Delta's streaming sink shape).
  *
  * The idempotence trick is that the snapshot layer's manifest publish
  * is already ATOMIC (a staged file renamed in — a reader sees the
  * generation entirely or not at all), so the publish itself can be
  * the transaction marker: every micro-batch commits with
  * `commit_ts = batchId` (the batch id IS the stream's logical
  * watermark — monotone, replay-stable, never wall clock), and a
  * replayed batch is detected by one metadata-scale manifest filter.
  * No side ledger, no two-phase marker files, no crash window:
  *
  *  - crash AFTER publish, BEFORE the checkpoint advances → the
  *    restart replays the batch, the manifest already carries its
  *    `commit_ts` → skip. No duplicate.
  *  - crash BEFORE publish → the manifest carries nothing for the
  *    batch → the replay commits it. Nothing lost. (The half-written
  *    data files of the crashed attempt are unreferenced orphans —
  *    [[graft.operators.Snapshots.removeOrphans]]'s job, the same
  *    benign debris any crashed committer leaves.)
  *
  * Contract: ONE streaming writer per table (Delta needs `txnAppId`
  * for the same reason — batch ids from two checkpoints collide), and
  * the table's `commit_ts` timeline belongs to the stream (batch ids,
  * not event-time stamps; `AS OF TIMESTAMP` resolution then travels in
  * batch-id coordinates, which is exactly the offset-based replay a
  * consumer of a streamed table wants).
  */
object SnapshotStream {

  /** Has a generation of the table been stamped with `batchId`? One
    * timeline entry per GENERATION, so the replay check reads
    * O(versions) entries per micro-batch — never the manifest's
    * O(versions × files) fan-out. */
  private def replayed(
      spark: SparkSession,
      tablePath: String,
      batchId: Long): Boolean =
    Snapshots.manifestMeta(spark, tablePath)
      .exists(_.commitTs.contains(batchId))

  /** Commit one micro-batch as an append generation, exactly once:
    * returns the minted version, or None when a generation stamped
    * with this `batchId` already exists (a replay — skipped without
    * touching data). The check is one filter over the metadata-scale
    * manifest; the publish it guards is atomic, so there is no window
    * in which a replayed batch could double-commit. */
  def appendBatchExactlyOnce(
      spark: SparkSession,
      tablePath: String,
      batchId: Long,
      df: DataFrame): Option[Long] = {
    val seen = replayed(spark, tablePath, batchId)
    if (seen) None
    else Some(Snapshots.commit(spark, df, tablePath,
      append = Snapshots.latestVersion(spark, tablePath).isDefined,
      ts = Some(batchId)))
  }

  /** [[appendBatchExactlyOnce]] behind a WRITE-AUDIT-PUBLISH gate with
    * a DEAD-LETTER QUEUE — the production streaming-quality shape: a
    * micro-batch that fails the expectation suite never publishes
    * (the table's consumers see only audited generations), but the
    * stream must not stall on bad data either, so the refused batch
    * lands VERBATIM under `dlqPath/b<batchId>` for offline triage and
    * the stream moves on. Replays stay exactly-once on BOTH sides:
    * a published batch id skips via the manifest stamp; a refused one
    * skips via its DLQ directory's existence (directories are created
    * errorifexists, so a racing replay cannot double-write either).
    * Returns Some(version) on publish, None on skip or refusal. */
  def appendBatchAudited(
      spark: SparkSession,
      tablePath: String,
      dlqPath: String,
      audit: DataFrame => DataFrame,
      batchId: Long,
      df: DataFrame): Option[Long] = {
    val seen = replayed(spark, tablePath, batchId)
    val dlqDir = s"$dlqPath/b$batchId"
    val hadoop = new org.apache.hadoop.fs.Path(dlqDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (seen || hadoop.exists(new org.apache.hadoop.fs.Path(dlqDir))) None
    else Snapshots.commitAudited(spark, df, tablePath, audit,
      append = Snapshots.latestVersion(spark, tablePath).isDefined,
      ts = Some(batchId)) match {
      case Right(v) => Some(v)
      case Left(_) =>
        df.write.mode("errorifexists").parquet(dlqDir)
        None
    }
  }

  /** Every-N-batches MAINTENANCE riding the ingest sink: one
    * generation per micro-batch is exactly the small-file and
    * DV-pressure shape [[graft.operators.Catalog.maintenance]]
    * detects, and a streamed table nobody sweeps degrades one commit
    * at a time — so the sink itself compacts every `maintainEvery`
    * batches through the layout-contract-safe
    * [[Snapshots.optimizePreserving]] and (optionally) vacuums down to
    * `retainVersions`, both under [[Snapshots.retryOnConflict]] so a
    * maintenance verb racing a concurrent committer retries instead of
    * failing the stream. Notes: the compaction is a REPLACE
    * generation, so the O(delta) poll feeds span append runs BETWEEN
    * maintenance points (a consumer checkpoints and re-bases at each
    * compaction — the same rule as any OPTIMIZE); `retainVersions`
    * must be ≥ 2 so a crash-replayed batch still finds its
    * exactly-once stamp in a retained generation. */
  private[streaming] def maintainIfDue(
      spark: SparkSession,
      tablePath: String,
      batchId: Long,
      maintainEvery: Int,
      targetBytes: Long,
      retainVersions: Int): Unit =
    if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0) {
      Snapshots.retryOnConflict() {
        Snapshots.optimizePreserving(spark, tablePath, targetBytes)
      }
      if (retainVersions > 0) {
        require(retainVersions >= 2,
          "retainVersions must be >= 2 — a crash-replayed batch needs " +
            "its exactly-once stamp in a retained generation")
        Snapshots.retryOnConflict() {
          val versions = Snapshots.listGenerations(spark, tablePath)
          if (versions.length > retainVersions)
            Snapshots.vacuum(spark, tablePath,
              versions(versions.length - retainVersions))
        }
      }
    }

  /** Run a streaming frame into the snapshot table: one append
    * generation per micro-batch via [[appendBatchExactlyOnce]], so the
    * table's version history IS the stream's batch history — every
    * prefix of the stream stays time-travel-readable. With
    * `maintainEvery > 0` the sink also runs [[maintainIfDue]]'s
    * compaction/retention loop every N batches — the auto-maintenance
    * a table fed one micro-batch at a time otherwise never gets. A
    * downstream incremental consumer has a DOCUMENTED choice of
    * O(delta) poll feed, both checkpointing the last version
    * processed:
    *
    *  - [[graft.operators.Snapshots.readAppendsBetween]] — the
    *    inserts-only feed. DV-aware: a row ingested and then
    *    [[graft.operators.Snapshots.deleteWhere]]-deleted BETWEEN two
    *    polls is never replayed as a live row (the destination's
    *    governing set filters the fresh files); deletes that hit rows
    *    a PREVIOUS poll already delivered are invisible here — the
    *    consumer saw them live, and an inserts-only feed cannot
    *    retract.
    *  - [[graft.operators.Snapshots.readChangesBetween]] — the full
    *    `'+'/'-'` CDC feed: the same fresh-file adds PLUS a `'-'` row
    *    for every pre-existing row a mid-interval delete doomed, so a
    *    consumer maintaining downstream state can retract.
    *
    * Caller stops the query (or `processAllAvailable` + `stop` for a
    * bounded source). */
  def ingest(
      stream: DataFrame,
      tablePath: String,
      queryName: String,
      maintainEvery: Int = 0,
      targetBytes: Long = 128L << 20,
      retainVersions: Int = 0): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatchExactlyOnce(batch.sparkSession, tablePath, id, batch)
        maintainIfDue(batch.sparkSession, tablePath, id, maintainEvery,
          targetBytes, retainVersions)
        ()
      }
      .start()

  /** ONE CDC micro-batch applied MERGE-ON-READ
    * ([[Snapshots.commitEqUpsert]]): the batch compacts to its latest
    * change per key, winners resolve TS-AWARE against the current
    * merge-on-read face — a change replaces a key's row only when its
    * (ts, tie) order beats it, so arrival order never matters and an
    * unordered feed still converges to global latest-wins — and the
    * sync commits as ONE equality-delete generation: keyed tombstones
    * plus the winners' fresh files, O(batch) metadata, ZERO existing
    * data files rewritten whatever the table size. DELETES RIDE AS
    * SOFT ROWS (`opCol` preserved in the face, readers filter): a
    * tombstone alone would forget the delete's event time and let an
    * older late change resurrect the key. The resolution read is the
    * merge-on-read scan itself; [[Snapshots.foldEqDeletes]] bounds its
    * tombstone volume on the maintenance cadence. Exactly-once via
    * the same manifest `commit_ts` stamp as the append sink. Returns
    * the minted version, None on a replayed batch. */
  def upsertBatchMor(
      spark: SparkSession,
      tablePath: String,
      batchId: Long,
      changes: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieCols: Seq[String] = Nil,
      opCol: String = "op"): Option[Long] = {
    val seen = replayed(spark, tablePath, batchId)
    if (seen) return None
    val head = Snapshots.latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"upsertBatchMor: $tablePath has no committed base face"))
    val latest = Changes.latestByKey(changes, keyCols, tsCol, tieCols)
    val ordCols = (tsCol +: tieCols).map(col)
    val cur = Snapshots.readMorAsOf(spark, tablePath, head, keyCols)
      .select((keyCols.map(col) :+
        struct(ordCols: _*).as("__cur_ord")).toIndexedSeq: _*)
    // materialized ONCE: the winner frame feeds TWO consumers (the
    // upsert write and the tombstone sidecar), and its lineage is the
    // face-scan join — the sync's dominant cost
    val won = graft.functions.Materialize(
      latest.join(cur, keyCols, "left")
        .filter(col("__cur_ord").isNull ||
          struct(ordCols: _*) > col("__cur_ord"))
        .drop("__cur_ord"))
    Some(Snapshots.commitEqUpsert(spark, tablePath,
      upserts = won,
      tombstones = won.select(keyCols.map(col).toIndexedSeq: _*),
      keyCols = keyCols, ts = Some(batchId)))
  }

  /** Run a CDC change stream into the snapshot table merge-on-read:
    * one equality-delete generation per micro-batch via
    * [[upsertBatchMor]] — the Flink→Iceberg upsert-sink shape. The
    * table face is [[Snapshots.readMorAsOf]] filtered on `opCol`
    * (soft deletes); fold on the maintenance cadence. */
  def upsertMor(
      changes: DataFrame,
      tablePath: String,
      queryName: String,
      keyCols: Seq[String],
      tsCol: String,
      tieCols: Seq[String] = Nil,
      opCol: String = "op"): StreamingQuery =
    changes.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        upsertBatchMor(batch.sparkSession, tablePath, id, batch,
          keyCols, tsCol, tieCols, opCol)
        ()
      }
      .start()

  /** [[ingest]] behind the audit gate: refused micro-batches land in
    * the dead-letter queue, clean ones publish, the stream never
    * stalls. See [[appendBatchAudited]]. */
  def ingestAudited(
      stream: DataFrame,
      tablePath: String,
      dlqPath: String,
      audit: DataFrame => DataFrame,
      queryName: String): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatchAudited(batch.sparkSession, tablePath, dlqPath,
          audit, id, batch)
        ()
      }
      .start()
}
