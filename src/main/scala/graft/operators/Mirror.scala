package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, when}

/** Incremental TABLE MIRRORING between snapshot tables — the
  * replication / downstream-sync verb a lakehouse runs on a cadence:
  * keep a destination table caught up with a source table paying
  * O(delta) per poll, exactly-once across crashes and reruns, with NO
  * side ledger.
  *
  * The design point is where the offset lives: each destination
  * generation is committed with `ts = <source version it caught up
  * to>`, so the replication offset and the replicated data land in ONE
  * atomic manifest publish — the same argument that makes
  * [[graft.streaming.SnapshotStream]]'s ingest exactly-once (the
  * manifest rename IS the transaction marker). A rerun at an unchanged
  * source head reads the stamp and no-ops; a crash between the delta's
  * data write and its publish leaves only unreferenced debris
  * ([[Snapshots.removeOrphans]]' job) and the retry re-commits the
  * same delta under a fresh version number (the burned claim is the
  * usual benign numeric gap). Contract: ONE logical mirror runner per
  * destination — two racers would each commit the delta once
  * (reconciled as two appends, rows doubled); scheduling is the
  * caller's, exactly the single-writer-stream contract of the
  * streaming ingest sink.
  *
  * Two feeds, matching the engine's two incremental reads
  * (`SURVEY.md §2.8`; reference: the engine's own lakehouse layer —
  * the reference script has no persistence beyond CSV files):
  *
  *  - [[mirrorAppends]] rides [[Snapshots.readAppendsBetween]] —
  *    inserts-only, for append lineages. Source deletion vectors
  *    filter rows not yet delivered, but deletes hitting rows a
  *    previous poll already shipped do NOT propagate (the documented
  *    appends-feed choice); a replace/MERGE/OPTIMIZE in the source
  *    interval refuses loudly toward [[reseed]].
  *  - [[mirrorChanges]] rides [[Snapshots.readChangesBetween]] — the
  *    '+'/'-' row-level CDC feed applied to the destination as a keyed
  *    [[Snapshots.merge]], so source deletes (deletion vectors,
  *    rollback resurrections) replicate too. The merge is an O(table)
  *    rewrite of the destination — the honest cost of keyed
  *    replication into a flat table; at fact scale the destination
  *    should be partitioned and merged at partition scope.
  *
  * At 100 TB both feeds are metadata-planned: the delta resolution
  * reads TWO manifest generations (never the history) and only the
  * delta commits' files enter the scan.
  */
object Mirror {

  /** The source version the destination head is caught up to — the
    * mirror offset, read from the destination's own manifest stamp.
    * None for an un-seeded (empty) destination. Loud when the
    * destination head carries no stamp: that table was not written by
    * this mirror (or someone committed into it out-of-band), and
    * silently re-seeding would double rows. */
  def offsetOf(spark: SparkSession, dst: String): Option[Long] =
    Snapshots.latestVersion(spark, dst).map { head =>
      val stamp = Snapshots.manifestMeta(spark, dst)
        .find(_.version == head).flatMap(_.commitTs)
      require(stamp.isDefined,
        s"mirror: destination $dst head v$head carries no offset " +
          "stamp (commit_ts) — not a mirror destination; seed a fresh " +
          "table or reseed() explicitly")
      stamp.get
    }

  /** One mirror poll over the APPENDS feed. Seeds an empty destination
    * with the source head's full face (a replace commit), then ships
    * `readAppendsBetween(offset, head]` as one append commit stamped
    * with the new offset. Returns the destination version minted, or
    * None when already caught up. A source interval containing a
    * replace refuses loudly (the feed's lineage contract) — recover
    * with [[reseed]]. */
  def mirrorAppends(
      spark: SparkSession,
      src: String,
      dst: String): Option[Long] = {
    val srcHead = Snapshots.latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(
        s"mirror: source $src has no committed versions"))
    offsetOf(spark, dst) match {
      case None =>
        Some(Snapshots.commit(spark,
          Snapshots.readAsOf(spark, src, srcHead), dst,
          append = false, ts = Some(srcHead)))
      case Some(offset) if offset == srcHead => None
      case Some(offset) =>
        require(offset < srcHead,
          s"mirror: destination $dst is at source version $offset but " +
            s"source $src head is $srcHead — the destination was " +
            "mirrored from a different (or rolled-back-and-vacuumed) " +
            "source; reseed() explicitly")
        val delta =
          Snapshots.readAppendsBetween(spark, src, offset, srcHead)
        // an all-quiet interval (metadata-only source commits) mints
        // NOTHING — no stamp-only generation, no empty data file; the
        // offset re-resolves next poll at a constant two-generation
        // manifest read
        if (delta.limit(1).collect().isEmpty) None
        else Some(Snapshots.commit(spark, delta, dst,
          append = true, ts = Some(srcHead)))
    }
  }

  /** One mirror poll over the row-level CDC feed: '+' rows upsert, '-'
    * rows delete, applied as one keyed [[Snapshots.merge]] commit
    * stamped with the new offset — so source deletion-vector deletes
    * and rollback resurrections replicate where the appends feed
    * cannot. Same seeding, idempotence, and single-runner contract as
    * [[mirrorAppends]]; a replace in the source interval refuses
    * loudly toward [[reseed]]. An all-quiet interval (no net row
    * changes — metadata-only source commits) mints nothing; the
    * offset re-resolves next poll. */
  def mirrorChanges(
      spark: SparkSession,
      src: String,
      dst: String,
      keyCols: Seq[String]): Option[Long] = {
    require(keyCols.nonEmpty, "mirrorChanges needs key columns")
    val srcHead = Snapshots.latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(
        s"mirror: source $src has no committed versions"))
    offsetOf(spark, dst) match {
      case None =>
        Some(Snapshots.commit(spark,
          Snapshots.readAsOf(spark, src, srcHead), dst,
          append = false, ts = Some(srcHead)))
      case Some(offset) if offset == srcHead => None
      case Some(offset) =>
        require(offset < srcHead,
          s"mirror: destination $dst is at source version $offset but " +
            s"source $src head is $srcHead — the destination was " +
            "mirrored from a different (or rolled-back-and-vacuumed) " +
            "source; reseed() explicitly")
        val changes =
          Snapshots.readChangesBetween(spark, src, offset, srcHead)
        // an all-quiet interval (metadata-only source commits) mints
        // NOTHING — zero net row changes never justify merge's
        // O(table) rewrite, and the offset re-resolves next poll at a
        // constant two-generation manifest read
        if (changes.limit(1).collect().isEmpty) None
        else {
          val updates = changes.withColumn("__op",
            when(col("change") === "+", "upsert").otherwise("delete"))
            .drop("change")
          Some(Snapshots.merge(spark, dst, updates, keyCols,
            opCol = Some("__op"), ts = Some(srcHead)))
        }
    }
  }

  /** Re-seed after the source's lineage broke the incremental feed (a
    * replace/MERGE/OPTIMIZE in the un-mirrored interval): one replace
    * commit of the source head's full face, stamped with the head —
    * the O(table) reset, after which incremental polling resumes. The
    * destination's own history stays time-travelable. */
  def reseed(spark: SparkSession, src: String, dst: String): Long = {
    val srcHead = Snapshots.latestVersion(spark, src).getOrElse(
      throw new IllegalArgumentException(
        s"mirror: source $src has no committed versions"))
    Snapshots.commit(spark, Snapshots.readAsOf(spark, src, srcHead),
      dst, append = false, ts = Some(srcHead))
  }
}
