package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.CdcSchema
import graft.table.{EpochStat, LakeTable, Snapshot}

/** Idempotent MERGE INTO of one change-event batch into the lake table.
  *
  * Reference analog: `INSERT … ON CONFLICT DO UPDATE` /
  * `INSERT OR REPLACE` upserts (/root/reference/convoetl/loaders/
  * sqlite.py:205–236, 320–346) plus the BigQuery MERGE design
  * (workflow_suggestions.md:406–425) — re-expressed as copy-on-write
  * bucket rewrite + snapshot commit (SURVEY §2.1 S7/S8, §7.1.5).
  *
  * Exactly-once: the epochId is recorded in the committed manifest; a
  * redelivered epoch (foreachBatch retry after crash) is detected and
  * skipped BEFORE any work, so the sink is idempotent end-to-end.
  *
  * Plan shape — three steps, one payload exchange (two on the salted
  * fallback):
  *   1. phase A, a NARROW per-url key aggregate over the batch (the
  *      primitive-buffer lww_seq HashAggregate; map-side partial
  *      aggregation pre-combines hot keys — the skew bound), cached, plus
  *      one small collect of per-bucket batch stats (touched buckets,
  *      counts, lineage, hottest url) that picks CoW vs MoR and the salt;
  *   2. phase B, a key join that keeps only the batch rows carrying a
  *      winner (url, seq) — broadcast and map-side, or salted above
  *      [[BroadcastKeyLimit]];
  *   3. [[LakeTable.writeBuckets]] over those candidate rows (MoR) or
  *      over the touched target files ∪ the candidates (CoW): its one
  *      repartition-by-bucket exchange carries the payload, and its
  *      row_number window is the LWW collapse.
  * An 8 k-event copy-on-write tail epoch (perfbench `ingest_bulk
  * --trace 1`, local[4]) runs 9 Spark jobs and 17 stages: AQE splits
  * step 1 into 4 jobs, the key broadcast is 1, the write 3 (payload
  * shuffle, cache build, file write) and the stats aggregate 1 — it reads
  * the bucket-partitioned cache with no exchange.
  * Old live/tombstone accounting comes from manifest file stats — no
  * rescan of the target. Only the url-hash buckets the batch touches are
  * read and rewritten, each touched file scanned once: a batch touching
  * 3 of P buckets costs O(3/P · tableSize) I/O regardless of table size.
  */
object MergeInto {

  /** Write-path strategy for one epoch (Iceberg-v2's copy-on-write vs
    * merge-on-read, north_star).
    *
    *  - [[CopyOnWrite]]: read the touched buckets, union-collapse with
    *    the batch's winner rows, rewrite those buckets. Read-optimal; write
    *    cost O(touchedBucketBytes) per epoch.
    *  - [[MergeOnRead]]: append the batch winners as per-bucket DELTA
    *    files (equality-delete/upsert overlay) without reading the
    *    target at all. Write cost O(batchWinners) — the small-epoch tail
    *    path; readers LWW-collapse base∪delta (LakeTable.readMerged).
    *  - [[Auto]]: MergeOnRead when the winner set is small relative to
    *    the touched buckets' current rows AND no touched bucket has hit
    *    its delta-file cap; CopyOnWrite otherwise. A CoW epoch over a
    *    delta-carrying bucket folds the overlay in (minor compaction for
    *    free — the union-collapse is the same aggregate either way).
    */
  sealed trait MergeMode
  case object CopyOnWrite extends MergeMode
  case object MergeOnRead extends MergeMode
  case object Auto extends MergeMode

  /** Auto policy: MoR when winnerKeys < this fraction of the touched
    * buckets' existing rows (i.e. the epoch would rewrite ≥5× the bytes
    * it changes).
    */
  val MorWinnerFraction: Double = 0.2

  /** Auto policy: once a bucket accumulates this many delta files, the
    * next epoch touching it goes copy-on-write, folding the overlay into
    * a fresh base — bounds the read-side merge tax at scale.
    */
  val MaxDeltasPerBucket: Int = 8

  final case class MergeResult(
      snapshot: Snapshot, applied: Boolean,
      events: Long, upserts: Long, deletes: Long, durationMs: Long)

  /** Align an incoming batch (any additive schema version) to the latest
    * feed schema by NAME — the Catalyst-resolved column-mapping step
    * (north_rule): missing columns become typed nulls, extra columns are
    * dropped, types are cast. Column order in the source is irrelevant.
    */
  def alignToLatest(batch: DataFrame): DataFrame = {
    val have = batch.columns.toSet
    val cols = CdcSchema.latest.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(cols.toIndexedSeq: _*)
  }

  /** Above this many distinct urls per epoch the winner-key set is no
    * longer broadcastable and the merge falls back to the salted
    * shuffled-hash join. ~4M keys × ~50B ≈ 200MB broadcast ceiling.
    */
  val BroadcastKeyLimit: Long = 4000000L

  /** Minimum salt factor for the fallback join's shuffle key: a hot
    * url's payload spreads over at least this many partitions
    * (pmod(seq, S) on both sides — equal seqs salt identically, so
    * winners always meet their key). The factor ADAPTS per batch from
    * the heavy-hitter count the phase-A aggregate already produces
    * (SURVEY §7.4 "salting factor adaptive per batch"): see
    * [[saltFactorFor]].
    */
  val FallbackSaltFactor: Int = 16

  /** Rows of one url we are willing to leave on a single (url, salt)
    * partition before widening the salt.
    */
  val TargetRowsPerSalt: Long = 2000000L

  /** Adaptive salt: enough partitions that the batch's hottest url
    * spreads to ≤ TargetRowsPerSalt rows per partition, clamped to
    * [FallbackSaltFactor, 1024]. A Zipf-head crawl domain with 10^9
    * events in one backfill epoch gets S=512 instead of drowning 1/16th
    * of the cluster.
    */
  def saltFactorFor(maxEventsPerUrl: Long): Int = {
    val needed = (maxEventsPerUrl + TargetRowsPerSalt - 1) / TargetRowsPerSalt
    math.min(1024L, math.max(FallbackSaltFactor.toLong, needed)).toInt
  }

  def merge(spark: SparkSession, tableDir: String, batchIn: DataFrame,
            epochId: Long, mode: MergeMode = Auto,
            broadcastKeyLimit: Long = BroadcastKeyLimit): MergeResult = {
    val t0 = System.nanoTime()
    val snap = LakeTable.load(tableDir)
    if (snap.isCommitted(epochId))
      return MergeResult(snap, applied = false, 0L, 0L, 0L, 0L)
    def elapsedMs = (System.nanoTime() - t0) / 1000000L

    // Spark 4.1 AQE coalesces post-shuffle partitions toward the 64MB
    // advisory size with parallelism-first DISABLED by default — on this
    // merge (CPU-heavy per byte, modest shuffle volumes) that collapses
    // the key aggregation to a handful of tasks and serializes
    // the epoch (measured 4× wall-clock at 16 cores). Pin
    // parallelism-first for the duration of the merge, restore after.
    val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val pfPrev = spark.conf.getOption(pfKey)
    spark.conf.set(pfKey, "true")
    def restorePf(): Unit = pfPrev match {
      case Some(v) => spark.conf.set(pfKey, v)
      case None    => spark.conf.unset(pfKey)
    }

    // 1. two-phase LWW winner selection. Phase A shuffles only the
    //    NARROW key columns (url, warc_ts, seq, op) — never the html/text
    //    payload: at web scale the payload is ~95% of the row, so the
    //    winner-key aggregate costs ~1/20 of a payload shuffle. Phase B
    //    broadcasts the winning (url, seq) keys back over the batch and
    //    keeps winner rows map-side, so the only payload exchange is the
    //    bucket write's. (Fallback below if the key set is too big to
    //    broadcast.)
    //
    //    The winner argmax is graft.plans.LwwSeq — a declarative
    //    aggregate with a primitive (warc_ts, seq) buffer, so phase A is
    //    one codegen'd HashAggregate with map-side partial aggregation.
    //    (`max(struct)` / `max_by` buffers are structs ⇒ SortAggregate:
    //    measured 22–28 s vs 2.6 s on a 64M-event epoch at 32 cores.)
    //    The winner's tombstone flag rides in the low bit of the
    //    encoded seq: order-preserving, since seq is unique per event.
    val batch = alignToLatest(batchIn)
    val rows = batch.select(
      col("url"),
      xxhash64(col("url")).as("url_hash"),
      col("warc_ts"), col("seq"),
      (col("op") === "D").as("tombstone"),
      col("html"), col("text"), col("lang"), col("extra_score"))
      .withColumn("bucket", pmod(col("url_hash"), lit(snap.numBuckets)).cast("int"))
    val seqEnc = shiftleft(col("seq"), 1) + col("tombstone").cast("long")
    val keyAgg = rows
      .select(col("url"), col("bucket"), col("warc_ts"), col("seq"), col("tombstone"))
      .groupBy(col("url"))
      .agg(graft.plans.LwwFunctions.lww_seq(spark, col("warc_ts"), seqEnc).as("_w_enc"),
        count(lit(1)).as("_n_events"),
        // high-watermark over ALL the url's events, not just the LWW
        // winner (an out-of-order winner can carry a smaller seq than a
        // late event it beat on warc_ts — lineage must still cover it)
        max(col("seq")).as("_max_seq"),
        first(col("bucket")).as("_bucket"))
      .withColumn("_w_seq", shiftrightunsigned(col("_w_enc"), 1))
      .withColumn("_tomb", col("_w_enc").bitwiseAND(lit(1L)) === 1L)
    keyAgg.persist()
    try {
      // 2. per-bucket batch stats: touched set, metric counts, lineage.
      val bstats = keyAgg.groupBy(col("_bucket").as("bucket")).agg(
        sum(col("_n_events")).as("events"),
        sum(when(col("_tomb"), 1L).otherwise(0L)).as("dels"),
        count(lit(1)).as("keys"),
        max(col("_max_seq")).as("maxSeq"),
        max(col("_n_events")).as("maxUrl")).collect()
      if (bstats.isEmpty) {
        val s2 = snap.withEpoch(epochId, EpochStat(epochId, 0, 0, 0, 0, 0.0))
          .copy(snapshotId = snap.snapshotId + 1, parentId = snap.snapshotId)
        LakeTable.commit(tableDir, s2, expectParent = snap.snapshotId)
        return MergeResult(s2, applied = true, 0L, 0L, 0L, elapsedMs)
      }
      val touched = bstats.map(_.getInt(0)).sorted.toSeq
      val touchedSet = touched.toSet
      val events = bstats.map(_.getLong(1)).sum
      val delW = bstats.map(_.getLong(2)).sum
      val nKeys = bstats.map(_.getLong(3)).sum
      val upsW = nKeys - delW
      val batchLineage = bstats.map(r => r.getInt(0).toString -> r.getLong(4)).toMap
      // heavy-hitter probe (free: same collect): the hottest url's event
      // count sets the fallback-join salt width for this epoch
      val saltF = saltFactorFor(bstats.map(_.getLong(5)).max)

      // Write-path choice (manifest stats only — zero extra jobs).
      val touchedFiles = snap.files.filter(f => touchedSet.contains(f.bucket))
      val targetRows = touchedFiles.map(_.rows).sum
      val deltaCapHit = touchedFiles.filter(_.kind == "delta")
        .groupBy(_.bucket).values.exists(_.size >= MaxDeltasPerBucket)
      val useMor = mode match {
        case MergeOnRead => true
        case CopyOnWrite => false
        case Auto => targetRows > 0 && !deltaCapHit &&
          nKeys.toDouble < MorWinnerFraction * targetRows.toDouble
      }

      // Phase B: candidate rows — the batch rows carrying a winner's
      // (url, seq). Broadcast path when the key set fits
      // (≤ BroadcastKeyLimit urls): winner keys hash-joined map-side
      // against the batch, so losers never reach an exchange. No collapse
      // here: exact redelivered copies of a winner both pass, and
      // writeBuckets' LWW collapse keeps one.
      val candidates =
        if (nKeys <= broadcastKeyLimit) {
          // key side renamed (as in the fallback path) — joining on a
          // column derived from `rows` itself degrades to a trivially
          // true equals predicate and the join would key on seq alone
          val keys = keyAgg.select(col("url").as("_k_url"), col("_w_seq"))
          rows.join(broadcast(keys),
              rows("url") === keys("_k_url") && rows("seq") === col("_w_seq"))
            .drop("_w_seq", "_k_url")
        } else {
          // Fallback above the broadcast ceiling (e.g. a 10^10-event
          // backfill epoch): shuffle the payload ONCE and hash-join the
          // winner keys per partition. The shuffle key is SALTED:
          // (url, pmod(seq,S)) on the event side, (url, pmod(_w_seq,S)) on
          // the key side. A crawl-hot url (Zipf head) spreads its payload
          // uniformly over S partitions instead of skewing one (north_rule's
          // explicit hot-key salting; AQE skew handling is unavailable
          // inside a streaming foreachBatch). Correct because the only
          // row that can match carries seq == _w_seq, and equal seqs
          // salt identically; rows on other salts are losers by
          // definition. The residual seq check rejects salt collisions.
          val keys = keyAgg.select(col("url").as("_k_url"), col("_w_seq"),
            pmod(col("_w_seq"), lit(saltF)).as("_k_salt"))
          val salted = rows.withColumn("_salt",
            pmod(col("seq"), lit(saltF)))
          salted.join(keys.hint("SHUFFLE_HASH"),
              salted("url") === keys("_k_url") &&
                salted("_salt") === keys("_k_salt") &&
                (salted("seq") - keys("_w_seq") === 0L))
            .drop("_k_url", "_w_seq", "_k_salt", "_salt")
        }

      val lineage = snap.lineage ++ batchLineage.map { case (b, s) =>
        b -> math.max(s, snap.lineage.getOrElse(b, Long.MinValue))
      }

      // 3. write. MoR appends the candidates' winners as per-bucket delta
      //    files — the target is never read, so a tail epoch updating
      //    10^4 urls on a 100 TB table costs O(winners) write + one
      //    manifest commit; liveRows/tombstones become upper bounds (a
      //    delta upsert may shadow a base row) until the next CoW fold-in
      //    or compaction restores exact counts; per-FILE stats stay exact
      //    throughout. CoW rewrites the touched buckets from their current
      //    files ∪ the candidates, the batch tagged as the newest write
      //    generation (LakeTable.readTagged), so a redelivered event that
      //    already sits in the table keeps exactly one copy. Delta overlays
      //    on the touched buckets enter the same collapse and their files
      //    leave the manifest — a CoW epoch IS the overlay fold-in.
      val newId = snap.snapshotId + 1
      val (replaced, newFiles) =
        if (useMor)
          (Nil, LakeTable.writeBuckets(spark, tableDir, newId, candidates,
            touched, suffix = "-delta", kind = "delta"))
        else {
          val (target, nGens) = LakeTable.readTagged(spark, tableDir, touchedFiles)
          val input = target
            .withColumn("bucket", pmod(col("url_hash"), lit(snap.numBuckets)).cast("int"))
            .unionByName(candidates.withColumn("_gen", lit(nGens)))
          (touchedFiles, LakeTable.writeBuckets(spark, tableDir, newId, input, touched))
        }
      val durMs = elapsedMs
      val s2 = snap.withEpoch(epochId, EpochStat(epochId, events, upsW, delW,
          durMs, if (durMs > 0) events * 1000.0 / durMs else 0.0))
        .copy(
          snapshotId = newId, parentId = snap.snapshotId,
          files = snap.files.filterNot(replaced.toSet) ++ newFiles,
          lineage = lineage,
          liveRows = snap.liveRows - replaced.map(_.live).sum + newFiles.map(_.live).sum,
          tombstones = snap.tombstones - replaced.map(_.tombs).sum +
            newFiles.map(_.tombs).sum)
      LakeTable.commit(tableDir, s2, expectParent = snap.snapshotId)
      MergeResult(s2, applied = true, events, upsW, delW, durMs)
    } finally { keyAgg.unpersist(); restorePf() }
  }
}
