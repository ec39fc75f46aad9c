package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
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
  * Plan shape — three steps, one payload exchange, the same at every
  * key count:
  *   1. phase A, a NARROW per-url key aggregate over the batch (the
  *      primitive-buffer lww_seq HashAggregate; map-side partial
  *      aggregation pre-combines hot keys — the skew bound, and the only
  *      url-keyed exchange), cached, plus one small collect of per-bucket
  *      batch stats (touched buckets, counts, lineage) that picks CoW vs MoR;
  *   2. phase B, a map-side filter that keeps the batch rows a Bloom
  *      filter of the winning (url, seq) keys might contain — no join;
  *   3. [[LakeTable.writeBuckets]] over those candidate rows (MoR), or
  *      [[LakeTable.rewriteBuckets]] over the touched target files ∪ the
  *      candidates (CoW): the write's one repartition-by-bucket exchange
  *      carries the payload, about one row per url, and its row_number
  *      window is the exact LWW collapse.
  * An 8 k-event copy-on-write tail epoch (perfbench `ingest_bulk
  * --trace 1`, local[4]) runs 9 Spark jobs and 16 stages: AQE splits
  * step 1 into 4 jobs, the filter aggregate is 1, the write 2 (payload
  * shuffle, file write) and the per-file stats aggregate over the
  * written files' narrow columns 2 (its exchange on the file path, a
  * few rows per file, and the collect).
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
    *    free — compaction is the same bucket rewrite with no batch).
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

  def merge(spark: SparkSession, tableDir: String, batchIn: DataFrame,
            epochId: Long, mode: MergeMode = Auto): MergeResult = {
    val t0 = System.nanoTime()
    val snap = LakeTable.load(tableDir)
    if (snap.isCommitted(epochId))
      return MergeResult(snap, applied = false, 0L, 0L, 0L, 0L)
    def elapsedMs = (System.nanoTime() - t0) / 1000000L

    // 1. two-phase LWW winner selection. Phase A shuffles only the
    //    NARROW key columns (url, warc_ts, seq, op) — never the html/text
    //    payload: at web scale the payload is ~95% of the row, so the
    //    winner-key aggregate costs ~1/20 of a payload shuffle. Phase B
    //    filters the batch map-side, so the only payload exchange is the
    //    bucket write's.
    //
    //    The winner argmax is graft.plans.LwwSeq — a declarative
    //    aggregate with a primitive (warc_ts, seq) buffer, so phase A is
    //    one codegen'd HashAggregate with map-side partial aggregation.
    //    (a struct-typed argmax buffer plans as SortAggregate: measured
    //    22–28 s vs 2.6 s on a 64M-event epoch at 32 cores.)
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
    var winnerFilter: Option[Broadcast[BloomFilter]] = None
    try {
      // 2. per-bucket batch stats: touched set, metric counts, lineage.
      //    `keys` counts winners only: a url whose events are all undated
      //    has none and the table never writes it.
      val bstats = keyAgg.groupBy(col("_bucket").as("bucket")).agg(
        sum(col("_n_events")).as("events"),
        sum(when(col("_tomb"), 1L).otherwise(0L)).as("dels"),
        count(col("_w_enc")).as("keys"),
        max(col("_max_seq")).as("maxSeq")).collect()
      if (bstats.isEmpty) {
        val s2 = snap.withEpoch(epochId, EpochStat(epochId, 0, 0, 0, 0, 0.0))
          .successor(Nil, Nil)
        LakeTable.commit(tableDir, s2)
        return MergeResult(s2, applied = true, 0L, 0L, 0L, elapsedMs)
      }
      val touched = bstats.map(_.getInt(0)).sorted.toSeq
      val touchedSet = touched.toSet
      val events = bstats.map(_.getLong(1)).sum
      val delW = bstats.map(_.getLong(2)).sum
      val nKeys = bstats.map(_.getLong(3)).sum
      val upsW = nKeys - delW
      val batchLineage = bstats.map(r => r.getInt(0).toString -> r.getLong(4)).toMap

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

      // Phase B: candidate rows — the batch rows whose xxhash64(url, seq)
      // the winner filter might contain. Spark's Bloom-filter aggregate
      // builds it over the cached keys, sized for the winner count at 1 %
      // false positives. Every partial buffer gets that full size, so the
      // keys are coalesced to one partition first: one partial filter,
      // one filter-sized shuffle block, not one per keyAgg partition. Spark clamps it at its
      // runtime-filter bounds (spark.sql.optimizer.runtime.bloomFilter.
      // maxNumItems / maxNumBits: 4 M winners, 8 MiB by default); past
      // them only the false-positive rate grows. The test is map-side: no
      // join and no url-keyed exchange at any key count. A Bloom filter
      // has no false negatives, so a false positive is a loser whose
      // winner also passes and outranks it in writeBuckets' LWW collapse,
      // which likewise keeps one of a winner's redelivered exact copies.
      val filter = keyAgg.where(col("_w_seq").isNotNull).coalesce(1)
        .stat.bloomFilter(xxhash64(col("url"), col("_w_seq")), math.max(nKeys, 1L), 0.01)
      val bc = spark.sparkContext.broadcast(filter)
      winnerFilter = Some(bc)
      val mightWin = udf((h: Long) => bc.value.mightContainLong(h))
      val candidates = rows.filter(mightWin(xxhash64(col("url"), col("seq"))))

      val lineage = snap.lineage ++ batchLineage.map { case (b, s) =>
        b -> math.max(s, snap.lineage.getOrElse(b, Long.MinValue))
      }

      // 3. write. MoR appends the candidates' winners as per-bucket delta
      //    files — the target is never read, so a tail epoch updating
      //    10^4 urls on a 100 TB table costs O(winners) write + one
      //    manifest commit; liveRows/tombstones become upper bounds (a
      //    delta upsert may shadow a base row) until the next CoW fold-in
      //    or compaction restores exact counts; per-FILE stats stay exact
      //    throughout. CoW runs the one bucket rewrite (rewriteBuckets,
      //    also compaction's) over the touched buckets' files with the
      //    candidates as the newest write generation, so a redelivered
      //    event already in the table keeps exactly one copy; delta
      //    overlays there fold in and leave the manifest.
      val newId = snap.snapshotId + 1
      val (replaced, newFiles) =
        if (useMor)
          (Nil, LakeTable.writeBuckets(spark, tableDir, newId, candidates,
            touched, suffix = "-delta", kind = "delta"))
        else (touchedFiles, LakeTable.rewriteBuckets(spark, tableDir, newId,
          touchedFiles, snap.numBuckets, touched, Some(candidates)))
      val durMs = elapsedMs
      val s2 = snap.withEpoch(epochId, EpochStat(epochId, events, upsW, delW,
          durMs, if (durMs > 0) events * 1000.0 / durMs else 0.0))
        .successor(replaced, newFiles).copy(lineage = lineage)
      LakeTable.commit(tableDir, s2)
      MergeResult(s2, applied = true, events, upsW, delW, durMs)
    } finally {
      keyAgg.unpersist()
      winnerFilter.foreach(_.destroy())
    }
  }
}
