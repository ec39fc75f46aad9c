package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.table.LakeTable

/** Feed↔table reconciliation — the engine version of the reference's
  * missing-row verification and repair
  * (/root/reference/workflow_suggestions.md:214–248
  * `verify_message_completeness`: re-scan a horizon, diff IDs, insert
  * missing; and the Python set-minus U2, SURVEY §2.7).
  *
  * Two independent checks:
  *
  *  - [[missingEvents]] — trusts the ledger: the manifest's per-bucket
  *    `lineage` is the high-watermark over ALL applied seqs, so any feed
  *    event with `seq > lineage(bucket)` was never applied. One NARROW
  *    column scan + a broadcast join against ≤ numBuckets rows.
  *  - [[diffState]] — trusts nothing: recomputes the per-url LWW winner
  *    from the raw feed (primitive-buffer lww_seq HashAggregate) and
  *    full-outer-joins it against the table's narrow (url, seq) state.
  *    Empty ⟺ replay equivalence holds. Payload never read.
  *
  * [[repair]] merges exactly the missing events as a normal epoch —
  * idempotent, exactly-once, same MERGE path as ingest.
  */
object Reconcile {

  private def withBucket(df: DataFrame, numBuckets: Int): DataFrame =
    df.withColumn("bucket",
      pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))

  private def lineageDf(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = LakeTable.load(tableDir)
    import spark.implicits._
    snap.lineage.toSeq.map { case (b, s) => (b.toInt, s) }
      .toDF("bucket", "_applied_max_seq")
  }

  /** Feed events never applied to the table (per-bucket lineage check).
    * Healthy after a complete ingest: empty. Returns full event rows so
    * the result can feed [[repair]] directly; the lineage filter runs on
    * the narrow columns only.
    */
  def missingEvents(spark: SparkSession, feedDir: String,
                    tableDir: String): DataFrame = {
    val snap = LakeTable.load(tableDir)
    val feed = withBucket(FeedGen.readFeed(spark, feedDir), snap.numBuckets)
    feed.join(broadcast(lineageDf(spark, tableDir)), Seq("bucket"), "left")
      .filter(col("_applied_max_seq").isNull ||
        col("seq") > col("_applied_max_seq"))
      .drop("_applied_max_seq", "bucket")
  }

  /** Per-url disagreement between the feed-recomputed LWW winner and the
    * table's stored state (including tombstones). Columns:
    * url, feed_seq, feed_tombstone, table_seq, table_tombstone — one row
    * per url whose state differs; empty ⟺ the table equals a full
    * replay of the feed.
    */
  def diffState(spark: SparkSession, feedDir: String,
                tableDir: String): DataFrame = {
    val feed = FeedGen.readFeed(spark, feedDir)
    val enc = shiftleft(col("seq"), 1) + (col("op") === "D").cast("long")
    val feedWinners = feed
      .select(col("url"), col("warc_ts"), col("seq"), col("op"))
      .groupBy(col("url"))
      .agg(graft.plans.LwwFunctions.lww_seq(spark, col("warc_ts"), enc).as("_enc"))
      // a url whose events are all undated has no winner, and no row
      .where(col("_enc").isNotNull)
      .select(col("url"),
        shiftrightunsigned(col("_enc"), 1).as("feed_seq"),
        (col("_enc").bitwiseAND(lit(1L)) === 1L).as("feed_tombstone"))
    val snap = LakeTable.load(tableDir)
    val table = LakeTable.readMerged(spark, tableDir, snap)
      .select(col("url"), col("seq").as("table_seq"),
        col("tombstone").as("table_tombstone"))
    feedWinners.join(table, Seq("url"), "full_outer")
      .filter(
        col("feed_seq").isNull || col("table_seq").isNull ||
          col("feed_seq") =!= col("table_seq") ||
          col("feed_tombstone") =!= col("table_tombstone"))
  }

  /** Merge the missing events as a normal epoch (no-op if none). */
  def repair(spark: SparkSession, feedDir: String, tableDir: String,
             epochId: Long): MergeInto.MergeResult =
    MergeInto.merge(spark, tableDir,
      missingEvents(spark, feedDir, tableDir), epochId)
}
