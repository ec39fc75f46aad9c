package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.CdcSchema

/** Streaming windowed rollup with an event-time watermark: per
  * (1-hour tumbling window on warc_ts, lang) event/upsert/delete counts
  * maintained incrementally as the feed is tailed.
  *
  * Reference analog: the `chat_daily` / `daily_group_stats` precomputed
  * rollups (/root/reference/convoetl/db/chat_daily.py:77–110,
  * db/stats.py:15–69) — the reference recomputes them with batch SQL
  * after each sync; here the rollup is a first-class Structured
  * Streaming aggregation (`withWatermark` + `groupBy(window(...))`,
  * SURVEY §2.10 "hourly/daily/weekly buckets"), so late events beyond
  * the lateness horizon are dropped deterministically and window state
  * is evicted instead of growing without bound.
  *
  * Output: update-mode upsert into a keyed parquet rollup via
  * foreachBatch. The rollup's cardinality is (hours covered × langs) —
  * bounded by time, not by feed volume, so the whole-table overwrite per
  * epoch stays O(rollup), never O(feed). At 10^10 events the state
  * Spark keeps is likewise only the non-finalized windows inside the
  * watermark horizon.
  */
object MetricsRollup {

  /** The windowed aggregation plan (shared by stream and batch oracle —
    * same Catalyst plan both ways, which is the test invariant).
    */
  def rollupPlan(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("warc_ts"), "1 hour").as("win"), col("lang"))
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("deletes"),
        sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("upserts"),
        max(col("seq")).as("max_seq"))
      .select(
        col("win.start").as("hour_start"), col("lang"),
        col("events"), col("upserts"), col("deletes"), col("max_seq"))

  /** Tail the WAL and maintain the rollup at `rollupDir` ([[RollupStore]]).
    * `lateness` is the event-time watermark: events arriving more than
    * this behind max(warc_ts) are excluded (and their window state is
    * droppable) — the reference's "re-scan last 24h" reconciliation
    * horizon (workflow_suggestions.md:214–248) made explicit.
    */
  def start(spark: SparkSession, feedDir: String, rollupDir: String,
            checkpointDir: String, lateness: String = "1 hour",
            maxFilesPerTrigger: Option[Int] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    var reader = spark.readStream.schema(CdcSchema.latest)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val feed = reader.parquet(s"$feedDir/wal")
    val agg = rollupPlan(feed.withWatermark("warc_ts", lateness))
    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        upsert(batch.sparkSession, rollupDir, batch, epochId)
      }
      .start()
  }

  def runAvailableNow(spark: SparkSession, feedDir: String, rollupDir: String,
                      checkpointDir: String, lateness: String = "1 hour",
                      maxFilesPerTrigger: Option[Int] = None): Unit =
    start(spark, feedDir, rollupDir, checkpointDir, lateness,
      maxFilesPerTrigger).awaitTermination()

  /** Upsert the updated (hour_start, lang) rows into the rollup table.
    * Epoch-idempotent via [[RollupStore]] (same exactly-once scheme as
    * the main MERGE sink).
    */
  private def upsert(spark: SparkSession, rollupDir: String,
                     updated: DataFrame, epochId: Long): Unit = {
    RollupStore.applyEpoch(spark, rollupDir, epochId) {
      case None => updated
      case Some(old) =>
        // updated rows replace old rows on the (hour_start, lang) key
        old.join(updated.select("hour_start", "lang"),
            Seq("hour_start", "lang"), "left_anti")
          .unionByName(updated)
    }
    ()
  }

  /** Read the current rollup state. */
  def read(spark: SparkSession, rollupDir: String): DataFrame =
    RollupStore.read(spark, rollupDir)
}
