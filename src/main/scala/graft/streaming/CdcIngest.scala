package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.CdcSchema
import graft.operators.MergeInto
import graft.table.LakeTable

/** The tail→merge→commit ingest loop as a Structured Streaming job.
  *
  * Reference analog: the polling/backfill flows (/root/reference/
  * convoetl/flows/orchestration.py:84–163, extraction.py:145–265) — the
  * reference polls `MAX(message_id)` and re-extracts after it; here the
  * checkpointed file-source offset log replaces the watermark query, and
  * `foreachBatch(epochId)` + the manifest's committedEpochs ledger give
  * the exactly-once property the reference only approximates with PK
  * conflicts (SURVEY §2.10).
  *
  * Backfill vs tail is one code path: Trigger.AvailableNow drains the
  * existing WAL segments and stops; ProcessingTime keeps tailing — the
  * reference maintains two separate flows for this (orchestration.py:
  * 44–69).
  */
object CdcIngest {

  /** Start the ingest. `feedDir/wal` contains parquet segment files (mixed
    * schema versions welcome: the source reads with the latest schema and
    * `MergeInto.alignToLatest` resolves columns by name — additive
    * evolution mid-stream).
    *
    * `transform` is the pluggable per-batch enrichment seam (SURVEY §7.5
    * — the reference's LLM/metrics enrichment attaches here as column
    * expressions or a `mapPartitions` stage): it runs on the raw batch
    * BEFORE the merge, so enrichment is exactly-once along with the data
    * and needs no anti-join rescan (the stream IS the new work,
    * SURVEY §3.3). It must keep a latest-schema-alignable shape.
    *
    * `statsDir`, when set, maintains the per-domain stats dimension
    * ([[DomainStatsRollup]] — the reference's per-batch
    * `_update_user_stats` analog) from the same epoch.
    *
    * `dedupIndexDir`, when set, maintains the near-dup SIGNATURE INDEX
    * ([[graft.operators.DedupIndex]]) from the same epoch: the epoch's
    * per-url LWW winners — the table's own collapse,
    * [[LakeTable.lwwCollapse]], so undated events never win — have their
    * texts MinHash-signed (doc key = xxhash64(url)) and appended under
    * the stream's epochId, so each arriving epoch can be deduped against
    * the whole history without ever re-shingling the corpus — the
    * watermark-incremental posture applied to dedup. An updated url
    * re-signs under a new epoch and SUPERSEDES its older signature; a
    * DELETED url supersedes to a tombstone the same epoch, so the index
    * stops pairing against it (the index's logical content is one
    * signature per LIVE doc —
    * DedupIndex resolves latest-per-doc at read, compaction makes it
    * storage truth).
    *
    * `clusterIndexDir` (requires `dedupIndexDir`), when set, maintains
    * the DUP-CLUSTER STATE ([[graft.operators.ClusterIndex]]) from the
    * same epoch: the epoch's candidate pairs against the signature
    * index fold into the persisted (node → label) table, so cluster
    * labels are always current without ever re-running connected
    * components over history. Clusters form over the signature
    * CANDIDATE graph (what the sink maintains); a pipeline needing the
    * exact-Jaccard graph clusters offline via [[graft.operators
    * .ShingleIndex]] + ClusterIndex (the dd13 shape).
    *
    * All sinks are independently epoch-idempotent, so a crash between
    * them replays only the one(s) that missed.
    */
  def start(spark: SparkSession, feedDir: String, tableDir: String,
            checkpointDir: String, numBuckets: Int = 32,
            maxFilesPerTrigger: Option[Int] = None,
            trigger: Trigger = Trigger.AvailableNow(),
            mode: MergeInto.MergeMode = MergeInto.Auto,
            transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity,
            statsDir: Option[String] = None,
            feedFormat: String = "parquet",
            dedupIndexDir: Option[String] = None,
            metricsDir: Option[String] = None,
            clusterIndexDir: Option[String] = None): StreamingQuery = {
    require(clusterIndexDir.isEmpty || dedupIndexDir.nonEmpty,
      "clusterIndexDir needs dedupIndexDir: the maintained clusters fold " +
        "the signature index's per-epoch candidate pairs")
    // WAL archive format: parquet (default) or JSONL segments — binary
    // html rides base64 through JSON and round-trips byte-identically
    // (TailModeSpec). Anything else (csv, text) cannot carry the binary
    // column; refuse up front instead of failing mid-stream.
    require(feedFormat == "parquet" || feedFormat == "json",
      s"unsupported WAL feed format '$feedFormat' — the change feed " +
        "carries a binary html column; use 'parquet' or 'json' (base64)")
    if (!LakeTable.exists(tableDir)) LakeTable.create(tableDir, numBuckets)
    var reader = spark.readStream
      .schema(CdcSchema.latest)
      .option("recursiveFileLookup", "false")
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val feed = reader.format(feedFormat).load(s"$feedDir/wal")
    feed.writeStream
      .queryName(s"cdc-ingest-${java.util.UUID.randomUUID().toString.take(8)}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        val b = transform(batch)
        MergeInto.merge(batch.sparkSession, tableDir, b, epochId, mode)
        statsDir.foreach(sd =>
          DomainStatsRollup.upsert(batch.sparkSession, sd, b, epochId))
        if (dedupIndexDir.nonEmpty || metricsDir.nonEmpty) {
          import org.apache.spark.sql.functions.{col, xxhash64}
          // the table's own LWW collapse: the winner per url is the row
          // the merge writes, and a url with only undated events has none
          val collapsed = LakeTable.lwwCollapse(MergeInto.alignToLatest(b))
          val docId = xxhash64(col("url")).as("doc_id")
          val live = col("op") =!= "D" && col("text").isNotNull
          // a deleted url's signature/metrics are superseded by a
          // TOMBSTONE row the same epoch its delete merges — neither
          // index keeps serving documents no longer in the table. So is
          // an update that yields no new row: null text (both indexes)
          // or text too short to shingle (no MinHash signature), else
          // the index keeps serving the url's previous entry
          val signed = live && graft.analytics.DedupQueries.hasShingles(col("text"))
          def docsAndTombs(keep: org.apache.spark.sql.Column) =
            (collapsed.filter(keep).select(docId, col("text")),
              collapsed.filter(!keep).select(docId))
          dedupIndexDir.foreach { ix =>
            val (docs, tombs) = docsAndTombs(signed)
            graft.operators.DedupIndex.appendEpoch(
              batch.sparkSession, ix, epochId, docs, Some(tombs))
            // maintained dup-cluster state folds the epoch's candidate
            // pairs BEFORE index maintenance (the fresh epoch always has
            // its own entry then); clusters form over the signature
            // candidate graph the sink already maintains — a pipeline
            // needing the EXACT-pair graph clusters offline via
            // ShingleIndex + ClusterIndex (the dd13 shape)
            clusterIndexDir.foreach { cl =>
              graft.operators.ClusterIndex.foldEpoch(batch.sparkSession,
                cl, epochId, graft.operators.DedupIndex.epochPairs(
                  batch.sparkSession, ix, epochId)
                  .select(col("doc_a"), col("doc_b")))
              graft.operators.DedupIndex.autoMaintain(batch.sparkSession, cl)
            }
            // bound the index's own metadata as epochs accumulate —
            // same posture as the table's autoMaintain
            graft.operators.DedupIndex.autoMaintain(batch.sparkSession, ix)
          }
          metricsDir.foreach { mx =>
            val (docs, tombs) = docsAndTombs(live)
            graft.operators.MetricsIndex.appendEpoch(
              batch.sparkSession, mx, epochId, docs, Some(tombs))
            graft.operators.DedupIndex.autoMaintain(batch.sparkSession, mx)
          }
        }
        ()
      }
      .start()
  }

  /** Drain everything currently in the feed and stop (backfill mode).
    * Passes the sink options (`transform`/`statsDir`/`dedupIndexDir`)
    * through to [[start]].
    */
  def runAvailableNow(spark: SparkSession, feedDir: String, tableDir: String,
                      checkpointDir: String, numBuckets: Int = 32,
                      maxFilesPerTrigger: Option[Int] = None,
                      mode: MergeInto.MergeMode = MergeInto.Auto,
                      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity,
                      statsDir: Option[String] = None,
                      dedupIndexDir: Option[String] = None,
                      metricsDir: Option[String] = None,
                      clusterIndexDir: Option[String] = None): Unit = {
    val q = start(spark, feedDir, tableDir, checkpointDir, numBuckets,
      maxFilesPerTrigger, Trigger.AvailableNow(), mode, transform,
      statsDir, dedupIndexDir = dedupIndexDir, metricsDir = metricsDir,
      clusterIndexDir = clusterIndexDir)
    q.awaitTermination()
  }
}
