package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.jackson.Serialization

/** Snapshot time travel and incremental change reads over the lake table.
  *
  * Reference analog: the incremental enrichment path — re-query rows whose
  * ids exceed the consumer's stored watermark (/root/reference/convoetl/
  * analytics/sqlite/message_analytics_saver.py:186–214 `get_unanalyzed_
  * messages`, and the `MAX(message_id)` probe in loaders/sqlite.py:238–256)
  * — generalized to Iceberg-style snapshot reads: every manifest is
  * immutable and keeps per-bucket lineage high-watermarks, so "what
  * changed since snapshot S" is a manifest diff + a seq filter, never a
  * table diff.
  *
  * Soundness rests on the WAL contract (CdcEvent: `seq` strictly
  * increasing at the source): any event first applied after snapshot S
  * carries seq > S.lineage(bucket); redelivered duplicates (seq ≤
  * watermark) are by definition not visible changes.
  */
object Changelog {

  /** Load an arbitrary committed snapshot by id (time travel). Snapshots
    * remain readable until `Maintenance.vacuum` reclaims their files —
    * the Iceberg expire-snapshots contract.
    */
  def loadVersion(dir: String, snapshotId: Long): Snapshot =
    Serialization.read[Snapshot](Commit.read(dir, snapshotId))(LakeTable.fmts, implicitly)

  /** Live rows exactly as of snapshot `snapshotId` (time travel read). */
  def readLiveAt(spark: SparkSession, dir: String, snapshotId: Long): DataFrame =
    LakeTable.readMerged(spark, dir, loadVersion(dir, snapshotId))
      .filter(!col("tombstone")).drop("tombstone")

  /** Manifest-level file pruning for a change read: only files that can
    * contain a row whose winning seq exceeds the from-snapshot's
    * per-bucket watermark. Buckets untouched since `from` drop out
    * entirely (their lineage is unchanged and their files' maxSeq is
    * below it) — the incremental read costs O(changed buckets), not
    * O(table).
    */
  def candidateFiles(from: Snapshot, to: Snapshot): List[FileEntry] = {
    def wm(b: Int): Long = from.lineage.getOrElse(b.toString, Long.MinValue)
    // a delta-carrying bucket must be read whole (collapse needs all rows
    // of the bucket to resolve winners)
    val dirty = to.files.filter(f => f.kind == "delta" && f.maxSeq > wm(f.bucket))
      .map(_.bucket).toSet
    to.files.filter(f => dirty.contains(f.bucket) || f.maxSeq > wm(f.bucket))
  }

  /** Rows whose visible state changed after snapshot `fromSnapshotId`, as
    * of `toSnapshotId` (default: the latest). Output = table schema with
    * tombstone → `op` ('U' upsert / 'D' delete): a downstream consumer
    * applying these changes to its copy of snapshot `from` reaches
    * snapshot `to` exactly (ChangelogSpec). Deletes appear only while
    * their tombstones live (i.e. until compaction expires them — consume
    * the changelog within the tombstone horizon, the standard CDC-out
    * contract).
    */
  def changesSince(spark: SparkSession, dir: String, fromSnapshotId: Long,
                   toSnapshotId: Option[Long] = None): DataFrame = {
    val from = loadVersion(dir, fromSnapshotId)
    val to = toSnapshotId.map(loadVersion(dir, _)).getOrElse(LakeTable.load(dir))
    require(to.numBuckets == from.numBuckets,
      "snapshots span a re-bucketing; full re-read required")
    val files = candidateFiles(from, to)
    val wmRows = (0 until to.numBuckets)
      .map(b => (b, from.lineage.getOrElse(b.toString, Long.MinValue)))
    val wm = spark.createDataFrame(wmRows).toDF("bucket", "_wm")
    val sub = to.copy(files = files)
    LakeTable.readMerged(spark, dir, sub)
      .withColumn("bucket", pmod(col("url_hash"), lit(to.numBuckets)).cast("int"))
      .join(broadcast(wm), "bucket")
      .filter(col("seq") > col("_wm"))
      .drop("bucket", "_wm")
      .withColumn("op", when(col("tombstone"), lit("D")).otherwise(lit("U")))
      .drop("tombstone")
  }
}
