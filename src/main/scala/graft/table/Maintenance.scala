package graft.table

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance: orphan-file vacuum and copy-on-write compaction.
  *
  * Reference analog: SQLite gets this for free (single file, VACUUM);
  * a snapshot-committed lake accumulates (a) unreachable data files from
  * crashed epochs and lost commit races (the commit protocol's
  * documented failure mode) and superseded copy-on-write snapshots, and
  * (b) tombstone rows retained for late-update protection (SURVEY §7.4).
  */
object Maintenance {

  /** Delete data files not referenced by the latest snapshot and older
    * than `graceMs` (protects files of an in-flight writer). Single
    * concurrent vacuum assumed (same single-writer posture as ingest).
    * Returns the number of files deleted.
    */
  def vacuum(dir: String, graceMs: Long = 3600000L): Int = {
    val snap = LakeTable.load(dir)
    val referenced: Set[Path] =
      snap.files.map(f => Paths.get(dir, f.path).toAbsolutePath.normalize).toSet
    val dataRoot = Paths.get(dir, "data")
    if (!Files.exists(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    // a Hadoop local-FS CRC sibling (".<name>.crc") is reclaimable iff
    // its data file is — left unmatched they accumulate one per
    // superseded write forever (the 10^4-epoch soak surfaced ~9 stale
    // CRCs per epoch). Object stores have no CRC siblings; this is the
    // local-FS-correctness branch.
    def dataTwin(p: Path): Path = {
      val n = p.getFileName.toString
      if (n.startsWith(".") && n.endsWith(".crc"))
        p.resolveSibling(n.stripPrefix(".").stripSuffix(".crc"))
      else p
    }
    graft.FsUtil.walkDir(dataRoot)(_
      .filter(p => Files.isRegularFile(p))
      .filter { p =>
        val n = dataTwin(p).getFileName.toString
        n.endsWith(".parquet") || n.startsWith("_")
      }
      .filter(p => !referenced.contains(dataTwin(p).toAbsolutePath.normalize))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach { p => Files.deleteIfExists(p); deleted += 1 })
    // drop now-empty snapshot directories (deepest-first)
    graft.FsUtil.walkDir(dataRoot)(_.toSeq).sortBy(-_.getNameCount)
      .filter(p => Files.isDirectory(p) && p != dataRoot)
      .foreach { p =>
        if (graft.FsUtil.listDir(p)(!_.hasNext)) Files.deleteIfExists(p)
      }
    deleted
  }

  /** Default retained snapshot manifests — enough history for time
    * travel / changelog consumers that poll within ~a day of epochs at
    * operational cadence, while keeping meta/ O(1) in table lifetime.
    */
  val DefaultKeepManifests: Int = 64

  /** Delete snapshot manifests older than the newest `keepLast`
    * (the latest is always kept). The Iceberg expire-snapshots analog:
    * time travel / `Changelog.changesSince` to an expired snapshot id
    * fails loudly with its existing "does not exist" require —
    * consumers re-baseline, the standard CDC-out contract. Returns the
    * number of manifests deleted.
    *
    * Without expiry a 10^5-epoch table carries 10^5 manifest files —
    * the metadata-chain growth failure mode (MetadataSoak measures the
    * with-expiry steady state).
    */
  def expireSnapshots(dir: String, keepLast: Int = DefaultKeepManifests): Int =
    Commit.expire(dir, keepLast)

  /** One-call maintenance policy for an operator cron job: compact when
    * the merge-on-read overlay has grown past `maxDeltaFiles` (or when a
    * tombstone horizon is given — expiry only happens through a
    * compaction pass), then vacuum unreachable files older than
    * `vacuumGraceMs` and expire superseded snapshot manifests beyond
    * `keepManifests`. Returns (compacted?, filesVacuumed). The
    * thresholds bound the read-side merge tax, the orphan footprint AND
    * the metadata chain without a human in the loop. NB expiry is ON by
    * default: changelog/time-travel consumers must poll within the last
    * `keepManifests` snapshots or re-baseline (their reads past the
    * horizon fail loudly) — raise `keepManifests` for slow consumers.
    * This is the engine-side
    * analog of the reference's scheduler-driven upkeep (scheduler.py),
    * expressed as policy over the manifest instead of cron-driven SQL.
    */
  def autoMaintain(spark: SparkSession, dir: String,
                   maxDeltaFiles: Int = 16,
                   tombstoneHorizonMs: Long = Long.MinValue,
                   vacuumGraceMs: Long = 3600000L,
                   keepManifests: Int = DefaultKeepManifests): (Boolean, Int) = {
    val snap = LakeTable.load(dir)
    val deltas = snap.files.count(_.kind == "delta")
    val expirable = tombstoneHorizonMs != Long.MinValue &&
      snap.files.exists(f => f.tombs > 0 && f.minTsMs < tombstoneHorizonMs)
    val doCompact = deltas > maxDeltaFiles || expirable
    if (doCompact) compact(spark, dir, tombstoneHorizonMs)
    val vacuumed = vacuum(dir, vacuumGraceMs)
    expireSnapshots(dir, keepManifests)
    (doCompact, vacuumed)
  }

  /** Rewrite the table into a NEW url-hash bucket layout (bucket split /
    * merge): a table created with P buckets outgrows them at 100 TB —
    * this is the Iceberg "rewrite with new partition spec" analog. One
    * copy-on-write pass: delta overlays are LWW-resolved on the way
    * through (readMerged), tombstones are preserved (their late-update
    * protection is layout-independent), and the new snapshot carries
    * `numBuckets = newBuckets` so every later merge prunes on the new
    * layout.
    *
    * Lineage: per-bucket watermarks cannot be remapped (old bucket →
    * urls is not invertible), so every new bucket gets the GLOBAL max
    * applied seq. Correct under the WAL contract (Changelog soundness
    * note): rebucketing changes no logical state, and any event first
    * applied later carries a larger seq. Changelog reads SPANNING the
    * rebucket are refused by `changesSince`'s equal-bucket-count
    * require — a rebucket is a changelog barrier; downstream consumers
    * re-baseline from the new snapshot (the standard CDC-out contract
    * for a re-partitioned upstream).
    */
  def rebucket(spark: SparkSession, dir: String, newBuckets: Int): Snapshot = {
    val snap = LakeTable.load(dir)
    require(newBuckets > 0)
    rewrite(spark, dir, snap, newBuckets,
      LakeTable.readMerged(spark, dir, snap)) { (s2, newFiles) =>
      val maxApplied = (snap.lineage.values ++ newFiles.map(_.maxSeq))
        .foldLeft(Long.MinValue)(math.max)
      s2.copy(lineage = (0 until newBuckets).map(b => b.toString -> maxApplied).toMap)
    }
  }

  /** Rewrite the table into one file per bucket (copy-on-write compaction),
    * optionally expiring tombstones whose warc_ts predates
    * `tombstoneHorizonMs` (epoch millis). Expired tombstones lose their
    * late-update protection — only expire beyond the feed's max possible
    * lateness, exactly like Iceberg's delete-file expiry. Logical live
    * state is unchanged (asserted in MaintenanceSpec). Commits a new
    * snapshot; pair with `vacuum` to reclaim the superseded files.
    */
  def compact(spark: SparkSession, dir: String,
              tombstoneHorizonMs: Long = Long.MinValue): Snapshot = {
    val snap = LakeTable.load(dir)
    // Delta overlays must be LWW-resolved BEFORE the tombstone-horizon
    // filter: dropping an expired delta tombstone first would resurrect
    // the older base row it shadows. readMerged collapses only buckets
    // that carry deltas, so a pure copy-on-write table compacts
    // shuffle-free.
    rewrite(spark, dir, snap, snap.numBuckets, LakeTable.readMerged(spark, dir, snap)
      .filter(!col("tombstone") ||
        col("warc_ts").cast("long") * 1000L >= tombstoneHorizonMs))((s2, _) => s2)
  }

  /** Write `rows` (table rows) as the whole table in `numBuckets`
    * buckets and commit it as the snapshot after `snap`; `adjust` sets
    * whatever else the rewrite changes in the manifest.
    */
  private def rewrite(spark: SparkSession, dir: String, snap: Snapshot,
                      numBuckets: Int, rows0: DataFrame)
                     (adjust: (Snapshot, List[FileEntry]) => Snapshot): Snapshot = {
    val rows = rows0
      .withColumn("bucket", pmod(col("url_hash"), lit(numBuckets)).cast("int"))
    rows.persist()
    try {
      val touched = rows.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val newId = snap.snapshotId + 1
      val newFiles = LakeTable.writeBuckets(spark, dir, newId, rows, touched)
      val s2 = adjust(snap.copy(
        snapshotId = newId, parentId = snap.snapshotId,
        numBuckets = numBuckets,
        files = newFiles,
        liveRows = newFiles.map(_.live).sum,
        tombstones = newFiles.map(_.tombs).sum), newFiles)
      LakeTable.commit(dir, s2)
      s2
    } finally rows.unpersist()
  }
}
