package graft.table

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

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
    * file may hold a tombstone older than `tombstoneHorizonMs` — expiry only
    * happens through a compaction pass), then vacuum unreachable files
    * older than `vacuumGraceMs` and expire superseded snapshot manifests
    * beyond `keepManifests`. Returns (compacted?, filesVacuumed). The
    * thresholds bound the read-side merge tax, the orphan footprint AND
    * the metadata chain without a human in the loop. NB expiry is ON by
    * default: changelog/time-travel consumers must poll within the last
    * `keepManifests` snapshots or re-baseline (their reads past the
    * horizon fail loudly) — raise `keepManifests` for slow consumers.
    * This is the engine-side analog of the reference's scheduler-driven
    * upkeep (scheduler.py), as policy over the manifest, not cron SQL.
    */
  def autoMaintain(spark: SparkSession, dir: String,
                   maxDeltaFiles: Int = 16,
                   tombstoneHorizonMs: Long = Long.MinValue,
                   vacuumGraceMs: Long = 3600000L,
                   keepManifests: Int = DefaultKeepManifests): (Boolean, Int) = {
    val snap = LakeTable.load(dir)
    val deltas = snap.files.count(_.kind == "delta")
    val doCompact = deltas > maxDeltaFiles ||
      snap.files.exists(expires(_, tombstoneHorizonMs))
    if (doCompact) compact(spark, dir, tombstoneHorizonMs)
    val vacuumed = vacuum(dir, vacuumGraceMs)
    expireSnapshots(dir, keepManifests)
    (doCompact, vacuumed)
  }

  /** `f` may hold a tombstone `horizonMs` expires (min warc_ts is over all rows). */
  private def expires(f: FileEntry, horizonMs: Long): Boolean =
    horizonMs != Long.MinValue && f.tombs > 0 && f.minTsMs < horizonMs

  /** Rewrite the table into a NEW url-hash bucket layout (bucket split /
    * merge; the Iceberg "rewrite with new partition spec" analog for a
    * table that outgrew its P buckets): the one bucket rewrite
    * ([[LakeTable.rewriteBuckets]]) over every file, with no batch. Delta
    * overlays are LWW-resolved on the way through, tombstones are kept
    * (their late-update protection is layout-independent), and the new
    * snapshot's `numBuckets = newBuckets` so later merges prune on it.
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
    val newFiles = LakeTable.rewriteBuckets(spark, dir, snap.snapshotId + 1,
      snap.files, newBuckets, 0 until newBuckets)
    val maxApplied = (snap.lineage.values ++ newFiles.map(_.maxSeq))
      .foldLeft(Long.MinValue)(math.max)
    val s2 = snap.successor(snap.files, newFiles).copy(numBuckets = newBuckets,
      lineage = (0 until newBuckets).map(b => b.toString -> maxApplied).toMap)
    LakeTable.commit(dir, s2)
    s2
  }

  /** Copy-on-write compaction into one base file per bucket: the buckets
    * that carry delta files, plus, given `tombstoneHorizonMs` (epoch
    * millis), those with a file that may hold an older tombstone, which
    * the rewrite expires after its collapse. Clean buckets are not read:
    * each already holds one base file. The rewrite is a copy-on-write
    * epoch with no batch ([[LakeTable.rewriteBuckets]]). Expired
    * tombstones lose their late-update protection — only expire beyond
    * the feed's max possible lateness, like Iceberg's delete-file expiry.
    * Logical live state is unchanged (asserted in MaintenanceSpec).
    * Commits a new snapshot, or returns the current one when no bucket
    * qualifies; pair with `vacuum` to reclaim the superseded files.
    */
  def compact(spark: SparkSession, dir: String,
              tombstoneHorizonMs: Long = Long.MinValue): Snapshot = {
    val snap = LakeTable.load(dir)
    val touched = snap.files
      .filter(f => f.kind == "delta" || expires(f, tombstoneHorizonMs))
      .map(_.bucket).distinct.sorted
    if (touched.isEmpty) return snap
    val replaced = snap.files.filter(f => touched.contains(f.bucket))
    val s2 = snap.successor(replaced, LakeTable.rewriteBuckets(spark, dir,
      snap.snapshotId + 1, replaced, snap.numBuckets, touched,
      tombstoneHorizonMs = tombstoneHorizonMs))
    LakeTable.commit(dir, s2)
    s2
  }
}
