package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.operators.MergeInto
import graft.table.{LakeTable, Maintenance}

/** Vacuum + compaction preserve logical state; orphans and superseded
  * snapshots are reclaimed; tombstone expiry honors its horizon.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  val cfg = FeedGen.Config(seed = 9L, n = 4000L, nDomains = 40,
    pathsPerDomain = 6, segments = 2)

  def state(dir: String): Array[String] =
    LakeTable.readLive(spark, dir)
      .select($"url", $"seq", $"text").collect().map(_.toString).sorted

  test("compact to one file per bucket + vacuum reclaims superseded files; state unchanged") {
    val dir = tmpDir("maint") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    val feed = FeedGen.events(spark, cfg).toDF()
    (0 until 4).foreach { e =>
      MergeInto.merge(spark, dir,
        feed.filter($"seq" >= e * 1000L && $"seq" < (e + 1) * 1000L), e.toLong)
    }
    val before = state(dir)
    val snapBefore = LakeTable.load(dir)

    val s2 = Maintenance.compact(spark, dir)
    assert(state(dir) === before)
    assert(s2.files.size <= snapBefore.numBuckets)
    assert(s2.liveRows === snapBefore.liveRows)
    assert(s2.committedEpochs === snapBefore.committedEpochs) // ledger preserved

    // vacuum with zero grace removes every superseded/orphan file
    val deleted = Maintenance.vacuum(dir, graceMs = 0L)
    assert(deleted > 0)
    assert(state(dir) === before) // current snapshot untouched
    // every referenced file still exists
    val s3 = LakeTable.load(dir)
    s3.files.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f.path)))
    }
  }

  test("tombstone expiry drops only tombstones older than the horizon") {
    val dir = tmpDir("maint-ts") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    def ev(seq: Long, op: String, url: String, ts: Long) =
      (seq, op, url, new java.sql.Timestamp(ts), null: Array[Byte],
        if (op == "D") null else s"t$seq", "en", null.asInstanceOf[java.lang.Double])
    val cols = graft.model.CdcSchema.latest.fieldNames
    val b = Seq(
      ev(1, "D", "https://a/1", 1000L),     // old tombstone (expired)
      ev(2, "D", "https://a/2", 9000000L),  // recent tombstone (kept)
      ev(3, "U", "https://a/3", 5000L)).toDF(cols: _*)
    MergeInto.merge(spark, dir, b, 0L)
    assert(LakeTable.load(dir).tombstones === 2L)

    Maintenance.compact(spark, dir, tombstoneHorizonMs = 1000000L)
    val snap = LakeTable.load(dir)
    assert(snap.tombstones === 1L)
    assert(snap.liveRows === 1L)
    // the kept tombstone still guards against a late update
    val late = Seq(ev(0, "U", "https://a/2", 8000000L)).toDF(cols: _*)
    MergeInto.merge(spark, dir, late, 1L)
    assert(LakeTable.readLive(spark, dir).filter($"url" === "https://a/2").count() === 0L)
  }

  test("tombstone expiry compares milliseconds: a tombstone 500 ms past the horizon survives") {
    val dir = tmpDir("maint-ms") + "/t"
    LakeTable.create(dir, numBuckets = 1)
    def ev(seq: Long, op: String, url: String, ts: Long) =
      (seq, op, url, new java.sql.Timestamp(ts), null: Array[Byte],
        if (op == "D") null else s"t$seq", "en", null.asInstanceOf[java.lang.Double])
    val cols = graft.model.CdcSchema.latest.fieldNames
    // the horizon sits 200 ms past a whole second; the kept tombstone is
    // 500 ms newer than it, inside the same second
    val horizon = 5000200L
    MergeInto.merge(spark, dir, Seq(
      ev(1, "D", "https://a/old", 1000L),               // expired
      ev(2, "D", "https://a/new", horizon + 500L)).toDF(cols: _*), 0L)
    Maintenance.compact(spark, dir, tombstoneHorizonMs = horizon)
    val snap = LakeTable.load(dir)
    assert(snap.tombstones === 1L)
    assert(LakeTable.readMerged(spark, dir, snap).filter($"tombstone")
      .select($"url").as[String].collect() === Array("https://a/new"))
    // and it still guards against a late update older than the delete
    MergeInto.merge(spark, dir,
      Seq(ev(0, "U", "https://a/new", horizon + 100L)).toDF(cols: _*), 1L)
    assert(LakeTable.readLive(spark, dir).filter($"url" === "https://a/new").count() === 0L)
  }

  test("autoMaintain: compacts only past the delta threshold; vacuums orphans") {
    val dir = tmpDir("maint-auto") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    val feed = FeedGen.events(spark, cfg).toDF()
    MergeInto.merge(spark, dir, feed.filter($"seq" < 2000L), 0L)
    // 3 small MoR epochs → some delta files, below the threshold
    (0 until 3).foreach { e =>
      MergeInto.merge(spark, dir,
        feed.filter($"seq" >= 2000L + e * 100L && $"seq" < 2100L + e * 100L),
        (e + 1).toLong, MergeInto.MergeOnRead)
    }
    val before = state(dir)
    val deltas = LakeTable.load(dir).files.count(_.kind == "delta")
    assert(deltas > 0)
    // threshold above current overlay: no compaction
    val (c1, _) = Maintenance.autoMaintain(spark, dir,
      maxDeltaFiles = deltas + 1, vacuumGraceMs = 0L)
    assert(!c1 && LakeTable.load(dir).files.count(_.kind == "delta") === deltas)
    // threshold below: compaction folds the overlay, vacuum reclaims
    val (c2, vac) = Maintenance.autoMaintain(spark, dir,
      maxDeltaFiles = deltas - 1, vacuumGraceMs = 0L)
    assert(c2 && vac > 0)
    assert(LakeTable.load(dir).files.forall(_.kind == "base"))
    assert(state(dir) === before)
  }

  /** Epoch 0 (`base`) writes every one of 8 buckets copy-on-write, then
    * two merge-on-read epochs touch only two buckets outside `avoid`:
    * those carry delta files, the rest stay clean. Returns the dirty ids.
    */
  def partlyDirty(dir: String, base: DataFrame, avoid: Int = -1): Set[Int] = {
    LakeTable.create(dir, numBuckets = 8)
    MergeInto.merge(spark, dir, base, 0L)
    val dirty = (0 until 8).filterNot(_ == avoid).take(2).toSet
    val tail = FeedGen.events(spark, cfg).toDF()
      .filter($"seq" >= 2000L && LakeTable.bucketOf($"url", 8).isin(dirty.toSeq: _*))
    MergeInto.merge(spark, dir, tail.filter($"seq" < 3000L), 1L, MergeInto.MergeOnRead)
    MergeInto.merge(spark, dir, tail.filter($"seq" >= 3000L), 2L, MergeInto.MergeOnRead)
    val snap = LakeTable.load(dir)
    assert(snap.files.map(_.bucket).toSet === (0 until 8).toSet)
    assert(snap.files.filter(_.kind == "delta").map(_.bucket).toSet === dirty)
    dirty
  }

  /** The snapshot's counts are the exact live and tombstone row counts. */
  def assertExactCounts(dir: String): Unit = {
    val snap = LakeTable.load(dir)
    val merged = LakeTable.readMerged(spark, dir, snap)
    assert(snap.liveRows === merged.filter(!$"tombstone").count())
    assert(snap.tombstones === merged.filter($"tombstone").count())
  }

  test("compact rewrites only delta-carrying buckets: clean files kept, counts exact") {
    val dir = tmpDir("maint-part") + "/t"
    val feed = FeedGen.events(spark, cfg).toDF()
    val dirty = partlyDirty(dir, feed.filter($"seq" < 2000L))
    val clean = LakeTable.load(dir).files.filterNot(f => dirty(f.bucket))
    val before = state(dir)

    val s2 = Maintenance.compact(spark, dir)
    assert(state(dir) === before)
    clean.foreach(f => assert(s2.files.contains(f), s"clean bucket ${f.bucket} rewritten"))
    assert(s2.files.forall(_.kind == "base"))
    assert(s2.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(s2.tombstones > 0)
    assertExactCounts(dir)
    // nothing left to compact: no new snapshot
    assert(Maintenance.compact(spark, dir).snapshotId === s2.snapshotId)
    assert(LakeTable.load(dir).snapshotId === s2.snapshotId)
  }

  test("compact with a horizon also rewrites a clean bucket holding an expired tombstone") {
    val dir = tmpDir("maint-part-ts") + "/t"
    val feed = FeedGen.events(spark, cfg).toDF()
    val oldUrl = "https://old.example.com/gone"
    val oldBucket = Seq(oldUrl).toDF("url").select(LakeTable.bucketOf($"url", 8)).head.getInt(0)
    val oldDelete = Seq((100000L, "D", oldUrl, new java.sql.Timestamp(1000L)))
      .toDF("seq", "op", "url", "warc_ts")
    val dirty = partlyDirty(dir, MergeInto.alignToLatest(feed.filter($"seq" < 2000L))
      .unionByName(MergeInto.alignToLatest(oldDelete)), avoid = oldBucket)
    val snap = LakeTable.load(dir)
    val expiredFile = snap.files.filter(_.bucket == oldBucket)
    val clean = snap.files.filterNot(f => dirty(f.bucket) || f.bucket == oldBucket)
    val before = state(dir)

    val s2 = Maintenance.compact(spark, dir, tombstoneHorizonMs = 1000000L)
    assert(state(dir) === before)
    assert(expiredFile.nonEmpty && !expiredFile.exists(s2.files.contains),
      "the bucket holding the expired tombstone was not rewritten")
    clean.foreach(f => assert(s2.files.contains(f), s"clean bucket ${f.bucket} rewritten"))
    assert(LakeTable.readMerged(spark, dir, s2).filter($"url" === oldUrl).count() === 0L)
    assert(s2.tombstones > 0)
    assertExactCounts(dir)
  }

  test("rebucket 8→32: state unchanged, new layout live, later merges + changelog work") {
    val dir = tmpDir("maint-rb") + "/t"
    LakeTable.create(dir, numBuckets = 8)
    val feed = FeedGen.events(spark, cfg).toDF()
    MergeInto.merge(spark, dir, feed.filter($"seq" < 1500L), 0L)
    // leave a delta overlay in place so rebucket also folds MoR state
    MergeInto.merge(spark, dir,
      feed.filter($"seq" >= 1500L && $"seq" < 3000L), 1L, MergeInto.MergeOnRead)
    val before = state(dir)
    val snapBefore = LakeTable.load(dir)

    val s2 = Maintenance.rebucket(spark, dir, newBuckets = 32)
    assert(s2.numBuckets === 32)
    assert(state(dir) === before)
    assert(s2.committedEpochs === snapBefore.committedEpochs)
    assert(s2.files.forall(_.kind == "base")) // overlays folded
    // files actually live in the new layout
    assert(s2.files.map(_.bucket).max > 7)

    // a later merge prunes/writes on the NEW layout and stays correct
    MergeInto.merge(spark, dir, feed.filter($"seq" >= 3000L), 2L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"url").orderBy($"warc_ts".desc, $"seq".desc)
    val exp = feed.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D")
      .select($"url", $"seq", $"text").collect().map(_.toString).sorted
    assert(state(dir) === exp)

    // changelog across the rebucket is a barrier; from the rebucketed
    // snapshot onward it works and reports exactly the new epoch's wins
    val err = intercept[IllegalArgumentException] {
      graft.table.Changelog.changesSince(spark, dir, snapBefore.snapshotId)
    }
    assert(err.getMessage.contains("re-bucket"))
    val changes = graft.table.Changelog.changesSince(spark, dir, s2.snapshotId)
    assert(changes.count() > 0)
    assert(changes.agg(min($"seq")).head.getLong(0) >= 3000L)
  }
}
