package graft.bench

import org.apache.spark.sql.SparkSession
import graft.feedgen.FeedGen
import graft.streaming.CdcIngest
import graft.table.LakeTable

/** End-to-end ingest benchmark: generate a seeded CDC feed (timed
  * separately), then measure the north-rule metric — change-events/sec
  * through tail→collapse→merge→commit (the full streaming path incl.
  * checkpoint + snapshot commit), backfill epoch + one incremental tail
  * epoch.
  */
object IngestBenchCore {

  final case class Result(
      events: Long, cores: Int,
      feedgenSec: Double, backfillSec: Double, tailSec: Double,
      backfillEps: Double, tailEps: Double, liveRows: Long,
      tailSmallSec: Double, tailSmallEps: Double, tailSmallMor: Boolean,
      readLiveSec: Double, readLiveOverlaySec: Double,
      changesCleanSec: Double, changesMorSec: Double, changesRows: Long,
      changesMorRows: Long)

  def run(spark: SparkSession, n: Long, cores: Int, baseDir: String,
          numBuckets: Int = 64): Result = {
    val feedDir = s"$baseDir/feed"
    val tableDir = s"$baseDir/table"
    val ckptDir = s"$baseDir/ckpt"
    val tailN = math.max(n / 8, 1L)
    val cfg = FeedGen.Config(seed = 42L, n = n, nDomains = 2000,
      pathsPerDomain = 100, evolveAt = n / 2, segments = 64)

    val t0 = System.nanoTime()
    FeedGen.writeSegments(spark, cfg, feedDir)
    val tGen = (System.nanoTime() - t0) / 1e9

    // backfill: everything in one AvailableNow drain
    val t1 = System.nanoTime()
    CdcIngest.runAvailableNow(spark, feedDir, tableDir, ckptDir, numBuckets)
    val tBackfill = (System.nanoTime() - t1) / 1e9
    val idBackfill = LakeTable.load(tableDir).snapshotId

    // incremental tail: one more WAL segment arrives, stream resumes
    val cfg2 = cfg.copy(n = n + tailN)
    import spark.implicits._
    val extra = spark.range(n, n + tailN, 1, cores)
      .map(i => FeedGen.event(cfg2, i)).toDF()
    FeedGen.appendSegment(spark, feedDir, extra, "tail")
    val t2 = System.nanoTime()
    CdcIngest.runAvailableNow(spark, feedDir, tableDir, ckptDir, numBuckets)
    val tTail = (System.nanoTime() - t2) / 1e9

    // CDC-out cost (the incremental consumer read, Changelog.changesSince):
    // what a downstream pays to pull "everything since the backfill
    // snapshot" — here, the tail epoch's changes — off a CLEAN table
    // (manifest diff + seq filter over the changed buckets' base files)
    val tc0 = System.nanoTime()
    val changesRows =
      graft.table.Changelog.changesSince(spark, tableDir, idBackfill).count()
    val tChangesClean = (System.nanoTime() - tc0) / 1e9

    // small tail epoch: the latency-sensitive path. A trickle of changes
    // against the full table — Auto picks merge-on-read here, so the
    // epoch cost is O(batch), independent of table size (a CoW engine
    // pays a bucket rewrite ~64× the changed bytes on this shape).
    val smallN = math.max(n / 256, 1L)
    val cfg3 = cfg.copy(n = n + tailN + smallN)
    val extra2 = spark.range(n + tailN, n + tailN + smallN, 1, cores)
      .map(i => FeedGen.event(cfg3, i)).toDF()
    FeedGen.appendSegment(spark, feedDir, extra2, "tail2")
    val t3 = System.nanoTime()
    CdcIngest.runAvailableNow(spark, feedDir, tableDir, ckptDir, numBuckets)
    val tSmall = (System.nanoTime() - t3) / 1e9

    val snap = LakeTable.load(tableDir)
    val usedMor = snap.files.exists(_.kind == "delta")

    // read-side merge tax: time the live read on the table as the
    // ingest left it (clean or lightly-dirty), then FORCE one more
    // merge-on-read overlay epoch and time it again — the delta is the
    // marginal cost of the generation-tagged LWW collapse the overlay
    // adds to every read until compaction folds it.
    val t4 = System.nanoTime()
    LakeTable.readLive(spark, tableDir).count()
    val tReadLive = (System.nanoTime() - t4) / 1e9
    val microN = math.max(n / 2048, 1L)
    val cfg5 = cfg.copy(n = n + tailN + smallN + microN)
    val extra3 = spark.range(n + tailN + smallN, cfg5.n, 1, cores)
      .map(i => FeedGen.event(cfg5, i)).toDF()
    graft.operators.MergeInto.merge(spark, tableDir,
      graft.operators.MergeInto.alignToLatest(extra3), 999999L,
      graft.operators.MergeInto.MergeOnRead)
    val t5 = System.nanoTime()
    LakeTable.readLive(spark, tableDir).count()
    val tReadOverlay = (System.nanoTime() - t5) / 1e9

    // CDC-out again, now with delta overlays in the read path. NB the
    // change set is LARGER here (the small-tail and micro epochs landed
    // in between), so both row counts are published — the clean-vs-MoR
    // wall delta is overlay collapse + the extra rows, not overlay alone
    val tc1 = System.nanoTime()
    val changesMorRows =
      graft.table.Changelog.changesSince(spark, tableDir, idBackfill).count()
    val tChangesMor = (System.nanoTime() - tc1) / 1e9

    Result(n, cores, tGen, tBackfill, tTail,
      n / tBackfill, tailN / tTail, snap.liveRows,
      tSmall, smallN / tSmall, usedMor, tReadLive, tReadOverlay,
      tChangesClean, tChangesMor, changesRows, changesMorRows)
  }
}

/** Standalone main for the two-cluster-size scaling runs:
  *   SPARK_GRAFT_CPUS=8|32 SPARK_GRAFT_INGEST_N=... runMain graft.bench.IngestBench
  * prints one JSON line; BENCH/BASELINE.md records both and the derived
  * scaling efficiency (sandbox substitution for N vs 4N executors).
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_INGEST_N", "1000000").toLong
    val buckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "64").toInt
    val spark = BenchSession("graft-ingest-bench", s"local[$cores]", cores * 2)
    // feed/table/ckpt on tmpfs like the shuffle dirs (BENCH/BASELINE.md
    // methodology): the single virtio disk would otherwise add its own
    // variance to the measurement
    val root = BenchSession.scratchRoot("graft-ibench")
    val base = java.nio.file.Files.createTempDirectory(root, "run").toString
    val control = PlatformControl.run(spark)
    val r = try IngestBenchCore.run(spark, n, cores, base, buckets)
    finally graft.FsUtil.deleteTree(base)
    println(
      s"""{"metric":"ingest_events_per_sec","value":${r.backfillEps.round},"unit":"events/sec","cores":${r.cores},"events":${r.events},"buckets":$buckets,"control_sec":${f"$control%.2f"},"feedgen_sec":${f"${r.feedgenSec}%.2f"},"backfill_sec":${f"${r.backfillSec}%.2f"},"tail_sec":${f"${r.tailSec}%.2f"},"tail_events_per_sec":${r.tailEps.round},"tail_small_sec":${f"${r.tailSmallSec}%.2f"},"tail_small_events_per_sec":${r.tailSmallEps.round},"tail_small_mor":${r.tailSmallMor},"read_live_sec":${f"${r.readLiveSec}%.2f"},"read_live_mor_sec":${f"${r.readLiveOverlaySec}%.2f"},"changes_since_clean_sec":${f"${r.changesCleanSec}%.2f"},"changes_since_mor_sec":${f"${r.changesMorSec}%.2f"},"changes_rows":${r.changesRows},"changes_mor_rows":${r.changesMorRows},"live_rows":${r.liveRows}}""")
    spark.stop()
  }
}
