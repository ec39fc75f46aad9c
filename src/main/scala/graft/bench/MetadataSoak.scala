package graft.bench

import graft.feedgen.FeedGen
import graft.operators.MergeInto
import graft.table.{LakeTable, Maintenance}

/** Metadata-chain growth soak: drive MANY tiny epochs through the real
  * merge+commit path with autoMaintain on, and measure the table's own
  * metadata footprint over its lifetime — manifest size, meta/ file
  * count, on-disk data files, and table-open latency. The failure mode
  * under test is the lake's "watermark table" trap: a manifest rewritten
  * every epoch that GROWS with epoch count (epoch ledger, stats rows,
  * superseded snapshot files) makes epoch N cost O(N) — at 10^4–10^5
  * epochs the metadata, not the data, becomes the bottleneck.
  *
  *   SPARK_GRAFT_SOAK_EPOCHS=10000 SPARK_GRAFT_CPUS=8 \
  *     sbt -batch "runMain graft.bench.MetadataSoak"
  *
  * Emits one JSON sample line every `epochs/20` epochs and a final
  * summary line; BENCH/BASELINE.md §6 records a representative run.
  * Flat-ness of manifest_bytes / meta_files / open_ms across samples IS
  * the result.
  */
object MetadataSoak {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val epochs = sys.env.getOrElse("SPARK_GRAFT_SOAK_EPOCHS", "10000").toInt
    val perEpoch = sys.env.getOrElse("SPARK_GRAFT_SOAK_BATCH", "256").toLong
    val spark = BenchSession("graft-metadata-soak", s"local[$cores]", cores)
    import spark.implicits._

    val root = BenchSession.scratchRoot("graft-soak")
    val base = java.nio.file.Files.createTempDirectory(root, "run").toString
    val dir = s"$base/table"
    LakeTable.create(dir, numBuckets = 8)

    def dirStats(): (Long, Long, Long) = {
      val metaFiles = graft.FsUtil.listDir(
        java.nio.file.Paths.get(dir, "meta"))(_.size.toLong)
      val dataFiles = graft.FsUtil.walkDir(
        java.nio.file.Paths.get(dir, "data"))(
        _.count(p => java.nio.file.Files.isRegularFile(p)).toLong)
      val cur = LakeTable.load(dir)
      val mfBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, "meta", s"v${cur.snapshotId}.json"))
      (mfBytes, metaFiles, dataFiles)
    }
    def openLatencyMs(): Double = {
      val n = 20
      val walls = (0 until n).map { _ =>
        val t0 = System.nanoTime()
        LakeTable.load(dir)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      walls(n / 2)
    }

    val cfg = FeedGen.Config(seed = 42L, n = epochs * perEpoch,
      nDomains = 200, pathsPerDomain = 50, evolveAt = Long.MaxValue,
      segments = 1)
    val sampleEvery = math.max(epochs / 20, 1)
    val t0 = System.nanoTime()
    var maintMs = 0L
    for (e <- 0 until epochs) {
      val lo = e.toLong * perEpoch
      val batch = spark.range(lo, lo + perEpoch, 1, cores)
        .map(i => FeedGen.event(cfg, i)).toDF()
      MergeInto.merge(spark, dir, MergeInto.alignToLatest(batch), e.toLong)
      if ((e + 1) % 64 == 0) {
        val m0 = System.nanoTime()
        Maintenance.autoMaintain(spark, dir, maxDeltaFiles = 16,
          vacuumGraceMs = 0L)
        maintMs += (System.nanoTime() - m0) / 1000000L
      }
      if ((e + 1) % sampleEvery == 0 || e == 0) {
        val (mf, metaN, dataN) = dirStats()
        val openMs = openLatencyMs()
        val wallSec = (System.nanoTime() - t0) / 1e9
        println(s"""{"metric":"metadata_soak_sample","epoch":${e + 1},"manifest_bytes":$mf,"meta_files":$metaN,"data_files":$dataN,"open_ms":${f"$openMs%.2f"},"elapsed_sec":${f"$wallSec%.1f"}}""")
      }
    }
    val snap = LakeTable.load(dir)
    val (mf, metaN, dataN) = dirStats()
    val total = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"metadata_soak","epochs":$epochs,"events":${epochs * perEpoch},"cores":$cores,"total_sec":${f"$total%.1f"},"maintain_sec":${maintMs / 1000},"final_manifest_bytes":$mf,"final_meta_files":$metaN,"final_data_files":$dataN,"final_open_ms":${f"${openLatencyMs()}%.2f"},"epoch_floor":${snap.epochFloor},"stats_window_rows":${snap.epochStats.size},"totals_epochs":${snap.totals.epochs},"live_rows":${snap.liveRows}}""")
    graft.FsUtil.deleteTree(base)
    spark.stop()
  }
}
