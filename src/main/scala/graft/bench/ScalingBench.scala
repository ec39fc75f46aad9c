package graft.bench

import graft.feedgen.FeedGen
import graft.streaming.CdcIngest

/** Two-cluster-size scaling evidence (north_rule; sandbox substitution:
  * same job, same input, local[N] vs local[4N]). Runs the full streaming
  * backfill (tail→collapse→merge→commit) `trials` times over ONE shared
  * pre-generated feed and reports every trial — the minimum is the
  * least-noise estimate on a shared VM (steal time, page cache).
  *
  *   SPARK_GRAFT_CPUS=8|32 SPARK_GRAFT_INGEST_N=8000000 \
  *     SPARK_GRAFT_FEED_DIR=/tmp/graft-scaling-feed \
  *     sbt "runMain graft.bench.ScalingBench"
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_INGEST_N", "4000000").toLong
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val feedDir = sys.env.getOrElse("SPARK_GRAFT_FEED_DIR",
      s"/tmp/graft-scaling-feed-$n")
    // SPARK_GRAFT_MASTER overrides the master URL — e.g.
    // local-cluster[2,4,8192] vs local-cluster[8,4,8192] gives the
    // north-rule's N vs 4N EXECUTORS as separate JVMs (own heap/GC),
    // the closest sandbox stand-in for two real cluster sizes.
    val spark = BenchSession("graft-scaling-bench",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"), cores * 2)

    // segment count scales with n (~1M events ≈ 73 MB per file) so scan
    // tasks stay fine-grained at the largest core count under test —
    // same input layout for every size being compared
    val nSegments = math.max(64L, n / 1000000L).toInt
    val cfg = FeedGen.Config(seed = 42L, n = n, nDomains = 2000,
      pathsPerDomain = 100, evolveAt = n / 2, segments = nSegments)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(feedDir, "wal")))
      FeedGen.writeSegments(spark, cfg, feedDir)

    // Trial table/checkpoint dirs live on tmpfs for the same reason the
    // shuffle dirs do: on a real cluster the sink (object store / HDFS)
    // aggregate write bandwidth scales with node count, while this VM
    // has ONE virtio disk shared by both core counts — writing the
    // output table to it would measure the disk, not the engine.
    val trialBase = BenchSession.scratchRoot("graft-scale-trials")

    // inline platform control per trial (round-4 methodology): the
    // control is core-count-invariant on a quiet host, so readers can
    // control-normalize a drifting N vs 4N pair from the artifact alone
    val times = (1 to trials).map { t =>
      val control = PlatformControl.run(spark)
      val base = java.nio.file.Files.createTempDirectory(trialBase, s"graft-scale-$t")
      val t0 = System.nanoTime()
      CdcIngest.runAvailableNow(spark, feedDir, s"$base/table", s"$base/ckpt",
        numBuckets = 64)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaling] trial $t: $sec%.2f s (control $control%.2f s)")
      // each trial leaves a full ingested table on RAM-backed tmpfs —
      // delete it before the next trial or large-n runs exhaust /dev/shm
      graft.FsUtil.deleteTree(base)
      (sec, control)
    }
    val best = times.map(_._1).min
    println(s"""{"metric":"scaling_backfill","cores":$cores,"events":$n,"trials":[${times.map(x => f"${x._1}%.2f").mkString(",")}],"controls":[${times.map(x => f"${x._2}%.2f").mkString(",")}],"best_sec":${f"$best%.2f"},"best_events_per_sec":${(n / best).round}}""")
    spark.stop()
  }
}
