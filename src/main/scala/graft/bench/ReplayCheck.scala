package graft.bench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reproducible full-replay equivalence check at bench scale (the
  * north-rule correctness criterion, one command):
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_INGEST_N=16000000 \
  *     [SPARK_GRAFT_EPOCHS=many] sbt -batch "runMain graft.bench.ReplayCheck"
  *
  * Generates the seeded CDC feed (dupes, deletes, ties, mid-stream
  * schema evolution), ingests it through the streaming path (one
  * AvailableNow drain, or one epoch per WAL segment with
  * SPARK_GRAFT_EPOCHS=many), then compares the live table against the
  * window-function LWW oracle computed directly off the replayed WAL:
  * row count AND an order-insensitive md5 checksum over
  * (url, seq, warc_ts, text) — byte-level text identity included. Also
  * re-runs the drained stream to prove a checkpoint restart with no new
  * data is a no-op. Prints one JSON line; `equal` and `stable` must both
  * be true. BENCH/BASELINE.md §5 records representative runs.
  */
object ReplayCheck {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_INGEST_N", "4000000").toLong
    val manyEpochs = sys.env.get("SPARK_GRAFT_EPOCHS").contains("many")
    val spark = BenchSession("graft-replay-check", s"local[$cores]", cores)

    val root = BenchSession.scratchRoot("graft-replay")
    val base = java.nio.file.Files.createTempDirectory(root, "run").toString
    try {
      val cfg = graft.feedgen.FeedGen.Config(seed = 42L, n = n,
        nDomains = 2000, pathsPerDomain = 100, evolveAt = n / 2,
        segments = math.max(8L, n / 1000000L).toInt)
      graft.feedgen.FeedGen.writeSegments(spark, cfg, s"$base/feed")
      val mft = if (manyEpochs) Some(1) else None
      val t0 = System.nanoTime()
      graft.streaming.CdcIngest.runAvailableNow(spark, s"$base/feed",
        s"$base/table", s"$base/ckpt", numBuckets = 64, maxFilesPerTrigger = mft)
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = graft.table.LakeTable.load(s"$base/table")

      val feed = graft.feedgen.FeedGen.readFeed(spark, s"$base/feed")
      val w = Window.partitionBy(col("url"))
        .orderBy(col("warc_ts").desc, col("seq").desc)
      val oracle = feed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("url"), col("seq"), col("warc_ts"), col("text"))
      val live = graft.table.LakeTable.readLive(spark, s"$base/table")
        .select(col("url"), col("seq"), col("warc_ts"), col("text"))
      // order-insensitive exact signature: -delimited fields (no
      // field-boundary concat collisions), md5 per row, then EXACT sums
      // of the two 32-bit hash halves — sum(2^32) over even 2^31 rows
      // stays < Long.Max, and a single differing row cannot cancel (the
      // old avg-of-first-half with a 1e-6 tolerance could mask one)
      def sig(df: org.apache.spark.sql.DataFrame) = df
        .select(md5(concat_ws("\u0001", col("url"), col("seq"),
          col("warc_ts").cast("string"), coalesce(col("text"), lit("")))).as("h"))
        .agg(count(lit(1)),
          sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")),
          sum(conv(substring(col("h"), 25, 8), 16, 10).cast("long"))).head
      val (a, b) = (sig(live), sig(oracle))
      val equal = a.getLong(0) == b.getLong(0) &&
        a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2)

      // checkpoint restart with nothing new: snapshot must not advance
      graft.streaming.CdcIngest.runAvailableNow(spark, s"$base/feed",
        s"$base/table", s"$base/ckpt", numBuckets = 64, maxFilesPerTrigger = mft)
      val stable =
        graft.table.LakeTable.load(s"$base/table").snapshotId == snap.snapshotId

      println(s"""{"metric":"replay_check","events":$n,"cores":$cores,"epochs":${snap.totals.epochs},"ingest_sec":${f"$wall%.1f"},"live_rows":${a.getLong(0)},"oracle_rows":${b.getLong(0)},"equal":$equal,"stable":$stable}""")
      require(equal && stable, "replay check FAILED")
    } finally {
      graft.FsUtil.deleteTree(base)
      spark.stop()
    }
  }
}
