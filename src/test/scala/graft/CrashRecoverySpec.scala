package graft

import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.model.CdcSchema
import graft.operators.MergeInto
import graft.table.LakeTable

/** Crash-window semantics of the snapshot commit protocol (SURVEY §5.5):
  * data files written without their manifest being created are
  * unreachable orphans; a retried epoch over them converges to the
  * correct state.
  */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  val cfg = FeedGen.Config(seed = 5L, n = 3000L, nDomains = 30,
    pathsPerDomain = 5, segments = 2)

  test("crash between data write and manifest commit loses nothing, duplicates nothing") {
    val base = tmpDir("crash")
    val tableDir = s"$base/table"
    LakeTable.create(tableDir, numBuckets = 8)
    val feed = FeedGen.events(spark, cfg).toDF()

    // epoch 0 commits normally
    MergeInto.merge(spark, tableDir, feed.filter($"seq" < 1500), 0L)
    val snapBefore = LakeTable.load(tableDir)

    // simulate the crash: epoch 1's data files get written under the
    // NEXT snapshot id, but the process dies before commit
    val batch = MergeInto.alignToLatest(feed.filter($"seq" >= 1500))
    val rows = batch.select(col("url"), xxhash64(col("url")).as("url_hash"),
        col("warc_ts"), col("seq"), (col("op") === "D").as("tombstone"),
        col("html"), col("text"), col("lang"), col("extra_score"))
      .withColumn("bucket", pmod(col("url_hash"), lit(8)).cast("int"))
    LakeTable.writeBuckets(spark, tableDir, snapBefore.snapshotId + 1,
      rows, (0 until 8))
    // no commit happened: reads still see the pre-crash snapshot
    assert(LakeTable.load(tableDir).snapshotId === snapBefore.snapshotId)

    // retry of epoch 1 (same id, full batch) converges
    val r = MergeInto.merge(spark, tableDir, feed.filter($"seq" >= 1500), 1L)
    assert(r.applied)
    val live = LakeTable.readLive(spark, tableDir)
    // equivalent single-shot replay
    val base2 = tmpDir("crash-replay")
    LakeTable.create(s"$base2/t", numBuckets = 8)
    MergeInto.merge(spark, s"$base2/t", feed, 0L)
    val expected = LakeTable.readLive(spark, s"$base2/t")
    assert(live.count() === expected.count())
    val k = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"url", $"seq", $"text").collect().map(_.toString).sorted
    assert(k(live) === k(expected))
  }

  test("optimistic concurrency: commit against a stale parent is refused") {
    val base = tmpDir("occ")
    LakeTable.create(s"$base/t", numBuckets = 4)
    val snap = LakeTable.load(s"$base/t")
    val bogus = snap.copy(snapshotId = snap.snapshotId + 1, parentId = snap.snapshotId)
    LakeTable.commit(s"$base/t", bogus)
    // second writer with the same (now stale) parent attempts the same
    // snapshot id and must fail, leaving the first writer's manifest
    val bogus2 = bogus.copy(liveRows = 1L)
    val e = intercept[IllegalArgumentException] {
      LakeTable.commit(s"$base/t", bogus2)
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(LakeTable.load(s"$base/t") === bogus)
  }

  test("batch split points do not change the final state (epoch-boundary invariance)") {
    val feed = FeedGen.events(spark, cfg).toDF()
    def ingest(bounds: Seq[Long]): Array[String] = {
      val dir = tmpDir("split") + "/t"
      LakeTable.create(dir, numBuckets = 8)
      val edges = (0L +: bounds :+ cfg.n).distinct.sorted
      edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), e) =>
        MergeInto.merge(spark, dir,
          feed.filter($"seq" >= lo && $"seq" < hi), e.toLong)
      }
      LakeTable.readLive(spark, dir)
        .select($"url", $"seq", $"text").collect().map(_.toString).sorted
    }
    val a = ingest(Seq(1000L, 2000L))
    val b = ingest(Seq(300L, 2900L))
    val c = ingest(Seq.empty)
    assert(a === b)
    assert(a === c)
  }
}
