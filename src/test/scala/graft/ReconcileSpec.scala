package graft

import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.operators.{MergeInto, Reconcile}
import graft.table.LakeTable

/** Feed↔table reconciliation: clean after full ingest, detects a
  * missing tail, repair() restores replay equivalence.
  */
class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  val cfg = FeedGen.Config(seed = 21L, n = 6000L, nDomains = 50,
    pathsPerDomain = 6, evolveAt = 4000L, segments = 3)

  test("complete ingest ⇒ no missing events, no state diff; partial ingest detected + repaired") {
    val feedDir = tmpDir("rec-feed")
    val tableDir = tmpDir("rec-table")
    FeedGen.writeSegments(spark, cfg, feedDir)
    LakeTable.create(tableDir, numBuckets = 8)
    val feed = FeedGen.readFeed(spark, feedDir)

    // ingest only seq < 4500 — the tail is "lost"
    MergeInto.merge(spark, tableDir, feed.filter($"seq" < 4500), 0L)

    val missing = Reconcile.missingEvents(spark, feedDir, tableDir)
    val missingSeqs = missing.select($"seq").as[Long].collect().toSet
    assert(missingSeqs.nonEmpty)
    assert(missingSeqs.forall(_ >= 4500L))
    // every feed event ≥ 4500 is reported (dups collapse to one seq)
    assert(missingSeqs === feed.filter($"seq" >= 4500)
      .select($"seq").as[Long].collect().toSet)
    assert(Reconcile.diffState(spark, feedDir, tableDir).count() > 0)

    // repair merges exactly the missing tail; state converges
    val r = Reconcile.repair(spark, feedDir, tableDir, epochId = 1L)
    assert(r.applied)
    assert(Reconcile.missingEvents(spark, feedDir, tableDir).isEmpty)
    assert(Reconcile.diffState(spark, feedDir, tableDir).isEmpty)

    // and the repaired table equals the full-replay oracle
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"url").orderBy($"warc_ts".desc, $"seq".desc)
    val oracle = feed.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"url", $"seq").collect().map(_.toString).sorted
    assert(key(LakeTable.readLive(spark, tableDir)) === key(oracle))
  }

  test("an undated-only url in the WAL is no disagreement: no winner, no row") {
    val feedDir = tmpDir("rec-undated-feed")
    val tableDir = tmpDir("rec-undated-table")
    LakeTable.create(tableDir, numBuckets = 4)
    def ev(seq: Long, url: String, ts: Option[Long]) =
      (seq, "U", url, ts.map(new java.sql.Timestamp(_)).orNull,
        null: Array[Byte], s"t$seq", "en", null.asInstanceOf[java.lang.Double])
    FeedGen.appendSegment(spark, feedDir, Seq(
      ev(1, "https://x.example.com/dated", Some(1000L)),
      ev(2, "https://x.example.com/undated", None),
      ev(3, "https://x.example.com/undated", None))
      .toDF(graft.model.CdcSchema.latest.fieldNames: _*), "u")
    MergeInto.merge(spark, tableDir, FeedGen.readFeed(spark, feedDir), 0L)
    assert(Reconcile.missingEvents(spark, feedDir, tableDir).isEmpty)
    assert(Reconcile.diffState(spark, feedDir, tableDir).isEmpty)
  }
}
