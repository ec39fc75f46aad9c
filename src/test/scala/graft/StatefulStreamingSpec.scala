package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.streaming.{MetricsRollup, Sessionize}

/** Watermarked windowed aggregation (MetricsRollup) and custom
  * per-key streaming state (Sessionize / flatMapGroupsWithState):
  * end-state equivalence vs batch oracles, watermark late-drop,
  * session closing via event-time timeout, epoch idempotence.
  */
class StatefulStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(seq: Long, url: String, tsMs: Long, op: String = "U") =
    graft.model.CdcEvent(seq, op, url, new Timestamp(tsMs), null,
      s"text-$seq", "en", None)

  val base0 = FeedGen.BaseMs

  test("MetricsRollup: streamed rollup == batch windowed aggregate over on-time events") {
    val base = tmpDir("rollup")
    val cfg = FeedGen.Config(seed = 7L, n = 4000L, nDomains = 30,
      pathsPerDomain = 5, evolveAt = 2500L, segments = 4)
    FeedGen.writeSegments(spark, cfg, s"$base/feed")

    MetricsRollup.runAvailableNow(spark, s"$base/feed", s"$base/rollup",
      s"$base/ckpt", lateness = "365 days") // nothing late: exact equality
    val got = MetricsRollup.read(spark, s"$base/rollup")

    val want = MetricsRollup.rollupPlan(FeedGen.readFeed(spark, s"$base/feed"))
    val k = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"hour_start".cast("long"), $"lang", $"events", $"upserts",
        $"deletes", $"max_seq").collect().map(_.toString).sorted
    assert(k(got) === k(want))
  }

  test("MetricsRollup: an event behind the watermark is dropped; redelivered epoch is a no-op") {
    val base = tmpDir("rollup-late")
    // segment 1: two events at T0 and T0+3h → watermark after batch 1
    // is (T0+3h − 1h) = T0+2h
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(0, "https://a/1", base0),
        ev(1, "https://a/2", base0 + 3 * 3600000L)).toDF().coalesce(1), "s1")
    // segment 2: one on-time event (keeps the watermark at ~T0+2h)
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(2, "https://a/3", base0 + 3 * 3600000L + 60000L))
        .toDF().coalesce(1), "s2")
    // segment 3: a ~3h-late event targeting window T0. Late-event
    // filtering uses the watermark as of the PREVIOUS trigger (Spark's
    // two-value watermark: filtering lags eviction by one batch), so the
    // drop shows up when the late row arrives two triggers after the
    // watermark-advancing event.
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(3, "https://a/LATE", base0 + 1000L)).toDF().coalesce(1), "s3")

    MetricsRollup.runAvailableNow(spark, s"$base/feed", s"$base/rollup",
      s"$base/ckpt", lateness = "1 hour", maxFilesPerTrigger = Some(1))
    // the applied-epoch ledger rides in the latest version file
    // (committed atomically with the state by one put-if-absent): the
    // ids up to its floor, plus those listed above it
    val meta = java.nio.file.Paths.get(s"$base/rollup/meta")
    val curV = java.nio.file.Files.readString(meta.resolve("CURRENT")).trim
    val ledger = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(meta.resolve(s"$curV.json")))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val epochs = (ledger \ "floor").extract[Long] + 1 + (ledger \ "epochs").children.size
    info(s"epochs committed: $epochs")
    val got = MetricsRollup.read(spark, s"$base/rollup")
      .select($"hour_start".cast("long") - base0 / 1000L, $"events")
      .as[(Long, Long)].collect().toMap
    assert(epochs >= 3, "expected the three segments to land in separate micro-batches")
    assert(got === Map(0L -> 1L, 3 * 3600L -> 2L)) // late seq=3 dropped

    // restart over the same checkpoint: no new epochs, state unchanged
    MetricsRollup.runAvailableNow(spark, s"$base/feed", s"$base/rollup",
      s"$base/ckpt", lateness = "1 hour", maxFilesPerTrigger = Some(1))
    val again = MetricsRollup.read(spark, s"$base/rollup")
      .agg(sum($"events")).as[Long].head()
    assert(again === 3L)
    // retention: superseded rollup versions are GC'd (≤3 kept)
    val versions = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$base/rollup")).iterator()
    val vCount = Iterator.continually(versions)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString)
      .count(_.matches("""v\d+-.*"""))
    assert(vCount <= 3, s"expected ≤3 retained versions, got $vCount")
  }

  test("Sessionize: gap-split inside a batch and event-time-timeout close across batches") {
    val base = tmpDir("sessions")
    val min = 60000L
    // url A: two bursts 30min apart (gap 15min ⇒ two sessions);
    // url B: one event. All in segment 1.
    FeedGen.appendSegment(spark, s"$base/feed", Seq(
      ev(0, "https://a", base0),
      ev(1, "https://a", base0 + 2 * min),
      ev(2, "https://a", base0 + 5 * min, "D"),
      ev(10, "https://a", base0 + 35 * min),
      ev(11, "https://a", base0 + 36 * min),
      ev(20, "https://b", base0 + 3 * min)).toDF().coalesce(1), "s1")
    // segment 2: far-future event pushes the watermark past every
    // open session's end+gap → timeouts fire, sessions emit
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(30, "https://c", base0 + 10 * 3600000L)).toDF().coalesce(1), "s2")

    Sessionize.runAvailableNow(spark, s"$base/feed", s"$base/out",
      s"$base/ckpt", gapMs = 15 * min, lateness = "5 minutes",
      maxFilesPerTrigger = Some(1))

    val got = spark.read.parquet(s"$base/out")
      .select($"url",
        (($"session_start".cast("long") * 1000 - base0) / min).cast("long"),
        (($"session_end".cast("long") * 1000 - base0) / min).cast("long"),
        $"events", $"deletes", $"min_seq", $"max_seq")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    // session c is still open (nothing advanced the watermark past it)
    assert(got === Array(
      ("https://a", 0L, 5L, 3L, 1L, 0L, 2L),
      ("https://a", 35L, 36L, 2L, 0L, 10L, 11L),
      ("https://b", 3L, 3L, 1L, 0L, 20L, 20L)))
  }

  test("Sessionize: state survives a restart from checkpoint") {
    val base = tmpDir("sessions-resume")
    val min = 60000L
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(0, "https://a", base0),
        ev(1, "https://a", base0 + min)).toDF().coalesce(1), "s1")
    Sessionize.runAvailableNow(spark, s"$base/feed", s"$base/out",
      s"$base/ckpt", gapMs = 15 * min, lateness = "5 minutes")
    // nothing emitted yet: session still open in state
    val emptySoFar = scala.util.Try(
      spark.read.parquet(s"$base/out").isEmpty).getOrElse(true)
    assert(emptySoFar)

    // new segment after restart: extends the session, then closes it
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(2, "https://a", base0 + 2 * min),
        ev(9, "https://z", base0 + 5 * 3600000L)).toDF().coalesce(1), "s2")
    Sessionize.runAvailableNow(spark, s"$base/feed", s"$base/out",
      s"$base/ckpt", gapMs = 15 * min, lateness = "5 minutes")

    val got = spark.read.parquet(s"$base/out")
      .select($"url", $"events", $"max_seq")
      .as[(String, Long, Long)].collect()
    assert(got === Array(("https://a", 3L, 2L))) // 2 pre-restart + 1 post
  }
}
