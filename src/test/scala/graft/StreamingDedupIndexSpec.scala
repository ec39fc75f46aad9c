package graft

import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.model.CdcSchema
import graft.operators.DedupIndex
import graft.streaming.CdcIngest

/** The ingest-sink-maintained near-dup signature index: streaming
  * epochs through `CdcIngest.start(dedupIndexDir=...)` must leave an
  * index whose cumulative epoch pairs equal the batch MinHash+LSH op
  * over the same corpus, and checkpoint replays must not double-sign.
  */
class StreamingDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  // ~50 docs in 5 near-dup families: family texts share a long base
  // sentence with a one-word mutation per member — Jaccard high enough
  // that LSH banding fires within families
  private def eventsDf(n: Int) = {
    val base = (f: Int) => s"family $f shares this rather long base " +
      s"sentence about topic $f with enough words that five gram " +
      "shingles overlap heavily across members of the same family " +
      "and not at all across different families"
    (0 until n).map { i =>
      val fam = i % 5
      val text = base(fam) + s" member token$i"
      (i.toLong, "U", s"https://ex.org/f$fam/d$i",
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        null: Array[Byte], text, "en", null.asInstanceOf[java.lang.Double])
    }.toDF(CdcSchema.latest.fieldNames: _*)
  }

  private def docsOf(df: org.apache.spark.sql.DataFrame) =
    df.select(xxhash64(col("url")).as("doc_id"), col("text"))

  test("stream-maintained index == batch MinHash+LSH over the cumulative corpus") {
    val base = tmpDir("sdix")
    val events = eventsDf(50)
    // two WAL segments → two epochs (maxFilesPerTrigger = 1)
    FeedGen.appendSegment(spark, s"$base/feed",
      events.filter(col("seq") < 25), "s0")
    FeedGen.appendSegment(spark, s"$base/feed",
      events.filter(col("seq") >= 25), "s1")
    val q = CdcIngest.start(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"))
    q.awaitTermination()

    val epochs = DedupIndex.committedEpochs(s"$base/ix")
    assert(epochs.size >= 2, s"expected >=2 index epochs, got $epochs")

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    val incremental = epochs
      .map(e => DedupIndex.epochPairs(spark, s"$base/ix", e))
      .reduce(_ unionByName _)
    val batch = graft.analytics.DedupQueries.minhashLshPairs(docsOf(events))
    val (inc, full) = (pairSet(incremental), pairSet(batch))
    assert(full.nonEmpty, "corpus must contain near-dup families")
    assert(inc === full)
    graft.analytics.SessionCaches.release(spark)

    // checkpoint replay with nothing new — WITH the index sink attached,
    // so a double-signing regression on the streaming path would show:
    // no new index epochs, same signature rows
    val sigCount = DedupIndex.readSigs(spark, s"$base/ix", epochs).count()
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"))
    assert(DedupIndex.committedEpochs(s"$base/ix") === epochs)
    assert(DedupIndex.readSigs(spark, s"$base/ix", epochs).count() === sigCount)
  }

  test("sink-maintained cluster state == batch CC over the cumulative candidate graph") {
    val base = tmpDir("sdix-cl")
    val events = eventsDf(50)
    FeedGen.appendSegment(spark, s"$base/feed",
      events.filter(col("seq") < 25), "s0")
    FeedGen.appendSegment(spark, s"$base/feed",
      events.filter(col("seq") >= 25), "s1")
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"),
      clusterIndexDir = Some(s"$base/cl"))
    val epochs = DedupIndex.committedEpochs(s"$base/cl")
    assert(epochs.size >= 2, s"expected >=2 cluster epochs, got $epochs")
    val labels = graft.operators.ClusterIndex
      .readLabels(spark, s"$base/cl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch oracle: CC over the SAME cumulative candidate graph the
    // sink folded (union of per-epoch index pairs == batch dd04 graph,
    // pinned by the test above)
    val batchLabels = graft.operators.ConnectedComponents.run(spark,
        graft.analytics.DedupQueries.minhashLshPairs(docsOf(events))
          .select(col("doc_a"), col("doc_b"))).labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchLabels.nonEmpty, "corpus must cluster")
    assert(labels === batchLabels)
    graft.analytics.SessionCaches.release(spark)

    // checkpoint replay with nothing new: no new cluster epochs
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"),
      clusterIndexDir = Some(s"$base/cl"))
    assert(DedupIndex.committedEpochs(s"$base/cl") === epochs)
  }

  test("a deleted doc is tombstoned: it stops pairing, and a re-add revives it") {
    val base = tmpDir("sdix-del")
    val dir = s"$base/ix"
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    DedupIndex.foldEpoch(spark, dir, 0L,
      Seq((1L, words + " x"), (2L, words + " x")).toDF("doc_id", "text")).count()
    // epoch 1: doc 2 deleted, doc 3 added identical to doc 1
    DedupIndex.appendEpoch(spark, dir, 1L,
      Seq((3L, words + " x")).toDF("doc_id", "text"),
      deletes = Some(Seq(Tuple1(2L)).toDF("doc_id")))
    val p1 = DedupIndex.epochPairs(spark, dir, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 === Set((1L, 3L)),
      "the deleted doc must not appear in any pair")
    // epoch 2: doc 2 re-added — live again, pairs against both
    DedupIndex.appendEpoch(spark, dir, 2L,
      Seq((2L, words + " x")).toDF("doc_id", "text"))
    val p2 = DedupIndex.epochPairs(spark, dir, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === Set((1L, 2L), (2L, 3L)))
  }

  test("compaction physically drops docs whose latest signature is a tombstone") {
    val base = tmpDir("sdix-del-compact")
    val dir = s"$base/ix"
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    DedupIndex.appendEpoch(spark, dir, 0L,
      Seq((1L, words + " x"), (2L, words + " x")).toDF("doc_id", "text"))
    DedupIndex.appendEpoch(spark, dir, 1L,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      deletes = Some(Seq(Tuple1(2L)).toDF("doc_id")))
    DedupIndex.appendEpoch(spark, dir, 2L,
      Seq((3L, words + " y")).toDF("doc_id", "text"))
    assert(DedupIndex.compact(spark, dir))
    // the folded strictly-older range [0,1] now holds doc 1 only: doc
    // 2's live row is superseded by its tombstone and BOTH are gone
    val folded = DedupIndex.readSigs(spark, dir, Seq(0L, 1L))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(folded === Set(1L))
  }

  test("streaming op='D' tombstones the url's signature in the sink-maintained index") {
    val base = tmpDir("sdix-opd")
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def ev(seq: Long, op: String, url: String, text: String) =
      (seq, op, url, new java.sql.Timestamp(1700000000000L + seq * 1000L),
        null: Array[Byte], text, "en", null.asInstanceOf[java.lang.Double])
    // segment 0: urls a and b with identical text
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(0L, "U", "https://ex.org/a", words + " x"),
        ev(1L, "U", "https://ex.org/b", words + " x"))
        .toDF(CdcSchema.latest.fieldNames: _*).coalesce(1), "s0")
    // segment 1: b deleted, c added identical to a
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(2L, "D", "https://ex.org/b", null),
        ev(3L, "U", "https://ex.org/c", words + " x"))
        .toDF(CdcSchema.latest.fieldNames: _*).coalesce(1), "s1")
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"))
    val epochs = DedupIndex.committedEpochs(s"$base/ix")
    assert(epochs.size === 2)
    val ids = Map("a" -> xx("https://ex.org/a"), "b" -> xx("https://ex.org/b"),
      "c" -> xx("https://ex.org/c"))
    val pairs = DedupIndex.epochPairs(spark, s"$base/ix", epochs.last)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set(Set(ids("a"), ids("c"))),
      s"deleted url b must pair with nothing, got $pairs")
    graft.analytics.SessionCaches.release(spark)
  }

  test("an update to null or too-short text tombstones the url's old index entries") {
    val base = tmpDir("sdix-empty")
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def ev(seq: Long, url: String, text: String) =
      (seq, "U", url, new java.sql.Timestamp(1700000000000L + seq * 1000L),
        null: Array[Byte], text, "en", null.asInstanceOf[java.lang.Double])
    // segment 0: urls a and b with identical text
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(0L, "https://ex.org/a", words + " x"),
        ev(1L, "https://ex.org/b", words + " x"))
        .toDF(CdcSchema.latest.fieldNames: _*).coalesce(1), "s0")
    // segment 1: a updated to text too short to shingle, b to null
    // text, and c added with the text a and b used to have
    FeedGen.appendSegment(spark, s"$base/feed",
      Seq(ev(2L, "https://ex.org/a", "too short"),
        ev(3L, "https://ex.org/b", null),
        ev(4L, "https://ex.org/c", words + " x"))
        .toDF(CdcSchema.latest.fieldNames: _*).coalesce(1), "s1")
    CdcIngest.runAvailableNow(spark, s"$base/feed", s"$base/table",
      s"$base/ckpt", numBuckets = 4, maxFilesPerTrigger = Some(1),
      dedupIndexDir = Some(s"$base/ix"), metricsDir = Some(s"$base/mx"))
    val epochs = DedupIndex.committedEpochs(s"$base/ix")
    assert(epochs.size === 2)
    val pairs = DedupIndex.epochPairs(spark, s"$base/ix", epochs.last).collect()
    assert(pairs.isEmpty,
      s"a and b no longer carry their old text, c must pair with nothing: ${pairs.toSeq}")
    // metrics: b's null text drops its row; a's short text is a new row
    val metrics = graft.operators.MetricsIndex.readLive(spark, s"$base/mx")
      .select(col("doc_id"), col("ws_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(metrics.keySet === Set(xx("https://ex.org/a"), xx("https://ex.org/c")))
    assert(metrics(xx("https://ex.org/a")) === 2L)
    graft.analytics.SessionCaches.release(spark)
  }

  private def xx(s: String): Long =
    Seq(Tuple1(s)).toDF("u").select(xxhash64(col("u")))
      .collect()(0).getLong(0)

  test("an updated doc's old signature is superseded, not paired against") {
    val base = tmpDir("sdix-upd")
    val dir = s"$base/ix"
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    DedupIndex.foldEpoch(spark, dir, 0L,
      Seq((1L, words + " v-one")).toDF("doc_id", "text")).count()
    // epoch 1: doc 1 updated, plus doc 2 IDENTICAL to doc 1's new text
    val pairs = DedupIndex.foldEpoch(spark, dir, 1L,
      Seq((1L, words + " v-two"), (2L, words + " v-two"))
        .toDF("doc_id", "text")).collect()
    // exactly ONE pair row (1,2): no self-pair of doc 1's two versions,
    // no duplicate est rows from two live signatures of doc 1, and the
    // estimate reflects the LATEST signature (identical texts -> 1.0)
    assert(pairs.length === 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) === (1L, 2L))
    assert(pairs(0).getDouble(2) === 1.0,
      "est must be computed against the latest signature")
  }
}
