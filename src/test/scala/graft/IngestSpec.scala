package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.feedgen.{FeedGen, TextExtract}
import graft.model.CdcSchema
import graft.operators.MergeInto
import graft.table.LakeTable

/** End-to-end batch ingest: feedgen → collapse → merge (multiple epochs)
  * → final table state equals the naive LWW oracle computed directly on
  * the raw log; epoch retry is a no-op; text bytes are identical per url.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  val cfg = FeedGen.Config(seed = 42L, n = 8000L, nDomains = 60,
    pathsPerDomain = 8, evolveAt = 5000L, segments = 4)

  /** Naive oracle: latest event per url straight off the raw log,
    * deletes removed — computed with a window, independent of the
    * engine's union-collapse path.
    */
  def oracle(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"url").orderBy($"warc_ts".desc, $"seq".desc)
    feed.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D")
      .drop("rn", "op")
  }

  def sortedState(df: DataFrame): Array[String] =
    df.select($"url", $"warc_ts".cast("long"), $"seq", $"text", $"lang",
        coalesce($"extra_score", lit(-1.0)), md5(coalesce($"html", lit(Array.empty[Byte]))))
      .collect().map(_.toString).sorted

  test("feedgen invariant: text == extract(html) for every event") {
    val bad = FeedGen.events(spark, cfg)
      .filter(e => e.op != "D" && e.text != TextExtract.extract(e.html))
      .count()
    assert(bad === 0L)
  }

  test("hot url: one url carries the whole batch; exact winner seq and text") {
    // one url carries the whole batch (crawl-hot domain): its thousands
    // of losers pass phase B only as filter false positives, and the
    // exact LWW winner must still be the one stored
    val dir = tmpDir("hot-url")
    LakeTable.create(dir, numBuckets = 4)
    val cols = CdcSchema.latest.fieldNames
    def hot(lo: Long, hi: Long) = spark.range(lo, hi).toDF("i").select(
      col("i").as("seq"), lit("U").as("op"),
      lit("https://hot.example.com/x").as("url"),
      timestamp_seconds(lit(1000L) + col("i") % 7).as("warc_ts"),
      lit(null).cast("binary").as("html"),
      concat(lit("v"), col("i")).as("text"), lit("en").as("lang"),
      lit(null).cast("double").as("extra_score"))
    // ts = 1000 + (seq % 7): max ts 1006 first reached at seq 6, last at
    // the largest seq ≡ 6 (mod 7) — ties break on seq
    val b1 = hot(0L, 2500L).select(cols.map(col).toIndexedSeq: _*)
    val b2 = hot(2500L, 5000L).select(cols.map(col).toIndexedSeq: _*)
    MergeInto.merge(spark, dir, b1, 0L)
    MergeInto.merge(spark, dir, b2, 1L)
    val rows = LakeTable.readLive(spark, dir).collect()
    val expSeq = (0L until 5000L).filter(i => i % 7 == 6L).max
    assert(rows.length === 1 && rows(0).getAs[Long]("seq") === expSeq)
    assert(rows(0).getAs[String]("text") === s"v$expSeq")
  }

  test("batch merge over 4 epochs matches naive LWW oracle; retry idempotent") {
    val feedDir = tmpDir("feed")
    val tableDir = tmpDir("table")
    FeedGen.writeSegments(spark, cfg, feedDir)
    LakeTable.create(tableDir, numBuckets = 16)

    val feed = FeedGen.readFeed(spark, feedDir)
    // 4 epochs split by seq range (mimics micro-batches)
    val bounds = Seq((0L, 2000L), (2000L, 4000L), (4000L, 6000L), (6000L, 9000L))
    bounds.zipWithIndex.foreach { case ((lo, hi), e) =>
      val b = feed.filter($"seq" >= lo && $"seq" < hi)
      val r1 = MergeInto.merge(spark, tableDir, b, e.toLong)
      assert(r1.applied)
      // exactly-once: redelivered epoch is skipped
      val r2 = MergeInto.merge(spark, tableDir, b, e.toLong)
      assert(!r2.applied)
    }

    val got = LakeTable.readLive(spark, tableDir)
    val exp = oracle(feed)
    assert(got.count() === exp.count())
    assert(sortedState(got) === sortedState(exp))

    // byte-identical text per url: re-derive text from stored html
    val rederived = got.filter($"html".isNotNull).collect().forall { r =>
      val html = r.getAs[Array[Byte]]("html")
      TextExtract.extract(html) == r.getAs[String]("text")
    }
    assert(rederived)

    // ledger: all 4 epochs committed exactly once; lineage non-empty
    val snap = LakeTable.load(tableDir)
    assert((0L to 3L).forall(snap.isCommitted))
    assert(snap.epochFloor === 3L && snap.committedEpochs.isEmpty)
    assert(snap.epochStats.map(_.epochId) === List(0L, 1L, 2L, 3L))
    assert(snap.totals.epochs === 4L)
    assert(snap.lineage.nonEmpty)
    assert(snap.liveRows === exp.count())
  }

  test("late update older than tombstone does not resurrect the row") {
    val tableDir = tmpDir("table-ts")
    LakeTable.create(tableDir, numBuckets = 4)
    def ev(seq: Long, op: String, ts: Long, text: String) =
      (seq, op, "https://x.example.com/1",
        new java.sql.Timestamp(ts), null: Array[Byte], text, "en",
        null.asInstanceOf[java.lang.Double])
    val cols = CdcSchema.latest.fieldNames
    val b1 = Seq(ev(1, "I", 1000L, "v1"), ev(3, "D", 3000L, null)).toDF(cols: _*)
    val b2 = Seq(ev(2, "U", 2000L, "v2-late")).toDF(cols: _*) // older than D
    MergeInto.merge(spark, tableDir, b1, 0L)
    MergeInto.merge(spark, tableDir, b2, 1L)
    assert(LakeTable.readLive(spark, tableDir).count() === 0L)
    // and a NEWER update after the tombstone does resurrect
    val b3 = Seq(ev(4, "U", 4000L, "v3-new")).toDF(cols: _*)
    MergeInto.merge(spark, tableDir, b3, 2L)
    val rows = LakeTable.readLive(spark, tableDir).collect()
    assert(rows.length === 1 && rows(0).getAs[String]("text") === "v3-new")
  }

  test("an undated-only url has no winner: not counted as an upsert") {
    // lww_seq ignores null-warc_ts events, so url u2 has no winner and
    // the table never writes it — the epoch's stats must not count it
    val tableDir = tmpDir("table-undated")
    LakeTable.create(tableDir, numBuckets = 4)
    val cols = CdcSchema.latest.fieldNames
    def ev(seq: Long, url: String, ts: Option[Long]) =
      (seq, "U", url, ts.map(new java.sql.Timestamp(_)).orNull,
        null: Array[Byte], s"t$seq", "en", null.asInstanceOf[java.lang.Double])
    val b = Seq(ev(1, "https://x.example.com/u1", Some(1000L)),
      ev(2, "https://x.example.com/u2", None),
      ev(3, "https://x.example.com/u2", None)).toDF(cols: _*)
    val r = MergeInto.merge(spark, tableDir, b, 0L)
    assert(r.events === 3L && r.upserts === 1L && r.deletes === 0L)
    assert(LakeTable.load(tableDir).totals.upserts === 1L)
    assert(LakeTable.readLive(spark, tableDir).count() === 1L)
  }

  test("schema evolution: v1 batch (no extra_score) merges into v2 table") {
    val tableDir = tmpDir("table-ev")
    LakeTable.create(tableDir, numBuckets = 4)
    val v1cols = CdcSchema.v1.fieldNames
    val b1 = Seq((1L, "I", "https://e.example.com/1",
      new java.sql.Timestamp(1000L), null: Array[Byte], "t1", "en"))
      .toDF(v1cols: _*)
    MergeInto.merge(spark, tableDir, b1, 0L)
    val got = LakeTable.readLive(spark, tableDir)
    assert(got.columns.contains("extra_score"))
    assert(got.select($"extra_score").collect()(0).isNullAt(0))
  }
}
