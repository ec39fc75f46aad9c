package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.model.CdcSchema
import graft.operators.MergeInto
import graft.table.LakeTable

/** At-least-once duplicate redelivery SPLIT ACROSS EPOCHS: the same
  * event (same url, seq, byte-identical payload) is merged twice, in two
  * different epochs, over every write-path combination. The table must
  * end with exactly one live row per url — the (url, seq) join-back keys
  * are not unique under redelivery, and the write-generation encoding
  * (LakeTable.readTagged) is what keeps one copy.
  *
  * FeedGen emits a dup of seq N at WAL position N+1 (FeedGen.event), so
  * a position-based micro-batch boundary lands the copies in different
  * epochs — the streaming-delivery shape reproduced here directly.
  */
class DupRedeliverySpec extends SparkSpec {
  import spark.implicits._

  private val cols = CdcSchema.latest.fieldNames

  private def ev(seq: Long, op: String, ts: Long, text: String,
                 url: String = "https://dup.example.com/x") =
    (seq, op, url, new java.sql.Timestamp(ts), null: Array[Byte], text, "en",
      null.asInstanceOf[java.lang.Double])

  private def df(evs: (Long, String, String, java.sql.Timestamp, Array[Byte],
      String, String, java.lang.Double)*): DataFrame = evs.toDF(cols: _*)

  private def liveUrls(dir: String): Map[String, Long] =
    LakeTable.readLive(spark, dir).groupBy($"url").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("CoW + CoW: cross-epoch duplicate leaves exactly one row") {
    val dir = tmpDir("dup-cow")
    LakeTable.create(dir, numBuckets = 4)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 0L, MergeInto.CopyOnWrite)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 1L, MergeInto.CopyOnWrite)
    assert(liveUrls(dir) === Map("https://dup.example.com/x" -> 1L))
    assert(LakeTable.load(dir).liveRows === 1L)
  }

  test("CoW base + MoR delta duplicate resolves to one row at read") {
    val dir = tmpDir("dup-mor")
    LakeTable.create(dir, numBuckets = 4)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 0L, MergeInto.CopyOnWrite)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 1L, MergeInto.MergeOnRead)
    assert(LakeTable.load(dir).files.exists(_.kind == "delta"))
    assert(liveUrls(dir) === Map("https://dup.example.com/x" -> 1L))
    // a later CoW epoch on the same bucket folds the duplicate-carrying
    // overlay cleanly and restores exact liveRows accounting
    MergeInto.merge(spark, dir, df(ev(7, "U", 7000L, "v7")), 2L,
      MergeInto.CopyOnWrite)
    val rows = LakeTable.readLive(spark, dir).collect()
    assert(rows.length === 1 && rows(0).getAs[String]("text") === "v7")
    assert(LakeTable.load(dir).liveRows === 1L)
  }

  test("MoR + MoR: duplicate across two delta epochs resolves to one row") {
    val dir = tmpDir("dup-dd")
    LakeTable.create(dir, numBuckets = 4)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 0L, MergeInto.MergeOnRead)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 1L, MergeInto.MergeOnRead)
    assert(LakeTable.load(dir).files.count(_.kind == "delta") === 2)
    assert(liveUrls(dir) === Map("https://dup.example.com/x" -> 1L))

    // non-contiguous generations: a copy-on-write epoch on another bucket
    // between the two delta epochs puts the copies at snapshots N and N+2
    val gap = tmpDir("dup-dd-gap")
    LakeTable.create(gap, numBuckets = 4)
    val dupBucket = Seq("https://dup.example.com/x").toDF("url")
      .select(LakeTable.bucketOf($"url", 4)).head.getInt(0)
    val other = (0 until 64).map(i => s"https://other.example.com/$i").find(u =>
      Seq(u).toDF("url").select(LakeTable.bucketOf($"url", 4)).head.getInt(0) != dupBucket).get
    MergeInto.merge(spark, gap, df(ev(5, "U", 5000L, "v5")), 0L, MergeInto.MergeOnRead)
    MergeInto.merge(spark, gap, df(ev(6, "U", 6000L, "v6", other)), 1L, MergeInto.CopyOnWrite)
    MergeInto.merge(spark, gap, df(ev(5, "U", 5000L, "v5")), 2L, MergeInto.MergeOnRead)
    val deltaSnaps = LakeTable.load(gap).files.filter(_.kind == "delta")
      .map(_.path.split('/')(1).drop(1).takeWhile(_.isDigit).toLong).sorted
    assert(deltaSnaps === List(1L, 3L))
    assert(liveUrls(gap) === Map("https://dup.example.com/x" -> 1L, other -> 1L))
  }

  test("duplicate does not disturb LWW against a newer event") {
    val dir = tmpDir("dup-lww")
    LakeTable.create(dir, numBuckets = 4)
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 0L, MergeInto.CopyOnWrite)
    // epoch 1 redelivers seq 5 alongside a newer event for the same url
    MergeInto.merge(spark, dir,
      df(ev(5, "U", 5000L, "v5"), ev(9, "U", 9000L, "v9")), 1L, MergeInto.CopyOnWrite)
    val rows = LakeTable.readLive(spark, dir).collect()
    assert(rows.length === 1 && rows(0).getAs[String]("text") === "v9")
    // and a redelivered LOSER (older than stored state) is absorbed too
    MergeInto.merge(spark, dir, df(ev(5, "U", 5000L, "v5")), 2L, MergeInto.MergeOnRead)
    val rows2 = LakeTable.readLive(spark, dir).collect()
    assert(rows2.length === 1 && rows2(0).getAs[String]("text") === "v9")
  }

  test("position-sliced dup-heavy feed: no url duplicated; state == raw-log oracle") {
    val cfg = FeedGen.Config(seed = 11L, n = 3000L, nDomains = 30,
      pathsPerDomain = 5, dupRate = 0.2, evolveAt = 2000L, segments = 3)
    val dir = tmpDir("dup-feed")
    LakeTable.create(dir, numBuckets = 8)
    // micro-batches sliced by WAL POSITION (as the file stream delivers
    // them): a dup at position N+1 with N+1 on a boundary lands in the
    // next epoch while its original stays in the previous one
    val c = cfg
    val bounds = Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L))
    bounds.zipWithIndex.foreach { case ((lo, hi), e) =>
      val batch = spark.range(lo, hi).map(i => FeedGen.event(c, i)).toDF()
      MergeInto.merge(spark, dir, MergeInto.alignToLatest(batch), e.toLong)
    }
    val live = LakeTable.readLive(spark, dir)
    assert(live.groupBy($"url").count().filter($"count" > 1).count() === 0L)
    val full = MergeInto.alignToLatest(
      spark.range(0L, cfg.n).map(i => FeedGen.event(c, i)).toDF())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"url").orderBy($"warc_ts".desc, $"seq".desc)
    val exp = full.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D").drop("rn", "op")
    def key(d: DataFrame) = d.select($"url", $"warc_ts".cast("long"), $"seq",
        $"text", $"lang", coalesce($"extra_score", lit(-1.0)))
      .collect().map(_.toString).sorted
    assert(key(live) === key(exp))
  }
}
