package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.feedgen.FeedGen
import graft.operators.MergeInto
import graft.table.{Changelog, LakeTable}

/** Snapshot time travel + incremental change reads: applying
  * `changesSince(S)` to the time-travel state at S must reproduce the
  * current state exactly (the CDC-out replay contract), under both
  * copy-on-write and merge-on-read epochs; file pruning is
  * manifest-level.
  */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  val cfg = FeedGen.Config(seed = 11L, n = 5000L, nDomains = 30,
    pathsPerDomain = 6, evolveAt = 3000L, segments = 4)

  def key(df: DataFrame): Array[String] =
    df.select($"url", $"warc_ts".cast("long"), $"seq", $"text", $"lang",
        coalesce($"extra_score", lit(-1.0)),
        md5(coalesce($"html", lit(Array.empty[Byte]))))
      .collect().map(_.toString).sorted

  def oracle(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"url").orderBy($"warc_ts".desc, $"seq".desc)
    feed.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D").drop("rn", "op")
  }

  /** Ingest in 3 epochs; middle one forced merge-on-read so the
    * changelog crosses a delta overlay. Returns (feedDir, tableDir,
    * snapshotId after each epoch).
    */
  def setup(): (String, String, Seq[Long]) = {
    val feedDir = tmpDir("cl-feed")
    val dir = tmpDir("cl-table")
    FeedGen.writeSegments(spark, cfg, feedDir)
    LakeTable.create(dir, numBuckets = 16)
    val feed = FeedGen.readFeed(spark, feedDir)
    // epoch 3 is a ~12-event trickle: most of the 16 buckets stay
    // untouched, exercising manifest-level pruning
    val modes = Seq(MergeInto.CopyOnWrite, MergeInto.MergeOnRead, MergeInto.Auto)
    val bounds = Seq((0L, 3000L), (3000L, 4200L), (4200L, 4212L))
    val snaps = bounds.zip(modes).zipWithIndex.map { case (((lo, hi), m), e) =>
      MergeInto.merge(spark, dir,
        feed.filter($"seq" >= lo && $"seq" < hi), e.toLong, m)
        .snapshot.snapshotId
    }
    (feedDir, dir, snaps)
  }

  test("time travel: readLiveAt(S_i) == raw-log oracle over the applied prefix") {
    val (feedDir, dir, snaps) = setup()
    val feed = FeedGen.readFeed(spark, feedDir)
    val bounds = Seq(3000L, 4200L, 4212L)
    snaps.zip(bounds).foreach { case (s, hi) =>
      assert(key(Changelog.readLiveAt(spark, dir, s)) ===
        key(oracle(feed.filter($"seq" < hi))),
        s"time-travel state at snapshot $s != oracle over seq<$hi")
    }
  }

  test("changes applied to the from-snapshot reproduce the to-snapshot exactly") {
    val (_, dir, snaps) = setup()
    for (from <- snaps) {
      val changes = Changelog.changesSince(spark, dir, from)
      val base = Changelog.readLiveAt(spark, dir, from)
      val changedUrls = changes.select($"url").distinct()
      val replayed = base.join(changedUrls, Seq("url"), "left_anti")
        .unionByName(changes.filter($"op" === "U").drop("op"))
      assert(key(replayed) === key(LakeTable.readLive(spark, dir)),
        s"replay from snapshot $from diverged")
    }
    // the full-history changelog (from the empty snapshot) contains
    // every live row plus the retained delete tombstones
    val all = Changelog.changesSince(spark, dir, 0L)
    assert(all.filter($"op" === "D").count() > 0, "expected delete events")
    assert(key(all.filter($"op" === "U").drop("op")) ===
      key(LakeTable.readLive(spark, dir)))
  }

  test("file pruning: buckets untouched since the from-snapshot are skipped") {
    val (_, dir, snaps) = setup()
    val from = Changelog.loadVersion(dir, snaps(1))
    val to = LakeTable.load(dir)
    val cand = Changelog.candidateFiles(from, to)
    // epoch 3 touched a strict subset of buckets (800 events, 8 buckets,
    // but the earlier epochs touched all 8) — every candidate file must
    // belong to a bucket whose lineage advanced
    val advanced = to.lineage.filter { case (b, s) =>
      s > from.lineage.getOrElse(b, Long.MinValue)
    }.keySet.map(_.toInt)
    assert(cand.nonEmpty)
    assert(cand.map(_.bucket).toSet.subsetOf(advanced))
    assert(cand.size < to.files.size,
      "pruning must skip files of untouched buckets")
  }

  test("changesSince emits nothing when nothing changed") {
    val (_, dir, snaps) = setup()
    assert(Changelog.changesSince(spark, dir, snaps.last).count() === 0L)
  }

  test("file ts stats are the exact millisecond extremes of each file's rows") {
    import graft.model.CdcSchema
    val dir = tmpDir("ts-ms") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    val cols = CdcSchema.latest.fieldNames
    val evs = (0 until 16).map(i => (i.toLong, "U", s"https://ms$i/x",
      new java.sql.Timestamp(1700000000000L + i * 1237L + 999L), null: Array[Byte],
      s"t$i", "en", null.asInstanceOf[java.lang.Double]))
    MergeInto.merge(spark, dir, evs.toDF(cols: _*), 0L, MergeInto.CopyOnWrite)
    MergeInto.merge(spark, dir, evs.take(5).map(e => e.copy(_1 = e._1 + 100L,
      _4 = new java.sql.Timestamp(e._4.getTime + 1L))).toDF(cols: _*), 1L,
      MergeInto.MergeOnRead)
    val files = LakeTable.load(dir).files
    assert(files.exists(_.kind == "delta"))
    files.foreach { f =>
      val r = spark.read.parquet(s"$dir/${f.path}")
        .agg(min(unix_millis($"warc_ts")), max(unix_millis($"warc_ts"))).head
      assert((f.minTsMs, f.maxTsMs) === ((r.getLong(0), r.getLong(1))), s"${f.path}")
    }
  }

  test("time-range live read prunes files by manifest ts stats, result identical") {
    import graft.model.CdcSchema
    import graft.operators.MergeInto
    val dir = tmpDir("ts-range") + "/t"
    LakeTable.create(dir, numBuckets = 4)
    val cols = CdcSchema.latest.fieldNames
    def ev(seq: Long, url: String, tsMs: Long) =
      (seq, "U", url, new java.sql.Timestamp(tsMs), null: Array[Byte],
        s"t$seq", "en", null.asInstanceOf[java.lang.Double])
    // epoch 0: an "old era" batch; epoch 1: a "new era" batch on OTHER
    // urls — different buckets get files with disjoint ts ranges
    val oldEra = (0 until 8).map(i => ev(i.toLong, s"https://old$i/x", 1000000L + i * 1000L))
    val newEra = (0 until 8).map(i => ev(100L + i, s"https://new$i/x", 9000000L + i * 1000L))
    MergeInto.merge(spark, dir, oldEra.toDF(cols: _*), 0L, MergeInto.CopyOnWrite)
    MergeInto.merge(spark, dir, newEra.toDF(cols: _*), 1L, MergeInto.CopyOnWrite)

    val pruned = LakeTable.readLiveInRange(spark, dir, 0L, 2000000L)
    val unpruned = LakeTable.readLive(spark, dir)
      .filter(unix_millis($"warc_ts") <= 2000000L)
    assert(key(pruned) === key(unpruned))
    assert(pruned.count() === 8L)
    // pruning really skipped the new-era files
    val allFiles = LakeTable.readLive(spark, dir).inputFiles.length
    assert(pruned.inputFiles.length < allFiles,
      s"expected fewer than $allFiles files after ts pruning")

    // delta-carrying buckets are read whole and still filter correctly
    MergeInto.merge(spark, dir,
      Seq(ev(200L, "https://old0/x", 9500000L)).toDF(cols: _*), 2L,
      MergeInto.MergeOnRead)
    val afterDelta = LakeTable.readLiveInRange(spark, dir, 0L, 2000000L)
    // old0 moved out of the range (its winner is now the 9500s update)
    assert(afterDelta.count() === 7L)
    assert(afterDelta.filter($"url" === "https://old0/x").count() === 0L)
  }
}
