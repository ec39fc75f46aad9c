package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.feedgen.FeedGen
import graft.streaming.{CdcIngest, DomainStatsRollup}
import graft.table.{Changelog, LakeTable, Maintenance}

/** Feed staging and output checks shared by the ingest workloads. */
object Feeds {
  /** Events [lo, hi) of the seeded feed as one WAL segment file per slice. */
  def stage(spark: SparkSession, cfg: FeedGen.Config, dir: String,
            lo: Long, hi: Long, files: Int, tag: String): Unit = {
    import spark.implicits._
    val c = cfg
    FeedGen.appendSegment(spark, dir,
      spark.range(lo, hi, 1, files).map(i => FeedGen.event(c, i)).toDF(), tag)
  }

  /** Snapshots in (fromId, toId] that added delta (merge-on-read) files. */
  def morEpochs(table: String, fromId: Long, toId: Long): Int = {
    def deltaDirs(id: Long) = Changelog.loadVersion(table, id).files
      .filter(_.kind == "delta").map(_.path.split('/')(1)).toSet
    ((fromId + 1) to toId).count(v => (deltaDirs(v) -- deltaDirs(v - 1)).nonEmpty)
  }

  /** Stamp WAL order into the mtimes of a staged feed: the file source
    * takes files oldest first, and one job wrote them all at once. The
    * stamps stay within the last hour (the source skips files older than
    * its `maxFileAge` behind the newest one it has seen).
    */
  def stampOrder(wal: String): Seq[java.nio.file.Path] = {
    val files = graft.FsUtil.listDir(Paths.get(wal))(_.toList).sortBy(_.toString)
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    files
  }

  /** Data files, delta files, data bytes and manifest bytes of CURRENT. */
  def tableState(table: String): Map[String, Double] = {
    val s = LakeTable.load(table)
    val bytes = s.files.map(f => Files.size(Paths.get(table, f.path))).sum
    val cur = Files.readString(Paths.get(table, "meta", "CURRENT")).trim
    Map(
      "table.files_live" -> s.files.size.toDouble,
      "table.delta_files_live" -> s.files.count(_.kind == "delta").toDouble,
      "table.bytes_live" -> bytes.toDouble,
      "table.manifest_bytes" -> Files.size(Paths.get(table, "meta", s"$cur.json")).toDouble)
  }

  def bytesPerRow(table: String): Double =
    tableState(table)("table.bytes_live") / math.max(LakeTable.load(table).liveRows, 1L)

  private def signature(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(col("url"), col("seq"), xxhash64(col("text"))))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The latest-per-url oracle: max(warc_ts), ties by max(seq); deletes drop. */
  def lwwOracle(spark: SparkSession, feed: String): DataFrame = {
    val w = SqlWindow.partitionBy(col("url")).orderBy(col("warc_ts").desc, col("seq").desc)
    FeedGen.readFeed(spark, feed).withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "D").drop("_rn")
  }

  /** Table == LWW oracle (count + order-free checksum) and the ledger
    * counted every fed event exactly once.
    */
  def checkTable(spark: SparkSession, feed: String, table: String, what: String): Seq[String] = {
    val fed = FeedGen.readFeed(spark, feed).count()
    val got = signature(LakeTable.readLive(spark, table))
    val want = signature(lwwOracle(spark, feed))
    val events = LakeTable.load(table).totals.events
    Seq(
      if (got != want) Some(s"$what: table (rows, checksum) $got != LWW oracle $want") else None,
      if (events != fed) Some(s"$what: ledger totals.events $events != $fed events fed") else None
    ).flatten
  }
}

/** `ingest_bulk`: large tails on a backfilled table. Warm-up backfills
  * the table in one `runAvailableNow` drain (its wall gives
  * `backfill_eps`) and drains one tail. Each unit of work then appends one
  * staged tail segment of 1/8 of the backfill after the previous commit
  * and drains it with its own `runAvailableNow`. No sinks.
  */
final class IngestBulk(n: Long) extends Workload {
  val Buckets = 16
  val Staged = 12
  private val tailN = n / 8
  private var tails: Seq[java.nio.file.Path] = Nil
  private var next = 0
  private var mor = 0
  private var backfillS = 0.0
  private def base(c: Ctx) = c.dir("stage_0")
  private def table(c: Ctx) = s"${base(c)}/table"
  private def feed(c: Ctx) = s"${base(c)}/feed"

  def setup(c: Ctx, r: Int): Unit = {
    // Zipf domains over 20 k url keys, 7 % deletes, 3 % redeliveries,
    // schema v2 from the middle of the backfill on
    val cfg = FeedGen.Config(seed = c.seed, n = n, nDomains = 400,
      pathsPerDomain = 50, evolveAt = n / 2, segments = 8)
    FeedGen.writeSegments(c.spark, cfg, c.dir(s"stage_$r/feed"))
    Feeds.stage(c.spark, cfg, c.dir(s"stage_$r/tails"), n, n + Staged * tailN, Staged, "t")
  }

  def warmUp(c: Ctx): Unit = {
    tails = graft.FsUtil.listDir(Paths.get(s"${base(c)}/tails/wal"))(_.toList).sortBy(_.toString)
    backfillS = Units.timed(
      CdcIngest.runAvailableNow(c.spark, feed(c), table(c), s"${base(c)}/ckpt", Buckets))
    drain(c)
  }

  /** Land the next staged tail and drain it; its wall, or None when none is left. */
  private def drain(c: Ctx): Option[Double] = {
    if (next >= tails.size) return None
    val before = LakeTable.load(table(c)).snapshotId
    val t = tails(next)
    next += 1
    val wall = c.op("streaming.run_available_now") {
      Files.createLink(Paths.get(s"${feed(c)}/wal").resolve(t.getFileName), t)
      CdcIngest.runAvailableNow(c.spark, feed(c), table(c), s"${base(c)}/ckpt", Buckets)
    }.map(_._2)
    mor += Feeds.morEpochs(table(c), before, LakeTable.load(table(c)).snapshotId)
    wall
  }

  def window(c: Ctx, seconds: Double): Window = {
    val (units, wall) = Units.run(seconds)(drain(c))
    Window(units, units, tailN.toDouble * units.size, wall, Map(
      "backfill_eps" -> n / backfillS,
      "tail_eps" -> tailN * units.size / math.max(units.sum, 1e-9)))
  }

  override def layers(c: Ctx): Map[String, Double] =
    Feeds.tableState(table(c)) ++ Map("operators.merge.mor_epochs" -> mor.toDouble)

  def check(c: Ctx): Seq[String] = Feeds.checkTable(c.spark, feed(c), table(c), "ingest_bulk")
}

/** A long-running processing-time ingest on staged copy 0 that the
  * benchmark feeds one staged WAL segment at a time: landing a segment
  * and waiting for it (`processAllAvailable`) is one epoch.
  */
abstract class Served extends Workload {
  val Buckets = 16
  protected var query: Option[StreamingQuery] = None
  protected var segs: Seq[java.nio.file.Path] = Nil
  protected var next = 0
  protected var mor = 0
  protected def base(c: Ctx) = c.dir("stage_0")
  protected def table(c: Ctx) = s"${base(c)}/table"
  protected def feed(c: Ctx) = s"${base(c)}/feed"
  protected def startQuery(c: Ctx): StreamingQuery

  /** Start the query, then one untimed pass of the loop. */
  def warmUp(c: Ctx): Unit = {
    segs = Feeds.stampOrder(s"${base(c)}/segs/wal")
    val q = startQuery(c)
    q.processAllAvailable()
    query = Some(q)
    window(c, 0.0)
  }

  /** Land the next staged segment and wait for its epoch; false when none is left. */
  protected def epoch(c: Ctx, into: mutable.ArrayBuffer[Double]): Boolean = {
    if (next >= segs.size) {
      System.err.println(s"perfbench: all ${segs.size} staged segments used")
      return false
    }
    val prev = LakeTable.load(table(c)).snapshotId
    val s = segs(next)
    next += 1
    c.op("streaming.process_all_available") {
      Files.createLink(Paths.get(s"${feed(c)}/wal").resolve(s.getFileName), s)
      query.get.processAllAvailable()
    }.foreach { case (_, t) => into += t }
    mor += Feeds.morEpochs(table(c), prev, LakeTable.load(table(c)).snapshotId)
    true
  }

  override def close(c: Ctx): Unit = {
    query.foreach { q => q.stop(); q.awaitTermination() }
    query = None
  }
}

/** `ingest_sinks`: the same generator, smaller epochs, all four side
  * sinks on (domain stats, dedup signature index, metrics index, dup-
  * cluster index). The table starts from one segment; every unit of work
  * is one more epoch of [[seg]] events through the merge and the sinks.
  */
final class IngestSinks(seg: Long) extends Served {
  val Segments = 16
  private def sink(c: Ctx, d: String) = s"${base(c)}/sink-$d"

  def setup(c: Ctx, r: Int): Unit = {
    val cfg = FeedGen.Config(seed = c.seed, n = Segments * seg, nDomains = 200,
      pathsPerDomain = 40, evolveAt = Segments * seg / 2, segments = Segments)
    FeedGen.writeSegments(c.spark, cfg, c.dir(s"stage_$r/segs"))
  }

  protected def startQuery(c: Ctx): StreamingQuery = {
    Files.createDirectories(Paths.get(s"${feed(c)}/wal"))
    CdcIngest.start(c.spark, feed(c), table(c), s"${base(c)}/ckpt", Buckets,
      maxFilesPerTrigger = Some(1), trigger = Trigger.ProcessingTime(0L),
      statsDir = Some(sink(c, "stats")), dedupIndexDir = Some(sink(c, "dedup")),
      metricsDir = Some(sink(c, "metrics")), clusterIndexDir = Some(sink(c, "cluster")))
  }

  def window(c: Ctx, seconds: Double): Window = {
    val epochs = mutable.ArrayBuffer[Double]()
    val (units, wall) = Units.run(seconds) {
      val n = epochs.size
      if (epoch(c, epochs) && epochs.size > n) Some(epochs.last) else None
    }
    Window(units, epochs.toSeq, seg.toDouble * epochs.size, wall,
      Map("sinks_eps" -> seg * epochs.size / math.max(epochs.sum, 1e-9)))
  }

  override def layers(c: Ctx): Map[String, Double] =
    Feeds.tableState(table(c)) ++ Map(
      "operators.merge.mor_epochs" -> mor.toDouble,
      "operators.sinks.index_bytes" -> Layers.SinkDirs
        .map { case (_, d) => Stats.dirBytes(base(c) + d) }.sum.toDouble)

  def check(c: Ctx): Seq[String] = {
    close(c)
    val spark = c.spark
    val table = Feeds.checkTable(spark, feed(c), this.table(c), "ingest_sinks")
    // stats sink == the batch rollup over the whole feed
    val batch = DomainStatsRollup.delta(FeedGen.readFeed(spark, feed(c)))
    val kept = DomainStatsRollup.read(spark, sink(c, "stats")).select(batch.columns.map(col): _*)
    val statsBad = kept.exceptAll(batch).count() + batch.exceptAll(kept).count()
    // index sinks: one live entry per live url with text; the dedup index
    // per live url whose text is non-empty (it has words to sign)
    val withText = Feeds.lwwOracle(spark, feed(c)).filter(col("text").isNotNull)
    def sameDocs(name: String, docs: DataFrame, nonEmpty: Boolean): Option[String] = {
      val live = (if (nonEmpty) withText.filter(length(trim(col("text"))) > 0) else withText)
        .select(xxhash64(col("url")).as("doc_id"))
      val extra = docs.exceptAll(live).count()
      val missing = live.exceptAll(docs).count()
      if (extra + missing > 0)
        Some(s"ingest_sinks: $name index has $extra unexpected and $missing missing live entries")
      else None
    }
    val ix = sink(c, "dedup")
    val sigs = graft.operators.DedupIndex.readSigs(spark, ix,
      graft.operators.DedupIndex.committedEpochs(ix))
    val latest = SqlWindow.partitionBy(col("doc_id")).orderBy(col("_sig_epoch").desc)
    val dedup = sigs.withColumn("_rn", row_number().over(latest))
      .filter(col("_rn") === 1 && col("mh_0").isNotNull).select(col("doc_id"))
    val metrics = graft.operators.MetricsIndex.readLive(spark, sink(c, "metrics"))
      .select(col("doc_id"))
    // cluster sink: every labelled node is a document the dedup index signed
    val strayNodes = graft.operators.ClusterIndex.readLabels(spark, sink(c, "cluster"))
      .select(col("node").as("doc_id")).distinct()
      .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_anti").count()
    table ++ Seq(
      if (statsBad > 0) Some(s"ingest_sinks: stats rollup differs from the batch rollup in $statsBad rows") else None,
      sameDocs("dedup", dedup, nonEmpty = true),
      sameDocs("metrics", metrics, nonEmpty = false),
      if (strayNodes > 0) Some(s"ingest_sinks: $strayNodes cluster nodes were never signed") else None
    ).flatten
  }
}

/** `trickle_serve`: writes beside reads on one table. Set-up backfills
  * the table; each unit of work lands one small staged segment (1/256 of
  * the table's events, so `Auto` picks merge-on-read), waits for its
  * epoch, reads the live table grouped by `lang`, and reads the changes
  * since the previous snapshot. Every [[MaintainEvery]]-th segment is
  * followed by `Maintenance.autoMaintain`.
  */
final class TrickleServe(n: Long) extends Served {
  val MaintainEvery = 4
  val Staged = 32
  private val segN = n / 256
  private var compactions = 0
  private val epochs, live, changes = mutable.ArrayBuffer[Double]()

  def setup(c: Ctx, r: Int): Unit = {
    val cfg = FeedGen.Config(seed = c.seed, n = n, nDomains = 400,
      pathsPerDomain = 50, evolveAt = n / 2, segments = 8)
    val b = c.dir(s"stage_$r")
    FeedGen.writeSegments(c.spark, cfg, s"$b/feed")
    Feeds.stage(c.spark, cfg, s"$b/segs", n, n + Staged * segN, Staged, "s")
  }

  /** The pre-built table: one backfill of copy 0 before the query starts. */
  protected def startQuery(c: Ctx): StreamingQuery = {
    CdcIngest.runAvailableNow(c.spark, feed(c), table(c), s"${base(c)}/ckpt", Buckets)
    CdcIngest.start(c.spark, feed(c), table(c), s"${base(c)}/ckpt", Buckets,
      trigger = Trigger.ProcessingTime(0L))
  }

  def window(c: Ctx, seconds: Double): Window = {
    epochs.clear(); live.clear(); changes.clear()
    val (units, wall) = Units.run(seconds) {
      val u0 = System.nanoTime()
      val prev = LakeTable.load(table(c)).snapshotId
      if (!epoch(c, epochs)) None
      else {
        c.op("table.read_live") {
          LakeTable.readLive(c.spark, table(c)).groupBy(col("lang")).count().collect()
        }.foreach { case (_, s) => live += s }
        c.op("table.changes") {
          Changelog.changesSince(c.spark, table(c), prev)
            .write.format("noop").mode("overwrite").save()
        }.foreach { case (_, s) => changes += s }
        if (next % MaintainEvery == 0)
          c.op("table.maintain")(Maintenance.autoMaintain(c.spark, table(c)))
            .foreach { case ((compacted, _), _) => if (compacted) compactions += 1 }
        Some((System.nanoTime() - u0) / 1e9)
      }
    }
    def q(xs: mutable.ArrayBuffer[Double], p: Double) = Stats.quantile(xs.toSeq, p)
    Window(units, (epochs ++ live ++ changes).toSeq, segN.toDouble * epochs.size, wall, Map(
        "epoch_p50_s" -> q(epochs, 0.5), "epoch_p90_s" -> q(epochs, 0.9),
        "live_read_p50_s" -> q(live, 0.5), "live_read_p90_s" -> q(live, 0.9),
        "changes_p50_s" -> q(changes, 0.5), "changes_p90_s" -> q(changes, 0.9),
        "table_bytes_per_row" -> Feeds.bytesPerRow(table(c))))
  }

  override def layers(c: Ctx): Map[String, Double] =
    Feeds.tableState(table(c)) ++ Map(
      "operators.merge.mor_epochs" -> mor.toDouble,
      "table.maintain.compactions" -> compactions.toDouble)

  def check(c: Ctx): Seq[String] = {
    close(c)
    Feeds.checkTable(c.spark, feed(c), table(c), "trickle_serve")
  }
}
