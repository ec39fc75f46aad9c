package graft.table

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import graft.model.CdcSchema

/** One parquet data file tracked by a snapshot, with pruning stats
  * (Iceberg-v2-style manifest entry; reference analog: the SQLite file +
  * its indexes, SURVEY §4 "index-based access").
  *
  * `kind` = "base" (copy-on-write bucket file: at most one row per url)
  * or "delta" (merge-on-read overlay: per-epoch LWW winners appended
  * without rewriting the bucket — Iceberg-v2 equality-delete/upsert
  * analog; a delta row with tombstone=true is an equality delete on
  * url). Readers LWW-collapse base∪delta per bucket at read time.
  */
case class FileEntry(
    path: String, bucket: Int, rows: Long, live: Long, tombs: Long,
    minSeq: Long, maxSeq: Long, minTsMs: Long, maxTsMs: Long,
    kind: String = "base")

/** Per-epoch ingest ledger row (reference analog: `etl_runs`,
  * /root/reference/convoetl/db/etl.py:15–55 — start/end ids, counts,
  * status, messages_per_second).
  */
case class EpochStat(
    epochId: Long, events: Long, upserts: Long, deletes: Long,
    durationMs: Long, eventsPerSec: Double)

/** Lifetime epoch-metric totals — the rolled-up remainder once
  * individual [[EpochStat]] rows age out of the manifest's bounded
  * window ([[LakeTable.EpochStatsWindow]]). Maintained on every commit,
  * so `totals` always covers ALL epochs ever, window or not.
  */
case class EpochTotals(
    epochs: Long = 0L, events: Long = 0L, upserts: Long = 0L,
    deletes: Long = 0L, durationMs: Long = 0L) {
  def add(s: EpochStat): EpochTotals = EpochTotals(
    epochs + 1, events + s.events, upserts + s.upserts,
    deletes + s.deletes, durationMs + s.durationMs)
}

/** Immutable snapshot manifest. `lineage` maps bucket → max applied seq
  * (per-partition lineage offsets, north_rule).
  *
  * Exactly-once ledger, BOUNDED: `epochFloor` and `committedEpochs` are
  * the [[EpochLedger]]'s floor and the committed ids above it. Use
  * [[Snapshot.isCommitted]], never `committedEpochs.contains`.
  *
  * `epochStats` is likewise a bounded window of the most recent
  * [[LakeTable.EpochStatsWindow]] epochs; `totals` carries the lifetime
  * aggregate of everything that aged out (and everything in-window).
  */
case class Snapshot(
    snapshotId: Long,
    parentId: Long,
    schemaId: Int,
    numBuckets: Int,
    committedEpochs: List[Long],
    files: List[FileEntry],
    lineage: Map[String, Long],
    epochStats: List[EpochStat],
    liveRows: Long,
    tombstones: Long,
    epochFloor: Long = -1L,
    totals: EpochTotals = EpochTotals()) {

  def ledger: EpochLedger = EpochLedger(epochFloor, committedEpochs)

  def isCommitted(epochId: Long): Boolean = ledger.contains(epochId)

  /** Ledger + stats update for one newly-committed epoch (bounded in
    * both dimensions); the caller composes file/lineage changes on top.
    * Refuses an already-committed epochId: the ledger would dedup the id
    * but `totals`/`epochStats` would double-count the redelivered stats
    * — the exactly-once invariant lives HERE, not in call-site guards
    * (MergeInto checks isCommitted first, but any future caller that
    * skips the check must fail loudly, not corrupt lifetime totals).
    */
  def withEpoch(epochId: Long, stat: EpochStat): Snapshot = {
    val next = ledger + epochId
    require(!isCommitted(epochId),
      s"epoch $epochId is already committed - redelivered epochs must " +
        "be dropped by the caller (Snapshot.isCommitted), not re-added")
    copy(
      committedEpochs = next.above,
      epochFloor = next.floor,
      epochStats = (epochStats :+ stat).takeRight(LakeTable.EpochStatsWindow),
      totals = totals.add(stat))
  }

  /** The next snapshot after a write: `replaced` leave the manifest,
    * `added` join it, and `liveRows`/`tombstones` move by their file
    * stats (so they stay the sums over `files`).
    */
  def successor(replaced: Seq[FileEntry], added: Seq[FileEntry]): Snapshot =
    copy(snapshotId = snapshotId + 1, parentId = snapshotId,
      files = files.filterNot(replaced.toSet) ++ added,
      liveRows = liveRows - replaced.map(_.live).sum + added.map(_.live).sum,
      tombstones = tombstones - replaced.map(_.tombs).sum + added.map(_.tombs).sum)
}

/** A minimal snapshot-committed lake table ("Iceberg-v2 semantics rebuilt"
  * — no Iceberg jar ships in this env, SURVEY §7.0).
  *
  * Layout under `tableDir`:
  *   meta/v{N}.json   — full snapshot manifest N, created put-if-absent
  *                      ([[Commit]]) — the single commit point
  *   meta/CURRENT     — "vN", a read hint rewritten after every commit
  *   data/s{N}-{token}[-delta]/bucket={b}/part-*.parquet — the files one
  *                      attempt at snapshot N wrote (copy-on-write base
  *                      or merge-on-read delta), each path written once
  *
  * Readers resolve the latest manifest → file list; data files never
  * change after commit, so reads are snapshot-isolated. Snapshot N's
  * parent is always N−1, so two writers racing from one parent both
  * attempt N and exactly one creates `v{N}.json`; the other fails with
  * "concurrent commit". A crash or a lost race before that creation
  * leaves only unreachable data dirs (their own token, never a committed
  * snapshot's), which the retried epoch does not reuse and
  * [[Maintenance.vacuum]] reclaims (idempotence test, SURVEY §5.5).
  *
  * On a real cluster the identical protocol runs against an object store
  * with a conditional put; the commit surface is [[Commit]].
  */
object LakeTable {
  implicit val fmts: Formats = DefaultFormats

  /** Recent-epoch metric rows retained in the manifest; older rows fold
    * into `Snapshot.totals`. 256 covers any operational "what just
    * happened" query while keeping the manifest O(1) in epoch count.
    */
  val EpochStatsWindow: Int = 256

  /** Commit snapshot 0 of a new table; fails loudly if `dir` already
    * holds one.
    */
  def create(dir: String, numBuckets: Int = 32, schemaId: Int = CdcSchema.latestSchemaId): Snapshot = {
    require(!exists(dir), s"a table already exists at $dir")
    Files.createDirectories(Paths.get(dir, "data"))
    val s0 = Snapshot(0L, -1L, schemaId, numBuckets, Nil, Nil, Map.empty, Nil, 0L, 0L)
    commit(dir, s0)
    s0
  }

  def exists(dir: String): Boolean = Commit.latest(dir).nonEmpty

  def load(dir: String): Snapshot = Changelog.loadVersion(dir, Commit.latest(dir)
    .getOrElse(throw new IllegalArgumentException(s"no table at $dir")))

  /** Commit `snap` (parent `snapshotId − 1`) put-if-absent; a writer that
    * lost the race for its snapshot id fails with "concurrent commit".
    */
  def commit(dir: String, snap: Snapshot): Unit =
    Commit.put(dir, snap.snapshotId, Serialization.write(snap))

  private def emptyTable(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], CdcSchema.tableSchema)

  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty) emptyTable(spark)
    else spark.read.schema(CdcSchema.tableSchema)
      .parquet(files.map(f => s"$dir/${f.path}"): _*)

  /** A delta file's path, `…/data/s{N}-{token}-delta/bucket={b}/part-…`,
    * with its write's snapshot id N as group 1.
    */
  private val DeltaPath = "/s([0-9]+)-[^/]+-delta/bucket=[^/]+/[^/]+$"

  /** Read `files` in one scan with a `_gen` column that makes
    * `(url, seq, _gen)` UNIQUE — the disambiguator for byte-identical
    * duplicate rows.
    *
    * Why duplicates exist at all: the feed is at-least-once, so the same
    * event (same url, same seq, identical payload) can be redelivered in
    * a later epoch and be that epoch's per-url LWW winner again — landing
    * a second physical copy in a different write (a delta overlay, or a
    * batch winner colliding with the stored row on the copy-on-write
    * path). A collapse keyed on (url, seq) alone cannot tell the copies
    * apart. (url, seq) is unique *within* one write — every write is
    * per-url deduped — so tagging rows by write restores a unique key.
    *
    * Generations come from each row's file path (`_metadata.file_path`):
    * a delta file's gen is the snapshot id N of its `s{N}-…-delta` dir,
    * a base file's is 0. Base rows are jointly per-url unique (one base
    * file per bucket, urls never span buckets), and every delta of a
    * bucket is newer than its base, which a copy-on-write rewrite or a
    * compaction folds them into. [[lwwCollapse]] ranks `_gen` after seq,
    * so for the byte-identical copies of one event the newest write
    * deterministically wins.
    */
  private[graft] def readTagged(spark: SparkSession, dir: String,
                                files: Seq[FileEntry]): DataFrame = {
    val path = col("_metadata.file_path")
    // a regexp_extract miss is "", which an ANSI cast to long rejects
    val gen = if (files.isEmpty) lit(0L)
      else when(path.rlike(DeltaPath), regexp_extract(path, DeltaPath, 1).cast("long"))
        .otherwise(lit(0L))
    readFiles(spark, dir, files).withColumn("_gen", gen)
  }

  /** The engine's one last-writer-wins collapse: each url keeps its max
    * (warc_ts, seq, _gen) row, `_gen` ([[readTagged]]) when `rows`
    * carries it. Rows with a null warc_ts are dropped first, so an undated
    * event never wins and a url with only undated events has no winner.
    * Deletes stay rows (tombstone = true, or op = 'D' on feed rows), so a
    * later update older than a delete cannot resurrect the url; callers
    * filter them.
    *
    * Plan: a row_number window partitioned by url behind whichever of
    * `bucket` and `url_hash` `rows` carries. An exchange on `bucket`
    * alone satisfies that partitioning ([[writeBuckets]]: no exchange of
    * its own, and the window's sort is the files' (url_hash, url) order);
    * otherwise the window brings one exchange on its keys. No aggregate
    * and no join-back: each input file is scanned once, and a narrow
    * projection of the result still prunes the payload at the scans.
    */
  private[graft] def lwwCollapse(rows: DataFrame): DataFrame = {
    val has = rows.columns.toSet
    val byUrl = Seq("bucket", "url_hash", "url").filter(has).map(col)
    val order = Seq(col("warc_ts").desc, col("seq").desc) ++
      (if (has("_gen")) Seq(col("_gen").desc) else Nil)
    val lww = Window.partitionBy(byUrl: _*).orderBy(order: _*)
    rows.filter(col("warc_ts").isNotNull)
      .withColumn("_rn", row_number().over(lww))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Merged view: LWW-collapse base∪delta rows to one row per url —
    * tombstone winners retained (callers filter). The collapse
    * ([[lwwCollapse]] over [[readTagged]], one exchange) runs ONLY over
    * buckets that carry delta files; clean copy-on-write buckets stream
    * through shuffle-free. That makes the merge-on-read tax proportional
    * to the un-compacted overlay, not the table: a 100 TB table with
    * deltas on 3 of 4096 buckets pays the read-side collapse on 3
    * buckets.
    */
  def readMerged(spark: SparkSession, dir: String, snap: Snapshot,
                 buckets: Option[Set[Int]] = None): DataFrame = {
    val sel = buckets.fold(snap.files)(bs => snap.files.filter(f => bs.contains(f.bucket)))
    val dirtyBuckets = sel.filter(_.kind == "delta").map(_.bucket).toSet
    if (dirtyBuckets.isEmpty) return readFiles(spark, dir, sel)
    val (dirty, clean) = sel.partition(f => dirtyBuckets.contains(f.bucket))
    readFiles(spark, dir, clean)
      .unionByName(lwwCollapse(readTagged(spark, dir, dirty)).drop("_gen"))
  }

  /** The user-facing latest-state view: live rows only (delta overlays
    * resolved).
    */
  def readLive(spark: SparkSession, dir: String): DataFrame = {
    val snap = load(dir)
    readMerged(spark, dir, snap).filter(!col("tombstone"))
      .drop("tombstone")
  }

  /** Live rows with `warc_ts` in [fromMs, toMs], pruned at the MANIFEST
    * level: clean copy-on-write files whose [minTs, maxTs] stats miss the
    * range are never opened (the time-axis analog of bucket pruning —
    * SURVEY §4 "file-level min/max pruning on url_hash/warc_ts"). A
    * time-slice dashboard query over a 100 TB table reads only the files
    * that can contain qualifying winners. Delta-carrying buckets are read
    * whole — their LWW resolution needs every row of the bucket — and the
    * residual filter applies after the collapse, so results are identical
    * to filtering the unpruned live view.
    */
  def readLiveInRange(spark: SparkSession, dir: String,
                      fromMs: Long, toMs: Long): DataFrame = {
    val snap = load(dir)
    val dirtyBuckets = snap.files.filter(_.kind == "delta").map(_.bucket).toSet
    val keep = snap.files.filter(f =>
      dirtyBuckets.contains(f.bucket) || (f.minTsMs <= toMs && f.maxTsMs >= fromMs))
    readMerged(spark, dir, snap.copy(files = keep))
      .filter(!col("tombstone") &&
        unix_millis(col("warc_ts")) >= fromMs &&
        unix_millis(col("warc_ts")) <= toMs)
      .drop("tombstone")
  }

  /** The per-epoch ingest metrics ledger as a DataFrame — the queryable
    * `etl_runs` analog (reference users inspect it directly:
    * /root/reference/db/scripts/check_db.py:20–106). Columns: epochId,
    * events, upserts, deletes, durationMs, eventsPerSec. Windowed to the
    * most recent [[EpochStatsWindow]] epochs; lifetime aggregates live
    * in `Snapshot.totals`.
    */
  def epochStats(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(load(dir).epochStats)

  def bucketOf(urlCol: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(urlCol), lit(numBuckets)).cast("int")

  /** The engine's one bucket rewrite (copy-on-write): `files`, all files
    * of the buckets being rewritten, read as write generations
    * ([[readTagged]]) and bucketed in a `numBuckets` layout, plus `newest`
    * (tableSchema + `bucket`: a merge epoch's candidates; compaction and
    * rebucketing pass none) as the newest generation, `snapId`, above
    * every stored one, collapsed and written by [[writeBuckets]] — the
    * files read in one scan, one exchange.
    */
  private[graft] def rewriteBuckets(spark: SparkSession, dir: String, snapId: Long,
                                    files: Seq[FileEntry], numBuckets: Int,
                                    touched: Seq[Int],
                                    newest: Option[DataFrame] = None,
                                    tombstoneHorizonMs: Long = Long.MinValue)
      : List[FileEntry] = {
    val stored = readTagged(spark, dir, files)
      .withColumn("bucket", pmod(col("url_hash"), lit(numBuckets)).cast("int"))
    val rows = newest.fold(stored)(n => stored.unionByName(n.withColumn("_gen", lit(snapId))))
    writeBuckets(spark, dir, snapId, rows, touched,
      tombstoneHorizonMs = tombstoneHorizonMs)
  }

  /** LWW-collapse `rows` and write the result as the touched buckets of
    * snapshot `snapId`, into a data dir of this attempt's own (a fresh
    * [[Commit.token]], written once); returns one manifest entry per
    * written file. The engine's single "collapse and write" step: `rows`
    * (tableSchema + a `bucket` column, optionally a `_gen` write
    * generation) may hold several rows per url — the stored files of a
    * bucket rewrite ([[rewriteBuckets]]) beside a batch's candidate rows,
    * or redelivered copies of one event — and [[lwwCollapse]] keeps one.
    * Tombstone winners whose warc_ts predates `tombstoneHorizonMs` are
    * dropped AFTER the collapse: dropping an expired tombstone first
    * would resurrect the older row it shadows.
    *
    * Plan: ONE payload exchange, the repartition-by-bucket (one output
    * file per bucket). It satisfies the collapse's window, which adds no
    * exchange, and the window's sort is the (url_hash, url) file order.
    * Each entry's stats (row and live counts, seq and millisecond
    * warc_ts ranges) come from one aggregate over the written files'
    * narrow columns, grouped by file: exact per file, with no cache of
    * the collapsed payload.
    */
  private[graft] def writeBuckets(spark: SparkSession, dir: String, snapId: Long,
                                  rows: DataFrame, touched: Seq[Int],
                                  suffix: String = "", kind: String = "base",
                                  tombstoneHorizonMs: Long = Long.MinValue)
      : List[FileEntry] = {
    if (touched.isEmpty) return Nil
    val out = s"$dir/data/s$snapId-${Commit.token()}$suffix"
    val winners = lwwCollapse(rows.repartition(touched.size, col("bucket")))
    (if (tombstoneHorizonMs == Long.MinValue) winners
      else winners.filter(!col("tombstone") ||
        unix_millis(col("warc_ts")) >= tombstoneHorizonMs))
      .select((CdcSchema.tableSchema.fieldNames :+ "bucket").map(col).toIndexedSeq: _*)
      .write.partitionBy("bucket").parquet(out)
    val root = Paths.get(dir).toAbsolutePath
    spark.read.schema(CdcSchema.tableSchema).parquet(out)
      .groupBy(col("_metadata.file_path")).agg(
        count(lit(1)), sum(when(col("tombstone"), 0L).otherwise(1L)),
        min(col("seq")), max(col("seq")),
        min(unix_millis(col("warc_ts"))), max(unix_millis(col("warc_ts"))))
      .collect().map { r =>
        val file = Paths.get(new java.net.URI(r.getString(0)))
        val bucket = file.getParent.getFileName.toString.stripPrefix("bucket=").toInt
        val (n, live) = (r.getLong(1), r.getLong(2))
        FileEntry(root.relativize(file).toString, bucket, n, live, n - live,
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), kind)
      }.toList
  }
}
