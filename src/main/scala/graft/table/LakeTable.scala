package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
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
  * Exactly-once ledger, BOUNDED (a manifest rewritten every epoch must
  * not grow with epoch count — the metadata-chain failure mode of a
  * 10^5-epoch table): `epochFloor` means "every epochId ≤ floor is
  * committed" and `committedEpochs` holds only committed ids ABOVE the
  * floor. The floor only advances over a CONTIGUOUS committed prefix
  * (streaming epochIds are 0,1,2,… so the list stays empty in steady
  * state); sparse manual ids simply stay in the list. Epoch ids must be
  * ≥ 0. Use [[Snapshot.isCommitted]], never `committedEpochs.contains`.
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

  def isCommitted(epochId: Long): Boolean =
    epochId <= epochFloor || committedEpochs.contains(epochId)

  /** Ledger + stats update for one newly-committed epoch (bounded in
    * both dimensions); the caller composes file/lineage changes on top.
    * Refuses an already-committed epochId: the ledger would dedup the id
    * but `totals`/`epochStats` would double-count the redelivered stats
    * — the exactly-once invariant lives HERE, not in call-site guards
    * (MergeInto checks isCommitted first, but any future caller that
    * skips the check must fail loudly, not corrupt lifetime totals).
    */
  def withEpoch(epochId: Long, stat: EpochStat): Snapshot = {
    require(epochId >= 0, s"epoch ids must be >= 0, got $epochId")
    require(!isCommitted(epochId),
      s"epoch $epochId is already committed - redelivered epochs must " +
        "be dropped by the caller (Snapshot.isCommitted), not re-added")
    var floor = epochFloor
    var rest = (committedEpochs :+ epochId).filter(_ > floor).distinct.sorted
    while (rest.nonEmpty && rest.head == floor + 1) {
      floor = rest.head
      rest = rest.tail
    }
    copy(
      committedEpochs = rest,
      epochFloor = floor,
      epochStats = (epochStats :+ stat).takeRight(LakeTable.EpochStatsWindow),
      totals = totals.add(stat))
  }
}

/** A minimal snapshot-committed lake table ("Iceberg-v2 semantics rebuilt"
  * — no Iceberg jar ships in this env, SURVEY §7.0).
  *
  * Layout under `tableDir`:
  *   meta/v{N}.json   — full snapshot manifest (immutable once written)
  *   meta/CURRENT     — pointer file, swapped atomically (write-temp +
  *                      ATOMIC_MOVE rename) — the single commit point
  *   data/s{N}/bucket={b}/part-*.parquet — copy-on-write data files
  *
  * Readers resolve CURRENT → manifest → file list; data files never
  * change after commit, so reads are snapshot-isolated. A crash between
  * data-file write and CURRENT swap leaves only unreachable orphans —
  * the retried epoch rewrites them (idempotence test, SURVEY §5.5).
  *
  * On a real cluster the identical protocol runs against an object store
  * (rename → catalog CAS); the commit surface is this one file.
  */
object LakeTable {
  implicit val fmts: Formats = DefaultFormats

  /** Recent-epoch metric rows retained in the manifest; older rows fold
    * into `Snapshot.totals`. 256 covers any operational "what just
    * happened" query while keeping the manifest O(1) in epoch count.
    */
  val EpochStatsWindow: Int = 256

  private def meta(dir: String): Path = Paths.get(dir, "meta")
  private def currentPtr(dir: String): Path = meta(dir).resolve("CURRENT")

  def create(dir: String, numBuckets: Int = 32, schemaId: Int = CdcSchema.latestSchemaId): Snapshot = {
    Files.createDirectories(meta(dir))
    Files.createDirectories(Paths.get(dir, "data"))
    val s0 = Snapshot(0L, -1L, schemaId, numBuckets, Nil, Nil, Map.empty, Nil, 0L, 0L)
    commit(dir, s0, expectParent = -2L)
    s0
  }

  def exists(dir: String): Boolean = Files.exists(currentPtr(dir))

  def load(dir: String): Snapshot = {
    val v = Files.readString(currentPtr(dir)).trim
    Serialization.read[Snapshot](Files.readString(meta(dir).resolve(s"$v.json")))
  }

  /** Write manifest then atomically swap CURRENT. `expectParent` gives
    * cheap optimistic concurrency for the single-writer ingest loop.
    */
  def commit(dir: String, snap: Snapshot, expectParent: Long): Unit = {
    if (expectParent >= -1L) {
      val cur = load(dir)
      require(cur.snapshotId == expectParent,
        s"concurrent commit: CURRENT=${cur.snapshotId}, expected parent=$expectParent")
    }
    val mf = meta(dir).resolve(s"v${snap.snapshotId}.json")
    Files.writeString(mf, Serialization.write(snap))
    val tmp = meta(dir).resolve(s".CURRENT.tmp.${snap.snapshotId}")
    Files.writeString(tmp, s"v${snap.snapshotId}")
    Files.move(tmp, currentPtr(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def emptyTable(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], CdcSchema.tableSchema)

  /** Read raw table rows (tombstones included). `buckets = Some(set)`
    * prunes at the FILE level from the manifest — the lake analog of
    * partition pruning; a MERGE touching 3 of 32 buckets scans 3/32 of
    * the table regardless of total size.
    */
  def read(spark: SparkSession, dir: String, snap: Snapshot,
           buckets: Option[Set[Int]] = None): DataFrame = {
    val files = buckets match {
      case Some(bs) => snap.files.filter(f => bs.contains(f.bucket))
      case None     => snap.files
    }
    if (files.isEmpty) emptyTable(spark)
    else spark.read.schema(CdcSchema.tableSchema)
      .parquet(files.map(f => s"$dir/${f.path}"): _*)
  }

  private def readFiles(spark: SparkSession, dir: String,
                        files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty) emptyTable(spark)
    else spark.read.schema(CdcSchema.tableSchema)
      .parquet(files.map(f => s"$dir/${f.path}"): _*)

  /** The physical write that produced a file: its `data/s{N}[-delta]`
    * dir (one copy-on-write rewrite or one merge-on-read epoch).
    */
  private def writeDirOf(f: FileEntry): String = f.path.split('/')(1)
  private def writeOrd(g: String): Long =
    g.stripPrefix("s").stripSuffix("-delta").toLong

  /** Bits needed to encode generation values 0..nGens-1 into the low
    * bits of `seq` (see [[readTagged]]).
    */
  private[graft] def genBits(nGens: Int): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(nGens - 1, 1).toLong)

  /** Read `files` with a `_gen` column that makes `(url, seq, _gen)`
    * UNIQUE — the disambiguator for byte-identical duplicate rows.
    *
    * Why duplicates exist at all: the feed is at-least-once, so the same
    * event (same url, same seq, identical payload) can be redelivered in
    * a later epoch and be that epoch's per-url LWW winner again — landing
    * a second physical copy in a different write (a delta overlay, or a
    * batch winner colliding with the stored row on the copy-on-write
    * path). A collapse or join-back keyed on (url, seq) alone cannot tell
    * the copies apart. (url, seq) is unique *within* one write — every write is
    * per-url deduped — so tagging rows by write restores a unique key.
    *
    * Generations: all base files share gen 0 (each bucket has exactly one
    * base file and urls never span buckets, so base rows are jointly
    * per-url unique); each delta write gets its own gen in snapshot
    * order. Callers rank `_gen` after seq in the LWW order — the last key
    * of [[writeBuckets]]' collapse; [[readMerged]] folds it into seq's
    * low bits, `(seq << genBits) | _gen` — so for the byte-identical
    * copies of one event (equal warc_ts, equal seq) the newest write
    * deterministically wins. Returns (rows, genCount).
    */
  private[graft] def readTagged(spark: SparkSession, dir: String,
                                files: Seq[FileEntry]): (DataFrame, Int) = {
    val (delta, base) = files.partition(_.kind == "delta")
    val deltaGens = delta.map(writeDirOf).distinct.sortBy(writeOrd)
    val baseDf = readFiles(spark, dir, base).withColumn("_gen", lit(0))
    val df = deltaGens.zipWithIndex.foldLeft(baseDf) { case (acc, (g, i)) =>
      acc.unionByName(readFiles(spark, dir, delta.filter(writeDirOf(_) == g))
        .withColumn("_gen", lit(i + 1)))
    }
    (df, deltaGens.size + 1)
  }

  /** Merged view: LWW-collapse base∪delta rows to one row per url —
    * tombstone winners retained (callers filter). The collapse (a
    * shuffle) runs ONLY over buckets that carry delta files; clean
    * copy-on-write buckets stream through shuffle-free. That makes the
    * merge-on-read tax proportional to the un-compacted overlay, not the
    * table: a 100 TB table with deltas on 3 of 4096 buckets pays the
    * read-side collapse on 3 buckets.
    *
    * Plan shape (same reasoning as the MergeInto fallback): the winner
    * per url is found on a NARROW (url, warc_ts, seq) scan with the
    * primitive-buffer lww_seq HashAggregate, then the payload is
    * hash-joined back on (url, enc-residual) — payload bytes cross one
    * url-partitioned exchange and are never sort-aggregated. The join-back
    * key is `(seq << genBits) | _gen` ([[readTagged]]): (url, seq) alone
    * is NOT unique across base∪delta under at-least-once redelivery (the
    * same event can be re-applied as a later epoch's winner), and a
    * (url, seq) join-back would duplicate the url; the write-generation
    * low bits keep exactly one copy — the newest write's — with no
    * dedup aggregate over the payload.
    */
  def readMerged(spark: SparkSession, dir: String, snap: Snapshot,
                 buckets: Option[Set[Int]] = None): DataFrame = {
    val sel = buckets match {
      case Some(bs) => snap.files.filter(f => bs.contains(f.bucket))
      case None     => snap.files
    }
    val dirtyBuckets = sel.filter(_.kind == "delta").map(_.bucket).toSet
    if (dirtyBuckets.isEmpty) return readFiles(spark, dir, sel)
    val (dirty, clean) = sel.partition(f => dirtyBuckets.contains(f.bucket))
    val (tagged, nGens) = readTagged(spark, dir, dirty)
    val bits = genBits(nGens)
    require(dirty.map(_.maxSeq).max < (1L << (62 - bits)),
      s"seq too large for $nGens-generation encoding")
    val enc = shiftleft(col("seq"), bits) + col("_gen")
    val keys = tagged
      .select(col("url"), col("warc_ts"), enc.as("_e"))
      .groupBy(col("url"))
      .agg(graft.plans.LwwFunctions.lww_seq(spark, col("warc_ts"), col("_e"))
        .as("_w_e"))
      .select(col("url").as("_k_url"), col("_w_e"))
    val dirtyDf = tagged.withColumn("_e", enc)
      .join(keys.hint("SHUFFLE_HASH"),
        col("url") === col("_k_url") && (col("_e") - col("_w_e") === 0L))
      .drop("_k_url", "_w_e", "_e", "_gen")
    readFiles(spark, dir, clean).unionByName(dirtyDf)
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
    // manifest ts stats are second-truncated (cast long): stored min ≤
    // true min always, but stored max can undershoot by up to 999 ms —
    // widen the max bound so pruning stays conservative
    val keep = snap.files.filter(f =>
      dirtyBuckets.contains(f.bucket) ||
        (f.minTsMs <= toMs && f.maxTsMs + 999L >= fromMs))
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

  /** LWW-collapse `rows` and write the result as the touched buckets of
    * snapshot `snapId`; returns manifest entries with per-bucket pruning
    * + accounting stats. The engine's single "collapse and write" step:
    * `rows` (tableSchema + a `bucket` column, optionally a `_gen` write
    * generation) may hold several rows per url — the target files of a
    * copy-on-write epoch beside the batch's candidate rows, or redelivered
    * copies of one event — and each url keeps its max
    * (warc_ts, seq, _gen) row. Tombstones stay rows, so a later update
    * older than a delete cannot resurrect the url. Rows with a null
    * warc_ts are dropped first: the lww_seq winner aggregate ignores
    * them too.
    *
    * Plan: ONE exchange, the repartition-by-bucket (one output file per
    * bucket; at 100 TB each bucket is itself a directory of many files,
    * the entry granularity stays per-file). The collapse is a row_number
    * window partitioned by (bucket, url_hash, url): the bucket hash
    * partitioning already satisfies it, so the window adds no exchange,
    * and its sort is the (url_hash, url) file order. The collapsed result
    * is persisted and feeds two jobs: the write and one per-bucket stats
    * aggregate.
    */
  def writeBuckets(spark: SparkSession, dir: String, snapId: Long,
                   rows: DataFrame, touched: Seq[Int],
                   suffix: String = "", kind: String = "base"): List[FileEntry] = {
    if (touched.isEmpty) return Nil
    val rel = s"data/s$snapId$suffix"
    val out = s"$dir/$rel"
    val gen = if (rows.columns.contains("_gen")) col("_gen") else lit(0)
    val lww = Window.partitionBy(col("bucket"), col("url_hash"), col("url"))
      .orderBy(col("warc_ts").desc, col("seq").desc, gen.desc)
    val collapsed = rows.filter(col("warc_ts").isNotNull)
      .repartition(touched.size, col("bucket"))
      .withColumn("_rn", row_number().over(lww))
      .filter(col("_rn") === 1)
      .select((CdcSchema.tableSchema.fieldNames :+ "bucket").map(col).toIndexedSeq: _*)
    collapsed.persist()
    try {
      collapsed.write.mode("overwrite").partitionBy("bucket").parquet(out)
      // per-bucket stats: pruning ranges + live/tombstone accounting (the
      // manifest carries them so later merges never rescan for them)
      val stats = collapsed.groupBy(col("bucket")).agg(
        count(lit(1)).as("rows"),
        sum(when(col("tombstone"), 0L).otherwise(1L)).as("live"),
        min(col("seq")).as("minSeq"), max(col("seq")).as("maxSeq"),
        min(col("warc_ts")).cast("long").as("minTs"),
        max(col("warc_ts")).cast("long").as("maxTs"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5) * 1000L, r.getLong(6) * 1000L)).toMap
      val base = Paths.get(out)
      graft.FsUtil.walkDir(base)(_
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val relPath = Paths.get(dir).relativize(p).toString
          val bucket = p.getParent.getFileName.toString.stripPrefix("bucket=").toInt
          val (n, live, mnS, mxS, mnT, mxT) =
            stats.getOrElse(bucket, (0L, 0L, 0L, 0L, 0L, 0L))
          FileEntry(relPath, bucket, n, live, n - live, mnS, mxS, mnT, mxT, kind)
        }.toList)
    } finally collapsed.unpersist()
  }
}
