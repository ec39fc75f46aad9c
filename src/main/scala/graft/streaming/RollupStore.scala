package graft.streaming

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.{Commit, EpochLedger}

/** Epoch-idempotent store for BOUNDED-CARDINALITY keyed rollup tables
  * (shared by the windowed metrics rollup and the additive keyed stats
  * rollup): whole-state parquet versions under the [[Commit]] version
  * log, plus an applied-epoch ledger that makes a redelivered
  * foreachBatch epoch a no-op — the same exactly-once scheme as the main
  * MERGE sink's manifest. The per-epoch rewrite is O(rollup keys), never
  * O(feed); anything unbounded belongs in a LakeTable, not here.
  *
  * Layout under the rollup dir:
  *   meta/v{N}.json — {"path": "v{N}-{token}", "floor": F, "epochs": [...]}:
  *                    the state dir version N names and the epochs
  *                    applied up to it (a bounded [[EpochLedger]]: every
  *                    id ≤ F, plus the listed ids above it), committed
  *                    together by one put-if-absent
  *   meta/CURRENT   — read hint
  *   v{N}-{token}/  — the state one attempt at version N wrote
  */
object RollupStore {
  import org.json4s.{DefaultFormats, Formats}
  import org.json4s.jackson.Serialization
  implicit private val fmts: Formats = DefaultFormats

  private final case class Version(path: String, floor: Long, epochs: List[Long])

  /** Versions kept for readers mid-read; older state dirs, and those of
    * crashed or losing attempts, are reclaimed after every commit.
    */
  private val KeepVersions = 3

  /** Default ceiling on rollup state rows (`maxRows` of [[applyEpoch]]).
    * The store's contract is BOUNDED-cardinality state — the per-epoch
    * rewrite is O(rows), so a key domain that grows with the feed would
    * degrade every epoch silently. Exceeding the ceiling fails the epoch
    * loudly BEFORE the commit point, with the fix in the message.
    */
  val DefaultMaxRows: Long = 10000000L

  private def latest(rollupDir: String): Option[(Long, Version)] =
    Commit.latest(rollupDir).map(v =>
      v -> Serialization.read[Version](Commit.read(rollupDir, v)))

  /** Apply one epoch: skip if `epochId` is already in the ledger,
    * otherwise compute the next state from the previous one (None before
    * the first epoch) and commit it, failing instead if that state holds
    * more than `maxRows` rows. Returns true if applied.
    *
    * The applied-epoch ledger lives in the version file itself, so one
    * put-if-absent commits state and ledger together — the same
    * single-commit-point protocol as the lake table's manifest. A
    * separate ledger would open a crash window between state commit and
    * ledger append in which a retried epoch double-applies its delta. A
    * crash before the commit leaves only an orphan state dir; the retry
    * writes a fresh one.
    */
  def applyEpoch(spark: SparkSession, rollupDir: String, epochId: Long,
                 maxRows: Long = DefaultMaxRows)
                (next: Option[DataFrame] => DataFrame): Boolean = {
    val cur = latest(rollupDir)
    val seen = cur.fold(EpochLedger())(c => EpochLedger(c._2.floor, c._2.epochs))
    if (seen.contains(epochId)) return false
    val applied = seen + epochId
    val v = cur.fold(0L)(_._1 + 1L)
    Commit.attempt(rollupDir, v) {
      val rel = s"v$v-${Commit.token()}"
      val out = Paths.get(rollupDir, rel).toString
      next(cur.map(c => spark.read.parquet(Paths.get(rollupDir, c._2.path).toString)))
        .coalesce(1).write.parquet(out)
      // bounded-state guard BEFORE the commit point: the parquet-footer
      // count is metadata-only, and a failure here leaves only an orphan
      // state dir (same as a crash pre-commit) — the store never commits
      // a state it would grind on every subsequent epoch.
      val stateRows = spark.read.parquet(out).count()
      if (stateRows > maxRows)
        throw new IllegalStateException(
          s"rollup state at $rollupDir grew to $stateRows rows (> $maxRows): " +
            "RollupStore rewrites the WHOLE state each epoch and is for " +
            "bounded key domains only — move this key domain to a LakeTable " +
            "MERGE, or raise the maxRows argument if the domain is " +
            "genuinely bounded")
      Serialization.write(Version(rel, applied.floor, applied.above))
    }
    Commit.expireWithData(rollupDir, KeepVersions, Paths.get(rollupDir), "")(
      Serialization.read[Version](_).path)
    true
  }

  /** Read the current rollup state. */
  def read(spark: SparkSession, rollupDir: String): DataFrame = {
    val (_, c) = latest(rollupDir).getOrElse(
      throw new IllegalArgumentException(s"no rollup at $rollupDir"))
    spark.read.parquet(Paths.get(rollupDir, c.path).toString)
  }
}
