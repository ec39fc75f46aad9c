package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.RollupStore

/** Additive keyed stats maintained per epoch through the sink — the
  * engine analog of the reference's per-user incremental upsert
  * `INSERT … ON CONFLICT(user_id, platform) DO UPDATE SET
  *  first_seen = MIN(…), last_seen = MAX(…),
  *  total_messages = total_messages + excluded.total_messages`
  * (/root/reference/convoetl/loaders/sqlite.py:205–236), which the
  * reference runs on EVERY ingested batch. q27 proves the merge algebra
  * as a query; this operator is the maintained-table path: each epoch's
  * batch is partially aggregated (map-side combine — the A9 pattern,
  * SURVEY §2.4) and folded into the stored state with per-column combine
  * expressions over a full-outer key join.
  *
  * Scale shape: the DELTA aggregation is the only pass over the feed;
  * the merge itself is O(state keys). State cardinality is bounded by
  * the key domain (users/domains), so the whole-state rewrite per epoch
  * (RollupStore) stays O(keys) at any feed volume. A key domain that
  * grows with the feed belongs in a LakeTable MERGE instead.
  */
object AdditiveRollup {

  /** Combine rule for one stat column of a full-outer-merged row:
    * (stored, incoming) → next. Either side is null when the key is new
    * / absent from the batch.
    */
  type Combine = (Column, Column) => Column

  /** total += excluded.total (long / double). */
  val add: Combine = (o, n) => coalesce(o, lit(0L)) + coalesce(n, lit(0L))
  val addD: Combine = (o, n) => coalesce(o, lit(0.0)) + coalesce(n, lit(0.0))
  /** first_seen = MIN(first_seen, excluded.first_seen), null-tolerant. */
  val minOf: Combine = (o, n) =>
    when(o.isNull, n).when(n.isNull, o).otherwise(least(o, n))
  /** last_seen = MAX(last_seen, excluded.last_seen), null-tolerant. */
  val maxOf: Combine = (o, n) =>
    when(o.isNull, n).when(n.isNull, o).otherwise(greatest(o, n))
  /** x = COALESCE(excluded.x, x) — the reference's username refresh. */
  val newestNonNull: Combine = (o, n) => coalesce(n, o)

  /** Fold one epoch's pre-aggregated `delta` into the rollup at `dir`.
    * Epoch-idempotent (RollupStore ledger): a redelivered epoch is a
    * no-op, so counts never double under at-least-once delivery.
    * `combine` lists every non-key column of `delta` with its rule; an
    * epoch whose state would exceed `maxRows` keys fails uncommitted.
    * Returns true if applied.
    */
  def upsert(spark: SparkSession, dir: String, delta: DataFrame,
             keyNames: Seq[String], epochId: Long,
             combine: Seq[(String, Combine)],
             maxRows: Long = RollupStore.DefaultMaxRows): Boolean =
    RollupStore.applyEpoch(spark, dir, epochId, maxRows) {
      case None => delta
      case Some(old) =>
        val joinCond = keyNames.map(k => old(k) <=> delta(k)).reduce(_ && _)
        val keys = keyNames.map(k => coalesce(delta(k), old(k)).as(k))
        val stats = combine.map { case (c, f) => f(old(c), delta(c)).as(c) }
        old.join(delta, joinCond, "full_outer")
          .select((keys ++ stats).toIndexedSeq: _*)
    }

  def read(spark: SparkSession, dir: String): DataFrame =
    RollupStore.read(spark, dir)
}
