package graft.operators

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.SimilarityQueries
import graft.table.Commit

/** Persisted IVF centroid index: train once, assign every arriving
  * epoch and fold it into the centroids — the [[EmbeddingIndex]]
  * maintenance pattern applied to the IVF list structure. At 10^9
  * vectors a pipeline cannot retrain k-means per consumer: the centroid
  * set IS the index, and epoch assignment against it is a shuffle-free
  * projection argmax ([[SimilarityQueries.assignVectors]]) over exactly
  * the arriving vectors.
  *
  * Layout under `dir` — the index is K list rows, replaced whole on
  * every train or refresh, so each version names a single parquet (no
  * entry manifest needed: there is no epoch history to fold, unlike the
  * signature indexes):
  *   meta/vN.json     — the name of version N's parquet, created
  *                      put-if-absent ([[graft.table.Commit]]); readers
  *                      pin the version they opened
  *   meta/CURRENT     — read hint
  *   cents-vN-{token}.parquet — (cid BIGINT, cv ARRAY<DOUBLE>, n BIGINT,
  *                      sfix ARRAY<BIGINT>), K rows: each list's centroid
  *                      and its sufficient statistic ([[ListStat]]),
  *                      written once by one attempt at version N
  *
  * Reference analog: the maintained aggregate philosophy of
  * /root/reference/convoetl/loaders/sqlite.py:205-236 — persist the
  * derived structure, update incrementally, never recompute from
  * scratch per read.
  */
object IvfCentroids {

  /** Write `df` as the parquet of the next version and commit it: a
    * writer that lost the race for that version fails with "concurrent
    * commit", and its file is never one a committed version names.
    */
  private def commitFrame(dir: String, df: DataFrame): Long = {
    val v = Commit.latest(dir).getOrElse(0L) + 1L
    Commit.attempt(dir, v) {
      val name = s"cents-v$v-${Commit.token()}.parquet"
      df.coalesce(1).write.parquet(Paths.get(dir, name).toString)
      name
    }
    v
  }

  /** The parquet of the latest committed version. */
  private def latestFile(dir: String): String = {
    val v = Commit.latest(dir).getOrElse(
      sys.error(s"no committed centroids at $dir - run trainWithStats() first"))
    Paths.get(dir, Commit.read(dir, v)).toString
  }

  /** The latest centroid set — a bounded collect of K rows (O(index
    * params), never O(data)); reads the (cid, cv) columns.
    */
  def load(spark: SparkSession, dir: String): Seq[(Long, Array[Double])] =
    spark.read.parquet(latestFile(dir)).select("cid", "cv")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .toSeq.sortBy(_._1)

  /** Assign an arriving epoch's vectors (vec_id, v) to inverted lists
    * against the PERSISTED centroids: no retraining, no corpus pass, no
    * shuffle — one projection argmax over exactly the epoch's rows.
    * Returns (vec_id, list_id, cos).
    */
  def assignEpoch(spark: SparkSession, dir: String,
                  epochVecs: DataFrame): DataFrame =
    SimilarityQueries.assignVectors(spark, epochVecs, load(spark, dir))

  /** STREAMING centroid maintenance — the maintained-aggregate move
    * applied to the centroid set itself. The persisted state is each
    * list's sufficient statistic (n, KmeansFix-scaled component SUMS as
    * LONGS) alongside the centroid it denotes (cv = sums/(n·Fix), the
    * exact Lloyd division): Long sums are associative and
    * order-independent, so folding an arriving epoch is
    *   assign epoch to the latest centroids (projection argmax, epoch-
    *   bounded) → aggregate (cid, n_e, sums_e) → state' = state + epoch
    *   (pure integer addition) → cv' = statsMean(state')
    * — no corpus pass, no approximation drift in the arithmetic, and
    * the whole update is DuckDB-expressible (the s05 oracle recomputes
    * it exactly). A list no epoch ever feeds keeps its trained centroid
    * with (0, zeros) stats. This is mini-batch k-means with a fixed
    * assignment per epoch and no decay: each point influences the mean
    * once, under the centroid set current at its arrival — the
    * standard prospective semantics of incremental maintenance.
    */
  final case class ListStat(cid: Long, cv: Array[Double], n: Long,
                            sfix: Array[Long])

  /** Persist a full stats state as the new latest version (concurrent
    * readers keep the version they pinned). Returns the committed
    * version.
    */
  def persistStats(spark: SparkSession, dir: String,
                   stats: Seq[ListStat]): Long = {
    require(stats.nonEmpty, "empty centroid stats")
    import spark.implicits._
    commitFrame(dir, stats.map(s => (s.cid, s.cv, s.n, s.sfix))
      .toDF("cid", "cv", "n", "sfix"))
  }

  /** The latest stats state. */
  def loadStats(spark: SparkSession, dir: String): Seq[ListStat] =
    spark.read.parquet(latestFile(dir)).collect()
      .map(r => ListStat(r.getLong(0), r.getSeq[Double](1).toArray,
        r.getLong(2), r.getSeq[Long](3).toArray))
      .toSeq.sortBy(_.cid)

  /** Seeded Lloyd on `baseVecs` (a (vec_id, v) frame), persisting the
    * final centroids WITH their sufficient statistics (the last
    * iteration's assignment sums — the final centroid of a non-empty
    * list is exactly their mean, so later folds extend the same
    * integer arithmetic). `iters` must be positive: with no iteration
    * there is no assignment to take statistics from.
    */
  def trainWithStats(spark: SparkSession, dir: String, baseVecs: DataFrame,
                     kCentroids: Int, iters: Int): Seq[ListStat] = {
    require(iters > 0, s"trainWithStats needs iters > 0, got $iters")
    val init = SimilarityQueries.sliceCentroids(baseVecs, kCentroids)
    val (cents, stats) =
      SimilarityQueries.trainOnFrame(spark, baseVecs, init, iters)
    val rows = cents.map { case (cid, cv) =>
      val (n, ss) = stats(cid)
      ListStat(cid, cv, n, ss)
    }
    persistStats(spark, dir, rows)
    rows
  }

  /** Fold an arriving epoch into the maintained centroid state and
    * commit the refreshed version. Work is epoch-bounded: one
    * projection-argmax assignment over exactly the epoch's rows, one
    * narrow aggregate, a K·dim integer merge on the driver.
    */
  def refreshEpoch(spark: SparkSession, dir: String,
                   epochVecs: DataFrame): Seq[ListStat] = {
    val state = loadStats(spark, dir)
    val cents = state.map(s => (s.cid, s.cv))
    val epoch = SimilarityQueries.assignStats(spark, epochVecs, cents)
    val merged = state.map { s =>
      epoch.get(s.cid) match {
        case None => s
        case Some((nE, ssE)) =>
          val n = s.n + nE
          val ss = Array.tabulate(s.sfix.length)(i => s.sfix(i) + ssE(i))
          ListStat(s.cid, SimilarityQueries.statsMean(n, ss), n, ss)
      }
    }
    persistStats(spark, dir, merged)
    merged
  }

  /** Delete superseded centroid versions older than the newest
    * `keepLast` — the same meta-growth bound as the signature indexes —
    * plus the parquet of every crashed or losing attempt at a version up
    * to the latest. Returns the number of parquet files deleted.
    */
  def expire(dir: String, keepLast: Int = 4): Int =
    Commit.expireWithData(dir, keepLast, Paths.get(dir), "cents-")(identity)
}
