package perfbench

import scala.collection.mutable
import graft.SparkEntry
import graft.analytics.SessionCaches

/** `query_suite`: a fixed list of `SparkEntry.queries` entries over the
  * bundled read-only analytics tables, in name order. Each query is
  * built, then fully materialized by writing its result as parquet (no
  * column pruning, and the written result is what the DuckDB oracle
  * check reads). Anonymous session caches are released after each query
  * and all of them after each pass, as the frozen `graft.Bench` does.
  */
final class QuerySuite(data: String) extends Workload {
  /** The slowest leaves and the ones later work targets (README: "Why a
    * subset"), plus one entry of each remaining family.
    */
  val Suite: Seq[String] = Seq(
    "dd04_minhash_lsh", "dd08_incremental_neardup", "dd13_incremental_clusters",
    "mm01_binary_meta", "q34_user_rollup", "s02_ivf_assign", "t03_topk_words").sorted
  /** Warm-up entries: same tables and operator families, not timed. */
  val WarmUp: Seq[String] = Seq("dd01_exact_summary")

  /** The tables are bundled; set-up only checks they are all there. */
  def setup(c: Ctx, r: Int): Unit =
    Seq("documents", "embeddings", "events").foreach(t =>
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$data/$t.parquet")),
        s"missing table $t under $data"))

  def warmUp(c: Ctx): Unit = {
    WarmUp.foreach { q =>
      SparkEntry.queries(q)(c.spark, data).write.format("noop").mode("overwrite").save()
      SessionCaches.releaseAnonymous(c.spark)
    }
    SessionCaches.release(c.spark)
  }

  def window(c: Ctx, seconds: Double): Window = {
    val queries = SparkEntry.queries
    val ops = mutable.ArrayBuffer[Double]()
    val (units, wall) = Units.run(seconds)(Some(Units.timed {
      Suite.foreach { q =>
        try c.op(s"analytics.query:$q") {
          val df = c.span("analytics.build")(queries(q)(c.spark, data))
          c.span("analytics.action")(
            df.write.mode("overwrite").parquet(c.dir(s"results/$q")))
        }.foreach { case (_, s) => ops += s }
        finally SessionCaches.releaseAnonymous(c.spark)
      }
      SessionCaches.release(c.spark)
    }))
    Window(units, ops.toSeq, 0.0, wall, Map("suite_s" -> Stats.median(units)))
  }

  /** Result correctness is checked against DuckDB by the runner; here
    * only that every entry produced a result.
    */
  def check(c: Ctx): Seq[String] = Suite.filterNot(q =>
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(c.dir(s"results/$q"))))
    .map(q => s"query_suite: $q wrote no result")

  def oracles: Map[String, Option[String]] =
    Suite.map(q => q -> SparkEntry.oracleSql.get(q)).toMap
}
