package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.table.LakeTable

/** The `spark.sql(...)` surface: temp views over the testdata star
  * schema and over a lake table's read paths, plus the engine's native
  * functions (vec_dot / vec_cosine / lww_seq) in the session registry —
  * so every analytics query is writable as plain SQL against the same
  * plans the DataFrame API produces.
  *
  * Reference analog: the analytics executor binds raw SQL against the
  * SQLite file (/root/reference/convoetl/analytics/sqlite/
  * executor.py:32–70); here views + Catalyst give the same ergonomics
  * without a serving database. (For spark-submit users the same
  * functions also arrive via `spark.sql.extensions=
  * graft.plans.GraftExtensions` with no code at all.)
  */
object GraftSql {

  val TestTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def registerFunctions(spark: SparkSession): Unit = {
    graft.plans.VectorFunctions.register(spark)
    graft.plans.LwwFunctions.register(spark)
    graft.plans.TopKFunctions.register(spark)
  }

  /** Drop EVERYTHING this session cached — anonymous intermediates AND
    * keyed run-scope shares (the Jaccard pair graph, centroid memos).
    * This is the FULL release: a long-lived caller that rewrites data
    * under a registered dir calls this and the next query recomputes
    * from the new files — no stale memoized plans survive. (Round-4
    * advice: `release` must keep its historical drop-everything
    * semantics; the weaker between-queries drop moved to
    * [[releaseQueryScope]].)
    */
  def release(spark: SparkSession): Unit = SessionCaches.release(spark)

  /** Drop only the per-query ANONYMOUS intermediates (shingle sets,
    * signatures) — the between-queries release for a long-lived session
    * that wants run-scope shares (the pair graph dd03/dd07/t13 split) to
    * keep amortizing across queries. Shares are SNAPSHOT-scoped like any
    * cached Spark plan: after rewriting the underlying data in place,
    * call [[release]] or the next dd03/dd07/t13 run reuses the
    * pre-rewrite pair graph.
    */
  def releaseQueryScope(spark: SparkSession): Unit =
    SessionCaches.releaseAnonymous(spark)

  /** Register every testdata table under its own name. */
  def registerTestdata(spark: SparkSession, sfDir: String): Unit = {
    registerFunctions(spark)
    TestTables.foreach(t =>
      Tables.t(spark, sfDir, t).createOrReplaceTempView(t))
  }

  /** Register a lake table's views: `<name>_live` (latest state),
    * `<name>_raw` (merged rows incl. tombstones), `<name>_epochs` (the
    * per-epoch ingest metrics ledger — the reference's queryable
    * etl_runs). All three views come from ONE snapshot, the current one
    * at registration time (snapshot isolation — re-run to see later
    * commits).
    */
  def registerLake(spark: SparkSession, tableDir: String,
                   name: String = "lake"): Unit = {
    registerFunctions(spark)
    val snap = LakeTable.load(tableDir)
    val raw = LakeTable.readMerged(spark, tableDir, snap)
    raw.createOrReplaceTempView(s"${name}_raw")
    raw.filter(!col("tombstone")).drop("tombstone")
      .createOrReplaceTempView(s"${name}_live")
    spark.createDataFrame(snap.epochStats).createOrReplaceTempView(s"${name}_epochs")
  }
}
