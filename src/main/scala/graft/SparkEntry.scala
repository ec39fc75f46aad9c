package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries` is the full operator inventory (SURVEY §2 + the
  * training-data-pipeline operator family); `oracleSql` carries the
  * DuckDB-ANSI equivalent for every SQL-expressible entry.
  */
object SparkEntry {

  /** Flagship: the engine's own end-to-end slice — ingest a seeded CDC
    * feed through collapse+merge and return the live table state joined
    * with an hourly update distribution. Falls back to driver smoke
    * semantics (rows > 0) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val base = FsUtil.scratchDir("graft-entry")
    val cfg = graft.feedgen.FeedGen.Config(seed = 42L, n = 5000L,
      nDomains = 50, pathsPerDomain = 8, evolveAt = 3000L, segments = 2)
    graft.feedgen.FeedGen.writeSegments(spark, cfg, s"$base/feed")
    graft.table.LakeTable.create(s"$base/table", numBuckets = 8)
    val feed = graft.feedgen.FeedGen.readFeed(spark, s"$base/feed")
    graft.operators.MergeInto.merge(spark, s"$base/table",
      feed.filter(col("seq") < 2500), 0L)
    graft.operators.MergeInto.merge(spark, s"$base/table",
      feed.filter(col("seq") >= 2500), 1L)
    graft.table.LakeTable.readLive(spark, s"$base/table")
      .groupBy(date_trunc("hour", col("warc_ts")).as("hr"), col("lang"))
      .agg(count(lit(1)).as("pages"), max(col("seq")).as("max_seq"))
      .orderBy(col("hr"), col("lang"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check for those).
    */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ TextQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles
}
