package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.operators.DedupIndex

/** The directory-bucketed fold layout (round-4 verdict missing #3):
  * an epoch fold's index candidate side must read ONLY the buckets/ sb
  * dirs the epoch's own band-buckets hash into, must cross zero
  * shuffles, and must stay pair-for-pair equal to the batch MinHash+LSH
  * op over the live corpus under re-signs, deletes and compaction.
  */
class BucketedFoldSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.analytics.Tables.documents(spark, sf)

  private def pairSet(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).toSet

  /** The buckets/ dir of the entry covering exactly [lo, hi]. */
  private def bucketsOf(dir: String, lo: Long, hi: Long): String =
    DedupIndex.loadManifest(dir).entries
      .find(e => e.minEpoch == lo && e.maxEpoch == hi).get.path
      .replaceFirst("^sigs/", "buckets/")

  private def sbDirs(dir: String, epoch: Long): Set[String] =
    graft.FsUtil.listDir(java.nio.file.Paths.get(dir, bucketsOf(dir, epoch, epoch)))(_
      .map(_.getFileName.toString).filter(_.startsWith("sb=")).toSet)

  test("fold reads only the epoch's matching sb dirs from the index side") {
    val dir = tmpDir("bf-prune")
    // epoch 0: the whole corpus — populates (nearly) the full sb fan
    DedupIndex.appendEpoch(spark, dir, 0L, docs)
    // epoch 1: ONE document — at most 8 band rows, so at most 8 of the
    // 16 sb dirs; the fold must prune the index side to those
    val one = docs.orderBy(col("doc_id")).limit(1)
    DedupIndex.appendEpoch(spark, dir, 1L, one)
    val sb0 = sbDirs(dir, 0L)
    val sb1 = sbDirs(dir, 1L)
    assert(sb1.nonEmpty && sb1.size <= 8)
    assert(sb0.size > sb1.size,
      s"corpus epoch must fan wider than a 1-doc epoch (${sb0.size} vs ${sb1.size})" +
        " - otherwise this test cannot observe pruning")
    val fold = DedupIndex.epochPairs(spark, dir, 1L)
    // every buckets/ file the fold reads (all from the PRIOR entry: the
    // epoch side recomputes its bands from its own sigs) sits in an sb
    // dir the new epoch's bands hash into — the pruning is real
    val bucketFiles = fold.inputFiles.filter(_.contains("/buckets/")).toSeq
    assert(bucketFiles.nonEmpty, "the fold must read the buckets side table")
    bucketFiles.foreach { f =>
      assert(f.contains(s"/${bucketsOf(dir, 0L, 0L)}/"))
      val sb = f.split("/").find(_.startsWith("sb=")).get
      assert(sb1.contains(sb), s"read unmatched index bucket dir $sb")
    }
  }

  test("index-side scans stream into broadcast joins with no shuffle below") {
    val dir = tmpDir("bf-noshuffle")
    DedupIndex.appendEpoch(spark, dir, 0L, docs.filter(col("doc_id") % 2 === 0))
    DedupIndex.appendEpoch(spark, dir, 1L, docs.filter(col("doc_id") % 2 === 1))
    val plan = DedupIndex.epochPairs(spark, dir, 1L).queryExecution.sparkPlan
    def isIndexScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(rp =>
        rp.toString.contains("/buckets/") || rp.toString.contains("/sigs/epoch=0"))
      case _ => false
    }
    // root→scan paths for every index-side scan
    def paths(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = if (isIndexScan(p)) Seq(p :: acc) else Nil
      here ++ p.children.flatMap(c => paths(c, p :: acc))
    }
    val scanPaths = paths(plan, Nil)
    assert(scanPaths.nonEmpty, s"no index-side scan found:\n$plan")
    // walking UP from each index-side scan, any shuffle must come only
    // AFTER a broadcast join has already reduced the flow to
    // pairs-bounded rows (the candidate distinct, est-side aggregates):
    // index-sized rows themselves are never exchanged
    scanPaths.foreach { path =>
      val up = path // scan-first order
      val firstShuffle = up.indexWhere(_.isInstanceOf[ShuffleExchangeExec])
      val firstBcastJoin = up.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      assert(firstBcastJoin >= 0,
        s"index-side scan never meets a broadcast join:\n$plan")
      assert(firstShuffle < 0 || firstShuffle > firstBcastJoin,
        s"index-side rows shuffled before their first broadcast join:\n$plan")
    }
  }

  test("bucketed fold == batch MinHash+LSH over the live corpus under re-signs, deletes and compaction") {
    import spark.implicits._
    val dir = tmpDir("bf-equiv")
    val e0 = docs.filter(col("doc_id") % 3 === 0)
    // epoch 1: new docs + re-sign half of epoch 0's with revised text +
    // delete a third; epoch 3 (after compaction) re-signs every 7th doc,
    // resurrecting some deleted ones
    val resign = e0.filter(col("doc_id") % 2 === 0)
      .withColumn("text", concat(col("text"), lit(" revised")))
    val dels = e0.filter(col("doc_id") % 6 === 3).select(col("doc_id"))
    val log = Seq(
      (e0, None),
      (docs.filter(col("doc_id") % 3 === 1).unionByName(resign), Some(dels)),
      (docs.filter(col("doc_id") % 3 === 2), None),
      (docs.filter(col("doc_id") % 7 === 0), None))
    // every upsert and delete as (doc_id, text, epoch); null text = delete
    val events = log.zipWithIndex.map { case ((up, del), e) =>
      val u = up.select(col("doc_id"), col("text"), lit(e.toLong).as("epoch"))
      del.fold(u)(d => u.unionByName(d.select(col("doc_id"),
        lit(null).cast("string").as("text"), lit(e.toLong).as("epoch"))))
    }.reduce(_ unionByName _)
    // batch oracle for epoch e: MinHash+LSH over the corpus live as of e
    // (latest text per doc, deleted docs removed), restricted to pairs
    // with at least one doc signed in e
    def oracle(e: Long): Set[(Long, Long, String)] = {
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("epoch").desc)
      val live = events.filter(col("epoch") <= e)
        .withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1 && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val signed = events.filter(col("epoch") === e)
        .select(col("doc_id")).as[Long].collect().toSet
      pairSet(graft.analytics.DedupQueries.minhashLshPairs(live))
        .filter(p => signed(p._1) || signed(p._2))
    }
    def append(e: Int): Unit =
      DedupIndex.appendEpoch(spark, dir, e.toLong, log(e)._1, log(e)._2)
    (0 to 2).foreach(append)
    for (e <- 0L to 2L) {
      val b = pairSet(DedupIndex.epochPairs(spark, dir, e))
      assert(b === oracle(e), s"epoch $e fold diverges from the batch op")
      if (e == 2L) assert(b.nonEmpty)
    }
    // compaction folds the buckets side table too: the fold of a fresh
    // epoch against compacted history still prunes and still matches
    assert(DedupIndex.compact(spark, dir))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, bucketsOf(dir, 0L, 1L))))
    append(3)
    val b3 = pairSet(DedupIndex.epochPairs(spark, dir, 3L))
    assert(b3 === oracle(3L))
    assert(b3.nonEmpty, "re-signed docs must still pair after compaction")
    graft.analytics.SessionCaches.release(spark)
  }
}
