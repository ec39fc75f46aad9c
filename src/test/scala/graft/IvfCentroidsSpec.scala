package graft

import org.apache.spark.sql.functions._
import graft.analytics.SimilarityQueries
import graft.operators.IvfCentroids

/** Persisted IVF centroid index: epoch assignment against persisted
  * centroids must equal the batch per-vector assignment, retrains must
  * swap atomically, and the assign plan must be a pure projection.
  */
class IvfCentroidsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def embVecs = graft.analytics.Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").as("v"))

  private def assignSet(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "list_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("epoch-assign against persisted centroids equals batch assignment") {
    val dir = tmpDir("ivf-cents")
    IvfCentroids.trainWithStats(spark, dir, embVecs, kCentroids = 8, iters = 2)
    // three arriving epochs, assigned WITHOUT retraining
    val eps = (0 to 2).map(e =>
      IvfCentroids.assignEpoch(spark, dir, embVecs.filter(pmod(col("vec_id"), lit(3)) === e)))
    val inc = assignSet(eps.reduce(_ unionByName _))
    // batch: the oracle-checked training + the same projection argmax
    val batch = assignSet(SimilarityQueries.assignVectors(spark, embVecs,
      SimilarityQueries.trainCentroids(spark, sf, 8, 2)))
    assert(batch.nonEmpty)
    assert(inc === batch)
    graft.analytics.SessionCaches.release(spark)
  }

  test("retrain swaps atomically; expire bounds version history") {
    val dir = tmpDir("ivf-retrain")
    val c1 = IvfCentroids.trainWithStats(spark, dir, embVecs, 8, 1)
    val loaded1 = IvfCentroids.load(spark, dir)
    assert(loaded1.map(_._1) === c1.map(_.cid))
    // retrain with more refinement: CURRENT moves to the new set
    val c2 = IvfCentroids.trainWithStats(spark, dir, embVecs, 8, 2)
    val loaded2 = IvfCentroids.load(spark, dir)
    assert(loaded2.zip(c2).forall { case ((i1, v1), s) =>
      i1 == s.cid && v1.sameElements(s.cv) })
    assert(loaded2.zip(loaded1).exists { case ((_, v1), (_, v2)) =>
      !v1.sameElements(v2) }, "extra Lloyd iteration must move centroids")
    // a third version, then expire to the newest 1: older files go
    IvfCentroids.trainWithStats(spark, dir, embVecs, 8, 1)
    assert(IvfCentroids.expire(dir, keepLast = 1) === 2)
    assert(IvfCentroids.load(spark, dir).nonEmpty)
    graft.analytics.SessionCaches.release(spark)
  }

  test("refreshEpoch folds an epoch's statistics exactly; untouched lists keep their state") {
    val dir = tmpDir("ivf-refresh")
    val base = embVecs.filter(pmod(col("vec_id"), lit(2)) === 0)
    val epoch = embVecs.filter(pmod(col("vec_id"), lit(2)) === 1)
    val trained = IvfCentroids.trainWithStats(spark, dir, base, 8, 2)
    // internal consistency at train time: cv of a fed list IS the mean
    // its statistic denotes
    trained.filter(_.n > 0).foreach { s =>
      assert(s.cv.sameElements(
        SimilarityQueries.statsMean(s.n, s.sfix)))
    }
    assert(trained.map(_.n).sum === base.count(),
      "every base vector lands in exactly one list")
    val refreshed = IvfCentroids.refreshEpoch(spark, dir, epoch)
    assert(refreshed.map(_.n).sum === embVecs.count(),
      "refresh adds exactly the epoch's vectors")
    refreshed.filter(_.n > 0).foreach { s =>
      assert(s.cv.sameElements(
        SimilarityQueries.statsMean(s.n, s.sfix)))
    }
    // integer merge: per-list n and summed components are base + epoch
    val byCid = trained.map(s => s.cid -> s).toMap
    refreshed.foreach { s =>
      val b = byCid(s.cid)
      assert(s.n >= b.n)
      if (s.n == b.n) // untouched list: state byte-identical
        assert(s.sfix.sameElements(b.sfix) && s.cv.sameElements(b.cv))
    }
    // an empty epoch changes nothing but still commits a version
    val again = IvfCentroids.refreshEpoch(spark, dir,
      embVecs.filter(lit(false)))
    assert(again.map(s => (s.cid, s.n, s.sfix.toSeq)) ===
      refreshed.map(s => (s.cid, s.n, s.sfix.toSeq)))
    graft.analytics.SessionCaches.release(spark)
  }

  test("assignEpoch is a pure projection: no keyed shuffle, no join") {
    val dir = tmpDir("ivf-plan")
    IvfCentroids.trainWithStats(spark, dir, embVecs, 8, 1)
    val plan = IvfCentroids.assignEpoch(spark, dir, embVecs)
      .queryExecution.executedPlan.toString
    // the assign itself adds no exchange; the input frame may carry the
    // small-scan round-robin fan-out (Tables.fanOut, round-6), which is
    // input-side parallelism, not a keyed data movement of the operator
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning"),
      s"assign must not shuffle by key:\n$plan")
    assert(!plan.contains("Join"), s"assign must not join:\n$plan")
    graft.analytics.SessionCaches.release(spark)
  }
}
