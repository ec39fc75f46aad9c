package graft.bench

import org.apache.spark.sql.functions._
import graft.analytics.{DedupQueries, SessionCaches, Tables}
import graft.operators.{ClusterIndex, ConnectedComponents}

/** Evidence for the incremental dup-CLUSTERING claim (dd13): folding an
  * epoch's new pairs into the maintained label state costs O(epoch pair
  * delta), while the batch dd07 shape re-runs connected components over
  * the CUMULATIVE pair graph every run — so per-epoch clustering cost
  * grows with history under batch and stays flat under the fold.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     SPARK_GRAFT_DEDUP_X=100 sbt -batch "runMain graft.bench.ClusterFoldBench"
  *
  * Shape: the densified corpus's full pair graph is materialized once
  * to parquet (edges are the INPUT here — pair generation cost is the
  * §3e/dd08 story, already benched). Two axes, each trial behind an
  * inline platform control with caches released:
  *
  *  CORPUS axis (the claim): the SAME 5% epoch delta folds into a 45%
  *  history and a 90% history — flat fold wall across a 2× corpus is
  *  the incremental claim, while the batch per-epoch cost (CC over the
  *  cumulative half/full graph) grows with the corpus.
  *
  *  DELTA axis: a 10% delta vs the 5% delta into the same 90% history —
  *  the fold's data-proportional part tracks the epoch's pair count —
  *  and an EMPTY delta (the steady-state epoch whose pairs all land
  *  inside existing clusters) showing the commit-only floor.
  *
  * Families never straddle the doc_id percent split, so the 5% delta is
  * byte-identical for both histories.
  */
object ClusterFoldBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession("graft-cluster-fold-bench", s"local[$cores]", cores)

    val root = BenchSession.scratchRoot("graft-ddbench")

    // dense corpus (BENCH/BASELINE.md §3a construction): ×X near-dup
    // copies so the pair graph carries real volume
    val densifyX = sys.env.getOrElse("SPARK_GRAFT_DEDUP_X", "100").toInt
    val src = Tables.documents(spark, sfDir)
    val docs = src
      .select(col("doc_id"), explode(sequence(lit(0), lit(densifyX - 1))).as("c"),
        col("text"))
      .select((col("doc_id") * densifyX + col("c")).as("doc_id"),
        concat(col("text"), lit(" cpy"), col("c"), lit(" cpy"), col("c")).as("text"))

    // materialize the cumulative pair graph ONCE — edges are the input
    val edgesDir = java.nio.file.Files.createTempDirectory(root, "edges").toString
    DedupQueries.minhashLshPairs(docs)
      .select(col("doc_a"), col("doc_b"))
      .write.mode("overwrite").parquet(edgesDir)
    SessionCaches.release(spark)
    def edges = spark.read.parquet(edgesDir)
    // percent bucket of a doc's ORIGINAL id — families stay together
    def pct(c: String) = pmod(col(c) / densifyX, lit(100))
    def within(lo: Int, hi: Int) =
      edges.filter(pct("doc_a") >= lo && pct("doc_a") < hi &&
        pct("doc_b") >= lo && pct("doc_b") < hi)
    val histHalf = within(0, 45)
    val histFull = within(0, 90)
    // the arriving epoch: docs [90, 95) — identical delta for both
    // histories; the 10% delta adds [95, 100)
    def touches(lo: Int, hi: Int) =
      (pct("doc_a") >= lo && pct("doc_a") < hi) ||
        (pct("doc_b") >= lo && pct("doc_b") < hi)
    val ep5 = edges.filter(touches(90, 95) &&
      pct("doc_a") < 95 && pct("doc_b") < 95)
    val ep10 = edges.filter(touches(90, 100))
    val batchHalf = histHalf.unionByName(ep5)
    val batchFull = histFull.unionByName(ep5)

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    try {
      val nEdges = edges.count()
      val (nHH, nHF, n5, n10) =
        (histHalf.count(), histFull.count(), ep5.count(), ep10.count())
      // warm codegen
      ConnectedComponents.run(spark,
        spark.range(0, 100).selectExpr("id as a", "id % 7 as b")).labels.count()
      SessionCaches.release(spark)

      // CORPUS axis — batch per-epoch cost at half vs full corpus
      val c1 = PlatformControl.run(spark)
      val (tBatchHalf, nLabHalf) = timed(
        ConnectedComponents.run(spark, batchHalf).labels.count())
      SessionCaches.release(spark)
      val c2 = PlatformControl.run(spark)
      val (tBatchFull, nLabFull) = timed(
        ConnectedComponents.run(spark, batchFull).labels.count())
      SessionCaches.release(spark)

      // maintained states (untimed builds)
      val dirHalf = java.nio.file.Files.createTempDirectory(root, "clH").toString
      ClusterIndex.foldEpoch(spark, dirHalf, 0L, histHalf)
      val dirFull = java.nio.file.Files.createTempDirectory(root, "clF").toString
      ClusterIndex.foldEpoch(spark, dirFull, 0L, histFull)
      val dirFull2 = java.nio.file.Files.createTempDirectory(root, "clF2").toString
      ClusterIndex.foldEpoch(spark, dirFull2, 0L, histFull)
      SessionCaches.release(spark)

      // CORPUS axis — same 5% delta into half vs full history
      val c3 = PlatformControl.run(spark)
      val (tFoldHalf, _) = timed {
        ClusterIndex.foldEpoch(spark, dirHalf, 1L, ep5); 0L
      }
      SessionCaches.release(spark)
      val c4 = PlatformControl.run(spark)
      val (tFoldFull, _) = timed {
        ClusterIndex.foldEpoch(spark, dirFull, 1L, ep5); 0L
      }
      SessionCaches.release(spark)

      // DELTA axis — 10% delta into the same full history; empty delta
      val c5 = PlatformControl.run(spark)
      val (tFold10, _) = timed {
        ClusterIndex.foldEpoch(spark, dirFull2, 1L, ep10); 0L
      }
      SessionCaches.release(spark)
      val c6 = PlatformControl.run(spark)
      val (tEmpty, _) = timed {
        ClusterIndex.foldEpoch(spark, dirFull, 2L, ep5.limit(0)); 0L
      }
      SessionCaches.release(spark)

      println(s"""{"metric":"cluster_fold","sf":"$sfDir","densify_x":$densifyX,"cores":$cores,"edges_total":$nEdges,"edges_hist_half":$nHH,"edges_hist_full":$nHF,"edges_ep5":$n5,"edges_ep10":$n10,"batch_half_sec":${f"$tBatchHalf%.2f"},"batch_half_labels":$nLabHalf,"batch_full_sec":${f"$tBatchFull%.2f"},"batch_full_labels":$nLabFull,"fold5_into_half_sec":${f"$tFoldHalf%.2f"},"fold5_into_full_sec":${f"$tFoldFull%.2f"},"fold10_into_full_sec":${f"$tFold10%.2f"},"fold_empty_sec":${f"$tEmpty%.2f"},"controls_sec":[${f"$c1%.2f"},${f"$c2%.2f"},${f"$c3%.2f"},${f"$c4%.2f"},${f"$c5%.2f"},${f"$c6%.2f"}],"batch_growth_full_vs_half":${f"${tBatchFull / tBatchHalf}%.2f"},"fold_growth_full_vs_half":${f"${tFoldFull / tFoldHalf}%.2f"},"speedup_fold5_vs_batch_full":${f"${tBatchFull / tFoldFull}%.2f"}}""")
    } finally {
      graft.FsUtil.deleteTree(root)
      spark.stop()
    }
  }
}
