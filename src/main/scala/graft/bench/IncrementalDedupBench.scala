package graft.bench

import org.apache.spark.sql.functions._
import graft.analytics.{DedupQueries, SessionCaches, Tables}
import graft.operators.DedupIndex

/** Evidence for the incremental-dedup scale claim: after the one-time
  * index build, deduping an ARRIVING epoch costs O(epoch), not
  * O(corpus) — the batch op re-shingles everything per run.
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.bench.IncrementalDedupBench"
  *
  * Trials on the documents table: (a) from-scratch dd04 over the full
  * corpus; (b) index build over the 90% "history"; (c) fold of a 10%
  * epoch against the index; (d) fold of a 5% epoch (half the epoch
  * work → roughly half the wall iff cost tracks the epoch). Each trial
  * is preceded by the inline platform control; caches are released
  * between trials so nothing rides a prior trial's blocks.
  */
object IncrementalDedupBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession("graft-incremental-dedup-bench", s"local[$cores]", cores)

    val root = BenchSession.scratchRoot("graft-ddbench")
    val dir = java.nio.file.Files.createTempDirectory(root, "idx").toString

    // densify ×X (default 10 — the BENCH/BASELINE.md §3a/3d dense-corpus
    // construction): each doc becomes X near-identical copies (two
    // appended marker words ⇒ Jaccard ≈ n/(n+4) per copy pair), so TRUE
    // pair density grows ~X²·corpus and the batch op pays real work —
    // at the raw sf0.1 5k docs, fixed per-job costs dominate every wall
    val densifyX = sys.env.getOrElse("SPARK_GRAFT_DEDUP_X", "10").toInt
    val corpusDir =
      if (densifyX <= 1) sfDir
      else {
        val d = java.nio.file.Files.createTempDirectory(root, "corpus").toString
        val src = Tables.documents(spark, sfDir)
        src.select(col("doc_id"), explode(sequence(lit(0), lit(densifyX - 1))).as("c"),
            col("text"), col("lang"), col("source"), col("n_chars"))
          .select((col("doc_id") * densifyX + col("c")).as("doc_id"),
            concat(col("text"), lit(" cpy"), col("c"), lit(" cpy"), col("c")).as("text"),
            col("lang"), col("source"), col("n_chars"))
          .repartition(cores)
          .write.mode("overwrite").parquet(s"$d/documents.parquet")
        d
      }

    def docs = Tables.documents(spark, corpusDir)
    // deterministic 90/10/5 partition by doc_id percent bucket; the 5%
    // epoch runs on a fresh index with the IDENTICAL 90% history, so the
    // two fold trials differ ONLY in epoch size
    val hist = docs.filter(pmod(col("doc_id"), lit(100)) < 90)
    val ep10 = docs.filter(pmod(col("doc_id"), lit(100)) >= 90)
    val ep5 = docs.filter(pmod(col("doc_id"), lit(100)) >= 95)

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    try {
      val nDocs = docs.count()
      // warm codegen on the smallest tier
      DedupQueries.minhashLshPairs(
        Tables.documents(spark, "/root/testdata/sf0.001")).count()
      SessionCaches.release(spark)

      val c1 = PlatformControl.run(spark)
      val (tFull, nFull) = timed(DedupQueries.minhashLshPairs(docs).count())
      SessionCaches.release(spark)

      val c2 = PlatformControl.run(spark)
      val (tHist, _) = timed {
        DedupIndex.foldEpoch(spark, dir, 0L, hist).count()
      }
      SessionCaches.release(spark)

      val c3 = PlatformControl.run(spark)
      val (tEp10, nEp10) = timed(
        DedupIndex.foldEpoch(spark, dir, 1L, ep10).count())
      SessionCaches.release(spark)

      // fresh index with the SAME 90% history for the 5% fold
      val dir2 = java.nio.file.Files.createTempDirectory(root, "idx5").toString
      DedupIndex.foldEpoch(spark, dir2, 0L, hist).count()
      SessionCaches.release(spark)
      val c4 = PlatformControl.run(spark)
      val (tEp5, nEp5) = timed(
        DedupIndex.foldEpoch(spark, dir2, 1L, ep5).count())
      SessionCaches.release(spark)

      println(s"""{"metric":"incremental_dedup","sf":"$sfDir","densify_x":$densifyX,"docs":$nDocs,"cores":$cores,"full_batch_sec":${f"$tFull%.2f"},"full_pairs":$nFull,"index_build_sec":${f"$tHist%.2f"},"epoch10_fold_sec":${f"$tEp10%.2f"},"epoch10_pairs":$nEp10,"epoch5_fold_sec":${f"$tEp5%.2f"},"epoch5_pairs":$nEp5,"controls_sec":[${f"$c1%.2f"},${f"$c2%.2f"},${f"$c3%.2f"},${f"$c4%.2f"}],"speedup_epoch10_vs_full":${f"${tFull / tEp10}%.2f"}}""")
    } finally {
      graft.FsUtil.deleteTree(root)
      spark.stop()
    }
  }
}
