package graft.bench

import org.apache.spark.sql.functions._
import graft.operators.DedupIndex

/** Lifetime soak of the SINK-MAINTAINED dedup index (the MetadataSoak
  * analog for the index subsystem): drive thousands of small epochs
  * through the exact per-epoch sequence CdcIngest's sink runs —
  * appendEpoch (with a re-sign + delete fraction) → epochPairs fold →
  * autoMaintain — and measure the index's own footprint over its
  * lifetime: meta/ file count, manifest entry count, sigs/buckets/
  * resigned dir counts, per-epoch fold latency, and maintenance cost.
  *
  * The failure modes under test:
  *  - metadata growth: 10^4 epochs must not mean 10^4 manifest files or
  *    10^4 sig dirs to list per fold (compaction + manifest expiry +
  *    vacuum keep both bounded);
  *  - fold-latency growth: an epoch's pair fold must track the EPOCH,
  *    not the accumulated corpus — flat fold_ms across the run IS the
  *    incremental-dedup claim at stream lifetime scale (the 40-epoch
  *    spec shape, x50-x250).
  *
  *   SPARK_GRAFT_IXSOAK_EPOCHS=2000 SPARK_GRAFT_CPUS=8 \
  *     sbt -batch "runMain graft.bench.IndexSoak"
  *
  * Emits one JSON sample line every epochs/20 epochs and a final
  * summary; BENCH/BASELINE.md records a representative run. Maintenance
  * uses vacuumGraceMs=0 (steady-state bound; the sink default's 1 h
  * grace only delays reclamation, it does not change the bound).
  */
object IndexSoak {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val epochs = sys.env.getOrElse("SPARK_GRAFT_IXSOAK_EPOCHS", "2000").toInt
    val perEpoch = sys.env.getOrElse("SPARK_GRAFT_IXSOAK_BATCH", "32").toInt
    val spark = BenchSession("graft-index-soak", s"local[$cores]", cores)
    import spark.implicits._

    val root = BenchSession.scratchRoot("graft-soak")
    val base = java.nio.file.Files.createTempDirectory(root, "ixsoak").toString
    val dir = s"$base/ix"

    // doc text: family base sentence + per-doc token — near-dup families
    // recur across epochs so folds really generate cross-epoch pairs
    def text(id: Long): String = {
      val fam = id % 97
      s"family $fam shares this rather long base sentence about topic " +
        s"$fam with enough words that five gram shingles overlap heavily " +
        s"across members of one family and not across others member m$id"
    }

    def dirCount(sub: String): Long = {
      val p = java.nio.file.Paths.get(dir, sub)
      if (!java.nio.file.Files.exists(p)) 0L
      else graft.FsUtil.listDir(p)(_
        .count(q => java.nio.file.Files.isDirectory(q)).toLong)
    }
    def metaFiles(): Long = graft.FsUtil.listDir(
      java.nio.file.Paths.get(dir, "meta"))(_.size.toLong)

    val sampleEvery = math.max(epochs / 20, 1)
    val t0 = System.nanoTime()
    var maintMs = 0L
    var foldMsWindow = List.empty[Double] // fold walls since last sample
    for (e <- 0 until epochs) {
      val lo = e.toLong * perEpoch
      val docs = spark.range(lo, lo + perEpoch, 1, cores)
        .select(col("id").as("doc_id")).withColumn("text",
          udf((i: Long) => text(i)).apply(col("doc_id")))
      // re-sign 2 earlier docs + tombstone 1 — the streaming update/
      // delete traffic that exercises resigned/ lists and supersession
      val (resigns, deletes) =
        if (e == 0) (docs.limit(0), None)
        else (Seq((lo - perEpoch, text(lo - perEpoch) + " rev"),
          (lo - perEpoch + 1, text(lo - perEpoch + 1) + " rev"))
          .toDF("doc_id", "text"),
          Some(Seq(Tuple1(lo - perEpoch + 2)).toDF("doc_id")))
      DedupIndex.appendEpoch(spark, dir, e.toLong,
        docs.unionByName(resigns), deletes)
      val f0 = System.nanoTime()
      DedupIndex.epochPairs(spark, dir, e.toLong).count()
      foldMsWindow ::= (System.nanoTime() - f0) / 1e6
      val m0 = System.nanoTime()
      DedupIndex.autoMaintain(spark, dir, vacuumGraceMs = 0L)
      maintMs += (System.nanoTime() - m0) / 1000000L
      if ((e + 1) % sampleEvery == 0 || e == 0) {
        val sorted = foldMsWindow.sorted
        val medFold = sorted(sorted.size / 2)
        foldMsWindow = Nil
        val m = DedupIndex.loadManifest(dir)
        val wallSec = (System.nanoTime() - t0) / 1e9
        println(s"""{"metric":"index_soak_sample","epoch":${e + 1},"fold_ms_median":${f"$medFold%.0f"},"manifest_entries":${m.entries.size},"meta_files":${metaFiles()},"sig_dirs":${dirCount("sigs")},"bucket_dirs":${dirCount("buckets")},"resigned_dirs":${dirCount("resigned")},"maintain_sec":${maintMs / 1000},"elapsed_sec":${f"$wallSec%.1f"}}""")
      }
    }
    val m = DedupIndex.loadManifest(dir)
    val live = DedupIndex.readSigs(spark, dir, m.epochs)
    val total = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"index_soak","epochs":$epochs,"docs_per_epoch":$perEpoch,"cores":$cores,"total_sec":${f"$total%.1f"},"maintain_sec":${maintMs / 1000},"final_manifest_entries":${m.entries.size},"final_meta_files":${metaFiles()},"final_sig_dirs":${dirCount("sigs")},"final_bucket_dirs":${dirCount("buckets")},"final_resigned_dirs":${dirCount("resigned")},"stored_sig_rows":${live.count()}}""")
    graft.FsUtil.deleteTree(base)
    spark.stop()
  }
}
