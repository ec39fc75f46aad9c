package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{DedupQueries, Hashing}

/** Incremental EMBEDDING near-dup index — [[DedupIndex]]'s pattern for
  * the vector modality: persist each epoch's vectors once, dedup every
  * arriving epoch against the stored index via the same multi-table
  * sign-LSH candidates + exact-cosine verify as the batch op
  * (DedupQueries.embeddingNearDupPairs), at epoch-sized cost. Storage
  * and exactly-once/compaction/vacuum semantics are the SHARED
  * manifest layer in DedupIndex (appendFrameWithMirrors/readSigs/
  * compact/autoMaintain, keyed on the frame's first column, vec_id) —
  * one commit protocol, two signature modalities. A vector row (vec_id, 64 floats, ~270 B) IS
  * its own signature: candidates and the exact-cosine verify both come
  * from the stored row, so the index never re-reads the source table.
  *
  * Re-embedded vecs (same vec_id in a later epoch) supersede their
  * older vector exactly like re-signed docs (latest-per-vec resolution).
  */
object EmbeddingIndex {

  /** `vecs`: (vec_id, embedding ARRAY<FLOAT>). Idempotent per epoch.
    * Entries carry the shared layer's resigned/ mirror + Bloom sidecar
    * keyed on vec_id ([[DedupIndex.appendFrameWithMirrors]]), so folds
    * resolve supersession with broadcast anti-joins — no latest-per-vec
    * groupBy over the stored vectors.
    */
  def appendEpoch(spark: SparkSession, dir: String, epochId: Long,
                  vecs: DataFrame): Boolean =
    DedupIndex.appendFrameWithMirrors(spark, dir, epochId,
      vecs.select(col("vec_id"), col("embedding"))
        .withColumn("_sig_epoch", lit(epochId)))

  private def bucketed(s: SparkSession, vecs: DataFrame): DataFrame = {
    val tblCols = (0 until DedupQueries.NearDupTables).map { t =>
      val planes = Hashing.hyperplanes(DedupQueries.NearDupPlanes, 64, 1000L + t)
      struct(lit(t).as("tbl"), Hashing.bucketCol(s, col("v"), planes).as("bkt"))
    }
    vecs.select(col("vec_id"), col("embedding").as("v"))
      .select(col("vec_id"), col("v"), explode(array(tblCols: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
  }

  /** Near-dup pairs of epoch `epochId` against itself AND the live
    * (latest-per-vec, not-superseded) prior index, exact-cosine
    * verified — the batch dd06 restricted to pairs whose younger side
    * is this epoch. Union over epochs == batch output on the
    * cumulative corpus (spec-pinned).
    */
  def epochPairs(spark: SparkSession, dir: String, epochId: Long,
                 minCos: Double): DataFrame = {
    val priors = DedupIndex.priorEntries(dir, epochId)
    val newV = DedupIndex.readSigs(spark, dir, Seq(epochId))
    val newB = bucketed(spark, newV)
    val within = newB.as("x").join(newB.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        col("x.v").as("va"), col("y.v").as("vb"))
    val all =
      if (priors.isEmpty) within
      else {
        val priorLive = DedupIndex.live(spark, dir, priors,
          Some(newV.select(col("vec_id"))))
        val oldB = bucketed(spark, priorLive)
        val cross = newB.as("x").join(oldB.as("y"),
            col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
              col("x.vec_id") =!= col("y.vec_id"))
          .select(least(col("x.vec_id"), col("y.vec_id")).as("id_a"),
            greatest(col("x.vec_id"), col("y.vec_id")).as("id_b"),
            when(col("x.vec_id") < col("y.vec_id"), col("x.v"))
              .otherwise(col("y.v")).as("va"),
            when(col("x.vec_id") < col("y.vec_id"), col("y.v"))
              .otherwise(col("x.v")).as("vb"))
        within.unionByName(cross)
      }
    all
      .select(col("id_a"), col("id_b"),
        round(graft.plans.VectorFunctions.vec_cosine(spark,
          col("va"), col("vb")), 4).as("cos"))
      .distinct()
      .filter(col("cos") >= minCos)
  }

  def foldEpoch(spark: SparkSession, dir: String, epochId: Long,
                vecs: DataFrame, minCos: Double): DataFrame = {
    appendEpoch(spark, dir, epochId, vecs)
    epochPairs(spark, dir, epochId, minCos)
  }
}
