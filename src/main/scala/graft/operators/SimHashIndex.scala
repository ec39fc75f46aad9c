package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.DedupQueries

/** Incremental SIMHASH near-dup index — the third signature modality
  * over the shared [[DedupIndex]] manifest layer (minhash: DedupIndex,
  * vectors: [[EmbeddingIndex]]): one 60-bit signature per doc persisted
  * per epoch, every arriving epoch deduped against the stored index via
  * the same 15-bit pigeonhole band buckets + hamming verify as the
  * batch op (DedupQueries.simhashPairs). A signature row is 16 bytes —
  * the cheapest of the three indexes; an epoch fold re-reads no text.
  * Re-signed docs supersede their older signature (latest-per-doc).
  */
object SimHashIndex {

  /** `docs`: (doc_id, text). Idempotent per epoch. Entries carry the
    * shared layer's resigned/ mirror + Bloom sidecar
    * ([[DedupIndex.appendFrameWithMirrors]]), so folds resolve
    * supersession with broadcast anti-joins — no latest-per-doc groupBy
    * over the stored signatures.
    */
  def appendEpoch(spark: SparkSession, dir: String, epochId: Long,
                  docs: DataFrame): Boolean =
    DedupIndex.appendFrameWithMirrors(spark, dir, epochId,
      DedupQueries.simhash(docs).withColumn("_sig_epoch", lit(epochId)))

  private def bucketed(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFFL).as("bkt")))
    sigs.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bkt").as("bkt"))
  }

  /** Near-dup pairs of epoch `epochId` against itself AND the live
    * prior index, hamming-verified — batch dd05 restricted to pairs
    * whose younger side is this epoch; union over epochs == batch
    * output on the cumulative corpus.
    */
  def epochPairs(spark: SparkSession, dir: String, epochId: Long,
                 maxDist: Int): DataFrame = {
    val priors = DedupIndex.priorEntries(dir, epochId)
    val newS = DedupIndex.readSigs(spark, dir, Seq(epochId))
    val newB = bucketed(newS)
    val within = newB.as("x").join(newB.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
    val all =
      if (priors.isEmpty) within
      else {
        val priorLive = DedupIndex.live(spark, dir, priors,
          Some(newS.select(col("doc_id"))))
        val cross = newB.as("x").join(bucketed(priorLive).as("y"),
            col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        within.unionByName(cross)
      }
    all.distinct().filter(col("hamming") <= maxDist)
  }

  def foldEpoch(spark: SparkSession, dir: String, epochId: Long,
                docs: DataFrame, maxDist: Int): DataFrame = {
    appendEpoch(spark, dir, epochId, docs)
    epochPairs(spark, dir, epochId, maxDist)
  }
}
