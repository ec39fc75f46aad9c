package graft

import org.apache.spark.sql.functions._
import graft.analytics.DedupQueries
import graft.operators.DedupIndex

/** The incremental dedup index (dd08): epoch-folded pairs must equal
  * the from-scratch batch op, appends must be idempotent, and lazy
  * epoch plans must be isolated from later appends.
  */
class IncrementalDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.analytics.Tables.documents(spark, sf)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, java.math.BigDecimal)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      new java.math.BigDecimal(r.get(2).toString))).toSet

  private def batchPairs = DedupQueries.minhashLshPairs(docs)

  test("two-epoch fold equals from-scratch MinHash+LSH") {
    val dir = tmpDir("dd08-two")
    val p0 = DedupIndex.foldEpoch(spark, dir, 0L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    val p1 = DedupIndex.foldEpoch(spark, dir, 1L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    val inc = pairSet(p0.unionByName(p1))
    val full = pairSet(batchPairs)
    assert(full.nonEmpty, "test corpus must contain near-dups")
    assert(inc === full)
    graft.analytics.SessionCaches.release(spark)
  }

  test("three uneven epochs (incl. an empty one) still equal the batch set") {
    val dir = tmpDir("dd08-three")
    val e0 = docs.filter(col("doc_id") % 3 === 0)
    val e1 = docs.filter(col("doc_id") % 3 > 0)
    val e2 = docs.filter(lit(false)) // an epoch with no documents
    val all = Seq(e0, e1, e2).zipWithIndex
      .map { case (e, i) => DedupIndex.foldEpoch(spark, dir, i.toLong, e) }
      .reduce(_ unionByName _)
    assert(pairSet(all) === pairSet(batchPairs))
    graft.analytics.SessionCaches.release(spark)
  }

  test("compaction folds strictly-older epochs; the newest stays readable; vacuum reclaims") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("dd08-compact")
    val parts = (0 to 3).map(e => docs.filter(pmod(col("doc_id"), lit(4)) === e))
    val p012 = (0 to 2).map(e =>
      DedupIndex.foldEpoch(spark, dir, e.toLong, parts(e)))
      .reduce(_ unionByName _).persist()
    p012.count()
    assert(DedupIndex.compact(spark, dir))
    assert(!DedupIndex.compact(spark, dir),
      "one folded entry + the newest: nothing left to compact")
    assert(DedupIndex.committedEpochs(dir) === Seq(0L, 1L, 2L))
    // the newest epoch keeps its own entry, so its retrospective pair
    // query still resolves AFTER compaction (round-4 advice regression)
    assert(DedupIndex.epochPairs(spark, dir, 2L).count() >= 0)
    // redelivery across the compaction boundary is still a no-op
    assert(!DedupIndex.appendEpoch(spark, dir, 1L, parts(1)))
    // the next epoch folds against the COMPACTED history
    val p3 = DedupIndex.foldEpoch(spark, dir, 3L, parts(3))
    val inc = pairSet(p012.unionByName(p3))
    assert(inc === pairSet(batchPairs))
    p012.unpersist()
    // vacuum with zero grace reclaims the superseded per-epoch state:
    // sigs/ + buckets/ dirs + the bloom sidecar FILE for both folded
    // epochs; no resigned mirrors exist (the epochs' doc sets are
    // disjoint, and an empty mirror is never published — absence reads
    // as empty)
    assert(DedupIndex.vacuum(dir, graceMs = 0L) === 6)
    assert(DedupIndex.vacuum(dir, graceMs = 0L) === 0)
    // and the index still reads after reclamation
    assert(DedupIndex.epochPairs(spark, dir, 3L).count() === p3.count())
    graft.analytics.SessionCaches.release(spark)
  }

  test("embedding index: three-epoch fold equals batch embedding near-dup") {
    import org.apache.spark.sql.functions._
    import graft.operators.EmbeddingIndex
    val dir = tmpDir("dd11")
    val vecs = graft.analytics.Tables.embeddings(spark, sf)
    val all = (0 to 2).map { e =>
      EmbeddingIndex.foldEpoch(spark, dir, e.toLong,
        vecs.filter(pmod(col("vec_id"), lit(3)) === e), 0.3)
    }.reduce(_ unionByName _)
    val batch = graft.analytics.DedupQueries
      .embeddingNearDupPairs(spark, sf, 0.3)
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ps(batch).nonEmpty)
    assert(ps(all) === ps(batch))
    graft.analytics.SessionCaches.release(spark)
  }

  test("simhash index: three-epoch fold equals batch simhash pairs") {
    import org.apache.spark.sql.functions._
    import graft.operators.SimHashIndex
    val dir = tmpDir("dd12")
    val all = (0 to 2).map { e =>
      SimHashIndex.foldEpoch(spark, dir, e.toLong,
        docs.filter(pmod(col("doc_id"), lit(3)) === e), 3)
    }.reduce(_ unionByName _)
    val batch = DedupQueries.simhashPairs(docs, 3)
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ps(batch).nonEmpty)
    assert(ps(all) === ps(batch))
    graft.analytics.SessionCaches.release(spark)
  }

  test("embedding index: a re-embedded vec supersedes its old vector") {
    import graft.operators.EmbeddingIndex
    import spark.implicits._
    val dir = tmpDir("dd11-upd")
    def v(seed: Int) = Array.tabulate(64)(i =>
      (graft.analytics.Hashing.mix(seed * 1000L + i) % 1000L).toFloat / 1000f)
    EmbeddingIndex.foldEpoch(spark, dir, 0L,
      Seq((1L, v(1))).toDF("vec_id", "embedding"), 0.5).count()
    // epoch 1: vec 1 re-embedded to v(2); vec 2 identical to v(2)
    val pairs = EmbeddingIndex.foldEpoch(spark, dir, 1L,
      Seq((1L, v(2)), (2L, v(2))).toDF("vec_id", "embedding"), 0.5).collect()
    assert(pairs.length === 1)
    assert((pairs(0).getLong(0), pairs(0).getLong(1)) === (1L, 2L))
    assert(pairs(0).getDouble(2) === 1.0,
      "cosine must come from the latest vector")
  }

  test("embedding index: autoMaintain needs no key argument and keeps the pairs") {
    import graft.operators.EmbeddingIndex
    val dir = tmpDir("dd11-auto")
    val vecs = graft.analytics.Tables.embeddings(spark, sf)
    (0 to 3).foreach { e =>
      EmbeddingIndex.appendEpoch(spark, dir, e.toLong,
        vecs.filter(pmod(col("vec_id"), lit(4)) === e))
    }
    def ps = EmbeddingIndex.epochPairs(spark, dir, 3L, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = ps
    assert(before.nonEmpty)
    // the key (vec_id) comes from the stored frames
    val (compacted, _) = DedupIndex.autoMaintain(spark, dir, maxEntries = 2,
      vacuumGraceMs = 0L)
    assert(compacted)
    assert(DedupIndex.loadManifest(dir).entries.size <= 2)
    assert(ps === before)
    graft.analytics.SessionCaches.release(spark)
  }

  test("autoMaintain bounds the entry count over many appended epochs") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("dd08-auto")
    val one = docs.limit(2)
    (0 until 20).foreach { e =>
      DedupIndex.appendEpoch(spark, dir, e.toLong, one
        .withColumn("doc_id", col("doc_id") + e * 1000))
      DedupIndex.autoMaintain(spark, dir, maxEntries = 8, vacuumGraceMs = 0L)
      // the just-appended epoch must stay individually resolvable right
      // after maintenance, every epoch — the round-4 advice failure was
      // compaction swallowing the fresh epoch past maxEntries
      DedupIndex.epochPairs(spark, dir, e.toLong)
    }
    val m = DedupIndex.loadManifest(dir)
    assert(m.entries.size <= 9,
      s"entries must stay bounded, got ${m.entries.size}")
    assert(DedupIndex.committedEpochs(dir) === (0L until 20L))
    // history remains foldable after repeated compaction+vacuum
    assert(DedupIndex.foldEpoch(spark, dir, 20L, one
      .withColumn("doc_id", col("doc_id") + 20000)).count() >= 0)
    // the index's own manifest chain is bounded too
    assert(DedupIndex.expireManifests(dir, keepLast = 5) > 0)
    import scala.jdk.CollectionConverters._
    val metaJsons = graft.FsUtil.listDir(
      java.nio.file.Paths.get(dir, "meta"))(
      _.count(_.getFileName.toString.endsWith(".json")))
    assert(metaJsons <= 5)
    assert(DedupIndex.committedEpochs(dir) === (0L to 20L)) // latest intact
    graft.analytics.SessionCaches.release(spark)
  }

  test("compaction refuses a gap-filled epoch range") {
    val dir = tmpDir("dd08-gap")
    DedupIndex.appendEpoch(spark, dir, 0L, docs.limit(5))
    DedupIndex.appendEpoch(spark, dir, 5L, docs.limit(5))
    // two entries = nothing strictly-older to fold: benign no-op
    assert(!DedupIndex.compact(spark, dir))
    DedupIndex.appendEpoch(spark, dir, 6L, docs.limit(5))
    // now the strictly-older set {0, 5} is gap-filled: refuse loudly
    val e = intercept[IllegalArgumentException] { DedupIndex.compact(spark, dir) }
    assert(e.getMessage.contains("gap-free"))
  }

  test("redelivered epoch append is a no-op") {
    val dir = tmpDir("dd08-redeliver")
    assert(DedupIndex.appendEpoch(spark, dir, 0L, docs))
    val sigs1 = DedupIndex.readSigs(spark, dir, Seq(0L)).count()
    // at-least-once retry: same epoch id again — no second write
    assert(!DedupIndex.appendEpoch(spark, dir, 0L, docs.limit(1)))
    assert(DedupIndex.readSigs(spark, dir, Seq(0L)).count() === sigs1)
    assert(DedupIndex.committedEpochs(dir) === Seq(0L))
  }

  test("an epoch's lazy pair plan is pinned against later appends") {
    val dir = tmpDir("dd08-pinned")
    val p0 = DedupIndex.foldEpoch(spark, dir, 0L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    // materialize the SAME plan twice, once before and once after a new
    // epoch lands — a listing-at-execution bug would grow the result
    val before = p0.count()
    DedupIndex.appendEpoch(spark, dir, 1L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    assert(p0.count() === before)
    graft.analytics.SessionCaches.release(spark)
  }

  test("verified epoch pairs equal exact Jaccard over the batch candidate set") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("dd09-verify")
    val verified = Seq(0, 1).map { e =>
      DedupIndex.appendEpoch(spark, dir, e.toLong,
        docs.filter(pmod(col("doc_id"), lit(2)) === e))
      DedupIndex.verifiedEpochPairs(spark, dir, e.toLong, docs, 0.5)
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // reference: exact Jaccard from collected shingle sets, restricted
    // to the batch LSH candidate pairs
    val shingleSets = DedupQueries.shingles(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    val cands = batchPairs.select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = cands.flatMap { case (a, b) =>
      val (sa, sb) = (shingleSets(a), shingleSets(b))
      val shared = (sa intersect sb).size
      val j = BigDecimal(shared.toDouble / (sa.size + sb.size - shared))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (j >= 0.5) Some((a, b, j)) else None
    }.toSet
    assert(expected.nonEmpty)
    assert(verified === expected)
    graft.analytics.SessionCaches.release(spark)
  }

  test("verified pairs guard fires on a corpus missing a candidate doc; escape hatch proceeds") {
    val dir = tmpDir("dd09-guard")
    DedupIndex.appendEpoch(spark, dir, 0L, docs)
    val aCand = DedupIndex.epochPairs(spark, dir, 0L)
      .select(col("doc_a")).limit(1).collect()(0).getLong(0)
    val holed = docs.filter(col("doc_id") =!= aCand)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.verifiedEpochPairs(spark, dir, 0L, holed, 0.5)
    }
    assert(e.getMessage.contains("missing"))
    // explicit opt-out: proceeds, silently dropping the held-out doc's pairs
    assert(DedupIndex.verifiedEpochPairs(spark, dir, 0L, holed, 0.5,
      requireFullCorpus = false).count() >= 0)
    graft.analytics.SessionCaches.release(spark)
  }

  test("bloom sidecars prune the resigned scan: fresh epochs publish no mirror, re-signs still do") {
    import spark.implicits._
    val dir = tmpDir("dd08-bloom")
    def entry(e: Long) = DedupIndex.loadManifest(dir).entries
      .find(x => x.minEpoch == e && x.maxEpoch == e).get.path
    def mirror(e: Long) =
      java.nio.file.Paths.get(dir, entry(e).replaceFirst("^sigs/", "resigned/"))
    def sidecar(e: Long) =
      java.nio.file.Paths.get(dir, entry(e).replaceFirst("^sigs/", "bloom/"))
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    DedupIndex.appendEpoch(spark, dir, 0L,
      Seq((1L, words + " one"), (2L, words + " two")).toDF("doc_id", "text"))
    assert(java.nio.file.Files.exists(sidecar(0L)))
    // disjoint docs: the sidecar prunes every prior entry, so neither
    // the prior scan nor the mirror write happens
    DedupIndex.appendEpoch(spark, dir, 1L,
      Seq((3L, words + " three")).toDF("doc_id", "text"))
    assert(!java.nio.file.Files.exists(mirror(1L)),
      "a fresh-doc epoch must not publish a resigned mirror")
    // a re-sign of doc 1 overlaps epoch 0: the mirror appears and the
    // fold serves the LATEST signature only
    DedupIndex.appendEpoch(spark, dir, 2L,
      Seq((1L, words + " one-rev")).toDF("doc_id", "text"))
    assert(java.nio.file.Files.exists(mirror(2L)))
    // a deleted sidecar degrades to the conservative full scan: the
    // re-sign of doc 2 is still detected
    java.nio.file.Files.delete(sidecar(0L))
    DedupIndex.appendEpoch(spark, dir, 3L,
      Seq((2L, words + " two-rev")).toDF("doc_id", "text"))
    assert(java.nio.file.Files.exists(mirror(3L)),
      "missing sidecar must fall back to scanning, not to skipping")
    val rows = DedupIndex.readSigs(spark, dir, Seq(3L))
      .select($"doc_id").as[Long].collect()
    assert(rows.toSet === Set(2L))
    graft.analytics.SessionCaches.release(spark)
  }

  test("epoch signature work is epoch-sized: epoch 1 fold reads index sigs, not corpus text") {
    val dir = tmpDir("dd08-shape")
    DedupIndex.foldEpoch(spark, dir, 0L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)).count()
    // epoch 1 not appended yet: plan construction fails loudly
    intercept[Exception] { DedupIndex.epochPairs(spark, dir, 1L) }
    DedupIndex.appendEpoch(spark, dir, 1L,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    val plan = DedupIndex.epochPairs(spark, dir, 1L)
      .queryExecution.optimizedPlan.toString
    // the epoch-1 pair plan must be built ENTIRELY from the signature
    // parquet — no re-shingling of any document text
    assert(!plan.contains("text"), "pair plan must not touch corpus text")
    graft.analytics.SessionCaches.release(spark)
  }
}
