package graft

import org.apache.spark.sql.functions._
import graft.operators.DedupIndex

/** Tiered (LSM-style) index maintenance: [[DedupIndex.compactRange]]
  * merges a MID-history run without changing any reader's view — the
  * two invariants a mid-range merge must keep (vs the full-prefix
  * [[DedupIndex.compact]]) are tombstone retention and the carried
  * combined resigned/ list — and [[DedupIndex.autoMaintain]]'s
  * size-tiered policy bounds entries without full-prefix rewrites.
  */
class TieredCompactionSpec extends SparkSpec {

  private val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private def doc(id: Long, tag: String) = (id, s"$words $tag $tag")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def entriesOf(dir: String) =
    DedupIndex.loadManifest(dir).entries.sortBy(_.minEpoch)

  /** Five singleton epochs with a re-sign and a delete in the middle,
    * duplicated into two dirs so one can be merged and the other kept
    * as the untouched oracle.
    */
  private def seed(spark: org.apache.spark.sql.SparkSession,
                   dirs: String*): Unit = {
    import spark.implicits._
    for (dir <- dirs) {
      // epoch 0: docs 1, 2, 3   (1 and 2 are near-dups of everything)
      DedupIndex.appendEpoch(spark, dir, 0L,
        Seq(doc(1L, "one"), doc(2L, "two"), doc(3L, "three"))
          .toDF("doc_id", "text"))
      // epoch 1: doc 4
      DedupIndex.appendEpoch(spark, dir, 1L,
        Seq(doc(4L, "four")).toDF("doc_id", "text"))
      // epoch 2: re-signs doc 1, tombstones doc 3
      DedupIndex.appendEpoch(spark, dir, 2L,
        Seq(doc(1L, "one-rev")).toDF("doc_id", "text"),
        deletes = Some(Seq(Tuple1(3L)).toDF("doc_id")))
      // epoch 3: doc 5
      DedupIndex.appendEpoch(spark, dir, 3L,
        Seq(doc(5L, "five")).toDF("doc_id", "text"))
      // epoch 4: doc 6 (stays the newest; never merged)
      DedupIndex.appendEpoch(spark, dir, 4L,
        Seq(doc(6L, "six")).toDF("doc_id", "text"))
    }
  }

  test("mid-range merge changes no reader view: latest sigs, tombstones, and fold pairs") {
    val base = tmpDir("tiered-mid")
    val (merged, oracle) = (s"$base/m", s"$base/o")
    seed(spark, merged, oracle)
    // merge epochs [1..3] — NOT at the prefix: epoch 0 still holds doc
    // 1's superseded sig and doc 3's live sig
    assert(DedupIndex.compactRange(spark, merged, 1L, 3L))
    assert(entriesOf(merged).map(e => (e.minEpoch, e.maxEpoch)) ===
      List((0L, 0L), (1L, 3L), (4L, 4L)))
    assert(DedupIndex.committedEpochs(merged) === (0L to 4L))

    // full-history latest view: doc 1 resolves to its epoch-2 re-sign,
    // doc 3 resolves to its tombstone (NOT resurrected from epoch 0)
    def latestView(dir: String) = {
      val sigs = DedupIndex.readSigs(spark, dir, 0L to 4L)
      sigs.join(sigs.groupBy(col("doc_id"))
          .agg(max(col("_sig_epoch")).as("_sig_epoch")),
          Seq("doc_id", "_sig_epoch"))
        .select(col("doc_id"), col("_sig_epoch"), col("mh_0").isNull.as("tomb"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    }
    assert(latestView(merged) === latestView(oracle))
    assert(latestView(merged).contains((3L, 2L, true)),
      "doc 3's tombstone must survive the mid-range merge")

    // the fold of a NEW epoch sees identical pairs: doc 1's epoch-0 sig
    // must stay suppressed via the merged range's carried resigned list
    import spark.implicits._
    val ep5 = Seq(doc(7L, "seven")).toDF("doc_id", "text")
    val pm = pairSet(DedupIndex.foldEpoch(spark, merged, 5L, ep5))
    val po = pairSet(DedupIndex.foldEpoch(spark, oracle, 5L, ep5))
    assert(pm === po)
    assert(pm.nonEmpty, "doc 7 is a near-dup of the whole family")
    assert(!pm.exists { case (a, b) => a == 3L || b == 3L },
      "deleted doc 3 must not pair")
    // both versions of doc 1 self-colliding would double the (1,7) pair
    assert(pm.count { case (a, b) => a == 1L && b == 7L } === 1)
    graft.analytics.SessionCaches.release(spark)
  }

  test("merged resigned list survives vacuum; prefix merge drops tombstones physically") {
    val base = tmpDir("tiered-vac")
    val dir = s"$base/ix"
    seed(spark, dir)
    assert(DedupIndex.compactRange(spark, dir, 1L, 3L))
    // the carried list exists and is referenced: zero-grace vacuum must
    // keep it (and the merged sigs/buckets/bloom) while reclaiming the
    // three superseded singletons (sigs+buckets+bloom each, plus the
    // resigned mirror only epoch 2 wrote — fresh-doc epochs 1 and 3
    // never publish one)
    val carried = java.nio.file.Paths.get(dir, entriesOf(dir)
      .find(e => e.minEpoch == 1L && e.maxEpoch == 3L).get.path
      .replaceFirst("^sigs/", "resigned/"))
    assert(java.nio.file.Files.exists(carried))
    assert(DedupIndex.vacuum(dir, graceMs = 0L) === 10)
    assert(java.nio.file.Files.exists(carried),
      "vacuum must not reclaim a merged range's carried resigned list")
    import spark.implicits._
    val p5 = DedupIndex.foldEpoch(spark, dir, 5L,
      Seq(doc(7L, "seven")).toDF("doc_id", "text"))
    assert(p5.count() > 0)
    assert(pairSet(p5).count { case (a, b) => a == 1L && b == 7L } === 1,
      "post-vacuum fold still suppresses doc 1's superseded epoch-0 sig")

    // now merge the full strictly-older prefix [0..5]: tombstoned doc 3
    // and doc 1's superseded row are dropped physically
    DedupIndex.appendEpoch(spark, dir, 6L,
      Seq(doc(8L, "eight")).toDF("doc_id", "text"))
    assert(DedupIndex.compact(spark, dir))
    val folded = DedupIndex.readSigs(spark, dir, 0L to 5L)
    assert(folded.filter(col("mh_0").isNull).count() === 0L)
    assert(folded.filter(col("doc_id") === 3L).count() === 0L)
    assert(folded.filter(col("doc_id") === 1L).count() === 1L)
    graft.analytics.SessionCaches.release(spark)
  }

  test("compactRange refuses misaligned, newest-covering, and gapped ranges") {
    val base = tmpDir("tiered-guard")
    val dir = s"$base/ix"
    seed(spark, dir)
    // [1..3] then try to re-merge [2..3]: 2 is inside the merged entry
    assert(DedupIndex.compactRange(spark, dir, 1L, 3L))
    intercept[IllegalArgumentException](
      DedupIndex.compactRange(spark, dir, 2L, 3L))
    // the newest epoch must keep its own entry
    intercept[IllegalArgumentException](
      DedupIndex.compactRange(spark, dir, 1L, 4L))
    // single-entry run: nothing to merge
    assert(!DedupIndex.compactRange(spark, dir, 0L, 0L))
    graft.analytics.SessionCaches.release(spark)
  }

  test("size-tiered autoMaintain bounds entries without full-prefix rewrites") {
    val base = tmpDir("tiered-auto")
    val dir = s"$base/ix"
    import spark.implicits._
    var fullPrefixMerges = 0
    for (e <- 0L until 24L) {
      DedupIndex.appendEpoch(spark, dir, e,
        Seq(doc(100L + e, s"m$e")).toDF("doc_id", "text"))
      val before = entriesOf(dir)
      val (compacted, _) =
        DedupIndex.autoMaintain(spark, dir, maxEntries = 6,
          vacuumGraceMs = 0L, mergeFactor = 3)
      if (compacted) {
        val after = entriesOf(dir)
        assert(after.size === before.size - 2, "one 3-run merged per pass")
        // tiered = the merge never spans the whole strictly-older prefix
        // once history has tiers (that would be the O(corpus) rewrite)
        if (before.size > 4 &&
          after.head.maxEpoch == before.dropRight(1).last.maxEpoch)
          fullPrefixMerges += 1
      }
      assert(entriesOf(dir).size <= 7)
      assert(DedupIndex.committedEpochs(dir) === (0L to e))
    }
    assert(fullPrefixMerges === 0,
      "size-tiered policy must merge small runs, not rewrite the prefix")
    // geometric shape: the oldest entry is a wide range, the newest a
    // singleton, and every epoch is still resolvable
    val es = entriesOf(dir)
    assert(es.head.maxEpoch - es.head.minEpoch >
      es.last.maxEpoch - es.last.minEpoch)
    assert(DedupIndex.epochPairs(spark, dir, 23L).count() >= 0)
    graft.analytics.SessionCaches.release(spark)
  }
}
