package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operator family over `documents` — the large-scale
  * training-data-pipeline ops: exact (hash-groupBy), n-gram Jaccard,
  * MinHash+LSH, SimHash, and connected-component near-dup clustering.
  * All candidate generation is bucket-join shaped
  * (explode → shuffle on the bucket key → pair within bucket), never an
  * O(n²) cross join — the property that survives a 100× scale-up.
  */
object DedupQueries {
  import Tables._
  type Q = (SparkSession, String) => DataFrame

  private val ShingleLen = 5 // 5-word shingles

  /** True when `text` yields at least one shingle — i.e. a MinHash
    * signature; false for null or shorter-than-[[ShingleLen]] text.
    */
  private[graft] def hasShingles(text: Column): Column =
    text.isNotNull && size(split(text, " ")) >= ShingleLen

  /** Word-5-gram shingle OCCURRENCES per doc: (doc_id, shingle), not
    * deduplicated — each consumer dedups (or not) in its cheapest form:
    * Jaccard dedups AFTER hashing (8-byte exchange rows instead of
    * ~30-byte strings), MinHash needs no dedup at all (min over a
    * multiset == min over the set), saving that shuffle entirely.
    */
  /** Round-6 shape: explode the cheap INDEX sequence and build each
    * shingle string in the projection ABOVE the Generate — every
    * expression on the path (split, slice, concat_ws) is codegen'd,
    * and the expensive work is never duplicated into an inferred
    * pre-Generate filter. The previous transform-lambda formulation
    * lost twice: higher-order functions run interpreted per element,
    * and InferFiltersFromGenerate synthesizes a
    * `size(transform(...)) > 0` predicate that predicate-pushdown then
    * re-inlines BELOW the scan-side fan-out — the full shingle array
    * was being computed two extra times on the single scan partition
    * (measured: 1.5-2 s of the dd08 signature pass at sf0.1).
    */
  private[graft] def shingles(docs: DataFrame): DataFrame = {
    // guard: Spark's sequence(1, n) turns DESCENDING for n < 1 — a short
    // doc must yield zero shingles, not garbage (DuckDB range() is empty)
    val idx = when(size(col("_w")) >= ShingleLen,
      sequence(lit(1), size(col("_w")) - (ShingleLen - 1)))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), split(col("text"), " ").as("_w"))
      .select(col("doc_id"), col("_w"), explode(idx).as("_i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("_w"), col("_i"), lit(ShingleLen)))
          .as("shingle"))
  }

  /** (doc_id, _sh_arr: array<bigint>) — each doc's DISTINCT hashed
    * shingle set as an in-row array. The words array is materialized
    * as a COLUMN before the transform lambda slices it: referencing
    * the derived `split()` inside the lambda re-evaluates the split
    * per ELEMENT (t17's measured trap, 18.6 s → ~2 s there).
    */
  private def distinctShingleArr(docs: DataFrame): DataFrame = {
    val idx = when(size(col("_w")) >= ShingleLen,
      sequence(lit(1), size(col("_w")) - (ShingleLen - 1)))
      .otherwise(array().cast("array<int>"))
    docs.select(col("doc_id"), split(col("text"), " ").as("_w"))
      .select(col("doc_id"), array_distinct(transform(idx,
        i => xxhash64(concat_ws(" ", slice(col("_w"), i, lit(ShingleLen))))))
        .as("_sh_arr"))
  }

  /** Per-doc DISTINCT hashed shingle rows (doc_id, shingle: int64),
    * deduplicated IN-ROW (`array_distinct` over the doc's own hashed
    * shingle array) instead of a corpus-wide `.distinct()` — the
    * distinct key contains doc_id, so per-doc dedup IS the global
    * dedup, and the corpus-words-sized exchange the .distinct() paid
    * disappears outright (guide §2.4). Same 2^-64 hash-collision
    * tradeoff note as [[ngramJaccardPairs]]. `explode_outer` + null
    * filter, NOT explode: InferFiltersFromGenerate fires only on the
    * non-outer form, and its inferred size() predicate would re-run
    * the whole array build below the scan fan-out (see [[shingles]]);
    * a doc's hash is never null, so the filter drops exactly the
    * empty-set placeholder rows the plain explode never emitted.
    */
  private[graft] def distinctShingleHashes(docs: DataFrame): DataFrame =
    distinctShingleArr(docs)
      .select(col("doc_id"),
        explode_outer(col("_sh_arr")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** (doc_id, sh: array<int64>, n_sh) — the doc's distinct hashed
    * shingle SET with its size, both in-row: the zero-exchange input
    * of [[graft.operators.ShingleIndex.appendEpoch]] (previously a
    * distinct + groupBy-count + join-back, three exchanges of the
    * corpus-words-sized shingle stream).
    */
  private[graft] def distinctShingleSets(docs: DataFrame): DataFrame =
    distinctShingleArr(docs)
      .select(col("doc_id"), col("_sh_arr").as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))

  /** Candidate near-dup pairs by shared shingle + exact Jaccard.
    * Shape: explode → groupBy(shingle) bucket join → pair-count →
    * |A∩B| / (|A|+|B|-|A∩B|). The shared-shingle prefilter bounds the
    * join to colliding docs only. The join key is xxhash64(shingle), not
    * the ~30-byte shingle string: 8-byte exchange keys cut shuffle bytes
    * and comparison cost (a 2^-64 hash collision perturbs one count —
    * immaterial against the 4-decimal Jaccard threshold).
    *
    * `maxDocFreq` is the hot-bucket valve: a shingle shared by f docs
    * contributes O(f²) candidate pairs, and web-scale boilerplate (nav
    * bars, disclaimers) makes f unbounded. Shingles with doc-frequency
    * > maxDocFreq are dropped from BOTH the join and the per-doc size
    * denominators — capped-set Jaccard, computed identically by the
    * DuckDB oracle. The default never triggers on the test corpus
    * (measured max doc-freq 4), so small-scale results are unchanged;
    * at crawl scale it bounds the worst bucket at maxDocFreq² pairs.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
                        maxDocFreq: Int = 64): DataFrame = {
    // NB the in-row dedup collapses (doc_id, HASH) while the oracle
    // dedups raw shingle strings: an IN-DOCUMENT xxhash64 collision
    // would collapse two distinct shingles and shift that doc's
    // n_sh/doc-freq counts off the oracle's. Accepted as a
    // ~2^-64-per-pair risk (vs paying a ~30-byte-string exchange to
    // dedup before hashing); a cross-document collision only perturbs
    // one `shared` count against the 4-decimal Jaccard threshold.
    // Round-6: the dedup happens per-doc in-row (array_distinct), so
    // the corpus-words-sized `.distinct()` exchange is gone (§2.4).
    val shRaw = SessionCaches.track(distinctShingleHashes(docs))
    // the HOT set (df > cap) is small by construction — boilerplate
    // shingles are few in kind, huge in frequency — so subtracting it
    // with a broadcast anti-join costs no extra shuffle (a keep-side
    // equi-join would re-exchange the full shingle set)
    val hot = shRaw.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq).select(col("shingle"))
    val sh = SessionCaches.track(
      shRaw.join(broadcast(hot), Seq("shingle"), "left_anti"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val shared = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private[graft] val MinhashK = 32 // 8 bands × 4 rows
  private[graft] val Bands = 8
  private[graft] val RowsPerBand = MinhashK / Bands

  /** MinHash signatures: k universal-hash mins over one portable 31-bit
    * shingle hash ([[Hashing.h31]] + the (a·x+b) mod P family). One md5
    * per distinct shingle; the k per-seed hashes are codegen'd integer
    * arithmetic — and the whole signature is reproducible in DuckDB SQL,
    * so MinHash+LSH is oracle-checked, not rows-only.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // no shingle dedup: min is multiset-invariant, so the signature is
    // identical without the distinct's (doc_id, shingle) shuffle — the
    // only exchange left in the signature pass is the groupBy(doc_id),
    // and the k per-seed mins pre-combine map-side
    val sh = shingles(docs)
      .select(col("doc_id"), Hashing.h31(col("shingle")).as("h"))
    val mins = (0 until MinhashK).map(i =>
      min(Hashing.uh(i, col("h"))).as(s"mh_$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band-bucket table of a signature frame: one (doc_id, band, bkt)
    * row per band, where bkt is the raw row-value TUPLE for that band
    * (no engine hash — the DuckDB oracle joins on the same tuples).
    * Shared by the batch pair generator and the incremental index
    * ([[graft.operators.DedupIndex]]), so both produce the identical
    * candidate space.
    */
  private[graft] def sigBuckets(sig: DataFrame,
                                carry: Seq[String] = Nil): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until RowsPerBand)
          .map(r => col(s"mh_${b * RowsPerBand + r}").as(s"r$r")): _*).as("bkt"))
    }
    // `carry` columns (the index's `_sig_epoch` provenance) ride through
    // the explode as plain projections — no join back to the sig frame
    sig.select(col("doc_id") +: carry.map(col) :+
        explode(array(bandCols: _*)).as("bb"): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("bb.band").as("band") :+ col("bb.bkt").as("bkt"): _*)
  }

  /** Matching-minhash-rows count between signature sides aliased `a`/`b`
    * — est_jaccard = this / MinhashK.
    */
  private[graft] def sigMatchCount: Column =
    (0 until MinhashK)
      .map(i => when(col(s"a.mh_$i") === col(s"b.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** LSH candidate pairs: docs agreeing on all rows of ≥1 band, with the
    * minhash-estimated Jaccard (matching rows / k). Est-only — callers
    * verify with ngramJaccardPairs on the candidates when exactness
    * matters.
    *
    * Shape: band keys are the raw row-value TUPLES ([[sigBuckets]]); the
    * signature table is one narrow row per doc, so both the band
    * self-join's build side and the two est joins BROADCAST it — the
    * only shuffle is the band bucket join. (The incremental variant,
    * [[graft.operators.DedupIndex]], drops the broadcasts: an INDEX-wide
    * signature side is not broadcastable at scale.)
    */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    val sig = SessionCaches.track(minhashSignatures(docs))
    val buckets = sigBuckets(sig)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(broadcast(sig.as("a")), col("doc_a") === col("a.doc_id"))
      .join(broadcast(sig.as("b")), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(sigMatchCount.cast("double") / MinhashK, 4).as("est_jaccard"))
  }

  private val SimBits = 60 // 4 bands × 15 bits; 60-bit values stay
                           // positive in signed 64-bit lanes both engines

  /** SimHash from word hashes: per-bit majority vote as 60 sum
    * aggregates (stays in whole-stage codegen; no UDF/UDAF). Word hash
    * is the portable [[Hashing.h60]], so the signature — and therefore
    * the pair set — is recomputable by the DuckDB oracle.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val wordHash = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"), Hashing.h60(col("word")).as("h"))
    val bitSums = (0 until SimBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$j"))
    val agg = wordHash.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until SimBits).map(j =>
      when(col(s"b_$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs within hamming distance ≤ maxDist, candidates
    * bucketed by 15-bit bands (a pair within distance 3 must agree on at
    * least one of 4 bands — pigeonhole), verified by bit_count(xor).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sh = SessionCaches.track(simhash(docs))
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFFL).as("bkt")))
    val buckets = sh.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bkt"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  private[graft] val NearDupTables = 6
  private[graft] val NearDupPlanes = 4

  /** Embedding near-dup pairs with LSH-table candidate generation: each
    * vector gets one sign-bucket per hash table (literal hyperplanes —
    * [[Hashing.hyperplanes]]); candidates share a (table, bucket);
    * survivors are exact-cosine-verified. Replaces the round-1
    * label-bucketed all-pairs: a metadata group is unbounded (one hot
    * label ⇒ O(n²)), while an LSH bucket's expected size is corpus/2^P
    * per table — the shape that survives a 100× scale-up. Multi-table
    * OR-ing buys back the recall a single bucketing loses.
    */
  def embeddingNearDupPairs(s: SparkSession, d: String, minCos: Double): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding").as("v"))
    val tblCols = (0 until NearDupTables).map { t =>
      val planes = Hashing.hyperplanes(NearDupPlanes, 64, 1000L + t)
      struct(lit(t).as("tbl"), Hashing.bucketCol(s, col("v"), planes).as("bkt"))
    }
    val b = e.select(col("vec_id"), col("v"),
        explode(array(tblCols: _*)).as("tb"))
      .select(col("vec_id"), col("v"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    b.as("x").join(b.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        round(graft.plans.VectorFunctions.vec_cosine(s, col("x.v"), col("y.v")), 4).as("cos"))
      .distinct()
      .filter(col("cos") >= minCos)
  }

  /** The Jaccard pair graph dd03/dd07/t13 all start from, built once
    * per (session, sfDir, threshold) and deliberately shared across
    * those queries within a run ([[SessionCaches.memo]]) — a curation
    * run's pair stage is computed once, not once per consumer. Like any
    * cached Spark plan the share is SNAPSHOT-scoped: rewrite the data
    * under `d` in place and the memo serves the pre-rewrite graph until
    * [[SessionCaches.release]] ends the run scope.
    */
  def sharedJaccardPairs(s: SparkSession, d: String,
                         threshold: Double): DataFrame =
    SessionCaches.memo(s, s"jaccard-pairs|$d|$threshold") {
      ngramJaccardPairs(documents(s, d), threshold)
    }

  /** The dd13/dd14 two-epoch ShingleIndex over `d`, built once per run
    * scope ([[SessionCaches.memoValue]] holds the scratch dir;
    * [[SessionCaches.memo]] holds each epoch's materialized pair
    * frame) — the [[sharedJaccardPairs]] discipline applied to the
    * incremental exact-pair stage, so the index and its fold plans are
    * computed once, not once per consumer (dd14 unions the pairs, dd13
    * folds the same pairs into cluster state). Same snapshot-scoped
    * caveat as every keyed memo.
    */
  def sharedShinglePairs(s: SparkSession,
                         d: String): (DataFrame, DataFrame) = {
    val dir = sharedShingleIndexDir(s, d)
    def pairs(e: Long) = SessionCaches.memo(s, s"shingle-pairs|$d|$e") {
      graft.operators.ShingleIndex.epochPairs(s, dir, e, 0.8)
    }
    (pairs(0L), pairs(1L))
  }

  /** The dd08/dd09 two-epoch MinHash index over `d`, built once per run
    * scope — the [[sharedShingleIndexDir]] discipline applied to the
    * minhash modality: the signature pass and the append's side
    * artifacts (buckets dirs, Bloom sidecar, resigned probe) are
    * computed once per corpus, not once per consumer. dd08 folds the
    * candidate pairs; dd09 exact-verifies the SAME memoized candidates.
    * Same snapshot-scoped caveat as every keyed memo.
    */
  def sharedMinhashIndexDir(s: SparkSession, d: String): String =
    SessionCaches.memoValue(s, s"minhash-ix|$d") {
      val ix = graft.FsUtil.scratchDir("mhix")
      val docs = documents(s, d)
      graft.operators.DedupIndex.appendEpoch(s, ix, 0L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      // epoch 0's candidate fold reads only its committed (pinned)
      // files — materialize the memoized frame concurrently with
      // epoch 1's append (guide §2.6); consumers get it cache-warm
      val p0 = SessionCaches.memo(s, s"minhash-pairs|$d|0") {
        graft.operators.DedupIndex.epochPairs(s, ix, 0L)
      }
      val pre = java.util.concurrent.CompletableFuture.runAsync(() =>
        try { p0.count(); () } catch { case _: Throwable => () })
      graft.operators.DedupIndex.appendEpoch(s, ix, 1L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      pre.join()
      ix
    }

  /** The shared index's per-epoch candidate pairs (est_jaccard rows),
    * memoized like [[sharedShinglePairs]] — each epoch's index fold is
    * computed once, whichever of dd08/dd09 runs first.
    */
  def sharedMinhashEpochPairs(s: SparkSession,
                              d: String): (DataFrame, DataFrame) = {
    val dir = sharedMinhashIndexDir(s, d)
    def pairs(e: Long) = SessionCaches.memo(s, s"minhash-pairs|$d|$e") {
      graft.operators.DedupIndex.epochPairs(s, dir, e)
    }
    (pairs(0L), pairs(1L))
  }

  /** The shared index's scratch dir alone — dd15 reads the SAME
    * persisted shingle sets the pair maintenance uses (one shingle
    * store, every consumer).
    */
  def sharedShingleIndexDir(s: SparkSession, d: String): String =
    SessionCaches.memoValue(s, s"shingle-ix|$d") {
      val ix = graft.FsUtil.scratchDir("shix")
      val docs = documents(s, d)
      graft.operators.ShingleIndex.appendEpoch(s, ix, 0L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))
      graft.operators.ShingleIndex.appendEpoch(s, ix, 1L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      ix
    }

  /** Near-dup CLUSTERS: connected components over the Jaccard pair
    * graph, labeled by the component's min doc_id (the canonical
    * keeper). Pairwise keeper selection (t13's "drop doc_b of every
    * pair") is not transitive — a chain a~b~c must become ONE cluster
    * with one keeper, which needs components, not pairs. The CC loop
    * (HashMin + pointer-doubling escalation, decimal-exact convergence)
    * lives in [[graft.operators.ConnectedComponents]].
    */
  def dupClusters(s: SparkSession, d: String, threshold: Double): DataFrame = {
    val pairs = sharedJaccardPairs(s, d, threshold)
      .select(col("doc_a"), col("doc_b"))
    graft.operators.ConnectedComponents.run(s, pairs)
      .labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup scalar summary (works even when the corpus is dup-free).
    "dd01_exact_summary" -> ((s, d) => documents(s, d)
      .agg(count(lit(1)).as("n_total"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))),

    // Exact dedup on a weaker key (first-3-words prefix): keep min doc_id
    // per key — the canonical hash-groupBy keeper selection.
    "dd02_exact_keeper" -> ((s, d) => {
      val key = concat_ws(" ", slice(split(col("text"), " "), 1, 3))
      documents(s, d).withColumn("k", key)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .filter(col("n_copies") > 1)
    }),

    // n-gram Jaccard near-dup pairs (exact, bucket-join candidates).
    // Shared with dd07/t13 via the session memo — whichever runs first
    // pays the pair-stage build.
    "dd03_ngram_jaccard" -> ((s, d) => sharedJaccardPairs(s, d, 0.8)),

    // MinHash+LSH candidates with estimated Jaccard — portable-hash
    // signatures, fully oracle-checked; recall vs exact Jaccard is
    // additionally asserted in DedupSimilaritySpec.
    "dd04_minhash_lsh" -> ((s, d) => minhashLshPairs(documents(s, d))),

    // SimHash near-dups — portable-hash signature, oracle-checked;
    // hamming property-tested in DedupSimilaritySpec.
    "dd05_simhash" -> ((s, d) => simhashPairs(documents(s, d), 3)),

    // Embedding-cosine near-dup pairs, LSH-table candidates + exact
    // verify. (testdata vectors top out near cos≈0.48, so the "near-dup"
    // threshold is 0.4 — the operator, not the constant, is the
    // deliverable.)
    "dd06_embedding_neardup" -> ((s, d) => embeddingNearDupPairs(s, d, 0.4)),

    // Near-dup clustering: connected components over the pair graph,
    // min-doc_id canonical labels (transitive keeper selection).
    "dd07_dup_clusters" -> ((s, d) => dupClusters(s, d, 0.8)),

    // INCREMENTAL near-dup: fold the corpus through a persisted MinHash
    // signature index in two epochs (deterministic doc_id-parity split);
    // each epoch is deduped against itself + the index, never against
    // re-shingled corpus text. The union over epochs must equal the
    // from-scratch dd04 pair set — same oracle SQL. The index dir is a
    // run-scoped scratch dir (tiny: 32 ints/doc; reclaimed at JVM
    // exit, FsUtil.scratchDir); the returned frame reads only files
    // committed at build time (pinned paths), and epochPairs(e) reads
    // only entries <= e, so epoch 0's pair set is identical whether or
    // not epoch 1 is already committed.
    // The index build + per-epoch candidate folds are shared with dd09
    // via the session memo (the dd13/dd14 discipline): dd08's pair set
    // and dd09's verify stage both read the ONE two-epoch index,
    // whichever runs first pays the build.
    "dd08_incremental_neardup" -> ((s, d) => {
      val (p0, p1) = sharedMinhashEpochPairs(s, d)
      p0.unionByName(p1)
    }),

    // Incremental SIMHASH near-dup: the dd08 pattern for the third
    // signature modality (operators/SimHashIndex, shared manifest
    // layer) — two-epoch fold, pair set equal to from-scratch dd05 —
    // same oracle SQL.
    "dd12_incremental_simhash" -> ((s, d) => {
      val dir = graft.FsUtil.scratchDir("dd12-index")
      val docs = documents(s, d)
      val p0 = graft.operators.SimHashIndex.foldEpoch(s, dir, 0L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), 3)
      val p1 = graft.operators.SimHashIndex.foldEpoch(s, dir, 1L,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), 3)
      p0.unionByName(p1)
    }),

    // Incremental EMBEDDING near-dup: the dd08 pattern for the vector
    // modality — two-epoch fold through a persisted vector index
    // (operators/EmbeddingIndex, shared manifest layer), pair set equal
    // to the from-scratch dd06 — same oracle SQL.
    "dd11_incremental_embedding" -> ((s, d) => {
      val dir = graft.FsUtil.scratchDir("dd11-index")
      val vecs = embeddings(s, d)
      val p0 = graft.operators.EmbeddingIndex.foldEpoch(s, dir, 0L,
        vecs.filter(pmod(col("vec_id"), lit(2)) === 0), 0.4)
      val p1 = graft.operators.EmbeddingIndex.foldEpoch(s, dir, 1L,
        vecs.filter(pmod(col("vec_id"), lit(2)) === 1), 0.4)
      p0.unionByName(p1)
    }),

    // Training-data op: EVAL-SET DECONTAMINATION — the n-gram overlap
    // pass every training corpus runs against held-out benchmarks
    // before training. Benchmark slice = doc_id % 20 == 0 (synthetic
    // stand-in for an eval set); a training doc is contaminated if it
    // shares >= 1 word-5-gram with any eval doc. Shape: the same
    // hashed-shingle bucket join as the dedup family (8-byte keys, no
    // cross join); the two countDistincts expand rows 2x — bounded by
    // colliding (train, eval, shingle) triples, not corpus^2.
    "dd10_decontamination" -> ((s, d) => {
      val docs = documents(s, d)
      val isEval = pmod(col("doc_id"), lit(20)) === 0
      // in-row distinct (no corpus-wide exchange) — see
      // distinctShingleHashes
      def sh(df: DataFrame) = distinctShingleHashes(df)
      val train = sh(docs.filter(!isEval))
      val eval_ = sh(docs.filter(isEval))
        .withColumnRenamed("doc_id", "eval_id")
      train.join(eval_, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
    }),

    // INCREMENTAL EXACT pairs: the dd08 pattern for the exact-Jaccard
    // modality (operators/ShingleIndex — persisted distinct hashed
    // shingle sets with on-row denominators). Two-epoch fold; the union
    // must equal from-scratch dd03 — same oracle SQL, no corpus
    // re-shingling after each doc's signing epoch.
    "dd14_incremental_jaccard" -> ((s, d) => {
      val (p0, p1) = sharedShinglePairs(s, d)
      p0.unionByName(p1)
    }),

    // INCREMENTAL dup clustering — the round-4 brief's last
    // batch-recompute holdout: per-epoch exact pairs (ShingleIndex)
    // fold into a persisted label state table (operators/ClusterIndex,
    // label-graph contraction + bounded CC per epoch); the final labels
    // must equal from-scratch dd07 on the cumulative corpus — same
    // oracle SQL. Clustering cost per epoch tracks the epoch's pair
    // delta, never the historical graph.
    "dd13_incremental_clusters" -> ((s, d) => {
      val clDir = graft.FsUtil.scratchDir("dd13-cl")
      val (p0, p1) = sharedShinglePairs(s, d)
      // materialize the two memoized (persisted) pair frames as
      // CONCURRENT jobs before folding (guide §2.6): the folds must run
      // serially (fold 1 reads fold 0's committed state), but the pair
      // computations are independent of the cluster dir — overlapping
      // them takes the pair stage to max(p0, p1) instead of p0 + p1.
      // A failure here is swallowed: the frames are lazy, so the fold
      // recomputes and surfaces the same error through the normal path.
      val pre = Seq(p0, p1).map(p =>
        java.util.concurrent.CompletableFuture.runAsync(() =>
          try { p.count(); () } catch { case _: Throwable => () }))
      pre.foreach(_.join())
      Seq(p0, p1).zipWithIndex.foreach { case (pairs, e) =>
        graft.operators.ClusterIndex.foldEpoch(s, clDir, e.toLong,
          pairs.select(col("doc_a"), col("doc_b")))
      }
      graft.operators.ClusterIndex.readLabels(s, clDir)
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    }),

    // INCREMENTAL eval-set decontamination — dd10 without the per-run
    // corpus re-shingle: each training epoch's contamination rows come
    // from its PERSISTED shingle sets in the shared ShingleIndex (the
    // same store dd13/dd14 maintain — one shingle pass per doc ever,
    // for every consumer) joined against the index's live eval-doc
    // sets. Union over epochs == batch dd10 — same oracle SQL.
    "dd15_incremental_decontamination" -> ((s, d) => {
      val dir = sharedShingleIndexDir(s, d)
      val evalIds = documents(s, d).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(20)) === 0)
      Seq(0L, 1L).map(e =>
          graft.operators.ShingleIndex.contamination(s, dir, e, evalIds))
        .reduce(_ unionByName _)
    }),

    // Incremental candidates + EXACT-Jaccard verify: the two-epoch fold
    // again, but each epoch's index candidates are verified by shingling
    // ONLY the candidate documents (pairs-bounded text work). Union over
    // epochs == exact Jaccard over the full LSH candidate set.
    // Candidates come from the SAME memoized per-epoch index folds as
    // dd08 (sharedMinhashEpochPairs); only the exact-verify stage —
    // candidate fetch, full-corpus guard, pairs-bounded shingling — is
    // dd09's own work.
    "dd09_incremental_verified" -> ((s, d) => {
      val (p0, p1) = sharedMinhashEpochPairs(s, d)
      val docs = documents(s, d)
      // the two epochs' verify stages each run an eager full-corpus
      // guard count during construction — independent jobs, overlapped
      // (guide §2.6); join() rethrows a failed guard's require()
      val futs = Seq(p0, p1).map(p =>
        java.util.concurrent.CompletableFuture.supplyAsync(() =>
          graft.operators.DedupIndex.verifyCandidates(s, p, docs,
            threshold = 0.8)))
      futs.map { f =>
        try f.join()
        catch { case e: java.util.concurrent.CompletionException =>
          throw Option(e.getCause).getOrElse(e) }
      }.reduce(_ unionByName _)
    })
  )

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the SQL
    * twin of [[ngramJaccardPairs]] (incl. the doc-frequency cap), shared
    * by the dd03 oracle and the t13 curation oracle.
    */
  private[analytics] def jaccardPairsSqlCtes(threshold: Double): String =
    s"""sh0 AS (
       | SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text,' ')) - 3),
       |    i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS shingle
       |  FROM documents)),
       |keep AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 64),
       |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shared AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       | GROUP BY 1,2),
       |pairs AS (
       | SELECT doc_a, doc_b,
       |  round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
       | FROM shared
       | JOIN sizes sa ON sa.doc_id = doc_a
       | JOIN sizes sb ON sb.doc_id = doc_b
       | WHERE round(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) >= $threshold)""".stripMargin

  /** The dd04 DuckDB twin (signatures, band-OR candidates, est) — also
    * the dd08 oracle: the incremental fold must reproduce this exact
    * pair set.
    */
  /** DuckDB CTE chain ending in `cand(doc_a, doc_b)` — the LSH
    * candidate pairs (signatures, band-OR) shared by the dd04/dd08/dd09
    * oracles, plus `sh(doc_id, shingle)`, the distinct shingle sets.
    */
  private lazy val minhashCandSqlCtes: String = {
    val minCols = (0 until MinhashK)
      .map(i => s"min(${Hashing.uhSql(i, "h")}) AS mh_$i").mkString(",\n |  ")
    val bandOr = (0 until Bands).map { b =>
      "(" + (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"a.mh_$i = b.mh_$i").mkString(" AND ") + ")"
    }.mkString("\n |   OR ")
    s"""sh AS (
       | SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(string_split(text,' ')) - 3),
       |    i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS shingle
       |  FROM documents)),
       |hh AS (SELECT doc_id, ${Hashing.h31Sql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |  $minCols
       | FROM hh GROUP BY 1),
       |cand AS (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
       |   $bandOr))""".stripMargin
  }

  private lazy val minhashLshOracleSql: String = {
    val matchSum = (0 until MinhashK)
      .map(i => s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashCandSqlCtes
       |SELECT c.doc_a, c.doc_b,
       | round(($matchSum) / 32.0, 4) AS est_jaccard
       |FROM cand c
       |JOIN sig a ON a.doc_id = c.doc_a
       |JOIN sig b ON b.doc_id = c.doc_b""".stripMargin
  }

  /** dd09 oracle: exact (uncapped) Jaccard over the LSH candidate set —
    * the verified-incremental twin. Same string-shingle vs hashed-
    * shingle dedup note as dd03 (2^-64).
    */
  private def verifiedCandOracleSql(threshold: Double): String =
    s"""WITH $minhashCandSqlCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |shared AS (
       | SELECT c.doc_a, c.doc_b, count(*) AS shared
       | FROM cand c
       | JOIN sh a ON a.doc_id = c.doc_a
       | JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       | GROUP BY 1, 2)
       |SELECT s.doc_a, s.doc_b,
       | round(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 4) AS jaccard
       |FROM shared s
       |JOIN sizes sa ON sa.doc_id = s.doc_a
       |JOIN sizes sb ON sb.doc_id = s.doc_b
       |WHERE round(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 4)
       |  >= $threshold""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd01_exact_summary" ->
      """SELECT count(*) AS n_total, count(DISTINCT md5(text)) AS n_distinct,
        | count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin,
    "dd02_exact_keeper" ->
      """SELECT k, count(*) AS n_copies, min(doc_id) AS keeper FROM (
        | SELECT doc_id, array_to_string((string_split(text,' '))[1:3], ' ') AS k
        | FROM documents)
        |GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "dd03_ngram_jaccard" ->
      s"""WITH ${jaccardPairsSqlCtes(0.8)}
         |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin,
    // the incremental exact fold must produce EXACTLY the from-scratch
    // pair set — same oracle as dd03
    "dd14_incremental_jaccard" ->
      s"""WITH ${jaccardPairsSqlCtes(0.8)}
         |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin,
    "dd04_minhash_lsh" -> minhashLshOracleSql,
    // the incremental fold must produce EXACTLY the from-scratch pair
    // set — same oracle as dd04
    "dd08_incremental_neardup" -> minhashLshOracleSql,
    "dd09_incremental_verified" -> verifiedCandOracleSql(0.8),
    "dd10_decontamination" -> decontamOracleSql,
    "dd15_incremental_decontamination" -> decontamOracleSql,
    "dd05_simhash" -> simhashOracleSql,
    "dd12_incremental_simhash" -> simhashOracleSql) ++ oraclesRest

  /** Shared by dd10 (batch) and dd15 (incremental over the shingle
    * index) — the two must produce the identical table.
    */
  private lazy val decontamOracleSql: String =
    """WITH sh AS (
      | SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split(text,' ')) - 3),
      |    i -> array_to_string((string_split(text,' '))[i:i+4], ' '))) AS shingle
      |  FROM documents)),
      |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 20 = 0)
      |SELECT t.doc_id,
      | count(DISTINCT t.shingle) AS n_shared_shingles,
      | count(DISTINCT ev.eval_id) AS n_eval_docs
      |FROM sh t JOIN ev ON ev.shingle = t.shingle
      |WHERE t.doc_id % 20 <> 0
      |GROUP BY 1""".stripMargin

  private lazy val simhashOracleSql: String = {
      val bitCols = (0 until SimBits)
        .map(j => s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b_$j")
        .mkString(",\n |  ")
      val pack = (0 until SimBits)
        .map(j => s"(CASE WHEN b_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      val bandOr = (0 until 4)
        .map(b => s"((x.sh >> ${b * 15}) & 32767) = ((y.sh >> ${b * 15}) & 32767)")
        .mkString("\n |   OR ")
      s"""WITH wh AS (
         | SELECT doc_id, ${Hashing.h60Sql("word")} AS h FROM (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         | WHERE word <> ''),
         |bits AS (SELECT doc_id,
         |  $bitCols
         | FROM wh GROUP BY 1),
         |sig AS (SELECT doc_id, $pack AS sh FROM bits)
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         | CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND (
         |  $bandOr)
         |WHERE bit_count(xor(x.sh, y.sh)) <= 3""".stripMargin
  }

  private lazy val dupClustersOracleSql: String =
    s"""WITH RECURSIVE ${jaccardPairsSqlCtes(0.8)},
       |edges AS (
       | SELECT doc_a, doc_b FROM pairs
       | UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, label) AS (
       | SELECT DISTINCT doc_a, doc_a FROM edges
       | UNION
       | SELECT e.doc_a, r.label FROM edges e JOIN reach r ON r.doc_id = e.doc_b)
       |SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY 1""".stripMargin

  private lazy val oraclesRest: Map[String, String] = Map(
    "dd07_dup_clusters" -> dupClustersOracleSql,
    // the maintained cluster state must equal from-scratch clustering
    // on the cumulative corpus — same oracle as dd07
    "dd13_incremental_clusters" -> dupClustersOracleSql,
    "dd11_incremental_embedding" -> embeddingNearDupOracleSql,
    "dd06_embedding_neardup" -> embeddingNearDupOracleSql)

  private lazy val embeddingNearDupOracleSql: String = {
      val tbls = (0 until NearDupTables).map { t =>
        val planes = Hashing.hyperplanes(NearDupPlanes, 64, 1000L + t)
        s"SELECT vec_id, v, $t AS tbl, ${Hashing.bucketSql("v", planes)} AS bkt FROM e"
      }.mkString("\n | UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         | $tbls)
         |SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
         | round(list_cosine_similarity(x.v, y.v), 4) AS cos
         |FROM b x JOIN b y
         | ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.vec_id < y.vec_id
         |WHERE round(list_cosine_similarity(x.v, y.v), 4) >= 0.4""".stripMargin
  }
}
