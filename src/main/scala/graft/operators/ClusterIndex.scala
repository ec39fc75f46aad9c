package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental DUP-CLUSTER maintenance — the last batch-recompute
  * holdout of the dedup family, closed: dd07 runs connected components
  * over the CUMULATIVE pair graph every run, so at a daily feed the
  * per-epoch clustering cost grows with history. This operator persists
  * the cluster labels as a maintained state table (the shared
  * [[DedupIndex]] manifest layer — snapshot commits, exactly-once
  * epochs, compaction, vacuum) and folds each epoch's NEW pairs on a
  * bounded subgraph.
  *
  * State row: (node, label, _sig_epoch) where label = the node's
  * component-min id over ALL pairs seen so far — exactly dd07's
  * canonical labels. `node` leads the row, so the store keys the
  * state by it: read = the store's live read (latest-per-node), and
  * upkeep = [[DedupIndex.autoMaintain]] on the dir, as for every index.
  *
  * The fold is label-graph contraction. Invariant: entering epoch E,
  * every clustered node's stored label is its component-min over the
  * cumulative graph up to E-1. New edges can only merge whole
  * components (or attach new nodes), so it suffices to run CC over the
  * CONTRACTED graph whose vertices are component labels and the
  * epoch's new node ids:
  *   1. map each new edge's endpoints to their stored labels (a node
  *      with no stored label is new; it maps to itself) — one narrow
  *      join of the epoch's endpoint set against the state table,
  *      output epoch-bounded;
  *   2. run [[ConnectedComponents]] over those label-level edges
  *      (self-loops dropped) — input bounded by the epoch's pairs,
  *      never the corpus;
  *   3. the resulting min-labels are GLOBAL min ids, because every
  *      stored label is already its component's min and every node is
  *      >= its own label — min over the contracted vertices = min over
  *      all member docs;
  *   4. append only the CHANGED rows: new nodes (straight from the
  *      contracted CC output) and members of relabeled components (one
  *      narrow state scan joined against the broadcast old-to-new label
  *      map — bounded by the components the epoch's edges touched).
  * An epoch that bridges two existing clusters therefore rewrites
  * exactly the rows of the cluster that loses the min race, not the
  * corpus; an epoch whose pairs all land inside existing clusters
  * writes nothing.
  *
  * Cost per epoch: O(new pairs) for the contraction + one narrow
  * (node, label) scan of the state table for the relabel join — no
  * pair-graph recompute, no CC over history. Oracle-checked as dd13:
  * folding per-epoch exact pairs ([[ShingleIndex]]) through this index
  * reproduces from-scratch dd07's labels on the cumulative corpus.
  *
  * Reference analog: the maintained `_update_user_stats` aggregate
  * (/root/reference/convoetl/loaders/sqlite.py:205-236) — fold the
  * delta into persisted state instead of recomputing from history.
  *
  * Retractions (edge deletes) are NOT maintained — removing an edge can
  * split a component, which min-labels cannot detect locally; a corpus
  * with retracted pairs re-clusters from scratch (documented non-goal,
  * same as dd07).
  */
object ClusterIndex {

  /** Current (latest-per-node) labels of the entries strictly older
    * than `before` (all committed entries when None) — the store's live
    * read ([[DedupIndex.live]]): the state side is ONE narrow (node,
    * label) scan crossing ZERO exchanges — no latest-per-node groupBy +
    * join-back over the O(corpus) label table on every fold and read.
    */
  private[graft] def liveLabels(spark: SparkSession, dir: String,
                                before: Option[Long]): DataFrame = {
    val entries = before match {
      case Some(e) => DedupIndex.priorEntries(dir, e)
      case None => DedupIndex.loadManifest(dir).entries
    }
    require(entries.nonEmpty, s"cluster index at $dir has no committed epochs")
    DedupIndex.live(spark, dir, entries).select(col("node"), col("label"))
  }

  /** Current labels: (node, label), latest-per-node. */
  def readLabels(spark: SparkSession, dir: String): DataFrame =
    liveLabels(spark, dir, before = None)

  /** Fold `pairs` (first two columns = an undirected edge list — the
    * epoch's NEW near-dup pairs) into the maintained labels as
    * `epochId`. Idempotent: a redelivered epoch returns false and runs
    * nothing. Returns true when the epoch committed.
    */
  def foldEpoch(spark: SparkSession, dir: String, epochId: Long,
                pairs: DataFrame): Boolean = {
    if (DedupIndex.loadManifest(dir).isCommitted(epochId)) return false
    val Array(cSrc, cDst) = pairs.columns.take(2)
    val p = pairs.select(col(cSrc).as("src"), col(cDst).as("dst"))
    val prior = DedupIndex.committedEpochs(dir).filter(_ < epochId)
    // the persisted intermediates below are read by several consumers
    // AND by appendFrameWithMirrors' write at the end, so they are
    // released only after the commit (an evicted block recomputes —
    // slow, never wrong)
    var hot = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { hot ::= df.persist(); df }
    // CC's result rides in persisted (ConnectedComponents.run adopts it
    // into the caller session's release scope) — but in a STREAMING
    // sink that session is the per-stream clone, whose scope nobody
    // releases; own the unpersist here so a fold leaks nothing
    // regardless of which session ran it
    def ownCc(df: DataFrame): DataFrame = { hot ::= df; df }
    try {
      val delta: DataFrame = prior match {
        case Nil =>
          // first epoch: the contracted graph IS the pair graph. No
          // isEmpty pre-probe (round-6): CC's bounded limit(N+1) probe
          // already handles an empty edge list (local union-find of
          // zero edges → empty labels) without a separate action
          ownCc(ConnectedComponents.run(spark, p).labels)
        case _ =>
          // state resolution is one narrow (node, label) scan — the
          // broadcast-filter path in [[liveLabels]] crosses zero exchanges
          // (round-6: previously a latest-per-node groupBy + join-back
          // over the whole label table, ~1.5 s at the 250k bench shape
          // and O(corpus) exchanged per epoch at scale). Read by four
          // consumers below; same for the epoch's edge and endpoint
          // frames — persist each once per fold
          val state = keep(liveLabels(spark, dir, Some(epochId)))
          val pE = keep(p)
          // endpoint set of the epoch's edges — epoch-bounded, broadcast
          val ends = keep(pE.select(col("src").as("node"))
            .unionByName(pE.select(col("dst").as("node"))).distinct())
          val sub = state.join(broadcast(ends), Seq("node"))
          // contract: endpoint -> stored label, new nodes -> themselves
          val ls = sub.select(col("node").as("src"), col("label").as("ls"))
          val ld = sub.select(col("node").as("dst"), col("label").as("ld"))
          // ls/ld are endpoint-bounded (≤ |ends| rows) — broadcast, so
          // the epoch's edges never shuffle to meet the state
          val contracted = keep(pE
            .join(broadcast(ls), Seq("src"), "left")
            .join(broadcast(ld), Seq("dst"), "left")
            .select(coalesce(col("ls"), col("src")).as("a"),
              coalesce(col("ld"), col("dst")).as("b"))
            .filter(col("a") =!= col("b")))
          // no isEmpty pre-probe (round-6): an all-in-cluster epoch
          // (contracted empty — every edge lands inside an existing
          // component) flows through as empty CC labels → empty
          // newRows/relabeled → an empty delta that still commits (the
          // exactly-once marker), saving one eager action per fold
          val cc = ownCc(ConnectedComponents.run(spark, contracted).labels)
          // old labels whose component got a smaller min, and new nodes
          val changed = cc.filter(col("node") =!= col("label"))
          val newIds = ends.join(state, Seq("node"), "left_anti")
          val newRows = cc.join(broadcast(newIds), Seq("node"))
          // relabel every member of a merged component: narrow state
          // scan x broadcast (old label -> new label) map
          val m = changed
            .join(state.select(col("node")), Seq("node"), "left_semi")
            .select(col("node").as("_old"), col("label").as("_new"))
          val relabeled = state
            .join(broadcast(m), col("label") === col("_old"))
            .select(col("node"), col("_new").as("label"))
          newRows.unionByName(relabeled)
      }
      // mirrors + Bloom sidecar on every entry (keyed on node, the
      // delta's first column): a relabeled node's older rows are dropped
      // by broadcast anti-join at read time instead of a whole-table
      // groupBy
      DedupIndex.appendFrameWithMirrors(spark, dir, epochId,
        delta.withColumn("_sig_epoch", lit(epochId)))
    } finally hot.foreach(_.unpersist(blocking = false))
  }
}
