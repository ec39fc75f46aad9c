package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected pair list —
  * the clustering core behind near-dup dedup (DedupQueries.dupClusters)
  * and any other graph-grouping operator.
  *
  * Algorithm: HashMin label propagation (every node starts labeled with
  * itself; each round takes the per-node min of its own and its
  * neighbors' labels) with POINTER-DOUBLING escalation: past
  * `hashMinBudget` rounds each round also shortcuts `label ←
  * label(label)` (one labels⋈labels self-join on narrow (node, label)
  * pairs). Plain HashMin needs diameter rounds — optimal for the
  * shallow components dup graphs produce (families, mirrors) at one
  * bucket join + min-HashAggregate per round; the shortcut bounds
  * pathological chain-shaped components at O(log diameter) extra rounds
  * instead of failing, so `maxRounds = 64` covers any graph that fits
  * in storage (2^56 node chain). Convergence that can't be reached in
  * `maxRounds` still fails loudly — returning partially-propagated
  * labels would be silently non-transitive clusters.
  *
  * Convergence check: labels are per-node non-increasing under
  * min-propagation, so sum(label) strictly decreases iff ANY label
  * changed — one scalar aggregate per round (which also materializes
  * that round's cache), no old⋈new comparison join. The sum is taken in
  * decimal(38,0): a Long sum over ~10^9 nodes with ~2^63 ids wraps, and
  * a wrapped sum can alias "decreased by exactly 2^64" to "unchanged",
  * silently truncating propagation (regression-pinned in
  * ConnectedComponentsSpec).
  *
  * Cache discipline: `edges` and the two live label frames are
  * persisted/unpersisted EXPLICITLY here (not via SessionCaches) — the
  * loop's critical frames must never be evicted mid-run by the
  * registry's LRU cap. Peak footprint: edges + 2 label copies. The
  * final labels frame is handed to [[graft.analytics.SessionCaches]] so
  * the caller's normal release path reclaims it.
  */
object ConnectedComponents {

  /** `labels`: (node, label) with label = component-min node id.
    * `rounds`: total propagation rounds run (spec hook).
    */
  final case class CCResult(labels: DataFrame, rounds: Int)

  /** Rounds of plain HashMin before pointer-doubling joins in — covers
    * real dup-graph diameters without paying the extra self-join.
    */
  val HashMinBudget = 8
  val MaxRounds = 64

  /** Edge-count ceiling for the DRIVER-LOCAL solve: a distributed
    * HashMin round costs ~1 s of fixed action/shuffle overhead at
    * local[32] regardless of data volume, so a small graph (an epoch's
    * contracted cluster delta, a test-scale pair graph) pays
    * rounds × overhead for work a driver union-find finishes in
    * microseconds. Below this many edges the graph is collected
    * (BOUNDED by construction — the probe is limit(N+1), never an
    * unbounded collect) and solved locally; at or above it the
    * distributed loop runs unchanged. Override per call with
    * `localEdges` (0 disables the local path).
    */
  val LocalSolveEdges = 1 << 20

  /** `pairs`: one row per undirected edge (src, dst) — any orientation,
    * duplicates tolerated. Column names are positional (first two).
    */
  def run(spark: SparkSession, pairs: DataFrame,
          hashMinBudget: Int = HashMinBudget,
          maxRounds: Int = MaxRounds,
          localEdges: Int = LocalSolveEdges): CCResult = {
    require(localEdges >= 0 && localEdges < Int.MaxValue,
      s"localEdges must be in [0, Int.MaxValue), got $localEdges")
    val Array(cSrc, cDst) = pairs.columns.take(2)
    val p = pairs.select(col(cSrc).as("src"), col(cDst).as("dst"))
    if (localEdges > 0) {
      // one evaluation, early-terminated: at most localEdges+1 rows ever
      // reach the driver, and if they all fit we already hold the graph
      val head = p.select(col("src").cast("long"), col("dst").cast("long"))
        .limit(localEdges + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (head.length <= localEdges) return localSolve(spark, head)
    }
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist()
    // `wrapped` is the view the NEXT round's plan is built from: after
    // each materialization it becomes a LogicalRDD over the cached rows
    // so round plans stay constant-size (see the persist comment below)
    var wrapped = labels
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .head.getDecimal(0)
    try {
      var prevSum = labelSum(labels)
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        val prop = edges.join(wrapped, edges("dst") === wrapped("node"))
          .select(edges("src").as("node"), col("label"))
        var next = wrapped.unionByName(prop)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
        if (rounds >= hashMinBudget) {
          // pointer doubling: label <- label(label). Every label IS a
          // node id present in `next` (inductively: labels start as
          // node ids and mins preserve that), so the left join hits for
          // all but the self-labeled roots it leaves unchanged.
          val parents = next
            .select(col("node").as("_pn"), col("label").as("_pl"))
          next = next.join(parents, col("label") === col("_pn"), "left")
            .select(col("node"), coalesce(col("_pl"), col("label")).as("label"))
        }
        // persist + RDD-wrap, not raw chaining: each round's Catalyst
        // plan embeds the previous round's TWICE (prop + union, and the
        // shortcut join doubles again), so uncut lineage grows 2^rounds
        // and the driver dies planning round ~20. After materializing
        // the round (the labelSum action), the next round builds on a
        // LogicalRDD wrapper over the cached rows — constant-size plans
        // every round. persist (CacheManager), NOT localCheckpoint: a
        // checkpoint's RDD blocks bypass the CacheManager and outlive
        // Dataset.unpersist, leaking storage a long-lived session can't
        // reclaim. An evicted block just recomputes through the wrapper
        // chain — slow, never wrong.
        val nextP = next.persist()
        val s = labelSum(nextP)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        // the superseded round's cache can never be read again — drop it
        // now so peak cache stays at 2 label copies, not diameter+1
        labels.unpersist(blocking = false)
        labels = nextP
        wrapped = spark.createDataFrame(nextP.rdd, nextP.schema)
        rounds += 1
      }
      if (!converged) {
        labels.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connected components did not converge within $maxRounds " +
            "rounds despite pointer doubling - graph exceeds the " +
            "2^(maxRounds - hashMinBudget) diameter bound")
      }
      // hand the (materialized) result to the caller's release scope;
      // from here on it is a normal query intermediate — released, it
      // recomputes through the wrapper chain like any unpersisted plan
      graft.analytics.SessionCaches.adopt(labels)
      CCResult(labels, rounds)
    } finally edges.unpersist(blocking = false)
  }

  /** Driver union-find (path compression, min-root union) over a
    * bounded edge array — value-identical to the distributed loop:
    * labels cover exactly the edge endpoints and each label is its
    * component's min node id. `rounds` = 0 marks the local path for
    * spec hooks.
    */
  private def localSolve(spark: SparkSession,
                         edges: Array[(Long, Long)]): CCResult = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.get(x)
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val out = nodes.asScala.toSeq.map(n => (n, find(n)))
    val labels = (if (out.isEmpty)
        spark.emptyDataset[(Long, Long)].toDF("node", "label")
      else out.toDF("node", "label")).persist()
    graft.analytics.SessionCaches.adopt(labels)
    CCResult(labels, 0)
  }
}
