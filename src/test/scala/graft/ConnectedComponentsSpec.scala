package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** The CC loop behind dd07: HashMin + pointer-doubling escalation,
  * decimal-exact convergence.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Force the DISTRIBUTED loop (these tests pin its round/convergence
    * behavior; small graphs otherwise take the driver-local solve).
    */
  private def labelsOf(pairs: Seq[(Long, Long)],
                       hashMinBudget: Int = ConnectedComponents.HashMinBudget,
                       maxRounds: Int = ConnectedComponents.MaxRounds) = {
    val r = ConnectedComponents.run(spark,
      pairs.toDF("doc_a", "doc_b"), hashMinBudget, maxRounds, localEdges = 0)
    (r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap, r.rounds)
  }

  test("driver-local solve (default for small graphs) equals the distributed loop") {
    // seeded random graph: clusters, chains, self-loops, dup edges
    val rnd = new scala.util.Random(7L)
    val pairs = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) ++
      (200L until 230L).map(i => (i, i + 1)) ++ Seq((500L, 500L))
    val local = ConnectedComponents.run(spark, pairs.toDF("doc_a", "doc_b"))
    assert(local.rounds === 0, "a 431-edge graph must take the local path")
    val (dist, _) = labelsOf(pairs)
    val lm = local.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(lm === dist)
    graft.analytics.SessionCaches.release(spark)
  }

  test("two components, min-id labels") {
    val (m, _) = labelsOf(Seq((3L, 1L), (1L, 7L), (10L, 12L)))
    assert(m === Map(1L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 12L -> 10L))
  }

  test("chain with diameter far past the HashMin budget converges via pointer doubling") {
    // a 300-node path: diameter 299. Plain HashMin would need 299 rounds
    // and trip the old maxRounds=64 failure; with shortcutting past
    // hashMinBudget=8 each extra round roughly halves the remaining
    // depth, so convergence lands well inside the budget.
    val chain = (0L until 299L).map(i => (i, i + 1))
    val (m, rounds) = labelsOf(chain)
    assert(m.size === 300)
    assert(m.values.forall(_ == 0L), "all nodes must reach the component min")
    assert(rounds <= 30, s"pointer doubling should converge fast, took $rounds")
  }

  test("non-convergence within maxRounds still fails loudly") {
    // budget chosen so even shortcutting can't finish: maxRounds=2 on a
    // diameter-20 chain with shortcutting disabled until round 50
    val chain = (0L until 20L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      labelsOf(chain, hashMinBudget = 50, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("regression: Long-sum convergence check would wrap and truncate propagation") {
    // Engineered so round 1's total label decrease is EXACTLY 2^64: the
    // old sum(label)-as-Long check wraps to "unchanged" and declares
    // convergence after round 1, returning a non-transitive labeling
    // (L-2 still self-labeled while its component min is 0). The
    // decimal(38,0) sum sees the real decrease and keeps going.
    //   comp A: 0 - (L-1) - (L-2)   round-1 decrease: L-1
    //   comp B: 1 - (L-4) - (L-5)   round-1 decrease: L-5
    //   comp C: 2 - 10              round-1 decrease: 8
    //   total = (L-1) + (L-5) + 8 = 2L + 2 = 2^64   (L = Long.MaxValue)
    val L = Long.MaxValue
    val (m, _) = labelsOf(Seq((0L, L - 1), (L - 1, L - 2),
      (1L, L - 4), (L - 4, L - 5), (2L, 10L)))
    assert(m(L - 2) === 0L, "comp A must fully propagate to 0")
    assert(m(L - 1) === 0L)
    assert(m(L - 5) === 1L, "comp B must fully propagate to 1")
    assert(m(10L) === 2L)
  }

  test("duplicate and both-orientation input edges are tolerated") {
    val (m, _) = labelsOf(Seq((5L, 6L), (6L, 5L), (5L, 6L), (6L, 7L)))
    assert(m === Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }
}
