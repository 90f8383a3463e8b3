package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphCC

class GraphCCSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] =
    GraphCC.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter)
      .as[(Long, Long)].collect().toMap

  test("transitive chain collapses to one component labeled by its min") {
    // A-B, B-C, C-D: (A,D) never appears as a pair but is the same cluster
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate min labels") {
    val got = cc(Seq((5L, 9L), (9L, 7L), (20L, 30L), (40L, 40L)))
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 20L -> 20L, 30L -> 20L,
      40L -> 40L))
  }

  test("duplicate, reversed, and self edges do not change the result") {
    val got = cc(Seq((2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("a long path needs diameter rounds and converges within the bound") {
    // path of 12 nodes: min label must walk the full diameter
    val edges = (0L until 11L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.values.toSet == Set(0L) && got.size == 12)
  }

  test("an empty edge list yields an empty labeling, not an error") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("a 10^4-node path converges within maxIter via star alternation") {
    // Diameter 9999 ≫ 25 rounds: pure min-propagation would fail here;
    // large-star/small-star alternation closes it in ~log2(n) rounds.
    val edges = (0L until 9999L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.values.toSet == Set(0L) && got.size == 10000)
    // The reported round count must sit in the logarithmic band — a
    // 10⁴-chain closes in ~log2(10⁴) ≈ 14 rounds (measured 15; certainly
    // > 5, a chain is the worst case, not a one-round star) — never the
    // Θ(diameter) regime an id-layout-sensitive scheme degrades to.
    val rounds = GraphCC.lastRunRounds
    assert(rounds >= 5 && rounds <= 18,
      s"10^4-chain reported $rounds rounds — outside the O(log n) band")
  }

  test("a zig-zag-id path (adversarial layout) stays in the log band") {
    // Ids alternate low/high along the path — the layout that defeated
    // label-jumping (it degraded to Θ(diameter/2) because a node's label
    // target was usually a stuck local minimum). Star alternation's
    // round count must not depend on the layout.
    val n = 2000
    val order = (0 until n).map(i => if (i % 2 == 0) (i / 2).toLong
                                     else (n - 1 - i / 2).toLong)
    val edges = order.sliding(2).map(p => (p(0), p(1))).toSeq
    val got = cc(edges)
    assert(got.values.toSet == Set(0L) && got.size == n)
    val rounds = GraphCC.lastRunRounds
    assert(rounds <= 18,
      s"zig-zag chain reported $rounds rounds — id-layout-sensitive again")
  }

  test("maxIter too small for the diameter fails loudly, not half-merged") {
    val edges = (0L until 11L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException](cc(edges, maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
  }

  test("loop sizing falls back to session partitions on a lookup miss, never 1") {
    // A frame that is NOT localCheckpoint-backed has no LogicalRDD to
    // measure: the sizing must degrade to the session's shuffle-partition
    // count (scale-safe), never to 1 partition (the silent scale-killer).
    val notCheckpointed = (1L to 10L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphCC.loopPartitions(notCheckpointed) ===
      spark.conf.get("spark.sql.shuffle.partitions"))
  }

  test("loop sizing uses measured bytes when the checkpoint lookup hits") {
    // A tiny materialized edge set measures far below the advisory
    // partition size: exactly 1 loop partition.
    val cp = (1L to 10L).map(i => (i, i + 1)).toDF("src", "dst")
      .localCheckpoint()
    try assert(GraphCC.loopPartitions(cp) === "1")
    finally org.apache.spark.sql.graftbridge.CheckpointBridge.release(cp)
  }
}
