package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Baskets, Sssp}

class SsspSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("weightedDistances: 2-hop cheap path beats 1-hop expensive edge") {
    // triangle 1-2 (10), 2-3 (1), 1-3 (100); all degrees tie at 2 so the
    // seed is the min node 1. One round: direct edges only; two rounds:
    // the 1->2->3 path (11) undercuts the direct 100.
    val half = Seq((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 100L))
      .toDF("src", "dst", "w")
    val r1 = Sssp.weightedDistances(half, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 === Map(1L -> 0L, 2L -> 10L, 3L -> 100L))
    val r2 = Sssp.weightedDistances(half, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 === Map(1L -> 0L, 2L -> 10L, 3L -> 11L))
  }

  test("weightedDistances: bounded rounds limit reach along a chain") {
    // path 1-2-3-4, unit weights; top-degree tie between 2 and 3 -> 2
    val half = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val r1 = Sssp.weightedDistances(half, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 === Map(2L -> 0L, 1L -> 1L, 3L -> 1L))
    val r2 = Sssp.weightedDistances(half, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 === Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("affinityEdges: weight is 10^6 div pair count, canonical pairs") {
    // basket 10 holds {1,2} twice across rows (distinct per basket), so
    // pairs come from two baskets sharing {1,2} -> c_pair=2, w=500000
    val items = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L))
      .toDF("bid", "item")
    val e = Sssp.affinityEdgesFromCounts(
        Baskets.coOccurrenceCounts(items, "bid", "item"))
      .as[(Long, Long, Long)].collect()
    assert(e === Array((1L, 2L, 500000L)))
  }
}
