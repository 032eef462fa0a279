package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.LabelProp

class LabelPropSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def edges(rows: (Long, Long)*) = rows.toDF("a", "b")

  test("two cliques joined by one bridge edge separate into two communities") {
    // clique {1,2,3,4} and clique {10,11,12,13}, bridge 4—10
    val cliqueA = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val g = edges((cliqueA ++ cliqueB :+ (4L, 10L)): _*)
    val got = LabelProp.labelPropagation(g, "a", "b")
      .select("node", "community").as[(Long, Long)].collect().toMap
    // each clique converges to its min label; the bridge does not merge them
    assert((1L to 4L).map(got).toSet.size === 1)
    assert((10L to 13L).map(got).toSet.size === 1)
    assert(got(1L) !== got(10L))
  }

  test("n_members counts the community size; assignment is deterministic") {
    val g = edges((1L, 2L), (2L, 3L), (5L, 6L))
    val out = LabelProp.labelPropagation(g, "a", "b").cache()
    val sizes = out.select("community", "n_members")
      .distinct().as[(Long, Long)].collect().toMap
    assert(sizes.values.sum === 5L) // partitions the 5 nodes
    val again = LabelProp.labelPropagation(g, "a", "b")
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    out.unpersist()
  }

  test("rounds=1 equals one hand-computed vote round") {
    // star: center 7, leaves 8/9/10 — after ONE round every leaf adopts 7
    // (its only neighbor's label) and the center adopts min leaf 8
    val g = edges((7L, 8L), (7L, 9L), (7L, 10L))
    val got = LabelProp.labelPropagation(g, "a", "b", rounds = 1)
      .select("node", "community").as[(Long, Long)].collect().toMap
    assert(got === Map(7L -> 8L, 8L -> 7L, 9L -> 7L, 10L -> 7L))
  }

  test("shared labelMap + symmetric edges reproduce both queries' default outputs") {
    // ONE checkpointed pre-symmetrized relation (symmetric = true) feeds
    // labelPropagation AND modularity; outputs must equal the self-built
    // (default) path over the half edges
    val cliqueA = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val half = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("a", "b")
    val sym = graft.Caching.checkpointed(
      half.union(half.select(col("b").as("a"), col("a").as("b"))))
    val lpGot = LabelProp.labelPropagation(sym, "a", "b", symmetric = true)
      .collect().map(_.toSeq).toSet
    val lpDef = LabelProp.labelPropagation(half, "a", "b")
      .collect().map(_.toSeq).toSet
    assert(lpGot === lpDef)
    val mGot = LabelProp.modularity(sym, "a", "b", symmetric = true)
      .collect().map(_.toSeq).toSet
    val mDef = LabelProp.modularity(half, "a", "b")
      .collect().map(_.toSeq).toSet
    assert(mGot === mDef)
    graft.Caching.releaseCheckpoint(sym)
    spark.catalog.clearCache()
  }

  test("fixture graph: labels partition the node set, every label is a node") {
    val li = graft.io.Tables.lineitem(spark, sfDir)
    val g = graft.analytics.Baskets.coOccurrencePairs(li, "l_orderkey", "l_partkey")
    val out = LabelProp.labelPropagation(g, "item_a", "item_b").cache()
    val nodes = g.select(col("item_a").as("n")).union(g.select(col("item_b")))
      .distinct().count()
    assert(out.count() === nodes)
    // communities are labels of real nodes
    val communities = out.select(col("community").as("node")).distinct()
    assert(communities.join(out.select("node").distinct(), "node").count()
      === communities.count())
    out.unpersist()
  }
}
