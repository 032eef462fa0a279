package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.NaiveBayes

class NaiveBayesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // class-distinctive vocabularies: "alpha"-docs vs "beta"-docs; ids are
  // chosen so both splits see both classes (test ids = multiples of 5)
  private def corpus() = {
    val rows = (1L to 40L).map { i =>
      val cls = if (i % 2 == 0) "wiki" else "web"
      val text =
        if (cls == "wiki") "alpha alpha shared tokens here"
        else "beta beta shared tokens there"
      (i, text, "en", cls, text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("held-out docs with class-distinctive vocab classify correctly") {
    val out = NaiveBayes.classifyBySource(corpus())
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // test split = doc_id % 5 == 0 -> 8 docs, all non-empty
    assert(out.length === 8)
    assert(out.forall(_._1 % 5 == 0))
    // the distinctive token dominates: every prediction is the true class
    assert(out.forall { case (_, truth, pred, _) => truth == pred })
    // scores are genuine negative log-mass
    assert(out.forall(_._4 < 0L))
  }

  test("empty and whitespace-only docs are excluded from scoring") {
    val d = Seq(
      (5L, "", "en", "web", 0L),
      (10L, "   ", "en", "wiki", 3L),
      (15L, "beta beta", "en", "web", 9L),
      (1L, "beta beta beta", "en", "web", 14L),
      (2L, "alpha alpha alpha", "en", "wiki", 17L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = NaiveBayes.classifyBySource(d)
      .as[(Long, String, String, Long)].collect()
    assert(out.map(_._1).toSet === Set(15L))
    assert(out.head._3 === "web")
  }

  test("evaluate: perfect classifier gives unit margins; identities hold") {
    val out = NaiveBayes.evaluateBySource(corpus())
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
      .sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq("web", "wiki"))
    out.foreach { case (_, nt, np, nc, p, r, f1) =>
      assert(nt === 4L && np === 4L && nc === 4L)
      assert(p === 1.0 && r === 1.0 && f1 === 1.0)
    }
  }

  test("evaluate: a never-predicted class keeps zero precision, not NaN") {
    // "rare" appears only in train (ids never % 5 == 0 for that class):
    // class domain still shows it via n_true = 0 absence — instead plant
    // a holdout doc whose vocabulary matches the OTHER class, so "rare"
    // has truth but zero predictions
    val d = (Seq(
      (5L, "beta beta beta", "en", "rare", 14L), // holdout, misclassified
      (1L, "alpha alpha", "en", "rare", 11L),
      (2L, "beta beta", "en", "web", 9L),
      (3L, "beta beta beta beta", "en", "web", 19L),
      (10L, "beta beta", "en", "web", 9L)
    )).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = NaiveBayes.evaluateBySource(d)
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("rare")._2 === 1L && out("rare")._3 === 0L)
    assert(out("rare")._5 === 0.0 && out("rare")._6 === 0.0 && out("rare")._7 === 0.0)
    assert(out("web")._3 === 2L)
  }

  test("determinism across partitionings (argmax tie-break included)") {
    val d = corpus()
    val a = NaiveBayes.classifyBySource(d)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    val b = NaiveBayes.classifyBySource(d.repartition(7))
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }
}
