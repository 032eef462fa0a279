package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.io.Tables
import graft.text.TextOps

class TextDedupSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars",
      org.apache.spark.sql.functions.length($"text").cast("long"))

  test("langId picks the right language on real-language samples") {
    val fixture = docs(
      1L -> "the cat is on the mat and it is happy with the sun",
      2L -> "el perro y la casa de los amigos es que una maravilla",
      3L -> "der hund und die katze das ist ein gutes leben mit freunden",
      4L -> "le chien et les amis dans la maison est une belle vie pour tous",
      5L -> "今天天气很好我们一起去公园散步吧然后吃晚饭",
      6L -> "xyzzy qwerty plugh")
    val got = TextOps.langId(fixture).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en"); assert(got(2L) === "es"); assert(got(3L) === "de")
    assert(got(4L) === "fr"); assert(got(5L) === "zh"); assert(got(6L) === "und")
  }

  test("quality: ratios bounded, clean prose scores above symbol soup") {
    val fixture = docs(
      1L -> "the quick brown fox jumps over the lazy dog and runs to the hills with a smile on its face today",
      2L -> "@@@ ### $$$ %%% ^^^ &&& *** ((( )))")
    val q = TextOps.quality(fixture).select("doc_id", "quality_score", "punct_ratio")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(q(1L)._1 > q(2L)._1)
    assert(q(2L)._2 > 0.5)
    val all = TextOps.quality(Tables.documents(spark, sfDir))
    assert(all.filter($"punct_ratio" < 0 || $"punct_ratio" > 1 ||
      $"stopword_ratio" < 0 || $"stopword_ratio" > 1 ||
      $"quality_score" < 0 || $"quality_score" > 1).count() === 0)
  }

  test("exact dedup finds planted duplicates") {
    val fixture = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "delta epsilon zeta")
    val got = Dedup.exactDedup(fixture).select("doc_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 2L) // survivor is min doc_id
    assert(got(3L) === 1L)
    assert(!got.contains(2L))
  }

  test("minhash finds planted near-duplicates and skips unrelated docs") {
    val base = "the data pipeline reads parquet files and aggregates daily " +
      "metrics for every customer region then writes results back to storage"
    val nearDup = base.replace("daily", "weekly")
    val fixture = docs(1L -> base, 2L -> nearDup,
      3L -> "completely different content about cooking pasta with tomato sauce and fresh basil leaves in a large pot")
    val got = Dedup.minhashDedup(fixture, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalNearDup: batch probes corpus; equals the cross-split slice of full dedup") {
    val base = "the data pipeline reads parquet files and aggregates daily " +
      "metrics for every customer region then writes results back to storage"
    val fixture = docs(
      1L -> base,                                 // corpus
      2L -> "unrelated corpus text about cooking pasta with tomato sauce and fresh basil leaves in a large pot",
      3L -> base.replace("daily", "weekly"),      // corpus near-dup of 1
      10L -> base.replace("daily", "hourly"),     // batch near-dup of 1 and 3
      20L -> base.replace("metrics", "numbers"))  // batch near-dup too
    val corpus = fixture.filter($"doc_id" < 10)
    val batch = fixture.filter($"doc_id" >= 10)
    val inc = Dedup.incrementalNearDup(corpus, batch, threshold = 0.5)
      .select("batch_doc", "corpus_doc").as[(Long, Long)].collect().toSet
    // every batch near-dup is caught against the corpus...
    assert(inc.contains((10L, 1L)) && inc.contains((20L, 1L)))
    // ...batch-internal (10,20) and corpus-internal (1,3) pairs are NOT reported
    inc.foreach { case (b, c) => assert(b >= 10 && c < 10) }
    // cross-check: exactly the cross-split slice of the full self-dedup
    val full = Dedup.minhashDedup(fixture, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val crossSlice = full.filter { case (a, b) => a < 10 && b >= 10 }
      .map { case (a, b) => (b, a) }
    assert(inc === crossSlice)
    spark.catalog.clearCache()
  }

  test("minhash estimate tracks true jaccard on planted pairs") {
    val base = "the data pipeline reads parquet files and aggregates daily " +
      "metrics for every customer region then writes results back to storage"
    val nearDup = base.replace("daily", "weekly")
    val fixture = docs(1L -> base, 2L -> nearDup)
    def shingles(t: String) =
      t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val sa = shingles(base); val sb = shingles(nearDup)
    val trueJ = (sa intersect sb).size.toDouble / (sa union sb).size
    val est = Dedup.minhashDedup(fixture, threshold = 0.0)
      .select("est_jaccard").as[Double].head()
    // 32 hashes → σ = sqrt(J(1-J)/32) ≈ 0.08; allow 2.5σ
    assert(math.abs(est - trueJ) <= 0.2, s"est $est vs true $trueJ")
  }

  test("minhash rejects shingleN < 1: every shingle would be the empty string") {
    val fixture = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    assertThrows[IllegalArgumentException](Dedup.minhashSignatures(fixture, 0, 32))
    assertThrows[IllegalArgumentException](Dedup.minhashIndex(fixture, shingleN = 0))
  }

  test("minhash rejects numHashes < 1: the estimate would divide by zero") {
    val fixture = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    assertThrows[IllegalArgumentException](Dedup.minhashSignatures(fixture, 3, 0))
    assertThrows[IllegalArgumentException](
      Dedup.minhashIndex(fixture, numHashes = 0, bands = 8))
  }

  test("simhash: identical docs at hamming 0, near-dups within threshold") {
    val base = "spark executes distributed queries over columnar storage " +
      "with whole stage code generation and adaptive execution"
    val fixture = docs(1L -> base, 2L -> base,
      3L -> (base + " extra trailing tokens appended"),
      4L -> "unrelated short text about gardening tulips roses and daffodils in spring weather")
    val got = Dedup.simhashDedup(fixture, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(got.find(r => (r._1, r._2) == ((1L, 2L))).get._3 === 0)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard: symmetric-set identity on identical docs") {
    val fixture = docs(1L -> "a b c d e f", 2L -> "a b c d e f",
      3L -> "x y z w v u")
    val got = Dedup.ngramJaccard(fixture, threshold = 0.99)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("fingerprint: equal texts share fingerprints, runs on fixture data") {
    val fixture = docs(1L -> "abcdefghijklmnop", 2L -> "abcdefghijklmnop")
    val fps = TextOps.fingerprint(fixture).select("fp_min", "fp_max")
      .as[(String, String)].collect()
    assert(fps(0) === fps(1))
    assert(TextOps.fingerprint(Tables.documents(spark, sfDir)).count() > 0)
  }

  test("redact replaces emails and digit runs, leaves clean text alone") {
    val fixture = Seq(
      (1L, "reach me at jane.doe+spam@mail-host.co or 5551234567 thanks"),
      (2L, "short 12345 run is kept"),
      (3L, "nothing to redact here")
    ).toDF("doc_id", "text")
    val got = TextOps.redact(fixture, "text").as[(Long, String)].collect().toMap
    assert(got(1L) === "reach me at [EMAIL] or [NUM] thanks")
    assert(got(2L) === "short 12345 run is kept") // < 6 digits untouched
    assert(got(3L) === "nothing to redact here")
  }

  test("chunking covers every token with the configured overlap") {
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val fixture = Seq((1L, text), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val got = TextOps.chunk(fixture, size = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, String, Int)].collect()
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(d1.map(_._4).toSeq === Seq(32, 26, 2)) // 50 tokens, starts 0/24/48
    assert(d1(0)._3.split(" ").last === "w32")
    assert(d1(1)._3.split(" ").head === "w25")    // 8-token overlap
    assert(got.count(_._1 == 2L) === 0)           // empty doc → no chunks
    assert(got.filter(_._1 == 3L).map(_._4).toSeq === Seq(2))
    // every chunk respects the size bound on the real corpus
    val over = TextOps.chunk(Tables.documents(spark, sfDir))
      .filter(org.apache.spark.sql.functions.col("n_tokens") > 32)
    assert(over.isEmpty)
  }

  test("contamination flags planted eval passages, skips unrelated docs") {
    val evalDoc = "the quick brown fox jumps over the lazy dog tonight"
    val train = docs(
      1L -> s"intro words here $evalDoc and a closing remark",  // contains it
      2L -> "completely unrelated content about spark physical plans",
      3L -> "the quick brown cat naps")                          // 1 shared gram at most
    val eval = docs(100L -> evalDoc)
    val got = graft.dedup.Dedup.contamination(train, eval, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet === Set(1L))
    assert(got.head._2 === 100L)
    // the planted passage has 9 tokens → 7 trigrams, all shared
    assert(got.head._3 >= 7)
  }

  test("dupClusters matches union-find on random graphs") {
    val rnd = new scala.util.Random(77)
    for (round <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val pairs = (1 to n).map { _ =>
        val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val df = pairs.toDF("doc_a", "doc_b")
      // driver union-find path (default threshold) AND the distributed
      // label-propagation path (threshold 0) must agree with the oracle
      val got = graft.dedup.Dedup.dupClusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDist = graft.dedup.Dedup.dupClusters(df, driverThreshold = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      // union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = nodes.map { x =>
        val root = find(x)
        // min member of the component = root by min-union construction
        x -> root
      }.toMap
      assert(got === expected, s"round $round (driver path)")
      assert(gotDist === expected, s"round $round (distributed path)")
      spark.catalog.clearCache()
    }
  }

  test("clusterSurvivors keeps exactly one doc per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = graft.dedup.Dedup.dupClusters(pairs)
    val survivors = graft.dedup.Dedup.clusterSurvivors(clusters)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 7L))
    spark.catalog.clearCache()
  }

  test("clusterSurvivorsBy keeps the best-scoring member, ties to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val clusters = graft.dedup.Dedup.dupClusters(pairs)
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (7L, 0.5), (9L, 0.5))
      .toDF("doc_id", "score")
    val best = graft.dedup.Dedup.clusterSurvivorsBy(clusters, scores, "score")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // cluster 1: docs 2 and 3 tie at 0.9 → doc 2 wins the tie-break
    assert(best(1L) === ((2L, 0.9)))
    // cluster 7: tie at 0.5 → doc 7
    assert(best(7L) === ((7L, 0.5)))
    spark.catalog.clearCache()
  }

  test("sourceOverlap: exact pairwise shingle jaccard; disjoint pairs absent") {
    // A = {"a b c","b c d"}, B = {"a b c","b c e"} → |A∩B|=1, J=1/3;
    // C = {"x y z"} is disjoint from both → no C rows (inner join)
    val docs = Seq(
      (1L, "a b c d", "A"), (2L, "a b c e", "B"), (3L, "x y z", "C")
    ).toDF("doc_id", "text", "source")
    val out = graft.dedup.Dedup.sourceOverlap(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet === Set(("A", "B")))
    assert(out(("A", "B")) === ((2L, 2L, 1L, 1.0 / 3.0)))
    spark.catalog.clearCache()
  }

  test("winnow: SIGMOD'03 guarantee — shared run >= w+k-1 shares a fingerprint") {
    // k=8, w=4: any common substring of length >= 11 must yield at least
    // one selected fingerprint VALUE common to both documents
    val shared = "zqxwvutsrqponml" // 15 chars, well over w+k-1 = 11
    val fixture = docs(
      1L -> s"aaaa bbbb cccc $shared dddd eeee",
      2L -> s"ffff gggg $shared hhhh iiii jjjj kkkk",
      3L -> "totally unrelated content with no overlap at all here")
    val fp = TextOps.winnow(fixture)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(2)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "planted 15-char shared run must share a selected fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty &&
      (byDoc(2L) intersect byDoc(3L)).isEmpty,
      "no 8-gram is shared with the unrelated document")
  }

  test("winnow: positions valid, per-window coverage, deterministic") {
    val fixture = docs(
      1L -> ("the quick brown fox jumps over the lazy dog " * 4),
      2L -> "short")
    val rows = TextOps.winnow(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val g1 = fixture.filter($"doc_id" === 1L).select(
      org.apache.spark.sql.functions.length($"text")).head().getInt(0) - 7
    val pos1 = rows.filter(_._1 == 1L).map(_._2).sorted
    assert(pos1.forall(p => p >= 1 && p <= g1), "positions are 1-based gram starts")
    // every window [j, j+3] contains a selected position (coverage = the
    // winnowing selection invariant), so gaps between selections < w
    val gaps = (1 +: pos1.toVector).zip(pos1.toVector :+ g1).map { case (a, b) => b - a }
    assert(gaps.forall(_ < 4 + 4), s"selection density must be window-bounded: $gaps")
    // doc shorter than k chars: single gram, single fingerprint at pos 1
    assert(rows.filter(_._1 == 2L).toSeq.map(t => (t._2)) === Seq(1))
    val again = TextOps.winnow(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.sortBy(t => (t._1, t._2)).toSeq === again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("winnowPairs: planted reuse pairs up, boilerplate is df-capped out") {
    // docs 1/2 share a long unique run (true reuse); the trailing slogan
    // appears in EVERY doc (boilerplate) and must not create pairs once
    // its fingerprints exceed the df cap
    val slogan = "all rights reserved worldwide forever"
    val reuse = "the quick zebra vaulted over seventeen lazy crocodiles yesterday"
    val fixture = docs(
      1L -> s"intro alpha $reuse outro $slogan",
      2L -> s"prelude beta $reuse coda $slogan",
      3L -> s"unrelated gamma content one $slogan",
      4L -> s"unrelated delta content two $slogan",
      5L -> s"unrelated epsilon content three $slogan",
      6L -> s"unrelated zeta content four $slogan")
    val pairs = Dedup.winnowPairs(fixture, minShared = 3, maxDocsPerFp = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"only the true-reuse pair survives the df cap, got $pairs")
  }

  test("winnow: rightmost tie-break — repeated grams pick the later position") {
    // a fully periodic string makes every window's grams identical, so
    // the rightmost-min rule must select the LAST position of each window
    val fixture = docs(1L -> ("ab" * 20)) // every 8-gram at odd pos equals "abababab"
    val rows = TextOps.winnow(fixture).collect()
      .map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    val g = 40 - 7
    // window j covers [j, j+3]; with all-equal hashes per parity class the
    // fold still lands on a deterministic position; re-derive it exactly
    val grams = (1 to g).map(i => ("ab" * 20).substring(i - 1, math.min(i + 7, 40)))
    val digests = grams.map(s => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val expect = (1 to math.max(g - 3, 1)).map { j =>
      val win = (j to math.min(j + 3, g))
      win.foldLeft(0) { (acc, p) =>
        if (acc == 0 || digests(p - 1) <= digests(acc - 1)) p else acc }
    }.distinct.sorted.map(p => (p, digests(p - 1)))
    assert(rows.toSeq === expect)
  }
}
