package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.AsOfJoin

/** Differential property tests: distributed operators vs brute-force
  * in-memory reference implementations on seeded random inputs.
  */
class DifferentialPropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(2026)

  test("packSequences matches the sequential tape reference on random docs") {
    for (round <- 1 to 3) {
      val cap = Seq(7, 64, 2048)(round - 1)
      val docs = (1 to 120).map { i =>
        val n = rnd.nextInt(20) // 0..19 tokens, empties included
        (i.toLong, Seq.fill(n)("w" + rnd.nextInt(5)).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.Packing.packSequences(df, cap)
        .select("doc_id", "pack_id", "pack_offset", "spans_boundary")
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // sequential tape walk
      var tape = 0L
      val expected = docs.map { case (id, text) =>
        val n = if (text.trim.isEmpty) 0 else text.trim.split("\\s+").length
        val e = (id, (tape / cap, tape % cap, tape % cap + n > cap))
        tape += n
        e
      }.toMap
      assert(got === expected, s"capacity $cap")
    }
  }

  test("repetition signals match a brute-force reference on random docs") {
    val docs = (1 to 60).map { i =>
      val words = Seq.fill(rnd.nextInt(30))("t" + rnd.nextInt(6))
      (i.toLong, words.mkString(" "))
    }
    val df = docs.map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val got = graft.text.TextOps.repetition(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Double]("dup_token_frac"), r.getAs[Double]("top_2gram_frac"),
          r.getAs[Double]("dup_2gram_frac")))).toMap
    docs.foreach { case (id, text) =>
      val toks = if (text.trim.isEmpty) Array.empty[String] else text.trim.split("\\s+")
      val nChars = text.length
      val dupTok =
        if (toks.isEmpty) 0.0
        else (toks.length - toks.distinct.length).toDouble / toks.length
      val grams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val byGram = grams.groupBy(identity).map { case (g, o) => g -> o.size }
      val topMass = if (byGram.isEmpty) 0L
        else byGram.map { case (g, c) => c.toLong * g.length }.max
      val dupMass = byGram.collect { case (g, c) if c > 1 => c.toLong * g.length }.sum
      val (gotDup, gotTop, gotMass) = got(id)
      assert(gotDup === dupTok, s"doc $id dup_token")
      assert(gotTop === (if (nChars > 0) topMass.toDouble / nChars else 0.0), s"doc $id top")
      assert(gotMass === (if (nChars > 0) dupMass.toDouble / nChars else 0.0), s"doc $id mass")
    }
  }

  test("encode/vocab round-trip on random corpora: ids decode to the input") {
    for (_ <- 1 to 2) {
      val docs = (1 to 40).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(15) + 1)("v" + rnd.nextInt(8)).mkString(" "))
      }
      val df = docs.map { case (id, t) => (id, t, t.length.toLong) }
        .toDF("doc_id", "text", "n_chars")
      val v = graft.text.TextOps.vocab(df)
      val inv = v.select("token_id", "token").as[(Long, String)].collect().toMap
      val enc = graft.text.TextOps.encodeTokens(df, v)
        .select("doc_id", "token_ids").as[(Long, String)].collect().toMap
      docs.foreach { case (id, text) =>
        val decoded = enc(id).split(",").map(s => inv(s.toLong)).mkString(" ")
        assert(decoded === text.trim.replaceAll("\\s+", " "), s"doc $id")
      }
    }
  }

  test("asOf matches the quadratic reference on random key/time data") {
    for (round <- 1 to 3) {
      val keys = 1 to 6
      val lefts = (1 to 80).map { i =>
        (i.toLong, keys(rnd.nextInt(keys.size)).toLong,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L))
      }
      val rights = (1 to 60).map { i =>
        (i.toLong, keys(rnd.nextInt(keys.size)).toLong,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L),
          rnd.nextDouble())
      }
      val leftDf = lefts.toDF("lid", "k", "t")
      val rightDf = AsOfJoin.latestPerKeyTs(
        rights.toDF("rid", "rk", "rt", "payload"), "rk", "rt", "rid")

      val got = AsOfJoin.asOf(leftDf, rightDf, "k", "rk", "t", "rt", Seq("rid"))
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap

      // brute force: per (key, ts) keep max rid, then per left row pick the
      // row with max rt <= t
      val dedupedRights = rights.groupBy(r => (r._2, r._3.getTime))
        .map { case (_, rs) => rs.maxBy(_._1) }.toSeq
      val expected = lefts.map { case (lid, k, t) =>
        val cands = dedupedRights.filter(r => r._2 == k && !r._3.after(t))
        lid -> (if (cands.isEmpty) None
                else Some(cands.maxBy(r => (r._3.getTime, r._1))._1))
      }.toMap
      assert(got === expected, s"round $round mismatch")
    }
  }

  test("eventSessions matches the sequential reference on random event streams") {
    import graft.analytics.Breadth
    for (round <- 1 to 3) {
      val events = (1 to 300).map { i =>
        (i.toLong,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(600) * 60000L),
          (rnd.nextInt(8) + 1).toLong)
      }
      val df = events.toDF("event_id", "ts", "user_id")
      val got = Breadth.eventSessions(df, gapMinutes = 30)
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

      val expected = events.groupBy(_._3).map { case (uid, es) =>
        val sorted = es.sortBy(e => (e._2.getTime, e._1))
        val sessions = 1 + sorted.sliding(2).count {
          case Seq(a, b) => b._2.getTime - a._2.getTime > 30 * 60000L
          case _ => false
        }
        uid -> (sessions.toLong, es.size.toLong)
      }
      assert(got === expected, s"round $round mismatch")
    }
  }

  test("simhashDedup finds every pair the brute-force hamming scan finds (recall)") {
    val vocab = Array("spark", "query", "table", "join", "scan", "batch", "row",
      "sort", "hash", "merge")
    for (round <- 1 to 2) {
      val docs = (1 to 40).map { i =>
        val len = 10 + rnd.nextInt(20)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val sketches = Dedup.simhashSketch(df)
        .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
      val bruteForce = (for {
        (ia, _) <- docs; (ib, _) <- docs if ia < ib
        h = java.lang.Long.bitCount(sketches(ia) ^ sketches(ib)) if h <= 3
      } yield (ia, ib)).toSet
      val got = Dedup.simhashDedup(df, maxHamming = 3)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got === bruteForce, s"round $round: pigeonhole blocking lost pairs")
    }
  }

  test("ngramJaccard matches the all-pairs reference on random corpora") {
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    for (round <- 1 to 3) {
      val docs = (1 to 30).map { i =>
        val len = 4 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val threshold = 0.3
      val got = Dedup.ngramJaccard(df, n = 2, threshold = threshold)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap

      def grams(text: String): Set[String] = {
        val t = text.trim.split("\\s+").toSeq
        if (t.size < 2) Set(t.mkString(" "))
        else t.sliding(2).map(_.mkString(" ")).toSet
      }
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        ga = grams(ta); gb = grams(tb)
        j = (ga intersect gb).size.toDouble / (ga union gb).size
        if j >= threshold
      } yield (ia, ib) -> j).toMap

      assert(got.keySet === expected.keySet, s"round $round pair-set mismatch")
      got.foreach { case (p, j) =>
        assert(math.abs(j - expected(p)) < 1e-12, s"round $round value mismatch at $p")
      }
    }
  }

  // ------------------------------------------------ minhash signature kernel

  /** Plain-Scala minhash signature straight from the definition: Spark
    * trim (0x20 only), Java `\\s+` split with limit -1, word n-gram
    * shingles (one whole-document shingle when shorter), first 15 hex
    * digits of the md5 parsed base-16, folded and permuted mod 2^31-1.
    */
  private def refSignature(text: String, n: Int, k: Int): Seq[Option[Long]] =
    if (text == null) Seq.fill(k)(None)
    else {
      val p = 2147483647L
      val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+", -1)
      val shingles =
        if (toks.length < n) Seq(toks.mkString(" "))
        else toks.toSeq.sliding(n).map(_.mkString(" ")).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val xs = shingles.distinct.map { g =>
        val hex = md.digest(g.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex.take(15), 16) % p
      }
      Dedup.seedTriples(k).map { case (_, a, b) => Some(xs.map(x => (x * a + b) % p).min) }
    }

  private val minhashEdgeCases: Seq[String] = Seq(
    "", " ", "   ", "\t", "\t\t", " \t ", "\n", "\r\n", "\u000B", "\f",
    "\u00A0", "word", "a  b", "a\r\nb c", "\u000Bx y\u000B", "\fx\fy\fz",
    "a\u00A0b c\u00A0d", "漢字 かな カナ 한국어", "\tlead tab", "trail tab\t",
    " \t a b c d e f \t ", "x \u2003 y", null)

  /** Seeded random documents: mixed separators (incl. runs, leading and
    * trailing), non-ASCII and NBSP words, 0..40 tokens.
    */
  private def minhashDocs(seed: Long, count: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    val words = Array("the", "data", "spark", "é", "naïve", "漢字", "😀", "a\u00A0b", "x", "")
    val seps = Array(" ", " ", " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", " \t ")
    val random = (1 to count).map { _ =>
      val b = new StringBuilder
      if (r.nextInt(5) == 0) b ++= seps(r.nextInt(seps.length))
      val n = r.nextInt(41)
      for (i <- 0 until n) {
        if (i > 0) b ++= seps(r.nextInt(seps.length))
        b ++= words(r.nextInt(words.length))
      }
      if (r.nextInt(5) == 0) b ++= seps(r.nextInt(seps.length))
      b.toString
    }
    (random ++ minhashEdgeCases).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("minhash signature kernel matches the plain-Scala reference") {
    val docs = minhashDocs(7L, 300)
    val df = spark.sparkContext.parallelize(docs, 3).toDF("doc_id", "text")
    for (n <- Seq(1, 3, 5); k <- Seq(8, 32)) {
      val got = Dedup.minhashSignatures(df, shingleN = n, numHashes = k)
        .as[(Long, Seq[Option[Long]])].collect().toMap
      docs.foreach { case (id, text) =>
        assert(got(id) === refSignature(text, n, k), s"n=$n k=$k doc $id: ${Option(text)}")
      }
    }
  }

  test("minhash signature kernel: CODEGEN_ONLY and NO_CODEGEN agree, two columns per projection") {
    val docs = minhashDocs(11L, 200)
    val df = spark.sparkContext.parallelize(docs, 2).toDF("doc_id", "text")
    def run(): Map[Long, (Seq[Option[Long]], Seq[Option[Long]])] =
      df.select($"doc_id",
          graft.functions.StringFunctions.minhash_signature($"text", 3, 32).as("s3"),
          graft.functions.StringFunctions.minhash_signature($"text", 5, 8).as("s5"))
        .as[(Long, Seq[Option[Long]], Seq[Option[Long]])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val codegen = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(codegen === interpreted)
    docs.foreach { case (id, text) =>
      assert(codegen(id) === ((refSignature(text, 3, 32), refSignature(text, 5, 8))),
        s"doc $id: ${Option(text)}")
    }
  }

  test("GlobalRank matches window rank/ntile on random tied data") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (round <- 1 to 3) {
      val n = 50 + rnd.nextInt(200)
      val k = 1 + rnd.nextInt(7)
      // small value domain forces heavy ties
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(12).toDouble))
      val df = rows.toDF("id", "v")

      val prDist = graft.operators.GlobalRank.rankDist(df, "v").collect()
        .map(r => r.getAs[Long]("id") -> ((r.getAs[Double]("pct_rank"), r.getAs[Double]("cume")))).toMap
      val w = Window.orderBy("v")
      val prWin = df.select(col("id"), percent_rank().over(w).as("p"), cume_dist().over(w).as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(prDist === prWin, s"rankDist round $round (n=$n)")

      val tiles = graft.operators.GlobalRank.ntileByRange(df, k, Seq("v", "id"), "t")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("t")).toMap
      val tilesWin = df.withColumn("t", ntile(k).over(Window.orderBy("v", "id")))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(tiles === tilesWin, s"ntile round $round (n=$n k=$k)")
    }
  }

  test("scd2 matches the sequential run-collapse reference on random histories") {
    for (round <- 1 to 3) {
      val statuses = Seq("O", "F", "P")
      val orders = (1 to 120).map { i =>
        (i.toLong, (1 + rnd.nextInt(8)).toLong, statuses(rnd.nextInt(3)),
          java.sql.Timestamp.valueOf(
            s"199${rnd.nextInt(5)}-0${1 + rnd.nextInt(9)}-${10 + rnd.nextInt(18)} 00:00:00"))
      }
      val got = graft.analytics.Breadth3.scd2StatusHistory(
          orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString,
          r.getDate(3).toString, r.getInt(4)))
        .toSet

      // sequential reference: sort, collapse runs, chain eff_to
      val expected = orders.groupBy(_._2).flatMap { case (cust, os) =>
        val sorted = os.sortBy(o => (o._4.getTime, o._1))
        val runs = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        for (o <- sorted) {
          val day = o._4.toLocalDateTime.toLocalDate.toString
          if (runs.isEmpty || runs.last._1 != o._3) runs += ((o._3, day, o._1))
        }
        runs.zipWithIndex.map { case ((st, from, _), i) =>
          val to = if (i + 1 < runs.size) runs(i + 1)._2 else "9999-12-31"
          (cust, st, from, to, if (i + 1 < runs.size) 0 else 1)
        }
      }.toSet
      assert(got === expected, s"round $round")
    }
  }

  test("funnel matches the sequential reference on random event streams") {
    for (round <- 1 to 3) {
      val types = Seq("view", "click", "purchase", "error")
      val events = (1 to 200).map { i =>
        ((1 + rnd.nextInt(12)).toLong,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(500000) * 1000L),
          types(rnd.nextInt(4)))
      }
      val got = graft.analytics.Breadth3.funnel(events.toDF("user_id", "ts", "event_type"))
        .as[(String, Long)].collect().toMap

      def stageUsers(prev: Map[Long, Long], t: String): Map[Long, Long] =
        events.groupBy(_._1).flatMap { case (u, es) =>
          prev.get(u).flatMap { after =>
            val hits = es.filter(e => e._3 == t && e._2.getTime > after)
            if (hits.isEmpty) None else Some(u -> hits.map(_._2.getTime).min)
          }
        }
      val v = events.groupBy(_._1).flatMap { case (u, es) =>
        val hits = es.filter(_._3 == "view")
        if (hits.isEmpty) None else Some(u -> hits.map(_._2.getTime).min)
      }
      val c = stageUsers(v, "click")
      val p = stageUsers(c, "purchase")
      assert(got === Map("1_view" -> v.size.toLong, "2_click" -> c.size.toLong,
        "3_purchase" -> p.size.toLong), s"round $round")
    }
  }

  test("chunking reconstructs every document on random token counts") {
    for (round <- 1 to 3) {
      val docs = (1 to 25).map { i =>
        val n = rnd.nextInt(90) // 0..89 tokens
        (i.toLong, (1 to n).map(j => s"t$j").mkString(" "))
      }
      val size = 2 + rnd.nextInt(15)
      val stride = 1 + rnd.nextInt(size)
      val chunks = graft.text.TextOps.chunk(docs.toDF("doc_id", "text"), size, stride)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      for ((id, text) <- docs; toks = text.split(" ").filter(_.nonEmpty)) {
        val mine = chunks.filter(_._1 == id).sortBy(_._2)
        if (toks.isEmpty) assert(mine.isEmpty)
        else {
          val starts = 0 until toks.length by stride
          assert(mine.length === starts.size, s"doc $id size=$size stride=$stride")
          for (((start, chunk), idx) <- starts.zip(mine).zipWithIndex) {
            assert(chunk._2 === idx)
            assert(chunk._3 === toks.slice(start, start + size).mkString(" "))
            assert(chunk._4 === math.min(size, toks.length - start))
          }
          // overlapped reconstruction: stitching chunk heads + last tail
          // recovers the document exactly
          val stitched = (mine.dropRight(1).map(_._3.split(" ").take(stride))
            :+ mine.last._3.split(" ")).flatten
          assert(stitched.toSeq === toks.toSeq, s"doc $id reconstruct")
        }
      }
    }
  }
}
