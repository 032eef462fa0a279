package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
  * Order into Text", EMNLP 2004): PageRank over the word co-occurrence
  * graph — vertices are corpus words, an undirected edge connects words
  * adjacent in some document (the window-2 default), and the stationary
  * walk score ranks keywords. This is deliberately a COMPOSITION: the
  * graph build is the knBigram adjacency staging and the walk is
  * [[graft.analytics.PageRank.pagerankOnEdges]]'s exact integer
  * fixed-point (1e-12 rank units, `div` arithmetic) — one operator's
  * oracle-proven recurrence re-targeted at a text graph, which is
  * exactly how a user of the library would assemble it.
  *
  * Determinism: words map to md5-derived 60-bit ids (the cross-engine
  * digest convention; any vanishing-probability collision is shared by
  * the oracle, which replays the identical mapping), edges are distinct
  * symmetric pairs, and the PageRank rounds are exact integers — the
  * oracle unrolls the same rounds as CTEs over the same word graph.
  *
  * Scale shape: adjacency emission is row-local over the staged token
  * array; the graph relations are vocabulary-sized (distinct word
  * pairs), never corpus-sized; per PR round one co-partitioned join and
  * one sum, rank state 16 B/word.
  */
object TextRank {

  def keywords(documents: DataFrame, k: Int = 50, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    // staged lowered non-empty tokens (lambda-CSE rule; knBigram shape)
    val ta = documents.select(
      expr("transform(filter(split(trim(text), '\\\\s+'), x -> x <> ''), " +
        "x -> lower(x))").as("t"))
      .filter(size(col("t")) >= 2)
    val bg = ta.select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS wa, t[i] AS wb))"))
      .as("b"))
      .select(col("b.wa").as("wa"), col("b.wb").as("wb"))
      .filter(col("wa") =!= col("wb")) // self-loops carry no walk signal
    // materialized ONCE: the canonical word-pair relation feeds the
    // vocabulary (word → id, final label join), the id-edge projection,
    // AND the empty-graph guard — before round 14 the corpus
    // tokenize+bigram+distinct ran TWICE (once under the word relation,
    // once under the edge mapping; profiled: two ~0.5 s wall jobs of
    // identical shape per execution)
    val canon = graft.Caching.materialize(
      bg.select(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b")).distinct())
    // word → 60-bit md5 id is a PURE row-local function of the word, so
    // edges get their endpoint ids by direct computation instead of the
    // two vocabulary equi-joins the pre-round-14 plan paid (the join on
    // `w` mapped each word to exactly wid(w) — identical values by
    // construction; the oracle keeps its joins and hash-matches)
    def wid(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val words = canon.select(col("a").as("w")).union(canon.select(col("b").as("w")))
      .distinct()
      .select(col("w"), wid(col("w")).as("id"))
    // empty word graph (empty/degenerate corpus): no keywords — guard
    // before PageRank, whose n-node teleport constant divides by |V|
    // (reads the cached canon relation, not a fresh corpus pass)
    if (canon.head(1).isEmpty) {
      import org.apache.spark.sql.types._
      return documents.sparkSession.createDataFrame(
        documents.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("word", StringType),
          StructField("rank_units", LongType), StructField("rank", DoubleType))))
    }
    val idEdges = canon.select(wid(col("a")).as("src"), wid(col("b")).as("dst"))
    // symmetric DISTINCT union (SQL UNION semantics — dedups any
    // id-collision aliasing identically to the oracle)
    val sym = idEdges.union(idEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val ranks = graft.analytics.PageRank.pagerankOnEdges(
      graft.Caching.materialize(sym), iters)
    ranks.join(words, Seq("id"))
      .select(col("w").as("word"), col("rank_units"), col("rank"))
      .orderBy(desc("rank_units"), asc("word"))
      .limit(k)
  }

  /** DuckDB twin of [[keywords]]: identical word graph, the PageRank
    * rounds unrolled as CTEs (the q_pagerank oracle structure over the
    * word-graph CTE prefix).
    */
  def keywordsOracleSql(k: Int = 50, iters: Int = 5): String = {
    val rounds = (1 to iters).map { j =>
      s"""r$j AS (
         |  SELECT e.dst AS id,
         |         (SELECT tp FROM consts) + (85 * SUM(p.r // d.od)) // 100 AS r
         |  FROM edges e
         |  JOIN r${j - 1} p ON e.src = p.id
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |bg AS (
       |  SELECT lower(t[i]) AS wa, lower(t[i+1]) AS wb
       |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
       |canon AS (
       |  SELECT DISTINCT LEAST(wa, wb) AS a, GREATEST(wa, wb) AS b
       |  FROM bg WHERE wa <> wb),
       |words AS (
       |  SELECT w, ('0x' || substring(md5(w), 1, 15))::BIGINT AS id
       |  FROM (SELECT a AS w FROM canon UNION SELECT b FROM canon)),
       |ide AS (
       |  SELECT wa.id AS src, wb.id AS dst
       |  FROM canon JOIN words wa ON wa.w = canon.a
       |             JOIN words wb ON wb.w = canon.b),
       |edges AS (SELECT src, dst FROM ide UNION SELECT dst, src FROM ide),
       |deg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
       |consts AS (
       |  SELECT COUNT(*) AS n_nodes,
       |         15000000000000 // (100 * COUNT(*)) AS tp,
       |         1000000000000 // COUNT(*) AS r_init
       |  FROM deg),
       |r0 AS (SELECT src AS id, (SELECT r_init FROM consts) AS r FROM deg),
       |$rounds
       |SELECT words.w AS word,
       |       CAST(r AS BIGINT) AS rank_units,
       |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
       |FROM r$iters f JOIN words ON words.id = f.id
       |ORDER BY rank_units DESC, word LIMIT $k""".stripMargin
  }
}
