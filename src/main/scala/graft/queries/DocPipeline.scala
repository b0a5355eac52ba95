package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.porter_stem
import graft.pipeline.{Associate, Counts, PairVectors, SemanticPipeline}
import QueryDef.table

/** The semantic-similarity pipeline (SURVEY.md §2: A1-A5, J1-J4) re-expressed
  * over the `documents` test table so the driver's DuckDB oracle can check it
  * end-to-end: token bigrams play the role of (lexeme, feature) dependency
  * edges, and an inline gold list plays the gold standard. q31, q32, q60 and
  * q61 run the engine's own Steps 2-4 (`Counts.fromEdges →
  * Associate.associate → PairVectors.vectors`); the flagship
  * `q32_doc_pair_vectors` checks the whole chain — broadcast gold join,
  * pivot aggregation, 24-metric wide agg — against a fully independent SQL
  * oracle.
  */
object DocPipeline {

  private val ms = Seq("freq", "prob", "pmi", "ttest")

  private val goldPairs: Seq[(String, String, Boolean)] = Seq(
    ("join", "merge", true), ("sort", "order", true), ("scan", "filter", true),
    ("hash", "join", true), ("fast", "slow", false), ("big", "small", false),
    ("table", "row", false), ("spark", "stream", false))

  /** doc text → bigram edges (lexeme = token i, feature = token i+1), as a
    * narrow no-shuffle stage (`transform` over the token array, no UDF).
    */
  private def edges(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(split(col("text"), " ").as("l"))
      .where(size(col("l")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(l) - 1),
          |  i -> struct(element_at(l, i) AS lexeme, element_at(l, i + 1) AS feature))"""
          .stripMargin)).as("e"))
      .select(col("e.lexeme").as("lexeme"), col("e.feature").as("feature"))

  private val edgesSql =
    """toks AS (SELECT string_split(text, ' ') AS l FROM documents
      |          WHERE len(string_split(text, ' ')) >= 2),
      |edges AS (SELECT l[i] AS lexeme, l[i + 1] AS feature
      |          FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS t(i))"""
      .stripMargin

  /** [[edges]] counted once each: the `(lexeme, feature, count)` input of
    * the engine's Steps 2-4.
    */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    edges(s, d).withColumn("count", lit(1L))

  /** Association measures by the engine's Steps 2-3. Runs the grand-total
    * job and persists the pair counts, which `Harness.releasing` drops
    * after the entry.
    */
  private[queries] def assoc(s: SparkSession, d: String): DataFrame =
    Associate.associate(Counts.fromEdges(bigrams(s, d)))

  /** 24-dim vectors of the inline gold pairs by the engine's Steps 2-4
    * ([[graft.pipeline.SemanticPipeline.vectorsOf]], which runs its jobs).
    */
  private[queries] def pairVectors(s: SparkSession, d: String): DataFrame = {
    val s2 = s; import s2.implicits._
    SemanticPipeline.vectorsOf(bigrams(s, d), goldPairs.toDF("w1", "w2", "related"))
  }

  private[queries] val assocSql =
    s"""$edgesSql,
       |pairs AS (SELECT lexeme, feature, CAST(COUNT(*) AS BIGINT) AS lf
       |          FROM edges GROUP BY 1, 2),
       |lex AS (SELECT lexeme, CAST(SUM(lf) AS BIGINT) AS l FROM pairs GROUP BY 1),
       |feat AS (SELECT feature, CAST(SUM(lf) AS BIGINT) AS f FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(SUM(lf) AS DOUBLE) AS total FROM pairs),
       |assoc AS (
       |  SELECT lexeme, feature, lf, l, f,
       |    CAST(lf AS DOUBLE) AS assoc_freq,
       |    CAST(lf AS DOUBLE) / l AS assoc_prob,
       |    (total * lf) / (CAST(l AS DOUBLE) * CAST(f AS DOUBLE)) AS assoc_pmi,
       |    ((lf / total) - ((l / total) * (f / total)))
       |      / SQRT((l / total) * (f / total)) AS assoc_ttest
       |  FROM pairs JOIN lex USING (lexeme) JOIN feat USING (feature)
       |  CROSS JOIN tot)""".stripMargin

  // ---- q32 oracle: the full 24-dim vector computation in portable SQL ----
  // (shared with q67's end-to-end pipeline oracle via pairVectorsSql)

  private[queries] def aggSqlFor(m: String): String = {
    val v1 = s"${m}_1"; val v2 = s"${m}_2"
    s"""    SUM(ABS($v1 - $v2)) AS ${m}_man,
       |    SUM(($v1 - $v2) * ($v1 - $v2)) AS ${m}_euc,
       |    SUM($v1 * $v2) AS ${m}_dot,
       |    SUM($v1 * $v1) AS ${m}_n1,
       |    SUM($v2 * $v2) AS ${m}_n2,
       |    SUM(LEAST($v1, $v2)) AS ${m}_min,
       |    SUM(GREATEST($v1, $v2)) AS ${m}_max,
       |    SUM($v1 + $v2) AS ${m}_sum,
       |    SUM(CASE WHEN $v1 > 0 AND ($v1 + $v2) / 2 > 0
       |        THEN $v1 * LN($v1 / (($v1 + $v2) / 2)) ELSE 0 END) AS ${m}_js1,
       |    SUM(CASE WHEN $v2 > 0 AND ($v1 + $v2) / 2 > 0
       |        THEN $v2 * LN($v2 / (($v1 + $v2) / 2)) ELSE 0 END) AS ${m}_js2""".stripMargin
  }

  private[queries] def finalizeSqlFor(m: String): String =
    s"""    ROUND(${m}_man, 6) AS ${m}_manhattan,
       |    ROUND(SQRT(${m}_euc), 6) AS ${m}_euclidean,
       |    ROUND(CASE WHEN ${m}_n1 <= 0 OR ${m}_n2 <= 0 THEN 0
       |      ELSE ${m}_dot / (SQRT(${m}_n1) * SQRT(${m}_n2)) END, 6) AS ${m}_cosine,
       |    ROUND(CASE WHEN ${m}_max = 0 THEN 0
       |      ELSE ${m}_min / ${m}_max END, 6) AS ${m}_jaccard,
       |    ROUND(CASE WHEN ${m}_sum = 0 THEN 0
       |      ELSE 2 * ${m}_min / ${m}_sum END, 6) AS ${m}_dice,
       |    ROUND(${m}_js1 + ${m}_js2, 6) AS ${m}_js""".stripMargin

  private val goldValuesSql = goldPairs
    .map { case (a, b, r) => s"('$a', '$b', $r)" }.mkString(", ")

  /** Full 24-dim pair-vector oracle query: given WITH clauses ending in an
    * `assoc(lexeme, feature, assoc_freq, assoc_prob, assoc_pmi, assoc_ttest)`
    * CTE, joins a literal gold list on both sides, full-outer merges the
    * per-feature measure vectors with zero padding, and computes the 24
    * distance/similarity metrics — the independent SQL re-derivation of
    * [[graft.pipeline.PairVectors.vectors]].
    */
  private[queries] def pairVectorsSql(withClauses: String,
      goldValues: String): String = {
    val side1 = ms.map(m => s"a.assoc_$m AS ${m}_1").mkString(", ")
    val side2 = ms.map(m => s"a.assoc_$m AS ${m}_2").mkString(", ")
    val coal = ms.flatMap(m => Seq(
      s"COALESCE(${m}_1, 0) AS ${m}_1", s"COALESCE(${m}_2, 0) AS ${m}_2"))
      .mkString(",\n    ")
    s"""WITH $withClauses,
       |gold(w1, w2, related) AS (VALUES $goldValues),
       |m1 AS (SELECT g.w1, g.w2, g.related, a.feature, $side1
       |       FROM gold g JOIN assoc a ON a.lexeme = g.w1),
       |m2 AS (SELECT g.w1, g.w2, g.related, a.feature, $side2
       |       FROM gold g JOIN assoc a ON a.lexeme = g.w2),
       |pf AS (SELECT
       |    COALESCE(m1.w1, m2.w1) AS w1, COALESCE(m1.w2, m2.w2) AS w2,
       |    COALESCE(m1.related, m2.related) AS related,
       |    $coal
       |  FROM m1 FULL OUTER JOIN m2
       |    ON m1.w1 = m2.w1 AND m1.w2 = m2.w2 AND m1.feature = m2.feature),
       |agg AS (SELECT w1, w2, related,
       |${ms.map(aggSqlFor).mkString(",\n")}
       |  FROM pf GROUP BY 1, 2, 3)
       |SELECT w1, w2, related,
       |${ms.map(finalizeSqlFor).mkString(",\n")}
       |FROM agg ORDER BY w1, w2""".stripMargin
  }

  private val vectorsSql = pairVectorsSql(assocSql, goldValuesSql)

  val all: Seq[QueryDef] = Seq(

    QueryDef("q29_doc_token_freq",
      (s, d) => table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(20),
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY 1 ORDER BY n DESC, word ASC LIMIT 20""".stripMargin)),

    QueryDef("q30_doc_bigram_counts",
      (s, d) => edges(s, d)
        .groupBy("lexeme", "feature").agg(count(lit(1)).as("lf"))
        .orderBy("lexeme", "feature"),
      Some(s"""WITH $edgesSql
              |SELECT lexeme, feature, COUNT(*) AS lf
              |FROM edges GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef("q31_doc_assoc",
      (s, d) => assoc(s, d)
        .select(col("lexeme"), col("feature"), col("lf"), col("l"), col("f"),
          round(col("assoc_prob"), 6).as("assoc_prob"),
          round(col("assoc_pmi"), 6).as("assoc_pmi"),
          round(col("assoc_ttest"), 6).as("assoc_ttest"))
        .orderBy("lexeme", "feature"),
      Some(s"""WITH $assocSql
              |SELECT lexeme, feature, lf, l, f,
              |  ROUND(assoc_prob, 6) AS assoc_prob,
              |  ROUND(assoc_pmi, 6) AS assoc_pmi,
              |  ROUND(assoc_ttest, 6) AS assoc_ttest
              |FROM assoc ORDER BY 1, 2""".stripMargin)),

    // Flagship: the engine's Steps 2-4 chain vs an independent SQL
    // re-derivation of the whole 24-dim computation.
    QueryDef("q32_doc_pair_vectors",
      (s, d) => {
        val vecs = pairVectors(s, d)
        val rounded = col("w1") +: col("w2") +: col("related") +:
          PairVectors.vectorColumns.map(c => round(col(c), 6).as(c))
        vecs.select(rounded: _*).orderBy("w1", "w2")
      },
      Some(vectorsSql)),

    // Porter stemming composed with aggregation, HASH-CHECKED end to
    // end: corpus token positions map deterministically onto the FULL
    // public 5,751-word golden vocabulary (the q88/q238 salting
    // discipline — corpus-driven frequencies, engine-independent
    // words), the engine stems with its own porter_stem, and the
    // oracle replays via the golden (word -> stem) lookup as literal
    // VALUES — so every corpus-weighted stem must agree with the
    // published vectors THROUGH the two-level aggregation. Two-level:
    // count at the distinct-vocabulary grain first (map-side combine
    // collapses the position stream), stem only distinct words, then
    // re-aggregate — this stems |vocab| strings instead of |corpus|,
    // the difference between hours and minutes at 100 TB.
    QueryDef("q33_doc_stem_freq",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val n = graft.text.PorterGolden.pairs.size
        val golden = graft.text.PorterGolden.pairs.map(_._1).zipWithIndex
          .map { case (w, i) => (i.toLong, w) }.toDF("idx", "w")
        table(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .select(pmod(col("doc_id") * 131 + col("pos"),
            lit(n.toLong)).as("idx"))
          .join(broadcast(golden), "idx")
          .groupBy("w").agg(count(lit(1)).as("tn"))
          .groupBy(porter_stem(col("w")).as("stem"))
          .agg(sum("tn").as("n"))
          .orderBy(col("n").desc, col("stem").asc)
      },
      Some(s"""WITH g(idx, w, s) AS (VALUES
              |  ${graft.text.PorterGolden.sqlValues}),
              |t AS (SELECT doc_id, u.i - 1 AS pos
              |  FROM documents,
              |    UNNEST(generate_series(1,
              |      len(string_split(text, ' ')))) u(i))
              |SELECT g.s AS stem, CAST(COUNT(*) AS BIGINT) AS n
              |FROM t JOIN g
              |  ON g.idx = (t.doc_id * 131 + t.pos) % ${graft.text.PorterGolden.pairs.size}
              |GROUP BY 1 ORDER BY n DESC, stem""".stripMargin)),
  )
}
