package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Biarcs, PairVectors, SemanticPipeline}
import QueryDef.table

/** End-to-end oracle for the REAL reference pipeline (Steps 1-4:
  * `Biarcs.edges` → [[graft.pipeline.SemanticPipeline.vectorsOf]]) — the
  * chain q62 benches, here with a fully independent DuckDB re-derivation
  * (closing round-1's only `no_oracle` hole on the core pipeline).
  *
  * The corpus is derived deterministically from the `documents` table in a
  * form BOTH engines can construct identically:
  *   - each document with ≥ 6 tokens yields one biarcs line over its first
  *     6 tokens;
  *   - every raw token is mapped to a 40-word vocabulary via its first two
  *     md5 hex digits (md5 is the only hash portable across Spark and
  *     DuckDB) — collisions are irrelevant, the mapping just has to agree;
  *   - the vocabulary contains only Porter-stem fixpoints (asserted at
  *     query-build time), so the engine's REAL stemming step runs over
  *     every token while the oracle can treat it as identity — stemmer
  *     *semantics* are pinned separately by the 5,751-vector golden spec;
  *   - token i's head pointer is i+1 (wrapping to 1 for the last), its
  *     dependency label cycles through a fixed 6-label list, and the line
  *     count is `(n_chars % 9) + 1` — all pure arithmetic on both sides.
  */
object PipelineOracle {

  /** All Porter-stem fixpoints (see Scaladoc above). */
  private val vocab = Seq("run", "walk", "jump", "work", "sort", "fold",
    "shift", "drift", "blend", "clamp", "swim", "crawl", "stand", "sit",
    "grip", "grasp", "climb", "drink", "think", "thank", "long", "strong",
    "short", "flat", "dark", "warm", "cold", "swift", "crisp", "blunt",
    "sharp", "broad", "deep", "wild", "high", "low", "old", "new", "red",
    "black")

  private val deps = Seq("dobj", "nsubj", "amod", "prep", "pobj", "conj")
  private val K = 6

  private val goldPairs: Seq[(String, String, Boolean)] = Seq(
    ("run", "walk", true), ("jump", "climb", true), ("drink", "swim", true),
    ("dark", "black", true), ("cold", "warm", true), ("long", "short", true),
    ("run", "red", false), ("sort", "swift", false), ("fold", "thank", false),
    ("grip", "high", false))

  /** documents → biarcs-format corpus lines (`value: String`), Spark side.
    * Token → vocab word via the first two md5 hex digits (`instr` is
    * 1-based; the arithmetic lands in 0..255 before the modulus) — the
    * DuckDB mirror in [[assocSql]] uses `strpos` identically.
    */
  private[queries] def corpus(s: SparkSession, d: String): DataFrame = {
    require(vocab.forall(w => graft.text.PorterStemmer.stem(w) == w),
      "oracle vocabulary must be Porter-stem fixpoints")
    def hexDigit(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(element_at(tk, i)), $i, 1)) - 1)"
    val w =
      s"element_at(vv, (${hexDigit(1)} * 16 + ${hexDigit(2)}) % ${vocab.size} + 1)"
    table(s, d, "documents")
      .where(size(split(col("text"), " ")) >= K)
      .select(col("n_chars"),
        slice(split(col("text"), " "), 1, K).as("tk"),
        array(vocab.map(lit): _*).as("vv"),
        array(deps.map(lit): _*).as("dp"))
      .select(expr(
        s"""concat_ws('\t',
           |  'h',
           |  concat_ws(' ', transform(sequence(1, $K), i ->
           |    concat($w, '/NN/',
           |      element_at(dp, ((i - 1) % ${deps.size}) + 1), '/',
           |      cast(CASE WHEN i < $K THEN i + 1 ELSE 1 END AS STRING)))),
           |  cast((n_chars % 9) + 1 AS STRING),
           |  '2000,1')""".stripMargin).as("value"))
  }

  private val vocabArraySql =
    vocab.map(w => s"'$w'").mkString("([", ", ", "])")
  private val depsArraySql =
    deps.map(w => s"'$w'").mkString("([", ", ", "])")

  /** WITH clauses re-deriving Steps 1-3 in DuckDB, ending in `assoc`. */
  private val assocSql = {
    def hexDigit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(tk[i]), $i, 1)) - 1)"
    val w =
      s"$vocabArraySql[(${hexDigit(1)} * 16 + ${hexDigit(2)}) % ${vocab.size} + 1]"
    s"""base AS (
       |  SELECT doc_id, (n_chars % 9) + 1 AS cnt,
       |    string_split(text, ' ') AS tk
       |  FROM documents WHERE len(string_split(text, ' ')) >= $K),
       |tok AS (
       |  SELECT doc_id, cnt, i, $w AS w
       |  FROM base, UNNEST(generate_series(1, $K)) AS t(i)),
       |edges AS (
       |  SELECT h.w AS lexeme,
       |    a.w || '-' || $depsArraySql[((a.i - 1) % ${deps.size}) + 1]
       |      AS feature,
       |    a.cnt
       |  FROM tok a JOIN tok h ON h.doc_id = a.doc_id
       |    AND h.i = CASE WHEN a.i < $K THEN a.i + 1 ELSE 1 END),
       |pairs AS (SELECT lexeme, feature, CAST(SUM(cnt) AS BIGINT) AS lf
       |          FROM edges GROUP BY 1, 2),
       |lex AS (SELECT lexeme, CAST(SUM(lf) AS BIGINT) AS l
       |        FROM pairs GROUP BY 1),
       |feat AS (SELECT feature, CAST(SUM(lf) AS BIGINT) AS f
       |         FROM pairs GROUP BY 1),
       |tot AS (SELECT CAST(SUM(lf) AS DOUBLE) AS total FROM pairs),
       |assoc AS (
       |  SELECT lexeme, feature,
       |    CAST(lf AS DOUBLE) AS assoc_freq,
       |    CAST(lf AS DOUBLE) / l AS assoc_prob,
       |    (total * lf) / (CAST(l AS DOUBLE) * CAST(f AS DOUBLE))
       |      AS assoc_pmi,
       |    ((lf / total) - ((l / total) * (f / total)))
       |      / SQRT((l / total) * (f / total)) AS assoc_ttest
       |  FROM pairs JOIN lex USING (lexeme) JOIN feat USING (feature)
       |  CROSS JOIN tot)""".stripMargin
  }

  private val goldValuesSql = goldPairs
    .map { case (a, b, r) => s"('$a', '$b', $r)" }.mkString(", ")

  val all: Seq[QueryDef] = Seq(
    QueryDef("q67_pipeline_oracle",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val vecs = SemanticPipeline.vectorsOf(Biarcs.edges(corpus(s, d)),
          goldPairs.toDF("w1", "w2", "related"))
        val rounded = col("w1") +: col("w2") +: col("related") +:
          PairVectors.vectorColumns.map(c => round(col(c), 6).as(c))
        vecs.select(rounded: _*).orderBy("w1", "w2")
      },
      Some(DocPipeline.pairVectorsSql(assocSql, goldValuesSql))),
  )
}
