package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._
import QueryDef.table

/** The REAL biarcs pipeline under load: a deterministic synthetic corpus
  * (md5-driven, Zipf-ish word draws over a suffixed vocabulary so Porter
  * stemming collapses key families exactly like real text) generated as
  * pure column expressions — no files, no RNG-partitioning dependence —
  * then Steps 1-4 end-to-end. This is the bench entry that measures the
  * engine's own hot paths (stemmer codegen, one-scan counts, 3-way join,
  * broadcast gold join, pivot + wide agg) rather than Spark's built-ins.
  */
object PipelineBench {

  /** 40 stem bases × 10 suffix forms = 400 surface words (base-major
    * order, so consecutive 10-word runs share a base family).
    */
  private val stemBases = Seq("run", "jump", "walk", "talk", "work", "play",
    "read", "write", "sing", "dance", "cook", "clean", "build", "break",
    "start", "stop", "open", "close", "move", "turn", "help", "call", "ask",
    "answer", "learn", "teach", "show", "watch", "listen", "speak",
    "count", "measure", "relate", "connect", "compute", "process",
    "filter", "sort", "merge", "join")

  private val vocab: Seq[String] = {
    val suffixes = Seq("", "s", "ing", "ed", "er", "ly", "ness", "ation",
      "ful", "ious")
    for (b <- stemBases; s <- suffixes) yield b + s
  }

  private val deps = Seq("dobj", "nsubj", "amod", "prep", "pobj", "conj")

  /** `lines` corpus lines, `k` tokens each. Word draw: idx =
    * floor(u^3 * |vocab|) over a uniform u from md5 — a Zipf-ish skew
    * (the hot words appear ~30× the median), deterministic everywhere.
    *
    * The token array is built with a `transform` lambda over a single
    * vocabulary column: inlining the 400-literal array once per token (the
    * first version did) explodes the generated method past janino's limits
    * and silently drops the whole stage to interpreted mode.
    */
  def syntheticCorpus(spark: SparkSession, lines: Long, k: Int): DataFrame = {
    // uniform in [0,1) from xxhash64 — a few ns per draw; an earlier
    // md5-hex version made corpus *generation* dominate the whole benchmark
    def u(salt: Int, j: String) =
      s"pmod(xxhash64(id, $salt, $j), 65536) / 65536.0"
    def zipfWord(salt: Int, j: String) =
      s"element_at(v, cast(pow(${u(salt, j)}, 3.0) * ${vocab.size} AS INT) + 1)"
    // vocabulary/dep tables as SINGLE typedLit constants, not 406
    // scattered Literal nodes: the scattered spelling dominated the
    // plan's first-sample cost with one-time janino compilation of the
    // huge generated projection (the q126 lesson) — same values, same
    // arithmetic, milliseconds to compile
    spark.range(lines)
      .select(col("id"),
        typedLit(vocab).as("v"),
        typedLit(deps).as("dp"))
      .select(expr(
        s"""concat_ws('\t',
           |  ${zipfWord(1, "0")},
           |  concat_ws(' ', transform(sequence(1, $k), j ->
           |    concat_ws('/',
           |      ${zipfWord(1, "j")},
           |      'NN',
           |      element_at(dp, cast(${u(2, "j")} * ${deps.size} AS INT) + 1),
           |      cast(cast(${u(3, "j")} * $k AS INT) AS STRING)))),
           |  cast(cast(${u(4, "300")} * 99 AS INT) + 1 AS STRING),
           |  '2000,1')""".stripMargin).as("value"))
  }

  /** Topic-structured variant: each line draws a topic; 70% of its word
    * draws come from that topic's slice of the vocabulary, the rest from
    * the global Zipf. Words in the same slice therefore share
    * distributional contexts — so gold pairs labeled related=same-slice
    * give the downstream classifier a REAL signal to learn from the
    * pipeline's 24-dim vectors (the end-to-end ML validation the
    * reference's 93.4% baseline plays on its corpus).
    */
  def structuredCorpus(spark: SparkSession, lines: Long, k: Int,
      topics: Int): DataFrame = {
    val slice = vocab.size / topics
    def u(salt: Int, j: String) =
      s"pmod(xxhash64(id, $salt, $j), 65536) / 65536.0"
    // topic of the line, then per-word: topic slice with p=0.7 else global
    val topicIdx = s"cast(${u(9, "0")} * $topics AS INT)"
    def word(j: String) =
      s"""element_at(v, CASE WHEN ${u(5, j)} < 0.7
         |  THEN $topicIdx * $slice + cast(${u(6, j)} * $slice AS INT) + 1
         |  ELSE cast(pow(${u(1, j)}, 3.0) * ${vocab.size} AS INT) + 1 END)"""
        .stripMargin
    spark.range(lines)
      .select(col("id"),
        typedLit(vocab).as("v"),
        typedLit(deps).as("dp"))
      .select(expr(
        s"""concat_ws('\t',
           |  ${word("0")},
           |  concat_ws(' ', transform(sequence(1, $k), j ->
           |    concat_ws('/',
           |      ${word("j")},
           |      'NN',
           |      element_at(dp, cast(${u(2, "j")} * ${deps.size} AS INT) + 1),
           |      cast(cast(${u(3, "j")} * $k AS INT) AS STRING)))),
           |  cast(cast(${u(4, "300")} * 99 AS INT) + 1 AS STRING),
           |  '2000,1')""".stripMargin).as("value"))
  }

  /** Gold pairs over the structured corpus, expressed as STEMS (the assoc
    * relation's lexemes are Porter stems): related = two different base
    * families from the same topic slice, unrelated = cross-topic.
    */
  def structuredGold(topics: Int): Seq[(String, String, Boolean)] = {
    val per = stemBases.size / topics
    val byTopic = (0 until topics).map(t =>
      stemBases.slice(t * per, (t + 1) * per)
        .map(graft.text.PorterStemmer.stem))
    val related = for {
      t <- 0 until topics
      pair <- byTopic(t).grouped(2).toSeq if pair.size == 2 && pair(0) != pair(1)
    } yield (pair(0), pair(1), true)
    val unrelated = for {
      t <- 0 until topics
      i <- 0 until math.min(2, per)
    } yield (byTopic(t)(i), byTopic((t + 1) % topics)((i + per / 2) % per), false)
    (related ++ unrelated).distinct
  }

  private val gold: Seq[(String, String, Boolean)] = Seq(
    ("run", "walk", true), ("jump", "dance", true), ("read", "write", true),
    ("merge", "join", true), ("count", "measure", true),
    ("cook", "compute", false), ("sing", "filter", false),
    ("open", "close", false), ("teach", "process", false),
    ("help", "sort", false))

  val all: Seq[QueryDef] = Seq(
    // rows-only: the oracle for these semantics is the golden/differential
    // suite; this entry exists to be BENCHED at scale
    QueryDef("q62_pipeline_synthetic",
      (s, d) => {
        // scale with the harness SF: ~200 corpus lines per document row
        val lines = table(s, d, "documents").count() * 200L
        val s2 = s; import s2.implicits._
        SemanticPipeline.vectorsOf(
          Biarcs.edges(syntheticCorpus(s, lines, 8)),
          gold.toDF("w1", "w2", "related"))
          .orderBy("w1", "w2")
      },
      None),
  )
}
