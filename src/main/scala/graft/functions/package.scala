package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.sql.graftshim.Bridge

/** Column-level entry points for graft's native expressions. */
package object functions {

  private[graft] def toColumn(e: Expression): Column = Bridge.column(e)
  private[graft] def toExpr(c: Column): Expression = Bridge.expression(c)

  // The SQL functions over static kernels, one [[Native]] row each.
  private val porterStem = Native("porter_stem", PorterStem, "stemUTF8",
    StringType, Seq(StringType))
  private val nfcNormalize = Native("nfc_normalize", NfcNormalize,
    "normalizeUTF8", StringType, Seq(StringType))
  private val jaroWinkler = Native("jaro_winkler", JaroWinkler, "sim",
    DoubleType, Seq(StringType, StringType))
  private val damerauLevenshtein = Native("damerau_levenshtein",
    DamerauLevenshtein, "dist", IntegerType, Seq(StringType, StringType))
  private val tokenLcs = Native("token_lcs", TokenLcs, "lcs", IntegerType,
    Seq(StringType, StringType))
  private val tokenNgramClip = Native("token_ngram_clip", TokenNgramClip,
    "clip", LongType, Seq(StringType, StringType, IntegerType))
  private val hilbertIndex = Native("hilbert_index", HilbertIndex,
    "compute", LongType, Seq(LongType, LongType, IntegerType),
    args => args(2) match {
      case b if b.foldable && (b.eval() match {
          case n: Int => n > 0 && 2 * n < 63
          case _ => false
        }) => None
      case b => Some("hilbert_index: bits must be an int literal with " +
        s"0 < 2*bits < 63, got ${b.sql}")
    })
  private val sortedOverlap = Native("sorted_overlap", SortedOverlap,
    "count", IntegerType, Seq(ArrayType(LongType), ArrayType(LongType)))
  private val wordNgrams = Native("word_ngrams", WordNgrams, "grams",
    ArrayType(StringType, containsNull = false),
    Seq(ArrayType(StringType), IntegerType))

  /** Every graft SQL function as a function registry takes it: name, info
    * and an arity-checked builder. [[registerAll]] and
    * [[graft.GraftExtensions]] both register exactly this list.
    */
  private[graft] val sqlFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def row(name: String, cls: Class[_], arity: Int)(
        build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity,
            s"$name requires exactly $arity argument(s), got ${args.length}")
          build(args)
        })
    Seq(porterStem, nfcNormalize, jaroWinkler, damerauLevenshtein, tokenLcs,
      tokenNgramClip, hilbertIndex, sortedOverlap, wordNgrams).map(k =>
        row(k.name, classOf[NativeCall], k.inputTypes.length)(
          NativeCall(k, _))) ++ Seq(
      row("float_dot", classOf[FloatDot], 2)(a => FloatDot(a(0), a(1))),
      row("float_cosine", classOf[FloatCosine], 2)(
        a => FloatCosine(a(0), a(1))))
  }

  /** Porter-stem a string column (lowercases; non-`[a-z]+` pass through). */
  def porter_stem(c: Column): Column = porterStem(c)

  /** Native codegen'd dot product of two `array<float>` columns. */
  def float_dot(a: Column, b: Column): Column =
    toColumn(FloatDot(toExpr(a), toExpr(b)))

  /** Unicode NFC canonical composition of a string column. */
  def nfc_normalize(c: Column): Column = nfcNormalize(c)

  /** Fused cosine of two `array<float>` columns: one array pass for
    * dot + both norms; bit-identical to
    * `float_dot(a,b)/(sqrt(float_dot(a,a))*sqrt(float_dot(b,b)))`.
    */
  def float_cosine(a: Column, b: Column): Column =
    toColumn(FloatCosine(toExpr(a), toExpr(b)))

  /** Jaro-Winkler similarity of two string columns (RapidFuzz/DuckDB
    * semantics; see [[JaroWinkler]]).
    */
  def jaro_winkler(a: Column, b: Column): Column = jaroWinkler(a, b)

  /** Full (unrestricted) Damerau-Levenshtein distance of two string
    * columns (byte-wise DuckDB semantics; see [[DamerauLevenshtein]]).
    */
  def damerau_levenshtein(a: Column, b: Column): Column =
    damerauLevenshtein(a, b)

  /** Longest common TOKEN subsequence length of two string columns
    * (whitespace tokens; the ROUGE-L core — see [[TokenLcs]]).
    */
  def token_lcs(a: Column, b: Column): Column = tokenLcs(a, b)

  /** Clipped n-gram match count Σ min(count_cand, count_ref) over
    * whitespace-token n-grams (the BLEU numerator — see
    * [[TokenNgramClip]]).
    */
  def token_ngram_clip(cand: Column, ref: Column, n: Column): Column =
    tokenNgramClip(cand, ref, n)

  /** 2-D Hilbert curve index of two already-normalized long columns in
    * [0, 2^bits) (the locality-superior clustering key — see
    * [[HilbertIndex]]).
    */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    hilbertIndex(x, y, lit(bits))

  /** Size of the intersection of two strictly ascending `array<bigint>`
    * sets, counted in one merge; fails on an input that is not strictly
    * ascending (see [[SortedOverlap]]).
    */
  def sorted_overlap(a: Column, b: Column): Column = sortedOverlap(a, b)

  /** The space-joined word `n`-grams of a token array column, in order
    * (see [[WordNgrams]]).
    */
  def word_ngrams(tokens: Column, n: Column): Column = wordNgrams(tokens, n)

  /** Apply a trained BPE merge table to a word column (sequential
    * greedy passes in table order — see [[BpeEncode]]). The table is a
    * driver-side artifact, so this takes a Scala Seq, not a Column;
    * no SQL registration (SQL has no clean spelling for the bounded
    * tokenizer artifact — use the Column API).
    */
  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    toColumn(BpeEncode(toExpr(word), merges))

  /** Distinct 0-based indices of the blocklist `patterns` occurring as
    * substrings of the text column, via one Aho–Corasick pass (see
    * [[MultiMatch]]). The pattern list is a driver-side artifact, so
    * this takes a Scala Seq, not a Column; no SQL registration.
    */
  def multi_match(text: Column, patterns: Seq[String]): Column =
    toColumn(MultiMatch(toExpr(text), patterns))

  /** Replace every leftmost-longest non-overlapping blocklist
    * occurrence with `token` in one Aho–Corasick pass (see
    * [[MultiReplace]]).
    */
  def multi_replace(text: Column, patterns: Seq[String],
      token: String): Column =
    toColumn(MultiReplace(toExpr(text), patterns, token))

  /** Register graft SQL functions on a session (idempotent), enabling
    * `SELECT porter_stem(col)` in `spark.sql`.
    */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
