package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The word `n`-grams of a token array, in order, each its `n` tokens
  * joined by one space: gram `i` (0-based) is tokens `i .. i + n - 1`.
  * An array shorter than `n` has none.
  *
  * Byte-identical to the lambda spelling
  * `transform(sequence(1, size(t) - n + 1), i -> concat_ws(' ',
  * slice(t, i, n)))` on every array of at least `n` tokens: each gram is
  * joined by `UTF8String.concatWs`, the call behind `concat_ws`, so empty
  * tokens (from double spaces) are kept and a null token is skipped.
  * Spark evaluates that lambda interpreted, once per gram. (The lambda
  * fails on an array shorter than `n`, where `sequence` counts down
  * through index 0; this returns no grams.)
  *
  * The kernel of the SQL function `word_ngrams` (a [[Native]] row):
  * generated code calls `grams` directly inside whole-stage codegen.
  */
object WordNgrams {

  private val Space = UTF8String.fromString(" ")

  /** The shared interpreted/codegen kernel. */
  def grams(tokens: ArrayData, n: Int): ArrayData = {
    if (n < 1) throw new IllegalArgumentException(
      s"word_ngrams: n=$n must be >= 1")
    val len = tokens.numElements()
    val ts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!tokens.isNullAt(i)) ts(i) = tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](math.max(0, len - n + 1))
    i = 0
    while (i < out.length) {
      out(i) = UTF8String.concatWs(Space,
        java.util.Arrays.copyOfRange(ts, i, i + n): _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
