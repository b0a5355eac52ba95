package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Length of the longest common TOKEN subsequence of two string
  * columns (whitespace tokens, empties dropped — the `split(text, ' ')`
  * + non-empty-filter convention the rest of the engine tokenizes by).
  * This is the core of ROUGE-L (Lin 2004): unlike n-gram overlap, the
  * common subsequence rewards IN-ORDER content at any gap, so a
  * summary that reorders nothing but compresses a lot still scores —
  * the summarization/translation pair-curation measure next to
  * [[graft.ops.TextAnalysis.bleuScore]]'s clipped n-gram precision.
  *
  * Token comparison is exact byte equality of the UTF-8 tokens —
  * identical to SQL `=` on the split tokens, so a DuckDB oracle
  * replays the DP row-for-row. Two rolling int rows, O(n·m) time,
  * O(m) space; the cell cap fails loudly (the
  * [[DamerauLevenshtein.MaxCells]] discipline) instead of letting two
  * book-length texts monopolize a task. Empty/blank sides give 0.
  *
  * The kernel of the SQL function `token_lcs` (a [[Native]] row):
  * generated code calls `lcs` directly inside whole-stage codegen.
  */
object TokenLcs {

  /** DP cell cap, the [[DamerauLevenshtein.MaxCells]] discipline: LCS
    * is O(n·m) TIME even with rolling rows, so unboundedly long texts
    * must fail loudly, not stall a task. 2^22 cells ≈ two 2k-token
    * documents.
    */
  val MaxCells: Long = 1L << 22

  private def tokens(s: UTF8String): Array[UTF8String] = {
    val parts = s.split(UTF8String.fromString(" "), -1)
    val out = new Array[UTF8String](parts.length)
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) { out(n) = parts(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** The shared interpreted/codegen kernel: two rolling rows over the
    * token grids.
    */
  def lcs(a: UTF8String, b: UTF8String): Int = {
    val ta = tokens(a)
    val tb = tokens(b)
    val n = ta.length
    val m = tb.length
    if (n == 0 || m == 0) return 0
    if ((n + 1).toLong * (m + 1).toLong > MaxCells)
      throw new IllegalArgumentException(
        s"token_lcs inputs of $n x $m tokens exceed the $MaxCells-cell " +
          "DP cap: LCS is O(n*m) per row by construction. Intended for " +
          "sentence/summary pairs - chunk or pre-truncate long texts.")
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        cur(j) =
          if (ta(i - 1).equals(tb(j - 1))) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}
