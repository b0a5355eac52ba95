package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity of two string columns in [0, 1] — the string
  * comparator record linkage was built on (Winkler 1990, the US Census
  * string comparator): transposition-tolerant, prefix-boosted, cheap.
  * Feeds [[graft.ops.Linkage]]-style fuzzy field agreement and fuzzy
  * key matching where `levenshtein` is too strict about position.
  *
  * Semantics match the common RapidFuzz/DuckDB implementation so a SQL
  * oracle (`jaro_winkler_similarity`) replays scores:
  *   - match window `max(|a|,|b|)/2 − 1` (floor, min 0), half-counted
  *     transpositions, `jaro = (m/|a| + m/|b| + (m−t)/m) / 3`;
  *   - Winkler boost `jw = jaro + ℓ·0.1·(1−jaro)` with ℓ = common
  *     prefix length capped at 4, applied only when `jaro > 0.7`;
  *   - zero matches → 0; EITHER side empty → 0 (including both-empty —
  *     the DuckDB convention, probed);
  *   - comparison is by UTF-16 code unit (ASCII-identical to byte
  *     implementations; astral-plane text compares surrogate-wise).
  *
  * The kernel of the SQL function `jaro_winkler` (a [[Native]] row):
  * generated code calls `sim` directly, with no UDF serialization, and
  * stays inside whole-stage codegen.
  */
object JaroWinkler {

  /** The shared interpreted/codegen kernel. */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars out of relative order, half-counted
    var trans = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val t = trans / 2
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    while (prefix < math.min(4, math.min(l1, l2)) &&
        s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}
