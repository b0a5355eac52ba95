package graft.functions

/** 2-D Hilbert curve index of two ALREADY-NORMALIZED long coordinates in
  * [0, 2^bits) — the locality-superior clustering key next to the Morton
  * interleave (every contiguous Hilbert range is one CONNECTED grid
  * region; Z-order ranges jump between quadrant corners).
  *
  * The standard iterative xy→d quadrant walk (Hilbert 1891): each level
  * `s = 2^(bits−1) .. 1` contributes `s²·quad` steps, `quad = ry` in the
  * first column and `3 − ry` in the second, then the coordinates
  * flip/swap into the sub-quadrant's frame. Pure integer div/mod
  * arithmetic with coordinates reduced mod s every level, so the DuckDB
  * oracle replays it CTE-for-level (`TrainingOps.hilbertSkippingOracleSql`)
  * and every intermediate stays in [0, s).
  *
  * The kernel of the SQL function `hilbert_index` (a [[Native]] row),
  * not a 5·bits-column projection chain: the chained-`withColumn`
  * spelling fell out of whole-stage codegen at bits = 8 (measured 11 s
  * for the q282 audit at sf0.1). Generated code calls `compute`
  * directly inside whole-stage codegen.
  *
  * Inputs OUT OF RANGE (negative, or ≥ 2^bits) fail loudly with an
  * IllegalArgumentException naming the value — a silently wrapped index
  * would corrupt a 100 TB layout.
  */
object HilbertIndex {

  /** The shared interpreted/codegen kernel. */
  def compute(x0: Long, y0: Long, bits: Int): Long = {
    val side = 1L << bits
    if (x0 < 0L || x0 >= side || y0 < 0L || y0 >= side)
      throw new IllegalArgumentException(
        s"hilbert_index: coordinate ($x0, $y0) outside [0, 2^$bits) — " +
          "normalize first (zValue/hilbertValue bounds pass)")
    var x = x0
    var y = y0
    var d = 0L
    var s = side >> 1
    while (s > 0L) {
      val rx = x / s
      val ry = y / s
      val quad = if (rx == 0L) ry else 3L - ry
      d += s * s * quad
      val xm = x % s
      val ym = y % s
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - ym; y = s - 1L - xm }
        else { x = ym; y = xm }
      } else { x = xm; y = ym }
      s >>= 1
    }
    d
  }
}
