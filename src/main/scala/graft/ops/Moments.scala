package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Exact second-moment (Gram / covariance) profile of an embedding
  * column — the one-pass distributed half of PCA, ZCA whitening, or a
  * Mahalanobis outlier gate: compute `Σ x xᵀ` and `Σ x` over the corpus
  * here, eigendecompose the d×d result wherever you like (it's d² ≈ a
  * few KB — driver, notebook, anywhere).
  *
  * Determinism: each component is quantized ONCE on input —
  * `q = round(v · 1e6)` half-away-from-zero, the same rule as SQL
  * `ROUND` — and every downstream sum/product is exact integer
  * arithmetic, so results are bit-identical on any engine and
  * replayable in a SQL oracle. The only approximation is the input
  * quantization (|error| ≤ 5e-7 per component). Overflow envelope:
  * every accumulator (linear AND pair) is a signed 128-bit integer
  * (two-long hi/lo buffer slots, reconstructed as decimal(38,0) in the
  * output plan), so for unit-scale components (per-row pair product
  * ~1e12) the sums stay exact past 10^25 rows — no silent wraparound
  * at any realistic corpus size. Each per-row product is additionally
  * `Math.multiplyExact`-guarded, so components big enough to overflow
  * the 64-bit product (|q| > ~3e9, i.e. |v| > ~3e3) fail loudly with
  * an instruction to quantize coarser instead of corrupting sums.
  */
object Moments {

  /** SQL ROUND semantics: half away from zero. */
  private def halfAway(x: Double): Long =
    (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong

  /** Add the signed long `v` into the 128-bit accumulator at logical
    * slot `k` of `b` (slot k = longs 2k (hi) / 2k+1 (lo, unsigned)).
    * Branch-free carry; exact for any sequence of adds whose true sum
    * stays inside a signed 128-bit integer.
    */
  private def add128(b: Array[Long], k: Int, v: Long): Unit = {
    val lo = b(2 * k + 1)
    val nlo = lo + v
    val carry = ((lo & v) | ((lo | v) & ~nlo)) >>> 63
    b(2 * k + 1) = nlo
    b(2 * k) += (v >> 63) + carry
  }

  /** Flat exact-moment buffer: logical slots [0, d) hold `Σ qᵢ`, slots
    * [d, d + d(d+1)/2) the upper triangle `Σ qᵢqⱼ` (i ≤ j) in row-major
    * order — each logical slot a SIGNED 128-BIT integer stored as two
    * longs (hi, lo-unsigned), so sums never wrap at any corpus size
    * (the old single-long pair sums wrapped silently past ~9e6 rows of
    * unit-scale embeddings). Each map task folds its rows into ONE
    * buffer, so the exchange carries `partitions` buffers of
    * `2·(d + d(d+1)/2)` longs — never `n·d²` exploded rows. This is
    * [[graft.ops.TopK]]'s partial-aggregation discipline applied to
    * dense moments.
    */
  private final class GramAgg(d: Int)
      extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {
    private val slots = d + d * (d + 1) / 2
    override def zero: Array[Long] = new Array[Long](2 * slots)
    override def reduce(b: Array[Long], v: Seq[Float]): Array[Long] = {
      require(v.length == d, s"expected dim $d, got ${v.length}")
      val q = new Array[Long](d)
      var i = 0
      while (i < d) { q(i) = halfAway(v(i).toDouble * 1e6); i += 1 }
      var k = d
      i = 0
      while (i < d) {
        add128(b, i, q(i))
        var j = i
        while (j < d) {
          // loud failure (quantize coarser) beats a silent 64-bit wrap
          add128(b, k, Math.multiplyExact(q(i), q(j)))
          j += 1; k += 1
        }
        i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var k = 0
      while (k < slots) {
        val lo = x(2 * k + 1)
        val v = y(2 * k + 1)
        val nlo = lo + v
        val carry = ((lo & v) | ((lo | v) & ~nlo)) >>> 63
        x(2 * k + 1) = nlo
        x(2 * k) += y(2 * k) + carry
        k += 1
      }
      x
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** The (i, j, n, s_i, s_j, s_ij, cov) relation for every 1-based pair
    * i ≤ j: exact integer sums of the 1e6-quantized components as
    * decimal(38,0) (reconstructed from [[GramAgg]]'s 128-bit hi/lo
    * slots — exact at any corpus size), plus the POPULATION covariance
    * `cov = (n·s_ij − s_i·s_j) / (n² · 1e12)` of the ORIGINAL scale
    * (÷n², not n(n−1) — rescale for the unbiased estimator) —
    * the numerator exact in decimal(38,0), one double divide at the
    * end. `d` is the (fixed, caller-known) embedding dimension.
    *
    * Shape at 100 TB: ONE aggregation with map-side combine (see
    * [[GramAgg]]) to a single `2·(d + d(d+1)/2)`-long row, then a
    * narrow driver-free explode to the pair grain. No shuffle ever
    * carries more than `partitions` buffers.
    */
  def gramProfile(df: DataFrame, d: Int,
      vecCol: String = "embedding"): DataFrame = {
    require(d >= 1, s"d=$d must be >= 1")
    val nPairs = d * (d + 1) / 2
    // linear upper-triangle index k (0-based) -> 1-based (i, j)
    val iIdx = new Array[Int](nPairs)
    val jIdx = new Array[Int](nPairs)
    var k = 0
    for (i <- 1 to d; j <- i to d) { iIdx(k) = i; jIdx(k) = j; k += 1 }
    val agg = udaf(new GramAgg(d), ExpressionEncoder[Seq[Float]]())
    val dec = "decimal(38,0)"
    val two64 = lit("18446744073709551616").cast(dec)
    // decimal(38,0) tops out at 10^38−1, but the signed-128 accumulator
    // reaches ±2^127 ≈ 1.7e38: in the band between, non-ANSI Spark would
    // return a silent NULL from the cast. |hi·2^64 + lo| ≤ (|hi|+1)·2^64,
    // so |hi| ≤ ⌊(10^38−1)/2^64⌋ − 1 guarantees the reconstruction fits;
    // past it, fail loudly (this file's overflow discipline). Reaching
    // the cap takes Σ|q_i·q_j| > 10^38 — about 10^24 rows of ±10^7-
    // quantized components — far past any corpus, but the guard makes
    // the envelope a contract instead of a comment.
    val hiCap = ((BigInt(10).pow(38) - 1) / BigInt(2).pow(64) - 1).toLong
    // signed-128 (hi, lo-unsigned) at 1-based logical slot -> decimal
    def dec128(slot: Column): Column = {
      val hi = element_at(col("s"), (slot * 2 - 1).cast("int"))
      val lo = element_at(col("s"), (slot * 2).cast("int"))
      val guarded = when(hi > hiCap || hi < -hiCap, raise_error(lit(
        "gramProfile: a quantized moment sum exceeds the decimal(38,0) " +
          "reconstruction ceiling (|hi| > (10^38-1)/2^64) — reduce the " +
          "quantization scale or aggregate in shards"))).otherwise(hi)
      (guarded.cast(dec) * two64 + when(lo < 0, lo.cast(dec) + two64)
        .otherwise(lo.cast(dec))).cast(dec)
    }
    df.agg(count(lit(1)).as("n"), agg(col(vecCol)).as("s"))
      .select(col("n"), col("s"),
        explode(expr(s"sequence(0, ${nPairs - 1})")).as("k"))
      .select(col("n"), col("s"),
        element_at(typedLit(iIdx.toSeq), col("k") + 1).as("i"),
        element_at(typedLit(jIdx.toSeq), col("k") + 1).as("j"),
        (col("k") + d + 1).as("pslot"))
      .select(col("i"), col("j"), col("n"),
        dec128(col("i")).as("s_i"),
        dec128(col("j")).as("s_j"),
        dec128(col("pslot")).as("s_ij"))
      .withColumn("cov",
        (col("n").cast(dec) * col("s_ij")
          - col("s_i") * col("s_j")).cast("double")
          / (col("n").cast("double") * col("n").cast("double") * 1e12))
  }
}
