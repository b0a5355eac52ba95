package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering, the
  * write-time optimization that makes file-level min/max statistics
  * selective on SEVERAL columns at once. A 100 TB table range-partitioned
  * and sorted by one key prunes scans on that key only; sorted by the
  * interleaved Z-value, every clustered column's values are confined to
  * narrow ranges per file, so predicates on ANY of them skip most files.
  *
  * All arithmetic is integer (range-normalize by integer multiply/divide,
  * interleave by shift/mask/sum), so the Z-values — and therefore the
  * layout — are bit-identical on any engine, and the oracle replays them.
  */
object Layout {

  /** Normalize `c` (integer-valued, bounds inclusive) to [0, 2^bits):
    * floor((c - min) * 2^bits / (max - min + 1)). Spark's `/` on longs is
    * double division, so exactness needs (range * 2^bits) < 2^53 — then
    * the product is an exact double and a correctly-rounded quotient can
    * only miss an integer boundary if the true value is within one ulp of
    * it, impossible with 1/range > ulp(2^bits). The DuckDB oracle replays
    * this with TRUE integer division (`//`), so any drift would fail the
    * hash gate rather than pass silently.
    */
  private def normalize(c: Column, minC: Column, maxC: Column,
      bits: Int): Column =
    floor((c.cast("long") - minC).cast("double") * (1L << bits) /
      (maxC - minC + 1L).cast("double")).cast("long")

  /** Interleave the low `bits` of each already-normalized column:
    * bit i of column c lands at position i * numCols + c.
    */
  private def interleave(cols: Seq[Column], bits: Int): Column =
    (for {
      i <- 0 until bits
      (c, ci) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(1L), i * cols.size + ci))
      .reduce(_ + _)

  /** Append `zvalue`: the Morton interleave of `cols` (integer-typed),
    * each min/max-normalized to `bits` bits. The bounds come from one tiny
    * aggregate broadcast back over the data — one extra scan of the
    * clustered columns only (at write time, where this belongs, that scan
    * is column-pruned and cheap relative to the shuffle that follows).
    * `bits * cols.size` must stay < 63 (the value is a long).
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    require(cols.nonEmpty && bits > 0 && bits * cols.size < 63,
      s"need 0 < bits*${cols.size} < 63, got bits=$bits")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val normalized = cols.map(c => normalize(col(c),
      col(s"__min_$c"), col(s"__max_$c"), bits))
    // [[normalize]]'s exactness precondition, ENFORCED at runtime: each
    // column's range must satisfy (range * 2^bits) <= 2^53, or the double
    // division silently diverges from the pinned integer-division
    // semantics (e.g. epoch-microsecond timestamps at bits=16). Fail loud
    // instead — the fix is fewer bits or a pre-bucketed column.
    val rangeCap = if (bits > 53) 0L else 1L << (53 - bits)
    // a true range >= 2^63 (min near Long.MinValue, max positive)
    // overflows the long subtraction — under ANSI that's an opaque
    // ARITHMETIC_OVERFLOW mid-guard, under legacy mode a silent NEGATIVE
    // wrap that would satisfy <= rangeCap. try_-arithmetic turns overflow
    // into NULL and the >= 1 side rejects both NULL and wrapped values,
    // so every mode reaches the guard's own actionable raise_error
    val rangesExact = cols.map { c =>
      val range = try_add(try_subtract(
        col(s"__max_$c").cast("long"), col(s"__min_$c").cast("long")), lit(1L))
      range.isNotNull && range >= 1L && range <= rangeCap
    }.reduce(_ && _)
    val zv = when(rangesExact, interleave(normalized, bits))
      .otherwise(raise_error(lit(
        s"zValue: a clustered column's range exceeds 2^${53 - bits} — " +
          s"(range << $bits) no longer fits double-exact arithmetic; " +
          "reduce bits or pre-bucket the column")))
    df.crossJoin(broadcast(bounds))
      .withColumn("zvalue", zv)
      .drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  /** File-skipping effectiveness AUDIT: for each probe range, how many
    * of `numFiles` range-partitioned files a min/max-statistics reader
    * must scan under (a) the Z-order layout and (b) a plain sort by
    * each single clustered column — the measured form of the claim
    * [[zValue]]'s scaladoc makes. Files are modeled as equal-VALUE-
    * RANGE cuts of the layout key (range partitioning by value; closed
    * integer arithmetic both engines replay — an equal-row-count model
    * would need the rank machinery for no audit benefit), and a file
    * is scanned iff its [min, max] of the probed column intersects the
    * probe range — exactly the parquet row-group pruning rule.
    *
    * Returns one row per (layout, probe):
    * `(layout, probe_col, lo, hi, files_nonempty, files_scanned,
    * rows_scanned)` — a Z-layout should scan FEW files for probes on
    * EVERY clustered column, where sort-by-c prunes only its own
    * column. One narrow layouts×rows explode, one (layout, file)-grain
    * agg, one broadcast probe join.
    */
  def zSkippingProfile(df: DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int, probes: Seq[(String, Long, Long)]): DataFrame =
    skippingProfileFrom(zValue(df, cols, bits),
      Seq(("zorder", "zvalue")), cols, numFiles, probes)

  /** [[zSkippingProfile]] with the HILBERT layout in the comparison —
    * `(layout ∈ {hilbert, zorder, sort_<c>}, probe)` rows from one
    * audit. The Hilbert curve's selling point over Z-order is
    * LOCALITY: every contiguous index range is one connected region
    * (no Z-shaped jumps across the grid), so equal-value file cuts
    * bound both dimensions at least as tightly — this audit MEASURES
    * that on real data before a 100 TB rewrite commits to either.
    */
  def curveSkippingProfile(df: DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int, probes: Seq[(String, Long, Long)]): DataFrame =
    skippingProfileFrom(bothCurveValues(df, cols, bits),
      Seq(("hilbert", "hvalue"), ("zorder", "zvalue")), cols, numFiles,
      probes)

  /** `zvalue` AND `hvalue` from ONE bounds aggregate and one shared
    * normalization (calling [[zValue]] then [[hilbertValue]] would scan
    * the clustered columns for bounds twice — a redundant full-table
    * pass per audit at the 100 TB positioning). Values are identical
    * to the standalone operators' (same normalize, same guards).
    */
  private def bothCurveValues(df: DataFrame, cols: Seq[String],
      bits: Int): DataFrame = {
    require(cols.size == 2,
      s"curve comparison is 2-D (got ${cols.size} cols)")
    require(bits > 0 && 2 * bits < 63, s"need 0 < 2*bits < 63, got $bits")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val rangeCap = if (bits > 53) 0L else 1L << (53 - bits)
    val rangesExact = cols.map { c =>
      val range = try_add(try_subtract(
        col(s"__max_$c").cast("long"), col(s"__min_$c").cast("long")),
        lit(1L))
      range.isNotNull && range >= 1L && range <= rangeCap
    }.reduce(_ && _)
    val normalized = cols.map(c => normalize(col(c),
      col(s"__min_$c"), col(s"__max_$c"), bits))
    val zv = when(rangesExact, interleave(normalized, bits))
      .otherwise(raise_error(lit(
        s"curveSkippingProfile: a clustered column's range exceeds " +
          s"2^${53 - bits} — reduce bits or pre-bucket the column")))
    val withCoords = df.crossJoin(broadcast(bounds))
      .withColumn("zvalue", zv)
      .withColumn("__cx", normalized.head)
      .withColumn("__cy", normalized(1))
      .drop(cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
    appendHilbertOf(withCoords, "__cx", "__cy", bits)
      .drop("__cx", "__cy")
  }

  /** Shared file-model audit: `valued` carries one value column per
    * curve layout; files are equal-VALUE-RANGE cuts of each layout key
    * and a file is scanned iff its [min, max] of the probed column
    * intersects the probe — the parquet row-group pruning rule.
    */
  private def skippingProfileFrom(valued: DataFrame,
      curves: Seq[(String, String)], cols: Seq[String], numFiles: Int,
      probes: Seq[(String, Long, Long)]): DataFrame = {
    require(numFiles >= 1, s"numFiles=$numFiles must be >= 1")
    require(probes.nonEmpty && probes.forall(p => cols.contains(p._1)),
      s"every probe column must be clustered: $probes vs $cols")
    val df = valued
    val boundAggs = curves.flatMap { case (_, v) =>
      Seq(min(v).as(s"mn__$v"), max(v).as(s"mx__$v")) } ++
      cols.flatMap(c => Seq(min(col(c)).cast("long").as(s"mn_$c"),
        max(col(c)).cast("long").as(s"mx_$c")))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*).first()
    if (bounds.isNullAt(0))
      return df.sparkSession.emptyDataFrame
    def fileOf(c: Column, mn: Long, mx: Long): Column =
      least(floor((c.cast("double") - mn.toDouble) * numFiles /
          (mx.toDouble - mn.toDouble + 1.0)),
        lit((numFiles - 1).toDouble)).cast("int")
    def b(n: String): Long = bounds.getLong(bounds.fieldIndex(n))
    val layouts: Seq[(String, Column)] =
      curves.map { case (name, v) =>
        (name, fileOf(col(v), b(s"mn__$v"), b(s"mx__$v"))) } ++
        cols.map(c => (s"sort_$c",
          fileOf(col(c).cast("long"), b(s"mn_$c"), b(s"mx_$c"))))
    val explodedCols = explode(array(layouts.map { case (name, f) =>
      struct(lit(name).as("layout"), f.as("file"))
    }: _*)).as("lf") +: cols.map(col)
    val exploded = df.select(explodedCols: _*)
    val stats = exploded.groupBy(col("lf.layout").as("layout"),
        col("lf.file").as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).cast("long").as(s"mn_$c"),
          max(col(c)).cast("long").as(s"mx_$c"))): _*)
    val probeDf = {
      val s2 = df.sparkSession
      import s2.implicits._
      probes.toDF("probe_col", "lo", "hi")
    }
    // the probed column's file min/max, resolved by probe_col
    val mnP = cols.tail.foldLeft(col(s"mn_${cols.head}")) { (acc, c) =>
      when(col("probe_col") === c, col(s"mn_$c")).otherwise(acc)
    }
    val mxP = cols.tail.foldLeft(col(s"mx_${cols.head}")) { (acc, c) =>
      when(col("probe_col") === c, col(s"mx_$c")).otherwise(acc)
    }
    val scanned = !(mxP < col("lo") || mnP > col("hi"))
    stats.crossJoin(broadcast(probeDf))
      .groupBy("layout", "probe_col", "lo", "hi")
      .agg(count(lit(1)).as("files_nonempty"),
        sum(when(scanned, 1L).otherwise(0L)).as("files_scanned"),
        sum(when(scanned, col("n_rows")).otherwise(0L))
          .as("rows_scanned"))
  }


  /** Append `hvalue`: the 2-D HILBERT index of `cols` (integer-typed),
    * each min/max-normalized to `bits` bits — the locality-superior
    * alternative to [[zValue]] for two-column clustering: every
    * contiguous Hilbert range is one CONNECTED region of the grid
    * (Z-order ranges jump between quadrant corners), so equal-range
    * file cuts have tighter per-file bounding boxes on both columns.
    *
    * The index is the standard per-level quadrant walk (Hilbert 1891;
    * the iterative xy→d form): at each level `s = 2^k .. 1` the
    * quadrant `(3·rx) xor ry` contributes `s²` steps, then the
    * coordinates flip/swap into the sub-quadrant's frame. All integer
    * (div/mod arithmetic, no bitwise ops), values reduced mod `s`
    * every level so every intermediate stays in [0, s) — the exact
    * arithmetic any engine replays, computed by the native codegen'd
    * [[graft.functions.HilbertIndex]] kernel.
    *
    * Normalizes like [[zValue]] (one tiny bounds aggregate, same
    * exactness guard); [[curveSkippingProfile]] fuses this bounds pass
    * with Z-order's instead of calling both operators. Exactly 2
    * clustered columns (the common lakehouse case); [[zValue]] handles
    * higher arity.
    */
  def hilbertValue(df: DataFrame, cols: Seq[String],
      bits: Int): DataFrame = {
    require(cols.size == 2,
      s"hilbertValue is 2-D (got ${cols.size} cols); zValue handles higher arity")
    require(bits > 0 && 2 * bits < 63, s"need 0 < 2*bits < 63, got $bits")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__hmin_$c"), max(col(c)).as(s"__hmax_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val rangeCap = if (bits > 53) 0L else 1L << (53 - bits)
    val rangesExact = cols.map { c =>
      val range = try_add(try_subtract(
        col(s"__hmax_$c").cast("long"), col(s"__hmin_$c").cast("long")),
        lit(1L))
      range.isNotNull && range >= 1L && range <= rangeCap
    }.reduce(_ && _)
    val withNorm = df.crossJoin(broadcast(bounds))
      .withColumn("__hx", when(rangesExact, normalize(col(cols.head),
        col(s"__hmin_${cols.head}"), col(s"__hmax_${cols.head}"), bits))
        .otherwise(raise_error(lit(
          s"hilbertValue: a clustered column's range exceeds " +
            s"2^${53 - bits} — reduce bits or pre-bucket the column"))))
      .withColumn("__hy", normalize(col(cols(1)),
        col(s"__hmin_${cols(1)}"), col(s"__hmax_${cols(1)}"), bits))
      .drop(cols.flatMap(c => Seq(s"__hmin_$c", s"__hmax_$c")): _*)
    appendHilbertOf(withNorm, "__hx", "__hy", bits)
      .drop("__hx", "__hy")
  }

  /** Appends `hvalue` over ALREADY-normalized coordinates `xCol`/`yCol`
    * ∈ [0, 2^bits) via the native codegen'd [[graft.functions.HilbertIndex]]
    * kernel (one narrow expression; the 5·bits-column projection-chain
    * spelling this replaces fell out of whole-stage codegen and cost
    * 11 s at sf0.1).
    */
  private[graft] def appendHilbertOf(df: DataFrame, xCol: String,
      yCol: String, bits: Int): DataFrame =
    df.withColumn("hvalue", graft.functions.hilbert_index(
      col(xCol).cast("long"), col(yCol).cast("long"), bits))

  /** Cluster the table for writing: range-partition on the Z-value and
    * sort within partitions — each output file then covers a small
    * hyper-rectangle of the clustered columns, which is what makes
    * min/max skipping effective on all of them. This is the ONE shuffle a
    * layout rewrite costs; `df.write.parquet` after it preserves order.
    */
  def clusterByZ(df: DataFrame, cols: Seq[String], bits: Int,
      numPartitions: Int): DataFrame =
    zValue(df, cols, bits)
      .repartitionByRange(numPartitions, col("zvalue"))
      .sortWithinPartitions("zvalue")


  /** Dense 1-based GLOBAL rank over `(keyCol, idCol)`: exactly SQL's
    * `ROW_NUMBER() OVER (ORDER BY key, id)`, without the unpartitioned
    * window that runs such a rank on one task. The rank is a narrow
    * projection over a range-sorted checkpoint: the partition's row
    * offset plus the row's place in its partition, plus 1.
    *
    * Jobs run while the plan is built (see [[rangeSorted]]): the input
    * checkpoint, the range sort's sample, the sorted checkpoint and one
    * stats job. The input plan executes once, so a source that yields
    * different rows on each evaluation cannot desync the offsets from the
    * ranks. The returned plan reads the sorted checkpoint.
    *
    * `keyCol` must cast to long and be non-null (null keys fail loudly;
    * a SQL window would sort them first). `idCol` may be any orderable
    * type; `(key, id)` must be unique, or ranks among ties are arbitrary.
    * Appends `rankCol` (null on empty input); `rankCol` and the internal
    * `__grk_*` names must not collide with existing columns.
    */
  def globalRank(df: DataFrame, keyCol: String, idCol: String,
      rankCol: String = "rk"): DataFrame =
    rangeSorted(df, keyCol, idCol, rankCol, lit(0L), "globalRank") {
      (rowsBefore, _) =>
        rowsBefore + col("__grk_i").bitwiseAND((1L << 33) - 1L) + 1L
    }

  /** Exact EXCLUSIVE prefix sum of `valCol` over the global
    * `(keyCol, idCol)` order: `cumCol` = the sum of every EARLIER row's
    * value (0 for the first row), exactly SQL's
    * `SUM(val) OVER (ORDER BY key, id ROWS UNBOUNDED PRECEDING) − val`.
    * Over [[globalRank]]'s sorted checkpoint, `cumCol` is the value sum
    * of the earlier partitions (accumulated with `Math.addExact`, so an
    * overflowing total fails loudly) plus a running sum in a window
    * partitioned by the sort's partition index.
    *
    * The prefix sum is THE primitive corpus assembly needs: token-
    * budget cuts ("the first N tokens in curriculum order"), GPT-style
    * concat-and-chunk context packing
    * ([[graft.ops.Curation.contextWindows]]), deterministic byte
    * offsets for manifest/layout planning.
    *
    * Jobs, checkpoints, key and column contract as [[globalRank]]. Null
    * values count as 0; `valCol` must cast to long.
    */
  def globalCumsum(df: DataFrame, keyCol: String, idCol: String,
      valCol: String, cumCol: String = "cumsum"): DataFrame = {
    val v = coalesce(col(valCol).cast("long"), lit(0L))
    val w = Window.partitionBy(sortPartition).orderBy("__grk_i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rangeSorted(df, keyCol, idCol, cumCol, v, "globalCumsum") {
      (_, sumBefore) => sumBefore + sum(v).over(w) - v
    }
  }

  /** The range-sort partition a `__grk_i` row number belongs to. */
  private val sortPartition: Column = shiftright(col("__grk_i"), 33)

  /** [[globalRank]] and [[globalCumsum]]'s one pass. Checkpoints `df`,
    * range-sorts it by (key cast to long, id) over the session's shuffle
    * partitions (the range partitioner splits a hot key by id), numbers
    * the rows `__grk_i` with `monotonically_increasing_id` (the
    * partition index in the upper 31 bits, the row's place in its
    * partition in the lower 33), checkpoints that and releases the input checkpoint. One stats job
    * then collects each partition's row count, value sum and null-key
    * count. Appends `outCol = out(rowsBefore, sumBefore)`, where both are
    * the totals of the partitions before the row's.
    */
  private def rangeSorted(df: DataFrame, keyCol: String, idCol: String,
      outCol: String, value: Column, caller: String)(
      out: (Column, Column) => Column): DataFrame = {
    for (c <- df.columns)
      require(c != outCol && !c.startsWith("__grk_"),
        s"$caller: input already has a column named '$c' — rename it " +
          s"(the operator appends $outCol and uses __grk_* internally)")
    val k = col(keyCol).cast("long")
    val input = df.localCheckpoint()
    val sorted = input.orderBy(k, col(idCol))
      .withColumn("__grk_i", monotonically_increasing_id())
      .localCheckpoint()
    Rounds.release(input)
    val stats = sorted.groupBy(sortPartition)
      .agg(count(lit(1)), count(k), sum(value))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_._1)
    val nullKeyRows = stats.map(s => s._2 - s._3).sum
    if (nullKeyRows > 0L) {
      Rounds.release(sorted)
      throw new IllegalArgumentException(
        s"$caller: keyCol '$keyCol' has $nullKeyRows null values — " +
          "rank order over nulls is undefined here; filter them or " +
          "coalesce to a sentinel first")
    }
    val before = stats.scanLeft((0L, 0L)) { case ((n, s), (_, pn, _, ps)) =>
      (n + pn, Math.addExact(s, ps))
    }
    def offsets(f: ((Long, Long)) => Long): Column = element_at(
      typedLit(stats.map(_._1).zip(before.map(f)).toMap), sortPartition)
    sorted
      .withColumn(outCol,
        if (stats.isEmpty) lit(null) else out(offsets(_._1), offsets(_._2)))
      .drop("__grk_i")
  }
}
