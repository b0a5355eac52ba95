package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
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


  /** Dense 1-based GLOBAL rank over `(keyCol, idCol)` — exactly SQL's
    * `ROW_NUMBER() OVER (ORDER BY key, id)` — WITHOUT the
    * single-partition window that makes the naive spelling a driver-
    * sized bottleneck (Spark executes an unpartitioned window on ONE
    * task; at 100 TB that task never finishes). The classic
    * distributed ranking, made single-execution-safe in round 11:
    *
    *  0. the input plan executes exactly ONCE: `localCheckpoint`
    *     materializes the rows up front and every later pass — group
    *     stats, refinement, the final ranked plan — reads the
    *     materialized blocks. A non-deterministic source (sampling,
    *     `rand`, a table mutating between actions) therefore CANNOT
    *     desync the collected offsets from the final pass, which was
    *     the documented caller-beware footgun before this round.
    *     Lineage is truncated, so a lost block fails the job loudly
    *     instead of silently recomputing different rows.
    *     `materializeInput = false` opts out for callers whose input
    *     is a deterministic scan and who prefer re-execution to one
    *     materialization;
    *  1. order-preserving COARSE bucketing `bucket = (key >> s) +
    *     2^(b−1)` (arithmetic shift; b = ⌈log₂ numBuckets⌉ capped at
    *     20) needs NO bounds pre-pass, so global key bounds AND
    *     per-bucket counts land in ONE partial-agg aggregation. Any
    *     monotone bucket function yields exact ranks because the
    *     offsets come from actual counts — the boundaries only need
    *     to be deterministic, which a closed shift is. Coarse
    *     imbalance (real keys usually occupy a narrow slice of the
    *     long range) is repaired by the refinement rounds below;
    *  2. groups holding more rows than the BALANCE TARGET
    *     `min(maxBucketRows, ⌈total/numBuckets⌉)` are refined: a
    *     multi-key group re-buckets by key range within its own
    *     [min, max] (collected in the same stats pass), a pure-tie
    *     group sub-buckets by ID range — monotone in `id`, and ranks
    *     among equal keys are id-ordered, so the refinement is
    *     exact, not approximate. Up to three refinement rounds (each
    *     one more partial-agg pass over the checkpointed rows at the
    *     refined grain); residual imbalance past that is ACCEPTED if
    *     every group fits `maxBucketRows` (the correctness/memory
    *     cap) and fails loudly otherwise — as does a tie group over
    *     the cap whose ids don't cast to long, which id-range
    *     refinement needs. Group assignment is expressed as one
    *     projected column per round (each referencing the previous
    *     round's column, never inlining it), so the plan grows
    *     linearly in refined groups, not exponentially;
    *  3. cumulative offsets are collected as ≤ |groups| rows (a
    *     documented group-bounded collect), rebroadcast as a
    *     plan-literal map, and `rank = offset(group) + row_number`
    *     within the group — the window is PARTITIONED by group, so
    *     the sort parallelizes |groups| ways and no task ever sees
    *     more than one group.
    *
    * Requirements (violations fail loudly, never corrupt ranks):
    *  - `keyCol` must be integral (cast to long) and NON-NULL — a SQL
    *    window would sort nulls first; this operator refuses them;
    *  - `(key, id)` must be unique or ranks are nondeterministic
    *    among ties.
    *
    * Appends `rankCol`; `rankCol` and the internal `__grk_*` names
    * must not collide with existing columns.
    */
  def globalRank(df: DataFrame, keyCol: String, idCol: String,
      rankCol: String = "rk", numBuckets: Int = 1024,
      maxBucketRows: Long = 1L << 23,
      materializeInput: Boolean = true): DataFrame = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    require(maxBucketRows >= 1, s"maxBucketRows=$maxBucketRows must be >= 1")
    for (c <- df.columns)
      require(c != rankCol && !c.startsWith("__grk_"),
        s"globalRank: input already has a column named '$c' — rename it " +
          "(the operator appends rankCol and uses __grk_* internally)")
    val base = if (materializeInput) df.localCheckpoint() else df
    val k = col(keyCol).cast("long")
    val (addGroup, groups, _) = rankGroups(base, keyCol, idCol,
      numBuckets, maxBucketRows, valCol = None)
    if (groups.isEmpty) return base.withColumn(rankCol, lit(null))
    // offsets in GLOBAL rank order = lexicographic refinement-path order
    var acc = 0L
    val offsets = groups.map { g =>
      val o = g.gid -> acc
      acc += g.rows
      o
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__grk_g").orderBy(k.asc, col(idCol).asc)
    addGroup(base)
      .withColumn(rankCol,
        element_at(typedLit(offsets), col("__grk_g")) +
          row_number().over(w))
      .drop("__grk_g")
  }

  /** Exact EXCLUSIVE prefix sum of `valCol` over the global
    * `(keyCol, idCol)` order — `cumCol` = the sum of every EARLIER
    * row's value (0 for the first row), exactly SQL's
    * `SUM(val) OVER (ORDER BY key, id ROWS UNBOUNDED PRECEDING) − val`
    * — without the single-partition window, via [[globalRank]]'s
    * bucket-offset machinery (same single input execution, same skew
    * refinement, same loud-failure contract): per-group value SUMS
    * piggyback on the SAME stats pass that counts rows (zero extra
    * jobs vs rank), offsets accumulate with `Math.addExact` so a
    * 100 TB token total overflows loudly, and the per-group window
    * computes the local running sum in parallel.
    *
    * The prefix sum is THE primitive corpus assembly needs: token-
    * budget cuts ("the first N tokens in curriculum order"), GPT-style
    * concat-and-chunk context packing
    * ([[graft.ops.Curation.contextWindows]]), deterministic byte
    * offsets for manifest/layout planning. Null values count as 0;
    * `valCol` must cast to long.
    */
  def globalCumsum(df: DataFrame, keyCol: String, idCol: String,
      valCol: String, cumCol: String = "cumsum", numBuckets: Int = 1024,
      maxBucketRows: Long = 1L << 23,
      materializeInput: Boolean = true): DataFrame = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    require(maxBucketRows >= 1, s"maxBucketRows=$maxBucketRows must be >= 1")
    for (c <- df.columns)
      require(c != cumCol && !c.startsWith("__grk_"),
        s"globalCumsum: input already has a column named '$c' — rename " +
          "it (the operator appends cumCol and uses __grk_* internally)")
    val base = if (materializeInput) df.localCheckpoint() else df
    val k = col(keyCol).cast("long")
    val v = coalesce(col(valCol).cast("long"), lit(0L))
    val (addGroup, groups, sums) = rankGroups(base, keyCol, idCol,
      numBuckets, maxBucketRows, valCol = Some(v), caller = "globalCumsum")
    if (groups.isEmpty) return base.withColumn(cumCol, lit(null))
    var acc = 0L
    val offsets = groups.map { g =>
      val o = g.gid -> acc
      acc = Math.addExact(acc, sums.getOrElse(g.gid, 0L))
      o
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__grk_g").orderBy(k.asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    addGroup(base)
      .withColumn(cumCol,
        element_at(typedLit(offsets), col("__grk_g")) +
          sum(v).over(w) - v)
      .drop("__grk_g")
  }

  /** One final rank group = one contiguous slab of the global
    * (key, id) order: either a key range, or (for a refined tie
    * group) a single key restricted to an id range. `path` is the
    * refinement trail; `rows` the group's exact row count. Exposed
    * private[graft] so specs can assert the skew guard's bound.
    */
  private[graft] final case class RankGroup(gid: Int, path: Vector[Int],
      rows: Long)

  /** Balance-split floor: groups at or under this many rows are never
    * refined for parallelism alone (the hard `maxBucketRows` cap still
    * applies above it).
    */
  private val minSplitTarget = 1024L

  /** [[globalRank]]'s group assignment: returns (a function appending
    * the final group id as `__grk_g`, the final groups in global rank
    * order with exact row counts, and — when `valCol` is given — each
    * final group's value sum, collected from the SAME stats pass).
    * Every group's row count respects the balance target
    * `min(maxBucketRows, ⌈total/numBuckets⌉)` after ≤ 3 refinement
    * rounds, or at worst `maxBucketRows` (the hard cap — a loud
    * failure past it). Group-id assignment is built as a CHAIN of
    * projected columns (`__grk_l0`, `__grk_l1`, …), one per round,
    * each referencing the previous round's COLUMN — never inlining
    * its expression — so plan size stays linear in refined groups.
    *
    * Empty input returns no groups. Null keys are refused here (they
    * surface as a null group id in the first stats pass).
    */
  private[graft] def rankGroups(df: DataFrame, keyCol: String,
      idCol: String, numBuckets: Int, maxBucketRows: Long,
      valCol: Option[Column], caller: String = "globalRank")
      : (DataFrame => DataFrame, Seq[RankGroup], Map[Int, Long]) = {
    val k = col(keyCol).cast("long")
    // try_cast, not cast: under ANSI a non-integral id must surface as
    // the driver's actionable "cannot range-refine this tie group"
    // error (and only when refinement actually needs ids), never as a
    // task-level CAST_INVALID_INPUT from the stats pass
    val idL = expr(s"try_cast(`$idCol` as bigint)")
    val v = valCol.getOrElse(lit(0L))

    // Range-normalized sub-bucket of `c` within [lo, hi] to `parts`
    // cells: subtract in DOUBLE (a long c − lo could overflow for a
    // span crossing the full long range; double stays monotone — and
    // monotone + clamped is all a bucket function needs, because the
    // offsets come from actual counts, not from the boundaries).
    def rangeBucket(c: Column, lo: Long, hi: Long, parts: Int): Column =
      least(floor((c.cast("double") - lo.toDouble) * parts /
          (hi.toDouble - lo.toDouble + 1.0)),
        lit((parts - 1).toDouble)).cast("int")

    // coarse bucket: (key >> s) + 2^(b-1) — monotone, deterministic,
    // bounds-free; null keys stay null so the stats pass can refuse
    // them with a count
    val b = if (numBuckets <= 1) 0
      else math.min(20,
        64 - java.lang.Long.numberOfLeadingZeros(numBuckets.toLong - 1L))
    val coarse: Column =
      if (b == 0) when(k.isNull, lit(null).cast("int")).otherwise(lit(0))
      else (shiftright(k, 64 - b) + lit(1L << (b - 1))).cast("int")

    def lvl(i: Int) = s"__grk_l$i"
    // one projected column per round; level i references col(lvl(i-1))
    var levels: Vector[Column] = Vector(coarse)
    def addGroup(d: DataFrame): DataFrame = {
      val withLevels = levels.zipWithIndex.foldLeft(d) {
        case (acc, (e, i)) => acc.withColumn(lvl(i), e)
      }
      withLevels
        .withColumn("__grk_g", col(lvl(levels.size - 1)))
        .drop(levels.indices.map(lvl): _*)
    }

    var groups: Seq[RankGroup] = Nil
    var sums = Map.empty[Int, Long]
    var nextGid = if (b == 0) 1 else 1 << b
    var total = 0L
    var round = 0
    var done = false
    while (!done) {
      // per-group stats in ONE partial-agg shuffle over the
      // checkpointed rows: row count, the key/id bounds a refinement
      // of this group would need, and (for globalCumsum) the value sum
      val stats = addGroup(df).groupBy(col("__grk_g"))
        .agg(count(lit(1)).as("n"), min(k).as("kmn"), max(k).as("kmx"),
          min(idL).as("imn"), max(idL).as("imx"),
          sum(when(idL.isNull, 1L).otherwise(0L)).as("inull"),
          sum(v).as("vsum"))
        .collect()
      val nullKeyRows = stats.filter(_.isNullAt(0)).map(_.getLong(1)).sum
      if (nullKeyRows > 0L)
        throw new IllegalArgumentException(
          s"$caller: keyCol '$keyCol' has $nullKeyRows null values — " +
            "rank order over nulls is undefined here; filter them or " +
            "coalesce to a sentinel first")
      val byGid = stats.map(r => r.getInt(0) -> r).toMap
      if (round == 0) {
        // groups discovered from the coarse pass, in gid (= key) order
        groups = byGid.keys.toSeq.sorted.map(g =>
          RankGroup(g, Vector(g), 0L))
        total = stats.map(_.getLong(1)).sum
      }
      groups = groups.map(g => g.copy(rows =
        byGid.get(g.gid).map(_.getLong(1)).getOrElse(0L)))
      sums = groups.map(g => g.gid ->
        byGid.get(g.gid).map(r =>
          if (r.isNullAt(7)) 0L else r.getLong(7)).getOrElse(0L)).toMap
      // balance target: ~numBuckets groups for sort parallelism,
      // hard-capped at maxBucketRows for correctness/memory, floored
      // at minSplitTarget (a sort task under a few thousand rows is
      // trivially cheap — splitting further would just burn refinement
      // passes on small inputs). A tie group whose ids don't cast to
      // long can't be id-split, so only the HARD cap applies to it
      // (balance alone never fails loudly).
      val splitLimit = math.min(maxBucketRows, math.max(minSplitTarget,
        (total + numBuckets - 1L) / numBuckets.toLong))
      def limitFor(r: org.apache.spark.sql.Row): Long = {
        val pureTie = !r.isNullAt(2) && r.getLong(2) == r.getLong(3)
        val idsOk = r.getLong(6) == 0L && !r.isNullAt(4)
        if (pureTie && !idsOk) maxBucketRows else splitLimit
      }
      val oversized = groups.filter(g =>
        byGid.get(g.gid).exists(r => g.rows > limitFor(r)))
      if (oversized.isEmpty) done = true
      else if (round >= 3) {
        val hard = groups.filter(_.rows > maxBucketRows)
        if (hard.nonEmpty) throw new IllegalStateException(
          s"$caller: ${hard.size} bucket(s) still exceed " +
            s"maxBucketRows=$maxBucketRows after $round refinement " +
            s"rounds (worst: ${hard.map(_.rows).max} rows) " +
            "— raise maxBucketRows or pre-aggregate the key")
        done = true // residual imbalance within the hard cap: accept
      } else {
        round += 1
        val prev = col(lvl(round - 1))
        var level: Column = prev
        val refined = oversized.flatMap { g =>
          val r = byGid(g.gid)
          val (kmn, kmx) = (r.getLong(2), r.getLong(3))
          val parts = math.min(4096L, math.max(2L,
            2L * ((g.rows + splitLimit - 1L) / splitLimit))).toInt
          val sub: Column =
            if (kmn < kmx) rangeBucket(k, kmn, kmx, parts) // split keys
            else { // pure tie group: split the ids (monotone in id)
              if (r.getLong(6) > 0L || r.isNullAt(4))
                throw new IllegalStateException(
                  s"$caller: key=$kmn is a tie group of ${g.rows} " +
                    s"rows (> maxBucketRows=$maxBucketRows) and idCol " +
                    s"'$idCol' does not cast to long, so the tie group " +
                    "cannot be range-refined — use an integral id or " +
                    "raise maxBucketRows")
              rangeBucket(idL, r.getLong(4), r.getLong(5), parts)
            }
          val baseGid = nextGid
          nextGid += parts
          // rows of g land in g's children [baseGid, baseGid + parts)
          level = when(prev === g.gid, lit(baseGid) + sub).otherwise(level)
          (0 until parts).map(i => RankGroup(baseGid + i, g.path :+ i, 0L))
        }
        levels = levels :+ level
        val dead = oversized.map(_.gid).toSet
        groups = groups.filterNot(g => dead(g.gid)) ++ refined
      }
    }
    val ordered = groups.sortWith((a, b2) => {
      val cmp = a.path.zip(b2.path).find { case (x, y) => x != y }
      cmp.map { case (x, y) => x < y }
        .getOrElse(a.path.length < b2.path.length)
    })
    (addGroup, ordered, sums)
  }
}
