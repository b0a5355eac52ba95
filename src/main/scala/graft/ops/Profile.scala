package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling operators: the checks a pipeline runs on an
  * unfamiliar or drifting table before trusting it as training input.
  */
object Profile {

  /** Approximate functional-dependency profile `lhs → rhsCol`: for each
    * distinct `lhs` tuple, the row count, the number of distinct `rhs`
    * values, the majority `rhs` (ties to the smallest value) with its
    * support, and `violations` = rows disagreeing with the majority —
    * i.e. the minimal number of cell repairs that would make the FD hold
    * within the group (g3-style error measure). `violations = 0`
    * everywhere ⇔ the FD holds exactly.
    *
    * Shape at 100 TB: one aggregation to the (lhs, rhs) grain, then a
    * `row_number` window and the final collapse both run on that
    * already-collapsed relation — cardinality is the number of DISTINCT
    * value combinations, not the row count. No joins, no second pass
    * over the data.
    */
  def fdProfile(df: DataFrame, lhs: Seq[String],
      rhsCol: String): DataFrame = {
    require(lhs.nonEmpty, "lhs must be non-empty")
    require(!lhs.contains(rhsCol), s"rhs $rhsCol cannot be part of lhs")
    val cells = df.groupBy((lhs :+ rhsCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(lhs.map(col): _*)
      .orderBy(col("n").desc, col(rhsCol).asc)
    cells.withColumn("rk", row_number().over(w))
      .groupBy(lhs.map(col): _*)
      .agg(sum("n").as("n_rows"),
        count(lit(1)).as("n_rhs"),
        max(when(col("rk") === 1, col(rhsCol))).as("majority_rhs"),
        max(when(col("rk") === 1, col("n"))).as("majority_n"))
      .withColumn("violations", col("n_rows") - col("majority_n"))
  }

  /** Candidate-key (uniqueness) profile: for each column combination,
    * total rows, distinct combinations, duplicated rows, and whether the
    * combo is a key — the first question against an unfamiliar table
    * ("what can I join/dedup on?"). `n_distinct` follows SQL
    * `COUNT(DISTINCT …)` semantics: rows where ANY combo column is NULL
    * are not counted, so `is_key` additionally demands zero such rows.
    *
    * Shape at 100 TB: ONE aggregation pass computes every combo's
    * distinct count together (Catalyst expands multi-distinct into one
    * shuffle of tagged rows — the table is still read once); the combos
    * then unpack from the single 1-row result by a narrow explode.
    * Contrast one groupBy per combo: k corpus scans.
    */
  def keyCandidates(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty),
      "combos must be non-empty")
    val aggs = count(lit(1)).as("n_rows") +:
      combos.zipWithIndex.flatMap { case (c, i) => Seq(
        countDistinct(col(c.head), c.tail.map(col): _*).as(s"d$i"),
        sum(when(c.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))
          .as(s"nn$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(combos.zipWithIndex.map { case (c, i) =>
        struct(lit(c.mkString("+")).as("candidate"),
          col("n_rows"),
          col(s"d$i").as("n_distinct"),
          col(s"nn$i").as("null_rows"),
          (col(s"d$i") === col("n_rows")).cast("int").as("is_key"))
      }: _*)).as("e"))
      .select("e.*")
  }

  /** One-pass Pearson correlation matrix over INTEGRAL columns: every
    * pairwise correlation from a single aggregation of counts, sums,
    * squares, and cross-products, assembled by the textbook
    * `(n·Σxy − Σx·Σy) / √(n·Σxx − (Σx)²) √(n·Σyy − (Σy)²)`.
    *
    * Inputs are cast to LONG and all moment arithmetic stays in exact
    * 64-bit integers until the final division — the result is
    * bit-deterministic across engines and partitionings (float sums
    * never happen), which is why the contract demands integral inputs
    * (scale fixed-point columns up first, e.g. cents). Callers must keep
    * `n·max|x·y|` within Long range. Zero-variance columns yield NULL
    * (never NaN — the [[Similarity]] NaN-ordering lesson).
    *
    * Shape at 100 TB: ONE corpus pass, k(k+3)/2+1 partial-aggregated
    * scalars, and a narrow explode of the 1-row result. Nothing scales
    * with row count but the single scan.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size } yield (i, j)
    val base = df.select(cols.map(c => col(c).cast("long").as(c)): _*)
    val aggs = count(lit(1)).as("n") +:
      (cols.flatMap(c => Seq(sum(col(c)).as(s"s_$c"),
        sum(col(c) * col(c)).as(s"ss_$c"))) ++
        pairs.map { case (i, j) =>
          sum(col(cols(i)) * col(cols(j))).as(s"sp_${i}_$j") })
    val row = base.agg(aggs.head, aggs.tail: _*)
    row.select(explode(array(pairs.map { case (i, j) =>
        val (ci, cj) = (cols(i), cols(j))
        val num = (col("n") * col(s"sp_${i}_$j") -
          col(s"s_$ci") * col(s"s_$cj")).cast("double")
        val va = (col("n") * col(s"ss_$ci") -
          col(s"s_$ci") * col(s"s_$ci")).cast("double")
        val vb = (col("n") * col(s"ss_$cj") -
          col(s"s_$cj") * col(s"s_$cj")).cast("double")
        struct(lit(ci).as("col_l"), lit(cj).as("col_r"),
          col("n").as("n"),
          when(va > 0 && vb > 0, num / (sqrt(va) * sqrt(vb)))
            .as("corr"))
      }: _*)).as("e"))
      .select("e.*")
  }

  /** Per-key ordinary-least-squares trend `y ~ slope·x + intercept` over
    * INTEGRAL columns — the per-entity drift/velocity feature (is this
    * user's spend rising? is this source's quality decaying?) computed
    * for EVERY key in one aggregation:
    * `slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²)`,
    * `intercept = (Σy − slope·Σx) / n`. Same exactness contract as
    * [[corrMatrix]]: moments stay in 64-bit integers, doubles enter only
    * at the division, so results are bit-deterministic; keys with a
    * degenerate x (zero variance) get NULL slope/intercept, never NaN.
    *
    * Shape at 100 TB: ONE partial-aggregated groupBy — five integer
    * sums per key — and a narrow projection. No window, no join, no
    * second pass.
    */
  def groupTrend(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("key"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val m = base.groupBy("key").agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val num = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val slope = when(den > 0, num / den)
    m.select(col("key"), col("n"), slope.as("slope"),
      when(den > 0,
        (col("sy").cast("double") - (num / den) * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"))
  }

  /** Mutual information between two CATEGORICAL columns, with marginal
    * entropies and the normalized coefficient
    * `nmi = mi / √(hx·hy)` — the dependence profile behind feature
    * selection and redundancy pruning ([[fdProfile]] detects the exact
    * `lhs → rhs` extreme; MI measures the whole spectrum, in nats).
    * Returns ONE row `(n, mi, hx, hy, nmi)`; `nmi` is NULL when either
    * entropy is 0 (a constant column carries no information).
    *
    * Determinism: every term derives from integer cell counts (`n·c` and
    * `cx·cy` stay in exact 64-bit arithmetic inside the `ln`), and the
    * term sums fold in sorted cell order over collected lists — the cell
    * grain is `|X|·|Y|` (tiny for categorical data), so the collects are
    * bounded by the domain, never the row count.
    *
    * Shape at 100 TB: one aggregation to the (x, y) cell grain; the
    * marginals derive from the cells (the corpus is read ONCE); all
    * remaining work runs on the collapsed relation.
    */
  def mutualInformation(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).cast("string").as("x"),
        col(yCol).cast("string").as("y"))
      .agg(count(lit(1)).as("c"))
    val mx = cells.groupBy("x").agg(sum("c").as("cx"))
    val my = cells.groupBy("y").agg(sum("c").as("cy"))
    val n = cells.agg(sum("c").as("n"))
    val terms = cells.join(mx, "x").join(my, "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("n"),
        ((col("c").cast("double") / col("n")) *
          log((col("n") * col("c")).cast("double") /
            (col("cx") * col("cy")).cast("double"))).as("t"))
    val mi = terms.groupBy("n")
      .agg(expr("aggregate(array_sort(collect_list(struct(x, y, t))), " +
        "cast(0.0 as double), (a, e) -> a + e.t)").as("mi"))
    def entropy(m: DataFrame, k: String, c: String) = m
      .crossJoin(broadcast(n))
      .select(col(k), (negate(col(c).cast("double") / col("n")) *
        log(col(c).cast("double") / col("n"))).as("h"))
      .agg(expr(s"aggregate(array_sort(collect_list(struct($k, h))), " +
        "cast(0.0 as double), (a, e) -> a + e.h)").as(s"h$k"))
    mi.crossJoin(broadcast(entropy(mx, "x", "cx")))
      .crossJoin(broadcast(entropy(my, "y", "cy")))
      .select(col("n"), col("mi"), col("hx"), col("hy"),
        when(col("hx") > 0 && col("hy") > 0,
          col("mi") / sqrt(col("hx") * col("hy"))).as("nmi"))
  }

  /** Expanding-window anomaly scores over an INTEGRAL value stream: each
    * event's z-score against its key's STRICTLY EARLIER history
    * (`z = (x − mean_prior) / sd_prior`, sample sd) — the leak-free
    * online-monitoring formulation: an anomaly never influences its own
    * baseline, and scoring event t uses exactly the data a live system
    * would have had. Rows with fewer than `minPrior` predecessors are
    * dropped (no baseline yet); zero-variance history gives NULL, never
    * NaN/∞.
    *
    * Exactness contract as [[corrMatrix]]: prior count/sum/sum-of-squares
    * come from integer window sums, z assembles as
    * `(n·x − s1) / √(n·(n·s2 − s1²)/(n−1))` with doubles entering only
    * at the last step — bit-deterministic, SQL-replayable.
    *
    * Shape at 100 TB: ONE key-partitioned window (three running sums on
    * the same frame) + a narrow projection. No joins, no self-reads.
    */
  def expandingZScores(df: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String, minPrior: Int): DataFrame = {
    require(minPrior >= 2, s"minPrior=$minPrior must be >= 2 (sample sd)")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val w = Window.partitionBy(keyCol)
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val v = col("__v")
    val withSums = df
      .withColumn("__v", col(valueCol).cast("long"))
      .withColumn("__np", count(v).over(w))
      .withColumn("__s1", sum(v).over(w))
      .withColumn("__s2", sum(v * v).over(w))
      .where(col("__np") >= minPrior)
    val b = col("__np") * col("__s2") - col("__s1") * col("__s1")
    withSums
      .withColumn("n_prior", col("__np"))
      .withColumn("z", when(b > 0,
        (col("__np") * v - col("__s1")).cast("double") /
          sqrt((col("__np").cast("double") * b.cast("double")) /
            (col("__np") - 1).cast("double"))))
      .drop("__v", "__np", "__s1", "__s2")
  }

  /** Robust per-key statistics over an INTEGRAL column: exact LOWER
    * median (the ⌈n/2⌉-th order statistic — a value from the data, no
    * interpolation), MAD (lower median of |x − med|), and an outlier
    * count at `|x − med| > madK·mad` — the outlier-resistant profile
    * mean/sd can't give (one corrupted value moves a mean arbitrarily;
    * it moves a median one rank). With a zero MAD (majority-constant
    * group) the outlier rule degrades gracefully to "any deviation".
    *
    * EVERYTHING is 64-bit integer arithmetic — order statistics, abs
    * deviations, threshold compares — so results are bit-deterministic
    * with no float caveats at all. Equal values are interchangeable
    * under `row_number`, so value-ties cannot make the medians
    * nondeterministic.
    *
    * Shape at 100 TB: two key-partitioned sort windows (values, then
    * deviations) + one key equi-join each — the unavoidable cost of
    * EXACT medians. For sketch-grade accuracy at lower cost, use
    * `approx_percentile`/[[Sketch]]; this is the exact tier.
    */
  def robustStats(df: DataFrame, keyCol: String, valueCol: String,
      madK: Int = 5): DataFrame = {
    require(madK >= 1, s"madK=$madK must be >= 1")
    val base = df.select(col(keyCol).as("key"),
      col(valueCol).cast("long").as("v"))
    val wv = Window.partitionBy("key").orderBy("v")
    val wk = Window.partitionBy("key")
    val med = base
      .withColumn("__rn", row_number().over(wv))
      .withColumn("__n", count(lit(1)).over(wk))
      .where(expr("__rn = (__n + 1) DIV 2"))
      .select(col("key"), col("v").as("med"))
    val dev = base.join(med, "key")
      .withColumn("d", abs(col("v") - col("med")))
    val wd = Window.partitionBy("key").orderBy("d")
    val mad = dev
      .withColumn("__rn", row_number().over(wd))
      .withColumn("__n", count(lit(1)).over(wk))
      .where(expr("__rn = (__n + 1) DIV 2"))
      .select(col("key"), col("d").as("mad"))
    dev.join(mad, "key")
      .groupBy("key")
      .agg(count(lit(1)).as("n"), max("med").as("median"),
        max("mad").as("mad"),
        sum(when(col("d") > lit(madK.toLong) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** One-sided CUSUM change-point score per key: walking the key's
    * events in time order, `cur = max(0, cur + (x − median − slack))`,
    * and the reported `cusum_max` is the walk's peak — the standard
    * sequential drift detector (a sustained upward level shift
    * accumulates where isolated spikes reset), with the key's own exact
    * lower median as the reference level. High `cusum_max` = somewhere
    * in the stream the level ran persistently above
    * `median + slack`; [[expandingZScores]] flags single outliers, this
    * flags sustained shifts. All arithmetic is 64-bit integer — no
    * float caveats.
    *
    * The recurrence LOOKS inherently sequential, but the clamped walk
    * has a closed form — `cur_t = prefix_t − min(0, min_{s≤t} prefix_s)`
    * (the max-drawup identity: clamping at zero just restarts the sum
    * from its running minimum) — so the whole thing is two running
    * windows and a max: NO collected lists, per-key state is O(1), and
    * a SQL engine replays it with plain window functions instead of a
    * lambda fold.
    *
    * Shape at 100 TB: the median's two sort windows + one prefix-sum
    * window + one aggregation, all on the same key partitioning.
    */
  def cusumScores(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, slack: Long = 0L): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    require(slack >= 0, s"slack=$slack must be >= 0")
    val base = df.select((col(keyCol).as("key") +:
      orderCols.map(col)) :+ col(valueCol).cast("long").as("v"): _*)
    val wv = Window.partitionBy("key").orderBy("v")
    val wk = Window.partitionBy("key")
    val med = base
      .withColumn("__rn", row_number().over(wv))
      .withColumn("__n", count(lit(1)).over(wk))
      .where(expr("__rn = (__n + 1) DIV 2"))
      .select(col("key"), col("v").as("median"))
    val wRun = Window.partitionBy("key")
      .orderBy(orderCols.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(med, "key")
      .withColumn("__dev", col("v") - col("median") - slack)
      .withColumn("__pre", sum("__dev").over(wRun))
      .withColumn("__cur",
        col("__pre") - least(lit(0L), min("__pre").over(wRun)))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), max("median").as("median"),
        max("__cur").as("cusum_max"))
  }

  /** Pareto (cumulative-contribution) profile over an INTEGRAL measure:
    * keys ranked by total descending, with each key's share and running
    * cumulative share — "the top N sources carry X% of the tokens", the
    * concentration report behind mixture design, skew diagnosis, and
    * 80/20 prioritization. Returns `(rk, key, n_rows, total, share,
    * cum_share)` with `rk` a bigint. Ties rank by key for determinism;
    * shares are exact integer totals divided once at the end. The
    * measure should be non-negative — with mixed-sign totals "share of
    * grand total" stops being a concentration statement (shares can
    * exceed 1 or go negative), though the arithmetic stays exact.
    *
    * How: totals bucket by integer radix over the value range —
    * `b = (hi − total) div width`, `width = (hi − lo) div buckets + 1`
    * — so buckets are DISJOINT value ranges and bucket order IS rank
    * order (every key in bucket b outranks every key in b+1; ties
    * share one exact total, hence one bucket). Global rank = the
    * bucket's key-count offset + the within-bucket rank; the
    * cumulative total likewise. All arithmetic is exact integers — a
    * SQL oracle replays it bit-for-bit. The output does not depend on
    * `buckets`; `buckets = 1` is one global rank window.
    *
    * Shape at 100 TB: one aggregation to the key grain; one broadcast
    * min/max bounds row; per-key windows partition by BUCKET (~uniform
    * for spread totals — the parameter caps partition width at
    * range/buckets); the only single-partition work is the offset
    * rollup over the ≤ `buckets`+1 bucket-stats rows — bounded by the
    * PARAMETER, never the data. Residual skew bound: keys tied on one
    * exact total are rank-adjacent by construction and so necessarily
    * share a bucket — a measure with billions of identical totals
    * concentrates those keys in its tie bucket.
    */
  def paretoProfile(df: DataFrame, keyCol: String, valueCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    val per = df.groupBy(col(keyCol).as("key"))
      .agg(sum(col(valueCol).cast("long")).as("total"),
        count(lit(1)).as("n_rows"))
    val grand = per.agg(sum("total").as("grand"),
      min("total").as("lo"), max("total").as("hi"))
    val perB = per.crossJoin(broadcast(grand))
      .withColumn("__w", expr(s"(hi - lo) div $buckets + 1"))
      .withColumn("__b", expr("(hi - total) div __w"))
    // bucket-offset rollup: collapsed to <= buckets+1 rows, so the
    // single-partition window is parameter-bounded
    val bstats = perB.groupBy("__b")
      .agg(count(lit(1)).as("__nk"), sum("total").as("__s"))
    val wOff = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bstats
      .withColumn("__kb", coalesce(sum("__nk").over(wOff), lit(0L)))
      .withColumn("__sb", coalesce(sum("__s").over(wOff), lit(0L)))
      .select("__b", "__kb", "__sb")
    val wB = Window.partitionBy("__b")
      .orderBy(col("total").desc, col("key").asc)
    val wBCum = wB.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    perB.join(broadcast(offsets), "__b")
      .withColumn("rk", col("__kb") + row_number().over(wB))
      .withColumn("cum_total", col("__sb") + sum("total").over(wBCum))
      .select(col("rk"), col("key"), col("n_rows"), col("total"),
        (col("total").cast("double") / col("grand")).as("share"),
        (col("cum_total").cast("double") / col("grand"))
          .as("cum_share"))
  }

  /** Column-statistics drift between two snapshots of a relation: for
    * each named column, row count, null rate, distinct count, and mean
    * (numeric columns; NULL otherwise) on BOTH sides plus the deltas —
    * the schema-level companion to [[graft.ops.Curation]]'s PSI
    * distribution drift: PSI asks "did the value distribution shift",
    * this asks "did a loader break" (null rates jumping, cardinality
    * collapsing, a unit change moving the mean). The standard data
    * contract check gating a corpus version bump.
    *
    * Exact arithmetic: counts are integers; null rate and mean divide
    * once at the end. Means cast through double — flag columns whose
    * delta matters at your tolerance, don't diff at 1e-15.
    *
    * Shape at 100 TB: one aggregation per (column, side) — 2·|cols|
    * passes of ONE aggregate each, collapsed to one row per column
    * (with column pruning each pass reads only its column; fuse into a
    * single multi-aggregate pass if scan count ever dominates).
    */
  def statsDrift(before: DataFrame, after: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    def side(df: DataFrame, c: String, tag: String) = {
      val isNum = df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      val mean = if (isNum) avg(col(c).cast("double"))
                 else lit(null).cast("double")
      df.agg(count(lit(1)).as(s"n_$tag"),
        (sum(when(col(c).isNull, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as(s"null_rate_$tag"),
        countDistinct(col(c)).as(s"n_distinct_$tag"),
        mean.as(s"mean_$tag"))
    }
    cols.map { c =>
      side(before, c, "before").crossJoin(side(after, c, "after"))
        .select(lit(c).as("column"),
          col("n_before"), col("n_after"),
          col("null_rate_before"), col("null_rate_after"),
          col("n_distinct_before"), col("n_distinct_after"),
          col("mean_before"), col("mean_after"),
          (col("null_rate_after") - col("null_rate_before"))
            .as("null_rate_delta"),
          (col("mean_after") - col("mean_before")).as("mean_delta"))
    }.reduce(_.unionAll(_))
  }

  /** Trending items per period: rank items by their smoothed
    * period-over-period count ratio `(n + smoothing) / (n_prev +
    * smoothing)` — the "what is suddenly hot" surfacing signal (query
    * trends, emerging vocabulary, breakout products). Additive
    * smoothing keeps new items finite and damps noise on tiny counts;
    * items absent in the previous period count 0 there. Returns the
    * top `k` per period: `(period, rk, item, n, n_prev, ratio)`; the
    * first period has no predecessor and is skipped.
    *
    * `periodCol` must be an integer period index with consecutive
    * periods differing by exactly 1 (e.g. epoch-days, epoch-months —
    * the caller's bucketing), so "previous period" is an equi-join,
    * not a window over sparse gaps.
    *
    * Shape at 100 TB: one (period, item) aggregation, ONE
    * self-equi-join on (item, period−1), and a rank window partitioned
    * by period. Exact integer counts, one divide per pair.
    */
  def trendingItems(df: DataFrame, periodCol: String, itemCol: String,
      k: Int, smoothing: Double = 1.0): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(smoothing > 0, s"smoothing=$smoothing must be > 0")
    val counts = df.groupBy(col(periodCol).cast("long").as("period"),
        col(itemCol).as("item"))
      .agg(count(lit(1)).as("n"))
    val prev = counts.select((col("period") + 1).as("period"),
      col("item"), col("n").as("n_prev"))
    val periods = counts.select("period").distinct()
      .withColumn("__has_prev", lit(1))
      .select((col("period") + 1).as("period"), col("__has_prev"))
    val w = Window.partitionBy("period")
      .orderBy(col("ratio").desc, col("item").asc)
    counts
      .join(broadcast(periods), Seq("period"), "inner")
      .join(prev, Seq("period", "item"), "left")
      .withColumn("n_prev", coalesce(col("n_prev"), lit(0L)))
      .withColumn("ratio",
        (col("n") + smoothing) / (col("n_prev") + smoothing))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("period", "rk", "item", "n", "n_prev", "ratio")
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic per group:
    * `ks = max_x |F_before(x) − F_after(x)|` over the empirical CDFs —
    * the nonparametric companion to [[graft.ops.Curation]]'s binned
    * PSI: PSI needs a binning choice and saturates on tail shifts; KS
    * is binning-free and exact, the right referee when PSI's answer is
    * disputed. Returns `(group, n_before, n_after, ks, at_value)` with
    * `at_value` the smallest value attaining the supremum.
    *
    * Exact arithmetic: CDF steps are integer cumulative counts over
    * the distinct-value grain; the only float op is the final
    * count/total divide. Use an integer-valued measure (cents, counts)
    * for bit-stable replay.
    *
    * Shape at 100 TB: one (group, value) aggregation with side
    * counts, cumulative windows PARTITIONED BY GROUP over the
    * collapsed distinct-value grain, one group-grain argmax. The
    * per-group window is single-partition over DISTINCT VALUES — a
    * reporting-grain contract; quantize the measure first (or
    * radix-bucket the value space, as [[paretoProfile]] does) if a
    * group has billions of distinct values.
    */
  def ksDrift(before: DataFrame, after: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    def side(df: DataFrame, tag: Int) = df.select(
      col(groupCol).as("grp"), col(valueCol).cast("long").as("v"),
      lit(tag).as("side"))
    val counts = side(before, 0).unionAll(side(after, 1))
      .groupBy("grp", "v")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("cb"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("ca"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("grp")
    val stepped = counts
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("n_b", sum("cb").over(wAll))
      .withColumn("n_a", sum("ca").over(wAll))
      .withColumn("d", abs(
        col("cum_b").cast("double") / col("n_b") -
          col("cum_a").cast("double") / col("n_a")))
    stepped.groupBy("grp")
      .agg(max("n_b").as("n_before"), max("n_a").as("n_after"),
        max(struct(col("d"), (-col("v")).as("nv"))).as("m"))
      .select(col("grp").as("group"), col("n_before"), col("n_after"),
        col("m.d").as("ks"), (-col("m.nv")).as("at_value"))
  }

  /** Two-proportion z-test per variant against a control — the A/B
    * readout (`z = (p_v − p_c) / sqrt(p̂(1−p̂)(1/n_v + 1/n_c))` with
    * the pooled p̂) over exact success/exposure counts. Returns one
    * row per non-control variant:
    * `(variant, n, conv, rate, control_rate, lift, z)`; z is NULL when
    * the pooled variance degenerates (p̂ ∈ {0, 1}) — no ±∞.
    *
    * `successCol` must be 0/1 (or boolean) at the unit grain
    * (user/session), deduplicated upstream — this operator tests
    * proportions, it does not define the unit.
    *
    * Shape at 100 TB: ONE aggregation to the variant grain (a handful
    * of rows) + a broadcast of the control row. Nothing else. The
    * control-presence guard is one bounded job over that variant-grain
    * aggregate (the seeded [[graft.ops.Graph.pageRank]] seed-guard
    * pattern): a typo'd control label fails LOUDLY instead of
    * cross-joining every arm against an empty control row and
    * returning "no variants".
    */
  def abTest(df: DataFrame, variantCol: String, successCol: String,
      control: String): DataFrame = {
    val per = df.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("long")).as("conv"))
    val ctl = per.where(col("variant") === control)
      .select(col("n").as("n_c"), col("conv").as("conv_c"))
    require(!ctl.isEmpty,
      s"control variant '$control' has no rows in $variantCol")
    val joined = per.where(col("variant") =!= control)
      .crossJoin(broadcast(ctl))
    val pv = col("conv").cast("double") / col("n")
    val pc = col("conv_c").cast("double") / col("n_c")
    val pooled = (col("conv") + col("conv_c")).cast("double") /
      (col("n") + col("n_c"))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("n") + lit(1.0) / col("n_c")))
    joined.select(col("variant"), col("n"), col("conv"),
      pv.as("rate"), pc.as("control_rate"),
      (pv - pc).as("lift"),
      when(pooled > 0 && pooled < 1, (pv - pc) / se).as("z"))
  }

  /** Benford first-digit profile per group: observed vs expected
    * (`log10(1 + 1/d)`) leading-digit shares of a positive integer
    * measure, plus the group's χ² misfit — the classic
    * fabricated-numbers / broken-loader screen (organic multiplicative
    * quantities follow Benford; invented, truncated, or unit-mangled
    * ones don't). Returns the (group, digit) grain:
    * `(group, digit, n_d, obs_share, benford_share, chi2)` with `chi2`
    * the group total repeated per digit row.
    *
    * `valueCol` must be a POSITIVE integer column (cents, counts, ids
    * are the usual inputs) — the leading digit comes from the decimal
    * string, exact on any engine; zero/negative rows are filtered.
    * The χ² contributions fold in digit order, so the statistic is
    * partition-invariant and bit-replayable. Every group emits ALL
    * nine digit rows: a digit with zero observations still carries its
    * positive expected count `n·log10(1 + 1/d)`, so its full expected
    * mass enters the χ² (a group whose values never start with 1 is
    * maximally suspicious, not invisible) and `n_d = 0` rows are part
    * of the profile.
    *
    * Shape at 100 TB: one (group, digit) aggregation (≤ 9 rows per
    * group), a group-grain distinct crossed with the constant 9-digit
    * grid (still ≤ 9 rows per group), one group-grain fold, and a
    * broadcast-sized join back.
    */
  def benford(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val observed = df
      .where(col(valueCol) > 0)
      .select(col(groupCol).as("grp"),
        substring(col(valueCol).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .groupBy("grp", "digit").agg(count(lit(1)).as("n_d"))
    // full 1..9 grid per group: absent digits re-enter with n_d = 0 so
    // their expected mass ((0 - exp)^2 / exp = exp) reaches the chi^2
    val digits = observed.select("grp").distinct()
      .withColumn("digit", explode(sequence(lit(1), lit(9))))
      .join(observed, Seq("grp", "digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
    val withExp = digits
      .withColumn("n", sum("n_d").over(Window.partitionBy("grp")))
      .withColumn("exp",
        col("n") * (log(lit(1.0) + lit(1.0) / col("digit")) /
          log(lit(10.0))))
      .withColumn("contrib",
        (col("n_d") - col("exp")) * (col("n_d") - col("exp")) / col("exp"))
    val chi2 = withExp.groupBy("grp").agg(expr(
      "aggregate(array_sort(collect_list(struct(digit, contrib))), " +
        "cast(0.0 as double), (a, x) -> a + x.contrib)").as("chi2"))
    withExp.join(chi2, "grp")
      .select(col("grp").as("group"), col("digit"), col("n_d"),
        (col("n_d").cast("double") / col("n")).as("obs_share"),
        (log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
          .as("benford_share"),
        col("chi2"))
  }

  /** Per-key burstiness profile (index of dispersion / Fano factor):
    * bucket each key's events onto a fixed `widthUs` grid spanning its
    * first-to-last observation, then `fano = var / mean` of the
    * per-bucket counts WITH empty buckets counted as zeros — ≈ 1 for
    * Poisson-like organic activity, ≫ 1 for bursty scripted traffic,
    * ≪ 1 for metronomic polling (both tails are the classic bot
    * signatures). Returns
    * `(key, n_events, n_buckets, mean_rate, fano)`.
    *
    * Exact arithmetic: per-bucket counts are integers; empty buckets
    * contribute 0 to Σc² so only OBSERVED buckets are ever
    * materialized (`var = Σc²/B − mean²` over the span's B buckets) —
    * the grid is implicit, never exploded (contrast
    * [[graft.ops.AsOf.gapFillLocf]], which materializes its grid
    * because the carried values are the output). Keys spanning a
    * single bucket report fano 0 (no dispersion is measurable).
    *
    * Shape at 100 TB: one (key, bucket) aggregation + one key-grain
    * aggregation. Nothing else.
    */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
      widthUs: Long): DataFrame = {
    require(widthUs > 0, s"widthUs=$widthUs must be > 0")
    val perBucket = events.select(col(keyCol).as("key"),
        expr(s"CAST($tsCol AS BIGINT) div $widthUs").as("bkt"))
      .groupBy("key", "bkt").agg(count(lit(1)).as("c"))
    perBucket.groupBy("key")
      .agg(sum("c").as("n_events"),
        (max("bkt") - min("bkt") + 1).as("n_buckets"),
        sum(col("c") * col("c")).as("ss"))
      .withColumn("mean_rate",
        col("n_events").cast("double") / col("n_buckets"))
      .withColumn("fano",
        ((col("ss").cast("double") / col("n_buckets") -
          col("mean_rate") * col("mean_rate")) / col("mean_rate")))
      .select("key", "n_events", "n_buckets", "mean_rate", "fano")
  }

  /** Weekly seasonal profile of an event stream: per (day-of-week,
    * hour-of-day) cell, event count, value total/mean, and the seasonal
    * factor (cell mean / global mean) — the baseline every monitoring
    * and drift check normalizes against (traffic at Tuesday 09:00 is
    * only anomalous relative to Tuesdays at 09:00), and the feature a
    * demand model consumes directly.
    *
    * Calendar math is EXACT integer µs arithmetic on the epoch
    * (`dow = (epoch_day + 4) mod 7`, 0 = Sunday: epoch day 0 was a
    * Thursday, so the +4 offset lands Thursday on 4, UTC) — deliberately
    * not a timezone/date function, so any engine replays it
    * bit-for-bit and daylight-saving rules never shift a cell.
    *
    * Shape at 100 TB: ONE aggregation to the ≤ 168-cell grain plus a
    * broadcast global mean — nothing downstream scales with data.
    */
  def seasonalProfile(events: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val cells = events.select(
        expr(s"pmod(CAST($tsCol AS BIGINT) div 86400000000 + 4, 7)")
          .as("dow"),
        expr(s"pmod(CAST($tsCol AS BIGINT) div 3600000000, 24)")
          .as("hour"),
        col(valueCol).cast("double").as("v"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val global = cells.agg(
      (sum("total") / sum("n")).as("global_mean"))
    cells.crossJoin(broadcast(global))
      .select(col("dow"), col("hour"), col("n"), col("total"),
        (col("total") / col("n")).as("mean"),
        ((col("total") / col("n")) / col("global_mean")).as("factor"))
  }

  /** Equi-width histogram of `valueCol` per group: `bins` buckets
    * spanning the group's own [min, max], EVERY bucket emitted
    * (including empty ones — a gap in a distribution is a finding, not
    * a missing row; the [[benford]] full-grid discipline). Returns
    * `(group, bin, lo, hi, n_bin, share)` with `lo`/`hi` the bucket's
    * real bounds and the top bucket closed at the max. A degenerate
    * group (min = max) puts all rows in bin 0.
    *
    * Bucket assignment is `floor((v − min) / width)` clamped to
    * `bins − 1` — one double multiply-free divide per row, identical
    * IEEE arithmetic on any engine, so the profile hash-replays.
    *
    * Shape at 100 TB: one aggregation to the group grain (min/max), an
    * equi-join of those two numbers back onto the rows (co-partitioned
    * with the following (group, bin) aggregation — AQE broadcasts it
    * when the group count is small), one (group, bin) count, and a
    * join onto the constant bin grid. Row-grain work is a single
    * narrow projection; everything after is on ≤ `bins` rows/group.
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins=$bins must be >= 1")
    val rows = df.select(col(groupCol).as("grp"),
      col(valueCol).cast("double").as("v")).where(col("v").isNotNull)
    val bounds = rows.groupBy("grp")
      .agg(min("v").as("vmin"), max("v").as("vmax"),
        count(lit(1)).as("n"))
      .withColumn("width",
        (col("vmax") - col("vmin")) / lit(bins.toDouble))
    val counts = rows.join(bounds, "grp")
      .withColumn("bin", when(col("width") === 0.0, lit(0))
        .otherwise(least(floor((col("v") - col("vmin")) / col("width"))
          .cast("int"), lit(bins - 1))))
      .groupBy("grp", "bin").agg(count(lit(1)).as("n_bin"))
    val grid = bounds.crossJoin(
      broadcast(rows.sparkSession.range(0, bins.toLong)
        .select(col("id").cast("int").as("bin"))))
    grid.join(counts, Seq("grp", "bin"), "left")
      .select(col("grp").as("group"), col("bin"),
        (col("vmin") + col("bin") * col("width")).as("lo"),
        when(col("bin") === bins - 1, col("vmax"))
          .otherwise(col("vmin") + (col("bin") + 1) * col("width"))
          .as("hi"),
        coalesce(col("n_bin"), lit(0L)).as("n_bin"),
        (coalesce(col("n_bin"), lit(0L)).cast("double") / col("n"))
          .as("share"))
  }

  /** Quantile normalization across sources: map each source's values
    * onto the GLOBAL distribution so downstream thresholds mean the
    * same thing everywhere — the cross-source score-calibration step a
    * mixing pipeline runs when per-source quality scores are on
    * incompatible scales (one crawler's 0.9 is another's 0.4). Each
    * (source, v) maps to the smallest global value whose global CDF is
    * ≥ the value's within-source CDF. Returns the collapsed
    * `(source, v, q, v_norm)` grain — join it back onto rows by
    * (source, v) to rescore a corpus; a source equal to the global
    * distribution maps (near-)identity.
    *
    * Both CDFs step on integer cumulative counts over distinct values;
    * the only float is the final divide (the [[ksDrift]] discipline),
    * and the mapping join is resolved ORDINALLY — one interleaved scan
    * of the two step functions — so no float equality is load-bearing.
    *
    * Shape at 100 TB: one aggregation to the (source, value) grain,
    * cumulative windows per source, one global-grain cumulative window
    * over distinct values, and ONE interleaved ordered scan (a window,
    * not a join) that resolves every lookup in a single pass. The
    * global windows are single-partition over DISTINCT VALUES — the
    * same reporting-grain contract as [[ksDrift]]:
    * quantize the measure first if it has billions of distinct values.
    */
  def quantileNormalize(df: DataFrame, sourceCol: String,
      valueCol: String): DataFrame = {
    val rows = df.select(col(sourceCol).as("source"),
      col(valueCol).cast("long").as("v")).where(col("v").isNotNull)
    val perSrc = rows.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val wSrc = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val srcCdf = perSrc
      .withColumn("cum", sum("c").over(wSrc))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
      .select(col("source"), col("v"),
        (col("cum").cast("double") / col("n")).as("q"))
    val wG = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val globalCdf = rows.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wG))
      .withColumn("nn", sum("c").over(
        Window.partitionBy(lit(1))))
      .select(col("v").as("gv"),
        (col("cum").cast("double") / col("nn")).as("g"))
    // interleaved scan: at equal CDF value the global step must be
    // eligible for the query, so globals sort AFTER queries at a tie
    // (tag 1 > tag 0) and each query takes the FIRST global value in
    // its forward frame — the smallest gv with g >= q, by CDF
    // monotonicity in v.
    val union = srcCdf.select(col("q").as("key"), lit(0).as("tag"),
        col("source"), col("v"), lit(null).cast("long").as("gv"))
      .unionAll(globalCdf.select(col("g").as("key"), lit(1).as("tag"),
        lit(null).cast(srcCdf.schema("source").dataType).as("source"),
        lit(null).cast("long").as("v"), col("gv")))
    val wScan = Window.orderBy(col("key"), col("tag"), col("gv"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    union
      .withColumn("v_norm", first("gv", ignoreNulls = true).over(wScan))
      .where(col("tag") === 0)
      .select(col("source"), col("v"), col("key").as("q"),
        col("v_norm"))
  }

  /** Cumulative Poisson(1) inverse CDF from a [0,1) draw — the resample
    * count of one row in one bootstrap replica. Shared literal ladder
    * with the q224 oracle; capped at 8 (P(X > 8) < 1e-6).
    */
  private def poissonInv(u: org.apache.spark.sql.Column) =
    when(u < 0.3678794412, 0).when(u < 0.7357588823, 1)
      .when(u < 0.9196986029, 2).when(u < 0.9810118431, 3)
      .when(u < 0.9963401532, 4).when(u < 0.9994058152, 5)
      .when(u < 0.9999167589, 6).when(u < 0.9999897509, 7)
      .otherwise(8)

  /** Percentile-bootstrap confidence interval for each group's mean,
    * via the POISSON bootstrap: instead of drawing B resamples of the
    * data (impossible without B full passes), every row independently
    * contributes `Poisson(1)`-many copies to each replica — for large n
    * this is the classical multinomial bootstrap to O(1/n), and it
    * needs ONE pass (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google TR 2012; Kleiner et al.'s BLB is the
    * same observation). Draws are md5-seeded from (id, replica), so the
    * interval is deterministic and the oracle replays it bit-for-bit.
    *
    * `valueCol` is cast to LONG: with integer measures every replica
    * sum is exact integer arithmetic, so the replica means are
    * IDENTICAL doubles on any engine regardless of summation order —
    * the [[ksDrift]] quantization discipline. Quantize a float measure
    * first (e.g. cents). Returns per group: row count `n`, point
    * estimate `mean`, usable replica count `m` (replicas where the
    * group resampled empty are dropped — at any real n that is a
    * e^{-n} event), and the `[ci_lo, ci_hi]` percentile interval at
    * sorted 1-based indices `floor(q·(m−1)) + 1`.
    *
    * Shape at 100 TB: the per-row `replicas`-way expansion is pipelined
    * straight into a partial aggregation — the (group, replica) grain
    * (|groups|·B rows) is the FIRST thing shuffled, never the exploded
    * stream. Then one group-grain agg sorts B replica means per group.
    * Cost is B narrow draws per row; B trades CI resolution for CPU.
    */
  def bootstrapCI(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, replicas: Int = 100,
      alpha: Double = 0.05): DataFrame = {
    require(replicas >= 2, s"replicas=$replicas must be >= 2")
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha must be in (0,1)")
    val rows = df.select(col(groupCol).as("grp"),
      col(valueCol).cast("long").as("v"),
      col(idCol).cast("string").as("id")).where(col("v").isNotNull)
    val rep = rows
      .select(col("grp"), col("v"), col("id"),
        explode(expr(s"sequence(0, ${replicas - 1})")).as("r"))
      .withColumn("c", poissonInv(Sampling.hashUnit(
        concat(col("id"), lit(":"), col("r")), "boot:")))
      .groupBy("grp", "r")
      .agg(sum(col("c") * col("v")).as("sv"), sum("c").as("sc"))
      .where(col("sc") > 0)
      .select(col("grp"),
        (col("sv").cast("double") / col("sc")).as("mean_r"))
    val stats = rows.groupBy("grp").agg(count(lit(1)).as("n"),
      (sum("v").cast("double") / count(lit(1))).as("mean"))
    val ci = rep.groupBy("grp")
      .agg(sort_array(collect_list("mean_r")).as("ms"))
      .select(col("grp"), size(col("ms")).as("m"), col("ms"))
      .select(col("grp"), col("m"),
        element_at(col("ms"), floor(lit(alpha / 2) * (col("m") - 1))
          .cast("int") + 1).as("ci_lo"),
        element_at(col("ms"), floor(lit(1 - alpha / 2) * (col("m") - 1))
          .cast("int") + 1).as("ci_hi"))
    stats.join(ci, "grp")
      .select(col("grp").as("group"), col("n"), col("mean"), col("m"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Smallest value whose cumulative count reaches the lower-median
    * rank, on an already-collapsed `(value, count)` relation — the
    * exact lower median without ever sorting raw rows. The cumulative
    * window is single-partition over DISTINCT VALUES (the
    * [[ksDrift]] reporting-grain contract).
    */
  private def medianOfCounts(vc: DataFrame, valueCol: String,
      cntCol: String): DataFrame = {
    val wCum = Window.orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc.withColumn("__cum", sum(cntCol).over(wCum))
      .withColumn("__n", sum(cntCol).over(Window.partitionBy(lit(1))))
      .where(col("__cum") >= expr("(__n + 1) DIV 2"))
      .agg(min(valueCol).as("median"))
  }

  /** Seasonally-adjusted anomaly detection: each event's value against
    * the exact lower MEDIAN of its own hour-of-week cell, then a
    * global robust (median/MAD) gate on the residuals — the detector
    * that doesn't page on Monday 9am because Monday 9am is always like
    * that, and doesn't let a corrupted feed move its own baseline
    * (medians move one rank where means move arbitrarily). Returns the
    * anomalous events with their cell baseline, residual, and
    * deviation; `mad = 0` (majority-constant residuals) degrades to
    * "any deviation", the [[robustStats]] convention.
    *
    * `valueCol` is cast to LONG (quantize floats first, e.g. cents):
    * every median, residual, and threshold compare is then exact
    * 64-bit integer arithmetic — bit-deterministic, no float caveats.
    *
    * Shape at 100 TB: unlike a naive per-cell sort window (168
    * partitions ⇒ n/168 rows EACH — a scale-killer), every order
    * statistic here runs on a COLLAPSED grain: one partial-agg shuffle
    * to (dow, hour, value) for the cell medians (≤ 168·|values| rows),
    * one to the residual-value grain for the global median/MAD, and
    * the final flag is a narrow filter against TWO broadcast numbers.
    * Raw events are never sorted, never windowed.
    *
    * The two COLLAPSED relations are `localCheckpoint`ed: the cell
    * medians (≤ 168 rows) and the residual-count grain (one row per
    * distinct residual). Left as lineage, every broadcast consumer
    * (med_r under dc, med_r and mad under the final filter, the cell
    * medians under every residual pass) re-derived them from the raw
    * events — the lazy plan re-scanned the corpus 16 times at sf0.1;
    * checkpointed it scans 3 times (cell medians, residual counts,
    * final flag), and what materializes is grain-bounded, never
    * corpus-sized.
    */
  def seasonalAnomalies(events: DataFrame, tsCol: String,
      valueCol: String, madK: Int = 5,
      idCol: String = "event_id"): DataFrame = {
    require(madK >= 1, s"madK=$madK must be >= 1")
    val base = events.select(col(idCol).as("id"),
      expr(s"pmod(CAST($tsCol AS BIGINT) div 86400000000 + 4, 7)")
        .as("dow"),
      expr(s"pmod(CAST($tsCol AS BIGINT) div 3600000000, 24)")
        .as("hour"),
      col(valueCol).cast("long").as("v"))
    val vc = base.groupBy("dow", "hour", "v").agg(count(lit(1)).as("c"))
    val wCell = Window.partitionBy("dow", "hour").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cellMed = vc
      .withColumn("cum", sum("c").over(wCell))
      .withColumn("cn", sum("c").over(Window.partitionBy("dow", "hour")))
      .where(col("cum") >= expr("(cn + 1) DIV 2"))
      .groupBy("dow", "hour").agg(min("v").as("cell_median"))
      .localCheckpoint(true)
    val resid = base.join(broadcast(cellMed), Seq("dow", "hour"))
      .withColumn("residual", col("v") - col("cell_median"))
    val rc = resid.groupBy("residual").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val medR = medianOfCounts(rc, "residual", "c")
      .select(col("median").as("med_r"))
    val dc = rc.crossJoin(broadcast(medR))
      .select(abs(col("residual") - col("med_r")).as("d"), col("c"))
      .groupBy("d").agg(sum("c").as("c"))
    val madR = medianOfCounts(dc, "d", "c").select(col("median").as("mad"))
    resid.crossJoin(broadcast(medR.crossJoin(madR)))
      .withColumn("dev", abs(col("residual") - col("med_r")))
      .where(col("dev") > lit(madK.toLong) * col("mad"))
      .select(col("id"), col("dow"), col("hour"), col("v"),
        col("cell_median"), col("residual"), col("dev"))
  }

  /** EXACT per-key lower quantiles, generalized from [[robustStats]]'s
    * median to any quantile list: for each key and each `q ∈ qs`,
    * the smallest value whose cumulative count reaches rank
    * `max(1, ceil(q·n))` — the type-1 ("lower") quantile, which is
    * always an ACTUAL data value, so with integral input every output
    * is exact and engine-replayable (no interpolation float). `q = 0`
    * reports the minimum, `q = 1` the maximum. The ceil is epsilon'd
    * (`ceil(q·n − 1e-9)`) so an exactly-integral `q·n` (e.g. q=0.25,
    * n=400 → rank 100) cannot round UP to 101 through IEEE
    * representation of q.
    *
    * `valueCol` is cast to LONG (quantize floats first, e.g. cents) —
    * the [[ksDrift]] discipline.
    *
    * Shape at 100 TB: the whole computation runs on the COLLAPSED
    * (key, value, count) grain — one partial-agg shuffle collapses the
    * corpus, then the cumulative window sorts DISTINCT VALUES per key,
    * not rows (the [[seasonalAnomalies]] contract: a billion-row key
    * with 50k distinct lengths windows 50k rows). All |qs| quantiles
    * ride ONE window pass — the rank explode happens after the
    * cumulative sums, on the collapsed grain.
    */
  def exactQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"qs=$qs must be non-empty fractions in [0, 1]")
    val grain = df.select(col(keyCol).as("key"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy("key", "v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("key").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy("key")))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .where(col("cum") >=
        greatest(lit(1L), ceil(col("q") * col("n") - 1e-9)))
      .groupBy("key", "q").agg(min("v").as("value"))
  }

  /** Calendar-completeness profile of an event stream: one row for
    * EVERY day between the corpus's first and last (the Benford/PSI
    * full-grid discipline — a silent ingestion gap is a finding, not a
    * missing row), with exact row and distinct-entity counts and an
    * `is_gap` flag. The freshness/completeness SLA table a pipeline
    * alerts on.
    *
    * Shape at 100 TB: one day-grain partial agg (distinct via the
    * standard two-phase expansion), bounds as a single broadcast row,
    * and the day grid exploded from ONE `sequence` — grid size is
    * calendar days, never rows.
    */
  def calendarCompleteness(df: DataFrame, tsUsCol: String,
      idCol: String): DataFrame = {
    val byDay = df
      .select(expr(s"$tsUsCol DIV 86400000000").as("day"), col(idCol))
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(idCol)).as("n_distinct"))
    val grid = byDay.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("day"))
    grid.join(byDay, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("n_rows").isNull.as("is_gap"))
  }

  /** Declarative data-quality expectations — the Deequ-style contract
    * gate a pipeline runs before promoting a snapshot: each rule is a
    * (name, SQL predicate, tolerated violation rate) triple, and EVERY
    * rule is evaluated in ONE pass over the corpus (a single aggregate
    * computes all violation counts — no per-rule jobs, no per-rule
    * scans). Returns per rule: row count, violation count, violation
    * rate, and `passed` (`viol_rate <= maxViolRate`). NULL predicate
    * results count as violations (an expectation that cannot be
    * evaluated is not met).
    *
    * Shape at 100 TB: one narrow projection computing \|rules\| flags +
    * one global aggregate; the melt to rule rows happens on the single
    * aggregated row.
    */
  def expectations(df: DataFrame,
      rules: Seq[(String, String, Double)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique")
    require(rules.forall(r => !r._1.contains("'")),
      "rule names must not contain single quotes " +
        "(they are spliced into a SQL literal)")
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case ((_, pred, _), i) =>
        sum(when(coalesce(expr(pred), lit(false)), 0L).otherwise(1L))
          .as(s"__v$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.zipWithIndex.map { case ((name, _, maxRate), i) =>
      s"'$name', __v$i, CAST($maxRate AS DOUBLE)"
    }.mkString(", ")
    one.select(col("__n"),
        expr(s"stack(${rules.size}, $stacked) " +
          "AS (rule, n_violations, max_viol_rate)"))
      .select(col("rule"), col("__n").as("n_rows"), col("n_violations"),
        (col("n_violations").cast("double") / col("__n"))
          .as("viol_rate"),
        (col("n_violations").cast("double") / col("__n") <=
          col("max_viol_rate")).as("passed"))
  }

  /** Population Stability Index per group against a designated
    * REFERENCE group — the industry-standard drift score next to
    * [[ksDrift]] (KS answers "are they different", PSI weights WHERE
    * the mass moved): `psi = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref)`.
    * Rule of thumb: < 0.1 stable, 0.1–0.25 shifting, > 0.25 retrain.
    *
    * Determinism: bin edges are equi-width over the REFERENCE group's
    * [min, max] and binning is pure integer arithmetic
    * (`(v − lo)·bins DIV (hi − lo + 1)`, clamped), every bin is
    * materialized for every group (the Benford full-grid discipline —
    * an empty bin is drift mass, not a missing row), densities are
    * additively smoothed (`(c + 0.5) / (n + bins/2)`) so a zero bin
    * contributes a finite, replayable term, and the bin sum is an
    * ordered fold. The reference group itself scores EXACTLY 0.0.
    *
    * Shape at 100 TB: one (group, bin) partial agg over the corpus,
    * a broadcast bins×groups grid densify, one group-grain fold. The
    * reference bounds are a single broadcast row.
    */
  def psiDrift(df: DataFrame, groupCol: String, valueCol: String,
      refGroup: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val base = df.select(col(groupCol).as("grp"),
        col(valueCol).cast("long").as("v"))
      .where(col("v").isNotNull)
    // bounds become plan literals; a missing reference group must FAIL
    // loudly (the abTest guard), not silently emit an empty profile
    val b = base.where(col("grp") === refGroup)
      .agg(min("v").as("lo"), max("v").as("hi")).first()
    require(!b.isNullAt(0),
      s"psiDrift: reference group '$refGroup' has no rows")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val binned = base
      .withColumn("bin", least(lit(bins - 1), greatest(lit(0L),
        expr(s"((v - ${lo}L) * $bins) DIV (${hi}L - ${lo}L + 1)")))
        .cast("int"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("c"))
    val grid = binned.select("grp").distinct()
      .withColumn("bin", explode(expr(s"sequence(0, ${bins - 1})")))
    val dense = grid.join(binned, Seq("grp", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("n", sum("c").over(Window.partitionBy("grp")))
    val ref = dense.where(col("grp") === refGroup)
      .select(col("bin"), col("c").as("rc"), col("n").as("rn"))
    dense.join(broadcast(ref), "bin")
      .withColumn("p", (col("c") + 0.5) / (col("n") + lit(bins * 0.5)))
      .withColumn("q", (col("rc") + 0.5) / (col("rn") + lit(bins * 0.5)))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .groupBy("grp")
      .agg(max("n").as("n"),
        expr("aggregate(array_sort(collect_list(struct(bin, term))), " +
          "cast(0.0 as double), (a, x) -> a + x.term)").as("psi"))
  }

  /** Equi-join cardinality estimate BEFORE running the join — the
    * plan-or-veto check for a join you suspect will explode: exact
    * per-key counts on both sides collapse each input to its key
    * grain, the key-grain join multiplies them, and the result is the
    * EXACT output row count the real join would produce, plus the
    * top-`topK` contributing keys (the skew hot list you'd salt or
    * filter). `share` = key's fraction of total output rows.
    *
    * Shape at 100 TB: one partial-agg shuffle per side to the key
    * grain, a key-grain equi-join (collapsed — never the corpora), the
    * total as a single-row broadcast, and the hot list through
    * [[graft.ops.TopK.perKey]]'s partial aggregator — no global sort,
    * no window. Keys must be integral ([[graft.ops.TopK]]'s id
    * contract); per-key `pairs` AND `total_pairs` multiply/sum in
    * decimal(38,0) end to end, so a 10¹⁸⁺-pair prediction reports
    * exactly instead of wrapping a long; the top-K ranking ordinal
    * saturates at Long.MaxValue (membership stays correct, ties past
    * saturation break by key).
    */
  def joinCardinality(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK=$topK must be >= 1")
    val lc = left.select(col(leftKey).cast("long").as("key"))
      .where(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("n_left"))
    val rc = right.select(col(rightKey).cast("long").as("key"))
      .where(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("n_right"))
    val dec = "decimal(38,0)"
    val per = lc.join(rc, "key")
      .withColumn("pairs",
        (col("n_left").cast(dec) * col("n_right").cast(dec)).cast(dec))
    val tot = per.agg(
      sum(col("pairs")).cast(dec).as("total_pairs"),
      count(lit(1)).as("n_shared_keys"))
    // ranking ordinal: saturate at Long.MaxValue so a >9.2e18-pair hot
    // key still ranks at the top (ties past saturation break by key)
    // instead of wrapping negative and vanishing from the hot list;
    // the REPORTED pairs column stays decimal-exact.
    val top = TopK.perKey(
        per.withColumn("g", lit(1)).withColumn("__jc_ord",
          least(col("pairs"), lit(Long.MaxValue).cast(dec)).cast("long")),
        "g", "__jc_ord", "key", topK)
      .select(col("key"), col("rk"))
    top.join(per, "key").crossJoin(broadcast(tot))
      .select(col("rk"), col("key"), col("n_left"), col("n_right"),
        col("pairs"), col("n_shared_keys"), col("total_pairs"),
        (col("pairs").cast("double") /
          col("total_pairs").cast("double")).as("share"))
  }

  /** Per-key autocorrelation function at lags 1..`maxLag` — the
    * seasonality/momentum fingerprint of a metric stream: a daily
    * cadence shows as a spike at its lag, white noise decays to ~0,
    * and a trending series stays high at every lag. Pairs are
    * (x_t, x_{t−lag}) in (`tsCol`, `idCol`) order; `acf` is Pearson
    * correlation over the pairs,
    * `(n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²)·(n·Σyy − Σy²))`.
    *
    * `valueCol` is cast to LONG (quantize floats first — cents) and
    * every product and sum runs in decimal(38,0), so both covariance
    * numerators are EXACT integers on any engine for |value| up to
    * ~10¹⁸; the one float is the final divide (the [[bootstrapCI]]
    * discipline). Keys with a
    * degenerate side (zero variance among paired values, or fewer than
    * 2 pairs) report NULL, never ±Infinity.
    *
    * Shape at 100 TB: ONE key-partitioned sort window computes all
    * `maxLag` lag columns in a single pass, a narrow unpivot stacks
    * them to (key, lag) pairs, and ONE partial-agg shuffle reduces to
    * the (key, lag) grain — |keys|·maxLag output rows.
    */
  def acfProfile(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, maxLag: Int, idCol: String = "event_id")
      : DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag must be >= 1")
    val w = Window.partitionBy("key")
      .orderBy(col(tsCol), col(idCol))
    val lagged = df
      .select(col(keyCol).as("key"), col(tsCol), col(idCol),
        col(valueCol).cast("long").as("x"))
      .select(col("key") +: col("x") +:
        (1 to maxLag).map(l => lag("x", l).over(w).as(s"y$l")): _*)
    val stacked = lagged.select(col("key"), col("x"),
        expr(s"stack($maxLag, " + (1 to maxLag)
          .map(l => s"$l, y$l").mkString(", ") + ") AS (lag, y)"))
      .select(col("key"), col("lag"), col("x"), col("y"))
      .where(col("y").isNotNull)
    val dec = "decimal(38,0)"
    // cast BEFORE multiplying: a long*long product wraps silently at
    // |v| >= ~3e9 where the decimal product stays exact
    val xd = col("x").cast(dec)
    val yd = col("y").cast(dec)
    val agg = stacked.groupBy("key", "lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(xd).as("sx"),
      sum(yd).as("sy"),
      sum(xd * xd).as("sxx"),
      sum(yd * yd).as("syy"),
      sum(xd * yd).as("sxy"))
    val varX = (col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val varY = (col("n_pairs") * col("syy") - col("sy") * col("sy"))
      .cast("double")
    val cov = (col("n_pairs") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    agg.select(col("key"), col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2 && varX > 0 && varY > 0,
        cov / sqrt(varX * varY)).as("acf"))
  }

  /** EXACT per-key WEIGHTED lower quantiles — [[exactQuantiles]] with
    * each row counting `weightCol` times instead of once: for each key
    * and each `q ∈ qs`, the smallest value whose cumulative weight
    * reaches `max(1, ceil(q·W))` with `W` the key's total weight. The
    * estimator a token-budgeted corpus wants ("the median document
    * length *by token mass*, not by document count"), and the exact
    * counterpart of frequency-weighted percentile sketches. Weights are
    * cast to LONG; rows with NULL or non-positive weight are dropped
    * (a zero-mass row cannot move a rank) — integral weights keep the
    * rank arithmetic exact and the output an actual data value, so
    * results hash-compare with no interpolation float. With
    * `weight ≡ 1` this is definitionally [[exactQuantiles]]
    * (spec-pinned equivalence).
    *
    * Shape at 100 TB: identical to [[exactQuantiles]] — one partial-agg
    * shuffle collapses the corpus to the (key, value, Σweight) grain,
    * the cumulative window sorts DISTINCT VALUES per key (never rows),
    * and all |qs| quantiles ride that one window pass.
    */
  def weightedQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"qs=$qs must be non-empty fractions in [0, 1]")
    val grain = df.select(col(keyCol).as("key"),
        col(valueCol).cast("long").as("v"),
        col(weightCol).cast("long").as("wt"))
      .where(col("v").isNotNull && col("wt") > 0)
      .groupBy("key", "v").agg(sum("wt").as("c"))
    val wCum = Window.partitionBy("key").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy("key")))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .where(col("cum") >=
        greatest(lit(1L), ceil(col("q") * col("n") - 1e-9)))
      .groupBy("key", "q").agg(min("v").as("value"))
  }

  /** Winsorize (clip) each row's value at its OWN key's exact
    * [`qLo`, `qHi`] quantiles — the outlier-taming step before means,
    * regressions, or reward models see a heavy-tailed measure: a key's
    * top 5% no longer drags that key's statistics, and every key gets
    * its own clip points (a global clip would flatten small-scale keys
    * to a constant). Appends `v_clip` (= value clamped into the key's
    * band); the quantiles are [[exactQuantiles]]' type-1 values, so
    * clip points are actual data values and the clamp is exact integer
    * arithmetic.
    *
    * Shape at 100 TB: [[exactQuantiles]]' collapsed-grain pass, a
    * pivot of the two quantiles to one row per key (≤ 2 rows/key in,
    * 1 out), and ONE equi-join of that key-grain relation back onto
    * the corpus — broadcast when keys are few, shuffle-on-key
    * otherwise; either way the corpus moves at most once.
    */
  def winsorize(df: DataFrame, keyCol: String, valueCol: String,
      qLo: Double, qHi: Double): DataFrame = {
    require(qLo >= 0.0 && qLo < qHi && qHi <= 1.0,
      s"need 0 <= qLo < qHi <= 1, got [$qLo, $qHi]")
    val cuts = exactQuantiles(df, keyCol, valueCol, Seq(qLo, qHi))
      .groupBy("key").agg(
        min(when(col("q") === qLo, col("value"))).as("lo"),
        min(when(col("q") === qHi, col("value"))).as("hi"))
      .withColumnRenamed("key", keyCol)
    df.join(cuts, keyCol)
      .withColumn("v_clip",
        least(greatest(col(valueCol).cast("long"), col("lo")), col("hi")))
      .drop("lo", "hi")
  }

  /** Dataset content manifest — an ORDER-INDEPENDENT, MERGEABLE
    * fingerprint of a relation's content, the "did these two copies of
    * the corpus actually match?" primitive a 100 TB pipeline needs for
    * replica verification, snapshot diffing, and reproducibility
    * claims. Each row is serialized (chosen columns cast to string, joined on the
    * U+0001 separator, NULL → a U+0000 sentinel so NULL ≠ empty string), hashed to a
    * 60-bit integer (first 15 hex digits of md5 — exact DECIMAL
    * arithmetic, no float anywhere), and assigned to one of `shards`
    * buckets by hash. Output: one row per shard (`shard`, `n`,
    * `fingerprint` = Σ row-hashes mod 2^61−1) plus a root row
    * (`shard = -1`) over the whole relation. Addition mod a prime is
    * commutative and associative, so the fingerprint is invariant to
    * row order and partitioning BY CONSTRUCTION, shard manifests from
    * independent jobs MERGE into the root by modular addition (the
    * spec pins `root = Σ shards mod p`), and two corpora differing in
    * any single row differ in their shard AND root fingerprints with
    * probability 1 − 2⁻⁶⁰ per check.
    *
    * Shape at 100 TB: ONE partial-agg shuffle on the ≤ `shards`-row
    * grain (ROLLUP shares it — the root is the same partial sums
    * re-reduced); the corpus is scanned once, moved never. Verifying
    * two 100 TB replicas = two independent manifest runs + a
    * `shards`-row diff.
    */
  def datasetManifest(df: DataFrame, cols: Seq[String],
      shards: Int): DataFrame = {
    require(cols.nonEmpty, "need at least one column to fingerprint")
    require(shards > 0, s"shards=$shards must be positive")
    val p = lit(new java.math.BigDecimal(2305843009213693951L))
    val ser = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    df.select(conv(substring(md5(ser), 1, 15), 16, 10)
        .cast("decimal(38,0)").as("h"))
      .withColumn("shard", (col("h") % shards).cast("int"))
      .rollup("shard")
      .agg(count(lit(1)).as("n"), (sum("h") % p).cast("long")
        .as("fingerprint"))
      .select(coalesce(col("shard"), lit(-1)).as("shard"),
        col("n"), col("fingerprint"))
  }

  /** Classifier calibration profile — the reliability diagram plus its
    * two headline numbers, per group: scores in [0, 1] are cut into
    * `bins` equal-width confidence bins (`bin = min(bins−1,
    * floor(score·bins))`, so score 1.0 lands in the top bin), and each
    * (group, bin) row reports its count, mean predicted confidence,
    * observed positive rate, and gap (observed − predicted). Each row
    * also carries the group's expected calibration error
    * (ECE = Σ_b n_b/N · |gap_b|, the standard reliability-weighted
    * miscalibration score) and Brier score (mean (score − label)²) so
    * a model audit is one relation, not three. Empty bins are absent
    * (a bin with no predictions has no calibration evidence — unlike
    * [[benford]]'s grid, zero rows here contribute zero ECE mass by
    * definition, so densifying would only add NULL rows).
    *
    * The evaluation every scored filter in a training pipeline needs
    * before its scores gate data: a quality model that says 0.9 must
    * be right ~90% of the time, or its threshold means nothing.
    *
    * Shape at 100 TB: ONE partial-agg shuffle to the (group, bin)
    * grain (≤ bins rows per group), then two windows on the GROUP
    * partitioning of that collapsed grain — the corpus moves once.
    */
  def calibrationProfile(df: DataFrame, groupCol: String,
      scoreCol: String, labelCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins=$bins must be positive")
    val wg = Window.partitionBy("grp")
    df.select(col(groupCol).as("grp"),
        col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("double").as("y"))
      .where(col("s").isNotNull && col("y").isNotNull)
      .withColumn("bin", least(lit(bins - 1),
        floor(col("s") * bins).cast("int")))
      .groupBy("grp", "bin")
      .agg(count(lit(1)).as("n"), sum("s").as("ssum"),
        sum("y").as("ysum"),
        sum((col("s") - col("y")) * (col("s") - col("y"))).as("sq"))
      .withColumn("ece", round(
        sum(abs(col("ysum") - col("ssum"))).over(wg) /
          sum("n").over(wg), 6))
      .withColumn("brier",
        round(sum("sq").over(wg) / sum("n").over(wg), 6))
      .select(col("grp"), col("bin"), col("n"),
        round(col("ssum") / col("n"), 6).as("confidence"),
        round(col("ysum") / col("n"), 6).as("accuracy"),
        round((col("ysum") - col("ssum")) / col("n"), 6).as("gap"),
        col("ece"), col("brier"))
  }

  /** Zipf-law fit of the corpus unigram distribution — ordinary least
    * squares of ln(freq) on ln(rank): `freq(r) ~ C · r^slope`, the
    * canonical corpus-health fingerprint (natural language sits near
    * slope −1; a slope collapsing toward 0 means boilerplate/duplication
    * flattened the distribution, a cliff past the head means template
    * spam). Returns ONE row: `(n_vocab, n_tokens, slope, intercept, r2)`
    * (intercept = ln C; r2 of the log-log fit), floats rounded to 6 dp.
    *
    * Ranks come from [[graft.ops.Layout.globalRank]] on (−freq,
    * xxhash64(term)) — no single-partition window at any vocabulary
    * size. Rank assignment within a frequency tie is arbitrary, and
    * that is EXACT, not approximate: equal-freq terms occupy a
    * contiguous rank block, so every OLS sum (Σln r, Σ(ln r)²,
    * Σln r·ln f, …) is invariant under permutations within the block —
    * any engine may break ties its own way and reach identical sums.
    *
    * Shape at 100 TB: one token-grain partial-agg shuffle to the vocab
    * grain, then [[graft.ops.Layout.globalRank]]'s vocab-grain range sort
    * and stats job; OLS is one global aggregate. Nothing driver-side
    * beyond per-partition rank offsets.
    */
  def zipfFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val freqs = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("c"))
    val ranked = graft.ops.Layout.globalRank(
      freqs.select(col("term"), col("c"), (-col("c")).as("negc"),
        xxhash64(col("term")).as("tid")),
      "negc", "tid", rankCol = "r")
    val x = log(col("r").cast("double"))
    val y = log(col("c").cast("double"))
    ranked
      .agg(count(lit(1)).as("n_vocab"), sum("c").as("n_tokens"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * x).as("sxx"),
        sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(Seq(col("n_vocab"), col("n_tokens")) ++
        olsCols(col("n_vocab"), col("sx"), col("sy"), col("sxx"),
          col("syy"), col("sxy")): _*)
  }

  /** Heaps-law fit of vocabulary growth — OLS of ln V(N) on ln N over
    * per-document checkpoints, where V(N) is the EXACT number of
    * distinct terms among the first N tokens of the corpus in
    * (`doc_id`) order: `V(N) ~ k · N^beta` (English corpora sit near
    * beta 0.4–0.6; beta ≈ 0 is a closed vocabulary, beta ≈ 1 means
    * near-every token novel — an id/hash column masquerading as text).
    * Returns ONE row: `(n_docs, n_tokens, n_vocab, slope, intercept,
    * r2)` — slope is beta, intercept ln k.
    *
    * Exact and fully distributed via this round's prefix-sum
    * machinery: document token-start offsets are one
    * [[graft.ops.Layout.globalCumsum]]; each term's FIRST occurrence
    * (the min global token position) pins the document where it
    * debuts; V at each checkpoint is a second cumsum of the per-doc
    * new-term counts. No single-partition window at any corpus size.
    */
  def heapsFit(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the token ARRAYS are materialized ONCE, in a single-projection
    // checkpoint: the materialization doubles as a cache of the
    // (expensive) upstream tokenization, which BOTH consumers (the
    // starts and the first-occurrence pass) then read. Measured at
    // sf0.1..sf1: 4.7 s / 38 s this shape vs 8.4 s / 72 s with a
    // narrow checkpoint + re-derived tokens. Round-12 refinement: the
    // checkpoint is the BARE (doc_id, ws) projection — when `textCol`
    // is itself an expensive derived column (q277 feeds a synthesized
    // bigram corpus), the old shape inlined that expression into ws,
    // n_tokens, AND the pushed-down length filter, evaluating it ~3×
    // per row before anything was cached (measured 6.4 s → 2.1 s at
    // sf0.1); length/filtering now derive from the materialized arrays
    val toks = docs.select(col(idCol).as("doc_id"),
      filter(split(col(textCol), " "), w => length(w) > 0).as("ws"))
      .localCheckpoint(true)
    val lens = toks
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
    val starts = graft.ops.Layout.globalCumsum(lens, "doc_id", "doc_id",
      "n_tokens", cumCol = "start")
    // starts reads globalCumsum's own checkpoint; nothing reads toks again
    Rounds.release(toks)
    // each term's first global occurrence -> the doc where it debuts
    val firstDebut = starts
      .select(col("doc_id"), col("start"),
        posexplode(col("ws")).as(Seq("p", "term")))
      .select(col("term"),
        struct((col("start") + col("p")).as("gp"), col("doc_id")).as("o"))
      .groupBy("term").agg(min(col("o")).as("o"))
      .groupBy(col("o.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    // V at each doc checkpoint = inclusive cumsum of per-doc new terms
    val checkpoints = starts.select(col("doc_id"), col("start"),
        col("n_tokens"))
      .join(firstDebut, Seq("doc_id"), "left")
      .select(col("doc_id"), (col("start") + col("n_tokens")).as("bign"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val vAt = graft.ops.Layout.globalCumsum(checkpoints, "doc_id",
        "doc_id", "n_new", cumCol = "vprev")
      .select(col("doc_id"), col("bign"),
        (col("vprev") + col("n_new")).as("v"))
    val x = log(col("bign").cast("double"))
    val y = log(col("v").cast("double"))
    vAt
      .agg(count(lit(1)).as("n_docs"), max("bign").as("n_tokens"),
        max("v").as("n_vocab"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(Seq(col("n_docs"), col("n_tokens"), col("n_vocab")) ++
        olsCols(col("n_docs"), col("sx"), col("sy"), col("sxx"),
          col("syy"), col("sxy")): _*)
  }

  /** Shared closed-form OLS columns from the five power sums:
    * slope, intercept, r² (NULL when the x-variance denominator is 0 —
    * a one-point or constant-x fit has no line), rounded to 6 dp.
    */
  private def olsCols(n: Column, sx: Column, sy: Column, sxx: Column,
      syy: Column, sxy: Column): Seq[Column] = {
    val nd = n.cast("double")
    val dxx = nd * sxx - sx * sx
    val dyy = nd * syy - sy * sy
    val dxy = nd * sxy - sx * sy
    val slope = when(dxx > 0, dxy / dxx)
    val r2 = when(dxx > 0 && dyy > 0, (dxy * dxy) / (dxx * dyy))
    Seq(round(slope, 6).as("slope"),
      round((sy - slope * sx) / nd, 6).as("intercept"),
      round(r2, 6).as("r2"))
  }
}
