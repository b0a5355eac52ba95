package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Z-order layout: exact Morton values on fixtures, and the locality
  * property that justifies the operator — physical chunks of the z-sorted
  * order cover small hyper-rectangles in EVERY clustered dimension, where
  * a single-key sort leaves the other dimension unbounded.
  */
class LayoutSpec extends AnyFunSuite with SparkTestBase {

  private def grid = {
    val s2 = spark; import s2.implicits._
    // full 64x64 grid: bounds are (0, 63) in both dims, so with bits=6 the
    // normalization is the identity and zvalues are pure Morton codes
    (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y")
  }

  private def morton(x: Int, y: Int, bits: Int): Long =
    (0 until bits).map(i =>
      (((x >> i) & 1).toLong << (2 * i)) |
        (((y >> i) & 1).toLong << (2 * i + 1))).sum

  test("zvalue is the exact Morton interleave on an identity-normalized grid") {
    val z = Layout.zValue(grid, Seq("x", "y"), bits = 6)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    for ((x, y) <- Seq((0, 0), (1, 0), (0, 1), (3, 5), (63, 63), (21, 42)))
      assert(z((x, y)) == morton(x, y, 6), s"($x,$y)")
    // bijective on the grid: 4096 distinct codes covering [0, 4096)
    assert(z.values.toSet == (0L until 4096L).toSet)
  }

  test("z-order chunks bound BOTH dimensions; a single-key sort does not") {
    // cut the 4096-cell grid into 16 contiguous 256-cell chunks
    def maxSides(ordered: Seq[(Int, Int)]): Seq[Int] =
      ordered.grouped(256).map { chunk =>
        val xs = chunk.map(_._1); val ys = chunk.map(_._2)
        math.max(xs.max - xs.min, ys.max - ys.min)
      }.toSeq
    val zOrdered = Layout.zValue(grid, Seq("x", "y"), bits = 6)
      .orderBy("zvalue").select("x", "y")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    // each z chunk is a 16x16 square: max side 15
    assert(maxSides(zOrdered).forall(_ <= 15), s"got ${maxSides(zOrdered)}")
    // x-major order: each chunk is a 4-column slab spanning all of y
    val xOrdered = grid.orderBy("x", "y")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(maxSides(xOrdered).forall(_ == 63))
  }

  test("clusterByZ physically confines both keys per partition") {
    val parts = Layout.clusterByZ(grid, Seq("x", "y"), bits = 6,
        numPartitions = 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
      .collect().map(r => math.max(r.getInt(1), r.getInt(2)))
    // range partitioning cuts at quantiles, not exact powers of two —
    // allow a chunk to straddle one 16x16 square boundary
    assert(parts.forall(_ <= 31), s"per-partition max sides: ${parts.toSeq}")
  }

  test("normalization maps arbitrary integer ranges onto the bit domain") {
    val s2 = spark; import s2.implicits._
    val skewed = Seq((1000L, -7L), (1063L, -6L), (1127L, 56L))
      .toDF("a", "b")
    val z = Layout.zValue(skewed, Seq("a", "b"), bits = 2)
      .select("a", "zvalue").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a range 1000..1127 (width 128) → buckets 0,1,3; b range -7..56
    // (width 64) → buckets 0,0,3: morton((0,0))=0, (1,0)=1, (3,3)=15
    assert(z == Map(1000L -> 0L, 1063L -> 1L, 1127L -> 15L), s"got $z")
  }

  test("a range past the double-exact bound fails loud, not silently") {
    val s2 = spark; import s2.implicits._
    // epoch-microsecond-scale spread: range 2^60 >> 2^(53-8); the double
    // division would quietly diverge from integer semantics — must raise
    val wide = Seq((0L, 1L), (1L << 60, 2L)).toDF("ts", "k")
    val e = intercept[Exception] {
      Layout.zValue(wide, Seq("ts", "k"), bits = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("range exceeds")), e.getMessage)
    // the same data fits when the caller pre-buckets (seconds, not micros)
    val ok = Layout.zValue(
      wide.withColumn("ts", col("ts") / lit(1L << 20)).select(
        col("ts").cast("long").as("ts"), col("k")),
      Seq("ts", "k"), bits = 8)
    assert(ok.collect().length == 2)
  }

  test("a range that wraps the long subtraction also fails loud") {
    val s2 = spark; import s2.implicits._
    // true range ~2^63+1: (max - min + 1) wraps NEGATIVE in long
    // arithmetic, which would satisfy <= rangeCap if the guard only
    // checked the upper bound — the >= 1 side must catch it
    val wrapped = Seq((Long.MinValue, 1L), (1L, 2L)).toDF("ts", "k")
    val e = intercept[Exception] {
      Layout.zValue(wrapped, Seq("ts", "k"), bits = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("range exceeds")), e.getMessage)
  }

  test("skipping profile: the Z layout prunes probes on BOTH clustered " +
      "columns; each single-key sort scans everything on the other") {
    val s2 = spark; import s2.implicits._
    // a dense 128x128 grid: every (x, y) combination, so value locality
    // is entirely the layout's doing
    val grid = (for (x <- 0L until 128L; y <- 0L until 128L)
      yield (x, y)).toDF("x", "y")
    val prof = graft.ops.Layout.zSkippingProfile(grid, Seq("x", "y"),
        bits = 7, numFiles = 64,
        probes = Seq(("x", 10L, 17L), ("y", 100L, 107L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    // sort by x: perfect on x, useless on y (every file holds all y)
    assert(prof(("sort_x", "x"))._2 <= 8)
    assert(prof(("sort_x", "y"))._2 == prof(("sort_x", "y"))._1)
    assert(prof(("sort_y", "x"))._2 == prof(("sort_y", "x"))._1)
    // z-order: a 1/16th range probe on EITHER column scans a small
    // fraction of the 64 files (8/64 on this grid), never all of them
    assert(prof(("zorder", "x"))._2 <= 16, prof.toString)
    assert(prof(("zorder", "y"))._2 <= 16, prof.toString)
  }

  test("global rank executes its input plan exactly ONCE, even across " +
      "refinement rounds (accumulator-counted)") {
    val s2 = spark; import s2.implicits._
    val acc = spark.sparkContext.longAccumulator("grk_evals")
    val src = spark.range(0, 500, 1, 8)
      .map { i => acc.add(1); (i.toLong, 7L) }.toDF("id", "k")
    // the range sort's sample, the sort, the stats job and the final
    // ranked pass all read one checkpoint of the input
    val got = Layout.globalRank(src, "k", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 500L).forall(id => got(id - 1) == id), got.toString)
    assert(acc.value == 500L,
      s"input plan executed ${acc.value / 500.0} times, expected once")
  }

  test("global rank survives a source whose rows CHANGE between " +
      "evaluations: offsets stay consistent with the final pass") {
    val s2 = spark; import s2.implicits._
    LayoutSpec.mutatingKey.set(0L)
    // every evaluation of this plan yields DIFFERENT keys (a static
    // counter keeps advancing): the round-10 contract pushed this onto
    // the caller; round 11 materializes the input once instead
    val src = spark.range(0, 400, 1, 8)
      .map { i => (i.toLong, LayoutSpec.mutatingKey.getAndIncrement()) }
      .toDF("id", "k")
    val got = Layout.globalRank(src, "k", "id")
      .collect()
    // sorting the RESULT by (k, id) must walk ranks 1..n exactly — a
    // desync between collected offsets and the final pass would show
    // as gaps or duplicates
    val ranks = got.sortBy(r => (r.getLong(1), r.getLong(0)))
      .map(_.getLong(2)).toSeq
    assert(ranks == (1L to 400L), ranks.take(20).toString)
  }

  test("global cumsum piggybacks value sums on the rank stats pass: " +
      "one input execution, exact running totals under refinement") {
    val s2 = spark; import s2.implicits._
    val acc = spark.sparkContext.longAccumulator("gcs_evals")
    val src = spark.range(0, 300, 1, 8)
      .map { i => acc.add(1); (i.toLong, 5L, 2L) }.toDF("id", "k", "v")
    val got = Layout.globalCumsum(src, "k", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((0L until 300L).forall(id => got(id) == 2L * id), got.toString)
    assert(acc.value == 300L,
      s"input plan executed ${acc.value / 300.0} times, expected once")
  }

  test("global rank and cumsum on 1.1M xxhash64-spread keys equal the " +
      "single-partition ROW_NUMBER and running sum") {
    val n = 1100000L
    val src = spark.range(0, n, 1, 8).select(col("id"),
      xxhash64(col("id")).as("k"), (col("id") % 97).as("v"))
    val w = Window.orderBy("k", "id")
    val naive = src.select(col("id"), row_number().over(w).cast("long"),
      sum("v").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)) - col("v"))
    val got = Layout.globalRank(src, "k", "id")
      .join(Layout.globalCumsum(src, "k", "id", "v"), "id")
      .select(col("id"), col("rk"), col("cumsum"))
    assert(got.count() == n)
    val diff = got.exceptAll(naive).limit(5).collect()
    assert(diff.isEmpty, diff.toSeq.toString)
  }

  test("hilbert index: bijection onto [0, n^2) and UNIT-STEP adjacency " +
      "— consecutive indices are grid neighbors (the locality property " +
      "Z-order lacks)") {
    val s2 = spark; import s2.implicits._
    for (bits <- Seq(2, 3)) {
      val n = 1 << bits
      val grid = (for (x <- 0 until n; y <- 0 until n) yield (x, y))
        .toDF("x", "y")
      val d2xy = Layout.appendHilbertOf(grid, "x", "y", bits)
        .collect().map(r => r.getLong(2) -> (r.getInt(0), r.getInt(1)))
        .toMap
      assert(d2xy.keySet == (0L until (n.toLong * n)).toSet,
        s"bits=$bits: hvalue must be a bijection onto [0, n^2)")
      for (d <- 0L until (n.toLong * n - 1)) {
        val (x1, y1) = d2xy(d)
        val (x2, y2) = d2xy(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"bits=$bits: steps d=$d ($x1,$y1)->($x2,$y2) must be adjacent")
      }
    }
  }

  test("hilbert chunks bound BOTH dimensions tighter than or equal to " +
      "z-order on the dense grid; curveSkippingProfile measures it") {
    val s2 = spark; import s2.implicits._
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x, y)).toDF("x", "y")
    val prof = Layout.curveSkippingProfile(grid, Seq("x", "y"),
        bits = 6, numFiles = 64,
        probes = Seq(("x", 10L, 13L), ("y", 50L, 53L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    // both curves prune on BOTH dims; each sort fails on the other dim
    for (c <- Seq("x", "y"); curve <- Seq("hilbert", "zorder"))
      assert(prof((curve, c)) <= 16, s"$curve/$c: ${prof((curve, c))}")
    assert(prof(("sort_x", "y")) == 64 && prof(("sort_y", "x")) == 64)
    // the locality claim, MEASURED: hilbert scans no more files than
    // z-order for either probe on the dense grid
    for (c <- Seq("x", "y"))
      assert(prof(("hilbert", c)) <= prof(("zorder", c)),
        s"$c: hilbert ${prof(("hilbert", c))} vs zorder ${prof(("zorder", c))}")
  }

  test("zSkippingProfile is unchanged by the audit refactor (q275 " +
      "fixture shape): zorder + per-column sorts, same columns") {
    val s2 = spark; import s2.implicits._
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L)
      yield (x, y)).toDF("x", "y")
    val rows = Layout.zSkippingProfile(grid, Seq("x", "y"), bits = 5,
      numFiles = 16, probes = Seq(("x", 1L, 2L)))
    assert(rows.columns.toSeq == Seq("layout", "probe_col", "lo", "hi",
      "files_nonempty", "files_scanned", "rows_scanned"))
    val layouts = rows.select("layout").distinct().collect()
      .map(_.getString(0)).toSet
    assert(layouts == Set("zorder", "sort_x", "sort_y"))
  }
}


/** Static key source for the mutating-source fixture: survives closure
  * serialization per-JVM, so each EVALUATION of the plan draws fresh
  * keys — the desync trap [[graft.ops.Layout.globalRank]] must absorb.
  */
object LayoutSpec {
  val mutatingKey = new java.util.concurrent.atomic.AtomicLong(0L)
}
