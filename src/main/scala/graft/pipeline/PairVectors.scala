package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.porter_stem

/** Reference Step 4: gold-standard join + 24-dimensional similarity vectors,
  * re-planned as broadcast join → pivot aggregation → wide aggregation.
  *
  * The reference implements this as ~300 lines of MR machinery: a
  * replicated hash join where every mapper re-reads the gold file from S3
  * (`Step4.java:84-124`), a secondary sort (CompositeKey + three
  * comparators/partitioner, `Step4.java:20-68,378-409`), and a stateful
  * reducer that walks a feature-sorted stream pairing adjacent rows with
  * zero-padding and 24 mutable accumulators (`Step4.java:178-376`).
  *
  * Spark-first equivalents, in plan order:
  *   - gold file → `broadcast()` hint: one torrent broadcast instead of one
  *     S3 read per map task;
  *   - the two-sided fan-out (each gold pair listens on both words,
  *     `Step4.java:113-114`) → both orientations exploded from one scan;
  *     a gold pair listed twice collapses in the pivot's `max()`, as the
  *     reference's per-key HashSet dedups it;
  *   - the feature-sorted merge with ZEROS padding (`Step4.java:209-247`)
  *     → ONE hash aggregation pivoting the ≤2 side-rows per (pair, feature)
  *     into `v1`/`v2` columns with `coalesce(_, 0)` — no ordering, no
  *     full-outer self-join (which would shuffle the fan-out twice);
  *   - the 24 accumulators (`Step4.java:308-363`) → one finisher per
  *     mode, each finalized with the reference's exact NaN/Infinity policy
  *     (`Step4.java:250-295`).
  *
  * Quirk modes (SURVEY §7.4), default `faithful = false`:
  *   - "Euclidean" accumulates `(v1 + v2)^2` in the reference
  *     (`Step4.java:332`); corrected mode uses `(v1 - v2)^2`.
  *   - The Jensen-Shannon both-zero case *assigns* 0, clobbering prior
  *     accumulation in feature-sort order (`Step4.java:355-359`); faithful
  *     mode folds each pair's features in that order, corrected mode
  *     treats both-zero as contributing nothing.
  */
object PairVectors {

  /** Short measure names, in reference matrix row order (freq, prob, PMI,
    * t-test — `Step4.java:188-194`).
    */
  val measureShort: Seq[String] = Seq("freq", "prob", "pmi", "ttest")

  /** Metric names in reference matrix column order (`Step4.java:250-295`). */
  val metricNames: Seq[String] =
    Seq("manhattan", "euclidean", "cosine", "jaccard", "dice", "js")

  /** The 24 output columns, in the reference's flatten order
    * (`Step4.java:298-300`): measure-major, metric-minor.
    */
  val vectorColumns: Seq[String] =
    for (m <- measureShort; t <- metricNames) yield s"${m}_$t"

  /** Gold-standard text lines → `(w1, w2, related)` with both words
    * Porter-stemmed (`Step4.java:104-110`). Malformed lines (field count
    * != 3 after whitespace split) are dropped (`Step4.java:100-101`);
    * label parsing is `Boolean.parseBoolean` semantics
    * (case-insensitive "true", `Step5.java:112`).
    */
  def parseGold(goldLines: DataFrame): DataFrame =
    goldLines
      .select(split(col("value"), "\\s+").as("p"))
      .where(size(col("p")) === 3)
      .select(
        porter_stem(element_at(col("p"), 1)).as("w1"),
        porter_stem(element_at(col("p"), 2)).as("w2"),
        (lower(element_at(col("p"), 3)) === "true").as("related"))

  /** Association rows ⋈ gold pairs → one 24-dim similarity vector per gold
    * pair that has at least one matching association row (pairs with no
    * data never appear, matching the reference: 14,547 gold pairs → 14,337
    * instances). One finisher per mode:
    *   - `faithful = false`: the wide aggregation ([[wideAgg]]);
    *   - `faithful = true`: the ordered fold ([[orderedFold]]), bit-identical
    *     to the reference's Step-4 output.
    *
    * Output: `w1, w2, related` + [[vectorColumns]].
    */
  def vectors(assoc: DataFrame, gold: DataFrame, faithful: Boolean = false): DataFrame = {
    val pf = perFeature(assoc, gold)
    if (faithful) orderedFold(pf) else wideAgg(pf)
  }

  /** The pivot stage: gold-matched association rows pivoted to one row per
    * (pair, feature) with `<measure>_1` / `<measure>_2` columns.
    */
  private def perFeature(assoc: DataFrame, gold: DataFrame): DataFrame = {
    // Both orientations of every gold pair from one scan, keyed by the word
    // whose feature rows they consume. A gold pair listed twice matches the
    // same rows twice; the pivot's max() takes each value once, which is
    // the reference's per-key HashSet dedup.
    def side(word: String, partner: String, isw1: Boolean) =
      struct(col(word).as("word"), col(partner).as("partner"),
        lit(isw1).as("isw1"), col("related"))
    val sides = gold
      .select(explode(array(side("w1", "w2", true), side("w2", "w1", false)))
        .as("s"))
      .select("s.*")

    val matched = assoc
      .join(broadcast(sides), col("lexeme") === col("word"))
      .select(
        when(col("isw1"), col("word")).otherwise(col("partner")).as("w1"),
        when(col("isw1"), col("partner")).otherwise(col("word")).as("w2"),
        col("related"), col("feature"), col("isw1"),
        col("assoc_freq"), col("assoc_prob"), col("assoc_pmi"), col("assoc_ttest"))

    // Pivot the <=2 side-rows per (pair, feature) into v1/v2 columns —
    // (lexeme, feature) is unique upstream, so max() picks the single row.
    val pivotAggs = measureShort.zip(Associate.measureNames).flatMap { case (s, m) =>
      Seq(
        coalesce(max(when(col("isw1"), col(m))), lit(0.0)).as(s"${s}_1"),
        coalesce(max(when(!col("isw1"), col(m))), lit(0.0)).as(s"${s}_2"))
    }
    matched
      .groupBy("w1", "w2", "related", "feature")
      .agg(pivotAggs.head, pivotAggs.tail: _*)
  }

  /** Faithful finisher: per pair, features are consumed in sorted order
    * (`flatMapSortedGroups`), so every floating-point sum accumulates in
    * exactly the reference reducer's order (`Step4.java:211-247` walks a
    * feature-sorted stream) and the doubles are bit-identical to the
    * reference's. The reference's quirks are reproduced: "Euclidean"
    * accumulates `(v1 + v2)^2` (`Step4.java:332`), and a both-zero feature
    * resets the Jensen-Shannon accumulators (`Step4.java:355-359`).
    */
  private def orderedFold(pf: DataFrame): DataFrame = {
    val s2 = pf.sparkSession
    import s2.implicits._
    val typed = pf.select(
      col("w1"), col("w2"), col("related"), col("feature"),
      col("freq_1"), col("freq_2"), col("prob_1"), col("prob_2"),
      col("pmi_1"), col("pmi_2"), col("ttest_1"), col("ttest_2"))
      .as[(String, String, Boolean, String,
        Double, Double, Double, Double, Double, Double, Double, Double)]
    val out = typed
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapSortedGroups(col("feature")) { case ((w1, w2, related), rows) =>
        val man, euc, dot, n1, n2, mn, mx, sm, js1, js2 = new Array[Double](4)
        rows.foreach { r =>
          val vs = Array(r._5, r._6, r._7, r._8, r._9, r._10, r._11, r._12)
          var m = 0
          while (m < 4) {
            val v1 = vs(2 * m); val v2 = vs(2 * m + 1)
            man(m) += math.abs(v1 - v2)
            euc(m) += (v1 + v2) * (v1 + v2)
            dot(m) += v1 * v2; n1(m) += v1 * v1; n2(m) += v2 * v2
            mn(m) += math.min(v1, v2); mx(m) += math.max(v1, v2)
            sm(m) += v1 + v2
            val mean = (v1 + v2) / 2.0
            if (v1 == 0.0 && v2 == 0.0) {
              js1(m) = 0.0; js2(m) = 0.0
            } else {
              if (v1 > 0 && mean > 0) js1(m) += v1 * math.log(v1 / mean)
              if (v2 > 0 && mean > 0) js2(m) += v2 * math.log(v2 / mean)
            }
            m += 1
          }
        }
        val v = new Array[Double](24)
        var m = 0
        while (m < 4) {
          v(m * 6) = if (man(m).isNaN) Double.PositiveInfinity else man(m)
          v(m * 6 + 1) =
            if (euc(m) < 0 || euc(m).isNaN) Double.PositiveInfinity
            else math.sqrt(euc(m))
          val cos = dot(m) / (math.sqrt(n1(m)) * math.sqrt(n2(m)))
          v(m * 6 + 2) = if (n1(m) <= 0 || n2(m) <= 0 || cos.isNaN) 0.0 else cos
          val jac = mn(m) / mx(m)
          v(m * 6 + 3) = if (mx(m) == 0 || jac.isNaN) 0.0 else jac
          val dice = 2 * mn(m) / sm(m)
          v(m * 6 + 4) = if (sm(m) == 0 || dice.isNaN) 0.0 else dice
          val js = js1(m) + js2(m)
          v(m * 6 + 5) = if (js.isNaN) Double.PositiveInfinity else js
          m += 1
        }
        Iterator((w1, w2, related, v))
      }
      .toDF("w1", "w2", "related", "vec")
    val named = vectorColumns.zipWithIndex.map { case (c, i) =>
      element_at(col("vec"), i + 1).as(c)
    }
    out.select(col("w1") +: col("w2") +: col("related") +: named: _*)
  }

  /** Corrected finisher: built-in partial aggregates (`sum(abs(a-b))`,
    * `sum(a*b)`, `sum(least/greatest)` …) in one hash aggregation, with
    * the corrected Euclidean term `(v1 - v2)^2` and both-zero features
    * contributing nothing to Jensen-Shannon.
    */
  private def wideAgg(pf: DataFrame): DataFrame = {
    val aggs = measureShort.flatMap { s =>
      val v1 = col(s"${s}_1")
      val v2 = col(s"${s}_2")
      val mean = (v1 + v2) / lit(2.0)
      Seq(
        sum(abs(v1 - v2)).as(s"${s}_man"),
        sum((v1 - v2) * (v1 - v2)).as(s"${s}_euc"),
        sum(v1 * v2).as(s"${s}_dot"),
        sum(v1 * v1).as(s"${s}_n1"),
        sum(v2 * v2).as(s"${s}_n2"),
        sum(least(v1, v2)).as(s"${s}_min"),
        sum(greatest(v1, v2)).as(s"${s}_max"),
        sum(v1 + v2).as(s"${s}_sum"),
        sum(when(v1 > 0.0 && mean > 0.0, v1 * log(v1 / mean))
          .otherwise(0.0)).as(s"${s}_js1"),
        sum(when(v2 > 0.0 && mean > 0.0, v2 * log(v2 / mean))
          .otherwise(0.0)).as(s"${s}_js2"))
    }

    val inf = lit(Double.PositiveInfinity)
    val finalCols: Seq[Column] = measureShort.flatMap { s =>
      val man = col(s"${s}_man")
      val euc = col(s"${s}_euc")
      val cosRaw = col(s"${s}_dot") / (sqrt(col(s"${s}_n1")) * sqrt(col(s"${s}_n2")))
      val jacRaw = col(s"${s}_min") / col(s"${s}_max")
      val diceRaw = lit(2.0) * col(s"${s}_min") / col(s"${s}_sum")
      val js = col(s"${s}_js1") + col(s"${s}_js2")
      Seq(
        when(isnan(man), inf).otherwise(man).as(s"${s}_manhattan"),
        when(euc < 0.0 || isnan(euc), inf).otherwise(sqrt(euc)).as(s"${s}_euclidean"),
        when(col(s"${s}_n1") <= 0.0 || col(s"${s}_n2") <= 0.0 || isnan(cosRaw),
          lit(0.0)).otherwise(cosRaw).as(s"${s}_cosine"),
        when(col(s"${s}_max") === 0.0 || isnan(jacRaw), lit(0.0))
          .otherwise(jacRaw).as(s"${s}_jaccard"),
        when(col(s"${s}_sum") === 0.0 || isnan(diceRaw), lit(0.0))
          .otherwise(diceRaw).as(s"${s}_dice"),
        when(isnan(js), inf).otherwise(js).as(s"${s}_js"))
    }

    pf.groupBy("w1", "w2", "related")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w1") +: col("w2") +: col("related") +: finalCols: _*)
  }
}
