package graft.ml

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipeline.PairVectors

/** Reference Step 5 / WekaModel re-expressed on spark.ml: 24-dim similarity
  * vectors → RandomForest → 10-fold cross-validated evaluation report
  * (accuracy, per-class precision/recall/F1, confusion matrix).
  *
  * Weka ↔ MLlib forests are different algorithms (SURVEY §7.4): parameters
  * are pinned toward Weka's defaults (numTrees=100 like Weka's iteration
  * count, maxDepth=30 = MLlib's cap standing in for Weka's unlimited,
  * featureSubsetStrategy="sqrt" ≈ Weka's log2+1), folds are seeded with 42
  * like the reference (`Step5.java:133-148`), and acceptance is a metric
  * band, not bit equality.
  */
object Classify {

  final case class Report(
      folds: Int,
      nInstances: Long,
      accuracy: Double,
      kappa: Double,
      aucSimilar: Double,
      precisionSimilar: Double,
      recallSimilar: Double,
      f1Similar: Double,
      weightedPrecision: Double,
      weightedRecall: Double,
      weightedF1: Double,
      mae: Double,
      rmse: Double,
      tp: Long, fn: Long, fp: Long, tn: Long) {

    /** Free-text rendering in the spirit of the reference's Weka report
      * (`Step5.java:150-167`, `README.md:111-132`).
      */
    def render: String =
      f"""=== $folds%d-fold cross-validation ===
         |Correctly classified:   ${(accuracy * nInstances).round}%d / $nInstances%d  (${accuracy * 100}%.4f %%)
         |Kappa statistic:        $kappa%.4f
         |Mean absolute error:    $mae%.4f
         |Root mean squared error: $rmse%.4f
         |ROC area (similar):     $aucSimilar%.4f
         |
         |=== Class "similar" ===
         |Precision: $precisionSimilar%.3f  Recall: $recallSimilar%.3f  F1: $f1Similar%.3f
         |=== Weighted avg ===
         |Precision: $weightedPrecision%.3f  Recall: $weightedRecall%.3f  F1: $weightedF1%.3f
         |
         |=== Confusion matrix ===
         |              predicted
         |actual     similar  not-similar
         |similar    $tp%8d  $fn%11d
         |not-sim    $fp%8d  $tn%11d""".stripMargin
  }

  /** Vectors DF (`related: Boolean` + the 24 [[PairVectors.vectorColumns]])
    * → out-of-fold predictions for every instance, via seeded 10-fold CV.
    * Non-finite features (the reference's Infinity sentinels surviving in
    * faithful mode) are clipped to ±1e15 — MLlib trees reject NaN/Inf.
    *
    * Jobs: one count sizes the input; one `reduceByKey` gives each fold
    * its (rows, max label) and materializes the cached `(fold, label,
    * features)` rows; each live fold's forest fit (dozens of small jobs,
    * up to four folds at once); one count materializes the result. A
    * fold is live when it has rows to test and rows to train on; with no
    * live fold the result is empty and one warning naming the fold sizes
    * goes to stderr. Everything it caches (the prepared and the labeled
    * input, the rows, the broadcast models) is released before it returns,
    * except the result, which is returned cached: callers unpersist it
    * (run() does).
    *
    * The fold loop runs on the cached RDD, not on Catalyst plans: a fold
    * number in a plan is an int literal inlined into the generated Java,
    * so per-fold plans would give each fold its own classes, more than the
    * 100-entry codegen cache holds, and every warm call would compile them
    * all again. The plan prefix (clip, label, folds, `repartition(parts)`)
    * fixes the row order and partitioning, which decide each forest's
    * bagging; training sets keep that layout, and the scores come out
    * fold-major, so the report's float sums add in a fixed order.
    */
  def crossValPredictions(vectors: DataFrame, folds: Int = 10,
      seed: Long = 42L, numTrees: Int = 100): DataFrame = {
    val spark = vectors.sparkSession
    val cols = PairVectors.vectorColumns
    val clipped = cols.foldLeft(vectors) { (df, c) =>
      df.withColumn(c,
        when(isnan(col(c)), 0.0)
          .when(col(c) > 1e15, 1e15)
          .when(col(c) < -1e15, -1e15)
          .otherwise(col(c)))
    }
    val prepared = clipped
      .withColumn("label", col("related").cast("double"))
      .cache()
    // MLlib tree fitting launches dozens of jobs per forest; leaving a
    // small training set scattered over shuffle-partition-count mostly-empty
    // partitions multiplies task-scheduling overhead ~20x (observed: 63s →
    // 3s for the battery's 8-row smoke). Size partitions to the data.
    val n = prepared.count()
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (n / 5000L).toInt + 1))
    // Stratified fold assignment (as Weka's CV does): within each label,
    // spread rows round-robin over folds in a seeded order. The order is
    // a CONTENT HASH of the pair key when one is present (deterministic
    // under any partitioning AND oracle-replayable — see
    // [[stratifiedFolds]]); inputs without (w1, w2) fall back to the
    // partition-seeded rand order (still seed-reproducible on a fixed
    // plan, just not content-addressed).
    val labeled = (
      if (prepared.columns.contains("w1") && prepared.columns.contains("w2"))
        stratifiedFolds(prepared, Seq("w1", "w2"), "label", folds, seed)
      else prepared.withColumn("fold",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("label").orderBy(rand(seed))) % folds).cast("int")))
      .repartition(parts)
      // cached whole: the round-robin exchange sorts rows by their hash
      // before dealing them, so a column-pruned select of this plan would
      // deal them differently and change every forest's bagging
      .cache()
    val assembled = new VectorAssembler().setInputCols(cols.toArray)
      .setOutputCol("features").transform(labeled)
    val rows = assembled.select("fold", "label", "features").rdd
      .map(r => (r.getInt(0), r.getDouble(1), r.getAs[Vector](2))).cache()
    val sizes = rows.map(r => r._1 -> (1L, r._2))
      .reduceByKey((a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      .collectAsMap()
    prepared.unpersist()
    labeled.unpersist()
    val live = (0 until folds).filter(k => sizes.get(k).exists(_._1 < n))
    if (live.isEmpty) System.err.println(s"warning: Classify: no live fold " +
      s"(fold sizes ${(0 until folds).map(sizes.get(_).fold(0L)(_._1)).mkString(
        "[", ", ", "]")} of $n rows): no fold has rows to test and to train on")
    // A training set keeps the assembler's `features` field; its `label`
    // field names the class count (the training folds' max label + 1), as
    // the fit would otherwise compute with a job of its own.
    def training(k: Int) = spark.createDataFrame(
      rows.filter(_._1 != k).map(r => Row(r._2, r._3)),
      StructType(Seq(NominalAttribute.defaultAttr.withName("label").withNumValues(
        sizes.collect { case (j, (_, m)) if j != k => m.toInt + 1 }.max)
        .toStructField(), assembled.schema("features"))))
    val rf = new RandomForestClassifier()
      .setNumTrees(numTrees).setMaxDepth(30)
      .setFeatureSubsetStrategy("sqrt").setSeed(seed)
      .setLabelCol("label").setFeaturesCol("features")
    // Live folds fit concurrently (each fit is dozens of small jobs, so
    // overlapping folds reclaims scheduling latency), each on its own
    // estimator copy. The model copy drops the trainingSummary, which pins
    // the SparkSession: a session whose ObservationManager is initialized
    // is not java-serializable, so the broadcast below would fail
    // (ClassifySpec pins the interaction).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(live.size, 4)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val models = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(live.map(k => scala.concurrent.Future(
        k -> rf.copy(ParamMap.empty).fit(training(k)).copy(ParamMap.empty)))),
      scala.concurrent.duration.Duration.Inf).toMap
    finally pool.shutdown()
    // Every out-of-fold row is scored by its own fold's model through one
    // broadcast lookup. Scores come out fold-major: one partition per fold
    // and input partition, or, from a single input partition, one
    // partition holding the folds in order. The report's MAE and RMSE sums
    // add in that order, so it fixes their bits (ClassifySpec pins both).
    val bc = spark.sparkContext.broadcast(models)
    def scored(k: Int)(it: Iterator[(Int, Double, Vector)]) = it.collect {
      case (`k`, l, v) => val (pr, p) = scoreRow(bc.value(k), v); (l, pr, p) }
    val out = spark.createDataFrame(
      if (parts > 1) spark.sparkContext.union(live.map(k =>
        rows.mapPartitions(scored(k))))
      else rows.mapPartitions { it =>
        val a = it.toArray; live.iterator.flatMap(k => scored(k)(a.iterator)) })
      .toDF("label", "prediction", "p_similar").cache()
    out.count()
    rows.unpersist()
    bc.unpersist()
    out
  }

  /** (prediction, P(similar)) of one row exactly as `model.transform`
    * derives them: the argmax of the raw votes and the normalized class
    * probabilities. A model trained on a single class yields a 1-element
    * probability vector; P(similar) is then recovered from the lone
    * class's probability.
    */
  private[graft] def scoreRow(model: RandomForestClassificationModel,
      v: Vector): (Double, Double) = {
    val prediction = model.predictRaw(v).argmax.toDouble
    val p = model.predictProbability(v)
    (prediction,
      if (p.size == 2) p(1) else if (prediction == 1.0) p(0) else 1.0 - p(0))
  }

  /** Seeded stratified fold assignment as PURE HASH ARITHMETIC: within
    * each label, rows are ordered by the md5 of their seed-salted id and
    * dealt round-robin over `folds` (Weka's stratified CV shape,
    * `Step5.java:133-148` seeding discipline). Content-hash ordering —
    * not `rand(seed)`, whose draw depends on partition index — makes the
    * assignment a function of the ROW alone: identical under any
    * partitioning, any cluster size, and replayable by any engine with
    * md5 (the DuckDB oracle hash-checks it). Round-robin keeps folds
    * exactly balanced per label, so no fold lacks train data even on
    * tiny gold sets.
    *
    * Appends `fold` ∈ [0, folds). The window partitions by LABEL (one
    * sort task per class): right for gold-standard-bounded CV inputs;
    * for corpus-scale splits use [[hashFolds]], which needs no window.
    */
  def stratifiedFolds(df: DataFrame, idCols: Seq[String],
      labelCol: String, folds: Int, seed: Long = 42L): DataFrame = {
    require(folds >= 2, s"folds=$folds must be >= 2")
    require(idCols.nonEmpty, "need at least one id column")
    val h = md5(concat_ws(":",
      lit(s"cv$seed") +: idCols.map(c => col(c).cast("string")): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(labelCol))
      .orderBy(h +: idCols.map(col): _*)
    df.withColumn("fold", ((row_number().over(w) - 1) % folds).cast("int"))
  }

  /** Corpus-scale fold/split assignment with NO window and NO shuffle:
    * `fold = (first 8 hex digits of md5(seed-salted id)) mod folds` — a
    * narrow per-row expression, so it composes with any plan at any
    * scale. Statistically (not exactly) balanced: each fold gets a
    * Binomial(n, 1/folds) share, which at corpus scale is equal to
    * rounding error; on tiny inputs prefer [[stratifiedFolds]]'
    * round-robin. md5-prefix arithmetic (not xxhash64) so the DuckDB
    * oracle replays it digit for digit. The k-FOLD sibling of
    * [[graft.ops.Sampling.contentSplit]]'s weighted named splits (same
    * hash-the-row discipline; that one draws a unit from the TEXT
    * content for leakage-safe train/test cuts, this one deals equal
    * folds from the id for cross-validation).
    */
  def hashFolds(df: DataFrame, idCols: Seq[String], folds: Int,
      seed: Long = 42L, foldCol: String = "fold"): DataFrame = {
    require(folds >= 2, s"folds=$folds must be >= 2")
    require(idCols.nonEmpty, "need at least one id column")
    val h = md5(concat_ws(":",
      lit(s"cv$seed") +: idCols.map(c => col(c).cast("string")): _*))
    df.withColumn(foldCol,
      pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(folds))
        .cast("int"))
  }

  /** The report algebra as ONE declarative aggregation — the
    * oracle-checkable form, and the one [[evaluate]] reads: confusion
    * counts, accuracy, Cohen's kappa, positive-class and weighted
    * precision/recall/F1, and (when a `p_similar` column is present)
    * Weka's MAE/RMSE, computed from a (label, prediction[, p_similar])
    * relation in a single one-row DataFrame; a zero denominator gives 0.
    * AUC is the one metric left to [[evaluate]]: it needs the scores in
    * rank order, which [[evaluate]] sorts on the driver.
    */
  def evaluateDf(predictions: DataFrame): DataFrame = {
    val l = col("label").cast("double")
    val p = col("prediction").cast("double")
    def cell(lv: Double, pv: Double) = count(when(l === lv && p === pv, 1L))
    val hasProb = predictions.columns.contains("p_similar")
    val d = if (hasProb) col("p_similar").cast("double") - l else lit(0.0)
    val n = col("tp") + col("fn") + col("fp") + col("tn")
    def ratio(num: Column, den: Column) =
      when(den === 0L, 0.0).otherwise(num.cast("double") / den)
    val prec = ratio(col("tp"), col("tp") + col("fp"))
    val rec = ratio(col("tp"), col("tp") + col("fn"))
    val precN = ratio(col("tn"), col("tn") + col("fn"))
    val recN = ratio(col("tn"), col("tn") + col("fp"))
    def f1Of(pr: Column, rc: Column) =
      when(pr + rc === 0.0, 0.0).otherwise(lit(2.0) * pr * rc / (pr + rc))
    val acc = ratio(col("tp") + col("tn"), n)
    // chance agreement from the margins; kappa 0 at pe = 1
    val pe = when(n === 0L, 0.0).otherwise(
      ((col("tp") + col("fn")).cast("double") * (col("tp") + col("fp"))
        + (col("tn") + col("fp")).cast("double") * (col("tn") + col("fn")))
        / (n.cast("double") * n.cast("double")))
    val wPos = (col("tp") + col("fn")).cast("double") /
      greatest(n, lit(1L)).cast("double")
    val wNeg = (col("tn") + col("fp")).cast("double") /
      greatest(n, lit(1L)).cast("double")
    predictions
      .agg(cell(1.0, 1.0).as("tp"), cell(1.0, 0.0).as("fn"),
        cell(0.0, 1.0).as("fp"), cell(0.0, 0.0).as("tn"),
        coalesce(avg(abs(d)), lit(0.0)).as("mae"),
        coalesce(sqrt(avg(d * d)), lit(0.0)).as("rmse"))
      .select(n.as("n"), col("tp"), col("fn"), col("fp"), col("tn"),
        acc.as("accuracy"),
        when(pe === 1.0, 0.0).otherwise((acc - pe) / (lit(1.0) - pe))
          .as("kappa"),
        prec.as("precision_similar"), rec.as("recall_similar"),
        f1Of(prec, rec).as("f1_similar"),
        (wPos * prec + wNeg * precN).as("weighted_precision"),
        (wPos * rec + wNeg * recN).as("weighted_recall"),
        (wPos * f1Of(prec, rec) + wNeg * f1Of(precN, recN))
          .as("weighted_f1"),
        col("mae"), col("rmse"))
  }

  /** Confusion-matrix evaluation of out-of-fold predictions ("similar" =
    * the positive class, as in `README.md:150-154`): [[evaluateDf]]'s one
    * row plus the AUC, from the (score, label) pairs collected and sorted
    * on the driver (one per prediction row). MAE/RMSE are Weka's for a classifier
    * (`README.md:114-115,143-144` of the reference; Weka
    * `Evaluation.updateNumericScores`): for two classes both per-class
    * differences have the magnitude |P(similar) − label|, so
    * MAE = mean |p − y| and RMSE = sqrt(mean (p − y)²).
    */
  def evaluate(predictions: DataFrame, folds: Int = 10): Report = {
    val r = evaluateDf(predictions).head()
    def d(c: String) = r.getAs[Double](c)
    def l(c: String) = r.getAs[Long](c)
    Report(folds, l("n"), d("accuracy"), d("kappa"), aucFromScores(predictions),
      d("precision_similar"), d("recall_similar"), d("f1_similar"),
      d("weighted_precision"), d("weighted_recall"), d("weighted_f1"),
      d("mae"), d("rmse"), l("tp"), l("fn"), l("fp"), l("tn"))
  }

  /** ROC area for the positive class via the Mann-Whitney rank statistic
    * over P(similar), with average ranks for ties. The predictions hold
    * one row per labeled pair, so their (score, label) pairs are sorted on
    * the driver by `java.lang.Double.compare`: -0.0 ranks below +0.0 and
    * NaN above every number, each forming its own tie group. Every
    * rank-sum term is a multiple of 0.5 below 2^53, so the sums are exact.
    */
  private def aucFromScores(predictions: DataFrame): Double = {
    if (!predictions.columns.contains("p_similar")) return 0.0
    val scored = predictions
      .select(col("p_similar").cast("double"), col("label").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1) == 1.0))
      .sortBy(_._1)(Ordering.Double.TotalOrdering)
    var (i, posRankSum, npos) = (0, 0.0, 0L)
    while (i < scored.length) {
      val s = scored(i)._1
      val end = scored.indexWhere(x => java.lang.Double.compare(x._1, s) != 0, i)
      val j = if (end < 0) scored.length else end
      val (cnt, pos) = ((j - i).toLong, scored.slice(i, j).count(_._2).toLong)
      // ranks i+1 .. j share the average rank
      posRankSum += pos * (i + (cnt + 1) / 2.0)
      npos += pos
      i = j
    }
    val nneg = scored.length - npos
    if (npos == 0 || nneg == 0) 0.0
    else (posRankSum - npos.toDouble * (npos + 1) / 2) /
      (npos.toDouble * nneg)
  }

  /** End-to-end: vectors → CV → report (the engine's `classify` entry,
    * reference entry point 3, `WekaModel.java:176-207`).
    */
  def run(vectors: DataFrame, folds: Int = 10, seed: Long = 42L): Report = {
    val preds = crossValPredictions(vectors, folds, seed)
    try evaluate(preds, folds) finally preds.unpersist()
  }
}
