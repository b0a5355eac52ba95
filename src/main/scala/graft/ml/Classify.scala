package graft.ml

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
    */
  def crossValPredictions(vectors: DataFrame, folds: Int = 10,
      seed: Long = 42L, numTrees: Int = 100): DataFrame = {
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
    val parts = math.max(1, math.min(
      vectors.sparkSession.sparkContext.defaultParallelism,
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
      .cache()
    val assembler = new VectorAssembler()
      .setInputCols(cols.toArray).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setNumTrees(numTrees).setMaxDepth(30)
      .setFeatureSubsetStrategy("sqrt").setSeed(seed)
      .setLabelCol("label").setFeaturesCol("features")
    // One job sizes the folds; a fold is live when it has rows to test
    // and rows to train on. Live folds fit concurrently (each fit is
    // dozens of small jobs, so overlapping folds reclaims scheduling
    // latency), each on its own estimator copy. The model copy drops the
    // trainingSummary, which pins the SparkSession: a session whose
    // ObservationManager is initialized is not java-serializable, so the
    // broadcast below would fail (ClassifySpec pins the interaction).
    val sizes = labeled.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val live = (0 until folds).filter(k => sizes.get(k).exists(_ < n))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(live.size, 4)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val models = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(live.map(k => scala.concurrent.Future(
        k -> rf.copy(ParamMap.empty)
          .fit(assembler.transform(labeled.where(col("fold") =!= k)))
          .copy(ParamMap.empty)))),
      scala.concurrent.duration.Duration.Inf).toMap
    finally pool.shutdown()
    // Every out-of-fold row is scored by its own fold's model through one
    // broadcast lookup; the union keeps the fold-major row layout, so the
    // report's float sums add in a fixed order.
    val bc = vectors.sparkSession.sparkContext.broadcast(models)
    val score = udf((k: Int, v: Vector) => scoreRow(bc.value(k), v))
    val scored = assembler.transform(labeled)
      .select(col("fold"), col("label"), score(col("fold"), col("features")).as("s"))
      .select(col("fold"), col("label"), col("s._1").as("prediction"),
        col("s._2").as("p_similar"))
    // Materialize the out-of-fold predictions (gold-bounded: one row per
    // labeled pair) while the fold caches are still warm, then release
    // them — otherwise every battery/bench run leaks two cached relations
    // for the session's lifetime. Callers that keep the result past one
    // evaluation should unpersist it (run() does).
    val out = live.map(k => scored.where(col("fold") === k))
      .reduceOption(_ union _).getOrElse(scored.where(lit(false)))
      .drop("fold").cache()
    out.count()
    prepared.unpersist()
    labeled.unpersist()
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
    * AUC is the one metric left to [[evaluate]] — it needs the rank pass.
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
    * row plus the AUC. MAE/RMSE are Weka's for a classifier
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
    * over P(similar), with average ranks for ties — computed distributed
    * with NO single-partition global window (the textbook scale-killer):
    * a range-partitioned sort puts every tie group wholly inside one
    * partition, pass 1 collects per-partition row counts (tiny: one long
    * per partition), pass 2 turns those into rank offsets and accumulates
    * the positive-class rank sum per partition.
    */
  private def aucFromScores(predictions: DataFrame): Double = {
    if (!predictions.columns.contains("p_similar")) return 0.0
    val sc = predictions.sparkSession.sparkContext
    val scored = predictions
      .select(col("p_similar").cast("double"), col("label").cast("double"))
      .rdd.map(r => (r.getDouble(0), r.getDouble(1) == 1.0))
    if (scored.isEmpty()) return 0.0
    // RangePartitioner keeps equal keys in one partition, so tie groups
    // never straddle a boundary and average ranks stay exact.
    val sorted = scored.sortByKey(ascending = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = sorted
        .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)),
          preservesPartitioning = true)
        .collect().sortBy(_._1).map(_._2)
      val offsets = sc.broadcast(sizes.scanLeft(0L)(_ + _))
      val (posRankSum, npos, nneg) = sorted.mapPartitionsWithIndex {
        (pid, it) =>
          var rank = offsets.value(pid) // rows in partitions before this one
          var prs = 0.0; var np = 0L; var nn = 0L
          val buf = it.buffered
          while (buf.hasNext) {
            val s = buf.head._1
            var cnt = 0L; var pos = 0L
            // bit-compare, not ==: a NaN score must form (and terminate)
            // its own tie group — `NaN == NaN` is false and would spin
            // this loop forever without consuming the element
            while (buf.hasNext &&
                java.lang.Double.compare(buf.head._1, s) == 0) {
              if (buf.next()._2) pos += 1
              cnt += 1
            }
            // ranks rank+1 .. rank+cnt share the average rank
            prs += pos * (rank + (cnt + 1) / 2.0)
            np += pos; nn += cnt - pos
            rank += cnt
          }
          Iterator((prs, np, nn))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      if (npos == 0 || nneg == 0) 0.0
      else (posRankSum - npos.toDouble * (npos + 1) / 2) /
        (npos.toDouble * nneg)
    } finally sorted.unpersist(blocking = false)
  }

  /** End-to-end: vectors → CV → report (the engine's `classify` entry,
    * reference entry point 3, `WekaModel.java:176-207`).
    */
  def run(vectors: DataFrame, folds: Int = 10, seed: Long = 42L): Report = {
    val preds = crossValPredictions(vectors, folds, seed)
    try evaluate(preds, folds) finally preds.unpersist()
  }
}
