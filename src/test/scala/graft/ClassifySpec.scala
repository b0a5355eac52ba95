package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Classify
import graft.pipeline.{PairVectors, SemanticPipeline}

class ClassifySpec extends AnyFunSuite with SparkTestBase {

  /** Deterministic synthetic 24-dim vectors: related pairs get
    * high-similarity / low-distance profiles, unrelated the opposite, with
    * id-derived pseudo-noise — separable, so CV accuracy must be high.
    */
  private def syntheticVectors(n: Int, posEvery: Int = 4) = {
    val base = spark.range(n.toLong).toDF("id")
      .withColumn("related", col("id") % posEvery === 0)
      .withColumn("noise", sin(col("id").cast("double")) * 0.05)
    PairVectors.vectorColumns.zipWithIndex.foldLeft(
      base.withColumn("w1", concat(lit("a"), col("id")))
        .withColumn("w2", concat(lit("b"), col("id")))) {
      case (df, (c, i)) =>
        val sim = c.endsWith("cosine") || c.endsWith("jaccard") || c.endsWith("dice")
        val high = when(col("related"), lit(if (sim) 0.9 else 2.0))
          .otherwise(lit(if (sim) 0.1 else 40.0))
        df.withColumn(c, high + col("noise") * (i + 1))
    }
  }

  test("cross-validated RF separates a separable problem") {
    val report = Classify.evaluate(
      Classify.crossValPredictions(syntheticVectors(800), folds = 5,
        seed = 42L, numTrees = 20))
    assert(report.nInstances == 800)
    assert(report.accuracy > 0.95, s"accuracy ${report.accuracy}")
    assert(report.tp + report.fn == 200) // positives preserved
    assert(report.tp + report.fn + report.fp + report.tn == 800)
    assert(report.f1Similar > 0.9)
    assert(report.kappa > 0.85, s"kappa ${report.kappa}")
    assert(report.aucSimilar > 0.95, s"auc ${report.aucSimilar}")
    assert(report.weightedF1 > 0.9)
    assert(report.render.contains("Confusion matrix"))
  }

  test("hand-rolled metrics agree with spark.ml's MulticlassClassificationEvaluator") {
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    val preds = Classify.crossValPredictions(syntheticVectors(400), folds = 4,
      seed = 11L, numTrees = 15).cache()
    val report = Classify.evaluate(preds, 4)
    def ev(metric: String) = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName(metric).evaluate(preds)
    assert(math.abs(report.accuracy - ev("accuracy")) < 1e-12)
    assert(math.abs(report.weightedPrecision - ev("weightedPrecision")) < 1e-12)
    assert(math.abs(report.weightedRecall - ev("weightedRecall")) < 1e-12)
    assert(math.abs(report.weightedF1 - ev("weightedFMeasure")) < 1e-9)
    preds.unpersist()
  }

  test("distributed AUC matches BinaryClassificationEvaluator; MAE/RMSE match hand-computed") {
    import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
    val preds = Classify.crossValPredictions(syntheticVectors(400), folds = 4,
      seed = 11L, numTrees = 15).cache()
    val report = Classify.evaluate(preds, 4)
    // trapezoid AUC over score thresholds == Mann-Whitney with average ranks
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("p_similar")
      .setMetricName("areaUnderROC").evaluate(preds)
    assert(math.abs(report.aucSimilar - auc) < 1e-9,
      s"auc ${report.aucSimilar} vs evaluator $auc")
    // Weka binary-case MAE/RMSE on out-of-fold P(similar)
    val rows = preds.select("p_similar", "label").collect()
    val diffs = rows.map(r => r.getDouble(0) - r.getDouble(1))
    val mae = diffs.map(math.abs).sum / diffs.length
    val rmse = math.sqrt(diffs.map(d => d * d).sum / diffs.length)
    assert(math.abs(report.mae - mae) < 1e-9, s"mae ${report.mae} vs $mae")
    assert(math.abs(report.rmse - rmse) < 1e-9,
      s"rmse ${report.rmse} vs $rmse")
    assert(report.render.contains("Mean absolute error"))
    preds.unpersist()
  }

  test("evaluate terminates and degrades sanely on NaN scores") {
    val s2 = spark; import s2.implicits._
    // NaN == NaN is false: a naive tie-group loop would never consume the
    // NaN row and spin forever — this pins the bit-compare fix
    val preds = Seq(
      (1.0, 1.0, 0.9), (0.0, 0.0, 0.1), (1.0, 1.0, Double.NaN),
      (0.0, 1.0, 0.4))
      .toDF("label", "prediction", "p_similar")
    val report = Classify.evaluate(preds, folds = 2)
    assert(report.nInstances == 4)
    assert(!report.accuracy.isNaN)
  }

  test("AUC keeps its raw bits on tied scores, a NaN score, signed " +
      "zeros and a one-class input") {
    val s2 = spark; import s2.implicits._
    // sorted by java.lang.Double.compare: -0.0 | 0.0 x3 | 0.2 | 0.4 x2 |
    // 0.9 x3 | NaN, positives ranked 1, 3, 6.5, 9, 9, 11 (tie averages):
    // (39.5 - 6 * 7 / 2) / (6 * 5)
    val preds = Seq((1.0, 1.0, 0.9), (0.0, 1.0, 0.9), (1.0, 1.0, 0.9),
      (0.0, 0.0, 0.0), (1.0, 0.0, -0.0), (0.0, 0.0, 0.0),
      (1.0, 1.0, Double.NaN), (0.0, 0.0, 0.4), (1.0, 0.0, 0.4),
      (0.0, 0.0, 0.2), (1.0, 0.0, 0.0))
      .toDF("label", "prediction", "p_similar").repartition(3)
    def bits(df: org.apache.spark.sql.DataFrame) =
      java.lang.Double.doubleToRawLongBits(
        Classify.evaluate(df, folds = 2).aucSimilar)
    assert(bits(preds) == 0x3fe3bbbbbbbbbbbcL, bits(preds).toHexString)
    assert(bits(preds.where(col("label") === 1.0)) == 0L)
  }

  test("CV survives a session whose ObservationManager is initialized " +
      "(Observation x MLlib trainingSummary serialization interaction)") {
    val s2 = spark; import s2.implicits._
    // any Observation user initializes the shared session's (non-
    // serializable) ObservationManager; a fitted model's trainingSummary
    // pins the session, so WITHOUT the model.copy in crossValPredictions
    // the broadcast of the fold models fails serialization
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    graft.ops.Dedup.spillCertificate(docs, 3).collect()
    val v = syntheticVectors(60)
    val r = Classify.evaluate(Classify.crossValPredictions(v, 2, 3L, 5))
    assert(r.nInstances == 60)
  }

  test("fewer rows than folds: one out-of-fold row per input row") {
    // 8 rows (4 per label) over 10 folds: folds 0-3 hold one row of each
    // label, folds 4-9 are empty; 60 rows over 2 folds: both folds live
    for ((v, folds) <- Seq((syntheticVectors(8, posEvery = 2), 10),
        (syntheticVectors(60), 2))) {
      val n = v.count()
      val preds = Classify.crossValPredictions(v, folds, 42L, 5)
      try {
        assert(preds.count() == n, s"folds=$folds")
        assert(Classify.evaluate(preds, folds).nInstances == n)
      } finally preds.unpersist()
    }
  }

  test("fold-lookup scorer matches model.transform bit for bit, " +
      "including a model trained on one class") {
    import org.apache.spark.ml.classification.RandomForestClassifier
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.ml.linalg.Vector
    val rows = new VectorAssembler()
      .setInputCols(PairVectors.vectorColumns.toArray).setOutputCol("features")
      .transform(noisyVectors(300)
        .withColumn("label", col("related").cast("double")))
    val rf = new RandomForestClassifier().setNumTrees(10).setMaxDepth(30)
      .setFeatureSubsetStrategy("sqrt").setSeed(42L)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // both classes: 2-element probabilities; negatives only: 1-element
    for ((train, classes) <- Seq((rows, 2), (rows.where(col("label") === 0.0), 1))) {
      // the copy drops the trainingSummary (see the ObservationManager test)
      val model = rf.fit(train).copy(org.apache.spark.ml.param.ParamMap.empty)
      assert(model.numClasses == classes)
      val arr = vector_to_array(col("probability"))
      val want = model.transform(rows).select(col("features"),
        col("prediction"),
        when(size(arr) === 2, element_at(arr, 2))
          .otherwise(when(col("prediction") === 1.0, element_at(arr, 1))
            .otherwise(lit(1.0) - element_at(arr, 1))))
        .collect()
      for (r <- want) {
        val (prediction, pSimilar) = Classify.scoreRow(model, r.getAs[Vector](0))
        assert(bits(prediction) == bits(r.getDouble(1)), r)
        assert(bits(pSimilar) == bits(r.getDouble(2)), r)
      }
    }
  }

  test("seeded CV is reproducible") {
    val v = syntheticVectors(200)
    val r1 = Classify.evaluate(Classify.crossValPredictions(v, 3, 7L, 10))
    val r2 = Classify.evaluate(Classify.crossValPredictions(v, 3, 7L, 10))
    assert(r1 == r2)
  }

  test("a warm cross-validation compiles no generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // a fold number inlined into a plan gives every fold its own classes,
    // more than the 100-entry codegen cache holds, so each call would
    // compile them all again
    val v = noisyVectors(400)
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Classify.crossValPredictions(v, folds = 10, seed = 42L, numTrees = 2)
        .unpersist()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles()
    assert(compiles() == 0L)
  }

  test("CV pins confusion counts, raw AUC/MAE/RMSE bits and the " +
      "out-of-fold rows in output order, on one and on two partitions") {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d).toHexString
    // 1,200 rows train on one partition; 6,000 on two (parts = n/5000 + 1),
    // whose round-robin layout decides each forest's bagging
    for ((n, folds, want) <- Seq(
        (1200, 10, (386L, 14L, 11L, 789L, "3fefa016f0068db9", "3fa69d0369d036a6",
          "3fc31eee5923ee37", "c4751dbb7885c3cf", 1)),
        (6000, 5, (1974L, 26L, 4L, 3996L, "3fefe3c7f77af640", "3f85e4c9e49832e5",
          "3fb36612039e6be4", "70a46b44c4660475", 10)))) {
      val preds = Classify.crossValPredictions(noisyVectors(n), folds,
        42L, numTrees = 3)
      try {
        val r = Classify.evaluate(preds, folds)
        val got = (r.tp, r.fn, r.fp, r.tn, bits(r.aucSimilar), bits(r.mae),
          bits(r.rmse), rowsDigest(preds), preds.rdd.getNumPartitions)
        assert(got == want, s"n=$n")
      } finally preds.unpersist()
    }
  }

  test("CV warns on stderr, naming the fold sizes, when no fold is live") {
    // one row per label over 2 folds: both rows deal into fold 0, so no
    // fold has both rows to test and rows to train on
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val preds = try Classify.crossValPredictions(
      syntheticVectors(2, posEvery = 2), 2, 42L, 5)
    finally System.setErr(saved)
    try assert(preds.count() == 0L) finally preds.unpersist()
    val warned = err.toString("UTF-8").linesIterator
      .filter(_.contains("no live fold")).toSeq
    assert(warned.size == 1 && warned.head.contains("fold sizes [2, 0]"),
      warned)
  }

  /** SHA-256 prefix over the raw bits of (label, prediction, p_similar),
    * row by row in the order the predictions are collected.
    */
  private def rowsDigest(preds: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(24)
    for (r <- preds.select("label", "prediction", "p_similar").collect()) {
      buf.clear()
      (0 until 3).foreach(i =>
        buf.putLong(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
      md.update(buf.array())
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  test("evaluateDf computes exactly evaluate's report algebra (1e-12), " +
      "including the zero-denominator conventions") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(19)
    val mixed = (1 to 300).map { _ =>
      (if (rnd.nextBoolean()) 1.0 else 0.0,
        if (rnd.nextBoolean()) 1.0 else 0.0, rnd.nextDouble())
    }.toDF("label", "prediction", "p_similar")
    // all-positive-predicted (tn + fn = 0) and single-class fixtures
    // exercise the 0/0 conventions; the mixed fixture the main algebra
    val onePred = Seq((1.0, 1.0, 0.8), (0.0, 1.0, 0.7))
      .toDF("label", "prediction", "p_similar")
    val oneClass = Seq((1.0, 1.0, 0.8), (1.0, 0.0, 0.3))
      .toDF("label", "prediction", "p_similar")
    for (fx <- Seq(mixed, onePred, oneClass)) {
      val r = Classify.evaluate(fx, folds = 2)
      val d = Classify.evaluateDf(fx).head()
      def ok(name: String, got: Double, want: Double) =
        assert(math.abs(got - want) < 1e-12, s"$name: $got vs $want")
      assert(d.getAs[Long]("n") == r.nInstances)
      assert(d.getAs[Long]("tp") == r.tp && d.getAs[Long]("fn") == r.fn &&
        d.getAs[Long]("fp") == r.fp && d.getAs[Long]("tn") == r.tn)
      ok("accuracy", d.getAs[Double]("accuracy"), r.accuracy)
      ok("kappa", d.getAs[Double]("kappa"), r.kappa)
      ok("precision", d.getAs[Double]("precision_similar"), r.precisionSimilar)
      ok("recall", d.getAs[Double]("recall_similar"), r.recallSimilar)
      ok("f1", d.getAs[Double]("f1_similar"), r.f1Similar)
      ok("w_precision", d.getAs[Double]("weighted_precision"),
        r.weightedPrecision)
      ok("w_recall", d.getAs[Double]("weighted_recall"), r.weightedRecall)
      ok("w_f1", d.getAs[Double]("weighted_f1"), r.weightedF1)
      ok("mae", d.getAs[Double]("mae"), r.mae)
      ok("rmse", d.getAs[Double]("rmse"), r.rmse)
    }
  }

  test("stratifiedFolds: exact per-label round-robin balance, " +
      "partition-independent; hashFolds: partition-independent and " +
      "statistically balanced") {
    val s2 = spark; import s2.implicits._
    val fx = (1L to 403L).map(id => (id, (id % 3 == 0).toString))
      .toDF("id", "lab")
    val a = Classify.stratifiedFolds(fx, Seq("id"), "lab", 10, seed = 5L)
    val b = Classify.stratifiedFolds(fx.repartition(7), Seq("id"), "lab",
      10, seed = 5L)
    val fa = a.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val fb = b.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(fa == fb, "fold assignment must be partition-independent")
    // exact round-robin: within each label, fold sizes differ by <= 1
    val sizes = a.groupBy("lab", "fold").count().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)))
    for ((lab, ns) <- sizes)
      assert(ns.max - ns.min <= 1L, s"label $lab fold sizes: ${ns.toSeq}")
    // different seed -> different assignment (salt actually participates)
    val c = Classify.stratifiedFolds(fx, Seq("id"), "lab", 10, seed = 6L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(c != fa)
    val h1 = Classify.hashFolds(fx, Seq("id"), 5, seed = 5L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val h2 = Classify.hashFolds(fx.repartition(7), Seq("id"), 5, seed = 5L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(h1 == h2, "hash folds must be partition-independent")
    val counts = h1.values.groupBy(identity).view.mapValues(_.size)
    assert((0 until 5).forall(f => counts.getOrElse(f, 0) > 40),
      s"every fold gets a share: $counts")
  }

  test("end-to-end on the reference fixtures (smoke: tiny gold standard)") {
    val vecs = SemanticPipeline.vectors(spark,
      ReferenceFixtures.corpus, ReferenceFixtures.gold)
    val report = Classify.run(vecs, folds = 2)
    assert(report.nInstances == 4)
    assert(report.tp + report.fn == 1) // one related pair (about, us)
  }

  test("CV quality band: accuracy and P/R/F1 pinned NUMERICALLY on a " +
      "deterministic overlapping fixture, not just structurally (the " +
      "fixture-scale analog of BASELINE.md:28-33's 93.4% / 0.950 / " +
      "0.300 acceptance run)") {
    // the reference's acceptance numbers come from its proprietary-scale
    // corpus; this pins OUR M2-M4 chain (seeded 10-fold stratified CV ->
    // RF fit -> report algebra) on a fixed synthetic task with genuine
    // class OVERLAP (hash-derived noise at ~the class-mean separation),
    // so an RF or fold regression moves a NUMBER instead of sliding
    // under a learnability floor. Tolerances: +/-0.05 absolute around
    // the pinned values measured on this fixture (seeded CV is
    // bit-reproducible in one environment — ClassifySpec pins that —
    // but RF tie-breaks may drift across Spark/JVM upgrades; 0.05 is
    // far tighter than any real fit/fold defect, which moves these by
    // 0.2+ toward the 0.67 majority floor).
    val report = Classify.evaluate(
      Classify.crossValPredictions(noisyVectors(1200), folds = 10,
        seed = 42L, numTrees = 40),
      folds = 10)
    assert(report.nInstances == 1200L)
    println(s"BAND acc=${report.accuracy} p=${report.precisionSimilar} " +
      s"r=${report.recallSimilar} f1=${report.f1Similar} " +
      s"kappa=${report.kappa} auc=${report.aucSimilar}")
    val pinned = Seq(
      ("accuracy", report.accuracy, PIN_ACC),
      ("precision_similar", report.precisionSimilar, PIN_P),
      ("recall_similar", report.recallSimilar, PIN_R),
      ("f1_similar", report.f1Similar, PIN_F1))
    for ((name, got, want) <- pinned)
      assert(math.abs(got - want) <= 0.05,
        s"$name drifted: got $got, pinned $want (+/-0.05)\n${report.render}")
    // and the fit must be doing real work on the overlapping task:
    // strictly better than the majority class, strictly below perfect
    assert(report.accuracy > 0.70 && report.accuracy < 1.0, report.render)
  }

  /** Deterministic OVERLAPPING 24-dim vectors: class means one noise-
    * width apart with hash-derived uniform noise, so the CV lands at a
    * stable high-90s accuracy — a number a regression can move.
    */
  private def noisyVectors(n: Int) = {
    val base = spark.range(n.toLong).toDF("id")
      .withColumn("related", col("id") % 3 === 0)
    PairVectors.vectorColumns.zipWithIndex.foldLeft(
      base.withColumn("w1", concat(lit("a"), col("id")))
        .withColumn("w2", concat(lit("b"), col("id")))) {
      case (df, (c, i)) =>
        val u = pmod(xxhash64(col("id"), lit(i)), lit(100000L))
          .cast("double") / 100000.0
        val sim = c.endsWith("cosine") || c.endsWith("jaccard") ||
          c.endsWith("dice")
        val mean = when(col("related"), lit(if (sim) 0.6 else 8.0))
          .otherwise(lit(if (sim) 0.4 else 12.0))
        df.withColumn(c, mean + (u - 0.5) * (if (sim) 1.0 else 20.0))
    }
  }
  // pinned from the fixture's measured CV report (this spec, local[4],
  // Spark 4.1.2, seed 42): acc 0.9883, P 0.9849, R 0.9800, F1 0.9825
  private val PIN_ACC = 0.9883
  private val PIN_P = 0.9849
  private val PIN_R = 0.9800
  private val PIN_F1 = 0.9825
}
