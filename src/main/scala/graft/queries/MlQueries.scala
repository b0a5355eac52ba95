package graft.queries

import org.apache.spark.sql.functions._

import graft.io.FaithfulText
import graft.ml.Classify

/** ML-evaluation and faithful-sink surfaces as battery entries. The
  * RandomForest FIT itself has no DuckDB equivalent (q60 stays rows-only,
  * pinned by ClassifySpec's evaluator cross-checks); every deterministic
  * piece AROUND the fit is hash-checked here instead — the seeded
  * stratified fold assignment (q264), the corpus-scale hash split (q266),
  * and the full evaluation-report algebra (q265).
  */
object MlQueries {

  val all: Seq[QueryDef] = Seq(

    // M1-M4: assemble → RF → seeded stratified 10-fold CV → report row
    QueryDef("q60_classify_report",
      (s, d) => {
        val vecs = DocPipeline.pairVectors(s, d)
        // smoke-sized forest: 5 trees × 4 folds (fit concurrently) keeps
        // the MLlib job count low (the full-size path is
        // ClassifySpec/EndToEndMlSpec)
        val preds = Classify.crossValPredictions(vecs, folds = 4, seed = 42L,
          numTrees = 5)
        val r = try Classify.evaluate(preds, folds = 4)
          finally preds.unpersist()
        val s2 = s; import s2.implicits._
        Seq((r.nInstances, r.accuracy, r.kappa, r.aucSimilar,
          r.precisionSimilar, r.recallSimilar, r.f1Similar, r.mae, r.rmse,
          r.tp, r.fn, r.fp, r.tn))
          .toDF("n_instances", "accuracy", "kappa", "auc_similar",
            "precision_similar", "recall_similar", "f1_similar",
            "mae", "rmse",
            "tp", "fn", "fp", "tn")
      },
      None),

    // S3-style faithful text rendering of the assoc relation, checked at
    // the VALUE level: the rendered lines (byte format pinned by the
    // ByteParitySpec goldens — Java Double.toString has no DuckDB
    // equivalent) are parsed BACK into typed columns, proving the
    // render/parse round trip, and the oracle recomputes the same measures
    // independently. Double.toString is exact-round-trip, so the parsed
    // doubles are bit-identical to the computed ones.
    QueryDef("q61_faithful_assoc_lines",
      (s, d) => {
        val lines = FaithfulText.assocLines(DocPipeline.assoc(s, d))
        val key = split(split(col("value"), "\t").getItem(0), " ")
        def metric(name: String) =
          regexp_extract(col("value"), name + "=([^ ]+)", 1).cast("double")
        lines.select(
          key.getItem(0).as("lexeme"),
          key.getItem(1).as("feature"),
          metric("assoc_freq").as("assoc_freq"),
          metric("assoc_prob").as("assoc_prob"),
          metric("assoc_PMI").as("assoc_pmi"),
          metric("assoc_t_test").as("assoc_ttest"))
          .orderBy("lexeme", "feature")
      },
      Some(s"""WITH ${DocPipeline.assocSql}
              |SELECT lexeme, feature, assoc_freq, assoc_prob, assoc_pmi,
              |  assoc_ttest
              |FROM assoc ORDER BY 1, 2""".stripMargin)),

    // M3's seeded stratified fold assignment, hash-checked: content-hash
    // round-robin within each label (the exact function the q60 CV path
    // runs on its (w1, w2) pair keys), replayed by the oracle digit for
    // digit — md5 is md5 everywhere. Shrinks q60's no-oracle surface to
    // the RandomForest fit alone.
    QueryDef("q264_ml_fold_assignment",
      (s, d) => Classify.stratifiedFolds(
          QueryDef.table(s, d, "documents")
            .select(col("doc_id"),
              when(col("n_chars") % 2 === 0, 1.0).otherwise(0.0)
                .as("label")),
          Seq("doc_id"), "label", folds = 10, seed = 42L)
        .select(col("doc_id"), col("label"), col("fold"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END
             |    AS DOUBLE) AS label,
             |  CAST((ROW_NUMBER() OVER (
             |      PARTITION BY n_chars % 2
             |      ORDER BY md5('cv42:' || CAST(doc_id AS VARCHAR)),
             |        doc_id) - 1) % 10 AS INT) AS fold
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // M4's evaluation-report algebra, hash-checked: confusion matrix →
    // accuracy / Cohen's kappa / per-class + weighted P/R/F1 / Weka
    // MAE+RMSE over a FIXED deterministic prediction relation, computed
    // by the same evaluateDf the report path cross-checks against
    // evaluate() at 1e-12 (ClassifySpec). The oracle replays every
    // formula including the zero-denominator conventions.
    QueryDef("q265_ml_report_algebra",
      (s, d) => {
        val preds = QueryDef.table(s, d, "documents").select(
          when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("label"),
          when(col("n_chars") % 3 === 0, 1.0).otherwise(0.0)
            .as("prediction"),
          ((col("n_chars") % 100).cast("double") / 100.0).as("p_similar"))
        Classify.evaluateDf(preds).select(
          col("n"), col("tp"), col("fn"), col("fp"), col("tn"),
          round(col("accuracy"), 6).as("accuracy"),
          round(col("kappa"), 6).as("kappa"),
          round(col("precision_similar"), 6).as("precision_similar"),
          round(col("recall_similar"), 6).as("recall_similar"),
          round(col("f1_similar"), 6).as("f1_similar"),
          round(col("weighted_precision"), 6).as("weighted_precision"),
          round(col("weighted_recall"), 6).as("weighted_recall"),
          round(col("weighted_f1"), 6).as("weighted_f1"),
          round(col("mae"), 6).as("mae"),
          round(col("rmse"), 6).as("rmse"))
          .orderBy("n")
      },
      Some("""WITH p AS (SELECT
             |    CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS label,
             |    CASE WHEN n_chars % 3 = 0 THEN 1.0 ELSE 0.0 END
             |      AS prediction,
             |    CAST(n_chars % 100 AS DOUBLE) / 100.0 AS p_similar
             |  FROM documents),
             |c AS (SELECT
             |    CAST(SUM(CASE WHEN label = 1 AND prediction = 1
             |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(SUM(CASE WHEN label = 1 AND prediction = 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |    CAST(SUM(CASE WHEN label = 0 AND prediction = 1
             |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |    CAST(SUM(CASE WHEN label = 0 AND prediction = 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             |    AVG(ABS(p_similar - label)) AS mae0,
             |    SQRT(AVG((p_similar - label) * (p_similar - label)))
             |      AS rmse0
             |  FROM p),
             |m AS (SELECT tp, fn, fp, tn, tp + fn + fp + tn AS n,
             |    mae0, rmse0,
             |    CASE WHEN tp + fp = 0 THEN 0.0
             |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
             |    CASE WHEN tp + fn = 0 THEN 0.0
             |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
             |    CASE WHEN tn + fn = 0 THEN 0.0
             |      ELSE CAST(tn AS DOUBLE) / (tn + fn) END AS precn,
             |    CASE WHEN tn + fp = 0 THEN 0.0
             |      ELSE CAST(tn AS DOUBLE) / (tn + fp) END AS recn
             |  FROM c),
             |m2 AS (SELECT *,
             |    CASE WHEN n = 0 THEN 0.0
             |      ELSE CAST(tp + tn AS DOUBLE) / n END AS acc,
             |    CASE WHEN n = 0 THEN 0.0
             |      ELSE (CAST(tp + fn AS DOUBLE) * (tp + fp)
             |        + CAST(tn + fp AS DOUBLE) * (tn + fn))
             |        / (CAST(n AS DOUBLE) * n) END AS pe,
             |    CASE WHEN prec + rec = 0 THEN 0.0
             |      ELSE 2 * prec * rec / (prec + rec) END AS f1,
             |    CASE WHEN precn + recn = 0 THEN 0.0
             |      ELSE 2 * precn * recn / (precn + recn) END AS f1n,
             |    CAST(tp + fn AS DOUBLE) / GREATEST(n, 1) AS wpos,
             |    CAST(tn + fp AS DOUBLE) / GREATEST(n, 1) AS wneg
             |  FROM m)
             |SELECT n, tp, fn, fp, tn,
             |  ROUND(acc, 6) AS accuracy,
             |  ROUND(CASE WHEN pe = 1.0 THEN 0.0
             |    ELSE (acc - pe) / (1 - pe) END, 6) AS kappa,
             |  ROUND(prec, 6) AS precision_similar,
             |  ROUND(rec, 6) AS recall_similar,
             |  ROUND(f1, 6) AS f1_similar,
             |  ROUND(wpos * prec + wneg * precn, 6) AS weighted_precision,
             |  ROUND(wpos * rec + wneg * recn, 6) AS weighted_recall,
             |  ROUND(wpos * f1 + wneg * f1n, 6) AS weighted_f1,
             |  ROUND(mae0, 6) AS mae, ROUND(rmse0, 6) AS rmse
             |FROM m2 ORDER BY n""".stripMargin)),

    // Corpus-scale split assignment: fold = md5-prefix mod k, a narrow
    // per-row expression with NO window and NO shuffle — the 100 TB
    // train/val/test path. The oracle replays the 8-hex-digit prefix
    // arithmetic with the same strpos ladder the manifest entries use.
    QueryDef("q266_hash_folds",
      (s, d) => Classify.hashFolds(
          QueryDef.table(s, d, "documents").select(col("doc_id")),
          Seq("doc_id"), folds = 5, seed = 7L)
        .groupBy("fold").agg(count(lit(1)).as("n"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("fold"),
      Some({
        val hex8 = (1 to 8)
          .map(i => "(strpos('0123456789abcdef', substr(h, " + i +
            ", 1)) - 1)")
          .reduceLeft((a, b) => s"($a * 16 + $b)")
        s"""WITH f AS (SELECT doc_id,
           |    CAST($hex8 % 5 AS INT) AS fold
           |  FROM (SELECT doc_id,
           |      md5('cv7:' || CAST(doc_id AS VARCHAR)) AS h
           |    FROM documents))
           |SELECT fold, COUNT(*) AS n, MIN(doc_id) AS min_id,
           |  MAX(doc_id) AS max_id
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
      })),
  )
}
