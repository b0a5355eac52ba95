package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference Steps 2+3 collapsed into one declarative stage.
  *
  * The reference spends two whole MR jobs here: Step 2 is a hand-built
  * reduce-side sorted-stream join (custom partitioner + cross-call reducer
  * state, `Step2.java:25-94`), Step 3 a re-shuffle co-group folding the two
  * tagged rows per pair back together plus the measure math
  * (`Step3.java:63-101`). In Spark both are a 3-way equi-join Catalyst plans
  * as sort-merge/broadcast (with AQE skew splitting for Zipfian hot words)
  * followed by column arithmetic — no custom partitioning, no state, no
  * extra materialization.
  *
  * Association measures per (lexeme, feature) cell (`Step3.java:83-94`),
  * with the operand shapes/order preserved so doubles match the reference
  * bit-for-bit:
  *   - `assoc_freq  = lf`
  *   - `assoc_prob  = lf / l`
  *   - `assoc_pmi   = (F * lf) / (l * f)`   — the PMI *ratio*: the
  *     reference never takes the log, despite the name (`Step3.java:91`)
  *   - `assoc_ttest = ((lf/L) - (l/L)(f/F)) / sqrt((l/L)(f/F))`
  *
  * The reference's zero-guard (`Step3.java:83`) is vacuous here: marginals
  * are sums of the positive pair counts, so l, f, lf >= 1 always.
  */
object Associate {

  val measureNames: Seq[String] =
    Seq("assoc_freq", "assoc_prob", "assoc_pmi", "assoc_ttest")

  /** (pairs ⋈ lexeme marginals ⋈ feature marginals) + measure columns.
    * Output: lexeme, feature, lf, l, f, assoc_freq, assoc_prob, assoc_pmi,
    * assoc_ttest.
    */
  def associate(counts: CorpusCounts): DataFrame = {
    val bigL, bigF = lit(counts.total.toDouble) // L == F (Step1.java:73-74)
    val lf = col("lf").cast("double")
    val l = col("l").cast("double")
    val f = col("f").cast("double")
    counts.pairs
      .join(counts.lexemes, "lexeme")
      .join(counts.features, "feature")
      .select(
        col("lexeme"), col("feature"), col("lf"), col("l"), col("f"),
        lf.as("assoc_freq"),
        (lf / l).as("assoc_prob"),
        ((bigF * lf) / (l * f)).as("assoc_pmi"),
        (((lf / bigL) - ((l / bigL) * (f / bigF))) /
          sqrt((l / bigL) * (f / bigF))).as("assoc_ttest"))
  }
}
