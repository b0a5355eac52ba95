package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end composition of the reference's Steps 1-4 (reference: 4 MR
  * jobs with full S3 text materialization between each,
  * `App.java:51-116`). Everything but the grand total and the gold-bounded
  * result stays in one logical plan, so predicate pushdown, column
  * pruning, partial aggregation, AQE shuffle sizing and skew-join
  * splitting all apply across what used to be job boundaries.
  */
object SemanticPipeline {

  /** Edges `(lexeme, feature, count)` + gold pairs `(w1, w2, related)` →
    * 24-dim similarity vectors (`w1, w2, related` +
    * [[PairVectors.vectorColumns]]): `Counts.fromEdges →
    * Associate.associate → PairVectors.vectors`.
    *
    * Runs Spark jobs: the grand total while the plan is built, then the
    * whole chain. The result is gold-bounded (one row per gold pair), so it
    * is collected into a local relation and the corpus-sized pair cache is
    * released before returning; nothing stays cached.
    */
  def vectorsOf(edges: DataFrame, gold: DataFrame,
      faithful: Boolean = false): DataFrame = {
    val counts = Counts.fromEdges(edges)
    try {
      val res = PairVectors.vectors(Associate.associate(counts), gold, faithful)
      edges.sparkSession.createDataFrame(
        java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally counts.unpersist()
  }

  /** corpus text path + gold text path → [[vectorsOf]]. `faithful`
    * switches Step 1 to the reference's replace-all stem rewrite
    * ([[Biarcs.edges]]) and Step 4 to its quirks ([[PairVectors.vectors]]).
    */
  def vectors(
      spark: SparkSession,
      corpusPath: String,
      goldPath: String,
      faithful: Boolean = false): DataFrame =
    vectorsOf(Biarcs.readEdges(spark, corpusPath, faithful),
      PairVectors.parseGold(spark.read.text(goldPath)), faithful)

  /** corpus text path → association-measure relation (Steps 1-3). Runs
    * one Spark job (the grand total). The relation is corpus-sized and
    * stays lazy; the returned [[CorpusCounts]] handle owns the persisted
    * pair relation backing it — call `unpersist()` once downstream plans
    * have executed.
    */
  def associationsManaged(spark: SparkSession, corpusPath: String,
      faithful: Boolean = false): (DataFrame, CorpusCounts) = {
    val counts =
      Counts.fromEdges(Biarcs.readEdges(spark, corpusPath, faithful))
    (Associate.associate(counts), counts)
  }
}
