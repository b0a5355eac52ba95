package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Reference Step 1 (counting) + the Step-1→3 counter side-channel,
  * re-planned for Spark.
  *
  * The reference shuffles THREE tagged streams (`l`/`f`/`lf`) of raw edges
  * through one MR job (`Step1.java:63-70`) and passes the grand totals
  * through an S3 side file (`Step1.java:131-151`). Here only the pair
  * aggregation touches raw edges; the two marginals and the grand total are
  * re-aggregated FROM the pair counts (exact, since
  * l(x) = Σ_feature lf(x, feature), f(y) = Σ_lexeme lf(lexeme, y),
  * L = F = Σ lf). At scale that turns three full-data shuffles into one
  * (Catalyst plans partial+final HashAggregate, so the map-side combine the
  * reference celebrates in `README.md:24-29` is automatic), and the total
  * comes back with the one job that builds the pair cache instead of
  * through a side file.
  */
final case class CorpusCounts(
    pairs: DataFrame,    // lexeme, feature, lf
    lexemes: DataFrame,  // lexeme, l
    features: DataFrame, // feature, f
    total: Long) {       // L == F by construction (Step1.java:73-74)
  /** Release the cached pair counts once downstream plans are executed. */
  def unpersist(): Unit = pairs.unpersist()
}

object Counts {

  /** Aggregate edges `(lexeme, feature, count)` into pair counts, marginal
    * counts, and the grand total. Triggers one Spark job, which persists
    * the pair counts and observes the total on the way (the driver-side
    * analog of the reference's counters file): the caller owns the pair
    * counts and releases them with [[CorpusCounts.unpersist]].
    */
  def fromEdges(edges: DataFrame): CorpusCounts = {
    // Without persistence each derived relation (marginals, total, assoc)
    // re-plans the whole corpus scan — observed as 3 text scans in the
    // physical plan. Persisting the reduced pair relation is the Spark
    // analog of the reference's Step-1 S3 materialization, at a fraction
    // of the size of the raw edges. MEMORY_AND_DISK: spills instead of
    // recomputing at the 100 TB target.
    // The total is observed while the cache is built, by the count that
    // builds it: a count over a cache runs the classes every such count
    // runs (Classify's too), where an aggregate of its own would compile
    // classes of its own. coalesce: sum over no rows is NULL, not 0.
    val observed = Observation()
    val pairs = edges
      .groupBy("lexeme", "feature")
      .agg(sum("count").as("lf"))
      .observe(observed, coalesce(sum("lf"), lit(0L)).as("total"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Both marginals aggregate one stream that carries every pair twice,
    // once under its lexeme and once under its feature, each marginal
    // keeping its side by a string literal. Generated code reads string
    // literals from its references, so the two marginals' classes differ
    // only in their codegen stage ids, and both read all three cached
    // columns, as Associate's join does, through one columnar reader.
    val sides = pairs.select(explode(array(
      struct(lit("l").as("side"), col("lexeme").as("word"), col("lf")),
      struct(lit("f").as("side"), col("feature").as("word"), col("lf"))))
      .as("s"))
    def marginal(side: String, word: String, count: String) = sides
      .where(col("s.side") === side)
      .groupBy(col("s.word").as(word)).agg(sum("s.lf").as(count))
    // A failed total job releases the cache: no handle would reach the
    // caller
    val total =
      try { pairs.count(); observed.get("total").asInstanceOf[Long] }
      catch { case e: Throwable => pairs.unpersist(); throw e }
    CorpusCounts(pairs, marginal("l", "lexeme", "l"),
      marginal("f", "feature", "f"), total)
  }

  /** Faithful-mode rendering of the Step-1 output relation: the tagged-union
    * counts (`l <lexeme> TAB n` | `f <feature> TAB n` | `lf <lexeme>
    * <feature> TAB n`, reference `Step1.java:63-70,99`) as one DataFrame of
    * text lines, for byte-parity sinks.
    */
  def taggedUnion(c: CorpusCounts): DataFrame = {
    val l = c.lexemes.select(concat_ws("\t", concat_ws(" ", lit("l"), col("lexeme")), col("l")).as("value"))
    val f = c.features.select(concat_ws("\t", concat_ws(" ", lit("f"), col("feature")), col("f")).as("value"))
    val lf = c.pairs.select(concat_ws("\t", concat_ws(" ", lit("lf"), col("lexeme"), col("feature")), col("lf")).as("value"))
    l.unionByName(f).unionByName(lf)
  }
}
