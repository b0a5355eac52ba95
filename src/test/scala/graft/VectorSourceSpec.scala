package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ArffSink, FaithfulText, VectorSource}
import graft.ml.Classify
import graft.pipeline.{Associate, Biarcs, Counts, PairVectors}

/** The reference-format rerun path (`WekaModel.java:59-123`): parsing the
  * reference's own Step-4 text output (the golden fixture produced by its
  * unmodified reducers) must reproduce the engine's vectors exactly, and
  * classification from the text path must equal the parquet path.
  */
class VectorSourceSpec extends AnyFunSuite with SparkTestBase {

  private def corpus = ReferenceFixtures.corpus
  private def goldFile = ReferenceFixtures.gold

  private def goldenStep4 = {
    val url = getClass.getResource("/golden/step4.txt")
    spark.read.text(url.getPath)
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("w1"), r.getAs[String]("w2"), r.getAs[Boolean]("related"))

  private def vecMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      key(r) -> PairVectors.vectorColumns.map(c => r.getAs[Double](c))
    }.toMap

  test("parsing the reference's Step-4 output reproduces the engine vectors exactly") {
    val counts = Counts.fromEdges(Biarcs.readEdges(spark, corpus),
      persistPairs = false)
    val gold = PairVectors.parseGold(spark.read.text(goldFile))
    val engine = vecMap(PairVectors.vectorsOrdered(
      Associate.associate(counts), gold, faithful = true))
    val parsed = vecMap(VectorSource.vectorLines(goldenStep4))
    assert(parsed.keySet == engine.keySet)
    // Double.toString round-trips losslessly: EXACT equality, all 24 dims
    for ((k, e) <- engine) assert(parsed(k) == e, s"pair $k")
  }

  test("text-vector classification equals the parquet path") {
    val parsed = VectorSource.vectorLines(goldenStep4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecs")
    try {
      parsed.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("v").toString)
      val fromParquet = spark.read.parquet(tmp.resolve("v").toString)
      val a = Classify.run(parsed, folds = 3)
      val b = Classify.run(fromParquet, folds = 3)
      assert(a == b)
    } finally graft.queries.QueryDef.deleteRecursively(tmp)
  }

  test("faithful text rendering round-trips through the parser") {
    val counts = Counts.fromEdges(Biarcs.readEdges(spark, corpus),
      persistPairs = false)
    val gold = PairVectors.parseGold(spark.read.text(goldFile))
    // cache: the round-trip compares two reads of this relation, and an
    // uncached recompute can re-order the floating-point partial sums
    val vecs = PairVectors.vectors(Associate.associate(counts), gold).cache()
    try {
      val back = VectorSource.vectorLines(FaithfulText.vectorLines(vecs))
      assert(vecMap(back) == vecMap(vecs))
    } finally vecs.unpersist()
  }

  test("ARFF data lines round-trip through the ARFF reader") {
    val counts = Counts.fromEdges(Biarcs.readEdges(spark, corpus),
      persistPairs = false)
    val gold = PairVectors.parseGold(spark.read.text(goldFile))
    // cache: compared against its own re-read below (same ULP concern as
    // the text round-trip test)
    val vecs = PairVectors.vectors(Associate.associate(counts), gold).cache()
    try {
      // prepend the real header: the reader must skip it wherever it appears
      val s2 = spark; import s2.implicits._
      val headerDf = ArffSink.header.split("\n").toSeq.toDF("value")
      val back = VectorSource.arff(
        headerDf.unionByName(ArffSink.dataLines(vecs)))
      val want = vecs.collect().map { r =>
        (r.getAs[Boolean]("related"),
          PairVectors.vectorColumns.map(c => r.getAs[Double](c)))
      }.sortBy(_.toString)
      val got = back.collect().map { r =>
        (r.getAs[Boolean]("related"),
          PairVectors.vectorColumns.map(c => r.getAs[Double](c)))
      }.sortBy(_.toString)
      assert(got.toSeq == want.toSeq)
    } finally vecs.unpersist()
  }
}
