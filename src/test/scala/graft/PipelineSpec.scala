package graft

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Differential tests of the distributed pipeline against
  * [[NaiveSemanticOracle]] on the reference's own fixtures
  * (`small-sample.txt`, `test_gold_standard.txt`, and a slice of
  * `word-relatedness.txt`), and on a hand-written in-repo corpus
  * (`golden/oracle/`) that needs nothing from outside the repo.
  */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private def corpusPath = ReferenceFixtures.corpus
  private def goldPath = ReferenceFixtures.gold
  private def oracleFixture(name: String): String = java.nio.file.Paths.get(
    getClass.getResource(s"/golden/oracle/$name").toURI).toString
  private lazy val inRepoCorpus = oracleFixture("corpus.txt")
  private lazy val inRepoGold = oracleFixture("gold.txt")

  // Decode with UTF-8 replacement (not strict) to see exactly the
  // characters Spark's text source produces for invalid byte sequences —
  // small-sample.txt contains some (e.g. line 2).
  private def readLines(p: String): Seq[String] =
    new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector

  private lazy val corpusLines = readLines(corpusPath)

  private def checkEdges(corpus: String): Unit = {
    val got = Biarcs.readEdges(spark, corpus)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val want = NaiveSemanticOracle.edges(readLines(corpus))
      .map(e => (e.lex, e.feat, e.cnt)).sorted
    assert(got.size == want.size, s"edge count ${got.size} != ${want.size}")
    assert(got == want)
  }

  test("edges match naive oracle on small-sample (exact multiset)") {
    checkEdges(corpusPath)
  }

  test("edges match naive oracle on the in-repo corpus (exact multiset)") {
    checkEdges(inRepoCorpus)
  }

  test("counts: marginals re-aggregated from pairs equal edge-level sums") {
    val counts = Counts.fromEdges(Biarcs.readEdges(spark, corpusPath))
    val es = NaiveSemanticOracle.edges(corpusLines)
    assert(counts.total == es.map(_.cnt).sum)
    val lexWant = es.groupMapReduce(_.lex)(_.cnt)(_ + _)
    val lexGot = counts.lexemes.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lexGot == lexWant)
    val featWant = es.groupMapReduce(_.feat)(_.cnt)(_ + _)
    val featGot = counts.features.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(featGot == featWant)
  }

  test("counts release their cached pairs when the total job fails") {
    import org.apache.spark.sql.functions.{col, lit, sum, udf}
    val boom = udf((x: Long) =>
      if (x >= 0L) throw new IllegalStateException("boom") else x)
    val edges = spark.range(3).select(lit("x").as("lexeme"),
      col("id").cast("string").as("feature"), boom(col("id")).as("count"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Counts.fromEdges(edges))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "boom"), e)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    // the pair relation as fromEdges builds it is no longer cached
    val pairs = edges.groupBy("lexeme", "feature").agg(sum("count").as("lf"))
    assert(pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  private def checkAssoc(corpus: String): Unit = {
    val (assoc, counts) = SemanticPipeline.associationsManaged(spark, corpus)
    val gotMap = try assoc.collect()
      .map(r => (r.getAs[String]("lexeme"), r.getAs[String]("feature")) ->
        Array(r.getAs[Double]("assoc_freq"), r.getAs[Double]("assoc_prob"),
          r.getAs[Double]("assoc_pmi"), r.getAs[Double]("assoc_ttest"))).toMap
      finally counts.unpersist()
    val want = NaiveSemanticOracle.assoc(readLines(corpus))
    assert(gotMap.keySet == want.keySet)
    for ((k, w) <- want; i <- 0 until 4) {
      val g = gotMap(k)(i)
      assert(relClose(g, w(i)), s"$k measure $i: got $g want ${w(i)}")
    }
  }

  test("association measures match naive oracle (1e-12 rel)") {
    checkAssoc(corpusPath)
  }

  test("association measures match naive oracle on the in-repo corpus (1e-12 rel)") {
    checkAssoc(inRepoCorpus)
  }

  /** The distributed vectors, checked against the oracle's; returns them. */
  private def checkVectors(corpus: String, gold: String, faithful: Boolean)
      : Map[(String, String, Boolean), Array[Double]] = {
    val df = SemanticPipeline.vectors(spark, corpus, gold, faithful)
    val got = df.collect().map { r =>
      (r.getAs[String]("w1"), r.getAs[String]("w2"), r.getAs[Boolean]("related")) ->
        PairVectors.vectorColumns.map(c => r.getAs[Double](c)).toArray
    }.toMap
    val want = NaiveSemanticOracle.vectors(readLines(corpus), readLines(gold), faithful)
    assert(got.keySet == want.keySet,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    for ((k, w) <- want; i <- 0 until 24) {
      val g = got(k)(i)
      assert(relClose(g, w(i)), s"$k dim $i (${PairVectors.vectorColumns(i)}): got $g want ${w(i)}")
    }
    got
  }

  for (faithful <- Seq(false, true)) {
    test(s"24-dim vectors match naive oracle (faithful=$faithful)") {
      val got = checkVectors(corpusPath, goldPath, faithful)
      // the reference's own smoke pair must be present and labeled related
      assert(got.keySet.exists(k => k._1 == "about" && k._2 == "us" && k._3))
    }

    test(s"24-dim vectors match naive oracle on the in-repo corpus (faithful=$faithful)") {
      val got = checkVectors(inRepoCorpus, inRepoGold, faithful)
      assert(got.contains(("dog", "puppi", true)), "the related pair")
      assert(got.contains(("dog", "zebra", false)), "a pair with one side's data")
      assert(!got.keySet.exists(_._1 == "zebra"), "a pair with no data")
    }
  }

  test("the in-repo corpus exercises the faithful Jensen-Shannon reset") {
    // old-amod is one of dog's features with t-test exactly 0 (lf*L == l*f:
    // 1*64 == 16*4), and puppy lacks it: both words are zero there, so the
    // faithful js restarts after it and differs from the corrected one
    val corpus = readLines(inRepoCorpus)
    val gold = readLines(inRepoGold)
    assert(NaiveSemanticOracle.assoc(corpus)(("dog", "old-amod"))(3) == 0.0)
    val ttestJs = PairVectors.vectorColumns.indexOf("ttest_js")
    val pair = ("dog", "puppi", true)
    assert(NaiveSemanticOracle.vectors(corpus, gold, faithful = true)(pair)(ttestJs) !=
      NaiveSemanticOracle.vectors(corpus, gold, faithful = false)(pair)(ttestJs))
  }

  test("vectors on a word-relatedness slice produce sane similarity identities") {
    // gold pairs of a word with itself: cosine == 1, jaccard == 1, js == 0
    // for every measure (corrected mode), provided the word has features.
    val lex = "abound" // present in small-sample
    val tmp = java.nio.file.Files.createTempFile("gold_self", ".txt")
    java.nio.file.Files.writeString(tmp, s"abounds abounding True\n")
    val df = SemanticPipeline.vectors(spark, corpusPath, tmp.toString, faithful = false)
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("w1") == lex && r.getAs[String]("w2") == lex)
    for (m <- PairVectors.measureShort) {
      assert(relClose(r.getAs[Double](s"${m}_cosine"), 1.0), s"${m}_cosine")
      assert(relClose(r.getAs[Double](s"${m}_jaccard"), 1.0), s"${m}_jaccard")
      assert(math.abs(r.getAs[Double](s"${m}_manhattan")) < 1e-9, s"${m}_manhattan")
      assert(math.abs(r.getAs[Double](s"${m}_js")) < 1e-9, s"${m}_js")
    }
  }

  private def relClose(a: Double, b: Double): Boolean =
    (a == b) || (a.isInfinite && b.isInfinite && math.signum(a) == math.signum(b)) ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
