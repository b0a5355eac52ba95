package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.FaithfulText
import graft.pipeline._

/** Strict-faithful P4 parity: the reference's stem-in-place rewrite uses
  * `String.replace(surfaceForm, stem)` (`Step1.java:41-47`), substituting
  * every occurrence of the surface form anywhere in the token — corrupting
  * POS/dependency labels whenever the surface form reappears inside them.
  * The fixtures under `golden/quirk/` were produced by running the
  * reference's UNMODIFIED mappers/reducers (tools/refgen/RefRunner) on a
  * crafted corpus where `cats/NNS/catsup/1` → feature `cat-catup` and
  * `running/VBG/runningmate/1` → feature `run-runmate`.
  *
  * `faithful = true` must byte-match all four steps; the default
  * field-wise rewrite must NOT reproduce the corruption (that divergence
  * is the documented defensive improvement).
  */
class QuirkParitySpec extends AnyFunSuite with SparkTestBase
    with BeforeAndAfterAll {

  private def res(name: String) =
    getClass.getResource(s"/golden/quirk/$name").getPath

  private def golden(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/golden/quirk/$name")
    val s = scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
    try s.getLines().toVector finally s.close()
  }

  // built on first use; afterAll releases the cached pair counts
  private var built: Option[CorpusCounts] = None
  private lazy val counts = {
    val c = Counts.fromEdges(
      Biarcs.readEdges(spark, res("quirk-corpus.txt"), faithful = true))
    built = Some(c); c
  }

  override def afterAll(): Unit =
    try built.foreach(_.unpersist()) finally super.afterAll()

  test("faithful Step-1 counts byte-match the reference on the quirk corpus") {
    val got = Counts.taggedUnion(counts).collect().map(_.getString(0)).sorted
    assert(got.toSeq == golden("step1.txt").sorted)
    val Seq(l, f) = golden("counters.txt").map(_.split(" ")(1).toLong)
    assert(counts.total == l && counts.total == f)
  }

  test("faithful Steps 2-3 byte-match the reference on the quirk corpus") {
    val got2 = FaithfulText.enrichedPairLines(counts)
      .collect().map(_.getString(0)).sorted
    assert(got2.toSeq == golden("step2.txt").sorted)
    val got3 = FaithfulText.assocLines(Associate.associate(counts))
      .collect().map(_.getString(0)).sorted
    assert(got3.toSeq == golden("step3.txt").sorted)
  }

  test("faithful Step-4 vectors byte-match the reference on the quirk corpus") {
    val assoc = Associate.associate(counts)
    val gold = PairVectors.parseGold(spark.read.text(res("quirk-gold.txt")))
    val chained = SemanticPipeline.vectors(spark, res("quirk-corpus.txt"),
      res("quirk-gold.txt"), faithful = true)
    for (vecs <- Seq(PairVectors.vectors(assoc, gold, faithful = true), chained)) {
      val got = FaithfulText.vectorLines(vecs).collect().map(_.getString(0)).sorted
      assert(got.toSeq == golden("step4.txt").sorted)
    }
  }

  test("default field-wise rewrite does NOT corrupt labels (the quirk is opt-in)") {
    val defensive = Biarcs.readEdges(spark, res("quirk-corpus.txt"))
      .select("feature").collect().map(_.getString(0)).toSet
    assert(defensive.contains("cat-catsup"))
    assert(defensive.contains("run-runningmate"))
    assert(!defensive.contains("cat-catup"))
    assert(!defensive.contains("run-runmate"))
    val quirky = Biarcs.readEdges(spark, res("quirk-corpus.txt"),
      faithful = true)
      .select("feature").collect().map(_.getString(0)).toSet
    assert(quirky.contains("cat-catup") && quirky.contains("run-runmate"))
  }
}
