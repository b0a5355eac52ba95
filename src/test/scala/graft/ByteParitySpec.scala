package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.FaithfulText
import graft.pipeline._

/** Byte-parity against the REFERENCE IMPLEMENTATION'S OWN OUTPUT: the
  * fixtures under `src/test/resources/golden/` were produced by running the
  * reference's unmodified Mapper/Reducer classes through Hadoop's
  * LocalJobRunner on `small-sample.txt` + `test_gold_standard.txt`
  * (generator: `tools/refgen/RefRunner.java`).
  *
  * Steps 1-3 are compared byte-for-byte (integer counts and per-row double
  * arithmetic with identical operation order ⇒ identical digits). Step 4's
  * 24-dim vectors involve sums over features whose accumulation order
  * differs between the reference's sorted stream and Spark's partial
  * aggregation, so they are compared numerically at 1e-9 relative
  * tolerance, with the text rendering checked structurally.
  */
class ByteParitySpec extends AnyFunSuite with SparkTestBase {

  private def corpus = ReferenceFixtures.corpus
  private def goldFile = ReferenceFixtures.gold

  private def golden(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    val s = scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
    try s.getLines().toVector finally s.close()
  }

  private lazy val counts =
    Counts.fromEdges(Biarcs.readEdges(spark, corpus), persistPairs = false)

  test("grand total equals the reference's L/F counters") {
    val Seq(l, f) = golden("counters.txt").map(_.split(" ")(1).toLong)
    assert(l == f)
    assert(counts.total == l)
  }

  test("Step-1 counts relation: byte parity") {
    val got = Counts.taggedUnion(counts).collect().map(_.getString(0)).sorted
    val want = golden("step1.txt").sorted
    assert(got.length == want.length,
      s"${got.length} != ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("Step-2 enriched-pairs relation: byte parity") {
    val got = FaithfulText.enrichedPairLines(counts)
      .collect().map(_.getString(0)).sorted
    val want = golden("step2.txt").sorted
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("Step-3 association relation: byte parity (identical double digits)") {
    val got = FaithfulText.assocLines(Associate.associate(counts))
      .collect().map(_.getString(0)).sorted
    val want = golden("step3.txt").sorted
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("Step-4 vectors: BYTE parity via the order-preserving path (faithful)") {
    val assoc = Associate.associate(counts)
    val gold = PairVectors.parseGold(spark.read.text(goldFile))
    val got = FaithfulText.vectorLines(
      PairVectors.vectorsOrdered(assoc, gold, faithful = true))
      .collect().map(_.getString(0)).sorted
    val want = golden("step4.txt").sorted
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  test("Step-4 vectors: numeric parity at 1e-9 (faithful mode)") {
    def parse(line: String): ((String, String, String), Array[Double]) = {
      val Array(key, arr) = line.split("\t")
      val Array(w1, w2, rel) = key.split(" ")
      val ds = arr.stripPrefix("[").stripSuffix("]").split(", ").map(_.toDouble)
      ((w1, w2, rel), ds)
    }
    val want = golden("step4.txt").map(parse).toMap
    val got = FaithfulText.vectorLines(
      SemanticPipeline.vectors(spark, corpus, goldFile, faithful = true))
      .collect().map(r => parse(r.getString(0))).toMap
    assert(got.keySet == want.keySet)
    for ((k, w) <- want; i <- w.indices) {
      val g = got(k)(i)
      assert((g == w(i)) ||
        math.abs(g - w(i)) <= 1e-9 * math.max(1.0, math.max(math.abs(g), math.abs(w(i)))),
        s"$k dim $i: got $g want ${w(i)}")
    }
  }
}
