package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness's pure parts — the JSON escape, the sampling
  * rule, the entry selector — `Bench`'s machine-parsed line, and what a
  * timed entry leaves cached.
  */
class HarnessSpec extends AnyFunSuite with SparkTestBase {

  private val json = new ObjectMapper()

  test("the JSON escape round-trips every control char, quote, backslash and non-ASCII") {
    val all = (0 until 0x20).map(_.toChar).mkString + "\"\\é"
    for (s <- all.map(_.toString) :+ all)
      assert(json.readValue(Harness.str(s), classOf[String]) == s,
        s"char ${s.map(_.toInt).mkString(",")}")
  }

  test("minOf takes a second sample from 2 s and a third on a 1.5x spread") {
    def run(atLeast: Int, script: Double*): Seq[Double] = {
      val it = script.iterator
      Harness.minOf(atLeast)(it.next())
    }
    assert(run(1, 1.0) == Seq(1.0))
    assert(run(1, 2.5, 2.4) == Seq(2.5, 2.4))
    val spiked = run(1, 2.5, 6.0, 2.2)
    assert(spiked == Seq(2.5, 6.0, 2.2) && spiked.min == 2.2)
    assert(run(3, 0.1, 0.2, 0.3).size == 3)
    assert(run(2, 0.1, 0.1) == Seq(0.1, 0.1))
  }

  test("entries: all sorted by name, the named ones in order, an unknown name rejected") {
    val all = Harness.entries(Nil).map(_.name)
    assert(all == SparkEntry.defs.map(_.name).sorted)
    assert(Harness.entries(Seq("q03_distinct", "q01_pricing_summary"))
      .map(_.name) == Seq("q03_distinct", "q01_pricing_summary"))
    intercept[IllegalArgumentException](Harness.entries(Seq("no_such")))
  }

  test("Bench's line keeps its keys in order; a failed entry reads -1.000, listed, not in value") {
    val line = Bench.line(Seq(
      "q_a" -> Some(Seq(2.5, 2.25)), "q_fail" -> None, "q_b" -> Some(Seq(0.5))),
      "/data/sf0.01", "1.00,2.00,3.00", "4.00,5.00,6.00", 1.25, "bench/x.json")
    assert(line.contains("\"q_fail\":-1.000"))
    val tree = json.readTree(line)
    assert(tree.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "queries", "failed", "sf", "samples", "loadavg_start", "loadavg_end",
      "gc_sec", "materialize", "artifact"))
    assert(tree.get("value").asDouble == 2.75)
    assert(tree.get("queries").get("q_fail").asDouble == -1.0)
    assert(tree.get("queries").get("q_a").asDouble == 2.25)
    assert(tree.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q_fail"))
    assert(tree.get("samples").fieldNames.asScala.toSeq == Seq("q_a"))
    assert(tree.get("sf").asText == "/data/sf0.01")
  }

  test("timed releases every RDD the entry persisted; the caller's own survive") {
    val sc = spark.sparkContext
    val mine = sc.parallelize(1 to 10).persist()
    mine.count()
    val edges = spark.range(0, 20).selectExpr("id AS src", "(id + 1) % 20 AS dst")
    val keyed = spark.range(0, 50).selectExpr("id", "id % 7 AS k")
    for ((name, entry) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "pageRank" -> (() => graft.ops.Graph.pageRank(edges, 3)),
        "globalRank" -> (() => graft.ops.Layout.globalRank(keyed, "k", "id")))) {
      // clearCache also drops earlier cached Datasets, so compare the
      // RDDs added, not the whole set
      val before = sc.getPersistentRDDs.keySet
      Harness.timed(spark)(entry())
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"$name left RDDs cached: $added")
    }
    assert(sc.getPersistentRDDs.contains(mine.id))
    mine.unpersist()
  }
}
