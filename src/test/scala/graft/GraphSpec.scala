package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** PageRank pinned against an exact driver-side power iteration on small
  * fixtures (same formula, same IEEE ops — agreement is ~1e-15, asserted
  * at 1e-12), plus the invariants that catch formulation bugs: mass
  * conservation with dangling nodes, and authority ordering. k-hop
  * distances are pinned against a plain-Scala BFS, and every round-loop
  * operator against the checkpoints it leaves cached.
  */
class GraphSpec extends AnyFunSuite with SparkTestBase {

  /** Reference power iteration over an in-memory edge list. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    val uniq = edges.distinct
    val nodes = (uniq.map(_._1) ++ uniq.map(_._2)).distinct.sorted
    val out = uniq.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val n = nodes.size.toDouble
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(rank).sum
      val contrib = uniq.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s) }.sum).toMap
      rank = nodes.map(v => v ->
        ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    rank
  }

  private val fixture: Seq[(Long, Long)] = Seq(
    (1L, 2L), (3L, 2L), (4L, 2L), // node 2: three in-links
    (2L, 5L),                     // 5 inherits 2's authority
    (1L, 3L), (3L, 1L))           // cycle; 5 is dangling
  // node 6 is unreachable except via dangling redistribution
  private val withIsland = fixture :+ ((6L, 1L))

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val s2 = spark; import s2.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), iters, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("matches the exact reference power iteration") {
    for (iters <- Seq(1, 5)) {
      val got = run(withIsland, iters)
      val want = refPageRank(withIsland, iters, 0.85)
      assert(got.keySet == want.keySet)
      for ((k, w) <- want)
        assert(math.abs(got(k) - w) < 1e-12, s"iters=$iters node=$k: " +
          s"got ${got(k)}, want $w")
    }
  }

  test("mass is conserved each round despite dangling nodes") {
    val total = run(fixture, 5).values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"ranks sum to $total")
  }

  test("authority ordering: hub > leaf, duplicate edges collapse") {
    val got = run(fixture, 5)
    // 2 has three in-links (beats source-only 4); 5 is 2's sole successor
    // and inherits ALL its mass, outranking even the hub
    assert(got(5L) > got(2L) && got(2L) > got(4L),
      s"expected rank(5) > rank(2) > rank(4), got $got")
    // parallel edges must not double-count contributions
    assert(run(fixture ++ fixture, 5) == got)
  }

  private def runLpa(edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      iters: Int): Map[Long, Option[Long]] = {
    val s2 = spark; import s2.implicits._
    val sym = edges ++ edges.map(_.swap)
    Graph.labelPropagation(sym.toDF("src", "dst"),
        seeds.toDF("node", "label"), iters)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
  }

  test("label propagation: seeds clamp, labels flood a path") {
    // path 1-2-3-4-5 seeded at the ends with different labels;
    // synchronous rounds: r1 labels 2←10 and 4←20 (their only labeled
    // neighbor); r2 labels 3 via the 10-vs-20 tie → smallest (10)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val r2 = runLpa(path, Seq((1L, 10L), (5L, 20L)), iters = 2)
    assert(r2 == Map(1L -> Some(10L), 2L -> Some(10L), 3L -> Some(10L),
      4L -> Some(20L), 5L -> Some(20L)), s"got $r2")
    // r3: node 4 now hears 10 (from 3) and 20 (from 5) — the same tie
    // rule cascades the smaller label one hop further; the seeds
    // themselves NEVER move (clamped)
    val r3 = runLpa(path, Seq((1L, 10L), (5L, 20L)), iters = 3)
    assert(r3 == Map(1L -> Some(10L), 2L -> Some(10L), 3L -> Some(10L),
      4L -> Some(10L), 5L -> Some(20L)), s"got $r3")
  }

  test("label propagation: unreached components stay unlabeled") {
    val got = runLpa(Seq((1L, 2L), (8L, 9L)), Seq((1L, 7L)), iters = 3)
    assert(got(2L) == Some(7L))
    assert(got(8L).isEmpty && got(9L).isEmpty, s"got $got")
  }

  test("label propagation: majority vote wins over single dissenter") {
    // node 0 has three neighbors labeled 5 and one labeled 1: majority 5
    // must win even though 1 < 5 (tie-break must not override counts)
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
    val got = runLpa(star, Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 1L)), 1)
    assert(got(0L) == Some(5L), s"got $got")
  }

  test("personalized pagerank: mass conserves, locality to the seed") {
    val s2 = spark; import s2.implicits._
    // two disjoint 2-cycles; seeding {1} must leave {3,4} at rank 0
    val g = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L))
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = Graph.pageRank(g.toDF("src", "dst"), 5, seeds = Some(seeds))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-12, r.toString)
    assert(r(3L) == 0.0 && r(4L) == 0.0, r.toString)
    // all restart mass circulates inside the seeded component (the
    // 2-cycle makes per-node shares oscillate with iteration parity,
    // so only positivity is a stable invariant)
    assert(r(1L) > 0 && r(2L) > 0, r.toString)
    // seeding EVERY node with uniform restart equals classic pagerank
    val all = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("node")
    val pers = Graph.pageRank(g.toDF("src", "dst"), 5, seeds = Some(all))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val classic = Graph.pageRank(g.toDF("src", "dst"), 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(pers.keySet == classic.keySet)
    assert(pers.forall { case (k, v) =>
      math.abs(v - classic(k)) < 1e-12 }, s"$pers vs $classic")
  }

  test("personalized pagerank rejects a disjoint seed set") {
    val s2 = spark; import s2.implicits._
    val g = Seq((1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Graph.pageRank(g, 2, seeds = Some(Seq(Tuple1(99L)).toDF("node"))))
    assert(e.getMessage.contains("seed"))
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] = {
    val s2 = spark; import s2.implicits._
    Graph.kCorePeel(edges.toDF("src", "dst"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("k-core: chain peels shell by shell, the clique survives") {
    // 4-clique {1,2,3,4} with a pendant chain 4-5-6: at k=2 the chain
    // sheds ONE leaf per round (6 first, exposing 5), while the clique
    // (every degree 3) is untouched at any round count
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L))
    val g = clique ++ chain
    val r1 = runKCore(g, 2, 1)
    assert(!r1.contains(6L) && r1.contains(5L), s"round 1: $r1")
    val r2 = runKCore(g, 2, 2)
    assert(r2.keySet == Set(1L, 2L, 3L, 4L), s"round 2: $r2")
    assert(r2.values.forall(_ == 3L), s"core degrees: $r2")
    // duplicate / reversed / self-loop edges collapse before peeling
    val noisy = g ++ Seq((2L, 1L), (3L, 3L), (1L, 2L))
    assert(runKCore(noisy, 2, 2) == r2)
    // k above the densest core empties the graph
    assert(runKCore(g, 4, 3).isEmpty)
  }

  test("k-core rejects non-numeric node ids") {
    val s2 = spark; import s2.implicits._
    val bad = Seq(("a", "b")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Graph.kCorePeel(bad, 2, 1))
    assert(e.getMessage.contains("numeric"))
  }

  /** Plain-Scala BFS layers over the undirected edges, out to `maxHops`. */
  private def refKHop(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Map[Long, Int] = {
    val adj = (edges ++ edges.map(_.swap)).filter { case (u, v) => u != v }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds.toSet
    for (h <- 1 to maxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- dist.keySet
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  test("k-hop distances equal a plain BFS, unreached nodes absent") {
    val s2 = spark; import s2.implicits._
    // a branching path from seed 1, a self-loop, a component no seed
    // touches (7-8) and seed 9, which has no edge at all
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L), (6L, 2L),
      (5L, 5L), (7L, 8L))
    val seeds = Seq(1L, 9L)
    for (hops <- 1 to 5) {
      val got = Graph.kHopDistances(g.toDF("src", "dst"),
          seeds.map(Tuple1(_)).toDF("node"), hops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = refKHop(g, seeds, hops)
      assert(got == want, s"maxHops=$hops")
    }
    assert(refKHop(g, seeds, 5) == Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 2,
      6L -> 2, 4L -> 3, 5L -> 4))
  }

  test("each round-loop operator leaves one checkpoint: the one it reads") {
    val s2 = spark; import s2.implicits._
    val sc = spark.sparkContext
    val g = withIsland.toDF("src", "dst")
    val seeds = Seq(Tuple1(1L), Tuple1(6L)).toDF("node")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id1", "id2")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(g, 3)),
      "pageRank seeded" -> (() => Graph.pageRank(g, 3, seeds = Some(seeds))),
      "labelPropagation" -> (() => Graph.labelPropagation(g,
        Seq((1L, 10L)).toDF("node", "label"), 2)),
      "kCorePeel" -> (() => Graph.kCorePeel(g, 2, 2)),
      "kHopDistances" -> (() => Graph.kHopDistances(g, seeds, 3)),
      "components" -> (() => ops.Dedup.components(pairs)),
      "components via star" -> (() =>
        ops.Dedup.components(pairs, propagationRounds = 1)),
      "starComponents" -> (() => ops.Dedup.starComponents(pairs)))
    for ((name, run) <- runs) {
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      val added = sc.getPersistentRDDs.keySet -- before
      val read = out.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd.id }.toSet
      assert(added.size == 1 && added == read,
        s"$name cached $added, its result reads $read")
      assert(out.count() > 0, name)
      added.foreach(sc.getPersistentRDDs(_).unpersist())
    }
  }
}
