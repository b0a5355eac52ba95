package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analysis for corpus curation: PageRank, label propagation,
  * co-citation, triangles, k-core peeling and k-hop distances. The
  * iterative operators run their rounds through [[Rounds]]: one
  * checkpoint per round, the round before it released, so a round's plan
  * stays one step deep.
  */
object Graph {

  /** Power-iteration PageRank over directed `(src, dst)` edges; returns
    * `(node: bigint, rank: double)` for every node with an edge. Parallel
    * edges collapse (the classic unweighted formulation). With damping `d`
    * each round sets `rank' = t + d·(Σ in-contributions + dangling)`,
    * where nodes without out-edges hand their mass back like the teleport:
    *  - global (`seeds = None`): ranks start at `1/N`, `t = (1−d)/N`, and
    *    every node gets `dangling mass / N`;
    *  - personalized: `seeds` is a one-column `node` relation. Each seed in
    *    the graph has restart share `s = 1/|S|`, every other node 0; ranks
    *    start at `s`, `t = (1−d)·s`, and every node gets
    *    `dangling mass · s`, so nodes the seeds cannot reach end at 0. The
    *    seed set must intersect the graph.
    * Ranks sum to 1 every round in both modes.
    *
    * Runs Spark jobs while the plan is built: the edge and node
    * checkpoints, the node (or seed) count and one checkpoint per round.
    * The returned plan reads the final round's checkpoint, which stays
    * cached for it; every other checkpoint is released before return.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
      seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val uniq = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    val outDeg = uniq.groupBy("src").agg(count(lit(1)).as("deg"))
    // degree rides the node relation, so a round needs no join on outDeg
    val withDeg = uniq.select(col("src").as("node"))
      .union(uniq.select(col("dst").as("node"))).distinct()
      .join(outDeg.withColumnRenamed("src", "node"), Seq("node"), "left")
    val deg = coalesce(col("deg"), lit(0L)).as("deg")
    val nodes = seeds.fold(withDeg.select(col("node"), deg)) { s =>
      withDeg.join(s.select(col("node").cast("long")).distinct()
          .withColumn("__seed", lit(1)), Seq("node"), "left")
        .select(col("node"), deg,
          coalesce(col("__seed"), lit(0)).as("is_seed"))
    }.localCheckpoint(true)
    // (node relation, teleport term, dangling share, starting rank)
    val (base, teleport, share, start) = seeds match {
      case None =>
        val n = nodes.count().toDouble
        (nodes, lit((1.0 - damping) / n), col("__dang") / lit(n),
          lit(1.0) / n)
      case Some(_) =>
        val nSeeds = nodes.where(col("is_seed") === 1).count().toDouble
        if (nSeeds == 0) Rounds.release(uniq, nodes)
        require(nSeeds > 0, "seed set must intersect the graph")
        (nodes.select(col("node"), col("deg"), when(col("is_seed") === 1,
            lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("s")),
          lit(1.0 - damping) * col("s"), col("__dang") * col("s"), col("s"))
    }
    val keep = base.columns.map(col).toSeq
    Rounds.run(base.withColumn("rank", start), iters,
        Seq(uniq, nodes)) { (ranks, _) =>
      // the dangling mass is a broadcast one-row aggregate inside the
      // round's plan, not a driver action: one job per round
      val dangling = ranks.where(col("deg") === 0)
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dang"))
      val contribs = uniq
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("contrib"))
      base.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(keep :+ (teleport + lit(damping) *
          (coalesce(col("contrib"), lit(0.0)) + share)).as("rank"): _*)
    }.state.select("node", "rank")
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002, majority
    * variant) over `(src, dst)` edges and `(node, label)` seeds. Seed
    * nodes are clamped to their label; every round each other node adopts
    * the most common label among its in-neighbors, ties to the smallest
    * label. Pass symmetrized edges for the undirected formulation.
    * Returns `(node: bigint, label: bigint)`, `label` null for nodes no
    * seed reached within `iters` rounds.
    *
    * Runs Spark jobs while the plan is built: the edge checkpoint and one
    * checkpoint per round. The returned plan reads the final round's
    * checkpoint, which stays cached for it; the edge checkpoint is
    * released before return.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val uniq = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(true)
    val nodes = uniq.select(col("src").as("node"))
      .union(uniq.select(col("dst").as("node"))).distinct()
    val seed = seeds.select(col("node").cast("long"),
      col("label").cast("long").as("seed_label"))
    val init = nodes.join(seed, Seq("node"), "left")
      .select(col("node"), col("seed_label"), col("seed_label").as("label"))
    Rounds.run(init, iters, Seq(uniq)) { (labels, _) =>
      val votes = uniq
        .join(labels.where(col("label").isNotNull)
          .select(col("node").as("src"), col("label").as("cand")), "src")
        .groupBy(col("dst").as("node"), col("cand"))
        .agg(count(lit(1)).as("votes"))
      // argmax by (votes desc, cand asc) as one struct-max aggregation:
      // the exchange carries map-side-combined maxima, no window sort
      val best = votes
        .groupBy("node")
        .agg(max(struct(col("votes"), (-col("cand")).as("nc"))).as("m"))
        .select(col("node"), (-col("m.nc")).as("cand"))
      labels.join(best, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          coalesce(col("seed_label"), col("cand"), col("label"))
            .as("label"))
    }.state.select("node", "label")
  }

  /** Co-citation graph: weight(u, v) = number of documents that cite BOTH
    * nodes u and v (hosts, authors, entities …) — the classic relatedness
    * signal from bibliometrics, and for a crawl corpus the cheap
    * host-similarity graph (hosts co-linked by many pages are topically
    * related) that feeds [[pageRank]] / [[labelPropagation]].
    *
    * Input is an exploded citation relation `(docCol, nodeCol)`; empty
    * node strings are dropped, duplicate citations within one document
    * collapse first (a page linking a host 50 times still co-cites once).
    *
    * Shape at 100 TB: one (doc, node) dedup shuffle, then the pair
    * expansion joins the relation WITH ITSELF ON THE DOCUMENT KEY — cost
    * is Σ_doc (links/doc)², bounded by the per-document link count (a
    * page cites tens of hosts), never by corpus size or by node
    * popularity. The final agg collapses onto the (node, node) grain.
    * Contrast a node-keyed self-join, which would square the hottest
    * node's postings.
    */
  def coCitation(citations: DataFrame, docCol: String,
      nodeCol: String): DataFrame = {
    val d = citations
      .select(col(docCol).as("doc"), col(nodeCol).as("node"))
      .where(col("node").isNotNull && col("node") =!= "")
      .distinct()
    d.as("a").join(d.as("b"), Seq("doc"))
      .where(col("a.node") < col("b.node"))
      .groupBy(col("a.node").as("node_l"), col("b.node").as("node_r"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph — the standard cohesion/community signal (spam
    * rings and scraper farms cluster; organic link neighborhoods have
    * characteristic coefficients). Input edges may be duplicated or
    * arbitrarily oriented; self-loops drop. Returns
    * `(node, deg, n_tri, coeff)` for every node with `deg >= 2`, where
    * `coeff = 2·n_tri / (deg·(deg−1))` (NULL never occurs — deg ≥ 2).
    *
    * Algorithm: degree-ordered orientation (node-iterator++) — every
    * edge points from the (deg, id)-smaller endpoint, wedges pair a
    * source's out-neighbors in that same total order, and a semi-join
    * against the oriented edges closes them. Each triangle is counted
    * exactly once, and out-degrees are bounded by O(√m), so wedge count
    * is O(m^1.5) — the classic bound — instead of Σ deg² (hub-quadratic)
    * for naive wedge generation. At 100 TB scale this is 3 equi-joins
    * and an aggregation, all hash-partitioned; nothing driver-side.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // ids are cast to long for the degree-ordered orientation; a
    // non-numeric id column (e.g. the string hosts coCitation emits)
    // would cast to NULL and silently drop every edge, so reject it
    // here — map string nodes through a dictionary (dense ids) first
    for (c <- Seq("src", "dst")) {
      val dt = edges.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"triangles: column '$c' must be numeric (got ${dt.simpleString}); " +
          "dictionary-encode string node ids before calling")
    }
    val e = edges.select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
        .otherwise(
          struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
        .as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.dt").as("dt"))
    val w1 = oriented.select(col("s"), col("t").as("t1"), col("dt").as("d1"))
    val w2 = oriented.select(col("s"), col("t").as("t2"), col("dt").as("d2"))
    val wedges = w1.join(w2, Seq("s"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("t1") < col("t2")))
    val tris = wedges.join(
        oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"), "left_semi")
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(tris, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1))).as("coeff"))
  }

  /** Fixed-round k-core peeling: `rounds` times, delete the nodes whose
    * degree in the current subgraph is below `k`, with their edges. At
    * convergence every surviving node has degree ≥ k in the surviving
    * subgraph; with a fixed budget the result is the round-`rounds` peel,
    * deterministic and SQL-replayable. Edges may be duplicated or
    * arbitrarily oriented; self-loops drop; node ids must be numeric
    * (string ids would cast to NULL and empty the graph). Returns
    * `(node: bigint, deg: bigint)`: the surviving nodes with their degree
    * in the final peeled subgraph.
    *
    * Runs Spark jobs while the plan is built: one checkpoint of the edge
    * set and one per round. The returned plan reads the final round's
    * checkpoint, which stays cached for it.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    for (c <- Seq("src", "dst")) {
      val dt = edges.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"kCorePeel: column '$c' must be numeric (got ${dt.simpleString}); " +
          "dictionary-encode string node ids before calling")
    }
    val init = edges.select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
    val e = Rounds.run(init, rounds) { (e, _) =>
      val keep = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("n")
      e.join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
    }.state
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** BFS distances in hops from a seed set (`node`), out to `maxHops`,
    * over `(src, dst)` edges read as undirected. Returns
    * `(node: bigint, dist: int)` for every node reached, dist 0 for the
    * seeds; nodes beyond `maxHops` or disconnected are absent. A node's
    * dist is its BFS layer, independent of traversal order. Hop `h` joins
    * the layer `dist = h − 1` against the adjacency and appends the
    * unvisited endpoints, so its cost tracks the frontier, not the graph.
    *
    * Runs Spark jobs while the plan is built: the adjacency checkpoint
    * and one checkpoint of `dist` per hop. The returned plan reads the
    * final hop's checkpoint, which stays cached for it; the adjacency is
    * released before return.
    */
  def kHopDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops=$maxHops must be >= 1")
    val dir = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val adj = dir
      .unionAll(dir.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    val init = seeds.select(col("node").cast("long").as("node"))
      .distinct().withColumn("dist", lit(0))
    Rounds.run(init, maxHops, Seq(adj)) { (dist, h) =>
      dist.unionAll(dist.where(col("dist") === h - 1)
        .join(adj, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(h)))
    }.state
  }
}
