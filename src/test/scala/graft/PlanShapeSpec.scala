package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Physical-plan shape assertions: the 100 TB scale claims in the ops'
  * Scaladoc, pinned as tests so a rewrite can't silently reintroduce a
  * shuffle (every Exchange is a full corpus rewrite at scale) or drop a
  * broadcast to a shuffled join.
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: DataFrame): Int =
    "(?i)exchange".r.findAllIn(plan(df)).size

  test("hyperplane LSH bucketing is a narrow, shuffle-free projection") {
    assert(exchanges(Similarity.lshBuckets(emb, 6, 64)) == 0)
  }

  test("content split and stratified sample are narrow, shuffle-free") {
    assert(exchanges(Sampling.contentSplit(docs,
      Seq("train" -> 0.9, "test" -> 0.1))) == 0)
    assert(exchanges(Sampling.stratifiedSample(docs, "lang",
      Map("en" -> 0.5), 0.1)) == 0)
  }

  test("minhash candidates: signature shuffle + band shuffle + dedup only") {
    // groupBy(id) for signatures, the bucket-pair kernel's one exchange
    // on (band, band_key), distinct() on the candidate pairs — anything
    // more means a branch re-evaluates the corpus scan
    assert(exchanges(Dedup.minhashCandidates(docs, 3, 8, 2)) <= 3)
  }

  test("curation pipeline shuffles once (the dedup window)") {
    val out = Curation.curate(docs, minQuality = 0.0,
      rates = Map("en" -> 1.0), defaultRate = 1.0,
      weights = Seq("train" -> 0.9, "test" -> 0.1))
    assert(exchanges(out) == 1)
  }

  test("leakage scan reads the corpus ONCE (one bucket exchange, no " +
      "self-join)") {
    // asserted on the non-AQE physical plan, whose text shows every
    // scan; the pair expansion is one grouped pass over the fingerprint
    // buckets, so no join or window branch can read the corpus again
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val split = Sampling.contentSplit(docs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val df = Curation.leakageScan(split, 3, 4)
      val p = plan(df)
      val scans = "(?i)scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$p")
      assert(!p.contains("SortMergeJoin"), p)
      assert(!"(?i)window".r.findAllIn(p).hasNext, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontamination scans the corpus once and broadcasts eval grams") {
    val df = Curation.decontaminate(
      docs.where(col("doc_id") % 10 =!= 0),
      docs.where(col("doc_id") % 10 === 0), n = 5)
    val p = plan(df)
    // one corpus scan + one eval scan; the per-doc total must ride the
    // gram projection, not a second counting branch over the corpus
    val scans = "(?i)scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 scans (corpus + eval), got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // exchanges: eval-side distinct + broadcast + the per-doc count agg
    assert(exchanges(df) <= 4, p)
  }

  test("brute-force top-k broadcasts the queries, never the corpus") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val p = plan(Similarity.cosineTopK(emb, q, 3))
    assert(p.toLowerCase.contains("broadcast"))
  }

  test("asof join plans as one key-window shuffle, no nested loop") {
    val s2 = spark; import s2.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("id", "k", "ts")
    val r = Seq((10L, 90L, 1.0)).toDF("k", "ts", "v")
    val p = plan(AsOf.asofJoin(l, r, "k", "ts", Seq("v")))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(exchanges(AsOf.asofJoin(l, r, "k", "ts", Seq("v"))) <= 1)
  }

  test("range join plans as an equi-join, never cartesian") {
    val s2 = spark; import s2.implicits._
    val pts = Seq((1L, 10L, 100L)).toDF("pid", "k", "ts")
    val ivs = Seq((1L, 10L, 90L, 110L)).toDF("iid", "k", "lo", "hi")
    val p = plan(AsOf.rangeJoin(pts, ivs, "k", "ts", "lo", "hi", 50L))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("count-min build is one shuffle; estimate broadcasts the sketch") {
    val s2 = spark; import s2.implicits._
    val keys = Seq("a", "b", "a").toDF("term")
    val sketch = Sketch.countMin(keys, "term", 4, 64)
    assert(exchanges(sketch) == 1)
    val est = Sketch.estimate(sketch, keys.distinct(), "term", 4, 64)
    assert(plan(est).contains("Broadcast"), plan(est))
  }

  test("pair-vector gold join broadcasts the gold side") {
    val s2 = spark; import s2.implicits._
    val counts = graft.pipeline.Counts.fromEdges(
      graft.queries.PipelineBench.syntheticCorpus(spark, 1000, 6)
        .transform(graft.pipeline.Biarcs.edges(_)))
    try {
      val assoc = graft.pipeline.Associate.associate(counts)
      val gold = Seq(("run", "walk", true)).toDF("w1", "w2", "related")
      val p = plan(graft.pipeline.PairVectors.vectors(assoc, gold))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
    } finally counts.unpersist()
  }

  test("weighted sample, chunking, and markup stripping are narrow") {
    assert(exchanges(Sampling.weightedSample(
      docs.withColumn("w", size(split(col("text"), " ")).cast("long")),
      0.3, "w", 64.0)) == 0)
    assert(exchanges(TextAnalysis.chunk(docs, 40, 8)) == 0)
    assert(exchanges(Curation.stripMarkup(docs)) == 0)
  }

  test("zvalue broadcasts the bounds row; no data shuffle") {
    val df = Layout.zValue(docs.withColumn("a", col("doc_id"))
      .withColumn("b", col("n_chars")), Seq("a", "b"), 8)
    val p = plan(df)
    // the only exchange permitted is the broadcast of the 1-row bounds
    // aggregate back over the data — never a hash/range repartition
    assert(p.contains("BroadcastExchange") || p.contains("broadcast"), p)
    assert(!"(?i)exchange (hash|range)partitioning".r.findFirstIn(p).isDefined, p)
  }

  test("pixel resize is a narrow partition-batched map, no shuffle") {
    val media = Multimodal.asMedia(docs)
    assert(exchanges(Multimodal.resizeMedia(media, 8)) == 0)
  }

  test("IVF-PQ broadcasts its small sides; the code table never shuffles " +
      "through a join") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val p = plan(Similarity.search(Similarity.ivfPqIndex(emb, nlist = 4,
      m = 8, ksub = 16, dims = 64), queries, 5, nprobe = 2))
    // centroids (assignment + probing), the probe set, and the ADC LUT
    // each arrive by broadcast; a SortMergeJoin here would mean the
    // 32×-compressed code table is being shuffled against a tiny side
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the centroids and the codebook are materialized once: the corpus is
    // read for the codes, the assignment and the two query sides only —
    // a lazy index relation would re-derive from the corpus at every
    // broadcast that consumes it
    assert("embeddings.parquet".r.findAllIn(p).size == 4, p)
  }

  test("residual IVF-PQ keeps its extra LUTs broadcast too") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val p = plan(Similarity.search(Similarity.ivfPqResidualIndex(emb,
      nlist = 4, m = 8, ksub = 16, dims = 64), queries, 5, nprobe = 2))
    // on top of plain IVF-PQ's sides, the residual design adds the per-list
    // cross/‖c‖² table — nlist rows, which must ALSO arrive by broadcast;
    // a SortMergeJoin would mean the compressed code table is shuffling
    // against one of these tiny relations
    assert("BroadcastExchange".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the centroids, residual codebook and per-list table each derive once
    assert("embeddings.parquet".r.findAllIn(p).size == 4, p)
  }

  test("bloom decontamination keeps the corpus side join-free") {
    val corpus = docs.where(col("doc_id") % 100 =!= 0)
    val eval = docs.where(col("doc_id") % 100 === 0)
    val df = Curation.decontaminateBloom(corpus, eval, n = 5,
      numBits = 1 << 20, numHashes = 5)
    val p = plan(df)
    // the filter is a plan LITERAL: the probe side must contain no join
    // of any kind (a join would copy the word array into every gram row
    // — the 28.9 s regression this shape replaced) and exactly ONE
    // exchange, the per-doc hit count
    assert(!"(?i)join".r.findFirstIn(p).isDefined, p)
    assert(exchanges(df) == 1, p)
  }

  test("duplicate spans: gram-grain shuffles only, join reuses the " +
      "count aggregation's partitioning") {
    val df = Dedup.duplicateSpans(docs, k = 5)
    val p = plan(df)
    // grams→count agg, grams→join side, per-doc window; the final
    // (doc_id, island) aggregation is satisfied by the window's doc_id
    // partitioning and the dup side arrives already hashed by gh from its
    // aggregation — more exchanges means a branch re-shuffles gram rows
    assert(exchanges(df) <= 4, p)
  }

  test("bm25 gates the corpus to query vocabulary by broadcast, " +
      "df/idf arrive broadcast too") {
    val q = docs.limit(3)
      .select(col("doc_id").as("query_id"), col("text"))
    val p = plan(TextAnalysis.bm25TopK(docs, q, k = 5))
    // the query-vocab semi-join, the df table, the query-terms join, and
    // the one-row stats each arrive by broadcast; a SortMergeJoin would
    // mean corpus-grain postings are shuffling against a tiny side
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("perplexity broadcasts the LM; the scored corpus never shuffles " +
      "against it") {
    val ref = docs.where(col("doc_id") % 10 === 0)
    val p = plan(TextAnalysis.perplexity(
      docs.where(col("doc_id") % 10 =!= 0), ref))
    // bigram counts, two unigram lookups, and the one-row stats all
    // arrive broadcast — the scored corpus's only shuffle is its own
    // per-doc aggregation; a SortMergeJoin would mean token-grain rows
    // shuffling against the bounded reference model
    assert("BroadcastExchange".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hybrid RRF's fusion join is rank-grain, not corpus-grain") {
    val q = docs.limit(3).select(col("doc_id").as("query_id"), col("text"))
    val p = plan(TextAnalysis.hybridTopK(docs, q, k = 5))
    // both rankers keep bm25's broadcast gating; the full-outer fusion
    // joins two ≤|Q|·kInner relations — nothing corpus-grain may
    // cartesian
    assert("BroadcastExchange".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard negatives broadcast the query set (cosineTopK discipline)") {
    val p = plan(Similarity.hardNegatives(emb,
      emb.where(col("vec_id") % 50 === 0), k = 5))
    assert("BroadcastExchange".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cluster-balanced sample: broadcast assignment + ONE cap window " +
      "shuffle") {
    val df = Sampling.clusterBalancedSample(emb, nlist = 8,
      maxPerCluster = 10)
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"), p)
    // corpus-grain hash exchanges: the assignment window (per vec_id)
    // and the per-cluster cap window — no third corpus rewrite
    val hashEx = "(?i)exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, p)
  }

  test("semantic dedup assigns clusters narrowly (broadcast centroids)") {
    val df = Similarity.semanticDedup(emb, nlist = 4, threshold = 0.5)
    val p = plan(df)
    // centroid assignment must be a broadcast cross join (never a shuffle
    // of the corpus against nlist rows); the only corpus-grain shuffles
    // are the within-cluster pair join and the anti join
    assert("BroadcastExchange".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("curate→chunk→pack composes into exactly two shuffles") {
    // cap = one lang-window exchange; the chunk explode must stay NARROW
    // between it and the pack windows (no exchange of its own); pack =
    // one bucket-window exchange. A third hash exchange means chunking
    // broke the pipeline into an extra corpus rewrite.
    val capped = Sampling.capPerKey(docs, "lang", 50)
    val chunks = TextAnalysis.chunk(capped, chunkTokens = 40, overlap = 8)
    val packed = Sampling.packShards(chunks, budgetTokens = 500L,
      numBuckets = 8, textCol = "chunk", orderCols = Seq("doc_id", "chunk_id"))
    val hashEx = "(?i)exchange hashpartitioning".r
      .findAllIn(plan(packed)).size
    assert(hashEx == 2, plan(packed))
  }

  test("column pruning reaches the parquet scan (ReadSchema is minimal)") {
    // the brief's pushdown requirement, pinned: a scan reading columns a
    // plan never touches is a silent 100 TB I/O regression. Extract every
    // scan's ReadSchema and assert only the needed columns survive.
    def readCols(df: DataFrame): Set[String] =
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan(df))
        .flatMap(_.group(1).split(",").map(_.split(":").head.trim))
        .toSet
    // curate→chunk→pack touches doc_id/text/lang; source and n_chars
    // must be pruned away at the documents scan
    val packed = Sampling.packShards(
      TextAnalysis.chunk(Sampling.capPerKey(docs, "lang", 50), 40, 8),
      budgetTokens = 500L, numBuckets = 8, textCol = "chunk",
      orderCols = Seq("doc_id", "chunk_id"))
    assert(readCols(packed) == Set("doc_id", "text", "lang"),
      readCols(packed).toString)
    // funnel stage times touch user_id/event_type/ts; event_id, value,
    // and props must be pruned
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$dir/events.parquet")
    val funnel = Funnel.stageTimes(events, "user_id", "event_type", "ts",
      Seq("signup", "click", "purchase"))
    assert(readCols(funnel) == Set("user_id", "event_type", "ts"),
      readCols(funnel).toString)
    // LSH bucketing projects vec_id + embedding; label must be pruned
    val buckets = Similarity.lshBuckets(
      emb.select("vec_id", "embedding"), 6, 64)
    assert(readCols(buckets) == Set("vec_id", "embedding"),
      readCols(buckets).toString)
  }

  test("SF-gate predicates push down into the scan (PushedFilters)") {
    // the battery's fixed-id gates (doc_id < 6000 etc.) must reach the
    // parquet reader — evaluated post-scan they'd still read every row
    // group at 100 TB
    val p = plan(Dedup.jaccardPairs(docs.where(col("doc_id") < 6000), 3, 0.8))
    assert("PushedFilters: \\[[^\\]]*LessThan\\(doc_id,6000\\)".r
      .findFirstIn(p).isDefined, p)
  }

  test("mergeInto is ONE per-key shuffle over base ∪ changes") {
    val base = docs.select(col("doc_id").as("k"), col("text").as("payload"))
    val changes = docs.select(col("doc_id").as("k"),
      col("n_chars").as("seq"), lit("U").as("op"),
      col("text").as("payload"))
    val merged = Cdc.mergeInto(base, changes, "k", Seq("seq"))
    val hashEx = "(?i)exchange hashpartitioning".r
      .findAllIn(plan(merged)).size
    assert(hashEx == 1, plan(merged))
  }

  test("mixture sample is a broadcast-gated narrow filter, no shuffle") {
    val out = Sampling.mixtureSample(docs, Map("src0" -> 1.0, "src1" -> 0.5))
    val p = plan(out)
    // the rates table must arrive by broadcast and the corpus side must
    // stay narrow — a hash exchange here would shuffle 100 TB to apply a
    // 5-row allowlist
    assert(p.contains("BroadcastHashJoin"), p)
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("dataset card is ONE rollup aggregation pass") {
    val df = TextAnalysis.datasetCard(docs)
    // Expand feeds a single partial+final aggregate: one hash exchange
    // total; more would mean the three grains scan or shuffle separately
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(df)).size == 1,
      plan(df))
  }

  test("label centroids: (group, dim) agg + group reassembly only") {
    val df = Similarity.labelCentroids(emb)
    // one exchange per aggregation grain; a third means the exploded
    // cell relation is being re-shuffled
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(df)).size <= 2,
      plan(df))
  }

  test("random projection is a narrow, shuffle-free projection") {
    assert(exchanges(Similarity.randomProject(emb, 16, 64)) == 0)
  }

  test("classify-by-centroid broadcasts the centroid table") {
    val p = plan(Similarity.classifyByCentroid(emb, emb))
    // the bounded class-centroid relation must arrive by broadcast; a
    // SortMergeJoin would shuffle the corpus against a |labels|-row table
    assert(!p.contains("SortMergeJoin"), p)
    // (group, dim) agg + label reassembly + the final vec-grain argmax
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("cross-corpus minhash broadcasts the reference band keys") {
    val ref = docs.where(col("doc_id") % 2 === 0)
    val cor = docs.where(col("doc_id") % 2 === 1)
    val p = plan(Dedup.minhashCrossCandidates(cor, ref, 3, 8, 2))
    // the benchmark side is bounded: its band keys broadcast, the corpus
    // is never shuffled against it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // one signature agg per side + the final distinct
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("fuzzy join stays an equi-join on the length bucket") {
    val l = docs.select(col("doc_id").as("id_l"),
      substring(col("text"), 1, 30).as("k_l"))
    val r = docs.select(col("doc_id").as("id_r"),
      substring(col("text"), 1, 30).as("k_r"))
    val p = plan(Dedup.fuzzyJoin(l, r, "k_l", "k_r", maxDist = 2))
    // blocking exists precisely to avoid the quadratic plan: any nested-
    // loop or cartesian join here means the levenshtein predicate is
    // being evaluated corpus × corpus
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("url canonicalization is a narrow, shuffle-free projection") {
    val links = docs.select(col("doc_id"),
      concat(lit("http://h/"), col("source")).as("href"))
    assert(exchanges(Curation.canonicalizeUrls(links)) == 0)
  }

  test("dsir scoring broadcasts the bucket models, never sort-merges") {
    val raw = docs.where(col("doc_id") % 10 =!= 0)
    val tgt = docs.where(col("doc_id") % 10 === 0)
    val p = plan(Sampling.importanceWeights(raw, tgt, 64))
    // the ≤B-row models must come back as broadcasts; a SortMergeJoin
    // here means the gram stream is being shuffled against a model
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("partitioned sink + lang predicate prunes partitions at the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune")
    try {
      docs.select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").partitionBy("lang").parquet(tmp.toString)
      val df = spark.read.parquet(tmp.toString)
        .where(col("lang") === "en").select("doc_id", "n_chars")
      val p = df.queryExecution.executedPlan.toString
      // the predicate must land in PartitionFilters (directory pruning),
      // not ride as a post-scan Filter over the whole corpus
      assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined, p)
      assert(!p.contains("Filter (lang"), p)
    } finally graft.queries.QueryDef.deleteRecursively(tmp)
  }

  test("partial top-k aggregates map-side; the corpus is never sorted") {
    val df = graft.ops.TopK.perKey(docs, "source", "n_chars", "doc_id", 3)
    val p = plan(df)
    // the whole point vs the window form: a partial ObjectHashAggregate
    // before the exchange (≤ k rows per key per map task cross the
    // wire), ONE exchange, and no per-key Sort of corpus rows
    assert("(?i)objecthashaggregate".r.findAllIn(p).size >= 2, p)
    assert(exchanges(df) == 1, p)
    assert(!p.contains("Sort "), p)
  }

  test("example packing is ONE bucket shuffle; no global-order window") {
    val df = Sampling.packExamples(docs, 128, 4)
    val p = plan(df)
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    // a Window with an empty partition spec would read
    // "Exchange SinglePartition" — the global-sort shape this op avoids
    assert(!p.contains("SinglePartition"), p)
  }

  test("gopher rules: gram agg + doc-grain join, never a self-join " +
      "of the corpus scan") {
    val df = Curation.gopherRules(docs)
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(df)).size <= 3,
      plan(df))
  }

  test("transition matrix stacks lead + count on bounded shuffles") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val df = Funnel.transitionMatrix(ev, "user_id",
      Seq("ts_us", "event_id"), "event_type")
    // user window + (from,to) agg + the normalizer window over the
    // |event types|²-row collapsed relation
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(df)).size <= 3,
      plan(df))
  }

  test("centroid matrix touches the corpus once; pairs expand on the " +
      "collapsed dim-grain relation") {
    val src = docs.select(col("doc_id").as("vec_id"), col("source"))
    val df = Similarity.groupCentroidMatrix(emb.join(src, "vec_id"),
      "source")
    // the parquet embedding scan must appear exactly once — the pair
    // join runs on the aggregated (grp, dim) matrix, not a re-scan
    val scans = "embeddings.parquet".r.findAllIn(plan(df)).size
    assert(scans <= 2, plan(df)) // self-join of the TINY dim relation may
                                 // reuse one scan subtree per side at most
  }

  test("sparse cosine pairs: corpus-size scalar broadcasts; the posting " +
      "join is an equi-join on the term") {
    val df = TextAnalysis.sparseCosinePairs(docs, 0.3, 50)
    val p = plan(df)
    // the only nested-loop allowed is the broadcast 1-row n_docs scalar;
    // doc pairs must never cartesian
    assert(!"(?i)cartesianproduct".r.findAllIn(p).hasNext, p)
    // the pair generation must be a hash/sort equi-join on the term
    assert("(?i)hashjoin|sortmergejoin".r.findAllIn(p).nonEmpty, p)
  }

  test("co-citation joins on the doc key, never on the node") {
    val cites = docs.select(col("doc_id"), col("source").as("node"))
    val p = plan(Graph.coCitation(cites, "doc_id", "node"))
    // the self-join's partitioning keys must be the doc column
    assert("(?i)hashpartitioning\\(doc".r.findAllIn(p).nonEmpty, p)
    assert(!"(?i)hashpartitioning\\(node#\\d+, 32\\).*sortmergejoin"
      .r.findAllIn(p).hasNext, p)
  }

  test("decayed sum: broadcast anchor, two key-partitioned sorted " +
      "passes (OrderedSum), two exchanges") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val df = Decay.decayedSum(ev, "user_id", Seq("ts_us", "event_id"),
      "ts_us", "value", 1000000L, 1000L)
    val p = plan(df)
    assert("(?i)broadcastexchange".r.findAllIn(p).size == 1, p)
    // both fold levels are partitioned windows (never a global
    // single-partition window, whose text shape is "], [], [")
    assert(!p.contains("], [], ["), p)
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!"(?i)objecthashaggregate".r.findAllIn(p).hasNext, p)
  }

  test("heavy hitters: candidates broadcast into a semi-join; the " +
      "second pass shuffles candidate keys only") {
    val toks = docs.select(explode(split(col("text"), " ")).as("term"))
    val p = plan(Sketch.heavyHitters(toks, "term", 1.0 / 16.0))
    assert("(?i)broadcasthashjoin.*leftsemi".r.findAllIn(p).nonEmpty, p)
    assert("(?i)broadcastexchange".r.findAllIn(p).size >= 2, p) // cand + total
  }

  test("point-in-time join keeps the as-of union+window shape — no " +
      "theta-join") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val changes = ev.select(col("user_id"), col("ts_us").as("seq_us"),
      col("event_id"), lit("U").as("op"), col("value"))
    val hist = Cdc.scd2(changes, "user_id", Seq("seq_us", "event_id"))
    val facts = ev.select(col("event_id").as("fact_id"), col("user_id"),
      col("ts_us"))
    val p = plan(Cdc.pointInTimeJoin(facts, hist, "user_id", "ts_us",
      Seq("event_id"), Seq("value")))
    assert(!"(?i)broadcastnestedloopjoin|cartesianproduct".r
      .findAllIn(p).hasNext, p)
    assert("(?i)window".r.findAllIn(p).nonEmpty, p)
  }

  test("gap-fill: spine and fill stack on the key partitioning") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val df = AsOf.gapFillLocf(ev, "user_id", Seq("ts_us", "event_id"),
      "ts_us", "value", 86400L * 1000000L)
    // (key,bucket) agg, key-bounds agg, the (key,bucket) join, and the
    // final key window — all hash exchanges on key-prefixed columns,
    // and no more than four of them
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(df)).size <= 4,
      plan(df))
  }

  test("key candidates and corr matrix each read the table ONCE") {
    val kc = Profile.keyCandidates(docs,
      Seq(Seq("doc_id"), Seq("source", "lang"), Seq("source")))
    assert("documents.parquet".r.findAllIn(plan(kc)).size == 1, plan(kc))
    val cm = Profile.corrMatrix(docs.selectExpr("doc_id a",
      "n_chars b", "doc_id % 7 c"), Seq("a", "b", "c"))
    assert("documents.parquet".r.findAllIn(plan(cm)).size == 1, plan(cm))
  }

  test("pseudonymization and purged folds stay narrow") {
    assert(exchanges(Curation.pseudonymize(docs)) == 0)
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    // one SinglePartition exchange for the broadcast min/max bounds;
    // the data path itself never shuffles
    val pf = Sampling.purgedTimeFolds(ev, "ts_us", 5, 1000000L)
    assert("(?i)exchange hashpartitioning".r.findAllIn(plan(pf)).isEmpty,
      plan(pf))
  }

  test("delta dedup: corpus is probed via broadcasts, never cartesian") {
    val corpus = docs.where(org.apache.spark.sql.functions
      .col("doc_id") < 300)
    val delta = docs.where(org.apache.spark.sql.functions
      .col("doc_id").between(300, 400))
    val df = Dedup.deltaDedup(corpus, delta, 3, 8, 2, maxDist = 20)
    val p = plan(df)
    // every delta-derived relation (hashes, band keys, candidates,
    // classification joins) must broadcast against the corpus scans
    assert("BroadcastExchange".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("multi-touch attribution: one equi-join + one conv-keyed window") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val df = Funnel.multiTouchAttribution(ev, "user_id", "event_id",
      "ts_us", "event_type", "value", "purchase", "click", 1800000000L)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    // the time bound rides the user-key equi-join as a filter; rank +
    // count share the conv_id window partitioning
    assert("(?i)hashpartitioning\\(conv_id".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("record linkage: per-field u stats broadcast; blocked equi-join") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(org.apache.spark.sql.functions.col("c_custkey"),
        org.apache.spark.sql.functions.col("c_nationkey"),
        org.apache.spark.sql.functions.col("c_mktsegment").as("seg"))
    val df = Linkage.linkageScores(cust, cust, "c_custkey", "c_custkey",
      Seq("c_nationkey"), Seq("seg"))
    val p = plan(df)
    // the pair expansion must be the blocked hash equi-join, with the
    // one-row u table broadcast in (a BroadcastNestedLoopJoin on a
    // single-row build side is the cross join's correct physical form)
    assert("BroadcastExchange".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed pareto: key-grain windows partition by bucket; only " +
      "collapsed grains hit a single partition") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // q192's explicit bucket count and q183's default one
    val at64 = Profile.paretoProfile(
      li.select(col("l_suppkey"), col("l_quantity")),
      "l_suppkey", "l_quantity", 64)
    val atDefault = Profile.paretoProfile(
      li.select(col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")),
      "l_suppkey", "cents")
    for (df <- Seq(at64, atDefault)) {
      val p = plan(df)
      // the per-key rank/cumsum windows must run partitioned by the radix
      // bucket — a regression to the global-window form would plan the
      // key-grain Sort+Window downstream of an Exchange SinglePartition
      assert("(?i)hashpartitioning\\(__b".r.findAllIn(p).nonEmpty, p)
      // single-partition exchanges exist only for the collapsed grains
      // (global bounds agg + the <= buckets+1 offset rollup)
      assert("Exchange SinglePartition".r.findAllIn(p).size <= 3, p)
    }
  }

  test("expanding z-scores: one key window carries all three sums") {
    val ev = graft.queries.QueryDef.eventsMicros(spark, dir)
    val df = Profile.expandingZScores(ev, "user_id",
      Seq("ts_us", "event_id"), "value", 2)
    val p = plan(df)
    assert("(?i)exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("(?i)\\bwindow\\b".r.findAllIn(p.toLowerCase).size >= 1, p)
  }

  test("naive Bayes: model joins hash/broadcast, never cartesian on " +
      "the corpus") {
    val p = plan(TextAnalysis.naiveBayes(docs, "source"))
    assert(!"(?i)cartesianproduct".r.findAllIn(p).hasNext, p)
    // the doc-terms x model join must be an equi-join on the term
    assert("(?i)hashjoin|sortmergejoin".r.findAllIn(p).nonEmpty, p)
  }

  test("chi-square terms: class sizes broadcast; ranking on the " +
      "(term, class) grain") {
    val p = plan(TextAnalysis.chiSquareTerms(docs, "source", 5))
    assert("(?i)broadcastexchange".r.findAllIn(p).size >= 2, p)
    assert(!"(?i)cartesianproduct".r.findAllIn(p).hasNext, p)
  }

  test("salted join: the shuffle routes on (key, salt), not key alone") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(when(col("l_partkey") % 5 =!= 0, lit(0L))
        .otherwise(col("l_partkey")).as("key"), col("l_quantity"))
    val dim = spark.read.parquet(s"$dir/part.parquet")
      .where(col("p_partkey") % 5 === 0 && col("p_partkey") > 0)
      .select(col("p_partkey").as("key"),
        substring(col("p_name"), 1, 1).as("grp"))
    val df = graft.ops.Skew.saltedJoin(li, dim, "key", 8)
    val p = plan(df)
    // the whole point of salting: every exchange that carries the join
    // key also carries _salt, so the hot key spreads over salt tasks —
    // a plain hashpartitioning(key) exchange would be the regression
    assert("(?i)hashpartitioning\\(key[^)]*_salt".r.findAllIn(p).nonEmpty
      || "(?i)broadcastexchange".r.findAllIn(p).nonEmpty, p)
    assert(!"(?i)hashpartitioning\\(key#\\d+\\)".r.findAllIn(p).hasNext, p)
  }

  test("histogram: bounds join back by group; the bin grid joins " +
      "broadcast — no cartesian against the rows") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val df = Profile.histogram(li, "l_returnflag", "l_quantity", 8)
    val p = plan(df)
    assert(!"(?i)cartesian".r.findAllIn(p).hasNext, p)
    // the only row-grain work is the scan + bounds join; the grid
    // cross join is against the GROUP-grain bounds, via broadcast
    assert("(?i)broadcast".r.findAllIn(p).nonEmpty, p)
  }

  test("cluster-aware split: one equi-join, then narrow — the hash " +
      "fold adds no exchange over the join") {
    val cl = docs.select(col("doc_id"),
      (col("doc_id") / 10).cast("long").as("cluster_id"))
    val df = Sampling.clusterAwareSplit(docs, cl,
      Seq("train" -> 0.9, "test" -> 0.1))
    // a broadcast join has zero shuffle exchanges; a shuffled equi-join
    // would have two (one per side). Either way, nothing beyond the
    // join itself: the split projection must stay narrow.
    assert(exchanges(df) <= 2, plan(df))
    assert(!"(?i)cartesian".r.findAllIn(plan(df)).hasNext, plan(df))
  }

  test("quantile normalize: per-source windows, then the interleaved " +
      "scan — no join between the two CDFs") {
    val df = Profile.quantileNormalize(docs, "source", "n_chars")
    val p = plan(df)
    // the lookup is resolved by ONE window over the unioned step
    // functions — a join-based rewrite (range or cross) would show here
    assert(!"(?i)cartesian|sortmergejoin|broadcasthashjoin"
      .r.findAllIn(p).hasNext, p)
  }

  test("bootstrap CI: the replica expansion is pipelined into the " +
      "partial agg — first shuffle is already (group, replica) grain") {
    val df = Profile.bootstrapCI(docs, "source", "n_chars", "doc_id",
      replicas = 16)
    val p = plan(df)
    assert(!"(?i)cartesian".r.findAllIn(p).hasNext, p)
    // no exchange may sit between the generator and the first hash
    // aggregate: the exploded stream must never be shuffled raw
    val gen = p.indexOf("Generate")
    val firstAgg = p.lastIndexOf("HashAggregate")
    assert(gen >= 0 && firstAgg >= 0, p)
    assert(!"(?i)exchange".r.findAllIn(p.substring(firstAgg, gen))
      .hasNext, s"exploded rows shuffled before partial agg:\n$p")
  }

  test("seasonal anomalies: no window over raw events — order " +
      "statistics run on collapsed grains, flag is broadcast-filtered") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val df = Profile.seasonalAnomalies(ev, "ts_us", "cents")
    val p = plan(df)
    assert(!"(?i)cartesianproduct".r.findAllIn(p).hasNext, p)
    // every Window must consume a HashAggregate output (the collapsed
    // (value, count) grain), never the raw scan: a plan that sorts raw
    // events inside 168 cell partitions would put Window straight over
    // the event-side exchange with no aggregate in between
    val wins = "(?i)window".r.findAllIn(p).size
    assert(wins >= 2, p) // cell-median cum + global cum windows exist
    assert("(?i)broadcast".r.findAllIn(p).nonEmpty, p)
  }

  test("prefix filter join: candidates come from the prefix relation " +
      "— no cartesian, quadratic work confined to bucket explode") {
    val df = Dedup.prefixFilterPairs(docs, 3, 0.8)
    val p = plan(df)
    assert(!"(?i)cartesian".r.findAllIn(p).hasNext, p)
    // the prefix buckets expand in the bucket-pair kernel's grouped
    // pass, not in a collect_list aggregate
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    // the prefix is a slice of each document's sorted token array, not
    // a per-document rank window
    assert("Generate posexplode".r.findAllIn(p).nonEmpty, p)
    assert(!"(?i)window".r.findAllIn(p).hasNext, p)
  }

  test("prefix filter token sets: grams deduplicated inside each row " +
      "— no (id, shingle) aggregate, one count keyed by the gram") {
    val plan = Dedup.tokenSets(docs, 3).queryExecution.optimizedPlan
    val keys = plan.collect { case a: Aggregate =>
      a.groupingExpressions.flatMap(_.references.map(_.name)).toSet }
    assert(!keys.exists(k => k("id") && k("shingle")), plan)
    assert(keys.count(_ == Set("shingle")) == 1, plan)
  }

  test("prefix filter join: verification merges the sorted token sets " +
      "and the grams come from the n-gram kernel — no array_intersect, " +
      "no lambda") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Expression, LambdaFunction}
    def exprs(df: DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.flatMap(
        _.expressions.flatMap(_.collect { case e => e }))
    def code(df: DataFrame): String = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    // q223's call; the join reads the token sets from their checkpoint,
    // so their own plan is checked separately. Without AQE the physical
    // plan holds its whole-stage subtrees before it runs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val join = Dedup.prefixFilterPairs(docs, 3, 0.7)
      assert(!exprs(join).exists(_.isInstanceOf[ArrayIntersect]))
      assert(code(join).contains("graft.functions.SortedOverlap.count("))
      val sets = Dedup.tokenSets(docs, 3)
      assert(!exprs(sets).exists(_.isInstanceOf[LambdaFunction]))
      assert(code(sets).contains("graft.functions.WordNgrams.grams("))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("time-weighted avg: one key window + one key-grain agg") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val df = AsOf.timeWeightedAvg(ev, "user_id", "ts_us", "cents",
      0L, Long.MaxValue)
    val p = plan(df)
    assert(!"(?i)cartesian|join".r.findAllIn(p).hasNext, p)
    // window partitioning and the final agg share the key: the agg
    // reuses the window's exchange, so exactly ONE shuffle total
    assert(exchanges(df) == 1, p)
  }

  test("weighted WOR: partial top-k aggregation, no Window, filter " +
      "pushed to the scan") {
    val df = Sampling.weightedSampleWOR(docs, "source", 5, "n_chars")
    val p = plan(df)
    // the selection is the TopK aggregator with map-side combine —
    // a per-group row_number Window here would be the giant-group
    // hotspot the op exists to avoid
    assert(!"(?i)window".r.findAllIn(p).hasNext, p)
    assert("partial_topkagg".r.findAllIn(p).nonEmpty, p)
    assert("GreaterThan\\(n_chars,0\\)".r.findAllIn(p).nonEmpty, p)
  }

  test("gram profile: ONE moment aggregation with map-side combine — " +
      "the exchange never carries exploded pair rows") {
    val df = Moments.gramProfile(emb, d = 64)
    val p = plan(df)
    // partial + final GramAgg pair, single exchange between them, and
    // the pair-grain Generate sits ABOVE the aggregation (narrow
    // explode of one d(d+1)/2 array), never below it
    assert("partial_gramagg".r.findAllIn(p).nonEmpty, p)
    assert(exchanges(df) == 1, p)
    assert(!"(?i)cartesian|sortmergejoin".r.findAllIn(p).hasNext, p)
  }

  test("join cardinality: corpora collapse to key grain before any " +
      "join; the skew list is the partial top-k aggregator") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val df = Profile.joinCardinality(li, li, "l_partkey", "l_partkey")
    val p = plan(df)
    assert("partial_topkagg".r.findAllIn(p).nonEmpty, p)
    assert(!"(?i)cartesianproduct".r.findAllIn(p).hasNext, p)
    // the single-row totals side arrives broadcast
    assert("(?i)broadcast".r.findAllIn(p).nonEmpty, p)
  }

  test("global rank: every window is bucket-PARTITIONED — the " +
      "single-partition global sort never appears") {
    val df = Layout.globalRank(
      docs.select(col("doc_id"), col("n_chars")), "n_chars", "doc_id")
    // the rank is a narrow projection over the sorted checkpoint: no
    // window at all, so no unpartitioned one
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, df.queryExecution.optimizedPlan.toString)
    // rank still exactly matches the naive global window
    val got = df.orderBy("rk").limit(3).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val naive = docs.select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars"), col("doc_id")).limit(3).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }
    assert(got.sameElements(naive), got.toSeq.toString)
  }

  test("global cumsum / context windows / duplicated spans: every " +
      "window is PARTITIONED (group- or doc-bounded), never global") {
    def partitionedWindows(df: org.apache.spark.sql.DataFrame): Unit = {
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty)
      assert(windows.forall(_.partitionSpec.nonEmpty),
        "an empty partitionSpec is the one-task global scan these ops " +
          "exist to avoid")
    }
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    partitionedWindows(Layout.globalCumsum(lens, "doc_id", "doc_id",
      "n_tokens"))
    partitionedWindows(graft.ops.Curation.contextWindows(lens, 256L))
    partitionedWindows(graft.ops.Dedup.duplicateSpans(docs, 8))
    partitionedWindows(graft.ops.Dedup.removeDuplicateSpans(docs, 8))
  }

  test("blocklist scan and redaction are purely narrow: zero Exchange") {
    val pats = Seq("table", "fast merge", "scan")
    for (df <- Seq(graft.ops.Curation.blocklistScan(docs, pats),
        graft.ops.Curation.redactBlocklist(docs, pats))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"blocklist ops must not shuffle:\n$p")
    }
  }

  test("KN perplexity: every model relation joins broadcast, no " +
      "SortMergeJoin touches the scoring pass") {
    val ref = docs.where(col("doc_id") % 10 === 0)
    val score = docs.where(col("doc_id") % 10 =!= 0)
    val p = graft.ops.TextAnalysis.perplexityKN(score, ref)
      .queryExecution.executedPlan.toString
    assert("(?i)broadcasthashjoin".r.findAllIn(p).size >= 5,
      s"five model lookups must broadcast:\n${p.take(2000)}")
    assert(!"(?i)sortmergejoin".r.findAllIn(p).hasNext,
      "no sort-merge join on the scoring pass")
  }

  test("round-11 shapes: corpus-law fits keep every window bucket-" +
      "partitioned; rendezvous routing is a zero-Exchange projection") {
    val bigrams = docs
      .select(col("doc_id"), filter(split(col("text"), " "),
        x => length(x) > 0).as("l"))
      .where(size(col("l")) >= 2)
      .select(col("doc_id"), array_join(expr(
        "transform(sequence(1, size(l) - 1), i -> " +
          "concat(element_at(l, i), '_', element_at(l, i + 1)))"),
        " ").as("text"))
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    // zipfFit's global rank is a narrow projection: no window at all
    assert(windows(Profile.zipfFit(bigrams)).isEmpty)
    val ws = windows(Profile.heapsFit(bigrams))
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "the fit's cumsum windows must stay partitioned")
    assert(exchanges(Sampling.rendezvousAssign(docs.select("doc_id"),
      (0 until 8).map(i => s"s$i"))) == 0,
      "rendezvous assignment must be a pure narrow projection")
  }
}
