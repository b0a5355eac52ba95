package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** RECIPES.md, EXECUTED: each test runs one of the documented production
  * compositions end-to-end at fixture scale and asserts the invariant the
  * recipe promises (duplicate-free curation, exact token-budget packing,
  * self-retrieval, both-column skipping, exact cardinality forecast).
  * RECIPES.md's code blocks are kept in lockstep with this spec — a
  * signature drift breaks the build here, not in a reader's pipeline.
  */
class RecipesSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  test("recipe 1: pretraining-corpus curation end to end — dedup, span " +
      "excision, quality, policy, decontamination, splits, packing, " +
      "manifest — each step's invariant holds") {
    val s2 = spark; import s2.implicits._
    val nDocs = docs.count()

    // 1. exact + confusable-resistant dedup (one shuffle each):
    //    groups partition the corpus under BOTH skeletons [q40, q286]
    for (groups <- Seq(Dedup.normalizedGroups(docs),
        Curation.confusableGroups(docs))) {
      val g = groups.agg(sum("n_copies"), count(lit(1))).head()
      assert(g.getLong(0) == nDocs, "groups must partition the corpus")
      assert(groups.select("canonical_id").distinct().count() ==
        g.getLong(1), "one canonical per group")
    }

    // 2. near-dup candidates + the exactness certificate [q42, q267]
    val cands = Dedup.minhashCandidates(docs, n = 3, numHashes = 16,
      rowsPerBand = 4)
    assert(cands.where(col("id1") >= col("id2")).isEmpty,
      "candidate pairs are ordered and self-free")
    val cert = Dedup.spillCertificate(docs, 3).head()
    assert(cert.getAs[Long]("spilled_buckets") == 0L,
      "zero spill certifies the banding refused nothing")

    // 3. ExactSubstr span audit + excision: token accounting is exact
    //    [q270, q137]
    val clean = Dedup.removeDuplicateSpans(docs, k = 8)
    val acct = clean
      .select((size(filter(split(col("text"), " "), w => length(w) > 0))
        - col("n_removed_tokens")
        - size(filter(split(col("clean_text"), " "),
            w => length(w) > 0))).as("delta"))
      .agg(sum(abs(col("delta")))).head().getLong(0)
    assert(acct == 0L, "orig tokens - removed == clean tokens, per doc")

    // 4. quality gate: KN perplexity vs an in-corpus reference [q274]
    val ref = docs.where(col("doc_id") % 5 === 0)
    val scored = TextAnalysis.perplexityKN(
      clean.where(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text")), ref)
    val pp = scored.agg(min("ppl"), max("ppl")).head()
    assert(pp.getDouble(0) > 0 && !pp.getDouble(1).isInfinite,
      "perplexity finite and positive for every doc")
    // span-level repair: every flagged span sits inside its document
    val spanBounds = graft.ops.TextAnalysis.lowQualitySpans(
        docs, ref, window = 8, maxAvgNll = 3.55)
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt")), "doc_id")
      .where(col("span_start") < 1 || col("span_end") > col("nt") ||
        col("span_start") > col("span_end"))
    assert(spanBounds.isEmpty, "span bounds must be valid positions")

    // 5. policy: PII redaction then blocklist redaction [q88, q273]
    val banned = Seq("table scan", "merge")
    val safe = Curation.redactBlocklist(
      Curation.redactPii(docs).select(col("doc_id"), col("text")),
      banned)
    assert(safe.where(banned.map(p => col("clean_text").contains(p))
      .reduce(_ || _)).isEmpty, "no banned phrase survives redaction")

    // 6. decontamination: flag docs sharing 5-grams with the benchmark
    //    set, then anti-join the flags away [q113]
    val benchmarks = docs.where(col("doc_id") % 7 === 0)
    val flagged = Curation.decontaminateBloom(docs, benchmarks, n = 5)
    val deconta = docs.join(flagged.select("doc_id"), Seq("doc_id"),
      "left_anti")
    // every benchmark doc is its own 5-gram twin: none may survive
    assert(deconta.join(benchmarks.select("doc_id"), Seq("doc_id"),
      "left_semi").isEmpty, "benchmark members must be flagged out")

    // 7. leakage-safe split + exact context-window packing [q221, q269]
    val clusters = docs.select(col("doc_id"),
      (col("doc_id") % 40).as("cluster_id"))
    val split3 = Sampling.clusterAwareSplit(deconta, clusters,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val straddlers = split3.join(clusters, "doc_id")
      .groupBy("cluster_id").agg(countDistinct("split").as("k"))
      .where(col("k") > 1).count()
    assert(straddlers == 0L, "a cluster must never straddle splits")
    val train = split3.where(col("split") === "train")
      .select(col("doc_id"), size(split(col("text"), " "))
        .cast("long").as("n_tokens"))
    val packed = Curation.contextWindows(train, windowTokens = 256L)
    val total = train.agg(sum("n_tokens")).head().getLong(0)
    val wins = packed.groupBy("window_id")
      .agg(sum("slice_len").as("filled")).collect()
    val lastWin = wins.map(_.getLong(0)).max
    assert(wins.filter(_.getLong(0) != lastWin)
      .forall(_.getLong(1) == 256L), "every window but the last is full")
    assert(wins.map(_.getLong(1)).sum == total, "no token lost or forged")

    // 8. ship with provenance: the manifest's rollup totals match [q259]
    val manifest = Profile.datasetManifest(packed,
      Seq("window_id", "id"), shards = 8)
    val totalRow = manifest.where(col("shard") === -1).head()
    assert(totalRow.getAs[Long]("n") == packed.count(),
      "manifest total == packed rows")
  }

  test("recipe 2: tokenizer training + application — BPE merges " +
      "reassemble every word exactly") {
    val merges = TextAnalysis.bpeTrain(docs, numMerges = 40)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty, "training must learn merges on real text")
    // applying the merge table partitions each word: concatenating the
    // subword tokens reproduces the word, always
    val broken = docs
      .select(explode(filter(split(col("text"), " "),
        w => length(w) > 0)).as("w"))
      .select(col("w"), TextAnalysis.bpeApply(col("w"), merges).as("toks"))
      .where(array_join(col("toks"), "") =!= col("w"))
    assert(broken.isEmpty, "BPE tokens must reassemble the word")
  }

  test("recipe 3: retrieval stack — BM25, hybrid RRF fusion, NDCG@k: " +
      "self-doc always retrieved, rankings prefix-stable, fusion dense, " +
      "NDCG algebra bounded") {
    val queries = docs.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val nq = queries.count()
    assert(nq >= 2, s"fixture must yield queries, got $nq")
    // a verbatim query retrieves its own doc (top-2 to top-21 on this
    // small-vocab synthetic corpus, where longer term-rich docs can
    // legitimately outscore the source — BM25's dl/tf trade, not a bug)
    val bm = TextAnalysis.bm25TopK(docs, queries, k = 25)
    assert(bm.where(col("query_id") === col("doc_id")).count() == nq,
      "the self doc must be retrieved for every query")
    // prefix stability: k=5 is exactly the head of k=25
    val head5 = TextAnalysis.bm25TopK(docs, queries, k = 5)
      .select("query_id", "doc_id", "rk")
    val head25 = bm.where(col("rk") <= 5)
      .select("query_id", "doc_id", "rk")
    assert(head5.exceptAll(head25).isEmpty &&
      head25.exceptAll(head5).isEmpty,
      "raising k must never reshuffle the head of the ranking")
    // fusion: dense ranks 1..k per query, no duplicates
    val fused = TextAnalysis.hybridTopK(docs, queries, k = 5)
    val perQ = fused.groupBy("query_id")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"),
        min("rk").as("lo"), max("rk").as("hi")).collect()
    assert(perQ.forall(r => r.getLong(1) == r.getLong(2) &&
      r.getAs[Int]("lo") == 1 && r.getAs[Int]("hi") == r.getLong(1)),
      "fused ranks must be dense and duplicate-free per query")
    // grade with term-overlap relevance (the q243 shape): NDCG in (0,1],
    // dcg <= idcg always
    val rel = bm.where(col("rk") <= 5)
      .join(queries.select(col("query_id"),
        split(col("text"), " ").as("qt")), "query_id")
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("dt")),
        "doc_id")
      .withColumn("rel", size(array_intersect(
        array_distinct(col("qt")), array_distinct(col("dt"))))
        .cast("long"))
      .select("query_id", "rk", "rel")
    val graded = TextAnalysis.ndcgAtK(rel, k = 5)
    assert(graded.where(col("ndcg").isNull || col("ndcg") <= 0 ||
      col("ndcg") > 1.0 + 1e-9 ||
      col("dcg") > col("idcg") + lit(1e-9)).isEmpty,
      "NDCG must be in (0, 1] with dcg <= idcg")
  }

  test("recipe 4: layout planning — the measured curve audit proves " +
      "BOTH curve layouts prune BOTH clustered columns before any " +
      "rewrite; single sorts do not") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"))
    val prof = Layout.curveSkippingProfile(li,
        Seq("l_partkey", "l_suppkey"),
        bits = 8, numFiles = 64,
        probes = Seq(("l_partkey", 1L, 20L), ("l_suppkey", 1L, 5L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    // either curve scans a strict subset of files for probes on EITHER
    // column; each single-key sort scans everything on the other
    for (curve <- Seq("hilbert", "zorder");
        c <- Seq("l_partkey", "l_suppkey")) {
      val (nz, sz) = prof((curve, c))
      assert(sz < nz, s"$curve must prune on $c: $sz/$nz")
    }
    val (na, sa) = prof(("sort_l_partkey", "l_suppkey"))
    assert(sa == na, "a partkey sort prunes nothing on suppkey")
  }

  test("recipe 5: observability loop — expectations gate passes on " +
      "conforming data and the cardinality forecast is EXACT") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val gate = Profile.expectations(li, Seq(
      ("qty_positive", "l_quantity > 0", 0.0),
      ("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')", 0.0)))
    assert(gate.where(!col("passed")).isEmpty, "conforming data passes")
    // joinCardinality's forecast is the exact key-grain product sum:
    // it must equal the real join's row count
    val est = Profile.joinCardinality(li, orders, "l_orderkey",
      "o_orderkey")
      .head().getAs[java.math.BigDecimal]("total_pairs").longValueExact()
    val actual = li.join(orders,
      li("l_orderkey") === orders("o_orderkey")).count()
    assert(est == actual, s"forecast $est vs actual $actual")
  }
}
