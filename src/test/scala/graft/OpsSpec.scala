package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Cross-operator invariants for the training-data ops on sf0.001 (the
  * DuckDB oracle pins exact values; these pin the *relationships* between
  * the exact and probabilistic operators).
  */
class OpsSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash-LSH candidates cover all high-Jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(docs, 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    assert(exact.subsetOf(cand),
      s"missed by LSH: ${exact -- cand}")
  }

  test("near-identical docs have near-identical simhash") {
    val nearDups = Dedup.jaccardPairs(docs, 3, 0.95)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nearDups.nonEmpty)
    val hams = Dedup.simhashPairs(docs, Dedup.SimhashBits) // no filter
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // near-dups should differ in well under 20% of signature bits
    val far = Dedup.SimhashBits / 5
    nearDups.foreach { p =>
      assert(hams(p) <= far,
        s"pair $p hamming ${hams(p)} too far for a near-dup")
    }
  }

  test("banded simhash candidates equal the all-pairs Hamming set") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // pigeonhole cover: for every (maxHamming, numBands) with
    // numBands > maxHamming the banded path must reproduce the all-pairs
    // result exactly — including the Hamming distances
    for ((maxH, bands) <- Seq((3, 4), (4, 5), (7, 10), (1, 2))) {
      val exact = pairs(Dedup.simhashPairs(docs, maxH))
      val banded = pairs(Dedup.simhashCandidates(docs, maxH, bands))
      assert(banded == exact,
        s"maxH=$maxH bands=$bands: missed=${exact.keySet -- banded.keySet} " +
          s"extra=${banded.keySet -- exact.keySet}")
    }
    // sanity: the test corpus actually produces near-dup pairs to cover
    assert(pairs(Dedup.simhashPairs(docs, 4)).nonEmpty)
    // misuse is rejected: bands <= maxHamming can miss pairs by pigeonhole
    intercept[IllegalArgumentException](
      Dedup.simhashCandidates(docs, maxHamming = 4, numBands = 4))
    intercept[IllegalArgumentException](
      Dedup.simhashCandidates(docs, maxHamming = 2, numBands = 7))
  }

  test("connected components collapse candidate pairs into clusters") {
    val s2 = spark; import s2.implicits._
    // two chains and one cycle: {1,2,3,4}, {10,11}, {20,21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("id1", "id2")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // label propagation on real candidates agrees with a transitive
    // closure computed driver-side
    val cand = Dedup.minhashCandidates(docs, 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = cand.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def reach(start: Long): Set[Long] = {
      var seen = Set(start); var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      seen
    }
    val comp = Dedup.components(docs.sparkSession.createDataFrame(
        cand.toSeq).toDF("id1", "id2")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp.foreach { case (id, label) => assert(label == reach(id).min) }
  }

  test("components converges on long chains and refuses silent truncation") {
    val s2 = spark; import s2.implicits._
    // a 25-hop chain needs ~24 propagation rounds
    val chain = (0L until 25L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id1", "id2")
    val labels = Dedup.components(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 25 && labels.values.forall(_ == 0L))
    // an insufficient round budget throws instead of returning wrong labels
    intercept[IllegalStateException](Dedup.components(chain, maxIter = 3))
  }

  test("adversarial chains route to star contraction, no maxIter raise") {
    val s2 = spark; import s2.implicits._
    // a 400-hop chain would need ~399 propagation rounds — far past the
    // default budget; components must fall back to large-star/small-star
    // (O(log n) rounds) and still return exact min labels
    val chain = (0L until 400L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id1", "id2")
    val labels = Dedup.components(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 400 && labels.values.forall(_ == 0L))
  }

  test("star contraction agrees with propagation on branchy graphs") {
    val s2 = spark; import s2.implicits._
    // mixed shapes: chains, a cycle, a star, a clique, singleton pairs
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain
        (10L, 11L), (11L, 12L), (12L, 10L),                  // cycle
        (20L, 21L), (20L, 22L), (20L, 23L),                  // star
        (40L, 41L)) ++                                       // pair
      (for (a <- 30L to 33L; b <- (a + 1) to 33L) yield (a, b))) // clique
      .toDF("id1", "id2")
    val prop = Dedup.components(pairs, propagationRounds = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.starComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop, s"star=$star prop=$prop")
  }

  test("curation preserves user metadata columns end to end") {
    val out = Curation.curate(docs, minQuality = 0.0,
      rates = Map.empty, defaultRate = 1.0,
      weights = Seq("train" -> 1.0))
    // the documents table's source column must survive the whole chain
    assert(out.columns.contains("source"))
    val srcs = out.select("source").distinct().count()
    assert(srcs >= 1)
    assert(out.columns.contains("quality") && out.columns.contains("split"))
  }

  test("deterministic IVF handles sparse and offset vec_ids") {
    val shifted = emb.withColumn("vec_id", col("vec_id") * 2 + 1001)
    val q = shifted.where(col("vec_id") % 50 === 1)
    val res = Similarity.search(Similarity.ivfIndex(shifted, nlist = 4), q, 3,
      nprobe = 4)
    assert(res.count() > 0)
    // nprobe == nlist law still holds on the weird id layout
    val exact = Similarity.cosineTopK(shifted, q, 3)
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val ivf = res.select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ivf == exact)
  }

  test("dropNearDups keeps exactly one representative per cluster") {
    val s2 = spark; import s2.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val corpus = (1L to 12L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDups(corpus, pairs).collect()
      .map(_.getLong(0)).toSet
    // cluster {1,2,3} -> 1; cluster {10,11} -> 10; everyone else survives
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L))
  }

  test("exact dedup groups partition the corpus") {
    val n = docs.count()
    val groups = Dedup.exactGroups(docs)
    assert(groups.agg(sum("n_copies")).head().getLong(0) == n)
  }

  /** Single-probe hyperplane-LSH reference: each query's `k` best
    * same-bucket candidates ([[Similarity.lshBuckets]]) by exact cosine,
    * ties to the lowest neighbor_id, never the query itself.
    */
  private def sameBucketTopK(queries: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = Similarity.lshBuckets(emb, 6, 64)
    val q = b.join(queries.select("vec_id"), "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    b.join(q, col("bucket") === col("qbucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Similarity.cosine(col("qv"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
  }

  test("brute-force top-k is a valid ranking; lsh candidates respect buckets") {
    val queries = emb.where(col("vec_id") % 50 === 0)
    val topk = Similarity.cosineTopK(emb, queries, 5)
    val rows = topk.collect()
    assert(rows.nonEmpty)
    // per query: ranks 1..5, cosine non-increasing, no self matches
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(!rs.exists(_.getAs[Long]("neighbor_id") == q))
    }
    // single-probe lsh top-k results only pair vectors from the same bucket
    val buckets = Similarity.lshBuckets(emb, 6, 64)
      .select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sameBucketTopK(queries, 3).collect().foreach { r =>
      assert(buckets(r.getAs[Long]("query_id")) ==
        buckets(r.getAs[Long]("neighbor_id")))
    }
  }

  test("multi-probe LSH candidates strictly contain the single-probe set " +
      "and recall dominates") {
    val queries = emb.where(col("vec_id") % 100 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.cosineTopK(emb, queries, 5))
    val single = hits(sameBucketTopK(queries, 5))
    val multi = hits(Similarity.lshTopK(emb, queries, 5, 6, 64))
    val rs = (single & exact).size.toDouble / exact.size
    val rm = (multi & exact).size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    // the candidate pool is a superset, so any single-probe top hit that
    // multi-probe drops must have been displaced by a strictly better one
    assert(rm > 0.0 && multi.nonEmpty)
    // every multi-probe pair is within Hamming 1 of the query's bucket
    val buckets = Similarity.lshBuckets(emb, 6, 64)
      .select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.lshTopK(emb, queries, 5, 6, 64).collect()
      .foreach { r =>
        val d = java.lang.Long.bitCount(
          buckets(r.getAs[Long]("query_id")) ^
            buckets(r.getAs[Long]("neighbor_id")))
        assert(d <= 1, s"candidate at Hamming $d")
      }
  }

  test("gopher rules flag each violation by name, keep iff no reasons") {
    val s2 = spark; import s2.implicits._
    val good = (1 to 30).map(i => s"word$i").mkString(" ")   // 30 distinct
    val cases = Seq(
      (1L, good),                                     // passes everything
      (2L, "one two three"),                          // too_short
      (3L, (1 to 100).map(i => s"w$i").mkString(" ")), // too_long+short_words
      (4L, (1 to 30).map(_ => "aa").mkString(" ")),    // rep_word (+ others)
      (5L, (1 to 30).map(i => s"extraordinarily$i").mkString(" "))) // long_words
      .toDF("doc_id", "text")
    val got = Curation.gopherRules(cases)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("reasons"), r.getAs[Boolean]("keep")))).toMap
    assert(got(1L) == (("", true)), s"got ${got(1L)}")
    assert(got(2L)._1.contains("too_short") && !got(2L)._2)
    assert(got(3L)._1.contains("too_long"), s"got ${got(3L)}")
    assert(got(3L)._1.contains("short_words"), s"got ${got(3L)}")
    assert(got(4L)._1.contains("rep_word") &&
      got(4L)._1.contains("rep_bigram"), s"got ${got(4L)}")
    assert(got(5L)._1.contains("long_words") && !got(5L)._2)
    // keep ⇔ reasons empty, corpus-wide
    Curation.gopherRules(docs).collect().foreach { r =>
      assert(r.getAs[Boolean]("keep") == r.getAs[String]("reasons").isEmpty)
    }
  }

  test("canonicalByScore keeps the best-scoring cluster member, " +
      "not the min id") {
    val s2 = spark; import s2.implicits._
    val d = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5),  // cluster A: 2 wins
        (10L, 0.7), (11L, 0.7),                   // cluster B: tie → 10
        (20L, 0.1))                               // unclustered: passes
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val kept = Dedup.canonicalByScore(d, pairs, "score")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(2L, 10L, 20L), s"got $kept")
    // contrast with the min-id policy
    val minId = Dedup.dropNearDups(d, pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(minId == Set(1L, 10L, 20L), s"got $minId")
    // corpus-level: canonical count == dropNearDups count (same clusters,
    // different representatives), and every cluster keeps exactly one
    val dq = TextAnalysis.withQuality(docs)
    val cand = Dedup.minhashCandidates(docs, 3, 8, 2)
    val a = Dedup.canonicalByScore(dq, cand, "quality").count()
    val b = Dedup.dropNearDups(dq, cand).count()
    assert(a == b, s"canonical=$a dropNearDups=$b")
  }

  test("packExamples: every token lands in exactly one example, " +
      "examples are full except each bucket's last") {
    val m = Sampling.packExamples(docs, seqLen = 128, numBuckets = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(m.nonEmpty)
    // per doc: subranges tile [1, n_tokens] with no gap or overlap
    val nTok = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.groupBy(_._3).foreach { case (doc, rows) =>
      val spans = rows.sortBy(_._4).map(r => (r._4, r._5))
      assert(spans.head._1 == 1L, s"doc $doc starts at ${spans.head._1}")
      assert(spans.last._2 == nTok(doc), s"doc $doc ends early")
      spans.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1)._1 == p(0)._2 + 1,
          s"doc $doc gap/overlap at ${p(0)._2} → ${p(1)._1}")
      }
    }
    // per (bucket, example): exactly seqLen tokens except the bucket max
    m.groupBy(r => (r._1, r._2)).foreach { case ((b, ex), rows) =>
      val tot = rows.map(r => r._5 - r._4 + 1).sum
      val isLast = ex == m.filter(_._1 == b).map(_._2).max
      if (isLast) assert(tot <= 128, s"bucket $b last example $tot")
      else assert(tot == 128L, s"bucket $b example $ex has $tot tokens")
    }
  }

  test("group centroid matrix: hand-computed cosine, bounds, and " +
      "agreement with labelCentroids") {
    val s2 = spark; import s2.implicits._
    // group x: members (1,0),(3,0) → centroid (2,0); y: (0,4) → (0,4);
    // z: (1,1),(3,3) → (2,2). cos(x,y)=0, cos(x,z)=1/√2, cos(y,z)=1/√2
    val fx = Seq((1L, "x", Seq(1f, 0f)), (2L, "x", Seq(3f, 0f)),
        (3L, "y", Seq(0f, 4f)), (4L, "z", Seq(1f, 1f)),
        (5L, "z", Seq(3f, 3f)))
      .toDF("vec_id", "grp", "embedding")
    val got = Similarity.groupCentroidMatrix(fx, "grp")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(got(("x", "y"))) < 1e-12, s"got $got")
    assert(math.abs(got(("x", "z")) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(got(("y", "z")) - 1.0 / math.sqrt(2)) < 1e-12)
    // real embeddings: every pair emitted once (grp1 < grp2), |cos| <= 1
    val rows = Similarity.groupCentroidMatrix(
      emb.withColumn("grp", (col("vec_id") % 4).cast("string")), "grp")
      .collect()
    assert(rows.length == 6) // C(4,2)
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
  }

  test("PSI drift: zero for identical snapshots, positive under shift") {
    val s2 = spark; import s2.implicits._
    val a = (1 to 100).map(i => i.toDouble % 50).toDF("v")
    val same = Curation.psiDrift(a, a, "v", 10.0).collect()
    same.foreach(r => assert(math.abs(r.getAs[Double]("psi_term")) < 1e-15))
    // shifted snapshot: every bucket moved → strictly positive total PSI
    val b = (1 to 100).map(i => i.toDouble % 50 + 30).toDF("v")
    val drift = Curation.psiDrift(a, b, "v", 10.0)
      .agg(sum("psi_term")).head.getDouble(0)
    assert(drift > 0.2, s"expected significant drift, got $drift")
    // bucket-union smoothing: buckets missing on one side still get a
    // finite term (no NaN/Inf anywhere)
    Curation.psiDrift(a, b, "v", 10.0).collect().foreach { r =>
      val t = r.getAs[Double]("psi_term")
      assert(!t.isNaN && !t.isInfinite)
      // (p-q)·ln(p/q) is non-negative whatever the direction of the move
      assert(t >= -1e-15, s"psi term must be >= 0, got $t")
    }
  }

  test("char entropy: uniform string hits log2(k), constant string 0") {
    val s2 = spark; import s2.implicits._
    val cases = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "aabb"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(cases)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._1 == 4L && got(1L)._2 == 4L &&
      math.abs(got(1L)._3 - 2.0) < 1e-12, s"got ${got(1L)}")
    assert(got(2L)._2 == 1L && math.abs(got(2L)._3) < 1e-12)
    assert(math.abs(got(3L)._3 - 1.0) < 1e-12)
    // entropy is bounded by log2(distinct chars) corpus-wide
    TextAnalysis.charEntropy(docs).collect().foreach { r =>
      val bound = math.log(r.getLong(2).toDouble) / math.log(2.0)
      assert(r.getDouble(3) <= bound + 1e-9 && r.getDouble(3) >= -1e-12)
    }
  }

  test("IVF with nprobe == nlist equals exact brute-force ranking") {
    val queries = emb.where(col("vec_id") % 100 === 0)
    val exact = Similarity.cosineTopK(emb, queries, 5)
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val kmeans = Similarity.ivfIndex(emb, nlist = 4, Similarity.Init.KMeans())
    val ivfFull = Similarity.search(kmeans, queries, 5, nprobe = 4)
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(ivfFull == exact)
    // the deterministic quantizer obeys the same law: probing every list
    // degenerates to the exact brute-force ranking regardless of centroids
    val detFull = Similarity
      .search(Similarity.ivfIndex(emb, nlist = 4), queries, 5, nprobe = 4)
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(detFull == exact)
    // restricted probing returns a subset ranking drawn from probed lists
    val ivf1 = Similarity.search(kmeans, queries, 5, nprobe = 2)
    assert(ivf1.count() > 0)
    val recall = ivf1.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count(p2 => exact.exists { case ((q, _), n) => q == p2._1 && n == p2._2 })
      .toDouble / exact.size
    assert(recall >= 0.3, s"ivf nprobe=2/4 recall $recall")
  }

  test("KMeans IVF index builds with an initialized ObservationManager") {
    // an Observation (the spill certificate) initializes the session's
    // ObservationManager, which is not java-serializable; the KMeans model
    // must not drag the session into the assignment closure
    val s2 = spark; import s2.implicits._
    val tiny = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    graft.ops.Dedup.spillCertificate(tiny, 3).collect()
    val vecs = (1L to 40L).map(i =>
      (i, Array.tabulate(4)(d => ((i * (d + 1)) % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val Similarity.Coarse(cents, assigned) = Similarity.ivfIndex(vecs, 3,
      Similarity.Init.KMeans(seed = 7L)).coarse.get
    assert(cents.count() == 3L)
    assert(assigned.count() == 40L)
  }

  test("stubbed multimodal decode is deterministic and shape-correct") {
    val f1 = Multimodal.decodeFeatures(Multimodal.asMedia(docs)).collect()
    val f2 = Multimodal.decodeFeatures(Multimodal.asMedia(docs)).collect()
    assert(f1.map(_.content_sha).sorted.sameElements(f2.map(_.content_sha).sorted))
    f1.foreach { m =>
      assert(m.histogram.length == 4)
      assert(math.abs(m.histogram.sum - 1.0) < 1e-9)
      assert(m.width >= 64 && m.width < 256 && m.height >= 64 && m.height < 256)
    }
  }

  test("PPM decode is real: header dims + pixel-only histogram") {
    // 4x2 P6 with a comment; 24 pixel bytes spanning all four bins
    val pixels = Array.tabulate(24)(i => (i * 10 + 5).toByte) // 5..235
    val header = "P6\n# test image\n4 2\n255\n".getBytes("US-ASCII")
    val img = header ++ pixels
    val m = Multimodal.decodePpm(7L, img).get
    assert(m.width == 4 && m.height == 2 && m.channels == 3)
    assert(m.n_bytes == img.length)
    val expected = pixels.map(b => (b & 0xff) >> 6)
      .groupBy(identity).view.mapValues(_.length / 24.0).toMap
    (0 until 4).foreach { bin =>
      assert(math.abs(m.histogram(bin) - expected.getOrElse(bin, 0.0)) < 1e-12)
    }
    // malformed headers fall back to the stub, never throw
    assert(Multimodal.decodePpm(7L, "P6 oops".getBytes).isEmpty)
    assert(Multimodal.decodePpm(7L, "plain text".getBytes).isEmpty)
    assert(Multimodal.decodePpm(7L, Array[Byte]()).isEmpty)
    // truncated raster: histogram over the bytes that exist
    val trunc = Multimodal.decodePpm(7L, header ++ pixels.take(6)).get
    assert(math.abs(trunc.histogram.sum - 1.0) < 1e-12)
    // hostile header: dims claiming a trillion-pixel raster over a few
    // payload bytes must be rejected at the header (no caller may size an
    // allocation from them), and the resize path must pass the row through
    val hostile = "P6 1000000 1000000 255\n".getBytes("US-ASCII") ++ pixels
    assert(Multimodal.decodePpm(7L, hostile).isEmpty)
    assert(Multimodal.resizeOne(hostile, 8).isEmpty)
  }

  test("imageio decode is real: PNG/BMP round-trip pixels, text sniffs out") {
    // gray written r=g=b makes integer Rec.601 luminance the byte itself,
    // so the decoded histogram must equal the source-byte histogram
    val gray = Array.tabulate(192)(i => (i * 4 / 3).toByte) // 0..254, all bins
    val png = Multimodal.encodeGrayAsRgbPng(gray, 16, 12)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P') // actually a PNG
    val m = Multimodal.decodeImage(3L, png).get
    assert(m.width == 16 && m.height == 12 && m.channels == 3)
    assert(m.n_bytes == png.length)
    val expected = gray.map(b => (b & 0xff) >> 6)
      .groupBy(identity).view.mapValues(_.length / 192.0).toMap
    (0 until 4).foreach { bin =>
      assert(math.abs(m.histogram(bin) - expected.getOrElse(bin, 0.0)) < 1e-12)
    }
    // BMP through the same branch (JDK writer → JDK reader)
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 15).foreach(i => img.setRGB(i % 5, i / 5, 0xffffff))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val bmp = Multimodal.decodeImage(4L, bos.toByteArray).get
    assert(bmp.width == 5 && bmp.height == 3)
    assert(math.abs(bmp.histogram(3) - 1.0) < 1e-12) // all-white → top bin
    // JPEG through the same branch (the JDK ships its codec too): the
    // IDCT's exact pixel values are JVM-specific, so assert the codec-
    // exact facts — dims, channels, a normalized histogram — and that an
    // all-white source stays in the top luminance bin after lossy round-trip
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jbos)
    val jpegBytes = jbos.toByteArray
    assert((jpegBytes(0) & 0xff) == 0xff && (jpegBytes(1) & 0xff) == 0xd8)
    val jpg = Multimodal.decodeImage(7L, jpegBytes).get
    assert(jpg.width == 5 && jpg.height == 3)
    assert(math.abs(jpg.histogram.sum - 1.0) < 1e-12)
    assert(jpg.histogram(3) > 0.99) // all-white survives lossy encode
    // non-image bytes must sniff out without paying an ImageIO probe
    assert(Multimodal.decodeImage(5L, "plain text document".getBytes).isEmpty)
    assert(Multimodal.decodeImage(5L, Array[Byte]()).isEmpty)
    // PNG magic with garbage body: probe fails cleanly → None, no throw
    val garbage = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5)
    assert(Multimodal.decodeImage(6L, garbage).isEmpty)
  }

  test("pixel resize is real: NN downscale + PNG re-encode round-trips") {
    val gray = Array.tabulate(192)(i => (i * 4 / 3).toByte) // 0..254
    val png = Multimodal.encodeGrayAsRgbPng(gray, 16, 12)
    val out = Multimodal.resizeOne(png, 8).get
    assert((out(0) & 0xff) == 0x89 && out(1) == 'P') // re-encoded as PNG
    assert(!out.sameElements(png))
    val m = Multimodal.decodeImage(1L, out).get
    assert(m.width == 8 && m.height == 6 && m.channels == 3)
    // NN golden: dst (x,y) samples source byte (2y)*16 + 2x — the exact
    // pixels any engine would select with the same integer arithmetic
    val kept = for { y <- 0 until 6; x <- 0 until 8 } yield gray(2 * y * 16 + 2 * x)
    val expected = kept.map(b => (b & 0xff) >> 6)
      .groupBy(identity).view.mapValues(_.size / 48.0).toMap
    (0 until 4).foreach { bin =>
      assert(math.abs(m.histogram(bin) - expected.getOrElse(bin, 0.0)) < 1e-12)
    }
    // new pixels → new content hash; smaller raster → fewer bytes
    assert(m.content_sha != Multimodal.decodeImage(1L, png).get.content_sha)
    // already-fitting image passes through byte-identical (no re-encode)
    assert(Multimodal.resizeOne(png, 16).get.sameElements(png))
    // PPM resizes through the same path: 4x2 → maxSide 2 → 2x1; NN keeps
    // source pixels (0,0)=rgb(0,10,20) lum 8 → bin 0 and (2,0)=
    // rgb(60,70,80) lum 68 → bin 1
    val ppm = "P6\n4 2\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(24)(i => (i * 10).toByte)
    val mp = Multimodal.decodeImage(2L, Multimodal.resizeOne(ppm, 2).get).get
    assert(mp.width == 2 && mp.height == 1)
    assert(math.abs(mp.histogram(0) - 0.5) < 1e-12 &&
      math.abs(mp.histogram(1) - 0.5) < 1e-12)
    // undecodable bytes refuse rather than fabricate
    assert(Multimodal.resizeOne("plain text document".getBytes, 8).isEmpty)

    // Dataset path: images shrink (resized=true), non-image rows pass
    // through byte-identical with resized=false
    import spark.implicits._
    val mixed = Seq((1L, png), (2L, "not an image".getBytes))
      .toDF("doc_id", "media")
    val rows = Multimodal.resizeMedia(mixed, 8).collect()
      .map(r => r.getLong(0) -> (r.getAs[Array[Byte]](1), r.getBoolean(2)))
      .toMap
    assert(rows(1L)._2 && rows(1L)._1.sameElements(out))
    assert(!rows(2L)._2 && new String(rows(2L)._1) == "not an image")
  }

  test("gif frame demux is real: every-Nth stored frame, lossless bins") {
    // 5 frames of distinct gray rasters; 256-gray palette makes the
    // decoded Rec.601 luminance the source byte exactly
    val w = 16; val h = 12
    val frames = (0 until 5).map(f =>
      Array.tabulate(w * h)(i => ((i + f * 37) % 256).toByte))
    val gif = Multimodal.encodeGrayFramesAsGif(frames, w, h)
    assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"))
    // everyN=2 keeps stored frames 0, 2, 4 with their own histograms
    val sampled = Multimodal.decodeGifFrames(7L, gif, everyN = 2)
    assert(sampled.map(_.frame_idx) == Seq(0, 2, 4))
    sampled.foreach { fr =>
      assert(fr.width == w && fr.height == h)
      val expected = frames(fr.frame_idx).map(b => (b & 0xff) >> 6)
        .groupBy(identity).view.mapValues(_.length.toDouble / (w * h)).toMap
      (0 until 4).foreach { bin =>
        assert(math.abs(fr.histogram(bin) - expected.getOrElse(bin, 0.0)) < 1e-12)
      }
    }
    // everyN=1 demuxes all 5; single-frame GIFs demux too
    assert(Multimodal.decodeGifFrames(7L, gif, 1).size == 5)
    assert(Multimodal.decodeGifFrames(7L,
      Multimodal.encodeGrayFramesAsGif(frames.take(1), w, h), 1).size == 1)
    // non-GIF bytes and truncated GIFs emit nothing, never throw
    assert(Multimodal.decodeGifFrames(7L, "plain text".getBytes, 1).isEmpty)
    assert(Multimodal.decodeGifFrames(7L, Array[Byte](), 1).isEmpty)
    assert(Multimodal.decodeGifFrames(7L, gif.take(20), 1).isEmpty)
  }

  test("wav decode is real: header fields + sample histogram, sniff-out") {
    val samples = Array.tabulate(200)(i => (i + 20).toByte) // 20..219
    val wav = Multimodal.encodePcmWav(samples, 16000)
    val a = Multimodal.decodeWav(9L, wav).get
    assert(a.sample_rate == 16000 && a.channels == 1 && a.n_frames == 200L)
    assert(a.n_bytes == wav.length)
    val expected = samples.map(b => (b & 0xff) >> 6)
      .groupBy(identity).view.mapValues(_.length / 200.0).toMap
    (0 until 4).foreach { bin =>
      assert(math.abs(a.histogram(bin) - expected.getOrElse(bin, 0.0)) < 1e-12)
    }
    // non-audio bytes sniff out; RIFF magic with garbage body probes to None
    assert(Multimodal.decodeWav(9L, "not audio at all".getBytes).isEmpty)
    assert(Multimodal.decodeWav(9L,
      ("RIFF1234WAVE" + "x" * 40).getBytes).isEmpty)
    // and the typed Dataset surface yields null-ish sentinels, not fakes
    val s2 = spark; import s2.implicits._
    val mixed = Seq((1L, wav), (2L, "plain text document bytes".getBytes))
      .toDF("doc_id", "media")
    val out = Multimodal.decodeAudioFeatures(mixed).collect()
      .map(a => a.doc_id -> a.sample_rate).toMap
    assert(out(1L) == 16000 && out(2L) == -1)
  }

  test("line dedup drops corpus-wide boilerplate, keeps order, drops empty") {
    val s2 = spark; import s2.implicits._
    val crafted = Seq(
      (1L, "HEADER|alpha beta|FOOTER", "a"),
      (2L, "HEADER|gamma delta|mid|FOOTER", "b"),
      (3L, "HEADER|FOOTER", "c")) // all-boilerplate doc must vanish
      .toDF("doc_id", "text", "src")
    val out = Curation.dropBoilerplateLines(crafted, "|", maxDf = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ("alpha beta", "a"))
    assert(out(2L) == ("gamma delta|mid", "b")) // order preserved
    // repeats of a line INSIDE one document are not boilerplate (df = 1)
    val rep = Seq((7L, "x y|x y|unique")).toDF("doc_id", "text")
    val kept = Curation.dropBoilerplateLines(rep, "|").head().getString(1)
    assert(kept == "x y|x y|unique")
  }

  test("per-key cap keeps a deterministic content-ranked subset") {
    val s2 = spark; import s2.implicits._
    val rows = (1L to 40L).map(i => (i, s"doc number $i body", i % 2))
    val df = rows.toDF("doc_id", "text", "grp")
    val once = Sampling.capPerKey(df, "grp", 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val twice = Sampling.capPerKey(df, "grp", 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(once.sorted.sameElements(twice.sorted)) // deterministic
    assert(once.groupBy(_._2).forall(_._2.length == 5)) // 5 per key
    // capping is a subset, never a rewrite
    val all = rows.map(r => (r._1, r._3)).toSet
    assert(once.forall(all.contains))
    // keys under the cap keep everything
    val loose = Sampling.capPerKey(df, "grp", 100).count()
    assert(loose == 40L)
  }

  test("repetition stats score crafted repetition exactly") {
    val s2 = spark; import s2.implicits._
    val crafted = Seq(
      // "a b" occurs 3x (chars 3*3=9 of 11); duplicated 3-grams are
      // "a b a"x2 and "b a b"x2 (chars 2*5 + 2*5 = 20 -- overlapping
      // occurrences each count, so the fraction exceeds 1 by design)
      (1L, "a b a b a b"),
      // no repeated 3-gram; most frequent 2-gram unique -> 1 occurrence
      (2L, "w x y z"),
      (3L, "q r")) // sub-3-token: dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(crafted).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(math.abs(out(1L)._1 - 9.0 / 11) < 1e-12)
    assert(math.abs(out(1L)._2 - 20.0 / 11) < 1e-12)
    assert(math.abs(out(2L)._1 - 3.0 / 7) < 1e-12) // any 2-gram, count 1
    assert(out(2L)._2 == 0.0)
  }

  test("pii redaction scrubs all three categories and counts them") {
    val s2 = spark; import s2.implicits._
    val crafted = Seq(
      (1L, "mail bob.smith+x@corp.example.org and alice@ex.io now"),
      (2L, "server 192.168.1.254 then call +44 (0) 2079 460-958 ok"),
      (3L, "clean text with no pii at all")).toDF("doc_id", "text")
    val out = Curation.redactPii(crafted).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getString(1))).toMap
    // schema: doc_id, text(redacted), n_email, n_ip, n_phone
    assert(out(1L)._1 == 2 && out(1L)._4 ==
      "mail <EMAIL> and <EMAIL> now")
    assert(out(2L)._2 == 1 && out(2L)._3 == 1 && out(2L)._4 ==
      "server <IP> then call <PHONE> ok")
    assert(out(3L) == (0, 0, 0, "clean text with no pii at all"))
  }

  test("decontamination flags exactly the docs sharing eval n-grams") {
    val s2 = spark; import s2.implicits._
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps here"), // 5-gram hit
      (2L, "quick brown dog sleeps all day long"),            // no 5-gram
      (3L, "the quick brown fox jumps over the lazy dog end")) // many hits
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, eval, n = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L) == 1L) // "the quick brown fox jumps"
    assert(out(3L) == 5L) // all five eval 5-grams appear
  }

  test("bloom decontamination can only overcount the exact hit set") {
    val s2 = spark; import s2.implicits._
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps here"),
      (2L, "quick brown dog sleeps all day long"),
      (3L, "the quick brown fox jumps over the lazy dog end"))
      .toDF("doc_id", "text")
    val exact = Curation.decontaminate(corpus, eval, n = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // roomy filter: kn/m is tiny, so the deterministic hit set IS exact's
    val roomy = Curation.decontaminateBloom(corpus, eval, n = 5,
      numBits = 1 << 20, numHashes = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roomy == exact)
    // saturated filter: false positives may appear, but NEVER false
    // negatives — every true eval gram has all its bits set by build
    val tight = Curation.decontaminateBloom(corpus, eval, n = 5,
      numBits = 256, numHashes = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (doc, n) =>
      assert(tight.contains(doc) && tight(doc) >= n,
        s"doc $doc: bloom ${tight.get(doc)} undercounts exact $n")
    }
  }

  test("duplicate spans mark exactly the corpus-repeated k-token runs") {
    val s2 = spark; import s2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta unique1 tail1 end1"),
      (2L, "head2 alpha beta gamma delta epsilon zeta eta other2 end2"),
      (3L, "solo tokens nothing shared here at all ok fine yes"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the shared 7-token run yields ONE merged span per doc covering it
    assert(spans.toSet == Set((1L, 1L, 7L, 3L), (2L, 2L, 8L, 3L)))

    // within-document repetition counts; coverage-touching grams merge
    // (gap == k), distant repeats stay separate spans (gap > k)
    val rep = Seq(
      (10L, "p q r s t p q r s t"),
      (11L, "one two three four five x y z w one two three four five"))
      .toDF("doc_id", "text")
    val repSpans = Dedup.duplicateSpans(rep, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(repSpans.filter(_._1 == 10L).toSet == Set((10L, 1L, 10L)))
    assert(repSpans.filter(_._1 == 11L).toSet ==
      Set((11L, 1L, 5L), (11L, 10L, 14L)))

    // shared runs shorter than k are invisible by construction
    val short = Seq(
      (20L, "only four shared tokens here plus unique padding one"),
      (21L, "only four shared tokens differ completely after that two"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(short, k = 5).count() == 0L)
  }

  test("semantic dedup drops the higher id of a near-dup, keeps the rest") {
    val s2 = spark; import s2.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f, 0f)), // same direction as vec 0
      (3L, Array(0f, 0f, 1f, 0f)))        // orthogonal to everything
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, nlist = 2, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 1L, 3L))

    // survivors are monotone in the threshold (stricter similarity bar
    // drops fewer rows) and never exceed the corpus
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val loose = Similarity.semanticDedup(emb, 8, 0.3).count()
    val strict = Similarity.semanticDedup(emb, 8, 0.6).count()
    assert(loose <= strict && strict <= emb.count())
  }

  test("language id prefers the language whose stopwords appear") {
    val withThe = docs.where(col("text").contains(" the "))
    val preds = TextAnalysis.langId(withThe).collect()
    assert(preds.nonEmpty)
    preds.foreach(r => assert(r.getAs[String]("pred_lang") == "en"))
  }

  test("sampling/text ops are total on unicode and edge-case text") {
    val s2 = spark; import s2.implicits._
    val weird = Seq(
      (1L, "héllo wörld ünïcode training data here", "de"),
      (2L, "", "en"), (3L, " ", "en"),
      (4L, "🚀 emoji 🚀 text content", "en"),
      (5L, ("tok " * 2000).trim, "en")).toDF("doc_id", "text", "lang")
    val split = Sampling.contentSplit(weird,
      Seq("train" -> 0.8, "val" -> 0.2))
    assert(split.count() == 5) // total: every row lands in exactly one split
    assert(Sampling.stratifiedSample(weird, "lang",
      Map.empty, defaultRate = 1.0).count() == 5)
    val q = TextAnalysis.withQuality(weird).collect()
    q.foreach { r =>
      val v = r.getAs[Double]("quality")
      assert(!v.isNaN && !v.isInfinite)
    }
    // winnow/simhash never throw; short docs simply emit nothing
    assert(TextAnalysis.winnow(weird, 3, 4).count() >= 1)
    assert(Dedup.simhash(weird).count() == 5)
    val cur = Curation.curate(weird, 0.0, Map.empty, 1.0,
      Seq("train" -> 1.0))
    assert(cur.count() == 5 && cur.columns.contains("lang"))
  }

  test("asof join equals the brute-force latest-prior-row semantics") {
    val s2 = spark; import s2.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 50L),
      (4L, 20L, 300L), (5L, 30L, 10L))
      .toDF("event_id", "k", "ts")
    val right = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (10L, 300L, 3.0),
      (20L, 299L, 9.0), (40L, 1L, 7.0))
      .toDF("k", "ts", "v")
    val got = AsOf.asofJoin(left, right, "k", "ts", Seq("v"))
      .select("event_id", "asof_ts", "asof_v").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // brute force: per left row, max right.ts <= left.ts for the key
    assert(got(1L) == ((Some(100L), Some(1.0)))) // tie: ts == counts
    assert(got(2L) == ((Some(200L), Some(2.0))))
    assert(got(3L) == ((None, None)))            // nothing at or before 50
    assert(got(4L) == ((Some(299L), Some(9.0))))
    assert(got(5L) == ((None, None)))            // key 30 has no right rows
    assert(got.size == 5)                        // exactly |left| rows out
    // forward direction: earliest right row AT or AFTER each left ts
    val fwd = AsOf.asofJoin(left, right, "k", "ts", Seq("v"),
        forward = true)
      .select("event_id", "asof_ts", "asof_v").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(fwd(1L) == ((Some(100L), Some(1.0)))) // tie: ts == counts
    assert(fwd(2L) == ((Some(300L), Some(3.0)))) // next AFTER 205
    assert(fwd(3L) == ((Some(100L), Some(1.0)))) // first at 100
    assert(fwd(4L) == ((None, None)))            // nothing at or after 300
    assert(fwd(5L) == ((None, None)))
    assert(fwd.size == 5)
  }

  test("winnowing guarantees shared fingerprints for long shared runs") {
    val s2 = spark; import s2.implicits._
    val k = 3; val w = 4
    val shared = "alpha beta gamma delta epsilon zeta eta theta"  // 8 tokens
    val corpus = Seq(
      (1L, s"one two $shared nine ten"),
      (2L, s"$shared completely different tail words here"),
      (3L, "unrelated content with no overlap at all present")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(corpus, k, w).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    // docs 1 and 2 share an 8-token run >= w + k - 1 = 6 -> must share
    assert((fps(1L) & fps(2L)).nonEmpty)
    // doc 3 shares nothing with either
    assert((fps(3L) & (fps(1L) ++ fps(2L))).isEmpty)
    // density: ~1/w of the k-gram count, never more than the gram count
    fps.values.foreach(s => assert(s.nonEmpty && s.size <= 8))
    // too-short docs produce no rows rather than failing
    val tiny = Seq((9L, "a b c")).toDF("doc_id", "text")
    assert(TextAnalysis.winnow(tiny, k, w).count() == 0)
    // candidate pairs: docs 1-2 (shared run) pair up; doc 3 pairs with
    // nobody
    val cand = Dedup.winnowCandidates(corpus, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((1L, 2L)))
  }

  test("count-min sketch never undercounts and is exact sans collisions") {
    val s2 = spark; import s2.implicits._
    val toks = docs.select(col("text")).as[String]
      .flatMap(_.split(" ")).toDF("term")
    val exact = toks.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = Sketch.countMin(toks, "term", depth = 4, width = 512)
    val est = Sketch.estimate(sketch,
        toks.select("term").distinct(), "term", depth = 4, width = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    // fundamental CMS guarantee: estimates only ever overcount
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"undercount for '$t': ${est(t)} < $n")
    }
    // the sketch is genuinely bounded: depth x width cells at most
    assert(sketch.count() <= 4L * 512)
    // a collision-free toy domain estimates exactly
    val tiny = Seq("x", "x", "y").toDF("term")
    val tEst = Sketch.estimate(Sketch.countMin(tiny, "term", 4, 4096),
        tiny.distinct(), "term", 4, 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tEst == Map("x" -> 2L, "y" -> 1L))
  }

  test("binned range join equals the theta-join semantics exactly") {
    val s2 = spark; import s2.implicits._
    // deterministic pseudo-random points and intervals incl. bin-edge and
    // zero-length cases
    val pts = (0 until 200).map { i =>
      (i.toLong, (i % 7).toLong, (i * 37 % 500).toLong)
    }.toDF("pid", "k", "ts")
    val ivs = (0 until 60).map { j =>
      val s0 = (j * 53 % 480).toLong
      (j.toLong, (j % 7).toLong, s0, s0 + (j % 5) * 25L)
    }.toDF("iid", "k", "lo", "hi")
    for (bin <- Seq(1L, 10L, 100L, 1000L)) {
      val got = AsOf.rangeJoin(pts, ivs, "k", "ts", "lo", "hi", bin)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pts.as("p").join(ivs.as("i"),
          col("p.k") === col("i.k") &&
            col("p.ts").between(col("lo"), col("hi")))
        .select(col("pid"), col("iid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"binWidth=$bin")
      assert(want.nonEmpty)
    }
  }

  test("bigram novelty separates unique content from boilerplate") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq(
      (1L, "the same boilerplate text here"),
      (2L, "the same boilerplate text here"),
      (3L, "completely original writing nobody repeats")).toDF("doc_id", "text")
    val nov = TextAnalysis.bigramNovelty(corpus).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0) // every bigram shared
    assert(nov(3L) == 1.0)                   // every bigram unique
  }

  test("bm25 retrieves matching docs; rare terms dominate; self ranks " +
      "near the top") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple apple dog"),
      (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "apple banana")).toDF("query_id", "text")
    val hits = TextAnalysis.bm25TopK(corpus, queries, k = 5).collect()
      .sortBy(_.getAs[Int]("rk"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score"))
    // zero-overlap docs never appear; the two-term match with the rare
    // term (banana, df=1) outranks the term-stuffed single-term match
    assert(hits.map(_._1).toSeq == Seq(1L, 2L))
    assert(hits.forall(_._2 > 0.0))

    // self-retrieval over the real corpus: a query drawn from the corpus
    // retrieves itself near the top (matching every one of its own
    // terms). Top-1 is NOT guaranteed — a shorter doc dense in the
    // query's rare terms can legitimately outscore the longer source
    // (BM25 length normalization); at sf0.01 one query ranks self 2nd
    // behind exactly such a doc
    val docs01 = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val q = docs01.where(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val top = TextAnalysis.bm25TopK(docs01, q, k = 5).collect()
    val selfRank = top
      .filter(r => r.getAs[Long]("doc_id") == r.getAs[Long]("query_id"))
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Int]("rk")).toMap
    val queryIds = q.select("query_id").collect().map(_.getLong(0)).toSet
    queryIds.foreach { qid =>
      assert(selfRank.contains(qid) && selfRank(qid) <= 3,
        s"query $qid self-rank ${selfRank.get(qid)} not in top 3")
    }
  }

  test("tfidf ranks a term higher in the doc where it is concentrated") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq(
      (1L, "rare rare rare common common"),
      (2L, "common common other words here"),
      (3L, "common different things entirely now")).toDF("doc_id", "text")
    val w = TextAnalysis.tfidf(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    // 'rare' (df=1) in doc 1 outweighs 'common' (df=3) anywhere
    assert(w((1L, "rare")) > w((1L, "common")))
    assert(w((1L, "common")) == w((2L, "common")))
    // idf formula pinned: tf * (ln((N+1)/(df+1)) + 1)
    val expected = 3.0 * (math.log(4.0 / 2.0) + 1.0)
    assert(math.abs(w((1L, "rare")) - expected) < 1e-12)
  }

  test("content split partitions the corpus deterministically by content") {
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val n = docs.count()
    val s1 = Sampling.contentSplit(docs, weights)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1.values.sum == n, "split must partition every row")
    // majority split dominates; proportions are hash-driven, allow slack
    assert(s1("train").toDouble / n > 0.6)
    // identical texts land in the same split (leakage guard)
    val dupSplits = Sampling.contentSplit(
        docs.union(docs), weights)
      .groupBy("text").agg(countDistinct("split").as("k")).collect()
    dupSplits.foreach(r => assert(r.getLong(1) == 1L))
    // rerun is bit-identical (no RNG anywhere)
    val s2 = Sampling.contentSplit(docs, weights)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
    // weights must sum to 1
    intercept[IllegalArgumentException](
      Sampling.contentSplit(docs, Seq("a" -> 0.5, "b" -> 0.1)))
  }

  test("shard packing respects the token budget up to one document") {
    val budget = 300L
    val packed = Sampling.packShards(docs, budget, numBuckets = 4)
    val n = docs.count()
    assert(packed.count() == n) // total: every doc gets exactly one shard
    val perShard = packed.groupBy("shard")
      .agg(sum("n_tokens").as("tot"), max("n_tokens").as("biggest"))
      .collect()
    // greedy cut guarantee: a shard holds at most budget + its last doc
    perShard.foreach { r =>
      assert(r.getLong(1) <= budget + r.getLong(2),
        s"shard ${r.getString(0)}: ${r.getLong(1)} tokens")
    }
    // buckets are balanced enough to parallelize (every bucket used)
    assert(packed.select("bucket").distinct().count() == 4)
  }

  test("curation pipeline dedups, gates quality, and splits leakage-safe") {
    val out = Curation.curate(docs.union(docs), minQuality = 0.35,
      rates = Map("en" -> 1.0), defaultRate = 1.0,
      weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // exact duplicates collapsed (input was doubled)
    val texts = rows.map(_.getAs[String]("text"))
    assert(texts.distinct.length == texts.length)
    // quality gate enforced; split labels valid
    rows.foreach { r =>
      assert(r.getAs[Double]("quality") >= 0.35)
      assert(Set("train", "val", "test")(r.getAs[String]("split")))
    }
    // same content always lands in the same split as plain contentSplit
    val direct = Sampling.contentSplit(docs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach(r =>
      assert(direct(r.getAs[String]("text")) == r.getAs[String]("split")))
  }

  test("leakage scan flags cross-split shared runs only") {
    val s2 = spark; import s2.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"prefix $run suffix one", "train"),
      (2L, s"$run other tail entirely different", "test"),
      (3L, s"also has $run inside it too", "train"),
      (4L, "no overlap with anything else here at all", "test"))
      .toDF("doc_id", "text", "split")
    val hits = Curation.leakageScan(corpus, 3, 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // cross-split pairs flagged; the same-split pair (1,3) is NOT leakage
    assert(hits == Set((1L, 2L), (2L, 3L)))
  }

  test("stratified sample keeps per-stratum rates and is a subset") {
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = Sampling.stratifiedSample(docs, "lang",
      Map("en" -> 1.0), defaultRate = 0.0)
    val keptRows = kept.collect()
    assert(keptRows.forall(r => ids.contains(r.getAs[Long]("doc_id"))))
    // rate 1.0 keeps every en row, rate 0.0 drops every other row
    val nEn = docs.where(col("lang") === "en").count()
    assert(kept.count() == nEn)
    assert(keptRows.forall(_.getAs[String]("lang") == "en"))
  }

  test("PQ with a full codebook and one subspace IS brute force") {
    // m=1, ksub >= |corpus|: every vector's sole code is itself (d2 = 0),
    // so the ADC dot is the exact dot and the PQ search must equal
    // cosineTopK — the degenerate-equivalence law pinning the whole
    // index/LUT chain (the IVF nprobe==nlist law, PQ edition)
    val n = emb.count().toInt
    val queries = emb.where(col("vec_id") % 50 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rk", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(1 + 1))).toSet
    val pq = Similarity.search(
      Similarity.pqIndex(emb, m = 1, ksub = n, dims = 64), queries, 5, nprobe = 1)
    val exact = Similarity.cosineTopK(emb, queries, 5)
    assert(key(pq) == key(exact))
    // real compression (m=8, ksub=16) on the fixture's RANDOM embeddings —
    // PQ's adversarial case (no cluster structure for the codebook to
    // exploit) — must still land an order of magnitude above chance
    // (5/199 ≈ 0.025): observed ~0.22
    val pq8 = Similarity.pqIndex(emb, m = 8, ksub = 16, dims = 64)
    val approx = Similarity.search(pq8, queries, 5, nprobe = 1)
    val hits = key(approx).map { case (q, _, nb) => (q, nb) }
      .intersect(key(exact).map { case (q, _, nb) => (q, nb) })
    val recall = hits.size.toDouble / key(exact).size
    assert(recall > 0.15, s"recall@5 = $recall")
    // ksub < 1 means an empty codebook — must fail fast, not return 0 rows
    val e = intercept[IllegalArgumentException] {
      Similarity.pqIndex(emb, m = 8, ksub = 0, dims = 64)
    }
    assert(e.getMessage.contains("ksub"))
    // a zero top-k, probe or list count likewise fails fast
    val ek = intercept[IllegalArgumentException] {
      Similarity.search(pq8, queries, 0, nprobe = 1)
    }
    assert(ek.getMessage.contains("k=0"))
    val ep = intercept[IllegalArgumentException] {
      Similarity.search(Similarity.ivfIndex(emb, nlist = 4), queries, 5,
        nprobe = 0)
    }
    assert(ep.getMessage.contains("nprobe=0"))
    val el = intercept[IllegalArgumentException] {
      Similarity.ivfIndex(emb, nlist = 0)
    }
    assert(el.getMessage.contains("nlist=0"))
  }

  test("trained PQ quantizer holds a recall@10 floor on the sf0.01 vectors") {
    // KMeans-trained codebooks vs brute force on RANDOM embeddings — PQ's
    // adversarial case (no cluster structure to exploit). Chance level is
    // 10/499 ≈ 0.02; observed: trained 0.288 vs data-point init 0.248
    // (the training buys recall, which is the tier's reason to exist).
    // The floor is 10× chance with margin for MLlib k-means drift.
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb01.where(col("vec_id") % 20 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(emb01, queries, 10))
    val index = Similarity.pqIndex(emb01, m = 8, ksub = 16, dims = 64,
      Similarity.Init.KMeans())
    val trained = pairs(Similarity.search(index, queries, 10, nprobe = 1))
    val recall = (trained & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"trained recall@10 = $recall")
    // codebook shape contract matches the data-point variant: m*ksub rows
    val cb = index.pq.get.codebook
    val codes = index.pq.get.codes
    assert(cb.count() == 8 * 16)
    assert(codes.groupBy("vec_id").count().where(col("count") =!= 8).count() == 0)
  }

  test("residual IVF-PQ wins where coarse lists match the cluster structure") {
    // The FAISS-regime fixture: nCenters == nlist, so each coarse list
    // captures one cluster and the residual is pure noise — the residual
    // codebook's ksub entries then span a RANGE ~the noise scale instead
    // of the raw vector scale. Fully deterministic (fixed seed, zero
    // Lloyd iterations in both quantizers): measured residual 0.335 vs
    // raw 0.178 recall@10.
    //
    // Recorded counter-measurement (why ivfPqIndex stays the default
    // composition): on the sf0.01 UNIFORM-RANDOM embeddings there is no
    // structure for the coarse quantizer to remove, ‖v − c‖² ≈
    // ‖v‖² + ‖c‖², and the residual range EXCEEDS the raw range —
    // measured raw 0.200 vs residual 0.168 at the same
    // nlist=16/nprobe=4/m=8/ksub=16. Residual encoding is the right
    // 100 TB default only for corpora with real cluster structure.
    val s2 = spark; import s2.implicits._
    val dims = 64; val nCenters = 16; val n = 1200
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(nCenters, dims)(rnd.nextDouble() * 2 - 1)
    val clustered = (0L until n).map { i =>
      val c = centers((i % nCenters).toInt)
      (i, c.map(v => (v + (rnd.nextDouble() * 2 - 1) * 0.15).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 20 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(clustered, queries, 10))
    val raw = (pairs(Similarity.search(Similarity.ivfPqIndex(clustered,
      nlist = 16, m = 8, ksub = 16, dims = dims), queries, 10, nprobe = 4)) &
      exact).size.toDouble / exact.size
    val res = (pairs(Similarity.search(Similarity.ivfPqResidualIndex(clustered,
      nlist = 16, m = 8, ksub = 16, dims = dims), queries, 10, nprobe = 4)) &
      exact).size.toDouble / exact.size
    assert(res >= 0.3, s"residual recall@10 = $res")
    assert(res > raw, s"residual ($res) must beat raw ($raw) in its regime")
  }

  test("trained IVF-PQ composition holds a recall@10 floor on sf0.01") {
    // KMeans coarse quantizer + KMeans-trained codebooks — the
    // production configuration. Chance is 10/499 ≈ 0.02; observed 0.288
    // (vs 0.200 for the fully deterministic composition). Floor at 10×
    // chance with margin for MLlib k-means drift, mirroring the trained-PQ
    // spec above.
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb01.where(col("vec_id") % 20 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(emb01, queries, 10))
    val trained = pairs(Similarity.search(Similarity.ivfPqIndex(emb01,
      nlist = 16, m = 8, ksub = 16, dims = 64, Similarity.Init.KMeans()),
      queries, 10, nprobe = 4))
    val recall = (trained & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"trained IVF-PQ recall@10 = $recall")
  }

  test("IVF-PQ with a total probe gate IS plain PQ") {
    // nprobe == nlist: every list is probed, the gate passes everything,
    // and the composed path must return exactly the PQ index's ranking — the
    // law pinning that IVF gating changes WHAT is scanned, never HOW
    // candidates are scored
    val queries = emb.where(col("vec_id") % 50 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfPq = Similarity.ivfPqIndex(emb, nlist = 8, m = 8, ksub = 16,
      dims = 64)
    val full = Similarity.search(ivfPq, queries, 5, nprobe = 8)
    val pq = Similarity.search(
      Similarity.pqIndex(emb, m = 8, ksub = 16, dims = 64), queries, 5,
      nprobe = 1)
    assert(key(full) == key(pq))
    // a partial gate returns at most k per query from probed lists only
    val probed = Similarity.search(ivfPq, queries, 5, nprobe = 2)
    val perQuery = probed.groupBy("query_id").count()
      .collect().map(_.getLong(1))
    assert(perQuery.forall(_ <= 5) && perQuery.nonEmpty)
  }

  test("chunking covers every token with exact overlaps") {
    val s2 = spark; import s2.implicits._
    val docsF = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than 1 chunk
      (3L, (1 to 4).map(i => s"u$i").mkString(" ")))  // exactly 1 chunk
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docsF, chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val byDoc = chunks.groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    // stride 3: [t1..t4], [t4..t7], [t7..t10] — adjacent chunks share
    // exactly `overlap` tokens and every token is covered
    assert(byDoc(1L) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"),
      s"got ${byDoc(1L)}")
    assert(byDoc(2L) == Seq("a b c"))
    assert(byDoc(3L) == Seq("u1 u2 u3 u4"))
    // reconstruction: dropping the overlap from every chunk after the
    // first rebuilds the document exactly
    val rebuilt = byDoc(1L).head +: byDoc(1L).tail.map(
      _.split(" ").drop(1).mkString(" "))
    assert(rebuilt.mkString(" ") == (1 to 10).map(i => s"t$i").mkString(" "))
  }

  test("stripMarkup removes blocks and tags, decodes entities in order") {
    val s2 = spark; import s2.implicits._
    val html = Seq(
      (1L, "<html><head><style>h1 { x }</style></head>" +
        "<body><h1>Title</h1>\n<!-- note -->\n<p>Hello <b>world</b>" +
        " &amp;lt; &lt;kept&gt; &#39;q&#39;</p>" +
        "<script>if (a < b) { emit(\"<div>\") }</script>  tail</body>"),
      (2L, "no markup at all"),
      (3L, "<p>only</p>")
    ).toDF("doc_id", "text")
    val plain = Curation.stripMarkup(html)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("plain"))
      .toMap
    // &amp; decodes LAST: "&amp;lt;" yields literal "&lt;", not "<";
    // script contents (including embedded quotes/tags) vanish wholesale
    assert(plain(1L) == "Title Hello world &lt; <kept> 'q' tail", s"got $plain")
    assert(plain(2L) == "no markup at all")
    assert(plain(3L) == "only")
  }

  test("weighted sample scales inclusion with weight, capped") {
    val weighted = docs.withColumn("n_tokens",
      size(split(col("text"), " ")).cast("long"))
    // rate=1, cap=1: every doc with >= 1 token has probability exactly 1
    assert(Sampling.weightedSample(weighted, 1.0, "n_tokens", 1.0).count()
      == docs.count())
    // rate=0 keeps nothing
    assert(Sampling.weightedSample(weighted, 0.0, "n_tokens", 64.0).count() == 0)
    // deterministic: two runs agree row-for-row
    val a = Sampling.weightedSample(weighted, 0.3, "n_tokens", 64.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedSample(weighted, 0.3, "n_tokens", 64.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // monotone in weight statistically: synthesize a corpus where half the
    // rows weigh 4x the others — the heavy half must be kept ~4x as often
    val s2 = spark; import s2.implicits._
    val synth = (0 until 4000).map { i =>
      val w = if (i % 2 == 0) 16L else 4L
      (i.toLong, s"synthetic doc $i", w)
    }.toDF("doc_id", "text", "w")
    val keptByW = Sampling.weightedSample(synth, 0.5, "w", 64.0)
      .groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ratio = keptByW(16L).toDouble / keptByW(4L)
    assert(ratio > 3.0 && ratio < 5.0,
      s"expected ~4x inclusion for 4x weight, got $ratio ($keptByW)")
  }

  test("perplexity matches the hand-computed add-one bigram model and " +
      "ranks in-domain text below noise") {
    val s2 = spark; import s2.implicits._
    // ref = {"a b", "b a"}: uni a:2 b:2 (N=4, V=2); big (a,b):1 (b,a):1
    val ref = Seq((100L, "a b"), (101L, "b a")).toDF("doc_id", "text")
    val scored = Seq((0L, "a b"), (1L, "c c")).toDF("doc_id", "text")
    val ppl = TextAnalysis.perplexity(scored, ref).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // "a b": ln(3/6) + ln(2/4) → ppl = exp(ln 2) = 2
    assert(math.abs(ppl(0L) - 2.0) < 1e-9, s"got ${ppl(0L)}")
    // "c c": ln(1/6) + ln(1/2) → ppl = sqrt(12)
    assert(math.abs(ppl(1L) - math.sqrt(12.0)) < 1e-9, s"got ${ppl(1L)}")

    // an LM trained on structured text prefers in-structure word order:
    // the same tokens scrambled (every bigram unseen) score higher ppl.
    // (The sf corpora are uniform word salad — no bigram structure to
    // prefer — so discrimination is pinned on a structured fixture.)
    val structured = (0 until 20)
      .map(i => (i.toLong + 200L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val probes = Seq(
      (0L, "the quick brown fox"),
      (1L, "fox brown quick the")).toDF("doc_id", "text")
    val p2 = TextAnalysis.perplexity(probes, structured).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p2(0L) < p2(1L),
      s"in-order ppl ${p2(0L)} should be below scrambled ppl ${p2(1L)}")

    // total and finite on the real corpus
    val refSlice = docs.where(col("doc_id") % 10 === 0)
    val scored01 = TextAnalysis.perplexity(
      docs.where(col("doc_id") % 10 =!= 0), refSlice).collect()
    assert(scored01.length ==
      docs.where(col("doc_id") % 10 =!= 0).count().toInt)
    scored01.foreach { r =>
      val v = r.getDouble(2)
      assert(!v.isNaN && !v.isInfinite && v > 0.0, s"bad ppl $v")
    }
  }

  test("hybrid RRF fuses BM25 and Jaccard ranks; double-rank-1 self " +
      "retrieval scores 2/(rrfK+1)") {
    val s2 = spark; import s2.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta something else entirely"),
      (2L, "unrelated words about other topics"),
      (3L, "gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val queries = Seq((0L, "alpha beta gamma delta"))
      .toDF("query_id", "text")
    val out = TextAnalysis.hybridTopK(corpus, queries, k = 3)
      .orderBy("rk").collect()
    // the verbatim self-match is rank 1 in BOTH systems → rrf = 2/61
    assert(out.head.getAs[Long]("doc_id") == 0L)
    assert(math.abs(out.head.getAs[Double]("rrf") - 2.0 / 61.0) < 1e-12)
    // fused score is non-increasing in rank and capped at k
    assert(out.length <= 3)
    assert(out.sliding(2).forall(p => p.length < 2 ||
      p(0).getAs[Double]("rrf") >= p(1).getAs[Double]("rrf")))
  }

  test("hard negatives exclude the query's label and rank by cosine") {
    val s2 = spark; import s2.implicits._
    val vecs = Seq(
      (0L, 0, Array(1f, 0f, 0f, 0f)),
      (1L, 0, Array(0.99f, 0.14f, 0f, 0f)), // same label: NOT a negative
      (2L, 1, Array(0.98f, 0.2f, 0f, 0f)),  // closest other-label
      (3L, 1, Array(0f, 1f, 0f, 0f)),
      (4L, 2, Array(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(vecs, vecs.where(col("vec_id") === 0),
        k = 2).orderBy("rk").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 4L))
    assert(out.forall(_.getAs[Int]("neg_label") != 0))
    assert(out(0).getAs[Double]("cos") > out(1).getAs[Double]("cos"))
  }

  test("mixture sample keeps allowlisted sources near their rates and " +
      "drops everything else") {
    val docs01 = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val kept = Sampling.mixtureSample(docs01, rates)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs01.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate 1.0 keeps everything, rate 0.0 and off-allowlist keep nothing
    assert(kept("src0") == totals("src0"))
    assert(!kept.contains("src2"))
    assert(kept.keySet.subsetOf(Set("src0", "src1")))
    // rate 0.5 lands near half (content-hash draw, not exact)
    val frac = kept("src1").toDouble / totals("src1")
    assert(frac > 0.2 && frac < 0.8, s"src1 kept $frac")
    // deterministic
    val again = Sampling.mixtureSample(docs01, rates).count()
    assert(again == kept.values.sum)
  }

  test("dataset card grains are consistent: per-lang rows sum to the " +
      "source row, sources sum to the corpus total") {
    val card = TextAnalysis.datasetCard(docs).collect()
    def row(s: Option[String], l: Option[String]) = card.find(r =>
      Option(r.getString(0)) == s && Option(r.getString(1)) == l).get
    val total = row(None, None)
    assert(total.getLong(2) == docs.count())
    val perSource = card.filter(r => r.getString(0) != null &&
      r.getString(1) == null)
    assert(perSource.map(_.getLong(2)).sum == total.getLong(2))
    assert(perSource.map(_.getLong(3)).sum == total.getLong(3))
    val fine = card.filter(r => r.getString(0) != null &&
      r.getString(1) != null)
    perSource.foreach { sr =>
      val mine = fine.filter(_.getString(0) == sr.getString(0))
      assert(mine.map(_.getLong(2)).sum == sr.getLong(2))
    }
  }

  test("label centroids equal the driver-computed per-label mean") {
    val s2 = spark; import s2.implicits._
    val vecs = Seq(
      (0L, 0, Array(1f, 3f)), (1L, 0, Array(3f, 5f)),
      (2L, 1, Array(2f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.labelCentroids(vecs).collect()
      .map(r => r.getInt(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
    assert(got(0)._1 == Seq(2.0, 4.0) && got(0)._2 == 2L)
    assert(got(1)._1 == Seq(2.0, 2.0) && got(1)._2 == 1L)

    // on the real vectors: centroid equals the naive avg to 1e-9 per dim
    val emb01 = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val fold = Similarity.labelCentroids(emb01).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val naive = emb01
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("label", "d").agg(avg("v").as("m"))
      .collect().groupBy(_.getInt(0))
      .map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    fold.foreach { case (l, c) =>
      c.zip(naive(l)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"label $l: $a vs $b") }
    }
  }

  test("blocked fuzzy join finds exactly the brute-force pair set") {
    val s2 = spark; import s2.implicits._
    val names = Seq((0L, "kitten"), (1L, "sitting"), (2L, "kitchen"),
      (3L, "mitten"), (4L, "completely unrelated"), (5L, "kitten"))
      .toDF("id", "k")
    val l = names.select(col("id").as("id_l"), col("k").as("k_l"))
    val r = names.select(col("id").as("id_r"), col("k").as("k_r"))
    val blocked = Dedup.fuzzyJoin(l, r, "k_l", "k_r", maxDist = 3)
      .where(col("id_l") < col("id_r"))
      .select("id_l", "id_r", "dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    // brute force over all pairs
    val rows = names.collect().map(x => (x.getLong(0), x.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ia, ka) <- rows; (ib, kb) <- rows if ia < ib
      d = lev(ka, kb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(blocked == brute, s"blocked=$blocked brute=$brute")
    assert(brute.contains((0L, 5L, 0))) // exact dup survives blocking
    assert(brute.contains((0L, 3L, 1)))
  }

  test("cluster-balanced sample caps every cluster and is deterministic") {
    val emb01 = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val out = Sampling.clusterBalancedSample(emb01, nlist = 16,
      maxPerCluster = 20)
    val byCluster = out.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byCluster.values.forall(_ <= 20L),
      s"cluster overflow: $byCluster")
    assert(byCluster.values.sum < emb01.count(),
      "the cap should actually drop rows on the clustered sf0.01 vectors")
    // survivors are a subset of the input and the draw is reproducible
    val ids = out.collect().map(_.getLong(0)).toSet
    val again = Sampling.clusterBalancedSample(emb01, 16, 20)
      .collect().map(_.getLong(0)).toSet
    assert(ids == again)
    assert(ids.subsetOf(
      emb01.select("vec_id").collect().map(_.getLong(0)).toSet))
  }

  test("nearest-class-mean classification: separable fixture + tie to " +
      "the smaller label") {
    val s2 = spark; import s2.implicits._
    val labeled = Seq(
      (0L, 0, Array(1f, 0f)), (1L, 0, Array(0.9f, 0.1f)),
      (2L, 1, Array(0f, 1f)), (3L, 1, Array(0.1f, 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val corpus = Seq(
      (10L, Array(0.8f, 0.05f)),  // clearly class 0
      (11L, Array(0.02f, 0.7f)),  // clearly class 1
      (12L, Array(1f, 1f)))       // exact tie -> label 0
      .toDF("vec_id", "embedding")
    val got = Similarity.classifyByCentroid(corpus, labeled).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(10L -> 0, 11L -> 1, 12L -> 0))

    // total on the real vectors: every vector gets exactly one label
    // from the label set, deterministically
    val emb01 = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val out = Similarity.classifyByCentroid(emb01, emb01)
    assert(out.count() == emb01.count())
    val labels = emb01.select("label").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(out.select("pred_label").distinct().collect()
      .map(_.getInt(0)).toSet.subsetOf(labels))
  }

  test("random projection: deterministic, right width, JL-scale norm " +
      "preservation on the real vectors") {
    val emb01 = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val out = Similarity.randomProject(emb01, 16, 64)
      .select(col("vec_id"), col("rp"),
        graft.ops.Similarity.norm(col("embedding")).as("vn"))
    val rows = out.collect()
    assert(rows.forall(_.getSeq[Double](1).size == 16))
    // E[||rp||^2] = ||v||^2 for a +-1/sqrt(k) JL matrix: the corpus mean
    // ratio should land near 1 (individual vectors vary with k=16)
    val ratios = rows.map { r =>
      val rp = r.getSeq[Double](1)
      val n2 = rp.map(x => x * x).sum
      val vn = r.getDouble(2)
      n2 / (vn * vn)
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2, s"mean norm ratio $mean")
    val again = Similarity.randomProject(emb01, 16, 64)
      .select("rp").collect().map(_.getSeq[Double](0))
    assert(rows.map(_.getSeq[Double](1)).zip(again)
      .forall { case (a, b) => a == b })
  }

  test("cross-corpus minhash candidates flag the planted near-dup and " +
      "nothing for the disjoint doc") {
    val s2 = spark; import s2.implicits._
    val mk = (s: String) => s + " " + ("tok " * 40).trim
    val corpus = Seq(
      (1L, mk("alpha shared body of text here")),
      (3L, "completely different content with no overlap at all " +
        "xq wz vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"))
      .toDF("doc_id", "text")
    val reference = Seq(
      (100L, mk("alpha shared body of text here slightly changed")),
      (101L, "unrelated reference benchmark item entirely elsewhere " +
        "zz yy xx ww vv2 uu2 tt2 ss2 rr2 qq2 pp2 oo2 nn2 mm2 ll2 kk2"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCrossCandidates(corpus, reference, 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 100L)), s"missing planted pair: $got")
    assert(!got.exists(_._1 == 3L), s"disjoint doc flagged: $got")
    // cross(c, c) must cover the self-candidates (same band keys)
    val self = Dedup.minhashCandidates(corpus, 3, 8, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = Dedup.minhashCrossCandidates(corpus, corpus, 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self.forall(p => cross.contains(p)))
  }

  test("event sequences: ordered, capped, with the true total count") {
    val s2 = spark; import s2.implicits._
    val ev = Seq(
      (1L, 3L, 30L, "c"), (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"),
      (2L, 4L, 5L, "x"),
      // user 3: a timestamp tie broken by event_id
      (3L, 6L, 7L, "late"), (3L, 5L, 7L, "early"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val got = graft.ops.Funnel
      .eventSequences(ev, "user_id", Seq("ts_us", "event_id"),
        "event_type", maxLen = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getLong(2))))
      .toMap
    assert(got(1L) == ((Seq("a", "b"), 3L)))  // capped at 2 of 3
    assert(got(2L) == ((Seq("x"), 1L)))
    assert(got(3L) == ((Seq("early", "late"), 2L)))
  }

  test("cdc chunks reconstruct the document and survive a prefix edit") {
    val chunks = TextAnalysis.cdcChunks(docs, 4, 8)
    // chunks joined in order reproduce every document byte-for-byte
    val rebuilt = chunks.groupBy("doc_id")
      .agg(expr("concat_ws(' ', transform(array_sort(collect_list(" +
        "struct(chunk_id, chunk AS c))), s -> s.c))").as("r"))
      .join(docs, "doc_id")
      .where(col("r") =!= col("text"))
    assert(rebuilt.count() == 0)
    // edit robustness: prepending tokens preserves most chunk hashes of a
    // long doc (fixed-width chunking would shift every boundary)
    val s2 = spark; import s2.implicits._
    val base = (0 until 400).map(i => s"tok${i % 97}x$i").mkString(" ")
    val pair = Seq((0L, base), (1L, "inserted prefix tokens " + base))
      .toDF("doc_id", "text")
    val hs = TextAnalysis.cdcChunks(pair, 4, 8)
      .select("doc_id", "chunk_hash").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    val shared = hs(0L).intersect(hs(1L)).size.toDouble / hs(0L).size
    assert(shared > 0.5, s"only $shared of chunk hashes survived the edit")
  }

  /** One greedy left-to-right BPE merge of (a, b) over a symbol list. */
  private def naiveMerge(syms: Vector[String], a: String,
      b: String): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    for (s <- syms) {
      if (out.nonEmpty && out.last == a && s == b)
        out(out.length - 1) = a + b
      else out += s
    }
    out.toVector
  }

  /** Naive reference BPE: recount every adjacent pair of the weighted
    * vocabulary each step, take the (count desc, a asc, b asc) argmax,
    * merge, and stop at `k` merges or when no word has two symbols.
    */
  private def naiveBpe(words: Seq[String],
      k: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words.groupBy(identity)
      .map { case (w, ws) => w.split("").toVector -> ws.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var done = false
    while (out.length < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        vocab = vocab.groupBy { case (syms, _) => naiveMerge(syms, a, b) }
          .map { case (syms, m) => syms -> m.values.sum }
        out += ((out.length + 1, a, b, c))
      }
    }
    out.toSeq
  }

  private def mergeTable(
      df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String, Long)] =
    df.orderBy("step").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("bpe training reproduces a naive driver-side BPE exactly") {
    val s2 = spark; import s2.implicits._
    // the classic Sennrich fixture, expressed as a corpus whose word
    // frequencies are (low 5, lower 2, newest 6, widest 3)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
    val got = mergeTable(TextAnalysis.bpeTrain(docs, 5))
    val expect = naiveBpe(words, 5)
    assert(got == expect, s"got $got\nexpect $expect")

    // bpeApply segments a held-out word with the learned merges the same
    // way the naive fold does
    val merges = got.map(t => (t._2, t._3))
    val seg = Seq(Tuple1("lowest")).toDF("w")
      .select(TextAnalysis.bpeApply(col("w"), merges).as("syms"))
      .first().getSeq[String](0)
    val naive = merges.foldLeft("lowest".split("").toVector) {
      case (syms, (a, b)) => naiveMerge(syms, a, b)
    }
    assert(seg == naive, s"$seg vs $naive")
  }

  test("bpeApply kernel: sequential table-order passes, NOT the GPT-2 " +
      "rank-argmin loop; greedy left-to-right; skip-merges no-op") {
    val s2 = spark; import s2.implicits._
    def apply1(w: String, merges: Seq[(String, String)]): Seq[String] =
      Seq(Tuple1(w)).toDF("w")
        .select(TextAnalysis.bpeApply(col("w"), merges).as("syms"))
        .first().getSeq[String](0)
    // greedy left-to-right within one pass
    assert(apply1("aaaa", Seq(("a", "a"))) == Seq("aa", "aa"))
    assert(apply1("aaaaa", Seq(("a", "a"))) == Seq("aa", "aa", "a"))
    // the adversarial table where rank-argmin diverges: merge 1 (x, ab)
    // is absent during ITS pass and must never fire later, even though
    // merge 2 creates the pair
    assert(apply1("xab", Seq(("x", "ab"), ("a", "b"))) == Seq("x", "ab"))
    // a merge result participates in LATER merges
    assert(apply1("abc", Seq(("a", "b"), ("ab", "c"))) == Seq("abc"))
    // single symbol / no applicable merges pass through
    assert(apply1("q", Seq(("a", "b"))) == Seq("q"))
    assert(apply1("xyz", Seq(("a", "b"))) == Seq("x", "y", "z"))
    // multi-byte code points split like substring(w, i, 1)
    assert(apply1("héé", Seq(("é", "é"))) == Seq("h", "éé"))
  }

  test("bpe training equals the naive BPE when sampled, exhausted and " +
      "vocab-pruned") {
    val s2 = spark; import s2.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("wide") ++ Seq.fill(2)("newer")
    // spread over docs so the sampled path has a real gate to apply
    val docs = words.grouped(3).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    // the operator's md5 content gate, applied here on the driver
    val draws = docs.select(col("text"),
        Sampling.hashUnit(col("text"), "bpe:").as("u")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    for (frac <- Seq(1.0, 0.6)) {
      val kept = draws.filter(_._2 < frac).map(_._1)
      if (frac < 1.0) assert(kept.length < draws.length,
        s"frac=$frac keeps every doc: the gate is not exercised")
      val sampled = kept.toSeq.flatMap(_.split(" ")).filter(_.nonEmpty)
      val got = mergeTable(
        TextAnalysis.bpeTrain(docs, 8, sampleFraction = frac))
      val expect = naiveBpe(sampled, 8)
      assert(got == expect, s"frac=$frac\ngot=$got\nexpect=$expect")
    }
    // exhaustion: ask for far more merges than the vocab holds
    val exhausted = mergeTable(TextAnalysis.bpeTrain(docs, 100))
    assert(exhausted == naiveBpe(words, 100) && exhausted.length < 100,
      s"exhaustion must stop at the naive step: ${exhausted.length}")
    // truncation contract: maxVocab >= distinct words is EXACTLY the
    // unpruned path (6 distinct words here)...
    val full = TextAnalysis.bpeTrain(docs, 8).collect().toSeq
    val atCount = TextAnalysis.bpeTrain(docs, 8, maxVocab = 6)
      .collect().toSeq
    assert(full.map(_.toString) == atCount.map(_.toString))
    // ...and below it, training sees exactly the (freq desc, word asc)
    // top-V head: V=2 keeps {newest x6, low x5}, so the first merge
    // must come from "newest" (pair counts 6) over "low" (5)
    val pruned = TextAnalysis.bpeTrain(docs, 1, maxVocab = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(pruned.head._3 == 6L &&
      "newest".contains(pruned.head._1 + pruned.head._2),
      pruned.toSeq.toString)
  }

  test("containment catches near-supersets jaccard misses") {
    val s2 = spark; import s2.implicits._
    val inner = "a b c d e f g h i j"
    val outer = inner + " k l m n o p q r s t u v w x y z aa bb cc dd"
    val other = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val fx = Seq((1L, inner), (2L, outer), (3L, other))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fx, 3, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"pairs: ${got.keySet}")
    val (c12, c21) = got((1L, 2L))
    assert(c12 == 1.0, s"all of doc 1's shingles are in doc 2: $c12")
    assert(c21 < 0.5, s"doc 2 is much larger: $c21")
    // the motivating gap: the same pair falls below a 0.8 Jaccard bar
    val j = Dedup.jaccardPairs(fx, 3, 0.8).collect()
    assert(j.isEmpty, s"jaccard should miss the containment pair: ${j.toSeq}")
  }

  /** Seeded corpus of token-overlapping docs: shared base vocabulary
    * plus per-doc noise, so qualifying pairs exist at several bars. */
  private def overlapCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val base = (0 until 30).map(i => s"w$i")
    (1L to 40L).map { id =>
      val keep = base.filter(_ => rnd.nextDouble() < 0.8)
      val noise = (0 until rnd.nextInt(4)).map(j => s"n${id}_$j")
      (id, (keep ++ noise).mkString(" "))
    }
  }

  test("prefix-filter join equals quadratic jaccard at every threshold") {
    val s2 = spark; import s2.implicits._
    val docs = overlapCorpus.toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val exact = Dedup.jaccardPairs(docs, 3, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      val fast = Dedup.prefixFilterPairs(docs, 3, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      assert(fast == exact,
        s"tau=$tau: missing=${exact -- fast} extra=${fast -- exact}")
    }
    // integer-boundary fixture: J exactly 0.5 at tau = 0.5 (ceil(t*|d|)
    // lands on an integer; the epsilon'd ceiling must keep the pair) —
    // 8 tokens -> 6 trigrams per doc, sharing exactly 4: J = 4/8 = 0.5
    val bd = Seq(
      (1L, "s1 s2 s3 s4 s5 s6 x1 x2"),
      (2L, "s1 s2 s3 s4 s5 s6 y1 y2")).toDF("doc_id", "text")
    val kept = Dedup.prefixFilterPairs(bd, 3, 0.5).collect()
    assert(kept.length == 1 && kept.head.getDouble(2) == 0.5,
      s"boundary pair must survive: ${kept.toSeq}")
  }

  test("prefix-filter token sets: repeated grams, short and null " +
      "texts and rows sharing an id score as quadratic jaccard does") {
    val s2 = spark; import s2.implicits._
    val seeded = overlapCorpus
    val edge = Seq(
      // "a b c" twice inside one row: 4 distinct trigrams, not 5
      (41L, "a b c a b c d"),
      (42L, "a b c a b c d a"),
      (43L, "a b c d a b"),
      // shorter than n = 3, and a null text: no grams, no pairs
      (44L, "x y"), (45L, "x"), (46L, null),
      // two rows of id 47 union into the 5 trigrams of id 48, and
      // both rows hold "r s t"
      (47L, "p q r s t"), (47L, "r s t u v"),
      (48L, "p q r s t u v"),
      // a second row for seeded id 7: id 8's text plus a tail
      (7L, seeded(7)._2 + " z1 z2"))
    val docs = (seeded ++ edge).toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val exact = Dedup.jaccardPairs(docs, 3, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fast = Dedup.prefixFilterPairs(docs, 3, tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == exact,
        s"tau=$tau: missing=${exact -- fast} extra=${fast -- exact}")
      assert(exact.contains((47L, 48L, 1.0)), s"tau=$tau: $exact")
      assert(exact.contains((41L, 42L, 0.8)) == tau <= 0.8,
        s"tau=$tau: $exact")
    }
  }

  test("shingles, jaccardPairs and prefixFilterPairs reject n < 1") {
    val s2 = spark; import s2.implicits._
    // at n = 0 every document's only shingle would be "", so these two
    // unrelated documents would score J = 1.0
    val d = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Dedup.shingles(d, 0))
    intercept[IllegalArgumentException](Dedup.jaccardPairs(d, 0, 0.7))
    intercept[IllegalArgumentException](Dedup.prefixFilterPairs(d, 0, 0.7))
  }

  /** Runs `df` and reads its bucket-pair spill certificate:
    * (spilled_buckets, spilled_ids, max_bucket). */
  private def spill(df: org.apache.spark.sql.DataFrame): (Long, Long, Int) = {
    df.collect()
    val m = df.queryExecution.observedMetrics
      .collectFirst { case (k, v) if k.startsWith("graft_bucket_spill") => v }
      .getOrElse(fail("no spill metric observed"))
    (m.getAs[Long]("spilled_buckets"), m.getAs[Long]("spilled_ids"),
      m.getAs[Int]("max_bucket"))
  }

  test("prefix filter numbers grams in df order: a gram in every " +
      "document stays out of every prefix bucket") {
    val s2 = spark; import s2.implicits._
    // 12 documents = 6 identical twin pairs. Each holds the same 20
    // stop trigrams (df 12) and 4 trigrams only its twin shares (df 2):
    // 24 grams, so at t = 0.9 the prefix is its 3 lowest-df grams. The
    // result is exact under ANY global gram order; only df order keeps
    // the stop grams out of the prefix, so a wrong numbering shows in
    // the bucket sizes alone.
    val stop = (1 to 22).map(i => s"s$i").mkString(" ")
    val fx = (1L to 12L).map { id =>
      val k = (id + 1) / 2
      (id, s"$stop r${k}a r${k}b r${k}c r${k}d")
    }.toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(fx, 3, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == (1L to 11L by 2).map(i => (i, i + 1, 1.0)).toSet)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (parts <- Seq(1, 7)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val pf = Dedup.prefixFilterPairs(fx, 3, 0.9)
        val (sb, _, mb) = spill(pf)
        assert(sb == 0L && mb == 2,
          s"$parts partitions: only twin buckets may form, got max $mb")
        val got = pf.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got == exact, s"$parts partitions: $got")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucket cap: a pathological high-density corpus stays within " +
      "the ceiling with the refused volume reported; zero spill " +
      "certifies exactness on normal data") {
    val s2 = spark; import s2.implicits._
    // 60 docs all sharing the same 5-token core (every core trigram's
    // bucket holds all 60 ids) plus a unique tail each
    val dense = (1L to 60L).map(id =>
      (id, s"c1 c2 c3 c4 c5 tail$id")).toDF("doc_id", "text")
    // default cap: zero spill, full pair set - the zero metric is the
    // exactness certificate (read under AQE: non-empty output keeps
    // the metric's stage in the final plan)
    val open = Dedup.jaccardPairs(dense, 3, 0.1)
    val (sb2, _, mb2) = spill(open)
    assert(sb2 == 0L && mb2 == 60)
    assert(open.count() == 60L * 59 / 2)
    // Capped runs below: these yield EMPTY results, and AQE's
    // empty-relation propagation prunes the (already-executed) metric
    // stage out of the final plan, making the value unreadable through
    // QueryExecution.observedMetrics - a read-side corner documented
    // on bucketPairsOf (the SQL UI still records it). Disable AQE for
    // the value assertions.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // capped below the density: the shared buckets are refused (no
      // quadratic expansion) and the metric reports exactly what was cut
      val capped = Dedup.jaccardPairs(dense, 3, 0.1, maxBucket = 16)
      val (sb, si, mb) = spill(capped)
      assert(capped.count() == 0, "all qualifying pairs lived in the " +
        "spilled buckets - nothing may leak past the cap")
      assert(sb == 3L && si == 180L && mb == 60,
        s"3 core-trigram buckets x 60 ids: got ($sb, $si, $mb)")
      // the prefix-filter tier caps its PREFIX buckets the same way
      val cappedPf = Dedup.prefixFilterPairs(dense, 3, 0.1, maxBucket = 16)
      val (sb3, si3, mb3) = spill(cappedPf)
      assert(sb3 > 0L)
      // every trigram of a 6-token doc is in its t = 0.1 prefix: the
      // same 3 core buckets x 60 ids as the quadratic tier
      assert((sb3, si3, mb3) == (3L, 180L, 60),
        s"prefix certificate: ($sb3, $si3, $mb3)")
      // and the banded minhash tier its band buckets: the giant
      // all-shared band buckets spill; pairs may still arrive from the
      // legitimately sub-cap buckets, just never the full quadratic set
      val cappedMh = Dedup.minhashCandidates(dense, 3, 8, 2, maxBucket = 16)
      val fullMh = Dedup.minhashCandidates(dense, 3, 8, 2).count()
      val (sb4, _, _) = spill(cappedMh)
      assert(sb4 > 0L && cappedMh.count() < fullMh)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Kneser-Ney perplexity: hand-computed tiny model, finite OOV, " +
      "in-domain scores below junk") {
    val s2 = spark; import s2.implicits._
    val ref = Seq((100L, "a b a c"), (101L, "a b")).toDF("doc_id", "text")
    // model by hand: uni a:3 b:2 c:1 (N=6, V=3); big (a,b):2 (b,a):1
    // (a,c):1 (B=3); fwd a:2 b:1; bwd b:1 a:1 c:1
    val docs = Seq((1L, "a b"), (2L, "z z")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.perplexityKN(docs, ref)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pCont = (1.0 + 1.0) / (3 + 3 + 1) // N1+(.b)=1
    val p2 = (2 - 0.75) / 3 + 0.75 * 2 / 3 * pCont
    val expected1 = math.exp(-(math.log(4.0 / 9) + math.log(p2)) / 2)
    assert(math.abs(got(1L) - expected1) < 1e-12, s"${got(1L)} vs $expected1")
    // OOV everywhere stays finite: p(z)=(0+1)/9, p(z|z)=p_cont(z)=1/7
    val expected2 = math.exp(
      -(math.log(1.0 / 9) + math.log(1.0 / 7)) / 2)
    assert(math.abs(got(2L) - expected2) < 1e-12, s"${got(2L)} vs $expected2")
    // discriminative at corpus scale: reference-like text below junk
    val ref2 = (1L to 50L).map(i =>
      (i + 1000L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val mix = Seq((1L, "the quick brown fox"), (2L, "dog fox zz qq"))
      .toDF("doc_id", "text")
    val pp = graft.ops.TextAnalysis.perplexityKN(mix, ref2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(pp(1L) < pp(2L), pp.toString)
  }

  test("duplicate spans: shared passages merge to maximal islands, " +
      "within-doc repeats flag, removal excises exactly the spans") {
    val s2 = spark; import s2.implicits._
    val shared = "s1 s2 s3 s4 s5" // 5 tokens; with k=3, windows overlap
    val docs = Seq(
      (1L, s"a1 a2 $shared a3 a4"),
      (2L, s"b1 $shared b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7"), // unique content
      (4L, "d1 d2 r1 r2 r3 d3 r1 r2 r3 d4"), // within-doc repeat
      (5L, "e1 e2")) // shorter than k
      .toDF("doc_id", "text")
    val spans = graft.ops.Dedup.duplicateSpans(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // 1-based inclusive: doc 1's shared core is tokens 3..7, doc 2's
    // 2..6; doc 4's repeated trigram flags two islands 3..5 and 7..9
    assert(spans == Set((1L, 3L, 7L), (2L, 2L, 6L),
      (4L, 3L, 5L), (4L, 7L, 9L)), spans.toString)
    val cleaned = graft.ops.Dedup.removeDuplicateSpans(docs, 3)
      .select("doc_id", "n_removed_tokens", "clean_text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(cleaned(1L) == ((5L, "a1 a2 a3 a4")))
    assert(cleaned(2L) == ((5L, "b1 b2 b3 b4")))
    assert(cleaned(3L) == ((0L, "c1 c2 c3 c4 c5 c6 c7")))
    assert(cleaned(4L) == ((6L, "d1 d2 d3 d4")))
    assert(cleaned(5L) == ((0L, "e1 e2")))
    // a fully-duplicated doc cleans to the empty string
    val twins = Seq((1L, "x1 x2 x3 x4"), (2L, "x1 x2 x3 x4"))
      .toDF("doc_id", "text")
    val ct = graft.ops.Dedup.removeDuplicateSpans(twins, 3)
      .collect().map(r => r.getLong(0) ->
        r.getString(r.fieldIndex("clean_text"))).toMap
    assert(ct == Map(1L -> "", 2L -> ""))
  }

  test("strict spill mode: strict = true turns a refused bucket into a " +
      "loud job failure; normal data unaffected") {
    val s2 = spark; import s2.implicits._
    val dense = (1L to 60L).map(id =>
      (id, s"c1 c2 c3 c4 c5 tail$id")).toDF("doc_id", "text")
    // the pathological corpus now FAILS instead of silently yielding
    // zero pairs with only an observed metric to notice
    val e = intercept[Exception](
      Dedup.jaccardPairs(dense, 3, 0.1, maxBucket = 16, strict = true)
        .count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("failOnSpill")),
      s"want the strict-mode message, got: ${msgs(e)}")
    // no bucket over the cap -> strict mode changes nothing
    assert(Dedup.jaccardPairs(dense, 3, 0.1, strict = true).count() ==
      60L * 59 / 2)
  }

  test("strict spill mode on minhash candidates: strict = true fails " +
      "an oversized band bucket; the default skips it") {
    val s2 = spark; import s2.implicits._
    val dense = (1L to 60L).map(id =>
      (id, s"c1 c2 c3 c4 c5 tail$id")).toDF("doc_id", "text")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val e = intercept[Exception](Dedup.minhashCandidates(dense, 3, 8, 2,
      maxBucket = 16, strict = true).count())
    assert(msgs(e).exists(_.contains("failOnSpill")),
      s"want the strict-mode message, got: ${msgs(e)}")
    val lenient = Dedup.minhashCandidates(dense, 3, 8, 2, maxBucket = 16)
      .count()
    assert(lenient < Dedup.minhashCandidates(dense, 3, 8, 2).count())
  }

  test("spillCertificate: the driver-visible certificate matches the " +
      "bucket-size distribution; zero spill certifies the full pair set; " +
      "correct UNDER AQE in both the zero-spill and all-spill fixtures") {
    val s2 = spark; import s2.implicits._
    // the certificate must not need the round-10 AQE toggle: its count()
    // action keeps the metric stage alive even when every bucket spills
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val dense = (1L to 60L).map(id =>
      (id, s"c1 c2 c3 c4 c5 tail$id")).toDF("doc_id", "text")
    // open cap: zero spill, n_pairs == all C(60,2) pairs per core bucket
    val open = Dedup.spillCertificate(dense, 3).head()
    assert(open.getAs[Long]("spilled_buckets") == 0L)
    assert(open.getAs[Long]("spilled_ids") == 0L)
    assert(open.getAs[Int]("max_bucket") == 60)
    assert(open.getAs[Long]("n_pairs") == 3L * (60L * 59 / 2))
    // capped: the 3 core-trigram buckets (60 ids each) are refused and
    // REPORTED; nothing else in this corpus co-buckets
    val capped = Dedup.spillCertificate(dense, 3, maxBucket = 16).head()
    assert(capped.getAs[Long]("spilled_buckets") == 3L)
    assert(capped.getAs[Long]("spilled_ids") == 180L)
    assert(capped.getAs[Int]("max_bucket") == 60)
    assert(capped.getAs[Long]("n_pairs") == 0L)
    // no co-bucketed docs at all: all-zero certificate, no hang
    val solo = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val none = Dedup.spillCertificate(solo, 3).head()
    assert(none.getAs[Long]("spilled_buckets") == 0L &&
      none.getAs[Int]("max_bucket") == 0 &&
      none.getAs[Long]("n_pairs") == 0L)
  }

  test("deterministic HLL: accurate, mergeable, duplicate-immune") {
    val s2 = spark; import s2.implicits._
    val big = (1L to 5000L).map(i => ("big", i))
    val dups = (1L to 5000L).map(i => ("big", i)) // exact duplicates
    val tiny = Seq(("tiny", 1L), ("tiny", 2L), ("tiny", 3L))
    val fx = (big ++ dups ++ tiny).toDF("grp", "k")
    val est = Sketch.hllDistinct(fx, "grp", "k", logBuckets = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // m=256 -> ~6.5% standard error; duplicates must not inflate
    assert(math.abs(est("big") - 5000) < 0.2 * 5000, s"big: $est")
    // small-range linear counting: 256·ln(256/253) ≈ 3.02
    assert(math.abs(est("tiny") - 3.0) < 0.2, s"tiny: $est")
    // mergeability: registers of the union == max-merge of halves
    val a = fx.where(col("k") <= 2500L)
    val b = fx.where(col("k") > 2500L)
    val mergedHalves = Sketch.hllRegisters(a, "grp", "k", 8)
      .unionByName(Sketch.hllRegisters(b, "grp", "k", 8))
      .groupBy("group", "bucket").agg(max("reg").as("reg"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet
    val whole = Sketch.hllRegisters(fx, "grp", "k", 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(mergedHalves == whole, "register max-merge must equal the " +
      "union's registers")
  }

  test("time-weighted average clips, opens pre-window, holds ties") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      // "a": pre-window event opens at 100; switch mid-window
      ("a", 50L, 10L), ("a", 150L, 30L),
      // "b": series starts inside the window — covered is partial
      ("b", 120L, 6L),
      // "c": duplicate-ts tick — only the last (by value) holds time
      ("c", 150L, 4L), ("c", 150L, 8L),
      // "d": entirely after the window — excluded
      ("d", 250L, 99L)).toDF("k", "ts", "v")
    val got = AsOf.timeWeightedAvg(fx, "k", "ts", "v", 100L, 200L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("a") == ((2L, 100L, 20.0)), s"a: ${got("a")}")
    assert(got("b") == ((1L, 80L, 6.0)), s"b: ${got("b")}")
    assert(got("c") == ((1L, 50L, 8.0)), s"c: ${got("c")}")
    assert(!got.contains("d"), s"post-window key must drop: $got")
  }

  test("seasonal anomalies flag the planted spike, not the pattern") {
    val s2 = spark; import s2.implicits._
    val hourUs = 3600000000L
    // two weeks of hourly events: hour 9 always runs at 100, every
    // other hour at 10 — a calendar-blind detector would flag every
    // hour-9 event; the seasonal baseline absorbs them. One planted
    // spike (id 9999) at an ordinary hour.
    val rows = for (day <- 0 until 14; h <- 0 until 24) yield {
      val id = day * 100L + h
      val ts = (day * 24L + h) * hourUs
      val v = if (h == 9) 100L + (day % 2) else 10L + (day % 3)
      (id, ts, v)
    }
    val fx = (rows :+ ((9999L, 5L * hourUs, 500L)))
      .toDF("event_id", "ts_us", "v")
    val got = Profile.seasonalAnomalies(fx, "ts_us", "v", madK = 5)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(9999L), s"only the spike must flag: $got")
    // constant stream + one deviation: mad = 0 degrades to
    // "any deviation from the cell median"
    // the deviant shares id 1's (dow, hour) cell — one week later
    val const = ((1L to 50L).map(i => (i, i * hourUs, 7L)) :+
      ((99L, (1L + 168L) * hourUs, 8L))).toDF("event_id", "ts_us", "v")
    val flagged = Profile.seasonalAnomalies(const, "ts_us", "v")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(99L), s"mad=0 must still flag: $flagged")
  }

  test("golden records survive fields by per-field rules") {
    val s2 = spark; import s2.implicits._
    val reg = Seq(
      // cluster c1: 3 records
      (1L, "Acme Corp", "NY", "33", "bob@a.com"),
      (2L, "Acme Corporation", "NY", "35", null),
      (3L, "Acme", "SF", "34", "b@a.com"),
      // cluster c2: singleton with an unparseable numeric field
      (4L, "Solo Ltd", null, "n/a", "x@y.z"))
      .toDF("id", "name", "city", "age", "email")
    val cl = Seq((1L, "c1"), (2L, "c1"), (3L, "c1"), (4L, "c2"))
      .toDF("id", "cluster_id")
    val got = Linkage.goldenRecords(reg, cl, "id",
        Seq("name" -> "longest", "city" -> "mode",
          "age" -> "max", "email" -> "mode"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getString(5))).toMap
    // longest name; mode city (2-1); numeric max age; email mode is a
    // 1-1-and-a-null tie -> smallest string
    assert(got("c1") == ((3L, "Acme Corporation", "NY", "35", "b@a.com")),
      s"c1: ${got("c1")}")
    // singleton: age 'n/a' doesn't parse -> max rule yields no survivor
    assert(got("c2") == ((1L, "Solo Ltd", null, null, "x@y.z")),
      s"c2: ${got("c2")}")
  }

  test("poisson bootstrap CI brackets the mean and is deterministic") {
    val s2 = spark; import s2.implicits._
    val big = (1L to 200L).map(i => ("a", i, i))
    val one = Seq(("b", 7L, 9001L))
    val fx = (big ++ one).toDF("src", "x", "id")
    def run() = Profile.bootstrapCI(fx, "src", "x", "id",
        replicas = 80, alpha = 0.1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(3),
          r.getDouble(4), r.getDouble(5))).toMap
    val got = run()
    val (n, mean, m, lo, hi) = got("a")
    assert(n == 200 && mean == 100.5)
    assert(m == 80, s"200-row group never resamples empty: $m")
    assert(lo < mean && mean < hi, s"CI [$lo, $hi] must bracket $mean")
    assert(hi - lo < 30, s"CI too wide for n=200: [$lo, $hi]")
    // singleton group: every non-empty replica mean is exactly the
    // value; ~e^{-1} of replicas resample empty and are dropped
    val (n1, mean1, m1, lo1, hi1) = got("b")
    assert(n1 == 1 && mean1 == 7.0 && lo1 == 7.0 && hi1 == 7.0)
    assert(m1 < 80 && m1 > 30, s"empty replicas must drop: m=$m1")
    assert(run() == got, "draws are md5-seeded: identical on re-run")
  }

  test("dsir weights rank target-like docs above off-domain docs") {
    val s2 = spark; import s2.implicits._
    val target = Seq((100L, "cat sat mat cat purred"),
      (101L, "cat chased the yarn ball")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "bond yields rose as markets fell"),
      (3L, "cat purred and chased yarn"),
      (4L, "quarterly earnings beat bond forecasts")).toDF("doc_id", "text")
    val w = Sampling.importanceWeights(raw, target, numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Set(1L, 2L, 3L, 4L) == w.keySet)
    assert(math.min(w(1L), w(3L)) > math.max(w(2L), w(4L)),
      s"cat docs must outrank finance docs: $w")
    val top = Sampling.importanceTopK(raw, target, 64, k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 3L), s"topK: $top")
  }

  test("dsir weights match a naive driver-side model") {
    val s2 = spark; import s2.implicits._
    val rawSeq = Seq((1L, "a b c"), (2L, "c d"), (3L, "e"))
    val tgtSeq = Seq((10L, "a b"), (11L, "b c d"))
    val b = 32
    def grams(t: String): Seq[String] = {
      val ts = t.split(" ", -1).toSeq
      ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(("dsir:" + g).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % b).toInt
    }
    val tc = tgtSeq.flatMap(d => grams(d._2)).groupBy(bucket)
      .map { case (k, v) => k -> v.size.toLong }
    val rc = rawSeq.flatMap(d => grams(d._2)).groupBy(bucket)
      .map { case (k, v) => k -> v.size.toLong }
    val (nt, nr) = (tc.values.sum.toDouble, rc.values.sum.toDouble)
    val expect = rawSeq.map { case (id, t) =>
      id -> grams(t).foldLeft(0.0) { (acc, g) =>
        val bk = bucket(g)
        acc + math.log((tc.getOrElse(bk, 0L) + 1.0) / (nt + b)) -
          math.log((rc.getOrElse(bk, 0L) + 1.0) / (nr + b))
      }
    }.toMap
    val got = Sampling.importanceWeights(
        rawSeq.toDF("doc_id", "text"), tgtSeq.toDF("doc_id", "text"), b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    expect.foreach { case (id, e) =>
      assert(math.abs(got(id) - e) < 1e-12, s"doc $id: ${got(id)} vs $e")
    }
  }

  test("knn graph: per-node top-k within cluster, brute-force agreement") {
    val g = Similarity.knnGraph(emb, nlist = 4, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getInt(4)))
    assert(g.nonEmpty)
    // per-node: ranks are 1..min(k, cluster-1) and cosines non-increasing
    g.groupBy(_._1).foreach { case (v, edges) =>
      val sorted = edges.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to edges.length),
        s"ranks for $v: ${sorted.map(_._5).toSeq}")
      assert(sorted.map(_._4).sliding(2).forall {
        case Array(x, y) => x >= y; case _ => true
      }, s"cosines not monotone for $v")
    }
    // agreement with a brute-force in-cluster top-k on the same index
    val assigned = Similarity.ivfAssign(emb, 4)
    val rows = assigned.select("vec_id", "cid", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var (d, nx, ny) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val expect = rows.flatMap { case (v, c, xv) =>
      rows.filter(r => r._2 == c && r._1 != v)
        .map { case (n, _, yv) => (v, n, cos(xv, yv)) }
        .sortBy { case (_, n, s) => (-s, n) }.take(3).map(e => (e._1, e._2))
    }.toSet
    assert(g.map(e => (e._1, e._2)).toSet == expect)
  }

  test("knn graph excludes zero-norm vectors instead of ranking NaN first") {
    val s2 = spark; import s2.implicits._
    // 1 and 2 are near-identical; 3 is orthogonal-ish; 99 is all-zero.
    // cos(x, 0) = 0/0 = NaN, which Spark orders ABOVE every double — an
    // unguarded zero vector would be every node's top neighbor.
    val fx = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(1.0f, 0.2f)),
      (3L, Array(0.1f, 1.0f)), (99L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(fx, nlist = 1, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(g.nonEmpty)
    assert(!g.exists(e => e._1 == 99L || e._2 == 99L),
      s"zero vector leaked into the graph: ${g.mkString(",")}")
    assert(g.forall(e => !e._3.isNaN), s"NaN cosine: ${g.mkString(",")}")
    // and node 1's best neighbor is 2, not the zero vector
    val top1 = g.filter(_._1 == 1L).minBy(-_._3)
    assert(top1._2 == 2L, top1.toString)
  }

  test("scalar quantization: codes bounded, constant dims exact, " +
      "reconstruction within half a quantization step") {
    val s2 = spark; import s2.implicits._
    // dim bounds: d0 [0,10], d1 [5,5] (constant), d2 [-2,2]
    val raw = Seq(
      (1L, Array(0.0f, 5.0f, 2.0f)),
      (2L, Array(10.0f, 5.0f, -2.0f)),
      (3L, Array(4.0f, 5.0f, 0.5f)))
    val fx = raw.toDF("vec_id", "embedding")
    val rows = Similarity.scalarQuantize(fx).collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ").map(_.toInt), r.getDouble(2))).toList
    assert(rows.map(_._1).sorted == List(1L, 2L, 3L))
    val lows = Array(0.0, 5.0, -2.0)
    val ranges = Array(10.0, 0.0, 4.0)
    rows.foreach { case (id, codes, mse) =>
      assert(codes.length == 3 && codes.forall(c => c >= 0 && c <= 255),
        s"vec $id codes: ${codes.mkString(",")}")
      assert(codes(1) == 0, s"constant dim must code as 0, got ${codes(1)}")
      // per-dim round-trip within half a step; constant dim exact
      val x = raw.collect { case (i, e) if i == id => e }.head
      val err = codes.indices.map { d =>
        val deq = lows(d) + codes(d) * ranges(d) / 255.0
        math.abs(deq - x(d))
      }
      err.indices.foreach { d =>
        val tol = if (ranges(d) == 0) 1e-12 else ranges(d) / 255.0 / 2 + 1e-9
        assert(err(d) <= tol, s"vec $id dim $d err ${err(d)} > $tol")
      }
      val expectMse = err.map(e => e * e).sum / 3.0
      assert(math.abs(mse - expectMse) < 1e-12, s"vec $id mse $mse")
    }
  }

  test("normalized dedup collapses case/punctuation/whitespace variants") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "goodbye world"),
      (5L, "hello worlds"))   // NOT a variant: extra letter
      .toDF("doc_id", "text")
    val got = Dedup.normalizedGroups(fx).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 3L), (4L, 1L), (5L, 1L)), got.toString)
  }

  test("quality quantile filter keeps exactly max(1, floor(frac*n)) " +
      "best rows per group") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.7), ("a", 4L, 0.6),
      ("b", 5L, 0.5), ("b", 6L, 0.4), ("b", 7L, 0.9),
      ("c", 8L, 0.1)).toDF("source", "doc_id", "q")
    val got = Curation.qualityQuantileFilter(fx, "source", "q", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // a: n=4 keeps its best 2; b: n=3 keeps floor(1.5)=1 (doc 7);
    // c: n=1 keeps its single row (the at-least-one floor)
    assert(got == Set(1L, 2L, 7L, 8L), got.toString)
    // equal scores resolve by id asc — deterministic survivor set
    val tie = Seq(("s", 10L, 1.0), ("s", 11L, 1.0), ("s", 12L, 1.0),
      ("s", 13L, 1.0)).toDF("source", "doc_id", "q")
    val keep = Curation.qualityQuantileFilter(tie, "source", "q", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keep == Set(10L, 11L), keep.toString)
  }

  test("temperature mixture: alpha=1 keeps all, alpha=0 keeps all of " +
      "the smallest source, draws deterministic") {
    val s2 = spark; import s2.implicits._
    val fx = (1 to 8).map(i => ("big", i.toLong, s"text number $i")) ++
      Seq(("small", 100L, "s one"), ("small", 101L, "s two"))
    val df = fx.toDF("source", "doc_id", "text")
    assert(Sampling.temperatureMixture(df, 1.0).count() == 10L)
    val a0 = Sampling.temperatureMixture(df, 0.0)
    assert(a0.where(col("source") === "small").count() == 2L)
    val k1 = Sampling.temperatureMixture(df, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = Sampling.temperatureMixture(df, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2 && k1.nonEmpty, s"$k1 vs $k2")
  }

  test("source overlap matrix matches hand-computed jaccard") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      ("a", "w1 w2 w3 w4 w5"),     // grams: 3
      ("b", "w1 w2 w3 x1 x2"),     // shares 1 gram with a
      ("c", "z1 z2 z3 z4 z5"))     // disjoint
      .toDF("source", "text")
    val got = Dedup.sourceOverlapMatrix(fx, 3).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(("a", "b")), s"pairs: ${got.keySet}")
    val (n, j) = got(("a", "b"))
    assert(n == 1L && math.abs(j - 1.0 / 5.0) < 1e-12, s"($n, $j)")
  }

  test("hll rolling distinct: exact at small cardinality, window algebra") {
    val s2 = spark; import s2.implicits._
    // days 0..3, users overlap across days; HLL is exact at these sizes
    val fx = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 4L),
      (3L, 1L), (3L, 5L)).toDF("day", "u")
    val w1 = Sketch.rollingDistinct(fx, "day", "u", 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 2L), w1.toString)
    val w4 = Sketch.rollingDistinct(fx, "day", "u", 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // day 3's trailing-4 window covers everything: 5 distinct users
    assert(w4(3L) == 5L, w4.toString)
    assert(w4(0L) == 2L, w4.toString)
  }

  test("weighted per-key sample: equal weights reduce to capPerKey; " +
      "dominant weight wins; zero weight never sampled") {
    val s2 = spark; import s2.implicits._
    // equal weights ⇒ rank u^(1/w) is monotone in u for every row, but
    // A-Res uses salt "wcap:" vs capPerKey's "cap:" — compare against a
    // same-salt replay instead of capPerKey itself
    val withW = docs.withColumn("w1", lit(1L))
    val ares = Sampling.weightedCapPerKey(withW, "source", "w1", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.expressions.Window
    val replay = withW
      .withColumn("u", Sampling.hashUnit(col("text"), "wcap:"))
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("u").desc, col("doc_id").asc)))
      .where(col("rk") <= 3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ares == replay)
    // dominant weight: u^(1/huge) → 1 beats every unit-weight draw
    val fx = Seq((1L, "aa bb cc", "k", 1L), (2L, "dd ee ff", "k", 1L),
      (3L, "gg hh ii", "k", 1000000000L), (4L, "jj kk ll", "k", 0L))
      .toDF("doc_id", "text", "source", "wt")
    val got = Sampling.weightedCapPerKey(fx, "source", "wt", 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L), got.toString)
    // zero weight never sampled even when maxN covers everything
    val all = Sampling.weightedCapPerKey(fx, "source", "wt", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L), all.toString)
  }

  test("weighted WOR sample: equals the window replay of its own key " +
      "on any partitioning; giant single group; zero weight excluded") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.expressions.Window
    // same-salt, same-quantized-key window replay — the ranking contract
    def replay(df: org.apache.spark.sql.DataFrame, grp: String, k: Int) = df
      .where(col("n_chars") > 0)
      .withColumn("u",
        Sampling.hashUnit(col("text"), "wor:") + lit(0.5 / 65536))
      .withColumn("key",
        round(log(col("u")) / col("n_chars").cast("double") * 1e12, 0)
          .cast("long"))
      .withColumn("wor_rank", row_number().over(Window.partitionBy(grp)
        .orderBy(col("key").desc, col("doc_id").asc)))
      .where(col("wor_rank") <= k)
      .select(col(grp), col("doc_id"), col("wor_rank"))
    val expect = replay(docs, "source", 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // merge correctness must not depend on how rows land in partitions
    for (parts <- Seq(1, 7)) {
      val got = Sampling.weightedSampleWOR(docs.repartition(parts),
          "source", 7, "n_chars")
        .select(col("source"), col("doc_id"), col("wor_rank"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(got == expect, s"parts=$parts")
    }
    // one giant group — the shape the window op can't survive at scale
    val one = docs.withColumn("g", lit("all"))
    val gotOne = Sampling.weightedSampleWOR(one, "g", 5, "n_chars")
      .select("doc_id", "wor_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val expOne = replay(one, "g", 5).select("doc_id", "wor_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(gotOne == expOne && gotOne.size == 5)
    // zero/negative weights are never sampled
    val fx2 = Seq((1L, "aa", "k", 3L), (2L, "bb", "k", 0L),
      (3L, "cc", "k", -4L)).toDF("doc_id", "text", "k", "n_chars")
    val kept = Sampling.weightedSampleWOR(fx2, "k", 10, "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), kept.toString)
  }

  test("exact quantiles: hand-computed ranks, ties collapse, " +
      "integral q*n does not round up, endpoints are min/max") {
    val s2 = spark; import s2.implicits._
    val fx = ((1 to 10).map(v => ("a", v.toLong)) ++
      Seq(("b", 5L), ("b", 5L), ("b", 5L), ("b", 7L)) ++
      Seq(("c", 42L))).toDF("k", "v")
    val got = graft.ops.Profile
      .exactQuantiles(fx, "k", "v", Seq(0.0, 0.25, 0.5, 0.75, 0.8, 1.0))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // key a: n=10 — ranks 1, 3, 5, 8 (ceil(7.5)), 8, 10
    assert(got(("a", 0.0)) == 1L && got(("a", 0.25)) == 3L)
    assert(got(("a", 0.5)) == 5L && got(("a", 1.0)) == 10L)
    // key b: n=4 over collapsed grain {5:3, 7:1} — q=0.75 hits rank 3
    // EXACTLY (0.75*4 = 3.0 must not ceil to 4), q=0.8 rank 4 -> 7
    assert(got(("b", 0.5)) == 5L && got(("b", 0.75)) == 5L)
    assert(got(("b", 0.8)) == 7L)
    // singleton key: every quantile is the one value
    assert(Seq(0.0, 0.25, 0.5, 0.75, 0.8, 1.0)
      .forall(q => got(("c", q)) == 42L))
  }

  test("weighted quantiles: weight-1 degenerates to exactQuantiles, " +
      "equals row-expansion, mass moves the median, bad weights drop") {
    val s2 = spark; import s2.implicits._
    val fx = ((1 to 10).map(v => ("a", v.toLong, 1L + (v % 3))) ++
      Seq(("b", 5L, 3L), ("b", 7L, 1L), ("c", 42L, 9L)))
      .toDF("k", "v", "w")
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // weight ≡ 1 is definitionally exactQuantiles
    val unit = toMap(graft.ops.Profile.weightedQuantiles(
      fx.withColumn("one", lit(1L)), "k", "v", "one", qs))
    val exact = toMap(graft.ops.Profile.exactQuantiles(fx, "k", "v", qs))
    assert(unit == exact)
    // weighted result == exactQuantiles of the w-times row expansion
    val weighted = toMap(graft.ops.Profile
      .weightedQuantiles(fx, "k", "v", "w", qs))
    val expanded = toMap(graft.ops.Profile.exactQuantiles(
      fx.withColumn("i", explode(expr("sequence(1, w)"))), "k", "v", qs))
    assert(weighted == expanded)
    // mass dominates: one heavy value owns the median
    val heavy = Seq(("h", 1L, 1L), ("h", 2L, 1L), ("h", 10L, 8L))
      .toDF("k", "v", "w")
    val hm = toMap(graft.ops.Profile
      .weightedQuantiles(heavy, "k", "v", "w", Seq(0.5)))
    assert(hm(("h", 0.5)) == 10L)
    // NULL / zero / negative weights are dropped, not counted
    val dirty = Seq(("d", 1L, Some(5L)), ("d", 100L, Some(0L)),
      ("d", 200L, Some(-3L)), ("d", 300L, None))
      .toDF("k", "v", "w")
    val dm = toMap(graft.ops.Profile
      .weightedQuantiles(dirty, "k", "v", "w", Seq(0.5, 1.0)))
    assert(dm(("d", 0.5)) == 1L && dm(("d", 1.0)) == 1L)
  }

  test("dataset manifest: partition-invariant, root merges shards " +
      "mod p, single-row edits flip fingerprints, NULL != empty") {
    val s2 = spark; import s2.implicits._
    val p = BigInt(2305843009213693951L)
    val fx = (1 to 200).map(i => (i.toLong, s"text-$i", s"s${i % 3}"))
      .toDF("id", "text", "src")
    def mf(df: org.apache.spark.sql.DataFrame) = graft.ops.Profile
      .datasetManifest(df, Seq("id", "text", "src"), 4).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = mf(fx.repartition(7))
    val b = mf(fx.repartition(2).sort(desc("text")))
    assert(a == b) // row order and partitioning are invisible
    // root row (-1) is the modular sum of the shard fingerprints
    val shardSum = a.collect { case (s, (_, f)) if s >= 0 => BigInt(f) }
      .sum % p
    assert(BigInt(a(-1)._2) == shardSum)
    assert(a(-1)._1 == 200L && a.collect {
      case (s, (n, _)) if s >= 0 => n }.sum == 200L)
    // one changed row changes the root (and exactly one shard count)
    val edited = mf(fx.withColumn("text",
      when(col("id") === 17L, lit("tampered")).otherwise(col("text"))))
    assert(edited(-1)._2 != a(-1)._2)
    assert(edited(-1)._1 == 200L)
    // NULL and empty string serialize differently
    val withNull = Seq((1L, Option.empty[String], "s"))
      .toDF("id", "text", "src")
    val withEmpty = Seq((1L, Option(""), "s")).toDF("id", "text", "src")
    assert(mf(withNull)(-1)._2 != mf(withEmpty)(-1)._2)
  }

  test("calibration profile: hand-computed bins, ECE and Brier; " +
      "perfect scores give zero error; nulls drop; top bin closed") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(("g", 0.2, 0.0), ("g", 0.3, 1.0), ("g", 0.8, 1.0),
      ("g", 0.9, 0.0), ("g", 1.0, 1.0)).toDF("grp", "s", "y")
    val got = graft.ops.Profile
      .calibrationProfile(fx, "grp", "s", "y", 2)
      .orderBy("bin").collect()
    assert(got.length == 2)
    val b0 = got(0); val b1 = got(1)
    // bin 0: {0.2/0, 0.3/1} -> conf .25, acc .5, gap .25
    assert(b0.getAs[Int]("bin") == 0 && b0.getAs[Long]("n") == 2L)
    assert(b0.getAs[Double]("confidence") == 0.25)
    assert(b0.getAs[Double]("accuracy") == 0.5)
    assert(b0.getAs[Double]("gap") == 0.25)
    // bin 1: {0.8/1, 0.9/0, 1.0/1} — score 1.0 joins the TOP bin
    assert(b1.getAs[Int]("bin") == 1 && b1.getAs[Long]("n") == 3L)
    assert(b1.getAs[Double]("confidence") == 0.9)
    assert(b1.getAs[Double]("accuracy") == 0.666667)
    assert(b1.getAs[Double]("gap") == -0.233333)
    // group stats ride every row: ECE = (0.5 + 0.7)/5, Brier = 1.38/5
    for (r <- got) {
      assert(r.getAs[Double]("ece") == 0.24)
      assert(r.getAs[Double]("brier") == 0.276)
    }
    // a perfectly calibrated hard classifier has zero ECE and Brier
    val perfect = Seq(("p", 0.0, 0.0), ("p", 1.0, 1.0), ("p", 1.0, 1.0))
      .toDF("grp", "s", "y")
    val pg = graft.ops.Profile
      .calibrationProfile(perfect, "grp", "s", "y", 4).collect()
    assert(pg.forall(r => r.getAs[Double]("ece") == 0.0 &&
      r.getAs[Double]("brier") == 0.0))
    // NULL score or label rows are dropped, not zero-counted
    val dirty = Seq(("d", Some(0.5), Some(1.0)), ("d", None, Some(1.0)),
      ("d", Some(0.5), None)).toDF("grp", "s", "y")
    val dg = graft.ops.Profile
      .calibrationProfile(dirty, "grp", "s", "y", 2).collect()
    assert(dg.length == 1 && dg(0).getAs[Long]("n") == 1L)
  }

  test("winsorize clips at per-key exact quantiles and leaves " +
      "in-band values untouched") {
    val s2 = spark; import s2.implicits._
    val fx = ((1 to 10).map(v => ("a", v.toLong)) ++
      (100 to 1000 by 100).map(v => ("b", v.toLong)))
      .toDF("k", "v")
    val got = graft.ops.Profile.winsorize(fx, "k", "v", 0.2, 0.8)
      .select("k", "v", "v_clip").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // key a: cuts at ranks 2 and 8 -> [2, 8]
    assert(got(("a", 1L)) == 2L && got(("a", 2L)) == 2L)
    assert(got(("a", 5L)) == 5L)
    assert(got(("a", 9L)) == 8L && got(("a", 10L)) == 8L)
    // key b gets ITS OWN band [200, 800], not key a's
    assert(got(("b", 100L)) == 200L && got(("b", 1000L)) == 800L)
    assert(got(("b", 500L)) == 500L)
  }

  test("readability: hand-counted words/sentences/syllables, silent-e " +
      "rule, no-vowel floor, fragment counts one sentence") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      (1L, "the cat sat."),            // 3 words, 1 sentence, 3 syl
      (2L, "table house tree be"),     // silent-e: 1+1+1+1
      (3L, "xyz zzz"),                 // no vowels -> floor 1 each
      (4L, "one two! three four? five.")) // 3 sentences, syl 1+1+1+1+2
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.readability(fx).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got(1L)._1 == 3L && got(1L)._2 == 1L && got(1L)._3 == 3L)
    assert(got(2L) == ((4L, 1L, 4L,
      206.835 - 1.015 * 4.0 - 84.6 * 1.0,
      0.39 * 4.0 + 11.8 * 1.0 - 15.59)))
    assert(got(3L)._3 == 2L && got(3L)._2 == 1L)
    assert(got(4L)._1 == 5L && got(4L)._2 == 3L && got(4L)._3 == 6L)
    // the classic anchor: ease = 206.835 - 1.015*(w/s) - 84.6*(syl/w)
    val (w, s, syl, ease, fk) = got(4L)
    assert(ease == 206.835 - 1.015 * (w.toDouble / s)
      - 84.6 * (syl.toDouble / w))
    assert(fk == 0.39 * (w.toDouble / s) + 11.8 * (syl.toDouble / w)
      - 15.59)
  }

  test("k-anonymity profile: sub-k class flagged, l-diversity exposes " +
      "a uniform sensitive value in a large class") {
    val s2 = spark; import s2.implicits._
    val fx = (Seq(("A", 1, "x"), ("A", 1, "x"), ("A", 1, "y")) ++
      (1 to 6).map(_ => ("A", 2, "z")))
      .toDF("seg", "nat", "diag")
    val got = graft.ops.Curation
      .kAnonymityProfile(fx, Seq("seg", "nat"), "diag", k = 5)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // 3 < k: at risk, two distinct diagnoses
    assert(got(("A", 1)) == ((3L, 2L, true)))
    // 6 >= k: k-anonymous, but l = 1 says everyone shares one value
    assert(got(("A", 2)) == ((6L, 1L, false)))
  }

  test("acf profile: alternating series gives exactly -1/+1/-1 at lags " +
      "1/2/3; constant series is NULL; trending series is +1 at lag 1") {
    val s2 = spark; import s2.implicits._
    val alt = (1 to 6).map(t =>
      ("alt", t.toLong, t.toLong, if (t % 2 == 1) 1L else -1L))
    val const = (1 to 5).map(t => ("const", t.toLong, t.toLong, 7L))
    val lin = (1 to 6).map(t => ("lin", t.toLong, t.toLong, t.toLong))
    val fx = (alt ++ const ++ lin).toDF("k", "ts", "eid", "v")
    val got = graft.ops.Profile.acfProfile(fx, "k", "ts", "v", 3, "eid")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(("alt", 1)).contains(-1.0))
    assert(got(("alt", 2)).contains(1.0))
    assert(got(("alt", 3)).contains(-1.0))
    // zero variance on both sides -> NULL, never Infinity
    assert(got(("const", 1)).isEmpty)
    // a monotone trend is perfectly self-correlated at every lag
    assert(got(("lin", 1)).contains(1.0) && got(("lin", 3)).contains(1.0))
  }

  test("gram profile: hand-computed exact sums and covariance on a " +
      "2-dim fixture; buffer merge independent of partitioning") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f), Seq(-1.0f, 0.5f))
      .toDF("embedding")
    for (parts <- Seq(1, 3)) {
      val got = graft.ops.Moments
        .gramProfile(fx.repartition(parts), d = 2)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getDecimal(3).longValueExact(),
            r.getDecimal(4).longValueExact(),
            r.getDecimal(5).longValueExact(),
            r.getDouble(6))).toMap
      // q = v * 1e6 exactly for these values
      val (n, s1, s2v) = (3L, 3000000L, 6500000L)
      assert(got((1, 1)) ==
        ((n, s1, s1, 11000000000000L,
          (3.0 * 11e12 - 9e12) / (9.0 * 1e12))), got((1, 1)).toString)
      assert(got((1, 2))._4 == 13500000000000L)
      assert(got((2, 2)) ==
        ((n, s2v, s2v, 20250000000000L,
          (3.0 * 20.25e12 - 6.5e6 * 6.5e6) / (9.0 * 1e12))))
      // population variance of x1 = {1, 3, -1} is 8/3
      assert(math.abs(got((1, 1))._5 - 8.0 / 3.0) < 1e-12)
    }
  }

  test("gram profile: pair sums past the 64-bit range stay exact in " +
      "the 128-bit buffer (signed carries included)") {
    val s2 = spark; import s2.implicits._
    // q = 3e9 per component, per-row pair product 9e18 ~ Long.MaxValue:
    // four rows would wrap a 64-bit sum; the mixed-sign row exercises
    // the negative-add carry path
    val fx = Seq(
      Seq(3000.0f, 3000.0f), Seq(3000.0f, 3000.0f),
      Seq(3000.0f, 3000.0f), Seq(-3000.0f, 3000.0f))
      .toDF("embedding")
    for (parts <- Seq(1, 4)) {
      val got = graft.ops.Moments
        .gramProfile(fx.repartition(parts), d = 2)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getDecimal(3), r.getDecimal(5))).toMap
      def bd(s: String) = new java.math.BigDecimal(s)
      assert(got((1, 1))._2.compareTo(bd("36000000000000000000")) == 0,
        got.toString)
      assert(got((1, 2))._2.compareTo(bd("18000000000000000000")) == 0)
      assert(got((2, 2))._2.compareTo(bd("36000000000000000000")) == 0)
      // linear sums: 3*3e9 - 3e9 = 6e9 and 4*3e9 = 1.2e10
      assert(got((1, 1))._1.compareTo(bd("6000000000")) == 0)
      assert(got((2, 2))._1.compareTo(bd("12000000000")) == 0)
    }
  }

  test("weighted WOR: ultra-tiny weights clamp to one bottom tie " +
      "bucket (doc_id order) instead of overflowing the long key") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      (1L, "g", 100.0, "doc one text"),
      (2L, "g", 100.0, "doc two text"),
      (3L, "g", 1e-9, "doc three text"),
      (4L, "g", 1e-9, "doc four text"))
      .toDF("doc_id", "source", "w", "text")
    val got = graft.ops.Sampling
      .weightedSampleWOR(fx, "source", 4, "w")
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    // normal weights hold ranks 1-2 (keys ~ -1e11 >> the clamp);
    // both 1e-9 rows hit the -4.6e18 clamp and tie-break by doc_id
    assert(Set(got(1L), got(2L)) == Set(1, 2), got.toString)
    assert(got(3L) == 3 && got(4L) == 4, got.toString)
  }

  test("encoding anomalies: each damage class counted separately, " +
      "clean text and legitimate whitespace stay clean") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      (1L, "perfectly clean text\twith tab\nand newline"),
      (2L, "lost � twice � here"),
      (3L, "cafÃ© and nbsp Â\u00A0 mojibake"),
      (4L, "c1 control \u0085 inside"),
      (5L, "binary \u0001 junk \u001F here"))
      .toDF("doc_id", "text")
    val got = graft.ops.Curation.encodingAnomalies(fx).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).toMap
    assert(got(1L) == ((0L, 0L, 0L, 0L, false)))
    assert(got(2L) == ((2L, 0L, 0L, 0L, true)))
    // double-UTF8 signature twice; the continuation chars (U+00A9,
    // U+00A0) are NOT in the C1 block
    assert(got(3L) == ((0L, 0L, 2L, 0L, true)))
    assert(got(4L) == ((0L, 1L, 0L, 0L, true)))
    assert(got(5L) == ((0L, 0L, 0L, 2L, true)))
  }

  test("k-hop BFS: layered distances on a path, hop cap excludes the " +
      "tail, disconnected nodes absent, off-graph seed reports dist 0, " +
      "triangle takes the min") {
    val s2 = spark; import s2.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
      .toDF("src", "dst")
    val got = graft.ops.Graph.kHopDistances(
        path, Seq(1L, 100L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 100L -> 0),
      got.toString)
    // cycle: both neighbors of the seed are layer 1, never layer 2
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val gt = graft.ops.Graph.kHopDistances(
        tri, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gt == Map(1L -> 0, 2L -> 1, 3L -> 1), gt.toString)
  }

  test("join cardinality: prediction equals the real join's row count; " +
      "skew ranking and shares; one-sided keys excluded") {
    val s2 = spark; import s2.implicits._
    val left = Seq(1L, 1L, 1L, 2L, 9L).toDF("k")
    val right = Seq(1L, 1L, 2L, 2L, 2L, 7L).toDF("k2")
    val got = graft.ops.Profile.joinCardinality(left, right, "k", "k2")
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        r.getDecimal(4).longValueExact(), r.getLong(5),
        r.getDecimal(6).longValueExact(), r.getDouble(7))).toMap
    // key 1: 3*2 = 6 pairs; key 2: 1*3 = 3; keys 9/7 never join
    assert(got(1) == ((1L, 6L, 2L, 9L, 6.0 / 9.0)), got.toString)
    assert(got(2) == ((2L, 3L, 2L, 9L, 3.0 / 9.0)))
    // the estimate IS the real join size
    val real = left.join(right, col("k") === col("k2")).count()
    assert(real == 9L)
  }

  test("ndcg@k: hand-computed discounts, perfectly-ordered query " +
      "scores exactly 1, all-zero relevance is NULL, k filter applies") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      ("A", 1, 3L), ("A", 2, 1L), ("A", 3, 2L),
      ("B", 1, 5L), ("B", 2, 3L), ("B", 3, 1L),
      ("C", 1, 0L), ("C", 2, 0L),
      ("D", 1, 1L), ("D", 6, 99L)) // rk 6 must not leak into @5
      .toDF("query_id", "rk", "rel")
    val got = graft.ops.TextAnalysis.ndcgAtK(fx, 5).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val dcgA = 3.0 / log2(2) + 1.0 / log2(3) + 2.0 / log2(4)
    val idcgA = 3.0 / log2(2) + 2.0 / log2(3) + 1.0 / log2(4)
    assert(math.abs(got("A")._1 - dcgA) < 1e-12)
    assert(math.abs(got("A")._2 - idcgA) < 1e-12)
    // already ideally ordered -> identical fold -> exactly 1.0
    assert(got("B")._3.contains(1.0))
    assert(got("C")._3.isEmpty && got("C")._1 == 0.0)
    // only the rk<=5 row counts for D
    assert(got("D")._1 == 1.0 && got("D")._3.contains(1.0))
  }

  test("psi drift: reference scores exactly 0, hand-computed shift, " +
      "out-of-reference-bounds values clamp into edge bins") {
    val s2 = spark; import s2.implicits._
    val fx = (Seq(0L, 1L, 5L, 6L).map(("r", _)) ++
      Seq(0L, 1L, 2L, 7L).map(("c1", _)) ++
      Seq(100L, 101L).map(("c2", _))).toDF("g", "v")
    val got = graft.ops.Profile.psiDrift(fx, "g", "v", "r", bins = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        r.getDouble(2))).toMap
    def p(c: Double, n: Double) = (c + 0.5) / (n + 1.0)
    def term(c: Double, n: Double, rc: Double, rn: Double) =
      (p(c, n) - p(rc, rn)) * math.log(p(c, n) / p(rc, rn))
    assert(got("r") == ((4L, 0.0)))
    // ref bounds [0, 6]: bin = v*2 DIV 7 -> r bins (2,2); c1 (3,1)
    val psi1 = term(3, 4, 2, 4) + term(1, 4, 2, 4)
    assert(math.abs(got("c1")._2 - psi1) < 1e-12, got("c1").toString)
    // 100/101 both clamp to the top bin -> counts (0, 2)
    val psi2 = term(0, 2, 2, 4) + term(2, 2, 2, 4)
    assert(math.abs(got("c2")._2 - psi2) < 1e-12)
  }

  test("interval coverage: overlap counted once, disjoint sums, " +
      "nesting absorbed, touching intervals merge, empty dropped") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      ("overlap", 0L, 10L), ("overlap", 5L, 15L),
      ("disjoint", 0L, 5L), ("disjoint", 10L, 15L),
      ("nested", 0L, 100L), ("nested", 10L, 20L),
      ("touching", 0L, 5L), ("touching", 5L, 10L),
      ("hasempty", 0L, 4L), ("hasempty", 3L, 3L))
      .toDF("k", "s", "e")
    val got = graft.ops.AsOf.intervalCoverage(fx, "k", "s", "e")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got("overlap") == ((2L, 15L, 15L, 1.0)))
    assert(got("disjoint") == ((2L, 10L, 15L, 10.0 / 15.0)))
    assert(got("nested") == ((2L, 100L, 100L, 1.0)))
    assert(got("touching") == ((2L, 10L, 10L, 1.0)))
    // the zero-length interval contributes neither count nor time
    assert(got("hasempty") == ((1L, 4L, 4L, 1.0)))
  }

  test("interval coverage matches a brute-force union on seeded random " +
      "interval soups") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(42)
    val fx = (1 to 300).map { _ =>
      val k = s"k${rnd.nextInt(5)}"
      val s0 = rnd.nextInt(1000).toLong
      (k, s0, s0 + rnd.nextInt(50).toLong)
    }
    val got = graft.ops.AsOf.intervalCoverage(
        fx.toDF("k", "s", "e"), "k", "s", "e")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val expect = fx.filter(t => t._2 < t._3).groupBy(_._1).map {
      case (k, ivs) =>
        val covered = ivs.flatMap(t => t._2 until t._3).toSet.size.toLong
        k -> covered
    }
    assert(got == expect, s"got $got expect $expect")
  }

  test("exact quantiles match a sorted brute force on seeded random " +
      "per-key data at every requested q") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(7)
    val fx = (1 to 500).map(_ =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(40).toLong))
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val got = graft.ops.Profile.exactQuantiles(
        fx.toDF("k", "v"), "k", "v", qs)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    for ((k, vs0) <- fx.groupBy(_._1); q <- qs) {
      val vs = vs0.map(_._2).sorted
      val rank = math.max(1, math.ceil(q * vs.size - 1e-9).toLong).toInt
      assert(got((k, q)) == vs(rank - 1),
        s"key $k q $q: got ${got((k, q))}, want ${vs(rank - 1)}")
    }
  }

  test("hll overlap: identical groups score jaccard exactly 1, " +
      "disjoint groups near 0, subset recovers the small side") {
    val s2 = spark; import s2.implicits._
    val a = (1L to 600L).map(("a", _))
    val a2 = (1L to 600L).map(("a2", _)) // identical membership to a
    val b = (2001L to 2600L).map(("b", _)) // disjoint from a
    val c = (1L to 120L).map(("c", _)) // subset of a
    val fx = (a ++ a2 ++ b ++ c).toDF("g", "k")
    val got = graft.ops.Sketch.hllOverlap(fx, "g", "k", logBuckets = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    val (ea, _, eu, ei, j) = got(("a", "a2"))
    // identical registers: union == single, intersect == single, j == 1
    assert(eu == ea && ei == ea && j == 1.0, got(("a", "a2")).toString)
    // disjoint 600-vs-600: intersection estimate well below either side
    assert(got(("a", "b"))._5 < 0.25, got(("a", "b")).toString)
    // subset: intersection ~ |c|, within HLL error (~6.5% SE, 3 sigma
    // on two sketches)
    val interAC = got(("a", "c"))._4
    assert(interAC > 60 && interAC < 190, interAC.toString)
  }

  test("image dhash: gradient saturates all bits, constant is zero, " +
      "one-pixel edit moves one bit, banding finds exactly the near " +
      "pairs, junk is dropped") {
    val s2 = spark; import s2.implicits._
    def img(f: (Int, Int) => Int): Array[Byte] = {
      val header = "P6\n9 8\n255\n".getBytes("ISO-8859-1")
      val raster = new Array[Byte](9 * 8 * 3)
      for (y <- 0 until 8; x <- 0 until 9; c <- 0 until 3)
        raster((y * 9 + x) * 3 + c) = f(x, y).toByte
      header ++ raster
    }
    val grad = img((x, _) => x * 20)
    val const = img((_, _) => 0)
    // bump pixel (4,3) to 200: only the (x=4, y=3) comparison flips
    val nearGrad = img((x, y) => if (x == 4 && y == 3) 200 else x * 20)
    assert(graft.ops.Multimodal.dhashOne(grad).contains(-1L)) // all 64
    assert(graft.ops.Multimodal.dhashOne(const).contains(0L))
    assert(graft.ops.Multimodal.dhashOne("junk".getBytes).isEmpty)
    val media = Seq(1L -> grad, 2L -> grad, 3L -> nearGrad, 4L -> const,
      5L -> "junk".getBytes).toDF("doc_id", "media")
    val got = graft.ops.Multimodal.dhashPairs(media, maxHamming = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map((1L, 2L) -> 0, (1L, 3L) -> 1, (2L, 3L) -> 1),
      got.toString)
    // exact-dup mode: the single 64-bit band must mask with -1L (the
    // (1L << 64) wraparound regression), finding exactly the 0-pair
    val exact = graft.ops.Multimodal.dhashPairs(media, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)), exact.toString)
  }

  test("audio block features: silence is zero, alternation maxes zcr, " +
      "trailing partial block reports its own size, junk yields no rows") {
    val s2 = spark; import s2.implicits._
    val silence = Array.fill(64)(128)
    val alt = Array.tabulate(64)(i => if (i % 2 == 0) 129 else 127)
    val loudDc = Array.fill(22)(200)
    val pcm = (silence ++ alt ++ loudDc).map(_.toByte)
    val media = Seq(
      1L -> graft.ops.Multimodal.encodePcmWav(pcm, 8000),
      2L -> "not audio".getBytes).toDF("doc_id", "media")
    val got = graft.ops.Multimodal.audioBlockFeatures(media, 64)
      .collect().map(b => (b.doc_id, b.block) ->
        (b.n_samples, b.energy, b.zcr)).toMap
    assert(got == Map(
      (1L, 0) -> ((64, 0L, 0L)),
      (1L, 1) -> ((64, 64L, 63L)),
      (1L, 2) -> ((22, 22L * 72 * 72, 0L))), got.toString)
  }

  test("expectations: one pass evaluates every rule, NULLs violate, " +
      "tolerance gates pass/fail, plan has exactly one aggregate pass") {
    val s2 = spark; import s2.implicits._
    val fx = Seq((1, Some(5)), (2, Some(-1)), (3, None), (4, Some(9)))
      .toDF("id", "v")
    val df = graft.ops.Profile.expectations(fx, Seq(
      ("v_positive", "v > 0", 0.0),
      ("v_positive_tolerant", "v > 0", 0.5),
      ("id_small", "id < 100", 0.0)))
    // capture pre-execution (post-execution AQE appends the initial
    // plan again, double-counting nodes)
    val planStr = df.queryExecution.executedPlan.toString
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(4))).toMap
    // -1 violates, NULL violates
    assert(got("v_positive") == ((4L, 2L, false)), got.toString)
    assert(got("v_positive_tolerant") == ((4L, 2L, true)))
    assert(got("id_small") == ((4L, 0L, true)))
    // ONE scan feeds every rule - no per-rule pass over the corpus
    val scans = "(?i)tablescan|filescan".r.findAllIn(planStr).size
    assert(scans == 1, s"$scans scans")
  }

  test("calendar completeness: silent gap days emitted with zeros and " +
      "flagged; counts exact at the edges") {
    val s2 = spark; import s2.implicits._
    val us = 86400000000L
    val fx = Seq((100L * us + 5, 1L), (100L * us + 9, 2L),
      (100L * us + 10, 1L), (103L * us, 9L)).toDF("ts_us", "uid")
    val got = graft.ops.Profile
      .calendarCompleteness(fx, "ts_us", "uid")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      100L -> ((3L, 2L, false)),
      101L -> ((0L, 0L, true)),
      102L -> ((0L, 0L, true)),
      103L -> ((1L, 1L, false))), got.toString)
  }

  test("partial top-k per key equals the window form on any partitioning") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.expressions.Window
    def windowForm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .where(col("rk") <= 3)
      .select(col("source"), col("n_chars"), col("doc_id"), col("rk"))
    val expect = windowForm(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    // merge correctness must not depend on how rows land in partitions
    for (parts <- Seq(1, 7)) {
      val got = graft.ops.TopK.perKey(docs.repartition(parts),
          "source", "n_chars", "doc_id", 3)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
      assert(got == expect, s"parts=$parts")
    }
    // enumerable tie fixture: equal ord → smaller id wins, ranks stable
    val fx = Seq(("a", 5L, 1L), ("a", 5L, 2L), ("a", 9L, 3L), ("a", 1L, 4L),
      ("b", 2L, 5L)).toDF("k", "v", "id")
    val got = graft.ops.TopK.perKey(fx, "k", "v", "id", 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == Set(("a", 9L, 3L, 1), ("a", 5L, 1L, 2),
      ("b", 2L, 5L, 1)), got.toString)
  }

  test("remove duplicate spans drops exactly the flagged tokens") {
    val s2 = spark; import s2.implicits._
    val boiler = "copyright acme corp all rights reserved"  // 6 tokens
    val fx = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta iota"),
      (3L, "unique text with no repeats here at all"),
      (4L, "tiny"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(fx, k = 5).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3)))).toMap
    // the 6-token boilerplate (every 5-gram inside it repeats) vanishes
    // from both carriers; all other tokens survive in order
    assert(got(1L) == (("alpha beta gamma delta", 6L)), got(1L))
    assert(got(2L) == (("epsilon zeta eta theta iota", 6L)), got(2L))
    assert(got(3L) == (("unique text with no repeats here at all", 0L)))
    assert(got(4L) == (("tiny", 0L)))
  }

  test("url canonicalization is idempotent over adversarial inputs") {
    val s2 = spark; import s2.implicits._
    // combinatorial adversarial corpus: schemes × hosts × paths × queries
    // × fragments, including empty/pathological pieces
    val schemes = Seq("", "http://", "HTTP://", "https://WWW.",
      "ftp://www.www.")
    val hosts = Seq("", "Ex.com", "ex.com:80", "EX.com:443", "ex.com:8080",
      "www.ex.com")
    val paths = Seq("", "/", "/A/b", "/a/b/", "//x", "/a b")
    val queries = Seq("", "?", "?utm_a=1", "?b=2&a=1", "?a=1&utm_b=2&ref=x",
      "?x=1?y=2", "?&&")
    val frags = Seq("", "#f", "#a#b")
    val urls = for {
      s <- schemes; h <- hosts; p <- paths; q <- queries; f <- frags
    } yield s + h + p + q + f
    val in = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "href")
    val once = Curation.canonicalizeUrls(in)
      .select(col("doc_id"), col("canon_url").as("href"),
        col("canon_url"), col("host"))
    val c1 = once.select("doc_id", "canon_url", "host").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    val twice = Curation.canonicalizeUrls(
        once.select(col("doc_id"), col("href")))
      .select("doc_id", "canon_url", "host").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(c1.size == urls.size)
    c1.foreach { case (id, v) =>
      assert(twice(id) == v, s"not idempotent for ${urls(id.toInt)}: " +
        s"$v vs ${twice(id)}")
    }
    // totality: no nulls anywhere
    assert(c1.values.forall(v => v._1 != null && v._2 != null))
  }

  test("url canonicalization collapses spelling variants") {
    val s2 = spark; import s2.implicits._
    val cases = Seq(
      ("HTTP://WWW.Example.com:80/a/b/?utm_source=x&b=2&a=1#frag",
        "http://example.com/a/b?a=1&b=2", "example.com"),
      ("https://Example.com:443/Path", "https://example.com/Path",
        "example.com"),
      ("http://sub.example.com/", "http://sub.example.com",
        "sub.example.com"),
      ("http://example.com", "http://example.com", "example.com"),
      ("https://example.com/?fbclid=abc&gclid=x&ref=nav",
        "https://example.com", "example.com"),
      ("/Rel/Path/?ref=x", "/Rel/Path", ""),
      ("page.html?a=1", "page.html?a=1", ""),
      // cross-scheme ports are NOT default and must survive
      ("http://example.com:443/x", "http://example.com:443/x",
        "example.com:443"),
      ("https://example.com:80/x", "https://example.com:80/x",
        "example.com:80"),
      ("ftp://example.com:80/x", "ftp://example.com:80/x",
        "example.com:80"))
    val got = Curation.canonicalizeUrls(
        cases.zipWithIndex.map { case ((u, _, _), i) => (i.toLong, u) }
          .toDF("doc_id", "href"))
      .orderBy("doc_id")
      .collect().map(r => (r.getString(2), r.getString(3)))
    cases.zip(got).foreach { case ((in, canon, host), (gc, gh)) =>
      assert(gc == canon, s"$in → $gc, want $canon")
      assert(gh == host, s"$in host → $gh, want $host")
    }
  }

  test("sparse cosine pairs: exact on a hand-checkable fixture") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (0L, "a b c d e f"),   // shares shingles "a b c".."c d e" with 1
      (1L, "a b c d e g"),
      (2L, "x y z w v u"),   // identical to 3
      (3L, "x y z w v u"),
      (4L, "p q r s t u")    // disjoint shingles from everyone
    ).toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosinePairs(fix, minCos = 0.1, maxDf = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // identical docs: unit vectors coincide -> cosine exactly ~1
    val (cosId, nId) = got((2L, 3L))
    assert(math.abs(cosId - 1.0) < 1e-12, s"identical pair cos $cosId")
    assert(nId == 4L) // 4 shingles in a 6-token doc
    // near-dup: 3 of 4 shingles shared, each side has 1 private — the
    // shared ones have df=2, private df=1, so cos is strictly in (0, 1)
    val (cosNd, nNd) = got((0L, 1L))
    assert(nNd == 3L, s"shared shingles $nNd")
    assert(cosNd > 0.5 && cosNd < 1.0, s"near-dup cos $cosNd")
    // no other pair shares any surviving shingle
    assert(got.keySet == Set((0L, 1L), (2L, 3L)), got.keySet.toString)
    // brute-force cross-check of the near-dup cosine: each doc has 4
    // shingles tf=1; shared have df=2, private df=1, N=5
    def idf(df: Int) = math.log(6.0 / (1.0 + df)) + 1.0
    val shared = idf(2); val priv = idf(1)
    val nrm = math.sqrt(3 * shared * shared + priv * priv)
    val want = 3 * shared * shared / (nrm * nrm)
    assert(math.abs(cosNd - want) < 1e-12, s"$cosNd vs brute-force $want")
  }

  test("sparse cosine pairs: the df cap prunes ubiquitous shingles") {
    val s2 = spark; import s2.implicits._
    // every doc starts with the same 3 tokens: that shingle has df=4
    val fix = Seq(
      (0L, "s s s a b c"), (1L, "s s s a b d"),
      (2L, "s s s x y z"), (3L, "s s s x y w")
    ).toDF("doc_id", "text")
    val capped = TextAnalysis.sparseCosinePairs(fix, 0.05, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // with "s s s" (df=4) pruned, only genuinely-similar pairs remain
    assert(capped == Set((0L, 1L), (2L, 3L)), capped.toString)
    val uncapped = TextAnalysis.sparseCosinePairs(fix, 0.05, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // without the cap every pair shares the ubiquitous prefix shingles
    assert(uncapped.size == 6, uncapped.toString)
    intercept[IllegalArgumentException](
      TextAnalysis.sparseCosinePairs(fix, 0.0, 3))
  }

  test("co-citation counts docs citing both nodes, dups collapse") {
    val s2 = spark; import s2.implicits._
    val cites = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "b"), // duplicate citation collapses
      (3L, "a"), (3L, ""),             // empty node dropped
      (4L, "c")                        // lone citation: no pair
    ).toDF("doc", "node")
    val got = Graph.coCitation(cites, "doc", "node")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L),
      got.toString)
  }

  test("decayed sum: hand-checkable weights and anchor override") {
    val s2 = spark; import s2.implicits._
    val hl = 100L
    val ev = Seq(
      (1L, 1000L, 4.0, 1L),  // at anchor: weight 1
      (1L, 900L, 8.0, 2L),   // one half-life old: weight 0.5
      (2L, 800L, 16.0, 3L)   // two half-lives old: weight 0.25
    ).toDF("user_id", "ts_us", "value", "event_id")
    val got = Decay.decayedSum(ev, "user_id", Seq("ts_us", "event_id"),
        "ts_us", "value", halfLifeUs = hl, bucketUs = 50L)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(math.abs(got(1L)._1 - (4.0 + 8.0 * 0.5)) < 1e-12, got.toString)
    assert(math.abs(got(2L)._1 - 16.0 * 0.25) < 1e-12, got.toString)
    assert(got(1L)._2 == 2L && got(2L)._2 == 1L)
    // explicit anchor shifts every weight by the same factor
    val anchored = Decay.decayedSum(ev, "user_id", Seq("ts_us", "event_id"),
        "ts_us", "value", hl, 50L, anchorUs = Some(1100L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(anchored(1L) - (4.0 + 8.0 * 0.5) * 0.5) < 1e-12)
    // bucket width must not change the answer beyond float reassociation
    val wide = Decay.decayedSum(ev, "user_id", Seq("ts_us", "event_id"),
        "ts_us", "value", hl, 1000000L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (k, (v, _)) =>
      assert(math.abs(wide(k) - v) < 1e-9, s"bucketing changed $k")
    }
  }

  test("cluster topics rank each cluster's distinctive terms first") {
    val s2 = spark; import s2.implicits._
    // two obvious clusters in 2-d: ids 0,2 near (1,0); ids 1,3 near (0,1)
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val d = Seq(
      (0L, "common alpha alpha"), (2L, "common alpha beta"),
      (1L, "common zeta zeta"), (3L, "common zeta eta")
    ).toDF("doc_id", "text")
    val top = Similarity.clusterTopics(e, d, nlist = 2, topK = 1)
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    // "common" appears everywhere -> damped; each cluster's own term wins
    assert(top == Map(0 -> "alpha", 1 -> "zeta"), top.toString)
    // scores are positive and tf is the pooled per-cluster count
    val all = Similarity.clusterTopics(e, d, 2, 10).collect()
    assert(all.forall(_.getDouble(4) > 0))
    val alphaTf = all.find(r => r.getInt(0) == 0 && r.getString(2) == "alpha")
      .get.getLong(3)
    assert(alphaTf == 3L, s"pooled tf $alphaTf")
  }

  test("gap-fill LOCF: spine, carry-forward, and in-bucket last") {
    val s2 = spark; import s2.implicits._
    val step = 10L
    val ev = Seq(
      // user 1: buckets 1 and 4 observed; 2-3 carried from bucket 1;
      // bucket 1 has TWO events — (ts,id) max picks value 5.0
      (1L, 11L, 1L, 3.0), (1L, 15L, 2L, 5.0), (1L, 42L, 3L, 7.0),
      // user 2: single observation -> single-row spine
      (2L, 100L, 4L, 9.0)
    ).toDF("user_id", "ts_us", "event_id", "value")
    val got = AsOf.gapFillLocf(ev, "user_id", Seq("ts_us", "event_id"),
        "ts_us", "value", step)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    assert(got == Map(
      (1L, 1L) -> ((5.0, 1)), (1L, 2L) -> ((5.0, 0)),
      (1L, 3L) -> ((5.0, 0)), (1L, 4L) -> ((7.0, 1)),
      (2L, 10L) -> ((9.0, 1))), got.toString)
  }

  test("pseudonymization is consistent, substring-safe, and total") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (1L, "mail a@b.com and xa@b.com plus a@b.com again"),
      (2L, "other doc, same address a@b.com here"),
      (3L, "no pii at all")
    ).toDF("doc_id", "text")
    val got = Curation.pseudonymize(fix)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("pseudo"), r.getAs[Int]("n_matches"),
          r.getAs[Int]("n_distinct"))).toMap
    val (p1, m1, d1) = got(1L)
    assert(m1 == 3 && d1 == 2, s"counts $m1/$d1")
    // no raw address survives; the longer address was not corrupted by
    // the shorter one's replacement
    assert(!p1.contains("a@b.com"), p1)
    val toks = "<EMAIL_[0-9a-f]{8}>".r.findAllIn(p1).toSeq
    assert(toks.size == 3 && toks.distinct.size == 2, toks.toString)
    // cross-document consistency: doc 2's token for a@b.com equals one
    // of doc 1's tokens (the one that appears twice)
    val (p2, _, _) = got(2L)
    val tok2 = "<EMAIL_[0-9a-f]{8}>".r.findAllIn(p2).toSeq
    assert(tok2.size == 1)
    assert(toks.count(_ == tok2.head) == 2, s"$toks vs $tok2")
    // untouched doc passes through with zero counts
    assert(got(3L) == (("no pii at all", 0, 0)))
  }

  test("FD profile: violations are the g3 repair count") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "de"),   // majority en, 1 repair
      ("s2", "fr"), ("s2", "fr"),                  // FD holds
      ("s3", "a"), ("s3", "b")                     // tie -> smallest wins
    ).toDF("source", "lang")
    val got = graft.ops.Profile.fdProfile(fix, Seq("source"), "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(5))).toMap
    assert(got("s1") == ((3L, 2L, "en", 1L)), got.toString)
    assert(got("s2") == ((2L, 1L, "fr", 0L)), got.toString)
    assert(got("s3") == ((2L, 2L, "a", 1L)), got.toString)
    intercept[IllegalArgumentException](
      graft.ops.Profile.fdProfile(fix, Seq("lang"), "lang"))
  }

  test("heavy hitters: exact counts, exactly the > phi*n set") {
    val s2 = spark; import s2.implicits._
    // Zipf-ish: 40 'a', 25 'b', 10 'c', then 25 singletons; n = 100
    val vals = (Seq.fill(40)("a") ++ Seq.fill(25)("b") ++
      Seq.fill(10)("c") ++ (1 to 25).map(i => s"x$i"))
    // spread across many partitions so merges actually happen
    val df = s2.sparkContext.parallelize(vals, 16).toDF("term")
    val got = Sketch.heavyHitters(df, "term", phi = 0.2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 40L, "b" -> 25L), got.toString)
    // tighter threshold picks up 'c'; a phi above every frequency
    // returns nothing
    val loose = Sketch.heavyHitters(df, "term", 0.05)
      .collect().map(_.getString(0)).toSet
    assert(loose == Set("a", "b", "c"), loose.toString)
    assert(Sketch.heavyHitters(df, "term", 0.5).collect().isEmpty)
    intercept[IllegalArgumentException](Sketch.heavyHitters(df, "term", 0.0))
  }

  test("key candidates: uniqueness, composites, and null semantics") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("b")),
      (Some(2L), Some("a")), (Some(3L), None: Option[String])
    ).toDF("k", "v")
    val got = graft.ops.Profile.keyCandidates(fix,
        Seq(Seq("k"), Seq("k", "v"), Seq("v")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got("k") == ((4L, 3L, 0L, 0)), got.toString)     // dup k=1
    assert(got("k+v") == ((4L, 3L, 1L, 0)), got.toString)   // null row
    assert(got("v") == ((4L, 2L, 1L, 0)), got.toString)
    // a genuine key profiles as one
    val keyed = graft.ops.Profile.keyCandidates(
      Seq((1L, "x"), (2L, "y")).toDF("k", "v"), Seq(Seq("k")))
      .collect().head
    assert(keyed.getInt(4) == 1)
  }

  test("corr matrix: exact ±1 on linear columns, NULL on zero variance") {
    val s2 = spark; import s2.implicits._
    val fix = (1L to 100L).map(i => (i, 2 * i + 7, -3 * i, 5L))
      .toDF("x", "y", "z", "c")
    val got = graft.ops.Profile.corrMatrix(fix, Seq("x", "y", "z", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getAs[java.lang.Double]("corr"))).toMap
    assert(got(("x", "y")).exists(v => math.abs(v - 1.0) < 1e-12))
    assert(got(("x", "z")).exists(v => math.abs(v + 1.0) < 1e-12))
    assert(got(("y", "z")).exists(v => math.abs(v + 1.0) < 1e-12))
    // constant column: zero variance -> NULL, never NaN
    assert(got(("x", "c")).isEmpty && got(("y", "c")).isEmpty)
    intercept[IllegalArgumentException](
      graft.ops.Profile.corrMatrix(fix, Seq("x")))
  }

  test("k-centers: greedy farthest-point on an enumerable layout") {
    val s2 = spark; import s2.implicits._
    // four corners of a rectangle + a point near the seed corner
    val fix = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)),
      (2L, Array(0f, 4f)), (3L, Array(10f, 4f)),
      (4L, Array(1f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenters(fix, 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // seed = min id (0,0); farthest = (10,4) d2=116; then (10,0) is
    // d2=16 from (10,4) / 100 from (0,0) -> min 16, while (0,4) has
    // min 16 too -> tie broken by id: vec_id 1 before 2; then (0,4)
    assert(got.map(_._2).toSeq == Seq(0L, 3L, 1L, 2L), got.mkString(","))
    assert(got(0)._3 == 0.0 && math.abs(got(1)._3 - 116.0) < 1e-9)
    assert(math.abs(got(2)._3 - 16.0) < 1e-9)
    // cover radius is non-increasing after the seed
    val ds = got.drop(1).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, ds.toString)
    // k past the corpus size returns every point, not an error
    val allOf = Similarity.kCenters(fix, 10).collect()
    assert(allOf.length == 5, allOf.length.toString)
  }

  test("batched k-centers equals sequential selection exactly") {
    val s2 = spark; import s2.implicits._
    // plain-Scala farthest-point traversal: seed = min id, then the point
    // with the largest min-d2 to the chosen set (ties to the smallest id),
    // each d2 the operator's (n2 + c_n2) - 2·dot in doubles, index order
    def dotD(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def farthestPoint(pts: Seq[(Long, Array[Float])],
        k: Int): Seq[(Int, Long, Double)] = {
      val seed = pts.minBy(_._1)
      var chosen = Vector((seed._1, seed._2, 0.0))
      var rest = pts.filterNot(_._1 == seed._1)
      while (chosen.length < k && rest.nonEmpty) {
        val (id, e, d2) = rest.map { case (id, e) =>
          (id, e, chosen.map { case (_, c, _) =>
            dotD(e, e) + dotD(c, c) - 2.0 * dotD(e, c) }.min)
        }.minBy { case (id, _, d2) => (-d2, id) }
        chosen :+= ((id, e, d2))
        rest = rest.filterNot(_._1 == id)
      }
      chosen.zipWithIndex.map { case ((id, _, d2), i) => (i + 1, id, d2) }
    }
    def check(pts: Seq[(Long, Array[Float])], k: Int,
        batches: Seq[Int]): Unit = {
      val expect = farthestPoint(pts, k)
      val fix = pts.toDF("vec_id", "embedding")
      for (b <- batches) {
        val got = Similarity.kCenters(fix, k, batch = b).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(got == expect, s"k=$k batch=$b\nexpect=$expect\ngot=$got")
      }
    }
    // 40 deterministic pseudo-random-ish 3d points (integer lattice
    // scramble, no RNG)
    check((0 until 40).map { i =>
      (i.toLong, Array(((i * 37) % 19).toFloat,
        ((i * 53) % 23).toFloat, ((i * 71) % 17).toFloat))
    }, 9, Seq(1, 3, 8, 64))
    // the tie-heavy rectangle fixture: the threshold rule must survive
    // ties by falling back to a new pass
    val rect = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 0f)),
      (2L, Array(0f, 4f)), (3L, Array(10f, 4f)),
      (4L, Array(1f, 0f)))
    check(rect, 5, Seq(1, 3, 8, 64))
    // a batch whose threshold T ties an outside point: batch 3 collects
    // 1 (d2 64), 9 (41) and 2 (25, beating 3 on id), so T = 25; after 1
    // is chosen, 9 falls to exactly 25 and 2 to 9, while 3 (outside the
    // batch) stays at 25 and wins the id tie-break — accepting 9 at
    // score == T would pick the wrong center
    check(Seq((0L, Array(0f, 0f)), (1L, Array(8f, 0f)),
      (2L, Array(5f, 0f)), (3L, Array(0f, 5f)), (9L, Array(5f, 4f))),
      5, Seq(1, 3, 8, 64))
    // k past the corpus size returns every point, not an error
    check(rect, 10, Seq(1, 4))
    assert(Similarity.kCenters(rect.toDF("vec_id", "embedding"), 10,
      batch = 4).count() == 5)
  }

  test("group trend: exact slope/intercept and degenerate-x NULL") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (1L, 0L, 10L), (1L, 1L, 13L), (1L, 2L, 16L),  // y = 3x + 10
      (2L, 5L, 7L), (2L, 5L, 9L)                     // constant x
    ).toDF("k", "x", "y")
    val got = graft.ops.Profile.groupTrend(fix, "k", "x", "y")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Double]("slope")),
          Option(r.getAs[java.lang.Double]("intercept")))).toMap
    assert(got(1L)._1.exists(v => math.abs(v - 3.0) < 1e-12))
    assert(got(1L)._2.exists(v => math.abs(v - 10.0) < 1e-12))
    assert(got(2L) == ((None, None)), got.toString)
  }

  test("triangles: K4 plus a pendant path, dup/reversed edges collapse") {
    val s2 = spark; import s2.implicits._
    // K4 on 1-4 (4 triangles, 3 per node) + path 4-5-6 (no triangles);
    // edges arrive duplicated and in both orientations
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L),          // reversed dups
      (4L, 5L), (5L, 6L), (5L, 5L) // pendant path + self-loop
    ).toDF("src", "dst")
    val got = Graph.triangles(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for (n <- 1L to 3L) assert(got(n) == ((3L, 3L, 1.0)), got.toString)
    assert(got(4L) == ((4L, 3L, 0.5)), got.toString) // deg 4: +edge to 5
    assert(got(5L) == ((2L, 0L, 0.0)), got.toString)
    assert(!got.contains(6L)) // deg 1 excluded
  }

  test("label noise: a planted mislabel scores 1.0, clean points 0.0") {
    val s2 = spark; import s2.implicits._
    // two tight clusters; vec 3 sits in cluster A but carries label 1
    val fix = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Array(0.95f, 0.05f, 0f, 0f), 0),
      (3L, Array(0.92f, 0.08f, 0f, 0f), 1), // mislabel
      (4L, Array(0f, 0f, 1f, 0f), 1), (5L, Array(0f, 0f, 0.9f, 0.1f), 1),
      (6L, Array(0f, 0f, 0.95f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseScores(fix, nlist = 2, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(got(3L) == 1.0, got.toString)
    assert(Seq(0L, 1L, 2L).forall(got(_) > 0.0), got.toString) // 3 pollutes
    assert(Seq(4L, 5L, 6L).forall(got(_) == 0.0), got.toString)
  }

  test("mutual information: dependence extremes and entropy identities") {
    val s2 = spark; import s2.implicits._
    def mi(rows: Seq[(String, String)]) =
      graft.ops.Profile.mutualInformation(rows.toDF("a", "b"), "a", "b")
        .collect().head
    // perfect dependence (y = f(x), balanced): mi = hx = hy, nmi = 1
    val dep = mi(Seq(("p", "1"), ("p", "1"), ("q", "2"), ("q", "2")))
    assert(math.abs(dep.getDouble(1) - math.log(2)) < 1e-12)
    assert(math.abs(dep.getDouble(1) - dep.getDouble(2)) < 1e-12)
    assert(math.abs(dep.getDouble(4) - 1.0) < 1e-12)
    // exact independence (product distribution): mi = 0
    val ind = mi(for { a <- Seq("p", "q"); b <- Seq("1", "2") } yield (a, b))
    assert(math.abs(ind.getDouble(1)) < 1e-12, ind.toString)
    // constant column: zero entropy -> nmi NULL
    val const = mi(Seq(("p", "1"), ("p", "2")))
    assert(const.isNullAt(4), const.toString)
  }

  test("purged time folds: widths, assignment, and embargo flags") {
    val s2 = spark; import s2.implicits._
    val fix = (0L to 99L).map(t => (t, t)).toDF("id", "ts_us")
    val got = Sampling.purgedTimeFolds(fix, "ts_us", 5, embargoUs = 3L)
      .collect().map(r => r.getAs[Long]("ts_us") ->
        (r.getAs[Int]("fold"), r.getAs[Int]("near_boundary"))).toMap
    // width = (99 + 5) div 5 = 20
    assert(got(0L) == ((0, 1)) && got(19L) == ((0, 1)), got(0L).toString)
    assert(got(3L) == ((0, 0)) && got(16L) == ((0, 0)))
    assert(got(17L) == ((0, 1))) // 20 - 17 = 3 <= embargo
    assert(got(20L) == ((1, 1)) && got(99L) == ((4, 1)))
    assert(got(50L) == ((2, 0)))
    // every fold 0..4 appears
    assert(got.values.map(_._1).toSet == Set(0, 1, 2, 3, 4))
    intercept[IllegalArgumentException](
      Sampling.purgedTimeFolds(fix, "ts_us", 1, 0L))
  }

  test("expanding z-scores: leak-free baseline and zero-variance NULL") {
    val s2 = spark; import s2.implicits._
    val ev = (Seq(1L, 2L, 3L, 4L, 5L, 100L).zipWithIndex.map {
        case (v, i) => (1L, i.toLong, v) } ++
      Seq.fill(5)(7L).zipWithIndex.map { case (v, i) => (2L, i.toLong, v) }
        :+ ((2L, 5L, 9L)))
      .toDF("k", "t", "v")
    val got = graft.ops.Profile.expandingZScores(ev, "k", Seq("t"), "v",
        minPrior = 5)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("t")) ->
        Option(r.getAs[java.lang.Double]("z"))).toMap
    // key 1: only t=5 has 5 priors [1..5]: mean 3, sample sd sqrt(2.5)
    assert(got.keySet == Set((1L, 5L), (2L, 5L)), got.toString)
    val want = (100.0 - 3.0) / math.sqrt(2.5)
    assert(got((1L, 5L)).exists(z => math.abs(z - want) < 1e-9),
      s"${got((1L, 5L))} vs $want")
    // key 2: constant history -> zero variance -> NULL, not NaN
    assert(got((2L, 5L)).isEmpty, got.toString)
  }

  test("robust stats: exact lower median, MAD, and outlier counts") {
    val s2 = spark; import s2.implicits._
    val fix = (Seq(1L, 2L, 3L, 4L, 1000L).map(v => (1L, v)) ++
      Seq(7L, 7L, 7L, 99L).map(v => (2L, v))).toDF("k", "v")
    val got = graft.ops.Profile.robustStats(fix, "k", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // key 1: median = 3rd of [1,2,3,4,1000] = 3; devs [2,1,0,1,997]
    // sorted [0,1,1,2,997] -> MAD = 1; outliers: 997 > 5 -> one
    assert(got(1L) == ((5L, 3L, 1L, 1L)), got.toString)
    // key 2: lower median of [7,7,7,99] = 7 (rank 2); devs [0,0,0,92]
    // -> MAD = 0; zero MAD degrades to "any deviation": 92 > 0 -> one
    assert(got(2L) == ((4L, 7L, 0L, 1L)), got.toString)
  }

  test("naive Bayes: separable classes self-classify; floors cover " +
      "zero-overlap pairs") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (1L, "apple banana apple", "fruit"),
      (2L, "banana apple banana", "fruit"),
      (3L, "bolt nut bolt", "tool"),
      (4L, "nut bolt nut", "tool")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.naiveBayes(fix, "source")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getDouble(3))).toMap
    assert(got.size == 4)
    // fruit docs share ZERO terms with the tool model and vice versa —
    // the all-floor branch must still score and pick correctly
    got.foreach { case (id, (actual, pred, score)) =>
      assert(actual == pred, s"doc $id: $actual vs $pred")
      assert(!score.isNaN && score < 0.0)
    }
    // hand-check doc 1's winning score: prior ln(2/4) + Laplace terms
    // over n_c = 6 fruit tokens, V = 4 vocab: apple tf2 (n=3), banana
    // tf1 (n=3)
    val want = math.log(2.0 / 4) + 3 * math.log((3 + 1.0) / (6 + 4))
    assert(math.abs(got(1L)._3 - want) < 1e-12, s"${got(1L)._3} vs $want")
  }

  test("chi-square terms: hand-computed 2x2 and class exclusivity") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (1L, "x common", "p"), (2L, "x common", "p"),
      (3L, "y common", "q"), (4L, "y common", "q")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.chiSquareTerms(fix, "source", k = 2)
      .collect().map(r => (r.getString(0), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    // term x in class p: A=2 B=0 C=0 D=2 -> chi2 = 4*16/16 = 4 (perfect)
    assert(got(("p", "x")) == ((2L, 4.0)), got.toString)
    assert(got(("q", "y")) == ((2L, 4.0)), got.toString)
    // 'common' appears everywhere: A=2 B=2 C=0 D=0 -> a zero margin ->
    // the guard scores it 0, never NaN
    assert(got(("p", "common"))._2 == 0.0, got.toString)
  }

  test("pareto profile: shares, ordering, and cumulative monotonicity") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(("a", 60L), ("a", 20L), ("b", 15L), ("c", 5L))
      .toDF("k", "v")
    val got = graft.ops.Profile.paretoProfile(fix, "k", "v")
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, "a", 80L), (2L, "b", 15L), (3L, "c", 5L)), got.mkString(","))
    assert(math.abs(got(0)._4 - 0.80) < 1e-12)
    assert(math.abs(got(1)._5 - 0.95) < 1e-12)
    assert(math.abs(got(2)._5 - 1.0) < 1e-12)
  }

  test("bucketed pareto equals the single-window form, ties included") {
    val s2 = spark; import s2.implicits._
    // deterministic mixed fixture: spread totals AND heavy exact ties
    // (every tie group must stay rank-adjacent across bucket borders),
    // plus a few repeated keys so n_rows and totals aggregate
    val rows = (1 to 200).map(i => (s"k$i", ((i * 37) % 13).toLong * 10 + 1)) ++
      Seq(("k3", 40L), ("k3", 9L), ("k150", 500L))
    // the single-window form in plain Scala: sort by (total desc, key
    // asc), number the rows, keep a running sum, divide once at the end
    val per = rows.groupBy(_._1).toSeq
      .map { case (k, vs) => (k, vs.length.toLong, vs.map(_._2).sum) }
      .sortBy { case (k, _, t) => (-t, k) }
    val grand = per.map(_._3).sum
    val cums = per.scanLeft(0L)(_ + _._3).tail
    val expect = per.zip(cums).zipWithIndex.map {
      case (((k, n, t), cum), i) =>
        (i + 1L, k, n, t, t.toDouble / grand, cum.toDouble / grand)
    }
    val fix = rows.toDF("k", "v")
    for (b <- Seq(1, 7, 64)) {
      val got = graft.ops.Profile.paretoProfile(fix, "k", "v", b)
        .orderBy("rk").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toSeq
      assert(got == expect, s"buckets=$b diverged\ngot=$got")
    }
  }

  test("minhash-verified pairs: a subset of candidates, exact distances") {
    val cand = Dedup.minhashCandidates(docs, 3, 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashVerifiedPairs(docs, 3, 8, 2, maxDist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(verified.nonEmpty, "planted near-dups should verify")
    assert(verified.keySet.subsetOf(cand), "verify must not invent pairs")
    assert(verified.values.forall(d => d >= 0 && d <= 50))
    // spot-check one distance against a reference DP implementation
    val ((i1, i2), d) = verified.head
    val texts = docs.where(col("doc_id").isin(i1, i2))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      var row = prev
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1); cur(0) = i
        for (j <- 1 to b.length) {
          val sub = row(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(row(j) + 1, cur(j - 1) + 1), sub)
        }
        row = cur
      }
      row(b.length)
    }
    val full = lev(texts(i1), texts(i2))
    assert(full == d, s"banded $d vs full $full")
  }

  test("CUSUM: sustained shift accumulates, isolated spike resets") {
    val s2 = spark; import s2.implicits._
    // key 1: level 10 then a sustained run at 13 -> devs vs median 10:
    // walk over [0,0,0,3,3,3] peaks at 9
    // key 2: same median with ONE spike of +9 -> peak is the spike only
    val ev = (Seq(10L, 10L, 10L, 13L, 13L, 13L).zipWithIndex.map {
        case (v, i) => (1L, i.toLong, v) } ++
      Seq(10L, 10L, 19L, 10L, 10L, 10L).zipWithIndex.map {
        case (v, i) => (2L, i.toLong, v) })
      .toDF("k", "t", "v")
    val got = graft.ops.Profile.cusumScores(ev, "k", Seq("t"), "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((6L, 10L, 9L)), got.toString)
    assert(got(2L) == ((6L, 10L, 9L)), got.toString)
    // slack suppresses the small sustained shift but not the spike
    val slacked = graft.ops.Profile.cusumScores(ev, "k", Seq("t"), "v",
        slack = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(slacked(1L) == 0L, slacked.toString)   // devs 3-4 < 0 clamp
    assert(slacked(2L) == 5L, slacked.toString)   // 19-10-4
  }

  test("delta dedup classifies exact, near, and new against a corpus") {
    val s2 = spark; import s2.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "and keeps running through the quiet green field"
    val corpus = Seq((1L, base),
      (2L, "completely different text about spark physical plans and " +
        "shuffle boundaries in distributed aggregation pipelines"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, base),                    // byte-identical -> exact_dup of 1
      (11L, base + " xx"),            // 3 edits -> near_dup of 1
      (12L, "unrelated content entirely new words nothing shared " +
        "with anything stored before today at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.deltaDedup(corpus, delta, n = 3, numHashes = 8,
        rowsPerBand = 2, maxDist = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(10L) == ("exact_dup", 1L), got.toString)
    assert(got(11L) == ("near_dup", 1L), got.toString)
    assert(got(12L) == ("new", -1L), got.toString)
  }

  test("multi-touch attribution: U-shaped credits sum to 1 per conversion") {
    val s2 = spark; import s2.implicits._
    // user 1: 4 touches (credits .4/.1/.1/.4); user 2: 1 touch; user 3:
    // 2 touches (.5/.5); user 4: touch OUTSIDE the horizon -> no rows
    val ev = Seq(
      (101L, 1L, "click", 1000L), (102L, 1L, "click", 2000L),
      (103L, 1L, "click", 3000L), (104L, 1L, "click", 4000L),
      (105L, 1L, "purchase", 5000L),
      (201L, 2L, "click", 1000L), (202L, 2L, "purchase", 1500L),
      (301L, 3L, "click", 1000L), (302L, 3L, "click", 2000L),
      (303L, 3L, "purchase", 2500L),
      (401L, 4L, "click", 0L), (402L, 4L, "purchase", 999999L))
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("value", lit(10.0))
    val got = Funnel.multiTouchAttribution(ev, "user_id", "event_id",
      "ts_us", "event_type", "value", "purchase", "click",
      horizonUs = 10000L)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getInt(3), r.getDouble(5))).toMap
    val mid = (1.0 - 0.4 - 0.4) / 2 // exact IEEE, 0.09999999999999998
    assert(rows((105L, 101L)) == (1, 0.4), rows.toString)
    assert(rows((105L, 102L)) == (2, mid), rows.toString)
    assert(rows((105L, 103L)) == (3, mid), rows.toString)
    assert(rows((105L, 104L)) == (4, 0.4), rows.toString)
    assert(rows((202L, 201L)) == (1, 1.0), rows.toString)
    assert(rows((303L, 301L)) == (1, 0.5), rows.toString)
    assert(rows((303L, 302L)) == (2, 0.5), rows.toString)
    assert(!rows.keySet.exists(_._1 == 402L), "outside horizon")
    // credits sum to 1 per conversion
    val sums = got.groupBy("conv_id").agg(sum("credit").as("s"))
      .collect().map(r => r.getDouble(1))
    assert(sums.forall(v => math.abs(v - 1.0) < 1e-12), sums.mkString(","))
  }

  test("seasonal profile: exact epoch cells, factors around the mean") {
    val s2 = spark; import s2.implicits._
    val h = 3600000000L; val day = 24 * h
    // epoch 0 is Thursday -> dow (0+4)%7 = 4; +4 days -> Monday (dow 1)
    val ev = Seq(
      (0L, 10.0), (h, 20.0),          // Thu 00:00 (10), Thu 01:00 (20)
      (4 * day + 5 * h, 40.0),        // Mon 05:00
      (4 * day + 5 * h + 60L, 50.0))  // same Mon 05:00 cell
      .toDF("ts_us", "value")
    val got = graft.ops.Profile.seasonalProfile(ev, "ts_us", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == Set((4L, 0L), (4L, 1L), (1L, 5L)), got.toString)
    assert(got((4L, 0L)) == (1L, 10.0, 10.0 / 30.0), got.toString)
    assert(got((1L, 5L))._1 == 2L && got((1L, 5L))._2 == 45.0)
    // global mean = 120/4 = 30; factor of the Monday cell = 45/30
    assert(math.abs(got((1L, 5L))._3 - 1.5) < 1e-12)
  }

  test("session PMI: co-occurring types score above independent ones") {
    val s2 = spark; import s2.implicits._
    val gap = 1000L
    // user 1: two sessions each containing {A, B}; user 2: one {C}
    val ev = Seq(
      (1L, 1L, "A", 0L), (2L, 1L, "B", 10L),
      (3L, 1L, "A", 50000L), (4L, 1L, "B", 50010L),
      (5L, 2L, "C", 0L))
      .toDF("event_id", "user_id", "event_type", "ts_us")
    val got = Funnel.sessionCooccurrence(ev, "user_id", "event_id",
        "ts_us", "event_type", gap)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // S=3 sessions, n_A=n_B=2, n_AB=2 -> pmi = ln(2*3/4) = ln(1.5)
    assert(got.keySet == Set(("A", "B")), got.toString)
    assert(got(("A", "B"))._1 == 2L)
    assert(math.abs(got(("A", "B"))._2 - math.log(1.5)) < 1e-12)
  }

  test("cross-doc overlap: shared grams flag, unique docs score 0") {
    val s2 = spark; import s2.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val fix = Seq(
      (1L, shared + " zeta"),       // grams: [a..e], [b..z] -> 1 shared
      (2L, shared + " omega"),      // grams: [a..e], [b..o] -> 1 shared
      (3L, "one two three four five six"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.crossDocNgramOverlap(fix, n = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == (2L, 1L, 0.5), got.toString)
    assert(got(2L) == (2L, 1L, 0.5), got.toString)
    assert(got(3L) == (2L, 0L, 0.0), got.toString)
  }

  test("burstiness: metronomic < poissonish < bursty, zeros counted") {
    val s2 = spark; import s2.implicits._
    val w = 100L
    // key 1: one event per bucket across 4 buckets -> fano 0
    // key 2: 4 events in bucket 0, silence, 4 in bucket 3 -> fano > 1
    val ev = (0 until 4).map(i => (1L, i * w + 5)) ++
      (0 until 4).map(i => (2L, 5L + i)) ++
      (0 until 4).map(i => (2L, 3 * w + 5L + i))
    val got = graft.ops.Profile.burstiness(
        ev.toDF("user_id", "ts_us"), "user_id", "ts_us", w)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == (4L, 4L, 1.0, 0.0), got.toString)
    // key 2: counts (4,0,0,4) over 4 buckets: mean 2, var = 32/4-4 = 4,
    // fano = 2 — empty buckets MUST count (observed-only would give 0)
    assert(got(2L) == (8L, 4L, 2.0, 2.0), got.toString)
  }

  test("stats drift flags planted null-rate and mean shifts") {
    val s2 = spark; import s2.implicits._
    val before = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("a")),
      (4L, Some("c"))).toDF("k", "s")
    val after = Seq((11L, Some("a")), (12L, None), (13L, None),
      (14L, Some("a"))).toDF("k", "s")
    val got = graft.ops.Profile.statsDrift(before, after, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = got("k")
    assert(k.getDouble(7) == 2.5 && k.getDouble(8) == 12.5) // means
    assert(k.getDouble(10) == 10.0)                         // mean delta
    val sCol = got("s")
    assert(sCol.getDouble(3) == 0.0 && sCol.getDouble(4) == 0.5)
    assert(sCol.getLong(5) == 3L && sCol.getLong(6) == 1L)  // distincts
    assert(sCol.isNullAt(7) && sCol.isNullAt(8))            // non-numeric
  }

  test("trending items: breakout beats steady; first period skipped") {
    val s2 = spark; import s2.implicits._
    // period 1: x:10, y:1; period 2: x:10 (steady), y:8 (breakout),
    // z:3 (new)
    val rows = Seq.fill(10)((1L, "x")) ++ Seq((1L, "y")) ++
      Seq.fill(10)((2L, "x")) ++ Seq.fill(8)((2L, "y")) ++
      Seq.fill(3)((2L, "z"))
    val got = graft.ops.Profile.trendingItems(
        rows.toDF("period", "item"), "period", "item", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getDouble(5))).toMap
    assert(!got.keySet.exists(_._1 == 1L), "first period must skip")
    assert(got((2L, 1))._1 == "y", got.toString)       // 9/2 = 4.5
    assert(got((2L, 1))._2 == 4.5, got.toString)
    assert(got((2L, 2))._1 == "z", got.toString)       // 4/1 = 4.0
    assert(got((2L, 3))._1 == "x", got.toString)       // 1.0
  }

  test("ks drift: identical samples give 0, disjoint give 1") {
    val s2 = spark; import s2.implicits._
    val a = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("h", 1L), ("h", 2L))
      .toDF("grp", "v")
    val shifted = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("h", 11L),
      ("h", 12L)).toDF("grp", "v")
    val got = graft.ops.Profile.ksDrift(a, shifted, "grp", "v")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getLong(4))).toMap
    assert(got("g") == (0.0, 1L), got.toString) // identical -> D=0 at min v
    assert(got("h") == (1.0, 2L), got.toString) // disjoint -> D=1 at
    // the last before-side value (smallest value attaining the sup)
    // hand-computed: before {5,6}, after {5,6,7,8}: D at v=6 is
    // |2/2 - 2/4| = 0.5
    val b2 = Seq(("k", 5L), ("k", 6L)).toDF("grp", "v")
    val a2 = Seq(("k", 5L), ("k", 6L), ("k", 7L), ("k", 8L))
      .toDF("grp", "v")
    val got2 = graft.ops.Profile.ksDrift(b2, a2, "grp", "v")
      .collect().map(r => (r.getDouble(3), r.getLong(4))).head
    assert(got2 == (0.5, 6L), got2.toString)
  }

  test("ab test: hand-computed pooled z; degenerate pool gives NULL") {
    val s2 = spark; import s2.implicits._
    // control: 100 users, 10 conv; arm a: 100 users, 20 conv
    val rows = (1 to 100).map(i => ("control", if (i <= 10) 1L else 0L)) ++
      (1 to 100).map(i => ("a", if (i <= 20) 1L else 0L)) ++
      (1 to 50).map(_ => ("dead", 0L))
    val df = rows.toDF("variant", "success")
    val got = graft.ops.Profile.abTest(df, "variant", "success", "control")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(5),
          if (r.isNullAt(6)) Double.NaN else r.getDouble(6))).toMap
    val pooled = 30.0 / 200
    val z = (0.2 - 0.1) /
      math.sqrt(pooled * (1 - pooled) * (1.0 / 100 + 1.0 / 100))
    assert(got("a")._1 == 0.2 && got("a")._2 == 0.1, got.toString)
    assert(math.abs(got("a")._3 - z) < 1e-12, got.toString)
    // dead arm vs control: pooled = 10/150 in (0,1) -> z defined; but
    // a fully-converting pair degenerates: control2 all-success
    val deg = ((1 to 10).map(_ => ("control", 1L)) ++
      (1 to 10).map(_ => ("x", 1L))).toDF("variant", "success")
    val gz = graft.ops.Profile.abTest(deg, "variant", "success", "control")
      .collect().head
    assert(gz.isNullAt(6), "degenerate pooled rate must yield NULL z")
  }

  test("basket rules: hand-computed support, confidence, and lift") {
    val s2 = spark; import s2.implicits._
    // 4 baskets: {a,b}, {a,b}, {a,c}, {b} -> n_a=3, n_b=3, n_ab=2
    val fix = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b"), (1L, "a") /* dup collapses */)
      .toDF("txn", "item")
    val got = Basket.pairRules(fix, "txn", "item", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(got.keySet == Set(("a", "b")), got.toString) // a-c below min
    val (nxy, sup, clr, crl, lift) = got(("a", "b"))
    assert(nxy == 2L && sup == 0.5, got.toString)
    assert(clr == 2.0 / 3 && crl == 2.0 / 3, got.toString)
    assert(math.abs(lift - (2.0 * 4) / (3 * 3)) < 1e-15, got.toString)
  }

  test("benford: uniform digits misfit, geometric sample fits better") {
    val s2 = spark; import s2.implicits._
    // group u: digits 1..9 uniform; group b: counts proportional to
    // Benford (300, 176, 125, ...) -- chi2(u) must far exceed chi2(b)
    val ben = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val rows = (1 to 9).flatMap(d => Seq.fill(100)(("u", d.toLong))) ++
      ben.zipWithIndex.flatMap { case (n, i) =>
        Seq.fill(n)(("b", (i + 1).toLong)) }
    val fix = rows.toDF("g", "v")
      .select(col("g"), (col("v") * 1000L).as("v")) // leading digit kept
    val got = graft.ops.Profile.benford(fix, "g", "v")
      .select("group", "digit", "chi2").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("u") > 200, got.toString)
    assert(got("b") < 1.0, got.toString)
  }

  test("nearest as-of join: closest side wins, ties go backward") {
    val s2 = spark; import s2.implicits._
    val left = Seq((1L, 1L, 100L), (2L, 1L, 205L), (3L, 2L, 50L),
      (4L, 3L, 10L)).toDF("id", "k", "ts")
    // key 1 right rows at 90 and 210; key 2 equidistant at 40/60;
    // key 3 has none
    val right = Seq((1L, 90L, 9.0), (1L, 210L, 21.0),
      (2L, 40L, 4.0), (2L, 60L, 6.0)).toDF("k", "ts", "v")
    val got = AsOf.asofJoinNearest(left, right, "k", "ts", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toMap
    assert(got(1L) == (90L, 9.0), got.toString)   // 10 back vs 110 fwd
    assert(got(2L) == (210L, 21.0), got.toString) // 115 back vs 5 fwd
    assert(got(3L) == (40L, 4.0), got.toString)   // tie -> backward
    assert(got(4L) == (-1L, -1.0), got.toString)  // no right rows
  }

  test("interval overlap join: exact pairs, one emission across bins") {
    val s2 = spark; import s2.implicits._
    // left interval [0, 250] spans 3 bins at width 100; right [240, 260]
    // overlaps (shares bin 2 only at the boundary); [300, 400] does not
    val left = Seq((1L, 9L, 0L, 250L)).toDF("l_id", "k", "ls", "le")
    val right = Seq((10L, 9L, 240L, 260L), (11L, 9L, 300L, 400L),
      (12L, 9L, 0L, 500L)).toDF("r_id", "k", "rs", "re")
    val got = AsOf.intervalOverlapJoin(left, right, "k", "ls", "le",
        "rs", "re", binWidth = 100L)
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // r12 shares bins 0,1,2 with l1 but must appear exactly once
    assert(got.sorted.toSeq == Seq((1L, 10L), (1L, 12L)), got.mkString(","))
  }

  test("tail repetition: smallest period wins; mid-doc loops ignored") {
    val s2 = spark; import s2.implicits._
    val fix = Seq(
      (1L, "prefix words then la la la la"),          // p=1 r=4
      (2L, "text spam ham spam ham spam ham"),        // p=2 r=3
      (3L, "go go go in the MIDDLE but clean end"),   // loop not at tail
      (4L, "too short"),
      (5L, "a b c a b c a b c"))                      // p=3 r=3
      .toDF("doc_id", "text")
    val got = TextAnalysis.tailRepetition(fix, maxPeriod = 3,
        maxUnits = 10, minRepeats = 3)
      .select("doc_id", "period", "n_repeats")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2))).toMap
    assert(got(1L) == (1, 4), got.toString)
    assert(got(2L) == (2, 3), got.toString)
    assert(got(3L) == (0, 0), got.toString)
    assert(got(4L) == (0, 0), got.toString)
    assert(got(5L) == (3, 3), got.toString)
  }

  test("zipf profile: a perfect power law fits with r2 = 1") {
    val s2 = spark; import s2.implicits._
    // frequencies 8,4,2,1 over ranks 1..4 = slope -1 in log2, i.e.
    // -ln(2)/... in natural logs the slope is ln(f)=-s*ln(rk): exact
    // power law f = 8 / rk^1.5 is not integral; use f = 2^(4-rk):
    // ln f = 4ln2 - rk*ln2 — that is linear in RK, not ln rk, so NOT
    // r2=1. Instead plant f(rk) = 24/rk: 24,12,8,6 -> ln f = ln 24 -
    // 1*ln rk exactly -> slope -1, r2 = 1.
    val words = Seq("w1" -> 24, "w2" -> 12, "w3" -> 8, "w4" -> 6)
      .flatMap { case (w, n) => Seq.fill(n)(w) }
    val fix = Seq((1L, "s", words.mkString(" "))).toDF("doc_id", "source", "text")
    val got = TextAnalysis.zipfProfile(fix, "source", topR = 4)
      .collect().head
    assert(got.getLong(1) == 4L && got.getLong(2) == 50L)
    assert(math.abs(got.getDouble(3) + 1.0) < 1e-9, got.toString)
    assert(math.abs(got.getDouble(5) - 1.0) < 1e-9, got.toString)
  }

  test("luhn validation gates card redaction; invalid twins survive") {
    val s2 = spark; import s2.implicits._
    // 4111111111111111 and 79927398713 are the canonical Luhn-valid
    // test numbers; the +1 twin fails; 79927398713 is below the 13-19
    // candidate range so it must NOT be redacted even though valid
    val fix = Seq(
      (1L, "pay 4111111111111111 now"),
      (2L, "ref 4111111111111112 held"),
      (3L, "id 79927398713 and 5500005555555559 mixed"))
      .toDF("doc_id", "text")
    val got = Curation.redactCards(fix)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got(1L) == ("pay <CARD> now", 1, 1), got.toString)
    assert(got(2L) == ("ref 4111111111111112 held", 1, 0), got.toString)
    assert(got(3L) ==
      ("id 79927398713 and <CARD> mixed", 1, 1), got.toString)
    // the scalar validator standalone
    val v = Seq("4111111111111111", "4111111111111112", "79927398713",
      "0", "abc").toDF("d")
      .select(Curation.luhnValid(col("d"))).collect().map(_.getBoolean(0))
    assert(v.toSeq == Seq(true, false, true, false, false), v.mkString(","))
  }

  test("record linkage: known u-probabilities give the textbook weights") {
    val s2 = spark; import s2.implicits._
    // right register: field f1 uniform over 2 values -> u = 0.5;
    // field f2 constant -> u = 1 (vacuous, must contribute 0)
    val left = Seq((1L, 0L, "a", "z"), (2L, 0L, "b", "z"))
      .toDF("id", "blk", "f1", "f2")
    val right = Seq((10L, 0L, "a", "z"), (11L, 0L, "b", "z"))
      .toDF("id", "blk", "f1", "f2")
    val got = Linkage.linkageScores(left, right, "id", "id",
        Seq("blk"), Seq("f1", "f2"), mProb = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3))).toMap
    val agreeW = (math.log(0.95) - math.log(0.5)) / math.log(2.0)
    val disW = (math.log(1.0 - 0.95) - math.log(1.0 - 0.5)) / math.log(2.0)
    // f2 always agrees but is vacuous: n_agree counts it, score ignores
    assert(got((1L, 10L)) == (2, agreeW), got.toString)
    assert(got((1L, 11L)) == (1, disW), got.toString)
    assert(got((2L, 11L)) == (2, agreeW), got.toString)
    assert(got.size == 4)
  }

  test("record linkage: NULL mass is excluded from the u estimate") {
    val s2 = spark; import s2.implicits._
    // f1 on the right: "a", "a", NULL, NULL. With NULLs excluded
    // u = (2^2) / 2^2 = 1 -> vacuous (contributes 0); the old buggy
    // estimate counted NULL as a value (u = 8/16 = 0.5) and credited
    // chance agreement that scoring can never realize.
    val left = Seq((1L, 0L, "a")).toDF("id", "blk", "f1")
    val right = Seq((10L, 0L, Some("a")), (11L, 0L, Some("a")),
      (12L, 0L, None), (13L, 0L, None)).toDF("id", "blk", "f1")
    val got = Linkage.linkageScores(left, right, "id", "id",
        Seq("blk"), Seq("f1"), mProb = 0.95)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    assert(got.size == 4)
    assert(got.values.forall(_ == 0.0),
      s"constant non-null value must be vacuous: $got")
  }

  test("linkage EM recovers planted m/u and prevalence") {
    val s2 = spark; import s2.implicits._
    // 2000 one-pair blocks: the first 1000 are true matches with
    // planted per-field agreement (0.9, 0.8, 0.7), the rest
    // non-matches with (0.1, 0.2, 0.3); lambda = 0.5. THREE fields on
    // purpose: a 2-field FS mixture is non-identifiable (5 parameters,
    // 3 free pattern cells), three fields make the planted solution
    // recoverable. Agreements come from digit grids so fields are
    // exactly conditionally independent within each class — the model
    // EM fits; a correlated fixture would converge to the best CI
    // approximation instead of the planted rates.
    def pair(i: Int, a: Seq[Boolean]) = {
      val lrow = (i.toLong, s"x$i", s"y$i", s"z$i")
      val rrow = (i.toLong, if (a(0)) s"x$i" else s"xx$i",
        if (a(1)) s"y$i" else s"yy$i", if (a(2)) s"z$i" else s"zz$i")
      (lrow, rrow)
    }
    val ps = (0 until 1000).map(i => pair(i,
      Seq(i % 10 < 9, (i / 10) % 10 < 8, i / 100 < 7))) ++
      (1000 until 2000).map { i => val j = i - 1000
        pair(i, Seq(j % 10 < 1, (j / 10) % 10 < 2, j / 100 < 3)) }
    val left = ps.map(_._1).toDF("blk", "f1", "f2", "f3")
    val right = ps.map(_._2).toDF("blk", "f1", "f2", "f3")
    val got = graft.ops.Linkage.linkageEm(left, right, Seq("blk"),
        Seq("f1", "f2", "f3"), iters = 50)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(5))).toMap
    val planted = Map("f1" -> (0.9, 0.1), "f2" -> (0.8, 0.2),
      "f3" -> (0.7, 0.3))
    planted.foreach { case (f, (pm, pu)) =>
      val (m, u, lam) = got(f)
      assert(math.abs(m - pm) < 0.05, s"$f m=$m planted=$pm")
      assert(math.abs(u - pu) < 0.05, s"$f u=$u planted=$pu")
      assert(math.abs(lam - 0.5) < 0.05, s"lambda=$lam")
    }
  }

  test("benford: absent digits carry their expected chi2 mass") {
    val s2 = spark; import s2.implicits._
    // group "m" never starts with 1 (values 200..900 by hundreds):
    // digit 1's expected count n*log10(2) must still enter the chi2,
    // and the (m, 1) row must exist with n_d = 0
    val rows = (2 to 9).map(d => ("m", d * 100L))
    val got = graft.ops.Profile.benford(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(5)))
      .toMap
    assert(got.size == 9, s"all 9 digit rows must emit: $got")
    assert(got(1)._1 == 0L)
    val n = 8.0
    val expected1 = n * math.log10(2.0) // (0-e)^2/e = e for digit 1
    val chi2 = got(2)._2
    assert(chi2 >= expected1,
      s"chi2=$chi2 must include absent digit 1's expected $expected1")
  }

  test("card redaction: digit-boundary semantics on long runs") {
    val s2 = spark; import s2.implicits._
    // 20-digit run whose 19-digit prefix is Luhn-valid: NOT a candidate
    // (maximal-run semantics); the same valid card standalone IS
    // redacted, and its occurrence embedded in a longer run survives
    // build a Luhn-valid 19-digit number from the 4111... BIN
    val base = "411111111111111111"
    val check = (0 to 9).map(c => base + c.toString).find { s =>
      val ds = s.reverse.map(_ - '0')
      ds.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }.get
    val fix = Seq(
      (1L, s"card $check ok"),
      (2L, s"run ${check}5 embedded"), // 20 digits: no candidate
      (3L, s"both $check and 9${check} here"))
      .toDF("doc_id", "text")
    val got = Curation.redactCards(fix)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got(1L) == ("card <CARD> ok", 1, 1), got.toString)
    assert(got(2L) == (s"run ${check}5 embedded", 0, 0), got.toString)
    assert(got(3L) == (s"both <CARD> and 9${check} here", 1, 1),
      got.toString)
    assert(check.length == 19)
  }

  test("ab test: a missing control variant fails loudly") {
    val s2 = spark; import s2.implicits._
    val df = Seq(("a", 1L), ("b", 0L)).toDF("variant", "success")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profile.abTest(df, "variant", "success", "kontrol")
        .collect()
    }
    assert(e.getMessage.contains("kontrol"), e.getMessage)
  }

  test("histogram: full grid, exact counts, degenerate group in bin 0") {
    val s2 = spark; import s2.implicits._
    // g: values 0..9 over [0,9], 3 bins of width 3 -> counts 3/3/4
    // (bin 2 is [6,9] CLOSED at the max); d: constant -> all in bin 0
    val fix = ((0 to 9).map(v => ("g", v.toLong)) ++
      Seq(("d", 7L), ("d", 7L))).toDF("grp", "v")
    val got = graft.ops.Profile.histogram(fix, "grp", "v", bins = 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.size == 6, got.toString) // every bin of every group
    assert(got(("g", 0)) == (0.0, 3.0, 3L), got.toString)
    assert(got(("g", 1)) == (3.0, 6.0, 3L), got.toString)
    assert(got(("g", 2)) == (6.0, 9.0, 4L), got.toString)
    assert(got(("d", 0)) == (7.0, 7.0, 2L), got.toString)
    assert(got(("d", 1))._3 == 0L && got(("d", 2))._3 == 0L,
      "degenerate group: empty higher bins still emitted")
  }

  test("quantile normalize: identity on the global source, monotone " +
      "mapping, exact median transfer") {
    val s2 = spark; import s2.implicits._
    // source a IS half the global distribution shifted: a = {1,2,3,4},
    // b = {11,12,13,14}; a's q=0.25 value (1) must map to the global
    // value with cdf >= 0.25 (global: 1..4,11..14 each 1/8 -> 2)
    val fix = (Seq(1L, 2L, 3L, 4L).map(("a", _)) ++
      Seq(11L, 12L, 13L, 14L).map(("b", _))).toDF("src", "v")
    val got = graft.ops.Profile.quantileNormalize(fix, "src", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getLong(3)).toMap
    // a: q = .25/.5/.75/1 -> global values at cdf .25/.5/.75/1
    assert(got(("a", 1L)) == 2L && got(("a", 2L)) == 4L &&
      got(("a", 3L)) == 12L && got(("a", 4L)) == 14L, got.toString)
    // b maps identically (same within-source CDF): calibrated scales
    assert(got(("b", 11L)) == 2L && got(("b", 14L)) == 14L, got.toString)
    // a source equal to the global distribution maps to itself
    val self = Seq(("only", 5L), ("only", 6L), ("only", 7L))
      .toDF("src", "v")
    val idm = graft.ops.Profile.quantileNormalize(self, "src", "v")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(idm == Map(5L -> 5L, 6L -> 6L, 7L -> 7L), idm.toString)
  }

  test("cluster-aware split: clusters never straddle; singletons fall " +
      "back to their own id; same-cluster docs share contentSplit's " +
      "boundary discipline") {
    val s2 = spark; import s2.implicits._
    val docs = (1L to 400L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    // clusters: pair up 1..200 as (1,2)(3,4)...; 201..400 singletons
    val cl = (1L to 200L).map(i => (i, (i + 1) / 2 * 2 - 1))
      .toDF("doc_id", "cluster_id")
    val got = Sampling.clusterAwareSplit(docs, cl,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byCluster = got.join(cl, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("ckey").agg(countDistinct("split").as("nsp"))
      .agg(max("nsp")).collect().head.getLong(0)
    assert(byCluster == 1L, "a cluster straddled a split boundary")
    // all three labels actually occur over 300 cluster keys
    val labels = got.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(labels == Set("train", "val", "test"), labels.toString)
    // membership is decided by the cluster-key hash, nothing else:
    // doc 1 and doc 2 share cluster 1, so both match hashUnit("1")
    val u1 = docs.sparkSession.range(1).select(
      Sampling.hashUnit(lit("1"), "csplit:").as("u"))
      .collect().head.getDouble(0)
    val expected = if (u1 < 0.8) "train" else if (u1 < 0.9) "val" else "test"
    val s12 = got.where(col("doc_id") <= 2).select("split").collect()
      .map(_.getString(0)).toSet
    assert(s12 == Set(expected), s"$s12 vs $expected (u=$u1)")
  }

  test("global rank equals the single-partition ROW_NUMBER on any " +
      "partitioning and bucket count; constant key degenerates safely") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(7)
    val fx = (1L to 500L).map(id => (id, rnd.nextInt(40).toLong - 20L))
      .toDF("id", "k")
    val naive = fx.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    // with AQE off the range sort keeps all 4 shuffle partitions, so the
    // per-partition offsets are exercised on this small fixture too
    for (parts <- Seq(1, 7); aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val got = try graft.ops.Layout.globalRank(fx.repartition(parts),
          "k", "id").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(got == naive, s"parts=$parts aqe=$aqe")
    }
    // constant key: every row in one bucket, ranks still total by id
    val const = (1L to 50L).map(id => (id, 5L)).toDF("id", "k")
    val gotC = graft.ops.Layout.globalRank(const, "k", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 50L).forall(id => gotC(id) == id), gotC.toString)
  }

  test("global rank on skewed keys: a constant key and an 80%-hot key " +
      "rank exactly, any orderable id ranks; violations fail loudly") {
    val s2 = spark; import s2.implicits._
    // constant key: the range sort splits the one tie group by id
    val const = (1L to 500L).map(id => (id, 7L)).toDF("id", "k")
    val gotC = graft.ops.Layout.globalRank(const, "k", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 500L).forall(id => gotC(id) == id), "exact ranks")
    // hot key (80% of rows on k=0) among a spread of cold keys
    val rnd = new scala.util.Random(3)
    val hot = (1L to 500L).map(id =>
      (id, if (id % 5 != 0L) 0L else rnd.nextInt(1000).toLong))
      .toDF("id", "k")
    val naive = hot.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("id"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    val gotH = graft.ops.Layout.globalRank(hot, "k", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotH == naive, "a hot key must not change ranks")
    // string ids on a constant key rank in string order
    val strIds = (1L to 100L).map(id => (f"doc-$id%03d", 7L))
      .toDF("id", "k")
    val gotS = graft.ops.Layout.globalRank(strIds, "k", "id")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert((1L to 100L).forall(id => gotS(f"doc-$id%03d") == id),
      gotS.toString)
    // null keys refused (a SQL window would sort them first; this
    // operator's contract is non-null keys)
    val withNull = Seq((1L, Some(3L)), (2L, None), (3L, Some(1L)))
      .toDF("id", "k")
    val e2 = intercept[IllegalArgumentException](
      graft.ops.Layout.globalRank(withNull, "k", "id"))
    assert(e2.getMessage.contains("null"))
    // reserved/output column collisions refused
    intercept[IllegalArgumentException](graft.ops.Layout.globalRank(
      const.withColumn("rk", lit(1)), "k", "id"))
    intercept[IllegalArgumentException](graft.ops.Layout.globalRank(
      const.withColumn("__grk_g", lit(1)), "k", "id"))
  }

  test("global cumsum equals the single-partition running sum on any " +
      "partitioning and bucket count; constant key refines safely") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(23)
    val fx = (1L to 400L).map(id =>
      (id, rnd.nextInt(50).toLong, rnd.nextInt(100).toLong + 1L))
      .toDF("id", "k", "v")
    val naive = fx.withColumn("c",
        sum(col("v")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("id"))
          .rowsBetween(Long.MinValue, 0)) - col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    for (parts <- Seq(1, 7); aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val got = try graft.ops.Layout.globalCumsum(fx.repartition(parts),
          "k", "id", "v").collect().map(r => r.getLong(0) -> r.getLong(3))
          .toMap
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(got == naive, s"parts=$parts aqe=$aqe")
    }
    // constant key: the range sort splits the tie group by id, cumsum exact
    val const = (1L to 300L).map(id => (id, 5L, 2L)).toDF("id", "k", "v")
    val gotC = graft.ops.Layout.globalCumsum(const, "k", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((1L to 300L).forall(id => gotC(id) == 2L * (id - 1)), "exact")
    // null values count as 0
    val withNullV = Seq((1L, 1L, Some(3L)), (2L, 2L, None),
      (3L, 3L, Some(4L))).toDF("id", "k", "v")
    val gotN = graft.ops.Layout.globalCumsum(withNullV, "k", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gotN == Map(1L -> 0L, 2L -> 3L, 3L -> 3L), gotN.toString)
  }

  test("context windows: every window but the last exactly full, " +
      "documents reassemble from contiguous slices, empties dropped") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(29)
    val docs = (1L to 200L).map(id =>
      (id, if (id % 13 == 0) 0L else rnd.nextInt(700).toLong + 1L))
      .toDF("doc_id", "n_tokens")
    val w = 256L
    val slices = graft.ops.Curation.contextWindows(docs, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val lens = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // documents reassemble: per doc, slice doc_offsets are contiguous
    // from 0 and slice lengths sum to the doc length; empty docs absent
    val byDoc = slices.groupBy(_._2)
    assert(byDoc.keySet == lens.filter(_._2 > 0).keySet)
    for ((id, ss) <- byDoc) {
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L && sorted.map(_._5).sum == lens(id))
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 + a._5 == b._3
        case _ => true
      }, s"doc $id slices not contiguous: ${sorted.toSeq}")
    }
    // windows: every window except the highest id holds exactly w
    // tokens in contiguous win_offset order from 0
    val byWin = slices.groupBy(_._1)
    val lastWin = byWin.keys.max
    for ((win, ss) <- byWin) {
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 == 0L, s"window $win starts at offset 0")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 + a._5 == b._4
        case _ => true
      }, s"window $win not contiguous")
      if (win != lastWin)
        assert(sorted.map(_._5).sum == w, s"window $win not full")
    }
    // total conservation
    assert(slices.map(_._5).sum == lens.values.sum)
  }

  test("sorted-neighborhood pairs equal the naive rank-distance join; " +
      "candidate count bounded by n*(w-1)") {
    val s2 = spark; import s2.implicits._
    val rnd = new scala.util.Random(11)
    val fx = (1L to 200L).map(id => (id, rnd.nextInt(1000).toLong))
      .toDF("id", "k")
    val w = 5
    val ranked = fx.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("k"), col("id"))))
    val naive = ranked.as("a").join(ranked.as("b"),
        col("b.r") > col("a.r") && col("b.r") - col("a.r") < w)
      .select(col("a.id"), col("b.id"),
        (col("b.r") - col("a.r")).cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = graft.ops.Linkage
      .sortedNeighborPairs(fx, "k", "id", w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == naive,
      s"missing=${naive -- got} extra=${got -- naive}")
    assert(got.size <= 200 * (w - 1))
  }

  test("BLEU: the classic clipping example, identity, zero-precision " +
      "collapse, and brevity penalty") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      // Papineni clipping: 7x 'the' vs a reference holding 'the' twice
      (1L, "the the the the the the the", "the cat is on the mat"),
      // identity: every precision 1, bp 1, bleu 1
      (2L, "a b c d e f", "a b c d e f"),
      // short candidate, perfect grams: bleu = bp = exp(1 - 6/4)
      (3L, "a b c d", "a b c d e f"),
      // empty candidate
      (4L, "", "a b c"))
      .toDF("doc_id", "cand", "ref")
    val got = graft.ops.TextAnalysis.bleuScore(fx).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4),
        r.getDouble(7), r.getDouble(8))).toMap
    val (p1a, p2a, _, bleuA) = got(1L)
    assert(math.abs(p1a - 2.0 / 7.0) < 1e-12, s"clip: $p1a")
    assert(p2a == 0.0 && bleuA == 0.0)
    assert(got(2L) == ((1.0, 1.0, 1.0, 1.0)))
    val (_, _, bp3, bleu3) = got(3L)
    assert(math.abs(bp3 - math.exp(1.0 - 6.0 / 4.0)) < 1e-12)
    assert(math.abs(bleu3 - bp3) < 1e-12, "perfect grams: bleu = bp")
    assert(got(4L) == ((0.0, 0.0, 0.0, 0.0)))
  }

  test("Tokenize.ScriptAware isolates whitespace-free-script codepoints " +
      "as tokens, keeps Latin words whole, and agrees with Whitespace on " +
      "single-spaced Latin text") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      (1L, "hello 世界abc ทด x"),
      (2L, "plain latin words only"),
      (3L, "東京タワー")) // unspaced CJK run
      .toDF("doc_id", "text")
    def toksOf(m: Tokenize.Mode): Map[Long, Seq[String]] = fx
      .select(col("doc_id"), Tokenize.tokens(col("text"), m).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val sa = toksOf(Tokenize.ScriptAware)
    assert(sa(1L) == Seq("hello", "世", "界", "abc",
      "ท", "ด", "x"), sa(1L).toString)
    // U+30FC (prolonged sound mark) is inside the Katakana block range,
    // so the fixed-range class isolates it — deterministically, on both
    // engines, independent of Unicode script-assignment versions
    assert(sa(3L) == Seq("東", "京", "タ", "ワ",
      "ー"), sa(3L).toString)
    val ws = toksOf(Tokenize.Whitespace)
    assert(sa(2L) == ws(2L) && ws(2L) == Seq("plain", "latin", "words",
      "only"))
    assert(ws(3L) == Seq("東京タワー"),
      "whitespace mode must keep the unspaced run as one token")
  }

  test("CJK near-duplicates: minhashCandidates is structurally blind " +
      "under whitespace tokenization (empty shingle stream) and catches " +
      "every planted twin under ScriptAware") {
    val s2 = spark; import s2.implicits._
    // unspaced ideographic docs + a twin with the first codepoint
    // dropped — the q289 fixture shape at spec scale
    val han = "安波草地衣風谷火石" +
      "人金木林間東南西北水" +
      "川山月日星雲海"
    val rnd = new scala.util.Random(7)
    val base = (1L to 30L).map { id =>
      (id, (0 until 40).map(_ => han(rnd.nextInt(han.length))).mkString)
    }
    val fx = (base ++ base.map { case (id, t) => (id + 100L, t.drop(1)) })
      .toDF("doc_id", "text")
    val blind = Dedup.minhashCandidates(fx, 3, 8, 2).count()
    assert(blind == 0L,
      s"whitespace mode must produce no candidates on unspaced CJK, got $blind")
    val caught = Dedup.minhashCandidates(fx, 3, 8, 2,
        tokenizer = Tokenize.ScriptAware)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twins = (1L to 30L).map(id => (id, id + 100L)).toSet
    assert(twins.subsetOf(caught), s"missed twins: ${twins -- caught}")
  }

  test("chunk and packShards under ScriptAware: codepoint-grain token " +
      "accounting on unspaced text") {
    val s2 = spark; import s2.implicits._
    val fx = Seq((1L, "東京南北水火山" +
      "川月日")).toDF("doc_id", "text") // 10 codepoints
    val chunks = graft.ops.TextAnalysis.chunk(fx, 4, 0,
        tokenizer = Tokenize.ScriptAware)
      .orderBy("chunk_id")
      .collect().map(r => (r.getAs[Long]("n_chunk_tokens"),
        r.getAs[String]("chunk")))
    assert(chunks.map(_._1).toSeq == Seq(4L, 4L, 2L), chunks.toSeq.toString)
    assert(chunks.head._2 == "東 京 南 北")
    // whitespace mode would call this ONE token
    val nt = Sampling.packShards(fx, 5L, 1,
        tokenizer = Tokenize.ScriptAware)
      .select("n_tokens").head().getLong(0)
    assert(nt == 10L, s"packShards must count 10 codepoint tokens, got $nt")
    val stats = graft.ops.TextAnalysis.tokenStats(fx,
        tokenizer = Tokenize.ScriptAware).head()
    assert(stats.getAs[Long]("ws_tokens") == 10L &&
      stats.getAs[Long]("uniq_tokens") == 10L)
  }

}
