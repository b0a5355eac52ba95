package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an `embedding: array<float>` column.
  *
  * [[cosineTopK]] is the exact brute-force top-k (queries × candidates,
  * one broadcast) that every approximate tier is tested against.
  * [[lshBuckets]]/[[lshTopK]] bucket the corpus by deterministic
  * random-hyperplane signatures so scoring runs only within a query's
  * bucket and its Hamming-1 neighbors. The IVF/PQ family is one
  * [[VectorIndex]] value (an optional coarse quantizer, an optional
  * product-quantizer code table), built by
  * [[ivfIndex]], [[pqIndex]], [[ivfPqIndex]] or [[ivfPqResidualIndex]] and
  * queried by the one [[search]]. All arithmetic is
  * cast-to-double-then-sum in array order, which is bit-identical across
  * engines (the DuckDB oracle replays it exactly).
  */
object Similarity {

  /** Exact dot product of two float-array columns via the native codegen'd
    * [[graft.functions.FloatDot]] expression (identical arithmetic to the
    * composable `aggregate(zip_with(...))` form, ~20× faster on the
    * brute-force sweep).
    */
  def dot(a: Column, b: Column): Column = graft.functions.float_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused native expression: dot + both norms in ONE array pass
    * (bit-identical to `dot(a,b)/(norm(a)*norm(b))` — see
    * [[graft.functions.FloatCosine]]; the spec pins the equivalence).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.float_cosine(a, b)

  /** Int8 scalar quantization (SQ8) of the embedding column — the third
    * member of the quantization family next to [[pqIndex]] (PQ) and
    * [[ivfPqIndex]] (IVF-PQ), mirroring FAISS's `ScalarQuantizer`: each
    * DIMENSION gets an affine [lo, hi] range mapped onto 256 levels, so
    * a d-dim float32 vector stores as d bytes (4× smaller) with a known
    * reconstruction error — the standard storage tier for trillion-scale
    * embedding tables where PQ's distortion is too coarse.
    *
    * Returns (vec_id, codes, recon_mse): `codes` is the space-joined
    * int code string (comparator-agnostic — see q123's discipline);
    * `recon_mse` the per-vector mean squared dequantization error, an
    * ordered fold over dimensions so both engines produce identical
    * doubles. Constant dimensions (hi == lo) code as 0 and reconstruct
    * exactly as `lo`.
    *
    * Shape at 100 TB: per-dimension bounds are ONE partial-aggregated
    * groupBy(dim) over exploded cells (the shuffle carries dims ×
    * partitions rows, not the corpus), packed into a single broadcast
    * row; coding + error are then purely NARROW expressions. No second
    * shuffle, no self-join.
    */
  def scalarQuantize(corpus: DataFrame): DataFrame = {
    val cells = corpus.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast("double").as("v"))
    val packed = cells.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"),
        col("hi")))).as("b"))
      .select(transform(col("b"), x => x.getField("lo")).as("los"),
        transform(col("b"), x => x.getField("hi")).as("his"))
    corpus.crossJoin(broadcast(packed))
      .withColumn("codes", expr(
        """transform(sequence(1, size(embedding)), i ->
          |  CASE WHEN element_at(his, i) > element_at(los, i)
          |    THEN cast(round((cast(element_at(embedding, i) as double)
          |           - element_at(los, i)) * 255.0D
          |           / (element_at(his, i) - element_at(los, i))) as int)
          |    ELSE 0 END)""".stripMargin))
      .withColumn("recon_mse", expr(
        """aggregate(sequence(1, size(embedding)), cast(0.0 as double),
          |  (acc, i) -> acc + pow(
          |    element_at(los, i) + element_at(codes, i)
          |      * (element_at(his, i) - element_at(los, i)) / 255.0D
          |      - cast(element_at(embedding, i) as double), 2))
          |  / size(embedding)""".stripMargin))
      .select(col("vec_id"), array_join(col("codes"), " ").as("codes"),
        col("recon_mse"))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * `queries` must be a subset projection of `corpus` with columns
    * (vec_id, embedding). Brute force: |queries| × |corpus| scored pairs —
    * broadcast the queries, never the corpus.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms are computed once per vector (narrow projections), not once per
    // scored pair — at |Q|×|C| pairs that's the difference between O(n·d)
    // and O(n²·d) norm work
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.withColumn("cn", norm(col("embedding")))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("cn"))).as("cos"))
    nearest(scored, k, "cos")
  }

  /** The top-k tail: each `by` group's first `k` rows in `order`,
    * numbered `rk` from 1 (`row_number`, so ties never exceed k).
    */
  private def keepTop(df: DataFrame, k: Int, by: Seq[String],
      order: Column*): DataFrame =
    df.withColumn("rk", row_number().over(
      Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .where(col("rk") <= k)

  /** Each query's `k` best `(query_id, neighbor_id)` rows by `score`
    * descending, ties to the lowest neighbor_id.
    */
  private def nearest(scored: DataFrame, k: Int, score: String): DataFrame =
    keepTop(scored, k, Seq("query_id"), col(score).desc, col("neighbor_id").asc)

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim i): `(h - 7.5) / 7.5`, a value in [-1, 1], where `h` is the
    * first hex digit (high nibble of the first byte) of md5 of the
    * UTF-8 string `"p-i"`. Computed on the driver, so plane application
    * needs no plane-table join; any engine with md5 replays it.
    */
  private def planeWeight(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p-$i".getBytes("UTF-8"))
    (((d(0) >> 4) & 0xf) - 7.5) / 7.5
  }

  /** Sign-bucket each vector with `numPlanes` hyperplanes: bucket =
    * Σ_p (dot(plane_p, v) > 0) << p, appended as a `bucket` column. The
    * planes are deterministic driver-side literal arrays, so bucketing is
    * a NARROW shuffle-free projection (one array fold per plane, summed in
    * array order like the SQL oracle) — at 100 TB this stage costs one
    * corpus pass and nothing else.
    */
  def lshBuckets(corpus: DataFrame, numPlanes: Int, dims: Int): DataFrame = {
    val bucket = (0 until numPlanes).map { p =>
      val weights = array((0 until dims).map(i => lit(planeWeight(p, i))): _*)
      val proj = aggregate(
        zip_with(col("embedding"), weights, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    corpus.withColumn("bucket", bucket)
  }

  /** Multi-probe hyperplane-LSH top-k (Lv et al. 2007) of `queries`
    * against `corpus`, both `(vec_id, embedding)`: each query probes its
    * own sign-bucket ([[lshBuckets]]) plus every bucket one hyperplane sign
    * away, so near misses one plane off are recovered without more hash
    * tables. Candidates rank by exact cosine; returns
    * `(query_id, neighbor_id, cos, rk)`, the `k` best per query, ties to
    * the lowest neighbor_id, never the query itself. The `numPlanes + 1`
    * probes per query expand on the broadcast query side; the corpus is
    * bucketed once, by a narrow projection.
    *
    * Runs no Spark job while the plan is built and caches nothing.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int, dims: Int): DataFrame = {
    val corpusB = lshBuckets(corpus, numPlanes, dims)
    val queryB = lshBuckets(
      queries.select(col("vec_id").as("query_id"), col("embedding")),
      numPlanes, dims)
      .select(col("query_id"), col("embedding").as("qv"),
        col("bucket").as("qbucket"))
    val probes = queryB.withColumn("probe", explode(array(
      col("qbucket") +: (0 until numPlanes).map(p =>
        col("qbucket").bitwiseXOR(lit(1L << p))): _*)))
    val scored = corpusB.join(broadcast(probes),
      col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("embedding")).as("cos"))
    nearest(scored, k, "cos")
  }

  /** How an index stage picks its centroids. */
  sealed trait Init
  object Init {
    /** The smallest vec_ids' vectors, zero Lloyd iterations: no RNG and no
      * partitioning dependence, so a SQL oracle replays the index exactly,
      * and sparse or offset vec_ids still yield `min(n, corpus size)`
      * centroids.
      */
    case object DataPoints extends Init
    /** MLlib k-means with `seed`: the recall-quality tier, whose recall
      * floors against brute force OpsSpec pins.
      */
    final case class KMeans(seed: Long = 42L) extends Init
  }

  /** IVF coarse quantizer: `centroids` as `(cid, centroid)` and
    * `assigned`, the corpus with each vector's nearest list `cid`.
    */
  final case class Coarse(centroids: DataFrame, assigned: DataFrame)

  /** Product quantizer: `dims` split into `m` contiguous subspaces of
    * `sub` dims, each with `ksub` centroids in `codebook` `(c, j,
    * centroid)`; `codes` `(vec_id, j, c)` is every vector's nearest
    * centroid per subspace, m small ints per vector instead of 4·dims
    * bytes (32× smaller at dims=64/m=8). `residual` is present when the
    * codes encode `v − centroid(v)` rather than `v`: it then holds the
    * per-coarse-list scoring terms `(cid, crs, coarse2)` (see
    * [[ivfPqResidualIndex]]).
    */
  final case class Pq(codebook: DataFrame, codes: DataFrame, m: Int,
      sub: Int, ksub: Int, residual: Option[DataFrame])

  /** A vector index for [[search]]: an optional IVF coarse quantizer
    * (each query scans only its `nprobe` nearest lists) and an optional
    * PQ code table (candidates score by asymmetric distance against
    * their codes instead of exact cosine against raw vectors). Built only
    * through [[ivfIndex]], [[pqIndex]], [[ivfPqIndex]] and
    * [[ivfPqResidualIndex]], so at least one part is present.
    */
  final class VectorIndex private[Similarity] (val coarse: Option[Coarse],
      val pq: Option[Pq])

  private def requirePositive(name: String, v: Int): Unit =
    require(v >= 1, s"$name=$v must be >= 1 (a zero bound would silently " +
      "make the search return zero rows)")

  private def requirePq(m: Int, ksub: Int, dims: Int): Unit = {
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m")
    require(ksub >= 1, s"ksub=$ksub must be >= 1 (empty codebook would " +
      "silently make every PQ search return zero rows)")
  }

  /** `(id, seed)`: the `n` vectors of `vecCol` that follow the `skip`
    * smallest vec_ids, numbered from 0 in vec_id order. The global window
    * runs after the limit, so it is bounded to `skip + n` rows.
    */
  private def dataPoints(vectors: DataFrame, vecCol: String, skip: Int,
      n: Int): DataFrame = {
    val numbered = vectors.select(col("vec_id"), col(vecCol).as("seed"))
      .orderBy("vec_id").limit(skip + n)
      .withColumn("rn", row_number().over(Window.orderBy("vec_id")))
    (if (skip > 0) numbered.where(col("rn") > skip) else numbered)
      .select((col("rn") - (skip + 1)).cast("int").as("id"), col("seed"))
  }

  /** Each corpus vector `(vec_id, embedding, cid)` in the list of its
    * nearest centroid by cosine, ties to the lowest cid.
    */
  private def assignTo(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("cn", norm(col("embedding")))
      .crossJoin(broadcast(centroids))
      .withColumn("ccos", dot(col("embedding"), col("centroid")) /
        (col("cn") * norm(col("centroid"))))
    keepTop(scored, 1, Seq("vec_id"), col("ccos").desc, col("cid").asc)
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  private def dataPointCentroids(corpus: DataFrame, nlist: Int): DataFrame = {
    requirePositive("nlist", nlist)
    dataPoints(corpus, "embedding", 0, nlist).toDF("cid", "centroid")
  }

  /** Data-point IVF list assignment alone, `(vec_id, embedding, cid)`:
    * the same lists as `ivfIndex(corpus, nlist)`, left lazy for callers
    * that consume the assignment once.
    */
  def ivfAssign(corpus: DataFrame, nlist: Int): DataFrame =
    assignTo(corpus, dataPointCentroids(corpus, nlist))

  /** IVF coarse quantizer. Data-point centroids are materialized before
    * the assignment: the assignment and the probe gate (and, residual,
    * the per-list tables) each broadcast them, and a lazy broadcast
    * re-runs the corpus sort. The relation is nlist rows at any scale.
    */
  private def coarse(corpus: DataFrame, nlist: Int, init: Init): Coarse =
    init match {
      case Init.DataPoints =>
        val centroids = dataPointCentroids(corpus, nlist).localCheckpoint(true)
        Coarse(centroids, assignTo(corpus, centroids))
      case Init.KMeans(seed) =>
        requirePositive("nlist", nlist)
        val s2 = corpus.sparkSession; import s2.implicits._
        val featured = corpus.withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(col("embedding")))
        val model = new org.apache.spark.ml.clustering.KMeans()
          .setK(nlist).setSeed(seed).setFeaturesCol("features")
          .fit(featured)
        val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
          (i, c.toArray.map(_.toFloat))
        }.toSeq.toDF("cid", "centroid")
        // copy drops the trainingSummary (which pins the SparkSession) before
        // the model rides the assignment closure — a session whose
        // ObservationManager is initialized is not java-serializable (see
        // Classify.crossValPredictions)
        val assigned = model.copy(org.apache.spark.ml.param.ParamMap.empty)
          .transform(featured)
          .withColumnRenamed("prediction", "cid")
          .drop("features")
        Coarse(centroids, assigned)
    }

  /** `m` contiguous sub-vectors of the vector column `vecCol` as one
    * array column (subspace j = elements [j·sub, (j+1)·sub)).
    */
  private def slicesOf(vecCol: String, m: Int, sub: Int): Column = expr(
    s"transform(sequence(0, ${m - 1}), j -> slice($vecCol, j * $sub + 1, $sub))")

  /** A data-point codebook over `vecCol`: centroid `c` of subspace `j` is
    * the j-th slice of the c-th vector after the `skip` smallest vec_ids.
    * Materialized: it feeds both the encoding and the ADC lookup-table
    * broadcasts, and is m·ksub rows at any scale.
    */
  private def dataPointCodebook(vectors: DataFrame, vecCol: String,
      skip: Int, m: Int, sub: Int, ksub: Int): DataFrame =
    dataPoints(vectors, vecCol, skip, ksub)
      .select(col("id"), posexplode(slicesOf("seed", m, sub)))
      .toDF("c", "j", "centroid")
      .localCheckpoint(true)

  /** Nearest-centroid code per (vector, subspace) against a `(c, j,
    * centroid)` codebook: one broadcast join + one (vec_id, j) window,
    * ties to the lowest centroid id.
    */
  private def encodeAgainst(corpus: DataFrame, codebook: DataFrame,
      m: Int, sub: Int, vecCol: String = "embedding"): DataFrame = {
    val sliced = corpus.select(col("vec_id"), posexplode(slicesOf(vecCol, m, sub)))
      .toDF("vec_id", "j", "subv")
    val sq = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    val d2 = sliced.join(broadcast(codebook), "j")
      .withColumn("d2", expr(
        s"aggregate(zip_with(subv, centroid, (x, y) -> $sq * $sq), " +
          "0D, (a, v) -> a + v)"))
    keepTop(d2, 1, Seq("vec_id", "j"), col("d2").asc, col("c").asc)
      .select("vec_id", "j", "c")
  }

  private def productQuantizer(corpus: DataFrame, m: Int, ksub: Int,
      dims: Int, init: Init): Pq = {
    requirePq(m, ksub, dims)
    val sub = dims / m
    val codebook = init match {
      case Init.DataPoints =>
        dataPointCodebook(corpus, "embedding", 0, m, sub, ksub)
      case Init.KMeans(seed) =>
        // subspace j's centroids are a k-means fit over the corpus' j-th
        // sub-vectors (seed + j keeps the fits independent but the index
        // reproducible). Persisted across the m fits: without the cache
        // each fit would re-scan and re-explode the corpus per iteration.
        val s2 = corpus.sparkSession; import s2.implicits._
        val sliced = corpus.select(posexplode(slicesOf("embedding", m, sub)))
          .toDF("j", "subv")
          .withColumn("features",
            org.apache.spark.ml.functions.array_to_vector(col("subv")))
          .persist()
        try {
          (0 until m).flatMap { j =>
            val model = new org.apache.spark.ml.clustering.KMeans()
              .setK(ksub).setSeed(seed + j).setFeaturesCol("features")
              .fit(sliced.where(col("j") === j))
            model.clusterCenters.zipWithIndex.map { case (cent, c) =>
              (c, j, cent.toArray.map(_.toFloat))
            }
          }.toDF("c", "j", "centroid")
        } finally sliced.unpersist()
    }
    Pq(codebook, encodeAgainst(corpus, codebook, m, sub), m, sub, ksub, None)
  }

  /** IVF index: `nlist` coarse lists, searched by exact cosine within
    * each query's `nprobe` nearest lists. `nprobe == nlist` is exact
    * brute force under either init (spec-pinned).
    */
  def ivfIndex(corpus: DataFrame, nlist: Int,
      init: Init = Init.DataPoints): VectorIndex =
    new VectorIndex(Some(coarse(corpus, nlist, init)), None)

  /** PQ index over `dims`-dim vectors: every corpus vector is scored by
    * ADC against its codes. `m = 1` with `ksub >= |corpus|` data-point
    * centroids is exact brute force (spec-pinned).
    */
  def pqIndex(corpus: DataFrame, m: Int, ksub: Int, dims: Int,
      init: Init = Init.DataPoints): VectorIndex =
    new VectorIndex(None, Some(productQuantizer(corpus, m, ksub, dims, init)))

  /** IVF-PQ: the coarse lists gate which codes a query ADC-scores, so the
    * scan drops to the probed share of the 32×-compressed code table.
    * `nprobe == nlist` returns exactly the PQ index's ranking
    * (spec-pinned). `init` trains both stages the same way.
    */
  def ivfPqIndex(corpus: DataFrame, nlist: Int, m: Int, ksub: Int,
      dims: Int, init: Init = Init.DataPoints): VectorIndex =
    new VectorIndex(Some(coarse(corpus, nlist, init)),
      Some(productQuantizer(corpus, m, ksub, dims, init)))

  /** Residual IVF-PQ, the FAISS `IndexIVFPQ` design (Jégou, Douze &
    * Schmid 2011): PQ encodes `v − centroid(v)` per coarse list instead
    * of the raw vector, so the codebook's `ksub` entries span the much
    * smaller residual range — when the coarse quantizer captures real
    * cluster structure. Spec-pinned: on a matched-cluster fixture
    * (nCenters == nlist) residual reaches 0.335 recall@10 vs raw 0.178;
    * on the uniform-random sf0.01 fixture residuals are larger than the
    * raw vectors and raw wins 0.200 vs 0.168, so [[ivfPqIndex]] is the
    * default for structureless corpora.
    *
    * ADC scores against the reconstruction `v̂ = c + r̂`:
    * `dot(q, v̂) = dot(q, c) + Σⱼ pds[code_j]` and `‖v̂‖² = ‖c‖² +
    * 2·Σⱼ crs[code_j] + Σⱼ c2s[code_j]`, where the per-list table holds
    * `crs[j*ksub + c] = dot(c_j, r̂_{j,c})` and `coarse2 = ‖c‖²`. All
    * data-point init (the codebook seeds skip the `nlist` coarse seeds,
    * whose residuals are zero), so a SQL oracle replays the index.
    */
  def ivfPqResidualIndex(corpus: DataFrame, nlist: Int, m: Int, ksub: Int,
      dims: Int): VectorIndex = {
    requirePq(m, ksub, dims)
    val sub = dims / m
    val c = coarse(corpus, nlist, Init.DataPoints)
    val resid = c.assigned.join(broadcast(c.centroids), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("embedding"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double")).as("residual"))
    val codebook = dataPointCodebook(resid, "residual", nlist, m, sub, ksub)
    val crosses = c.centroids
      .select(col("cid"), posexplode(slicesOf("centroid", m, sub)))
      .toDF("cid", "j", "csub")
      .join(broadcast(codebook.withColumnRenamed("centroid", "rcent")), "j")
      .select(col("cid"), (col("j") * ksub + col("c")).as("idx"),
        expr("aggregate(zip_with(csub, rcent, " +
          "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "0D, (a, v) -> a + v)").as("cr"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(idx, cr))), s -> s.cr)")
        .as("crs"))
    // nlist rows, broadcast to every gated pair: materialized like the
    // codebook so it is derived once
    val lists = crosses.join(
      c.centroids.select(col("cid"), expr("aggregate(centroid, 0D, " +
        "(a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))").as("coarse2")),
      "cid")
      .localCheckpoint(true)
    new VectorIndex(Some(c), Some(Pq(codebook,
      encodeAgainst(resid, codebook, m, sub, "residual"), m, sub, ksub,
      Some(lists))))
  }

  /** Per-vector compact code word: `(vec_id, code: array<int>)` with
    * `code[j]` = the subspace-j centroid id.
    */
  private def compactCodes(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id").agg(expr(
      "transform(array_sort(collect_list(struct(j, c))), s -> s.c)")
      .as("code"))

  /** Per-query flat ADC lookup table: `pds[j*ksub + c]` = partial dot of
    * the query's j-th slice with centroid (j, c); `c2s` likewise holds
    * centroid squared norms. One row per query (m·ksub doubles) —
    * broadcast-sized, and a vector scores with m array lookups instead
    * of m joined rows.
    */
  private def adcLut(q: DataFrame, pq: Pq): DataFrame =
    q.select(col("query_id"), col("qn"), posexplode(slicesOf("qv", pq.m, pq.sub)))
      .toDF("query_id", "qn", "j", "qsub")
      .join(broadcast(pq.codebook), "j")
      .select(col("query_id"), col("qn"),
        (col("j") * pq.ksub + col("c")).as("idx"),
        expr("aggregate(zip_with(qsub, centroid, " +
          "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "0D, (a, v) -> a + v)").as("pd"),
        expr("aggregate(centroid, 0D, " +
          "(a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))").as("c2"))
      .groupBy("query_id", "qn")
      .agg(
        expr("transform(array_sort(collect_list(struct(idx, pd))), s -> s.pd)")
          .as("pds"),
        expr("transform(array_sort(collect_list(struct(idx, c2))), s -> s.c2)")
          .as("c2s"))

  /** The probe gate: each query's `nprobe` nearest coarse lists by cosine
    * to the broadcast centroids, ties to the lowest cid, as `(query_id,
    * qv, qn, pcid, qdotc)` — `qdotc = dot(query, centroid)` is the
    * residual score's coarse term. The list id is renamed `pcid`: both
    * sides of the gate join descend from the same centroid relation, and
    * a bare `cid === cid` would resolve to one attribute (trivially true).
    */
  private def probeGate(q: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val scored = q.crossJoin(broadcast(centroids))
      .withColumn("qdotc", dot(col("qv"), col("centroid")))
      .withColumn("ccos", col("qdotc") / (col("qn") * norm(col("centroid"))))
    keepTop(scored, nprobe, Seq("query_id"), col("ccos").desc, col("cid").asc)
      .select(col("query_id"), col("qv"), col("qn"), col("cid").as("pcid"),
        col("qdotc"))
  }

  /** Approximate top-k through `index` for each query (self excluded).
    * With a coarse quantizer, each query scans only its `nprobe` nearest
    * lists (`nprobe` is unused without one). Without a PQ table the
    * scanned vectors rank by exact cosine, `(query_id, neighbor_id, cos,
    * rk)`; with one they rank by the ADC cosine against their codes,
    * `(query_id, neighbor_id, acos, rk)`.
    *
    * ADC sums `pds[j*ksub + code[j]]` over j ascending as m unrolled
    * `element_at` terms: an explicit left-to-right order, so the sum and
    * the ranking are bit-identical on any IEEE engine, and every term
    * stays inside whole-stage codegen (a higher-order `aggregate` fold
    * drops the hot loop to interpreted evaluation — measured 2× slower
    * at sf1). The query set and every index-sized relation (centroids,
    * probe set, lookup tables) arrive by broadcast; the corpus side never
    * shuffles through a join.
    */
  def search(index: VectorIndex, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    requirePositive("k", k)
    requirePositive("nprobe", nprobe)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val probes = index.coarse.map(c => probeGate(q, c.centroids, nprobe))
    index.pq match {
      case None =>
        val scored = index.coarse.get.assigned
          .withColumn("cn", norm(col("embedding")))
          .join(broadcast(probes.get),
            col("cid") === col("pcid") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (dot(col("qv"), col("embedding")) / (col("qn") * col("cn")))
              .as("cos"))
        nearest(scored, k, "cos")
      case Some(pq) =>
        val codes = compactCodes(pq.codes)
        val lut = broadcast(adcLut(q, pq))
        val pairs = index.coarse.fold(codes.crossJoin(lut)) { c =>
          val gated = codes.join(c.assigned.select(col("vec_id"), col("cid")),
              "vec_id")
            .join(broadcast(probes.get.select(col("query_id").as("pq_query"),
              col("pcid"), col("qdotc"))), col("cid") === col("pcid"))
          pq.residual.fold(gated)(lists => gated.join(broadcast(lists), "cid"))
            .join(lut, col("pq_query") === col("query_id"))
        }
        def fold(arr: String) = (0 until pq.m).map(j =>
          element_at(col(arr),
            element_at(col("code"), j + 1) + lit(j * pq.ksub) + 1))
          .reduce(_ + _)
        val acos = pq.residual match {
          case None => fold("pds") / (col("qn") * sqrt(fold("c2s")))
          case Some(_) => (col("qdotc") + fold("pds")) /
            (col("qn") * sqrt(col("coarse2") + lit(2.0) * fold("crs") +
              fold("c2s")))
        }
        nearest(pairs.where(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            acos.as("acos")), k, "acos")
    }
  }

  /** All corpus pairs with cosine >= `minCos` (embedding near-dup sweep;
    * validation-scale all-pairs — at 100 TB gate through [[lshBuckets]]
    * first).
    */
  def nearDupPairs(corpus: DataFrame, minCos: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("id1"), col("embedding").as("e1"))
      .withColumn("n1", norm(col("e1")))
    val b = corpus.select(col("vec_id").as("id2"), col("embedding").as("e2"))
      .withColumn("n2", norm(col("e2")))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Per-label mean embedding (class centroids): the pooled
    * representation that backs nearest-class-mean classification,
    * per-class drift monitoring, and chunk→document embedding pooling
    * (group by doc instead of label). Sums run per dimension in vec_id
    * order over a sorted collected list — bit-identical across engines
    * and partitionings ([[graft.ops.TextAnalysis.bm25TopK]]'s ordered-
    * fold convention) — then reassemble into an array in dimension order.
    *
    * Shape at 100 TB: vectors explode to (group, dim, value) rows — a
    * d× narrow inflation — then ONE (group, dim) aggregation and one
    * group-grain reassembly; per-partition state stays bounded (one
    * (group, dim) cell at a time), unlike collecting whole vectors per
    * group. The fold cost is the price of exact cross-engine replay;
    * drop to float-sum `posexplode` + `avg` when bit-parity isn't
    * needed.
    */
  def labelCentroids(corpus: DataFrame,
      groupCol: String = "label"): DataFrame = {
    val cells = corpus
      .select(col(groupCol), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
    // per-(group, dim) sum folded in vec_id order on native machinery
    // (OrderedSum: same left-to-right addition sequence as the collect
    // fold it replaces — vec_id is unique per cell group, cells non-null)
    val sums = OrderedSum(cells,
      Seq(col(groupCol), col("dim")), Seq(col("vec_id")),
      Seq((col("v").cast("double"), "s")),
      Seq((count(lit(1)), "n")))
    sums.groupBy(col(groupCol))
      .agg(expr("transform(array_sort(collect_list(struct(dim, " +
        "s / n AS m))), c -> c.m)").as("centroid"),
        max("n").as("n_members"))
  }

  /** Cross-group embedding-space similarity matrix: per-group centroids
    * ([[labelCentroids]]' ordered-fold discipline, so every double is
    * bit-identical cross-engine) and the pairwise cosine between each
    * group pair — the embedding-space companion to
    * [[Dedup.sourceOverlapMatrix]]'s lexical report: which sources cover
    * the same semantic territory, feeding mixture and dedup-budget
    * decisions. Returns `(grp1, grp2, cos)` for grp1 < grp2.
    *
    * Shape at 100 TB: ONE (group, dim)-grain aggregation over the corpus
    * (map-side combine; ≤ |groups| × dims rows out) — the corpus is
    * touched once — then the pair expansion runs on that tiny matrix
    * (|groups|² × dims upper bound). The per-pair dot/norm sums fold in
    * dim order over a sorted collect, never a partition-order sum.
    */
  def groupCentroidMatrix(corpus: DataFrame,
      groupCol: String = "label"): DataFrame = {
    val dims = OrderedSum(
        corpus.select(col(groupCol).as("grp"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v"))),
        Seq(col("grp"), col("dim")), Seq(col("vec_id")),
        Seq((col("v").cast("double"), "s")),
        Seq((count(lit(1)), "n")))
      .select(col("grp"), col("dim"), (col("s") / col("n")).as("m"))
    dims.as("a").join(dims.as("b"),
        col("a.dim") === col("b.dim") && col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp1"), col("b.grp").as("grp2"),
        col("a.dim").as("dim"), col("a.m").as("ma"), col("b.m").as("mb"))
      .groupBy("grp1", "grp2")
      .agg(sort_array(collect_list(
        struct(col("dim"), col("ma"), col("mb")))).as("ds"))
      .select(col("grp1"), col("grp2"),
        (expr("aggregate(ds, 0D, (a, x) -> a + x.ma * x.mb)") /
          (sqrt(expr("aggregate(ds, 0D, (a, x) -> a + x.ma * x.ma)")) *
            sqrt(expr("aggregate(ds, 0D, (a, x) -> a + x.mb * x.mb)"))))
          .as("cos"))
  }

  /** Nearest-class-mean classification: assign every corpus vector the
    * label of its most-cosine-similar class centroid ([[labelCentroids]]
    * over the `labeled` exemplar set). The standard cheap weak-labeler /
    * taxonomy-assignment pass over an embedded corpus: no training beyond
    * one mean per class, yet calibrated enough to route documents by
    * topic at corpus scale. Ties break toward the smallest label via an
    * order-inverting struct min — `min(struct(-cos, label))` picks max
    * cosine then min label in ONE aggregate with map-side combine, so no
    * per-vector window shuffle is needed.
    *
    * Shape at 100 TB: the bounded centroid table broadcasts; scoring is a
    * narrow |labels|-way expansion per vector followed by one vec-grain
    * aggregation. All dot/norm sums fold in array order (bit-identical
    * across engines).
    */
  def classifyByCentroid(corpus: DataFrame, labeled: DataFrame,
      groupCol: String = "label"): DataFrame = {
    val cents = labelCentroids(labeled, groupCol)
      .select(col(groupCol).as("pred"), col("centroid"))
      .withColumn("cnorm", sqrt(aggregate(
        transform(col("centroid"), c => c * c),
        lit(0.0), (a, v) => a + v)))
    corpus
      .select(col("vec_id"), col("embedding"))
      .withColumn("vnorm", norm(col("embedding")))
      .crossJoin(broadcast(cents))
      .withColumn("cos", aggregate(
        zip_with(col("embedding"), col("centroid"),
          (x, c) => x.cast("double") * c),
        lit(0.0), (a, v) => a + v) / (col("vnorm") * col("cnorm")))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cos")).as("nc"), col("pred").as("pl"))).as("m"))
      .select(col("vec_id"), col("m.pl").as("pred_label"),
        (-col("m.nc")).as("cos"))
  }

  /** Deterministic ±1 sign for random-projection cell (k, d): +1 iff the
    * first hex digit of md5("rp:k:d") is >= 8 — one fair md5 bit,
    * replayable by any engine with md5 and computable driver-side so the
    * projection matrix is a literal (no matrix-table join).
    */
  private def rpSign(k: Int, d: Int): Double = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$k:$d".getBytes("UTF-8"))
    if (((dig(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection: embed `dims`-dimensional
    * vectors into `outDims` dimensions as `rp[k] = Σ_d v[d]·sign(k,d) /
    * √outDims` with the deterministic ±1 matrix of [[rpSign]] (the
    * Achlioptas 2003 database-friendly construction, density 1). Pairwise
    * distances are preserved within the JL distortion bound in
    * expectation, so ANN / clustering / near-dup stages can run on the
    * reduced vectors at `outDims/dims` of the I/O and arithmetic — the
    * standard pre-ANN pass when production embeddings are 768-wide.
    *
    * Purely NARROW: the matrix is ONE literal 2-D weight array folded
    * per row in array order (bit-identical to the SQL oracle's replay);
    * no shuffle, no join, one corpus pass at any scale.
    *
    * The matrix ships as a single `typedLit` constant indexed by a
    * `transform` over the output dimensions, NOT as `outDims × dims`
    * scattered `Literal` nodes: the scattered spelling generated a
    * projection so large that janino spent ~9 s compiling it on the
    * plan's first evaluation (measured at 16×64; once per JVM) — pure
    * fixed cost that lands on whichever sample runs first and poisons
    * single-sample measurements. One constant + one small lambda tree
    * compiles in milliseconds; the per-row arithmetic (each output dim
    * folds x_d·sign(k,d) left-to-right in d order, dims ascending in k
    * order) is unchanged, so every double is bit-identical.
    */
  def randomProject(corpus: DataFrame, outDims: Int, dims: Int): DataFrame = {
    require(outDims >= 1 && dims >= 1, s"bad dims $outDims/$dims")
    val scale = math.sqrt(outDims.toDouble)
    val matrix = typedLit(
      (0 until outDims).map(k => (0 until dims).map(d => rpSign(k, d))))
    val rp = transform(sequence(lit(0), lit(outDims - 1)), k =>
      aggregate(
        zip_with(col("embedding"), element_at(matrix, k + 1),
          (x, s) => x.cast("double") * s),
        lit(0.0), (a, v) => a + v) / scale)
    corpus.withColumn("rp", rp)
  }

  /** Hard-negative mining for contrastive / metric-learning training
    * data: for each query vector, the top `k` most-cosine-similar corpus
    * vectors carrying a DIFFERENT label — maximally confusable
    * non-matches, which is exactly the negative set that makes a
    * contrastive objective informative (random negatives are trivially
    * separable). `queries` must be a subset projection of `corpus` with
    * columns (vec_id, label, embedding).
    *
    * Shape at 100 TB: [[cosineTopK]]'s discipline — norms once per
    * vector, the bounded query set broadcast, the corpus never shuffled;
    * the label-inequality predicate rides the same broadcast
    * nested-loop join that scores the pairs. For unbounded query sets,
    * gate through [[lshBuckets]] / [[search]] candidates first and
    * re-rank the candidates with this.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("label").as("q_label"), col("embedding").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.withColumn("cn", norm(col("embedding")))
    val scored = c.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        (dot(col("qv"), col("embedding")) / (col("qn") * col("cn")))
          .as("cos"))
    nearest(scored, k, "cos")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): prune semantic
    * near-duplicates — paraphrases, boilerplate re-renderings, and
    * translations that no lexical dedup can see — by clustering the
    * embedding space and dropping, within each cluster, every vector with
    * a LOWER-id cluster member at cosine >= `threshold` (the
    * deterministic keep-first form of the paper's one-representative-per-
    * ε-group rule; the min-id survivor is the cluster group's canonical
    * row, mirroring [[Dedup.dropNearDups]]). Returns the surviving rows
    * with their cluster id.
    *
    * Shape at 100 TB: cluster assignment is a narrow broadcast-centroid
    * projection ([[ivfAssign]]); the quadratic cosine scoring
    * is CONFINED to same-cluster pairs — the whole point of clustering
    * first (the paper's key observation: cross-cluster pairs are never
    * semantic duplicates at sensible thresholds), with `nlist` sized so
    * per-cluster lists stay bounded; the drop set comes back through one
    * broadcast-able left-anti join. Deterministic end-to-end: data-point
    * centroids, IEEE double cosine in array order — a SQL oracle replays
    * the exact survivor set.
    */
  def semanticDedup(corpus: DataFrame, nlist: Int,
      threshold: Double): DataFrame = {
    val assigned = ivfAssign(corpus, nlist)
    val a = assigned.select(col("cid"), col("vec_id").as("id_a"),
      col("embedding").as("va")).withColumn("na", norm(col("va")))
    val b = assigned.select(col("cid"), col("vec_id").as("id_b"),
      col("embedding").as("vb")).withColumn("nb", norm(col("vb")))
    val dropped = a.join(b, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
    assigned.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Approximate k-NN graph over the embedding table: each vector's top-k
    * cosine neighbors WITHIN its coarse cluster
    * ([[ivfAssign]]) — the substrate for
    * graph-based curation (SemDeDup's ε-groups, k-NN clustering,
    * density/outlier scoring, graph-propagated quality labels). The
    * cluster confinement is the standard ANN trade: recall loss only for
    * true neighbors that straddle a centroid boundary, in exchange for
    * pair work confined to per-cluster blocks instead of corpus².
    *
    * Shape at 100 TB: narrow broadcast-centroid assignment, ONE
    * same-cluster equi-join (never corpus × corpus), one per-node top-k
    * window; `nlist` sized to the corpus bounds both the join blocks and
    * the window partitions. Deterministic end-to-end (data-point
    * centroids, IEEE cosine in array order, id tie-break) — a SQL oracle
    * replays the exact edge set.
    *
    * Returns (vec_id, neighbor_id, cid, cos, rk) with rk 1..k; vectors
    * alone in their cluster emit no edges (observable as missing
    * vec_ids, not as fabricated neighbors). Zero-norm embeddings are
    * excluded BEFORE the index is even built: cos against one is
    * 0/0 — an ANSI divide-by-zero in assignment, and were it NaN, Spark
    * orders NaN above every double, so a single zero vector would rank
    * as the top neighbor of all its cluster-mates.
    */
  def knnGraph(corpus: DataFrame, nlist: Int, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val assigned = ivfAssign(corpus.where(norm(col("embedding")) > 0), nlist)
    val a = assigned.select(col("cid"), col("vec_id"),
      col("embedding").as("va")).withColumn("na", norm(col("va")))
    val b = assigned.select(col("cid"), col("vec_id").as("neighbor_id"),
      col("embedding").as("vb")).withColumn("nb", norm(col("vb")))
    keepTop(a.join(b, Seq("cid"))
      .where(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"), col("cid"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos")),
      k, Seq("vec_id"), col("cos").desc, col("neighbor_id").asc)
  }

  /** Cluster topic terms (BERTopic-style c-TF-IDF): cluster the corpus
    * with the deterministic IVF quantizer, pool each cluster's documents
    * into one pseudo-document, and rank terms by
    * `score(t, c) = tf(t, c) · ln(1 + A / f(t))` where `f(t)` is the
    * term's corpus frequency and `A` the average tokens per cluster —
    * the class-based TF-IDF that surfaces what a cluster is ABOUT while
    * damping corpus-wide filler. Returns the top `topK` terms per
    * cluster `(cid, rk, term, tf, score)`, ties broken by term.
    *
    * Shape at 100 TB: the embedding side pays the IVF assignment
    * (broadcast centroids, one argmin); the text side ONE tokenize into a
    * (cluster, term) aggregation — grain `|clusters| × |vocab|`, already
    * collapsed before the corpus-frequency join and the tiny broadcast
    * stats row. The ranking window runs on that collapsed relation, so
    * nothing downstream of the two first-pass aggs scales with corpus
    * row count. Deterministic end-to-end (data-point centroids, integer
    * counts, one `ln`) — a SQL oracle replays the whole thing.
    */
  def clusterTopics(emb: DataFrame, docs: DataFrame, nlist: Int,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK=$topK must be >= 1")
    val assigned = ivfAssign(emb, nlist).select(col("vec_id"), col("cid"))
    val toks = docs.join(assigned, col("doc_id") === col("vec_id"))
      .select(col("cid"), explode(split(col("text"), " ")).as("term"))
    val tfc = toks.groupBy("cid", "term").agg(count(lit(1)).as("tf"))
    val fT = tfc.groupBy("term").agg(sum("tf").as("f"))
    val stats = tfc.agg(
      (sum("tf").cast("double") / countDistinct("cid")).as("a"))
    keepTop(tfc.join(fT, "term").crossJoin(broadcast(stats))
      .withColumn("score", col("tf") * log(lit(1.0) + col("a") / col("f"))),
      topK, Seq("cid"), col("score").desc, col("term").asc)
      .select("cid", "rk", "term", "tf", "score")
  }

  /** Greedy k-center coreset selection (farthest-point traversal): start
    * from the smallest `vec_id`, then repeatedly pick the point whose
    * distance to its NEAREST already-chosen center is largest (squared
    * Euclidean; ties to the smallest id) — the classic 2-approximation
    * to the k-center cover, and the standard diverse-subset pass for
    * labeling budgets, eval-set seeding, and prototype selection (pure
    * random sampling over-picks dense regions; this maximizes spread).
    * Returns `(rk, vec_id, d2)` with `d2` the squared distance at
    * selection time (0 for the seed; monotonically non-increasing — the
    * classic cover-radius curve).
    *
    * Selection is BATCHED: each distributed pass collects the
    * top-`batch` farthest candidates (score desc, vec_id asc) WITH
    * their vectors, and the driver replays the sequential greedy rule
    * inside the batch while it remains PROVABLY correct:
    *
    *   - the batch head is the true next center (same ordering as the
    *     global argmax);
    *   - after accepting a center, every candidate's score updates to
    *     `min(score, d2 to the new center)` (double arithmetic
    *     identical to the [[graft.functions.FloatDot]] expression);
    *   - a further candidate is accepted only while its score is
    *     STRICTLY above the batch threshold `T` (the smallest
    *     collected original d2): every point outside the batch has
    *     current score ≤ its d2 ≤ T, so an in-batch score > T cannot
    *     be beaten outside — when the best in-batch score falls to T
    *     or below, the batch ends and a fresh distributed pass
    *     recomputes. (Acceptance at exactly T would be unsound: an
    *     outside point tied at T could win the vec_id tie-break.)
    *
    * A batch that collects the whole remaining corpus (fewer than
    * `batch` rows) has no outside points, so it drains sequentially to
    * the end. `batch = 1` is one pass per pick, and adversarially tied
    * geometry degrades to it; spread data takes close to k/batch
    * passes.
    *
    * Shape at 100 TB: ≈ k/batch rounds, each ONE narrow corpus pass
    * that folds the min distance over the ≤ k chosen centers (a literal
    * array) inside each row, plus a global TakeOrdered(batch) (no
    * shuffle of the corpus); the driver holds ≤ k + batch rows.
    * Deterministic end-to-end: float dot products in index order,
    * integer tie-breaks, no RNG.
    */
  def kCenters(corpus: DataFrame, k: Int, batch: Int = 16): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(batch >= 1, s"batch=$batch must be >= 1")
    val s2 = corpus.sparkSession; import s2.implicits._
    val base = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    val seedOpt = base.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding"), col("n2")).collect()
      .headOption
    if (seedOpt.isEmpty) // empty corpus: empty selection, not an exception
      return s2.emptyDataset[(Int, Long, Double)].toDF("rk", "vec_id", "d2")
    // same double arithmetic as the FloatDot expression + the d2 column
    def dotD(a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def d2(n2a: Double, ea: Seq[Float], n2b: Double,
        eb: Seq[Float]): Double = n2a + n2b - 2.0 * dotD(ea, eb)
    val seed = seedOpt.get
    var chosen = Vector((seed.getLong(0), seed.getSeq[Float](1), 0.0,
      seed.getDouble(2)))
    var exhausted = false
    while (chosen.length < k && !exhausted) {
      // (c_n2, c_emb) in chosen order; array_min keeps the first of
      // equal values, as `min`'s `least` update does
      val centers = typedLit(chosen.map { case (_, e, _, n2) => (n2, e) })
      val cand = base
        .where(!col("vec_id").isin(chosen.map(_._1): _*))
        .select(col("vec_id"), array_min(transform(centers, c =>
            col("n2") + c("_1") - lit(2.0) * dot(col("embedding"), c("_2"))))
          .as("d2"), col("n2"), col("embedding"))
        .orderBy(col("d2").desc, col("vec_id").asc)
        .limit(batch).collect()
      if (cand.isEmpty) exhausted = true
      else {
        // candidate pool: (id, score, n2, emb); T bounds every outside
        // point's score unless the batch holds the whole remainder
        var pool = cand.map(r => (r.getLong(0), r.getDouble(1),
          r.getDouble(2), r.getSeq[Float](3))).toVector
        val t = if (cand.length < batch) Double.NegativeInfinity
          else pool.map(_._2).min
        var first = true
        var batching = true
        while (batching && pool.nonEmpty && chosen.length < k) {
          val best = pool.minBy { case (id, s, _, _) => (-s, id) }
          if (first || best._2 > t) {
            chosen = chosen :+ ((best._1, best._4, best._2, best._3))
            pool = pool.filterNot(_._1 == best._1).map {
              case (id, s, n2c, e) =>
                (id, math.min(s, d2(n2c, e, best._3, best._4)), n2c, e)
            }
            first = false
          } else batching = false
        }
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _, d2v, _), i) => (i + 1, id, d2v) }
      .toDF("rk", "vec_id", "d2")
  }

  /** Label-noise scores by k-NN disagreement (confident-learning-style
    * QA for labeled training sets): for each vector, the fraction of its
    * [[knnGraph]] neighbors whose label differs —
    * `noise_score = n_disagree / k_eff` (high score = the point sits in
    * a region of another class: a mislabel, an outlier, or a class
    * boundary worth auditing). `k_eff` ≤ k in clusters smaller than
    * k + 1, so downstream filters can demand a minimum neighborhood.
    *
    * Shape at 100 TB: [[knnGraph]]'s cluster-confined neighbor pass (one
    * same-cluster equi-join + a per-node window, never corpus²) plus two
    * narrow label joins on the vec_id key and one aggregation back to
    * the vector grain.
    */
  def labelNoiseScores(corpus: DataFrame, nlist: Int, k: Int): DataFrame = {
    val lbl = corpus.select(col("vec_id"), col("label"))
    knnGraph(corpus, nlist, k)
      .join(lbl, "vec_id")
      .join(lbl.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("n_label") =!= col("label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("noise_score",
        col("n_disagree").cast("double") / col("k_eff"))
  }

  /** TwoNN intrinsic-dimension estimate of an embedding corpus (Facco
    * et al. 2017): for each point, the ratio of its SECOND-nearest to
    * nearest squared euclidean distance carries the local dimension;
    * the MLE over the corpus is `d = 2n / Σ ln(d²₂/d²₁)` (the factor 2
    * because squared distances double the log-ratio). The signal a
    * curation team reads BEFORE trusting cosine thresholds or PQ
    * codebook sizes: a 768-dim embedding column whose intrinsic
    * dimension is 11 clusters, quantizes, and near-dups like an
    * 11-dim space, not a 768-dim one.
    *
    * Points with an EXACT duplicate (d²₁ = 0) carry no scale
    * information and are excluded (their count is reported). Returns
    * ONE row `(n_points, n_zero_r1, id_mle)`.
    *
    * Shape: all-pairs — the AUDIT tier, like [[nearDupPairs]]: run it
    * on a gated sample (the estimator converges fast in n); at 100 TB
    * feed LSH/IVF candidate neighbors instead of the full cross.
    */
  def twoNN(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = emb.select(col(idCol).as("i"), col(vecCol).as("va"))
      .withColumn("na", dot(col("va"), col("va")))
    val b = emb.select(col(idCol).as("j"), col(vecCol).as("vb"))
      .withColumn("nb", dot(col("vb"), col("vb")))
    val pairs = a.join(b, col("i") =!= col("j"))
      .select(col("i"), col("j"),
        (col("na") + col("nb") - lit(2.0) * dot(col("va"), col("vb")))
          .as("d2"))
    val top2 = keepTop(pairs, 2, Seq("i"), col("d2").asc, col("j").asc)
      .groupBy("i")
      .agg(min(when(col("rk") === 1, col("d2"))).as("r1"),
        min(when(col("rk") === 2, col("d2"))).as("r2"))
    top2.agg(
      sum(when(col("r1") > 0, 1L).otherwise(0L)).as("n_points"),
      sum(when(col("r1") <= 0, 1L).otherwise(0L)).as("n_zero_r1"),
      (lit(2.0) * sum(when(col("r1") > 0, 1L).otherwise(0L)) /
        sum(when(col("r1") > 0, log(col("r2") / col("r1")))))
        .as("id_mle"))
  }

  /** Energy distance between every pair of label groups — the
    * bandwidth-free two-sample statistic for embedding-distribution
    * drift (Székely & Rizzo): `E(A,B) = 2·E‖x−y‖ − E‖x−x′‖ − E‖y−y′‖`,
    * zero (in population) iff the distributions coincide — the SAMPLE
    * statistic fluctuates around 0 for same-distribution groups and
    * may dip slightly negative. The distribution-shift gate
    * an embedding corpus runs between snapshots, sources, or
    * augmentation arms — no kernel bandwidth to tune (the MMD
    * pitfall). Returns `(label_a, label_b, n_a, n_b, energy)` per
    * unordered label pair; within-group means use distinct pairs
    * (i < j, the unbiased form).
    *
    * Shape: one all-pairs frame feeds BOTH the cross and within sums —
    * the audit tier ([[nearDupPairs]] note applies: gate or sample at
    * 100 TB).
    */
  def energyDistance(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val a = emb.select(col(idCol).as("i"), col(vecCol).as("va"),
      col(labelCol).as("la"))
      .withColumn("na", dot(col("va"), col("va")))
    val b = emb.select(col(idCol).as("j"), col(vecCol).as("vb"),
      col(labelCol).as("lb"))
      .withColumn("nb", dot(col("vb"), col("vb")))
    // per-pair distances QUANTIZED to nanos before summing (the
    // engine's decimal discipline): group sums become exact integers,
    // so Spark's partition-order float summation and any oracle's
    // scan-order summation agree bit for bit
    val pairs = a.join(b, col("i") < col("j"))
      .select(col("la"), col("lb"),
        round(sqrt(greatest(col("na") + col("nb") -
          lit(2.0) * dot(col("va"), col("vb")), lit(0.0))) * 1e9, 0)
          .cast("long").as("d"))
    val sums = pairs
      .select(least(col("la"), col("lb")).as("ga"),
        greatest(col("la"), col("lb")).as("gb"), col("d"))
      .groupBy("ga", "gb").agg(sum("d").as("sd"), count(lit(1)).as("np"))
    val counts = emb.groupBy(col(labelCol).as("g"))
      .agg(count(lit(1)).as("n"))
    sums.where(col("ga") =!= col("gb"))
      .join(counts.select(col("g").as("ga"), col("n").as("n_a")), "ga")
      .join(counts.select(col("g").as("gb"), col("n").as("n_b")), "gb")
      .join(sums.where(col("ga") === col("gb"))
        .select(col("ga").as("wa"), col("sd").as("saa")),
        col("ga") === col("wa"), "left")
      .join(sums.where(col("ga") === col("gb"))
        .select(col("gb").as("wb"), col("sd").as("sbb")),
        col("gb") === col("wb"), "left")
      .select(col("ga").as("label_a"), col("gb").as("label_b"),
        col("n_a"), col("n_b"),
        // a singleton group has NO within-group pairs: its spread term
        // is unknowable, so the statistic is NULL (the olsCols
        // degenerate-case convention), never a silently inflated
        // cross-term pseudo-value
        (when(col("n_a") >= 2L && col("n_b") >= 2L,
          (lit(2.0) * col("sd") / (col("n_a") * col("n_b"))
            - lit(2.0) * col("saa") /
                (col("n_a") * (col("n_a") - 1L))
            - lit(2.0) * col("sbb") /
                (col("n_b") * (col("n_b") - 1L))) / 1e9))
          .as("energy"))
  }
}
