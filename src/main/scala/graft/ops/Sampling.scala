package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.word_ngrams

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Everything here is keyed on a CONTENT hash, not an RNG: the same
  * document lands in the same split/sample on every run, on any engine
  * (md5 arithmetic is replayable in the DuckDB oracle), and exact
  * duplicates land in the same split — which is the property that stops
  * train/test leakage when splits are combined with near-dedup. All ops
  * are narrow single-pass projections/filters: no shuffle, no driver
  * state, unchanged at 100 TB.
  */
object Sampling {

  /** Uniform [0, 1) draw from the first four md5 hex digits of `salt || c`
    * (16 bits — plenty for split/sample boundaries at percent
    * granularity). The salt makes draws for DIFFERENT purposes
    * independent: without it, rows surviving a `u < rate` sample all
    * carry small `u` and would pile into the first split bucket when the
    * same draw decided the split.
    */
  def hashUnit(c: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), c)), 1, 4), 16, 10)
      .cast("double") / 65536.0

  /** Append a `split` column assigning each row to the first label whose
    * cumulative weight exceeds the row's content-hash draw — e.g.
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`. Weights must sum
    * to 1 (the last label absorbs rounding).
    */
  def contentSplit(df: DataFrame, weights: Seq[(String, Double)],
      textCol: String = "text"): DataFrame =
    df.withColumn("split",
      splitLabel(hashUnit(col(textCol), "split:"), weights))

  /** First label whose cumulative weight exceeds the unit draw `u`
    * (the last label absorbs rounding). Shared by [[contentSplit]] and
    * [[clusterAwareSplit]] so both resolve boundaries identically.
    */
  private def splitLabel(u: Column,
      weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $weights")
    val cuts = weights.scanLeft(0.0)(_ + _._2).tail
    weights.init.zip(cuts.init).foldRight(
      lit(weights.last._1): Column) { case (((label, _), cut), rest) =>
      when(u < cut, label).otherwise(rest)
    }
  }

  /** [[contentSplit]] at the CLUSTER grain: the split draw hashes the
    * row's cluster id (its own `idCol` when `clusters` has no row for
    * it), so every member of a duplicate/near-duplicate cluster lands
    * in the SAME split — the leakage-safe assignment a pipeline needs
    * once it knows its corpus has near-dups: contentSplit alone keys on
    * exact text, so two near-identical documents can straddle
    * train/test and leak. `clusters` is any `(idCol, cluster_id)`
    * relation — exact-dup groups, [[graft.ops.Dedup]] connected
    * components, LSH buckets — the operator doesn't care how clusters
    * were found.
    *
    * Shape at 100 TB: ONE equi-join of the corpus onto the cluster
    * relation (cluster relations are dup-group-sized — orders of
    * magnitude smaller than the corpus, usually broadcastable; AQE
    * picks that up at runtime) followed by the same narrow hash-fold
    * projection as [[contentSplit]]. No other shuffle.
    */
  def clusterAwareSplit(df: DataFrame, clusters: DataFrame,
      weights: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    val cl = clusters.select(col(idCol).as("__csid"),
      col("cluster_id").as("__cluster"))
    df.join(cl, df(idCol) === cl("__csid"), "left")
      .withColumn("split", splitLabel(hashUnit(
        coalesce(col("__cluster"), df(idCol)).cast("string"),
        "csplit:"), weights))
      .drop("__csid", "__cluster")
  }



  /** Deterministic EPOCH SHUFFLE — the data-loading order a training run
    * actually consumes: a reproducible pseudo-random permutation of the
    * corpus per epoch, as a dense 1-based `epoch_pos`. Order is
    * (md5-derived 60-bit draw salted by the epoch, then `idCol`), so
    *   - the same epoch always replays the same order on any cluster
    *     (restart-safe, resumable from a position);
    *   - different epochs are independent permutations (no fixed
    *     inter-document adjacency across epochs);
    *   - no `rand()`: positions come from
    *     [[graft.ops.Layout.globalRank]]'s range sort and per-partition
    *     offsets — no single-partition window at any corpus size.
    *
    * Feed `epoch_pos` to [[graft.ops.Curation.contextWindows]] as the
    * curriculum key to pack the epoch stream, or range-write by it for
    * sequential-read training shards.
    */
  def epochShuffle(df: DataFrame, epoch: Int,
      idCol: String = "doc_id"): DataFrame = {
    // 15 hex digits (< 2^60, the engine's hex15 convention): a 32-bit
    // draw would collide past ~10^5 rows (birthday bound) and colliding
    // docs would ride in ascending-id runs EVERY epoch — a small but
    // systematic non-randomness at corpus scale. At 60 bits the first
    // collision is expected past ~10^9 rows; residual ties still break
    // by id, deterministically.
    val draw = conv(substring(md5(concat(lit(s"epoch:$epoch:"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    graft.ops.Layout.globalRank(df.withColumn("__es_draw", draw),
        "__es_draw", idCol, rankCol = "epoch_pos")
      .drop("__es_draw")
  }

  /** [[epochShuffle]] for a WHOLE TRAINING RUN in one pass: the
    * per-epoch positions for every epoch in `epochs` at once, as
    * `(epoch, epoch_pos)` rows — an E-epoch loader would otherwise pay
    * E full rank passes over the same corpus. Per-epoch output is
    * bit-identical to `epochShuffle(df, e)` (same 60-bit salted draw,
    * same (draw, id) order, same dense 1-based positions): callers can
    * mix the two freely and a resumed run can re-derive any single
    * epoch cheaply.
    *
    * Why this doesn't call [[graft.ops.Layout.globalRank]] once per
    * epoch: the rank key HERE is an md5 draw — uniform on [0, 2^60) by
    * construction — so a fixed monotone bucket split (top `b` bits of
    * the draw) is balanced within noise, and per-(epoch, bucket) counts
    * from ONE partial-agg pass give exact offsets for every epoch at
    * once; the general operator samples range bounds and sorts because
    * real keys are arbitrarily skewed, and it would do so E times.
    * Shape: one narrow epoch-explode over the checkpointed
    * input (rows ×E), one partial-agg stats pass, one window
    * partitioned by (epoch, bucket) — never a global sort, no driver
    * state beyond E·numBuckets offsets. Failures are loud: null ids are
    * refused, and a bucket past `maxBucketRows` fails with the count
    * (only reachable when corpus/numBuckets genuinely exceeds the cap —
    * raise numBuckets).
    */
  def epochStreams(df: DataFrame, epochs: Seq[Int],
      idCol: String = "doc_id", numBuckets: Int = 1024,
      maxBucketRows: Long = 1L << 23): DataFrame = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    require(epochs.distinct.size == epochs.size,
      s"duplicate epochs: $epochs")
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets=$numBuckets must be in [1, 2^20]")
    require(maxBucketRows >= 1, s"maxBucketRows=$maxBucketRows must be >= 1")
    for (c <- df.columns)
      require(c != "epoch" && c != "epoch_pos" && !c.startsWith("__es_"),
        s"epochStreams: input already has a column named '$c' — rename " +
          "it (the operator appends epoch/epoch_pos and uses __es_* " +
          "internally)")
    // same single-execution contract as globalRank: offsets and the
    // final ranked plan must see the SAME rows
    val base = df.localCheckpoint()
    val b = if (numBuckets <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(numBuckets.toLong - 1L)
    val draw = conv(substring(md5(concat(lit("epoch:"),
      col("epoch").cast("string"), lit(":"),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val exploded = base
      .withColumn("epoch", explode(typedLit(epochs)))
      .withColumn("__es_draw", draw)
      .withColumn("__es_b",
        if (b == 0) lit(0) else shiftright(col("__es_draw"), 60 - b)
          .cast("int"))
    val stats = exploded
      .groupBy(col("epoch"), col("__es_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__es_draw").isNull, 1L).otherwise(0L)).as("nnull"))
      .collect()
    val nulls = stats.map(_.getLong(3)).sum
    if (nulls > 0L)
      throw new IllegalArgumentException(
        s"epochStreams: idCol '$idCol' has null values in $nulls " +
          "(epoch, row) pairs — positions over nulls are undefined; " +
          "filter them first")
    val worst = if (stats.isEmpty) 0L else stats.map(_.getLong(2)).max
    if (worst > maxBucketRows)
      throw new IllegalStateException(
        s"epochStreams: a draw bucket holds $worst rows " +
          s"(> maxBucketRows=$maxBucketRows) — raise numBuckets; the " +
          "draw is md5-uniform, so this only happens when " +
          "corpus/numBuckets exceeds the cap")
    // exclusive per-epoch prefix sums over buckets in draw order; keys
    // flattened to one long so the broadcast literal is a plain map
    val offsets: Map[Long, Long] = stats
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
      .flatMap { case (epoch, rows) =>
        var acc = 0L
        rows.sortBy(_._2).map { case (_, bucket, n) =>
          val o = (epoch.toLong << 21) + bucket -> acc
          acc = Math.addExact(acc, n)
          o
        }
      }
    val w = Window.partitionBy(col("epoch"), col("__es_b"))
      .orderBy(col("__es_draw").asc, col(idCol).asc)
    exploded
      .withColumn("epoch_pos",
        element_at(typedLit(offsets),
          (col("epoch").cast("long") * lit(1L << 21)) + col("__es_b")) +
          row_number().over(w))
      .drop("__es_draw", "__es_b")
  }

  /** Rendezvous (highest-random-weight) shard assignment — the routing
    * discipline that keeps a 100 TB corpus STABLE under topology change:
    * each row goes to the shard with the highest content-derived weight
    * `hashUnit(id ++ shard)`, so adding a shard moves ONLY the rows the
    * new shard now wins (~1/(S+1) of them) and removing one moves only
    * its own rows — no mod-S reshuffle of everything (PropertySpec pins
    * the minimal-movement invariant). The weight is a 32-bit md5 draw
    * (with 8 shards a 16-bit draw would tie some shard pair on ~1 in
    * 2300 rows — a measurable systematic skew toward low-named shards,
    * not an astronomical rarity); residual ties break to the
    * lexicographically smallest shard name, deterministically.
    *
    * Pure narrow projection — |shards| hash evaluations per row, no
    * shuffle, no driver state; the oracle replays the md5 arithmetic.
    */
  def rendezvousAssign(df: DataFrame, shards: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    require(shards.nonEmpty, "need at least one shard")
    require(shards.distinct.size == shards.size, s"duplicate shards: $shards")
    // array_max compares struct fields in order: weight first, then a
    // DESCENDING name rank, so equal weights resolve to the smallest
    // shard name (max rank), deterministically on any engine
    val sortedSh = shards.sorted
    val weighted = sortedSh.zipWithIndex.map { case (sh, i) =>
      struct(conv(substring(md5(concat(lit("rdv:"),
        col(idCol).cast("string"), lit(":" + sh))), 1, 8), 16, 10)
        .cast("long").as("w"), lit(sortedSh.size - i).as("tb"),
        lit(sh).as("shard"))
    }
    val pick = array_max(array(weighted: _*))
    df.withColumn("shard", pick.getField("shard"))
  }

  /** Keep each row with probability `rates(stratum)` (default
    * `defaultRate`), decided by its content hash — a deterministic
    * stratified sample, e.g. down-weighting over-represented languages in
    * a training mix.
    */
  def stratifiedSample(df: DataFrame, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      textCol: String = "text"): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate): Column) {
      case ((k, r), rest) => when(col(strataCol) === k, r).otherwise(rest)
    }
    df.where(hashUnit(col(textCol), "sample:") < rate)
  }

  /** Probability-proportional-to-size Bernoulli sample: keep each row
    * with probability `rate * min(weight, cap) / cap` — the weighted
    * sampling a training mix uses to favor long/high-quality documents
    * without an RNG. The draw is the usual content-hash unit; the
    * comparison `u * cap < rate * min(w, cap)` uses only IEEE
    * multiply/compare (both correctly rounded, so ANY engine replays the
    * exact inclusion set — no transcendental `pow`/`ln` keys whose last
    * ulp differs between libm and the JVM). `cap` bounds the inclusion
    * probability (weight >= cap → probability exactly `rate`) and keeps a
    * mega-document from being a certainty. Narrow single-pass filter: no
    * shuffle, unchanged at 100 TB.
    */
  def weightedSample(df: DataFrame, rate: Double, weightCol: String,
      cap: Double, textCol: String = "text"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate=$rate must be in [0,1]")
    require(cap > 0.0, s"cap=$cap must be positive")
    df.where(hashUnit(col(textCol), "wsample:") * cap <
      least(col(weightCol).cast("double"), lit(cap)) * rate)
  }

  /** EXACT-size weighted sample WITHOUT replacement per group, in one
    * pass (Efraimidis & Spirakis 2006, log-key form): each row draws
    * `u ∈ (0,1)` from its content hash and scores `key = ln(u) / w`; the
    * k rows with the LARGEST key per group are distributed exactly as k
    * sequential without-replacement draws proportional to `w`. This is
    * what [[weightedSample]] (Bernoulli, random SIZE) can't give: a
    * quota — "exactly 10k docs per source, long docs favored" — without
    * any sequential draw loop. Ordering-equivalent to
    * [[weightedCapPerKey]]'s `u^(1/w)` key (ln is monotone), but built
    * for the case that op's window can't survive: FEW, GIANT groups.
    *
    * Shape at 100 TB: the selection routes through
    * [[graft.ops.TopK.perKey]]'s partial aggregator — each map task
    * keeps at most k candidates per group, so the exchange carries
    * ≤ k·partitions rows per group instead of the whole group. A
    * 2-group/50-billion-row corpus costs two ≤ k·partitions merges, not
    * two single-partition window sorts. Returns the SELECTION
    * `(group, id, wor_rank)` with rank 1..k; recover payloads with a
    * semi-join on `idCol` (at scale that join is the cheap part).
    *
    * Determinism: `u = (h + 0.5) / 65536` from the md5 draw (never 0, so
    * `ln` is finite) and the key is quantized to an exact integer
    * `round(ln(u)/w · 1e12)` — a 1-ulp `ln` disagreement between engines
    * collapses, rank ties break by `idCol`, and a SQL oracle replays the
    * integer key digit-for-digit. |key| ≤ ln(65536/0.5)·1e12 < 2^44 for
    * w ≥ 1, exact in both long and double. Weights below ~2.6e-6 would
    * push the key past the long range (where Spark's non-ANSI cast
    * clamps but other engines error), so the key is clamped EXPLICITLY
    * at −4.6e18 on both the engine and oracle sides: ultra-tiny weights
    * collapse into one bottom-priority tie bucket (they were never
    * going to be drawn) and the selection stays engine-exact.
    */
  def weightedSampleWOR(df: DataFrame, groupCol: String, k: Int,
      weightCol: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val u = hashUnit(col(textCol), "wor:") + lit(0.5 / 65536)
    val keyQ = round(greatest(
      log(u) / col(weightCol).cast("double") * 1e12, lit(-4.6e18)), 0)
    val scored = df.where(col(weightCol) > 0)
      .withColumn("__wor_key", keyQ.cast("long"))
    TopK.perKey(scored, groupCol, "__wor_key", idCol, k)
      .withColumnRenamed("rk", "wor_rank")
      .drop("__wor_key")
  }

  /** Cap the number of rows kept per key at `maxN` (the C4/RefinedWeb
    * "documents per domain" cap that stops one crawl host from dominating
    * the training mix). Survivors are chosen by content-hash rank — the
    * same `maxN` documents survive on every run and engine, with no RNG
    * and no bias toward ingest order. Ties (exact duplicate text under the
    * same key) break by doc_id.
    *
    * Shape at 100 TB: ONE shuffle (the per-key window). Key cardinality is
    * corpus-scale (domains), so per-key groups are small and the window
    * never sees a global order; a skewed mega-key costs one partition's
    * sort, which is what AQE skew handling is for.
    */
  def capPerKey(df: DataFrame, keyCol: String, maxN: Int,
      textCol: String = "text"): DataFrame = {
    require(maxN > 0, s"maxN=$maxN must be positive")
    val w = Window.partitionBy(keyCol)
      .orderBy(hashUnit(col(textCol), "cap:"), col("doc_id"))
    df.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxN).drop("rk")
  }

  /** Greedy token-budget shard assignment: cut the corpus into shards of
    * roughly `budgetTokens` tokens each (the layout a training job
    * consumes). Documents hash into `numBuckets` independent streams —
    * the windowed prefix sum that implements the greedy cut runs per
    * bucket, so the packing parallelizes (one bounded-size window per
    * bucket instead of the single global-order window that would
    * serialize the corpus). A shard never exceeds budget + one document.
    * Appends `n_tokens`, `bucket`, and `shard` ("<bucket>-<seq>").
    * `orderCols` must uniquely key the rows (default doc_id; chunked
    * corpora pass (doc_id, chunk_id)) — a tie in the prefix-sum order
    * would make the greedy cut points engine-dependent.
    */
  def packShards(df: DataFrame, budgetTokens: Long, numBuckets: Int,
      textCol: String = "text",
      orderCols: Seq[String] = Seq("doc_id"),
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    require(budgetTokens > 0 && numBuckets > 0,
      s"budgetTokens=$budgetTokens and numBuckets=$numBuckets must be positive")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val w = Window.partitionBy("bucket").orderBy(orderCols.map(col): _*)
    df
      .withColumn("n_tokens",
        size(Tokenize.tokens(col(textCol), tokenizer)).cast("long"))
      .withColumn("bucket",
        floor(hashUnit(col(textCol), "shard:") * numBuckets).cast("int"))
      .withColumn("shard", concat_ws("-", col("bucket"),
        floor((sum("n_tokens").over(w) - col("n_tokens")) / budgetTokens)
          .cast("long")))
  }

  /** Fixed-length training-example assembly manifest — the pretraining
    * "concat and chunk" pass: within each content-hash bucket, documents
    * concatenate in `orderCols` order and the token stream is cut into
    * examples of exactly `seqLen` tokens (the last example of a bucket
    * may run short). Emits one row per (example, contributing doc) with
    * the doc's 1-based inclusive token subrange `[from_tok, to_tok]` — a
    * manifest the materialization job can apply with a narrow `slice`,
    * so the full text never shuffles twice. Documents cross example
    * boundaries exactly as real LLM pretraining packing does.
    *
    * Shape at 100 TB: the cumulative offset is a PER-BUCKET window (the
    * bucket count bounds per-partition window state — never a global
    * single-partition sort), the boundary explode emits
    * `1 + spans` rows per doc, and everything else is narrow arithmetic.
    * One shuffle total, on the bucket key.
    */
  def packExamples(df: DataFrame, seqLen: Long, numBuckets: Int,
      textCol: String = "text",
      orderCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(seqLen > 0 && numBuckets > 0,
      s"seqLen=$seqLen and numBuckets=$numBuckets must be positive")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val w = Window.partitionBy("bucket").orderBy(orderCols.map(col): _*)
    df
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .where(col("n_tokens") > 0)
      .withColumn("bucket",
        floor(hashUnit(col(textCol), "pack:") * numBuckets).cast("int"))
      .withColumn("tok_end", sum("n_tokens").over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .withColumn("example_id", explode(sequence(
        floor(col("tok_start") / seqLen).cast("long"),
        floor((col("tok_end") - 1) / seqLen).cast("long"))))
      .withColumn("slice_start",
        greatest(col("tok_start"), col("example_id") * seqLen))
      .withColumn("slice_end",
        least(col("tok_end"), (col("example_id") + 1) * seqLen))
      .select(col("bucket"), col("example_id"), col("doc_id"),
        (col("slice_start") - col("tok_start") + 1).as("from_tok"),
        (col("slice_end") - col("tok_start")).as("to_tok"))
  }

  /** Deterministic mixture sampling: downsample each source to its
    * target rate — the data-mixing pass that turns raw per-source corpus
    * volumes into a training mixture (e.g. 100% curated reference, 25%
    * web crawl). A source absent from `rates` is dropped entirely: the
    * mixture is an explicit allowlist, so a new upstream source can never
    * silently leak into a training run at full volume.
    *
    * Draws are content-hashed ([[hashUnit]], salt `"mix:"`): the same
    * document keeps/drops identically on every run and engine, and exact
    * duplicates sample identically. The bounded rates table arrives by
    * broadcast; the corpus side is one narrow filter — no shuffle.
    */
  def mixtureSample(df: DataFrame, rates: Map[String, Double],
      mixCol: String = "source", textCol: String = "text"): DataFrame = {
    require(rates.nonEmpty, "rates must be non-empty")
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0, 1]: $rates")
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF(mixCol, "mix_rate")
    df.join(broadcast(ratesDf), mixCol)
      .where(hashUnit(col(textCol), "mix:") < col("mix_rate"))
      .drop("mix_rate")
  }

  /** Temperature-scaled source balancing (the multilingual-LM mixing
    * rule of Conneau & Lample 2019 / mT5): keep rate per source
    * `r_s = (n_min / n_s)^(1 - alpha)`, so surviving counts are
    * proportional to `n_s^alpha` — `alpha = 1` keeps everything (natural
    * proportions), `alpha = 0` equalizes every source to the smallest,
    * and the usual `alpha ≈ 0.3–0.7` lifts small sources without letting
    * the biggest one drown the mixture. Unlike [[mixtureSample]] the
    * rates are DERIVED from the corpus itself — no hand-tuned allowlist
    * to go stale as source volumes drift.
    *
    * Draws are content-hashed ([[hashUnit]], salt `"tmix:"`):
    * deterministic on every run and engine. Shape at 100 TB: one tiny
    * per-source count aggregation (map-side combined), its global min as
    * a 1-row cross join, rates broadcast back — the corpus-side pass is
    * a single narrow filter, exactly [[mixtureSample]]'s cost.
    */
  def temperatureMixture(df: DataFrame, alpha: Double,
      mixCol: String = "source", textCol: String = "text"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha=$alpha must be in [0, 1]")
    val counts = df.groupBy(mixCol).agg(count(lit(1)).as("n_src"))
    val minN = counts.agg(min("n_src").as("n_min"))
    // the rate rounds to 6 places: pow() may differ by 1 ulp between
    // libm implementations, and the kept set must not hinge on it
    val rates = counts.crossJoin(broadcast(minN))
      .select(col(mixCol),
        round(pow(col("n_min").cast("double") / col("n_src"), 1.0 - alpha),
          6).as("mix_rate"))
    df.join(broadcast(rates), mixCol)
      .where(hashUnit(col(textCol), "tmix:") < col("mix_rate"))
      .drop("mix_rate")
  }

  /** Cluster-balanced subsample over an embedding table: assign every
    * vector to its nearest deterministic coarse centroid
    * ([[Similarity.ivfAssign]]), then keep at most
    * `maxPerCluster` vectors per cluster, chosen in content-hash order.
    * This is the embedding-space form of topic rebalancing: a web corpus
    * is dominated by a few dense modes (boilerplate, SEO spam, one
    * over-represented domain), and capping per semantic cluster flattens
    * the mode distribution the way [[capPerKey]] flattens an explicit
    * key — without needing labels.
    *
    * Deterministic end-to-end: data-point centroids, md5-ordered
    * selection within each cluster (ties impossible — the tiebreak IS
    * the unique vec_id), so a SQL oracle replays the exact survivor set.
    *
    * Shape at 100 TB: assignment is a narrow broadcast-centroid
    * projection (no shuffle); the cap is ONE per-cluster window —
    * bounded-size partitions when `nlist` is sized to the corpus, the
    * same discipline as [[packShards]]' per-bucket windows.
    */
  def clusterBalancedSample(embeddings: DataFrame, nlist: Int,
      maxPerCluster: Int): DataFrame = {
    require(maxPerCluster > 0, s"maxPerCluster=$maxPerCluster must be positive")
    val assigned = Similarity.ivfAssign(embeddings, nlist)
    val w = Window.partitionBy("cid")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned.select(col("vec_id"), col("cid"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxPerCluster)
      .select(col("vec_id"), col("cid"))
  }

  /** Weighted without-replacement sample of `maxN` rows per key
    * (Efraimidis–Spirakis A-Res): each row draws a content-hash
    * `u ∈ [0,1)` and ranks by `u^(1/w)` — the top `maxN` per key are a
    * weighted sample without replacement, so e.g. "5 representative docs
    * per source, longer docs proportionally likelier" needs no per-key
    * weight totals and no rejection loop. Zero/negative weights drop
    * (never sampled). Deterministic: the draw is md5 arithmetic and ties
    * (same u, same w) break by `idCol`, so engines agree row-for-row.
    *
    * Shape at 100 TB: one narrow rank projection + ONE per-key window —
    * identical cost profile to [[capPerKey]], which is the unweighted
    * special case (all weights equal ⇒ rank order is draw order).
    */
  def weightedCapPerKey(df: DataFrame, keyCol: String, weightCol: String,
      maxN: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxN > 0, s"maxN=$maxN must be positive")
    val w = Window.partitionBy(keyCol)
      .orderBy(col("_ares").desc, col(idCol).asc)
    df.where(col(weightCol) > 0)
      .withColumn("_ares",
        pow(hashUnit(col(textCol), "wcap:"), lit(1.0) / col(weightCol)))
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= maxN)
      .drop("_ares", "_rk")
  }

  /** Hashed-n-gram bucket of one gram (DSIR feature hashing): first 8 md5
    * hex digits of "dsir:gram" (32 bits) mod `numBuckets` — the
    * [[Sketch.bucket]] convention, so a SQL oracle replays it digit by
    * digit.
    */
  private[graft] def dsirBucket(gram: Column, numBuckets: Int): Column =
    pmod(conv(substring(md5(concat(lit("dsir:"), gram)), 1, 8), 16, 10)
      .cast("long"), lit(numBuckets.toLong))

  /** Per-document feature grams in a DEFINED order — all unigrams in
    * token order, then all bigrams in token order. The fixed order makes
    * the downstream log-weight fold bit-reproducible across engines.
    *
    * `ts` must be a MATERIALIZED token-array column (not an inline
    * `split(...)`), which `concat` and the `word_ngrams` kernel read
    * separately: an inline split would be re-evaluated per read — worse, a
    * per-element `element_at(split(...))` lambda form measured O(n²) per
    * document (q131 at sf1: 39 s before, ~4 s after a materialized
    * column).
    */
  private def dsirGrams(ts: Column): Column =
    concat(ts, word_ngrams(ts, lit(2)))

  /** Importance weights for data selection via importance resampling
    * (DSIR, Xie et al. 2023): score every raw-corpus document by how much
    * more likely its hashed-n-gram features are under a target-domain
    * bag-of-ngrams model than under the raw-corpus model,
    * `log_w(doc) = Σ_g [ln p̂_target(bucket(g)) − ln p̂_raw(bucket(g))]`
    * with add-`alpha` smoothing over `numBuckets` feature-hash buckets
    * (unigrams + bigrams, the paper's featurization). Documents with
    * `log_w > 0` look more target-like than raw-like; selection takes the
    * top tail (see [[importanceTopK]]) or resamples ∝ exp(log_w).
    *
    * Determinism: both bucket-count models come from exact integer
    * groupBy counts; each gram's log ratio is computed from those
    * integers per engine, and the per-document sum is an ORDERED fold
    * over gram position ([[dsirGrams]]' defined order) — the q117
    * perplexity discipline, so a DuckDB oracle reproduces the doubles to
    * rounding.
    *
    * Shape at 100 TB: the two model aggregations shuffle down to at most
    * `numBuckets` rows each (map-side combine does almost all the work)
    * and come back as broadcasts; the scoring pass is explode → broadcast
    * join → ONE document-grain aggregation. The target corpus is
    * typically tiny (a quality reference like WikiText); the raw corpus
    * is scanned exactly twice (model + scoring), never joined to itself.
    *
    * Returns (idCol, n_feat, log_w) — one row per raw document; an
    * empty text still carries one unigram (the empty string `split`
    * yields), so every raw document scores.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, numBuckets: Int,
      alpha: Double = 1.0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numBuckets > 0, s"numBuckets=$numBuckets must be positive")
    require(alpha > 0, s"alpha=$alpha must be positive (unsmoothed " +
      "buckets with zero target mass would send log_w to -Inf)")
    def model(docs: DataFrame, cnt: String) = docs
      .select(split(col(textCol), " ").as("_ts"))
      .select(explode(dsirGrams(col("_ts"))).as("gram"))
      .select(dsirBucket(col("gram"), numBuckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(cnt))
    val tgt = model(target, "ct")
    val rw = model(raw, "cr")
    val totals = tgt.agg(sum("ct").cast("double").as("nt"))
      .crossJoin(rw.agg(sum("cr").cast("double").as("nr")))
    val ab = alpha * numBuckets
    val grams = raw
      .select(col(idCol), split(col(textCol), " ").as("_ts"))
      .select(col(idCol),
        posexplode(dsirGrams(col("_ts"))).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        dsirBucket(col("gram"), numBuckets).as("bucket"))
    val scored = grams
      .join(broadcast(tgt), Seq("bucket"), "left")
      .join(broadcast(rw), Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("logr",
        log((coalesce(col("ct"), lit(0L)) + lit(alpha)) / (col("nt") + ab)) -
          log((coalesce(col("cr"), lit(0L)) + lit(alpha)) / (col("nr") + ab)))
    // the q117 OrderedSum rewrite: identical pos-ascending addition
    // sequence (pos unique per doc, logr non-null) without the object agg
    graft.ops.OrderedSum(scored, Seq(col(idCol)), Seq(col("pos")),
        Seq((col("logr"), "log_w")), Seq((count(lit(1)), "n_feat")))
      .select(col(idCol), col("n_feat"), col("log_w"))
  }

  /** DSIR selection: the `k` raw documents whose features look most
    * target-like ([[importanceWeights]]), ties broken by id — a global
    * top-k (TakeOrdered), never a full sort.
    */
  def importanceTopK(raw: DataFrame, target: DataFrame, numBuckets: Int,
      k: Int, alpha: Double = 1.0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    importanceWeights(raw, target, numBuckets, alpha, textCol, idCol)
      .orderBy(col("log_w").desc, col(idCol).asc)
      .limit(k)
  }

  /** Purged time-series fold assignment (k-fold CV for temporal data,
    * de Prado-style): the observed time range splits into `k` contiguous
    * equal-width folds, and every row within `embargoUs` of one of its
    * fold's boundaries is flagged `near_boundary` — when fold i is the
    * test set, the caller drops flagged rows from the ADJACENT training
    * folds, so serially-correlated samples cannot leak across the
    * train/test cut ([[contentSplit]] is the right tool for i.i.d. data;
    * this is the one for time series). Appends `fold` (0-based) and
    * `near_boundary` (0/1); all arithmetic is exact integer microseconds,
    * so folds are reproducible and SQL-replayable.
    *
    * Shape at 100 TB: one tiny min/max aggregation broadcast back, then
    * a purely narrow projection — no shuffle of the data itself.
    */
  def purgedTimeFolds(df: DataFrame, tsCol: String, k: Int,
      embargoUs: Long): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    require(embargoUs >= 0, s"embargoUs=$embargoUs must be >= 0")
    val bounds = df.agg(min(col(tsCol)).cast("long").as("__t0"),
      max(col(tsCol)).cast("long").as("__t1"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__w",
        expr(s"(__t1 - __t0 + $k) DIV $k")) // ceil((span+1)/k): max lands in fold k-1
      .withColumn("fold",
        expr(s"CAST((CAST($tsCol AS BIGINT) - __t0) DIV __w AS INT)"))
      .withColumn("__pos",
        expr(s"CAST($tsCol AS BIGINT) - __t0 - fold * __w"))
      .withColumn("near_boundary",
        ((col("__pos") < embargoUs) ||
          (col("__w") - col("__pos") <= embargoUs)).cast("int"))
      .drop("__t0", "__t1", "__w", "__pos")
  }
}
