package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.{sorted_overlap, word_ngrams}

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: exact dedup and MinHash-LSH are the 100 TB paths (one
  * shuffle each on content-hash / band keys, partial aggregation
  * everywhere); the exact pairwise-Jaccard operator is the *validation*
  * path — quadratic within shingle buckets — used to calibrate/verify the
  * probabilistic ones at small scale. All hashes are md5-derived column
  * expressions: deterministic, portable across engines (so the DuckDB
  * oracle can replay them), and codegen-friendly (no UDFs).
  */
object Dedup {

  /** Exact duplicate groups by full-content hash: one shuffle keyed on
    * md5(text), canonical row = min id. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** The near-exact normalization used by production curation stacks
    * (Dolma / CCNet-style "fuzzy exact" dedup): lowercase, strip
    * everything but letters/digits/whitespace, collapse whitespace
    * runs, trim. Catches the re-hosted copy that differs only in
    * casing, punctuation, or spacing — which plain [[exactGroups]]
    * misses and MinHash wastes a full signature pass on. Pure narrow
    * column expression, replayable in SQL.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Near-exact duplicate groups: [[exactGroups]] keyed on the
    * [[normalizeForDedup]] hash instead of the raw text hash. Same
    * 100 TB shape — ONE partial-aggregated shuffle on a 16-byte hash;
    * the normalization adds only narrow CPU at the scan.
    */
  def normalizedGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(normalizeForDedup(col(textCol))).as("norm_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles per document (narrow stage, no UDF).
    * `dedup = false` skips the distinct (a full shuffle of the shingle
    * stream) for consumers whose downstream aggregation is idempotent
    * under duplicates — min-wise hashing is. `tokenizer =
    * [[Tokenize.ScriptAware]]` makes the shingle stream meaningful on
    * CJK/Thai text (whitespace splitting sees a whole CJK line as ONE
    * token, so near-dup detection silently degrades to exact-dedup on
    * those scripts).
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text", dedup: Boolean = true,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    val raw = gramArrays(docs, n, idCol, textCol, tokenizer)
      .select(col("id"), explode(col("grams")).as("shingle"))
    if (dedup) raw.distinct() else raw
  }

  /** `(id, grams)`: each row's word n-grams in text order, repeats kept;
    * a null text or one shorter than `n` tokens yields no row. */
  private def gramArrays(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text",
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    // n = 0 would make "" every document's only shingle: any two
    // documents would then look identical to every Jaccard tier
    require(n >= 1, s"n=$n must be >= 1")
    docs.select(col(idCol).as("id"),
        Tokenize.tokens(col(textCol), tokenizer).as("l"))
      .where(size(col("l")) >= n)
      .select(col("id"), word_ngrams(col("l"), lit(n)).as("grams"))
  }

  /** Hard ceiling on the quadratic bucket expansion (the enforced form
    * of the "candidate volume is linear when per-doc twin density is
    * bounded" invariant): any bucket holding more than this many
    * payloads generates NO pairs and is counted into the query's
    * `graft_bucket_spill_*` observed metric instead of silently costing
    * C(size, 2) candidates. 65536 ids ≈ 2.1e9 pairs per bucket — far
    * above anything a sane banding produces (measured adversarial max:
    * ~8k). The cap also bounds the rows the expansion holds per
    * bucket, so a 10^7-id bucket is counted in one pass, never
    * buffered. A spilled bucket is a DATA pathology (stop-gram prefix,
    * degenerate band, unremoved exact duplicates); the metric names it
    * instead of the operator absorbing it.
    */
  val DefaultMaxBucket: Int = 1 << 16

  /** Unique observation names: Spark requires distinct observed-metric
    * names within a query unless the subplans are identical (a
    * self-union of ONE capped expansion is fine; two different capped
    * ops in one query need different names).
    */
  private val spillSeq = new java.util.concurrent.atomic.AtomicLong()

  /** All ordered id pairs (id1 < id2) inside each bucket of `keyed`,
    * where a bucket is one group of `keys` (see [[bucketPairsOf]]). */
  private def bucketPairs(keyed: DataFrame, keys: Seq[String],
      maxBucket: Int = DefaultMaxBucket,
      strict: Boolean = false): DataFrame =
    bucketPairsOf(keyed, keys, col("id"), maxBucket, strict = strict)
      .select(col("a").as("id1"), col("b").as("id2"))

  /** The bucket pair expansion behind every near-dup, linkage and
    * leakage operator: all payload pairs (a, b), a before b in `payload`
    * order, inside each bucket, where a bucket is one group of non-null
    * `keys`. `payload` is any orderable column (a plain id, or a struct
    * whose first field is the unique id). Equal payloads pair like any
    * others, so the pair multiset does not depend on how ties sort.
    *
    * Shape (the reduce side of Vernica, Carey & Li, SIGMOD 2010): one
    * hash exchange on `keys`, one sort on (keys, payload), then one pass
    * over each sorted bucket that holds at most `maxBucket` rows and
    * streams its pairs. No self-join, no window, no exchange reuse; the
    * upstream is evaluated once.
    *
    * `aGate`, evaluated per row before the exchange, restricts which
    * rows may be the pair's FIRST element `a`; a null gate counts as
    * false. Every row still serves as `b`.
    *
    * `maxBucket` (see [[DefaultMaxBucket]]) is the enforced ceiling: a
    * larger bucket yields NO pairs. Each bucket of 2 or more rows is
    * recorded in the observed metric `graft_bucket_spill_<n>` (or `obs`,
    * when the caller reads it, see [[spillCertificate]]) with columns
    * `spilled_buckets`, `spilled_ids` and `max_bucket`.
    * `spilled_buckets == 0` is the exactness certificate: the capped
    * expansion then equals the uncapped one. When the query's whole
    * output is empty, AQE's empty-relation propagation can prune the
    * metric's stage from the final plan and `observedMetrics` reads
    * empty; audits that read it keep a non-empty output or run with AQE
    * off (OpsSpec pins both).
    *
    * Strict mode: `strict = true` fails the job at the first oversized
    * bucket (its size and `failOnSpill` are in the message) instead of
    * skipping and counting it. It decides per plan, so building a strict
    * plan never changes session state.
    */
  private[ops] def bucketPairsOf(keyed: DataFrame, keys: Seq[String],
      payload: Column, maxBucket: Int = DefaultMaxBucket,
      obs: Option[org.apache.spark.sql.Observation] = None,
      strict: Boolean = false,
      aGate: Option[Column] = None): DataFrame = {
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be >= 2")
    val rows = keyed
      .select(keys.map(col) :+ payload.as("__p") :+
        aGate.getOrElse(lit(true)).as("__g"): _*)
      .where(keys.map(col(_).isNotNull).reduce(_ && _))
    val keySchema = StructType(keys.map(k => rows.schema(k)))
    val pType = rows.schema("__p").dataType
    val outSchema = StructType(Seq(StructField("a", pType),
      StructField("b", pType), StructField("__bn", LongType)))
    val expanded = rows.groupBy(keys.map(col): _*)
      .as[Row, Row](Encoders.row(keySchema), Encoders.row(rows.schema))
      .flatMapSortedGroups(col("__p"))(
        expandBucket(keys.size, maxBucket, strict))(
        Encoders.row(outSchema))
    // one summary row (null, null, n) per bucket of n >= 2 rows
    val spillMetrics = Seq(
      sum(when(col("__bn") > maxBucket, 1L).otherwise(0L))
        .as("spilled_buckets"),
      sum(when(col("__bn") > maxBucket, col("__bn")).otherwise(0L))
        .as("spilled_ids"),
      max(col("__bn").cast("int")).as("max_bucket"))
    val observed = obs match {
      case Some(o) =>
        expanded.observe(o, spillMetrics.head, spillMetrics.tail: _*)
      case None => expanded.observe(
        s"graft_bucket_spill_${spillSeq.incrementAndGet()}",
        spillMetrics.head, spillMetrics.tail: _*)
    }
    observed.where(col("__bn").isNull).select(col("a"), col("b"))
  }

  /** One sorted bucket of [[bucketPairsOf]]'s rows (keys..., __p, __g)
    * to its output rows (a, b, __bn): at most `maxBucket` rows are held,
    * the rest only counted. */
  private def expandBucket(nKeys: Int, maxBucket: Int,
      strict: Boolean)(key: Row, rows: Iterator[Row]): Iterator[Row] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Row]()
    var n = 0L
    rows.foreach { r => if (n < maxBucket) buf += r; n += 1 }
    if (n < 2) return Iterator.empty
    if (n > maxBucket && strict) throw new IllegalStateException(
      s"bucketPairsOf: bucket of $n ids exceeds maxBucket=$maxBucket " +
        "in strict spill mode (failOnSpill) — remove the degenerate key " +
        "(stop-gram / exact-duplicate prefix) or raise maxBucket")
    val (p, g) = (nKeys, nKeys + 1)
    val pairs =
      if (n > maxBucket) Iterator.empty
      else buf.indices.iterator
        .filter(i => !buf(i).isNullAt(g) && buf(i).getBoolean(g))
        .flatMap { i =>
          val a = buf(i).get(p)
          (i + 1 until buf.size).iterator.map(j => Row(a, buf(j).get(p), null))
        }
    Iterator.single(Row(null, null, n)) ++ pairs
  }

  /** The co-shingle tier's bucket-spill exactness certificate, DRIVER-
    * VISIBLE as a one-row DataFrame: runs the REAL capped pair expansion
    * (the same `bucketPairsOf` every candidate tier routes through) with
    * a readable `Observation`, executes it, and returns
    * `(spilled_buckets, spilled_ids, max_bucket, n_pairs)` —
    * `spilled_buckets == 0` certifies the capped expansion was exact;
    * a non-zero count quantifies exactly how much pathological bucket
    * volume was refused, next to the `n_pairs` that were produced.
    *
    * The certificate action is a `count()` and RIDES AQE as-is (the
    * round-10 AQE toggle is gone): a global count's partial aggregate
    * emits one row per task even over an empty pair stream, so the
    * stage containing the metric never materializes empty and AQE's
    * empty-relation propagation has nothing to prune — unlike the
    * `collect()` shape, where an all-spill run empties the final plan
    * and drops the CollectMetrics node (the read-side corner documented
    * on [[bucketPairsOf]], still real for that shape). OpsSpec pins the
    * certificate under `spark.sql.adaptive.enabled=true` in both the
    * zero-spill and all-spill fixtures.
    */
  def spillCertificate(docs: DataFrame, n: Int,
      maxBucket: Int = DefaultMaxBucket, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val obs = org.apache.spark.sql.Observation(
      s"graft_spill_cert_${spillSeq.incrementAndGet()}")
    val pairs = bucketPairsOf(shingles(docs, n, idCol, textCol),
      Seq("shingle"), col("id"), maxBucket, Some(obs))
    val nPairs = pairs.count()
    val m = obs.get
    def asLong(k: String): Long = m.get(k) match {
      case Some(v: Long) => v
      case Some(v: Int) => v.toLong
      case _ => 0L // no bucket held > 1 id: the aggregate stream was empty
    }
    import spark.implicits._
    Seq((asLong("spilled_buckets"), asLong("spilled_ids"),
      asLong("max_bucket").toInt, nPairs))
      .toDF("spilled_buckets", "spilled_ids", "max_bucket", "n_pairs")
  }

  /** Exact pairwise n-gram Jaccard similarity >= `minJaccard`.
    * Quadratic in co-shingle document pairs — the small-scale oracle for
    * [[minhashCandidates]]; at 100 TB run MinHash first and feed the
    * candidate pairs through this for exact re-scoring.
    */
  def jaccardPairs(docs: DataFrame, n: Int, minJaccard: Double,
      maxBucket: Int = DefaultMaxBucket,
      strict: Boolean = false,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    val sh = shingles(docs, n, tokenizer = tokenizer)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = bucketPairs(sh, Seq("shingle"), maxBucket, strict)
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n_sh").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n_sh").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Exact pairwise n-gram CONTAINMENT: for each co-shingle pair the
    * fraction of the smaller direction's distinct grams found in the
    * other, `c_1in2 = |A∩B| / |A|` and `c_2in1 = |A∩B| / |B|`. Jaccard
    * misses near-supersets — a document quoted whole inside a 100×
    * longer page scores J ≈ 0.01 but containment 1.0 — so this is the
    * measure for quote/wrapper/boilerplate-envelope detection
    * (Broder's resemblance-vs-containment distinction). Kept pairs have
    * `max(c_1in2, c_2in1) >= minContainment`.
    *
    * Same exact-tier shape as [[jaccardPairs]] (one shingle pass, one
    * bucket-pair expansion, quadratic only in co-shingle pairs); at
    * 100 TB gate with [[minhashCandidates]] first and re-score the
    * candidates here.
    */
  def containmentPairs(docs: DataFrame, n: Int,
      minContainment: Double): DataFrame = {
    require(minContainment >= 0.0 && minContainment <= 1.0,
      s"minContainment=$minContainment must be in [0, 1]")
    val sh = shingles(docs, n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = bucketPairs(sh, Seq("shingle"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n_sh").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n_sh").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("n_common").cast("double") / col("n1")).as("c_1in2"),
        (col("n_common").cast("double") / col("n2")).as("c_2in1"))
      .where(greatest(col("c_1in2"), col("c_2in1")) >= minContainment)
  }

  /** Inter-source n-gram overlap matrix: for every pair of corpus
    * sources, the count and Jaccard of shared distinct n-grams — the
    * dataset-governance report that quantifies how much two upstreams
    * duplicate each other (mirrored crawls, syndicated feeds, a vendor
    * reselling another's scrape) BEFORE mixing decides their rates.
    *
    * Shape at 100 TB: one shingle pass deduped to (source, gram) —
    * gram-grain with map-side combine — then the single-branch
    * bucket-pair expansion per gram ([[bucketPairsOf]]): each gram's
    * source list is bounded by |sources| (tiny), so the quadratic step
    * is |sources|² per gram worst-case, never corpus². Output is at most
    * |sources|² rows.
    */
  def sourceOverlapMatrix(docs: DataFrame, n: Int,
      groupCol: String = "source"): DataFrame = {
    val sh = shingles(docs, n, idCol = groupCol)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = bucketPairsOf(sh, Seq("shingle"), col("id"))
      .groupBy(col("a").as("src1"), col("b").as("src2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("id").as("src1"), col("n_sh").as("n1")), "src1")
      .join(sizes.select(col("id").as("src2"), col("n_sh").as("n2")), "src2")
      .select(col("src1"), col("src2"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
  }

  /** Portable MinHash signatures, one row per document in wide form:
    * column `mh_h` is the lexicographic minimum of `md5(h || ':' ||
    * shingle)` over the document's shingles (a string-valued minwise hash
    * family — same estimator guarantees, reproducible in any engine with
    * md5). ONE shuffle keyed on id with map-side partial `min`
    * aggregation: no hash-slot explosion (the old long form multiplied the
    * shingle stream `numHashes`×) and no shingle-dedup shuffle (`min` is
    * idempotent under duplicates).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    val mins = (0 until numHashes).map { h =>
      min(md5(concat(lit(s"$h:"), col("shingle")))).as(s"mh_$h")
    }
    shingles(docs, n, dedup = false, tokenizer = tokenizer)
      .groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH candidate pairs: signatures are split into bands of
    * `rowsPerBand` hash slots; a pair is a candidate iff some band key
    * matches. Band keys are pure projections over the wide signatures
    * (slot-ordered "hh=minhash" strings joined and hashed — identical to
    * the sort-based canonical form since the zero-padded slot prefix makes
    * lexicographic order slot order), so the whole operator is one
    * signature shuffle plus one equi-shuffle on (band, bandKey); the
    * quadratic step runs only inside hash buckets, which is what makes
    * near-dup detection feasible at 100 TB.
    */
  def minhashCandidates(docs: DataFrame, n: Int, numHashes: Int,
      rowsPerBand: Int, maxBucket: Int = DefaultMaxBucket,
      strict: Boolean = false,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame =
    bucketPairs(minhashBandKeys(docs, n, numHashes, rowsPerBand, tokenizer),
      Seq("band", "band_key"), maxBucket, strict)
      .distinct()

  /** Candidate-then-verify near-dup pairs: [[minhashCandidates]]
    * re-scored with BOUNDED edit distance — the two-tier discipline of
    * a production dedup pass (the sketch proposes, an exact measure
    * disposes). LSH keeps the pair space near-linear; the expensive
    * exact measure runs ONLY on candidates, and Spark's thresholded
    * `levenshtein(l, r, maxDist)` early-exits at the band, making each
    * verification O(len·maxDist) instead of O(len²) — at 100 TB the
    * verify tier's cost is (candidates × banded edit distance), never
    * corpus². Returns `(id1, id2, dist)` for pairs within `maxDist`.
    */
  def minhashVerifiedPairs(docs: DataFrame, n: Int, numHashes: Int,
      rowsPerBand: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    val t = docs.select(col("doc_id"), col("text"))
    minhashCandidates(docs, n, numHashes, rowsPerBand)
      .join(t.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
      .join(t.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
      .withColumn("dist", levenshtein(col("t1"), col("t2"), maxDist))
      .where(col("dist") >= 0)
      .select("id1", "id2", "dist")
  }

  /** (id, band, band_key) rows for [[minhashCandidates]] /
    * [[minhashCrossCandidates]]: signatures split into bands of
    * `rowsPerBand` slots, each band keyed by the md5 of its slot-ordered
    * "hh=minhash" parts.
    */
  private def minhashBandKeys(docs: DataFrame, n: Int, numHashes: Int,
      rowsPerBand: Int,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    val numBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val parts = (b * rowsPerBand until
          math.min((b + 1) * rowsPerBand, numHashes)).map { h =>
        concat(lit(f"$h%02d="), col(s"mh_$h"))
      }
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("band_key"))
    }
    minhashSignatures(docs, n, numHashes, tokenizer)
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** Cross-corpus MinHash-LSH candidates: (corpus id, reference id) pairs
    * sharing a band key — fuzzy decontamination. Where
    * [[graft.ops.Curation.decontaminate]] tests EXACT n-gram membership
    * against a held-out set, this surfaces NEAR-duplicate overlap (a
    * benchmark item lightly paraphrased into the training corpus), which
    * exact-gram screens structurally miss. Feed the candidates through
    * [[jaccardPairs]]-style exact re-scoring when a similarity floor is
    * needed.
    *
    * Shape at 100 TB: each side pays its own ONE signature aggregation;
    * the reference side (a benchmark suite — bounded) broadcasts its band
    * keys, so the corpus side is never shuffled against it; one distinct
    * on the emitted pairs. No corpus × corpus and no corpus × reference
    * quadratic step anywhere.
    */
  def minhashCrossCandidates(corpus: DataFrame, reference: DataFrame,
      n: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val cb = minhashBandKeys(corpus, n, numHashes, rowsPerBand)
    val rb = minhashBandKeys(reference, n, numHashes, rowsPerBand)
      .select(col("id").as("ref_id"), col("band"), col("band_key"))
    cb.join(broadcast(rb), Seq("band", "band_key"))
      .select(col("id"), col("ref_id")).distinct()
  }

  /** Signature width in bits: 15 md5 hex digits — the widest md5 prefix
    * that stays positive in a signed 64-bit column on every engine (so the
    * DuckDB oracle can replay it). Wider signatures mean finer band
    * buckets: at `numBands = 5` each band carries 12 bits = 4096 buckets,
    * which is what keeps the within-bucket quadratic step bounded at
    * 100 TB corpus sizes.
    */
  val SimhashBits = 60

  /** 60-bit frequency-weighted SimHash: every token *occurrence* votes on
    * each bit (bit b of a token = bit (3 - b mod 4) of hex digit b/4 of its
    * md5), so documents with the same vocabulary but different frequency
    * profiles still separate. Near-dup pairs = Hamming distance <=
    * `maxHamming`: [[simhashCandidates]] is the banded scale path,
    * [[simhashPairs]] the all-pairs validation tier.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // One 60-bit value per token occurrence (the first 15 md5 hex digits as
    // a number: bit at position p == bit (3 - b%4) of digit b/4 for
    // b = 59-p, exactly the per-digit layout the DuckDB oracle replays),
    // then ONE groupBy(id) carrying 60 map-side-combined vote sums — the
    // old shape exploded every token SimhashBits× and shuffled that stream.
    val toks = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("v",
        expr(s"cast(conv(substring(md5(tok), 1, ${SimhashBits / 4}), 16, 10) AS BIGINT)"))
    val votes = (0 until SimhashBits).map { p =>
      sum(expr(s"((v >> $p) & 1) * 2 - 1")).as(s"vote_$p")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until SimhashBits).map { p =>
          when(col(s"vote_$p") > 0, lit(1L << p)).otherwise(0L)
        }.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidate pairs (validation-scale all-pairs join). */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhash(docs)
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Per-document band keys: the 60-bit signature split into `numBands`
    * contiguous bit slices (numBands must divide [[SimhashBits]]). Narrow
    * stage over [[simhash]] output.
    */
  def simhashBands(docs: DataFrame, numBands: Int): DataFrame = {
    require(SimhashBits % numBands == 0,
      s"numBands=$numBands must divide $SimhashBits")
    val width = SimhashBits / numBands
    simhash(docs)
      .select(col("id"), col("simhash"),
        explode(expr(s"sequence(0, ${numBands - 1})")).as("band"))
      .withColumn("band_bits", expr(
        s"(simhash >> ((${numBands - 1} - band) * $width)) & ${(1L << width) - 1}"))
  }

  /** Near-dup candidate pairs by SHARED WINNOWING FINGERPRINT
    * ([[TextAnalysis.winnow]]): two documents sharing any run of at least
    * `w + k - 1` tokens are guaranteed candidates. Complements the other
    * generators — MinHash finds bag-of-shingles similarity, SimHash finds
    * global bit-profile similarity, winnowing finds CONTIGUOUS shared
    * runs (plagiarism/quotation-style duplication that bag measures
    * dilute on long documents). Same shape as the others: one fingerprint
    * shuffle, quadratic only inside fingerprint buckets.
    */
  def winnowCandidates(docs: DataFrame, k: Int, w: Int): DataFrame =
    bucketPairs(
      TextAnalysis.winnow(docs, k, w).select(col("doc_id").as("id"), col("fp")),
      Seq("fp")).distinct()

  /** Connected components over an undirected candidate-pair edge list
    * `(id1, id2)`: returns `(id, label)` with `label` the smallest id
    * reachable from `id`. This turns pairwise near-dup output (MinHash,
    * SimHash, Jaccard candidates) into clusters whose label is the
    * canonical member.
    *
    * Min-label propagation: each round every node takes the min of its
    * own and its neighbors' labels in one shuffle, and the round's own
    * `prev` column shows whether any label changed. Near-dup clusters
    * have a small diameter, so this converges in a few rounds. A graph
    * still changing after `min(propagationRounds, maxIter)` rounds (a long
    * duplicate chain) goes to [[starComponents]] instead, which needs
    * O(log n) rounds whatever the diameter.
    *
    * Runs Spark jobs while the plan is built: the edge checkpoint, one
    * checkpoint and one emptiness check per round, and on the star path
    * [[starComponents]]' jobs. The returned plan reads the final round's
    * checkpoint, which stays cached for it; every other checkpoint is
    * released before return.
    */
  def components(pairs: DataFrame, maxIter: Int = 50,
      propagationRounds: Int = 8): DataFrame = {
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint(true)
    val init = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val r = Rounds.run(init, math.min(propagationRounds, maxIter), Seq(edges),
        done = (_, next) => next.where(col("label") =!= col("prev")).isEmpty) {
      (labels, _) =>
        val nbrLabels = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("label"),
            lit(null).cast("long").as("prev"))
        // each node's own row carries its previous label through the min,
        // so convergence falls out of the same shuffle
        labels
          .select(col("id"), col("label"), col("label").as("prev"))
          .union(nbrLabels)
          .groupBy("id")
          .agg(min("label").as("label"), min("prev").as("prev"))
    }
    if (r.done) r.state.select("id", "label")
    else {
      Rounds.release(r.state)
      starComponents(pairs, maxIter)
    }
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) over `(id1, id2)` pairs; returns `(id, label)`
    * like [[components]]. Large-star hangs every larger neighbor off the
    * minimum of each node's neighborhood, small-star hangs the smaller
    * neighbors off it, and the alternation reaches min-rooted stars in
    * O(log n) rounds whatever the diameter. The edge set never grows
    * beyond the input. Not converging within `maxIter` rounds throws: at
    * O(log n) rounds that means a bug, not a big input.
    *
    * Runs Spark jobs while the plan is built: one checkpoint of the edge
    * set per round and three fixed-point checks per round. The returned
    * plan reads the final round's checkpoint, which stays cached for it.
    */
  def starComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // canonical (hi, lo) direction, self-loops dropped
    val init = pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    // fixed point: the round re-derived exactly the same edge set
    val r = Rounds.run(init, maxIter, done = (prev, next) =>
        next.count() == prev.count() && next.exceptAll(prev).isEmpty) {
      (edges, _) =>
        // large-star: group the symmetric neighborhood of u; every
        // neighbor larger than u re-points at m = min(N(u) ∪ {u})
        val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        val withMin = sym
          .join(sym.groupBy("u").agg(min("v").as("mn")), "u")
          .select(col("u"), col("v"), least(col("u"), col("mn")).as("m"))
        val large = withMin.where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .where(col("u") =!= col("v"))
          .distinct()
        // small-star: per hub u (edges point (hi, lo)), every smaller
        // neighbor and u itself re-point at m = min of the smaller neighbors
        val mn = large.groupBy("u").agg(min("v").as("m"))
        large.join(mn, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mn.select(col("u"), col("m").as("v")))
          .distinct()
    }
    if (!r.done) {
      Rounds.release(r.state)
      throw new IllegalStateException(
        s"starComponents did not converge in $maxIter rounds — with " +
          "O(log n) convergence this indicates a bug, not a large input")
    }
    // a star per component: (member, root) edges, plus each root
    // labeling itself
    val edges = r.state
    edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")).distinct())
  }

  /** The dedup endgame: drop every non-canonical member of each near-dup
    * cluster. Rows keep their place when they are their component's
    * minimum id or belong to no cluster at all — so
    * `docs → candidates → dropNearDups` is the full near-dedup a corpus
    * pipeline actually ships. One [[components]] run plus one left-anti
    * join on the id.
    */
  def dropNearDups(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = components(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dedup with QUALITY-aware canonical selection: where
    * [[dropNearDups]] keeps each cluster's minimum id, this keeps the
    * member with the best `scoreCol` (ties to the smallest id) — the
    * curation policy real pipelines want ("of these 40 mirrors, keep the
    * cleanest copy, not the first-crawled one"). Docs in no cluster pass
    * through untouched.
    *
    * Shape at 100 TB: one [[components]] run + an inner join to rank the
    * CLUSTERED docs only (near-dup clusters are a small fraction of the
    * corpus, so the argmax window runs on that fraction) + one left-anti
    * join for the pass-through rows. No corpus-wide window.
    */
  def canonicalByScore(docs: DataFrame, pairs: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val comp = components(pairs).withColumnRenamed("id", idCol)
    val clustered = docs.join(comp, Seq(idCol))
    val w = Window.partitionBy("label")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val winners = clustered
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1).drop("__rk", "label")
    winners.unionByName(docs.join(comp, Seq(idCol), "left_anti"))
  }

  /** SimHash near-dup pairs via pigeonhole banding — the 100 TB scale path
    * (mirror of [[minhashCandidates]]): if two signatures differ in at most
    * `maxHamming` bits and there are more than `maxHamming` bands, at least
    * one band is bit-identical, so candidate generation is ONE shuffle on
    * `(band, band_bits)` and the quadratic step runs only inside equal-band
    * buckets. Candidates are then re-scored with the exact Hamming
    * distance, making the output EXACTLY the Hamming <= `maxHamming` pair
    * set of [[simhashPairs]] — banding changes the plan shape, never the
    * result (OpsSpec pins the equivalence).
    *
    * Cost is OUTPUT-bound: a signature-dense corpus (tiny vocabulary, or
    * unremoved exact duplicates) genuinely has Ω(n²) near-dup pairs, and
    * no candidate scheme beats its own answer size. Run [[exactGroups]]
    * first — identical documents are the dominant source of giant band
    * buckets — and treat a large max-bucket profile as the signal to
    * re-score with a wider signature, not to widen the bands.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int,
      numBands: Int = 4, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numBands > maxHamming,
      s"pigeonhole cover needs numBands=$numBands > maxHamming=$maxHamming")
    // the signature rides the payload for exact Hamming re-scoring;
    // struct order is id order since ids are unique per bucket
    bucketPairsOf(simhashBands(docs, numBands), Seq("band", "band_bits"),
        struct(col("id"), col("simhash")), maxBucket = maxBucket)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate SUBSTRING spans — sub-document dedup in the distributable
    * gram-marking form (the sequence-level pass of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", whose
    * single-node suffix-array construction does not shard; marking every
    * position whose `k`-token gram repeats recovers exactly the substrings
    * of length >= k that occur >= `dupThreshold` times): token position
    * `i` of a document is covered when the k-gram starting there occurs at
    * least `dupThreshold` times corpus-wide (within-document repeats
    * count). Covered grams whose coverage overlaps or touches merge into
    * maximal spans — one output row per span with 1-based inclusive token
    * bounds `[start_tok, end_tok]` (every maximal duplicated substring of
    * length >= k becomes one span; nothing shorter than k can be flagged).
    *
    * Shape at 100 TB: gram rows are hashed to 16-byte keys immediately
    * (positions ride along; the gram text never shuffles), then ONE
    * count aggregation with map-side combine, one equi-join back on the
    * gram hash — both sides arrive partitioned by that hash, so the join
    * reuses the aggregation's exchange — and ONE per-doc window for the
    * gap-and-island merge. Cost is gram-grain (≈ one row per token),
    * independent of how long the duplicated substrings get.
    */
  def duplicateSpans(docs: DataFrame, k: Int, dupThreshold: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"),
        posexplode(word_ngrams(col("t"), lit(k))).as(Seq("i", "gram")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"),
        md5(col("gram")).as("gh"))
    // duplicated = gram occurs >= dupThreshold times: a gram-partitioned
    // window count, NOT a count-aggregate + join-back — the join shape
    // evaluates the positional explode twice (Spark does not reuse the
    // exchange across self-join branches); the window shuffles the gram
    // relation once and filters in place (round-10 fix: ~40% faster at
    // 1x and 10x, hash-identical)
    val wg = Window.partitionBy("gh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams
      .withColumn("__occ", count(lit(1)).over(wg))
      .where(col("__occ") >= dupThreshold)
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("start_tok"),
        (max("pos") + lit(k - 1)).as("end_tok"),
        count(lit(1)).as("n_dup_grams"))
      .select("doc_id", "start_tok", "end_tok", "n_dup_grams")
  }

  /** The rewrite pass over [[duplicateSpans]]: drop every token covered
    * by a duplicated span and reassemble the remaining tokens in order —
    * the "remove the repeated substring" step of Lee et al. 2022 in its
    * distributable drop-all form (every occurrence goes; the paper's
    * keep-one-occurrence variant needs a global occurrence order, which
    * at corpus scale buys little — a substring repeated enough to be
    * flagged is boilerplate, and its one canonical copy usually lives in
    * a curated source anyway). Appends `clean_text` and
    * `n_removed_tokens` to every input row; documents with no flagged
    * span (including those shorter than `k` tokens) pass through with
    * `clean_text == text` and 0 removed.
    *
    * Shape at 100 TB: [[duplicateSpans]]' gram-grain pipeline, one
    * per-doc span aggregation (spans per doc are few and bounded by
    * len/k), one equi-join back to the corpus, then a purely narrow
    * rewrite — position filtering against the doc's own span list via
    * array expressions, no second corpus shuffle.
    */
  def removeDuplicateSpans(docs: DataFrame, k: Int,
      dupThreshold: Long = 2L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(docs, k, dupThreshold, idCol, textCol)
      .groupBy(col("doc_id").as(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok")))
        .as("_spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn("_t", split(col(textCol), " "))
      .withColumn("_kept", when(col("_spans").isNull,
          expr("sequence(1, size(_t))"))
        .otherwise(expr(
          """filter(sequence(1, size(_t)), i ->
            |  NOT exists(_spans, sp ->
            |    i >= sp.start_tok AND i <= sp.end_tok))""".stripMargin)))
      .withColumn("clean_text",
        array_join(expr("transform(_kept, i -> element_at(_t, i))"), " "))
      .withColumn("n_removed_tokens",
        (size(col("_t")) - size(col("_kept"))).cast("long"))
      .drop("_spans", "_t", "_kept")
  }

  /** Blocked fuzzy (edit-distance) join: all (left, right) pairs whose
    * key strings are within Levenshtein distance `maxDist` — the
    * entity-resolution join for titles, URLs, and short identifiers
    * where token-level dedup is too coarse.
    *
    * Blocking makes it scale: `lev(a, b) <= d` implies
    * `|len(a) − len(b)| <= d`, so with length buckets of width d+1 a
    * matching pair's buckets differ by at most 1. The left side explodes
    * to its own and both adjacent buckets (a fixed 3× inflation), the
    * join is a plain equi-join on the bucket key, and the quadratic
    * `levenshtein` evaluation runs only within length-blocks — never
    * corpus × corpus. Exactly the banded-equi-join discipline of
    * [[graft.ops.AsOf.rangeJoin]]. Completeness is by the length bound
    * (no candidate is lost); each qualifying pair emerges exactly once
    * (its left row explodes onto the right row's bucket once).
    *
    * Returns (left columns, right columns, dist). For a self-join, pass
    * the same relation twice with distinct id column names and filter
    * `id_l < id_r` on the result to drop self/mirror pairs.
    */
  /** Incremental ingestion dedup: classify each DELTA document (today's
    * crawl) against an EXISTING corpus as `exact_dup` (byte-identical
    * text already present), `near_dup` (a banded-MinHash candidate that
    * VERIFIES within `maxDist` edits — the [[minhashVerifiedPairs]]
    * two-tier discipline), or `new`. Returns one row per delta doc:
    * `(doc_id, status, match_id, dist)` with the closest corpus match
    * (ties to the smaller corpus id; exact matches report dist 0 and
    * take precedence over near candidates). The production shape for
    * rolling corpus maintenance — admit the `new` rows, route the rest
    * to review — without ever re-deduplicating the corpus against
    * itself.
    *
    * Shape at 100 TB: the corpus pays one content-hash projection and
    * one signature aggregation PER INGEST (at steady state you would
    * persist both as an index relation and join against that instead —
    * same plan downstream of the scan); everything delta-derived
    * (hashes, band keys, candidate texts) is BROADCAST, so the corpus
    * is probed, never shuffled. The expensive exact verify runs only on
    * banded candidates with Spark's thresholded `levenshtein(l, r,
    * maxDist)` early exit. No delta × delta and no corpus × corpus
    * step anywhere.
    */
  def deltaDedup(corpus: DataFrame, delta: DataFrame, n: Int,
      numHashes: Int, rowsPerBand: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    val ch = corpus.select(col("doc_id").as("c_id"), md5(col("text")).as("h"))
    val dh = delta.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = ch.join(broadcast(dh), "h")
      .groupBy("doc_id").agg(min("c_id").as("exact_match"))
    val db = minhashBandKeys(delta, n, numHashes, rowsPerBand)
      .select(col("id").as("doc_id"), col("band"), col("band_key"))
    val cb = minhashBandKeys(corpus, n, numHashes, rowsPerBand)
      .select(col("id").as("c_id"), col("band"), col("band_key"))
    val cand = cb.join(broadcast(db), Seq("band", "band_key"))
      .select(col("doc_id"), col("c_id")).distinct()
    val verified = corpus.select(col("doc_id").as("c_id"),
        col("text").as("t2"))
      .join(broadcast(cand
        .join(delta.select(col("doc_id"), col("text").as("t1")),
          "doc_id")), "c_id")
      .withColumn("dist", levenshtein(col("t1"), col("t2"), maxDist))
      .where(col("dist") >= 0)
      .groupBy("doc_id")
      .agg(min(struct(col("dist"), col("c_id"))).as("m"))
      .select(col("doc_id"), col("m.c_id").as("near_match"),
        col("m.dist").as("near_dist"))
    delta.select("doc_id")
      .join(broadcast(exact), Seq("doc_id"), "left")
      .join(broadcast(verified), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"),
        when(col("exact_match").isNotNull, lit(0))
          .otherwise(col("near_dist")).as("dist"))
  }

  /** EXACT all-pairs n-gram Jaccard >= `minJaccard` with the AllPairs /
    * PPJoin prefix filter (Bayardo et al., WWW 2007; Xiao et al., WWW
    * 2008): identical output to [[jaccardPairs]], but candidate pairs are
    * generated ONLY from each document's prefix — its
    * `|d| - ceil(t·|d|) + 1` rarest grams under a global
    * document-frequency order — instead of from every shared gram.
    *
    * Why the prefix suffices (no false negatives): for a qualifying pair,
    * `J >= t` forces `|A∩B| >= t·max(|A|,|B|)`; if the globally-smallest
    * common gram escaped A's prefix, ALL common grams would sit in A's
    * suffix of size `ceil(t·|A|) - 1 < t·|A|` — contradiction, and
    * symmetrically for B. So every qualifying pair shares a gram lying in
    * BOTH prefixes and the prefix-bucket expansion finds it. Every
    * ceiling is taken with a `- 1e-9` epsilon so an IEEE wobble at an
    * exact integer boundary can only LENGTHEN a prefix / WEAKEN a prune
    * (extra candidates are re-scored exactly and filtered; the strict
    * direction could lose pairs).
    *
    * Two further PPJoin prunes, both applied per collision BEFORE the
    * dedup/verify stages, both derived from the pair's true overlap
    * requirement `α = ceil(t/(1+t)·(|A|+|B|))`:
    *   - INDEXING prefix: order each pair (a, b) by (size, id), a
    *     smallest. A qualifying pair has `|B| >= |A|`, so
    *     `α >= 2t/(1+t)·|A|`, and the prefix lemma confines some common
    *     gram to a's first `|A| - ceil(2t/(1+t)·|A|) + 1` grams — a
    *     SHORTER prefix than the symmetric bound (at t=0.7: 0.18·|A| vs
    *     0.30·|A|). Collisions where the smaller side sits past its
    *     indexing prefix generate no candidate.
    *   - POSITIONAL filter: a collision at ranks (pa, pb) bounds the
    *     achievable overlap by `min(pa,pb)-1` common grams before it,
    *     itself, and `min(|A|-pa, |B|-pb)` after; candidates whose bound
    *     falls below α are dropped without verification.
    *
    * Shape at 100 TB: this is the exact-tier shape that survives scale
    * where [[jaccardPairs]] does not — the quadratic bucket expansion runs
    * only on PREFIX grams, which the df-ascending order makes the rarest
    * grams in the corpus (stop-word buckets never form), and the
    * size/positional prunes cut candidates before they are even
    * deduplicated. The grams are numbered once in (df, gram) order
    * (Vernica, Carey & Li, SIGMOD 2010), so each document is one sorted
    * token array: its prefix is a slice, and verification joins the
    * candidate list twice against those arrays (linear in the corpus)
    * and counts each pair's overlap with one merge of the two arrays
    * (`sorted_overlap`, see [[graft.functions.SortedOverlap]]).
    *
    * Contract of the token sets: each `toks` is strictly ascending with
    * no duplicates and no nulls. The prefix slice needs the order, and
    * the merge needs both; `sorted_overlap` fails the job on an array
    * that breaks the contract instead of undercounting.
    *
    * The token sets ([[tokenSets]]) take five steps: each row's grams
    * deduplicated inside the row (`array_distinct`, narrow), a count per
    * gram as `df`, a range sort on `(df, gram)` numbered in that order,
    * a join of the row grams to their numbers, and a regroup by id into
    * one sorted distinct array (`sort_array`, not `array_sort`, whose
    * default comparator is an interpreted lambda). Gram strings cross
    * three exchanges: the count's, the range sort's and the numbering
    * join's (AQE may broadcast one side instead). The regroup ships bigint tokens, and
    * nothing after it carries a gram.
    *
    * Rows that share an id union into one set. Their `df` then counts
    * rows, not ids, which only changes the global gram order. The
    * prefix lemma above holds for ANY fixed global order, and every
    * candidate is re-scored exactly, so the pairs are the same.
    *
    * Candidate volume itself is a DATA property: it scales with
    * Σ per-gram prefix-bucket C(df,2), i.e. linearly in docs when
    * near-dup density per doc is bounded (measured: 10× docs with ~10
    * perturbed twins each → 10× prefix rows, ~126× candidates — the
    * twins, not the operator; per-candidate cost stayed flat).
    * `maxBucket` (default [[DefaultMaxBucket]]) makes that bound an
    * ENFORCED invariant rather than an observation: a prefix bucket
    * larger than the cap yields no candidates and is counted into the
    * `graft_bucket_spill_*` observed metric. `spilled_buckets == 0`
    * (the normal case — df-ascending prefix order keeps buckets
    * rare-gram-sized) certifies the output is EXACTLY
    * [[jaccardPairs]]'; a nonzero spill trades bounded recall loss on
    * the pathological buckets for a bounded plan, with the refused
    * volume reported, never absorbed.
    *
    * Building the plan runs Spark jobs: the token sets are
    * `localCheckpoint`ed eagerly.
    */
  def prefixFilterPairs(docs: DataFrame, n: Int,
      minJaccard: Double, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard=$minJaccard must be in (0, 1]")
    val t = minJaccard
    // three consumers read the token sets (the prefix and both
    // verification sides); left as lineage each would re-run the
    // shingling and the numbering
    val sets = tokenSets(docs, n).localCheckpoint(true)
    // ascending tokens ARE the df order, so the prefix is a slice
    val prefix = sets.select(col("id"), col("n_sh"), posexplode(slice(
        col("toks"), lit(1), (col("n_sh") - ceil(lit(t) * col("n_sh") - 1e-9)
          + 1).cast("int"))).as(Seq("i", "tok")))
    // pairs ordered by (n_sh, id): `a` is the smaller set of the two
    val alpha = ceil(lit(t / (1 + t)) *
      (col("a.n_sh") + col("b.n_sh")) - 1e-9)
    // PPJoin asymmetry: only rows inside the SHORTER indexing prefix may
    // be the pair's first element `a`
    val cand = bucketPairsOf(
        // `pos`: the gram's 1-based rank in its document
        prefix.select(col("tok"),
          struct(col("n_sh"), col("id"), (col("i") + 1).as("pos")).as("p")),
        Seq("tok"), col("p"), maxBucket,
        aGate = Some(col("p.pos") <= col("p.n_sh") -
          ceil(lit(2 * t / (1 + t)) * col("p.n_sh") - 1e-9) + 1))
      .where(least(col("a.pos"), col("b.pos")) +
        least(col("a.n_sh") - col("a.pos"),
          col("b.n_sh") - col("b.pos")) >= alpha)
      .where(col("a.n_sh") >= lit(t) * col("b.n_sh"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        (col("a.n_sh") + col("b.n_sh")).as("nsum"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id1"), col("toks").as("g1")), "id1")
      .join(sets.select(col("id").as("id2"), col("toks").as("g2")), "id2")
      .withColumn("n_common",
        sorted_overlap(col("g1"), col("g2")).cast("long"))
      .select(col("id1"), col("id2"),
        (col("n_common").cast("double") /
          (col("nsum") - col("n_common"))).as("jaccard"))
      .where(col("jaccard") >= t)
  }

  /** [[prefixFilterPairs]]' token sets before their checkpoint:
    * `(id, toks, n_sh)`, `toks` the id's distinct gram numbers in
    * ascending (df, gram) order. */
  private[graft] def tokenSets(docs: DataFrame, n: Int): DataFrame = {
    val sh = gramArrays(docs, n)
      .select(col("id"), explode(array_distinct(col("grams"))).as("shingle"))
    // `orderBy` is a distributed range sort whose partitions are
    // contiguous and ascending, so monotonically_increasing_id rises in
    // (df, gram) order too
    val dict = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy("df", "shingle")
      .select(col("shingle"), monotonically_increasing_id().as("tok"))
    // array_distinct merges the grams of rows that share an id
    sh.join(dict, "shingle")
      .groupBy("id")
      .agg(sort_array(array_distinct(collect_list("tok"))).as("toks"))
      .withColumn("n_sh", size(col("toks")))
  }

  def fuzzyJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    val w = maxDist + 1
    val l = left
      .withColumn("lb", (length(col(leftKey)) / w).cast("long"))
      .withColumn("blk", explode(array(col("lb") - 1, col("lb"),
        col("lb") + 1)))
      .drop("lb")
    val r = right
      .withColumn("blk", (length(col(rightKey)) / w).cast("long"))
    l.join(r, "blk")
      .where(abs(length(col(leftKey)) - length(col(rightKey))) <= maxDist)
      // thresholded levenshtein early-exits outside the ±maxDist band
      // (O(maxDist·min) per pair, -1 past the threshold) — the same
      // kernel the q223/q257 call sites already use; kept pairs carry
      // the exact distance either way
      .withColumn("dist", levenshtein(col(leftKey), col(rightKey), maxDist))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .drop("blk")
  }

  /** MinHash-LSH banding PLANNER — the closed-form design table a team
    * consults BEFORE spending a 100 TB pass on [[minhashCandidates]]:
    * for every (bands b, rows-per-band r) factorization of `numHashes`
    * and every similarity s on a fixed grid, the collision probability
    * `p = 1 − (1 − s^r)^b` and the plan's threshold `t* = (1/b)^(1/r)`
    * (the s where p crosses ~0.5 — pairs above t* are probably caught,
    * below probably skipped). Pick the row whose t* brackets your
    * target J and read the false-negative risk straight off the curve.
    * Pure arithmetic — runs in milliseconds, replayed exactly by any
    * engine; floats rounded to 6 dp.
    */
  def lshPlan(numHashes: Int, gridStep: Double = 0.05): DataFrame = {
    require(numHashes >= 1, s"numHashes=$numHashes must be >= 1")
    require(gridStep > 0 && gridStep < 1, s"bad gridStep=$gridStep")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val plans = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val nGrid = math.floor((1.0 - 1e-9) / gridStep).toInt
    plans.toDF("bands", "rows_per_band")
      .crossJoin(
        (1 to nGrid).map(i => i * gridStep).toDF("s"))
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6).as("t_star"),
        round(col("s"), 6).as("s"),
        round(lit(1.0) - pow(lit(1.0) -
          pow(col("s"), col("rows_per_band")), col("bands")), 6)
          .as("p_collide"))
  }

  /** Measured RECALL of the MinHash-LSH candidate tier against the
    * exact n-gram Jaccard truth on the SAME corpus — the audit that
    * turns [[lshPlan]]'s theoretical S-curve into a number for THIS
    * data: `(n_true, n_candidates, n_hits, recall, candidate_precision)`
    * where `n_true` counts exact pairs with J ≥ `minJaccard`, `n_hits`
    * how many of them the banding surfaced, and `candidate_precision`
    * the fraction of candidates that verify (the cost side: every
    * non-verifying candidate is a wasted exact rescore downstream).
    *
    * One row out. Run it on a fixture-scale sample BEFORE trusting a
    * banding at 100 TB — the exact tier is quadratic in co-shingle
    * pairs and is the reason this is an audit, not a production path.
    *
    * The audit runs both tiers in STRICT spill mode: an oversized
    * bucket FAILS the job loudly instead of being silently skipped —
    * a truth tier that quietly under-counted could certify recall=1.0
    * for a banding that actually missed real pairs, the exact inverse
    * of what this audit exists to establish. Raise `maxBucket` (or
    * pre-dedup the degenerate key) and re-run; never audit on
    * truncated truth. Strictness is threaded per-plan (never a session
    * conf round-trip, so a concurrently-built dedup plan on the same
    * session can't inherit it). Both tiers are localCheckpointed, so
    * each quadratic pass executes ONCE, not once per consuming
    * aggregate.
    */
  def lshRecallAudit(docs: DataFrame, n: Int, numHashes: Int,
      rowsPerBand: Int, minJaccard: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val truth = jaccardPairs(docs, n, minJaccard, maxBucket,
        strict = true)
      .select(col("id1"), col("id2")).localCheckpoint()
    val cands = minhashCandidates(docs, n, numHashes, rowsPerBand,
        maxBucket, strict = true)
      .localCheckpoint()
    val hits = truth.join(cands, Seq("id1", "id2"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        round(when(col("n_true") > 0,
          col("n_hits").cast("double") / col("n_true")), 6).as("recall"),
        round(when(col("n_candidates") > 0,
          col("n_hits").cast("double") / col("n_candidates")), 6)
          .as("candidate_precision"))
  }
}
