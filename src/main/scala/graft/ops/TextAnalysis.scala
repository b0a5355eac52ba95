package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.word_ngrams

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token statistics, document fingerprinting. All pure
  * column expressions — per-document narrow stages plus one aggregation,
  * so they pipeline with scans at 100 TB.
  */
object TextAnalysis {

  /** Tiny demonstration lexicons (real deployments plug in full ones). */
  val defaultLexicons: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"))

  /** Stopword-hit-ratio language ID: score(lang) = |tokens ∩ lexicon| /
    * |tokens|; winner by (score desc, lang asc). Docs matching no lexicon
    * get score 0 for every language and fall to the alphabetic tie-break —
    * callers should treat score 0 as "unknown".
    */
  def langId(docs: DataFrame,
      lexicons: Map[String, Seq[String]] = defaultLexicons): DataFrame = {
    val s2 = docs.sparkSession; import s2.implicits._
    val lex = lexicons.toSeq.flatMap { case (l, ws) => ws.map(l -> _) }
      .toDF("lang", "word")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("word"))
    val totals = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val langs = lexicons.keys.toSeq.sorted.toDF("lang")
    val hits = toks.join(broadcast(lex), Seq("word"))
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("n_hit"))
    val scored = totals.crossJoin(broadcast(langs))
      .join(hits, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_tok"))
          .as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
  }

  /** Per-document quality features + a composite score in [0, 1]:
    * token count (capped), type-token ratio, stopword ratio, average token
    * length (capped) — the standard cheap pre-filters for corpus curation.
    */
  /** Metric columns produced by [[withQuality]]/[[quality]]. */
  val qualityColumns: Seq[String] = Seq("n_chars", "n_tokens", "n_uniq",
    "stop_ratio", "ttr", "avg_token_len", "quality")

  /** Append the quality metrics to EVERY input row, preserving all other
    * columns (same-named input columns are replaced by the computed
    * values). This is the form pipelines compose with — no user metadata
    * is dropped.
    */
  def withQuality(docs: DataFrame,
      stopwords: Seq[String] = defaultLexicons("en")): DataFrame = {
    val toks = split(col("text"), " ")
    val stopArr = array(stopwords.map(lit): _*)
    docs
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_uniq", size(array_distinct(toks)).cast("long"))
      .withColumn("stop_ratio",
        size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
          size(toks))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("quality",
        least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.3 +
          col("stop_ratio") * 0.2 + col("ttr") * 0.2 +
          least(col("avg_token_len") / 10.0, lit(1.0)) * 0.3)
  }

  def quality(docs: DataFrame,
      stopwords: Seq[String] = defaultLexicons("en"),
      keep: Seq[String] = Nil): DataFrame =
    withQuality(docs, stopwords)
      .select(col("doc_id") +: keep.map(col) :++ qualityColumns.map(col): _*)

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs | digit runs | single other non-space). `tokenizer =
    * [[Tokenize.ScriptAware]]` counts CJK/Thai codepoints as tokens
    * instead of treating a whole unspaced line as one (`ws_tokens` /
    * `uniq_tokens` then mean "tokens under the script-aware rule";
    * `re_tokens` is unchanged by design — it is a separate estimator).
    */
  def tokenStats(docs: DataFrame,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    val t = Tokenize.tokens(col("text"), tokenizer)
    docs.select(
      col("doc_id"),
      size(t).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"),
      size(array_distinct(t)).cast("long").as("uniq_tokens"))
  }

  /** Content fingerprint: md5 of the sorted distinct token set — an
    * order-insensitive document identity for fuzzy grouping (a rolling
    * hash over sorted vocabulary).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
        .as("fingerprint"))

  /** Per-document Shannon entropy of the character distribution (bits),
    * plus distinct-character count: low entropy flags degenerate or
    * machine-generated text (repeated runs, padding, base64-ish blobs sit
    * high; natural language ~4 bits/char) — a standard cheap quality
    * signal next to [[quality]] and [[repetitionStats]].
    *
    * The per-doc sum folds over character classes in CODEPOINT order
    * (`sort_array` + ordered `aggregate`), the q116/q117 ordered-fold
    * discipline, so both engines produce identical doubles.
    *
    * Shape at 100 TB: explode to (doc, char) → grouped count with
    * map-side combine (char-class grain, ≤ alphabet size per doc) → one
    * doc-grain collapse. Linear in corpus bytes, no joins.
    */
  def charEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("ch"), col("c")))).as("cs"),
        sum("c").as("n"))
      .select(col("doc_id"), col("n").as("n_chars"),
        size(col("cs")).cast("long").as("n_distinct_chars"),
        expr("""aggregate(cs, CAST(0.0 AS DOUBLE),
                (acc, s) -> acc - (CAST(s.c AS DOUBLE) / n)
                  * ln(CAST(s.c AS DOUBLE) / n) / ln(2.0))""")
          .as("entropy_bits"))

  /** Gopher-style repetition metrics (Rae et al. 2021, "Scaling Language
    * Models", Table A1): per document, the fraction of characters covered
    * by (a) the single most frequent word 2-gram and (b) all word 3-grams
    * that occur more than once. High values flag boilerplate and
    * degenerate repetition — the standard cheap filter after exact dedup.
    *
    * Characters covered by a gram = occurrences × gram length (overlapping
    * occurrences each count, so pathological inputs can exceed 1.0 — by
    * design: callers threshold, they don't sum). Ties for "most frequent"
    * break toward the longest gram, deterministically.
    *
    * Shape at 100 TB: explode → two grouped aggregations keyed by
    * (doc_id, gram) then doc_id — linear in corpus size whatever the
    * document length (the per-doc higher-order-function alternative is
    * quadratic on book-length documents), with map-side partial
    * aggregation on both.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def gramsOf(n: Int) = transform(word_ngrams(col("t"), lit(n)),
      g => struct(lit(n).as("n"), g.as("g")))
    val grams = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        split(col("text"), " ").as("t"))
      // sub-3-token documents have no 3-grams and a degenerate "most
      // frequent 2-gram"; they are dropped, not scored (and Spark's
      // sequence(1, 0) would count DOWN, so the bound must stay positive)
      .where(size(col("t")) >= 3)
      .select(col("doc_id"), col("n_chars"),
        explode(concat(gramsOf(2), gramsOf(3))).as("p"))
      .groupBy(col("doc_id"), col("n_chars"), col("p.n").as("n"),
        col("p.g").as("g"))
      .agg(count(lit(1)).as("c"))
    grams
      .groupBy("doc_id", "n_chars")
      .agg(
        max(when(col("n") === 2,
          struct(col("c"), (col("c") * length(col("g"))).as("chars"))))
          .as("top2"),
        sum(when(col("n") === 3 && col("c") >= 2,
          col("c") * length(col("g"))).otherwise(lit(0L))).as("dup3_chars"))
      .select(col("doc_id"),
        (col("top2.chars").cast("double") / col("n_chars")).as("top2gram_frac"),
        (col("dup3_chars").cast("double") / col("n_chars")).as("dup3gram_frac"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every word k-gram,
    * slide a window of `w` consecutive hashes, keep each window's minimum
    * — any two documents sharing a run of at least `w + k - 1` tokens are
    * GUARANTEED to share a fingerprint, while storage is ~1/w of the
    * k-gram set. Pure array expressions per document (narrow, no UDF, no
    * shuffle); md5 keeps the hashes engine-portable for the oracle.
    * Output: one row per distinct (doc_id, fp). `keep` names extra input
    * columns to carry through (still narrow — consumers that need
    * per-document metadata next to the fingerprints must NOT join back to
    * the corpus, which would scan it twice).
    */
  def winnow(docs: DataFrame, k: Int, w: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    docs
      .select(col("doc_id") +: kept :+ split(col("text"), " ").as("t"): _*)
      .where(size(col("t")) >= k + w - 1)
      .select(col("doc_id") +: kept :+
        transform(word_ngrams(col("t"), lit(k)), md5(_)).as("g"): _*)
      .select(col("doc_id") +: kept :+ explode(expr(
        s"""array_distinct(transform(sequence(1, size(g) - ${w - 1}),
           |  j -> array_min(slice(g, j, $w))))""".stripMargin))
        .as("fp"): _*)
  }

  /** Slice each document into training chunks of `chunkTokens` whitespace
    * tokens with `overlap` tokens shared between consecutive chunks — the
    * context-window preparation step between curation and shard packing.
    * Chunk starts advance by `chunkTokens - overlap`; the final chunk may
    * be shorter, and a document at most one chunk long yields itself.
    * Output: (doc_id, chunk_id, n_chunk_tokens, chunk); other columns are
    * NOT carried (chunking multiplies rows — join metadata onto the
    * chunks' doc_id afterwards, or pass `keep` names). Narrow 1→N
    * explode: no shuffle, pipelines with the scan at 100 TB. Chunk count
    * uses pure integer arithmetic, so any engine replays the boundaries.
    */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int,
      keep: Seq[String] = Nil,
      tokenizer: Tokenize.Mode = Tokenize.Whitespace): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    val kept = keep.map(col)
    docs
      .select(col("doc_id") +: kept :+
        Tokenize.tokens(col("text"), tokenizer).as("t"): _*)
      // integer ceil((n - overlap) / stride), at least 1
      .withColumn("n_chunks", greatest(lit(1L),
        floor((size(col("t")) - overlap + (stride - 1)).cast("double") /
          stride).cast("long")))
      .select(col("doc_id") +: kept :+ col("t") :+
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"): _*)
      .withColumn("piece",
        slice(col("t"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens)))
      .select(col("doc_id") +: col("chunk_id") +: kept :+
        size(col("piece")).cast("long").as("n_chunk_tokens") :+
        array_join(col("piece"), " ").as("chunk"): _*)
  }

  /** Per-document bigram novelty: the share of a document's distinct
    * bigrams that occur in NO other document — high novelty = unique
    * content, low novelty = boilerplate/template text (the curation
    * signal for dropping near-template pages). All-integer arithmetic
    * until one final per-row division, so the result is bit-identical
    * across engines. Two aggregations + one equi-join on the bigram key.
    */
  def bigramNovelty(docs: DataFrame): DataFrame = {
    // two differently-keyed consumers of the raw bigram stream (the
    // crossDocNgramOverlap pattern — ReuseExchange can't dedupe an
    // agg-bearing exchange against the join's plain one): materialize
    // the tokenize + explode once
    val bigrams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(word_ngrams(col("t"), lit(2)))).as("bg"))
      .localCheckpoint(true)
    val docFreq = bigrams.groupBy("bg")
      .agg(count(lit(1)).as("n_docs_with"))
    bigrams.join(docFreq, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n_docs_with") === 1, 1L).otherwise(0L))
          .as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_bigrams"))
  }

  /** Smoothed TF-IDF per (document, term):
    * `tf * (ln((1 + N) / (1 + df)) + 1)` (the sklearn-style smooth idf —
    * no zero division, no negative weights). Two aggregations (term
    * counts per doc, document frequency per term) + one equi-join on
    * term; the corpus size N rides a broadcast scalar, so nothing in the
    * plan is driver-side or quadratic.
    */
  def tfidf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct("doc_id").as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + 1.0))
          .as("tfidf"))
  }

  /** BM25 top-k retrieval — the ranked-search companion to [[tfidf]]:
    * score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)) with the Robertson/Sparck-Jones idf in its
    * always-positive form ln(1 + (N − df + ½)/(df + ½)) (Lucene's
    * convention). This is the retrieval pass a curation pipeline runs to
    * FIND contamination and near-matches (free-text search against the
    * corpus), where [[graft.ops.Curation.decontaminate]] only tests exact
    * n-gram membership.
    *
    * Shape at 100 TB: the corpus pays ONE tokenize + one (doc, term)
    * aggregation; everything downstream is gated to query-vocabulary
    * terms by a broadcast semi-join BEFORE df/idf are computed (df over
    * non-query terms is never built), so scoring cost follows the match
    * set, not the corpus vocabulary. Per-(query, doc) scores fold the
    * term weights in ascending-term order over a sorted collected list —
    * bit-identical across engines regardless of partitioning, which is
    * what lets ties rank identically everywhere (ties then break by
    * doc_id).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromTf(bm25Tf(docs).localCheckpoint(true), queries, k, k1, b)

  /** The corpus's (doc, doc-length, term, term-frequency) relation —
    * [[bm25TopK]]'s single tokenization pass, factored out so composite
    * retrievers ([[hybridTopK]], the q243 NDCG chain) can build it ONCE
    * and feed every ranker from the materialized relation instead of
    * re-tokenizing the corpus per ranker.
    */
  private[ops] def bm25Tf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("double").as("dl"),
        explode(col("ts")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))

  /** [[bm25TopK]] over an already-materialized [[bm25Tf]] relation.
    * Corpus statistics (N, avgdl) derive from the tf relation's
    * (doc_id, dl) grain — `split` emits at least one token for any
    * string, so every input document is present and the stats are
    * exactly the direct scan's (doc ids are unique by the battery's
    * input contract). The corpus is therefore scanned ONCE per retrieval
    * call (the tf build), not once more for stats (guide §2.4).
    */
  private def bm25FromTf(tf: DataFrame, queries: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val qterms = queries
      .select(col("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val stats = tf.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl"))
    // posts feeds the df aggregation AND the scoring join — from the
    // checkpointed tf each use re-probes the broadcast semi-join over
    // the full tf relation; the match set is query-vocabulary-gated
    // (small by construction), so materializing it once is cheaper
    val posts = tf
      .join(broadcast(qterms.select("term").distinct()), Seq("term"),
        "left_semi")
      .localCheckpoint(true)
    val df = posts.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val weighted = posts
      .join(broadcast(df), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
          col("avgdl"))))
    // same term-ascending addition sequence as the collected fold (terms
    // unique per (query, doc); w non-null), on the engine's sort + running
    // window sum instead of the object agg (OrderedSum)
    OrderedSum(weighted, Seq(col("query_id"), col("doc_id")),
        Seq(col("term")), Seq((col("w"), "score")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)))
      .where(col("rk") <= k)
  }

  /** CCNet-style n-gram LM quality scoring (Wenzek et al. 2020): score
    * every document by its perplexity under an add-one-smoothed bigram
    * language model trained on `refDocs` (a curated reference slice — the
    * paper uses Wikipedia). Low perplexity ≈ fluent in-domain text; high
    * perplexity flags boilerplate, non-language noise, and OCR garbage —
    * the standard pretraining-corpus quality gate next to the heuristic
    * ratios in [[quality]].
    *
    * Model: p(w₁) = (c₁(w₁)+1)/(N+V); p(wᵢ|wᵢ₋₁) =
    * (c₂(wᵢ₋₁,wᵢ)+1)/(c₁(wᵢ₋₁)+V) with N = reference token count and V =
    * reference vocabulary size. ppl = exp(−Σ ln p / n_tokens), the sum
    * folded in token-position order over a sorted collected list —
    * bit-identical across engines regardless of partitioning
    * ([[bm25TopK]]'s convention), so a SQL oracle replays it exactly.
    *
    * Shape at 100 TB: the model is built from the BOUNDED reference slice
    * and broadcast (unigram + bigram count maps — a curated LM corpus is
    * orders of magnitude smaller than the corpus being scored); scoring
    * is then one narrow pass over `docs`: tokenize, explode bigrams
    * in-place (no self-join, no window — the previous token comes from
    * the same array), three broadcast lookups, one per-doc aggregation.
    */
  def perplexity(docs: DataFrame, refDocs: DataFrame): DataFrame = {
    val uni = refDocs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c1"))
    val refStats = uni.agg(
      sum("c1").cast("double").as("ref_tokens"),
      count(lit(1)).cast("double").as("vocab"))
    val big = refDocs
      .select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        "transform(sequence(2, size(ts)), i -> struct(" +
          "element_at(ts, i - 1) AS prev, element_at(ts, i) AS cur))"))
        .as("bg"))
      .groupBy(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c2"))
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        explode(expr(
          "transform(sequence(1, size(ts)), i -> struct(i AS pos, " +
            "CASE WHEN i = 1 THEN CAST(NULL AS STRING) " +
            "ELSE element_at(ts, i - 1) END AS prev, " +
            "element_at(ts, i) AS cur))")).as("t"))
      .select(col("doc_id"), col("n_tokens"), col("t.pos").as("pos"),
        col("t.prev").as("prev"), col("t.cur").as("cur"))
    val scored = toks
      .join(broadcast(big), Seq("prev", "cur"), "left")
      .join(broadcast(uni.select(col("term").as("prev"),
        col("c1").as("c_prev"))), Seq("prev"), "left")
      .join(broadcast(uni.select(col("term").as("cur"),
        col("c1").as("c_cur"))), Seq("cur"), "left")
      .crossJoin(broadcast(refStats))
      .withColumn("logp", when(col("pos") === 1,
          log((coalesce(col("c_cur"), lit(0L)) + lit(1.0)) /
            (col("ref_tokens") + col("vocab"))))
        .otherwise(
          log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
            (coalesce(col("c_prev"), lit(0L)) + col("vocab")))))
    // position-ordered addition sequence unchanged (pos unique per doc,
    // logp non-null), via OrderedSum instead of the object collect+fold
    OrderedSum(scored, Seq(col("doc_id"), col("n_tokens")), Seq(col("pos")),
        Seq((col("logp"), "sum_logp")))
      .select(col("doc_id"), col("n_tokens"),
        exp(-col("sum_logp") / col("n_tokens")).as("ppl"))
  }


  /** Low-quality SPAN detection — span-level quality filtering, the
    * finer-grained sibling of document-level perplexity gates: a mostly
    * good document with one garbled/boilerplate stretch should lose the
    * STRETCH, not the document. Every `window`-token window's average
    * unigram NLL (add-one model from `refDocs`, the q117 convention) is
    * scored; windows above `maxAvgNll` flag every token they cover, and
    * maximal runs of flagged tokens merge into spans — returns
    * `(doc_id, span_start, span_end)`, 1-based inclusive token
    * positions (the [[graft.ops.Dedup.duplicateSpans]] output
    * convention, so the same excision machinery consumes either).
    *
    * Shape at 100 TB: the model is a broadcast-gated join (vocab-
    * bounded); scoring, window averages, coverage, and the
    * gaps-and-islands merge are all doc-PARTITIONED windows — never a
    * global sort, no pair expansion. Documents shorter than `window`
    * score their (single, shorter) prefix window.
    */
  def lowQualitySpans(docs: DataFrame, refDocs: DataFrame, window: Int,
      maxAvgNll: Double): DataFrame = {
    require(window >= 1, s"window=$window must be >= 1")
    val model = refDocs
      .select(explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("c"))
    val tot = model.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val toks = docs
      .select(col("doc_id"), posexplode(filter(split(col("text"), " "),
        w => length(w) > 0)).as(Seq("p0", "term")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("term"))
    val scored = toks
      .join(broadcast(model), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("p"),
        (-log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("n") + col("v")))).as("nll"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    // avg NLL of the window STARTING here (shorter at the tail: only
    // starts with a full window score, except docs shorter than w)
    val fwd = byDoc.rowsBetween(0, window - 1)
    val nToks = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
    val flagged = scored
      .withColumn("wn", count(lit(1)).over(fwd))
      .withColumn("wavg", avg(col("nll")).over(fwd))
      .withColumn("nd", count(lit(1)).over(nToks))
      .withColumn("full", col("wn") === window ||
        (col("nd") < window && col("p") === 1))
      .withColumn("bad_start",
        when(col("full") && col("wavg") > maxAvgNll, 1).otherwise(0))
    // a token is covered iff ANY flagged window start lies within the
    // previous window-1 positions (the q270 window-count trick)
    val back = byDoc.rowsBetween(-(window - 1), 0)
    val covered = flagged
      .withColumn("cov", max(col("bad_start")).over(back))
      .where(col("cov") === 1)
    // gaps-and-islands: consecutive covered positions share p - rn
    val islands = covered
      .withColumn("rn", row_number().over(byDoc))
      .groupBy(col("doc_id"), (col("p") - col("rn")).as("__g"))
      .agg(min("p").as("span_start"), max("p").as("span_end"))
    islands.select(col("doc_id"), col("span_start").cast("long"),
      col("span_end").cast("long"))
  }

  /** Interpolated Kneser–Ney bigram perplexity — the industry-standard
    * LM quality gate (what KenLM-based corpus filters score with) next
    * to [[perplexity]]'s add-one baseline: absolute discounting with
    * the CONTINUATION distribution as the lower order, so frequent-but-
    * context-bound words ("Francisco") stop inflating the backoff the
    * way raw unigram frequency does.
    *
    * Model (all choices pinned so a SQL oracle replays digit for
    * digit):
    *   - `p(wᵢ|wᵢ₋₁) = max(c₂−D, 0)/c₁(wᵢ₋₁) +
    *     D·N₁₊(wᵢ₋₁•)/c₁(wᵢ₋₁) · p_cont(wᵢ)` for seen contexts;
    *   - `p_cont(w) = (N₁₊(•w) + 1)/(B + V + 1)` — continuation counts
    *     with an add-one OOV floor (B = distinct reference bigrams,
    *     V = vocabulary), so out-of-vocabulary tokens score finite;
    *   - unseen context (c₁(wᵢ₋₁) = 0) backs off to `p_cont(wᵢ)`;
    *   - a seen context with NO surviving mass (its only reference
    *     occurrences were document-final, so it has no outgoing
    *     bigrams) also falls back to `p_cont` — the one corner where
    *     the interpolation sums to zero;
    *   - first token: `(c₁(w)+1)/(N+V)` ([[perplexity]]'s convention).
    *
    * Shape at 100 TB: identical to [[perplexity]] — the model is built
    * from the bounded reference slice and broadcast (unigrams, bigram
    * counts, per-context and per-word continuation type counts);
    * scoring is one narrow pass with broadcast lookups and a per-doc
    * position-ordered fold.
    */
  def perplexityKN(docs: DataFrame, refDocs: DataFrame,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount=$discount must be in (0, 1)")
    val uni = refDocs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c1"))
    val big = refDocs
      .select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        "transform(sequence(2, size(ts)), i -> struct(" +
          "element_at(ts, i - 1) AS prev, element_at(ts, i) AS cur))"))
        .as("bg"))
      .groupBy(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("c2"))
    // continuation type counts: big is already one row per distinct pair
    val fwd = big.groupBy("prev").agg(count(lit(1)).as("n1p_fwd"))
    val bwd = big.groupBy("cur").agg(count(lit(1)).as("n1p_bwd"))
    val refStats = uni.agg(
        sum("c1").cast("double").as("ref_tokens"),
        count(lit(1)).cast("double").as("vocab"))
      .crossJoin(broadcast(
        big.agg(count(lit(1)).cast("double").as("n_bigrams"))))
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        explode(expr(
          "transform(sequence(1, size(ts)), i -> struct(i AS pos, " +
            "CASE WHEN i = 1 THEN CAST(NULL AS STRING) " +
            "ELSE element_at(ts, i - 1) END AS prev, " +
            "element_at(ts, i) AS cur))")).as("t"))
      .select(col("doc_id"), col("n_tokens"), col("t.pos").as("pos"),
        col("t.prev").as("prev"), col("t.cur").as("cur"))
    val d = lit(discount)
    val pCont = (coalesce(col("n1p_bwd"), lit(0L)).cast("double") + 1.0) /
      (col("n_bigrams") + col("vocab") + 1.0)
    val interp =
      greatest(coalesce(col("c2"), lit(0L)).cast("double") - d, lit(0.0)) /
        col("c_prev") +
        d * coalesce(col("n1p_fwd"), lit(0L)).cast("double") /
          col("c_prev") * pCont
    val scored = toks
      .join(broadcast(big), Seq("prev", "cur"), "left")
      .join(broadcast(uni.select(col("term").as("prev"),
        col("c1").as("c_prev"))), Seq("prev"), "left")
      .join(broadcast(uni.select(col("term").as("cur"),
        col("c1").as("c_cur"))), Seq("cur"), "left")
      .join(broadcast(fwd), Seq("prev"), "left")
      .join(broadcast(bwd), Seq("cur"), "left")
      .crossJoin(broadcast(refStats))
      .withColumn("logp", when(col("pos") === 1,
          log((coalesce(col("c_cur"), lit(0L)) + lit(1.0)) /
            (col("ref_tokens") + col("vocab"))))
        .otherwise(log(
          when(col("c_prev").isNull, pCont)
            .otherwise(when(interp > 0.0, interp).otherwise(pCont)))))
    // q117's OrderedSum rewrite: identical pos-ascending addition
    // sequence (pos unique per doc, logp non-null) without the object agg
    OrderedSum(scored, Seq(col("doc_id"), col("n_tokens")), Seq(col("pos")),
        Seq((col("logp"), "sum_logp")))
      .select(col("doc_id"), col("n_tokens"),
        exp(-col("sum_logp") / col("n_tokens")).as("ppl"))
  }

  /** Dataset-card report: the per-(source, language) summary a corpus
    * release ships — document counts, token volume, and exact token-count
    * quantiles at every rollup grain (per source+lang, per source, and
    * the corpus total) in ONE aggregation pass. `ROLLUP` keeps the three
    * grains in a single shuffle instead of three scans; exact
    * `percentile` (not the sketch) because a dataset card is a published
    * artifact — [[graft.queries]]' q99 covers the one-pass sketch tier
    * for interactive use.
    */
  def datasetCard(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 6).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9)"), 6).as("p90_tokens"))

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    * fuse [[bm25TopK]]'s term-weighted ranking with a token-set Jaccard
    * ranking of the same queries — rrf(q,d) = Σ_systems 1/(`rrfK` + rank),
    * absent-from-a-list contributing 0 — and return the top `k` by fused
    * score. RRF needs no score calibration between systems (only ranks),
    * which is why it is the standard fusion for lexical + secondary
    * signals in retrieval-augmented curation.
    *
    * Determinism: both input rankings break ties by doc_id; the fused
    * score is a two-term sum of exact-rank reciprocals, so equal-rrf ties
    * (common — rrf's value set is tiny) again break by doc_id. A SQL
    * oracle replays both rankings and the fusion exactly.
    *
    * Shape at 100 TB: both rankers share the gating discipline — corpus
    * tokenization is ONE scan total (both rankers and the corpus stats
    * read the same materialized [[bm25Tf]] relation), candidate scoring
    * is confined to
    * query-term matches via broadcast semi-joins, and the fusion itself
    * is a full-outer join of two ≤(|Q|·`kInner`)-row relations: driver-
    * bounded, never corpus-bounded.
    */
  def hybridTopK(docs: DataFrame, queries: DataFrame, k: Int,
      kInner: Int = 20, rrfK: Int = 60): DataFrame = {
    // ONE corpus tokenization feeds both rankers: the BM25 side reads
    // the materialized tf relation, and the Jaccard side's distinct
    // (doc, term) projection IS tf's grain (one row per (doc, term) by
    // construction) — previously each ranker re-tokenized the corpus
    // (guide §2.4: two full scans plus a third for corpus stats → one).
    val tf = bm25Tf(docs).localCheckpoint(true)
    val bm = bm25FromTf(tf, queries, kInner, k1 = 1.2, b = 0.75)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_bm25"))
    val dterms = tf.select(col("doc_id"), col("term"))
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val dsize = dterms.groupBy("doc_id").agg(count(lit(1)).as("d_n"))
    val qsize = qterms.groupBy("query_id").agg(count(lit(1)).as("q_n"))
    val jac = dterms.join(broadcast(qterms), "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_common"))
      .join(dsize, "doc_id")
      .join(broadcast(qsize), "query_id")
      .withColumn("jaccard", col("n_common") /
        (col("d_n") + col("q_n") - col("n_common")))
      .withColumn("rk_jac", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("jaccard").desc, col("doc_id").asc)))
      .where(col("rk_jac") <= kInner)
      .select(col("query_id"), col("doc_id"), col("rk_jac"))
    bm.join(jac, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rk_bm25")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("rk_jac")), lit(0.0)))
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id").asc)))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf"))
  }

  /** Byte-pair-encoding merge training (Sennrich et al. 2016): learn the
    * `numMerges` highest-frequency adjacent-symbol merges over the
    * corpus's word vocabulary. Returns the learned merge table
    * (step, a, b, cnt) — the tokenizer artifact; apply it with
    * [[bpeApply]]. Ties break deterministically (count desc, then (a, b)
    * lexicographic), merges fold greedily left to right (`"aaaa"` with
    * merge (a, a) → `[aa, aa]`), and training stops early when no word
    * has two symbols left, so the merge sequence is identical on every
    * run and engine. Symbol splitting is codepoint-based (matching
    * Spark's `substring`) and the lexicographic tie-break compares
    * UTF-16 code units, which agrees with UTF-8 binary order on ASCII
    * vocabularies — non-BMP corpora should pin one engine's collation
    * before relying on tie order.
    *
    * Shape at 100 TB: ONE Spark job — the word-frequency aggregation —
    * then the `numMerges` greedy rounds run on the driver over the
    * collected vocabulary, so a 30k-merge tokenizer costs one corpus
    * scan plus driver arithmetic, not 30k scheduler round-trips.
    * `sampleFraction` trains on a deterministic content-hash sample of
    * the documents (merge statistics converge on a tiny fraction of a
    * web-scale corpus; the sample is `md5(text)`-gated, so it is
    * reproducible across runs and engines and biased by content, never
    * by partition layout); tokenize the FULL corpus with [[bpeApply]],
    * which is one narrow pass.
    *
    * THE COLLECT IS BOUNDED: the vocabulary is heavy-hitter pruned to
    * the `maxVocab` most frequent words (ties by word, a total
    * deterministic order) BEFORE it leaves the cluster, through a
    * TakeOrderedAndProject partial top-k — never a global sort. With
    * `maxVocab` >= the distinct-word count the output is the unpruned
    * training; below it, training sees exactly the top-V head — the
    * standard heavy-hitter practice (greedy BPE argmaxes are decided
    * by high-frequency words). Driver memory and per-merge CPU are both
    * O(maxVocab) regardless of corpus size.
    */
  def bpeTrain(docs: DataFrame, numMerges: Int,
      textCol: String = "text", sampleFraction: Double = 1.0,
      maxVocab: Int = 1 << 20): DataFrame = {
    require(numMerges >= 1, s"numMerges=$numMerges must be >= 1")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction=$sampleFraction must be in (0, 1]")
    require(maxVocab >= 1, s"maxVocab=$maxVocab must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val trainDocs =
      if (sampleFraction >= 1.0) docs
      else docs.where(
        Sampling.hashUnit(col(textCol), "bpe:") < sampleFraction)
    val vocab0: Array[(String, Long)] = trainDocs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc)
      .limit(maxVocab)
      .as[(String, Long)].collect()
    def codepoints(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    def applyMerge(syms: Array[String], a: String,
        b: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b)
          out(out.length - 1) = a + b
        else out += s
      }
      out.toArray
    }
    val vocab = vocab0.map { case (w, f) => (codepoints(w), f) }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    // Incremental pair-count maintenance (the standard BPE-trainer
    // structure): a merge of (a, b) only rewrites words that CONTAIN
    // the adjacent pair, so instead of re-counting every adjacent pair
    // of every word per step — O(numMerges · Σ|syms|), the dominant
    // cost of this loop at production merge counts — `counts` and a
    // pair → word-index posting map are updated only for the affected
    // words. The counts map after every step is EXACTLY the full
    // recount (each word's old pairs retracted, new pairs added), so
    // the argmax sequence — and therefore the merge table — is
    // bit-identical to the rescan form (OpsSpec pins it against a
    // naive rescan BPE; the q213 oracle replays every step).
    val counts = scala.collection.mutable.HashMap[(String, String), Long]()
    val index =
      scala.collection.mutable.HashMap[(String, String),
        scala.collection.mutable.Set[Int]]()
    def retract(wi: Int, syms: Array[String], f: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        val c = counts(k) - f
        if (c == 0L) counts.remove(k) else counts(k) = c
        index.get(k).foreach { s => s -= wi; if (s.isEmpty) index.remove(k) }
        i += 1
      }
    }
    def admit(wi: Int, syms: Array[String], f: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + f
        index.getOrElseUpdate(k,
          scala.collection.mutable.Set.empty[Int]) += wi
        i += 1
      }
    }
    vocab.indices.foreach { wi =>
      val (syms, f) = vocab(wi); admit(wi, syms, f)
    }
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      if (counts.isEmpty) exhausted = true
      else {
        // allocation-free argmax by (count desc, a asc, b asc) — the
        // rescan form's minBy((-c, a, b)) total order, so hash-map
        // iteration order can never influence the pick
        var bestA: String = null; var bestB: String = null
        var bestC = Long.MinValue
        counts.foreach { case ((x, y), c) =>
          if (c > bestC || (c == bestC && (bestA == null ||
              x < bestA || (x == bestA && y < bestB)))) {
            bestA = x; bestB = y; bestC = c
          }
        }
        merges += ((step, bestA, bestB, bestC))
        val affected = index.get((bestA, bestB))
          .map(_.toArray.sorted).getOrElse(Array.empty[Int])
        affected.foreach { wi =>
          val (syms, f) = vocab(wi)
          retract(wi, syms, f)
          val ns = applyMerge(syms, bestA, bestB)
          vocab(wi) = (ns, f)
          admit(wi, ns, f)
        }
        step += 1
      }
    }
    merges.toSeq.toDF("step", "a", "b", "cnt")
  }

  /** Content-defined chunking (the rsync/LBFS boundary scheme applied to
    * token streams): a chunk boundary falls after token `i` whenever the
    * md5 of the `w`-token window ending at `i` is ≡ 0 mod `divisor` —
    * boundaries depend only on LOCAL content, so inserting or deleting a
    * sentence reshuffles at most the chunks it touches, and every other
    * chunk (and its hash) survives verbatim. That is the property
    * fixed-width chunking ([[chunk]]) lacks, and what makes chunk-hash
    * dedup robust to edits: two near-identical documents share most
    * `chunk_hash` values even when their token offsets diverge. Expected
    * chunk length ≈ `divisor` tokens.
    *
    * Purely NARROW: boundary tests, cut assembly, and chunk slicing are
    * array expressions inside one projection; the 1→N explode adds no
    * shuffle. md5-derived boundaries replay exactly in any engine.
    */
  def cdcChunks(docs: DataFrame, w: Int = 4, divisor: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 1, s"w=$w must be >= 1")
    require(divisor >= 1, s"divisor=$divisor must be >= 1")
    val prep = docs
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("wg", word_ngrams(col("toks"), lit(w)))
      // the w-gram ending at token i = j + w is wg[j] (0-based j)
      .withColumn("cuts", expr(
        s"""CASE WHEN n >= $w THEN filter(transform(wg, (g, j) ->
           |  IF(pmod(CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT),
           |    $divisor) = 0, j + $w, 0)), i -> i > 0 AND i < n)
           |ELSE CAST(array() AS array<int>) END""".stripMargin))
      .withColumn("ac", expr("concat(array(0), cuts, array(n))"))
    prep
      .select(col(idCol), expr(
        """explode(transform(sequence(1, size(ac) - 1), j ->
          |  struct(j - 1 AS chunk_id,
          |    concat_ws(' ', slice(toks, element_at(ac, j) + 1,
          |      element_at(ac, j + 1) - element_at(ac, j))) AS chunk)))"""
          .stripMargin).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.chunk"),
        md5(col("c.chunk")).as("chunk_hash"))
  }

  /** Segment a word column with a learned merge sequence ([[bpeTrain]]'s
    * (a, b) pairs in step order): character symbols, then each merge's
    * fold in order. Purely narrow — the tokenizer is baked into the
    * expression, so tokenization costs one corpus pass and no join. Keep
    * the merge list bounded (hundreds); for production-size vocabularies
    * move the loop into a `mapPartitions` ranker over a broadcast merge
    * table.
    */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    graft.functions.bpe_encode(word, merges)

  /** Multinomial Naive Bayes over document tokens with Laplace
    * smoothing — the classic strong-baseline text classifier, trained
    * and applied fully inside the engine (integer counts, one `ln` per
    * model cell, ordered folds), so a SQL oracle replays both phases
    * exactly. Returns one row per document:
    * `(doc_id, actual, pred, score)` where `pred` maximizes
    * `ln prior(c) + Σ_t tf_t · ln((n_{t,c}+1)/(N_c+V))` (ties to the
    * smaller class label). Unseen (term, class) cells contribute the
    * smoothed floor via the closed form
    * `(dl − Σ_seen tf) · ln(1/(N_c+V))` — no dense vocab×class join is
    * ever materialized.
    *
    * Shape at 100 TB: ONE tokenize into a (doc, term, tf) aggregation;
    * the model is the (class, term) grain; scoring joins doc terms to
    * the model ON THE TERM key (posting-shaped, broadcastable when
    * classes×vocab is small) and folds per (doc, class) in term order.
    * Train and apply read the corpus once each.
    */
  def naiveBayes(docs: DataFrame, classCol: String): DataFrame = {
    // train and score run over the SAME corpus here, and both phases
    // start from the identical (doc, class, dl, term, tf) relation —
    // build it once and feed both (guide §2.4: two tokenize+aggregate
    // passes → one; output is unchanged because each phase consumed
    // exactly this relation before)
    val tf = nbTf(docs, classCol).localCheckpoint(true)
    naiveBayesScoreFromTf(naiveBayesTrainFromTf(tf), tf)
  }

  /** The (doc, class, doc-length, term, tf) relation both Naive Bayes
    * phases consume — one tokenize + one aggregation over the corpus.
    */
  private def nbTf(docs: DataFrame, classCol: String): DataFrame =
    docs.select(col("doc_id"), col(classCol).as("cls"),
        split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("cls"), size(col("t")).as("dl"),
        explode(col("t")).as("term"))
      .groupBy("doc_id", "cls", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** A trained multinomial Naive Bayes model ([[naiveBayesTrain]]): all
    * relations are on the (class) or (class × vocab) grain — broadcast
    * size by construction — so scoring any corpus against the model
    * never shuffles anything model-shaped.
    */
  final case class NBModel(model: DataFrame, classTotals: DataFrame,
      vocab: DataFrame, priors: DataFrame, classIdx: DataFrame)

  /** Model-build half of [[naiveBayes]]: per-(class, term) smoothed
    * log-probabilities, class token totals, vocabulary size, document
    * priors, and a dense class index for the argmax — from TRAINING
    * documents only, so a held-out corpus can be scored with
    * [[naiveBayesScore]] (the real quality-gate pattern: label-noise
    * triage and source classification score docs the model never saw).
    */
  def naiveBayesTrain(docs: DataFrame, classCol: String): NBModel =
    // tf feeds the cell aggregation AND the doc-grain priors —
    // materialize once (localCheckpoint: eager, lineage-truncating,
    // blocks reclaimed by the context cleaner) instead of paying the
    // tokenize+aggregate twice
    naiveBayesTrainFromTf(nbTf(docs, classCol).localCheckpoint(true))

  /** [[naiveBayesTrain]] over an already-materialized [[nbTf]] relation. */
  private def naiveBayesTrainFromTf(tf: DataFrame): NBModel = {
    // model: per-(class, term) token counts — the (class × vocab) grain
    // is tiny, and THREE derivations read it (log-probs, class totals,
    // vocab size), so it checkpoints too; everything model-sized below
    // is broadcast, keeping the whole tail to a handful of stages (a
    // first cut with one window + per-branch re-aggregation planned 24
    // exchanges of tiny data and paid ~7 s of pure stage overhead)
    val cells = tf.groupBy(col("cls").as("m_cls"), col("term"))
      .agg(sum("tf").as("n_tc")).localCheckpoint(true)
    val classTotals = cells.groupBy("m_cls").agg(sum("n_tc").as("n_c"))
    val vocab = cells.agg(countDistinct("term").as("v"))
    // doc grain + priors derive from tf — the raw docs are never
    // re-scanned
    val docsOnly = tf.select("doc_id", "cls", "dl").distinct()
    val priors = docsOnly.groupBy(col("cls").as("m_cls"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(docsOnly.agg(count(lit(1)).as("n_all"))))
    val model = cells.join(broadcast(classTotals), "m_cls")
      .crossJoin(broadcast(vocab))
      .select(col("m_cls"), col("term"),
        log((col("n_tc") + lit(1.0)) / (col("n_c") + col("v")))
          .as("logp"))
    // dense class index so the per-doc argmax is ONE struct-max partial
    // aggregation instead of a row_number window (ties: higher score,
    // then the alphabetically SMALLER class via the negated index); the
    // global window only ever orders the ≤|classes| rows
    val classIdx = classTotals.select(col("m_cls"))
      .withColumn("__cid",
        row_number().over(Window.orderBy("m_cls")))
    NBModel(model, classTotals, vocab, priors, classIdx)
  }

  /** Scoring half of [[naiveBayes]]: apply a trained [[NBModel]] to any
    * document set (held-out or the training set itself — scoring the
    * training docs reproduces the one-argument [[naiveBayes]] exactly).
    * `classCol` supplies the `actual` label carried through for
    * evaluation; prediction uses only the model. Unseen terms (absent
    * from the training vocabulary) contribute the smoothed floor via
    * the closed form — no dense vocab join, no special-casing.
    *
    * Shape at 100 TB: ONE tokenize of the scored corpus; the only
    * corpus-grain shuffles are the (doc, term) aggregation and the
    * per-doc folds — every model-side relation is broadcast.
    */
  def naiveBayesScore(m: NBModel, docs: DataFrame,
      classCol: String): DataFrame =
    // tf feeds the scoring join AND the doc grid — materialize once
    naiveBayesScoreFromTf(m, nbTf(docs, classCol).localCheckpoint(true))

  /** [[naiveBayesScore]] over an already-materialized [[nbTf]] relation. */
  private def naiveBayesScoreFromTf(m: NBModel, tf: DataFrame): DataFrame = {
    val docsOnly = tf.select("doc_id", "cls", "dl").distinct()
    // seen-term contribution per (doc, class), folded in term order; a
    // (doc, class) pair sharing NO terms still needs a score (all-floor
    // + prior), so score on the full doc × class grid (classes are a
    // broadcast handful) with the seen sums left-joined in
    // ordered fold via the sorted-window running sum (OrderedSum): the
    // identical term-ascending addition sequence — terms are unique per
    // (doc, class) and tf*logp is non-null after the inner join — on
    // codegen sort machinery instead of the object collect+fold
    // (measured 2.7 s → 1.4 s at sf0.1, raw-Double-bits identical)
    val seen = OrderedSum(
      tf.join(broadcast(m.model), Seq("term"))
        .select(col("doc_id"), col("m_cls"), col("term"),
          (col("tf") * col("logp")).as("__c"), col("tf")),
      Seq(col("doc_id"), col("m_cls")), Seq(col("term")),
      Seq((col("__c"), "seen_sum")), Seq((sum("tf"), "seen_tf")))
    val grid = docsOnly
      .crossJoin(broadcast(m.classTotals.select(col("m_cls"))))
    val scored = grid
      .join(seen, Seq("doc_id", "m_cls"), "left")
      .withColumn("seen_sum", coalesce(col("seen_sum"), lit(0.0)))
      .withColumn("seen_tf", coalesce(col("seen_tf"), lit(0L)))
      .join(broadcast(m.classTotals), "m_cls").crossJoin(broadcast(m.vocab))
      .join(broadcast(m.priors), "m_cls")
      .join(broadcast(m.classIdx), "m_cls")
      .withColumn("score",
        log(col("n_docs").cast("double") / col("n_all")) +
          col("seen_sum") +
          (col("dl") - col("seen_tf")).cast("double") *
            log(lit(1.0) / (col("n_c") + col("v"))))
    scored.groupBy("doc_id")
      .agg(max(struct(col("score"), (-col("__cid")).as("nc"),
        col("m_cls").as("pc"), col("cls").as("ac"))).as("m"))
      .select(col("doc_id"), col("m.ac").as("actual"),
        col("m.pc").as("pred"), col("m.score").as("score"))
  }

  /** χ² feature scoring per class over document frequencies: for each
    * (term, class), the 2×2 independence statistic
    * `N·(AD−CB)² / ((A+B)(C+D)(A+C)(B+D))` where A = docs of the class
    * containing the term, etc. — the standard supervised
    * feature-selection signal (which terms CHARACTERIZE a class).
    * Returns the top `k` terms per class by (χ², term). Contingency
    * entries are exact integers; the statistic assembles in doubles
    * identically on any engine (each factor is an exact small integer
    * cast once). Zero-variance margins score 0, never NaN.
    *
    * Shape at 100 TB: one distinct (doc, term, class) projection, two
    * aggregations (term-by-class and term totals + a broadcast class
    * size table), and a rank window on the (term, class) grain — never
    * the corpus grain.
    */
  def chiSquareTerms(docs: DataFrame, classCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val dt = docs.select(col("doc_id"), col(classCol).as("cls"),
        explode(expr("array_distinct(split(text, ' '))")).as("term"))
    val a = dt.groupBy("term", "cls").agg(count(lit(1)).as("a"))
    val termDf = a.groupBy("term").agg(sum("a").as("df"))
    val clsDocs = docs.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("n_cls"))
    val n = docs.agg(count(lit(1)).as("n_all"))
    val scored = a.join(termDf, "term").join(broadcast(clsDocs), "cls")
      .crossJoin(broadcast(n))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_cls") - col("a"))
      .withColumn("d",
        col("n_all") - col("n_cls") - col("b"))
      .withColumn("chi2", {
        val det = (col("a") * col("d") - col("c") * col("b"))
          .cast("double")
        val den = (col("a") + col("b")).cast("double") *
          (col("c") + col("d")).cast("double") *
          (col("a") + col("c")).cast("double") *
          (col("b") + col("d")).cast("double")
        when(den > 0, col("n_all").cast("double") * det * det / den)
          .otherwise(lit(0.0))
      })
    val w = Window.partitionBy("cls")
      .orderBy(col("chi2").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select("cls", "rk", "term", "a", "chi2")
  }

  /** Trailing-repetition detector: does the document END in a short
    * token loop ("... la la la la", "... and more and more and more")?
    * The signature failure mode of degenerate LLM output, and a
    * standard screen before synthetic data enters a training mix —
    * within-doc gram stats ([[repetitionStats]]-style) dilute the
    * signal over the whole document, whereas a loop at the END is
    * near-certain generation collapse however long the prefix.
    *
    * For each period `p = 1..maxPeriod` the last `p` tokens form the
    * unit; `r_p` counts how many times the unit tiles the suffix
    * (consecutively, scanning backward, capped at `maxUnits`). The
    * reported `(period, n_repeats)` is the SMALLEST period reaching
    * `minRepeats` (the fundamental loop, not its multiples — "la la
    * la la" reports p=1 r=4, never p=2 r=2); docs with no qualifying
    * loop report `(0, 0)`.
    *
    * Purely narrow: token arrays, slice equality, and ordered folds
    * inside one projection — maxPeriod·maxUnits slice compares per
    * row, no shuffle, pipelines with the scan at 100 TB.
    */
  def tailRepetition(docs: DataFrame, maxPeriod: Int = 5,
      maxUnits: Int = 30, minRepeats: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(maxPeriod >= 1, s"maxPeriod=$maxPeriod must be >= 1")
    require(maxUnits >= 2, s"maxUnits=$maxUnits must be >= 2")
    require(minRepeats >= 2, s"minRepeats=$minRepeats must be >= 2")
    // per period p: r = 1 + length of the run of consecutive backward
    // unit matches (an ordered fold with a short-circuit flag)
    def rFor(p: Int): String =
      s"""CASE WHEN n >= ${2 * p} THEN
         |  aggregate(
         |    transform(sequence(1, ${maxUnits - 1}),
         |      k -> n >= (k + 1) * $p AND
         |        slice(toks, n - (k + 1) * $p + 1, $p) ==
         |          slice(toks, n - $p + 1, $p)),
         |    named_struct('c', 1, 'open', true),
         |    (acc, m) -> CASE WHEN acc.open AND m
         |      THEN named_struct('c', acc.c + 1, 'open', true)
         |      ELSE named_struct('c', acc.c, 'open', false) END).c
         |ELSE 1 END""".stripMargin
    val candidates = (1 to maxPeriod)
      .map(p => s"named_struct('p', $p, 'r', ${rFor(p)})")
      .mkString("array(", ", ", ")")
    docs
      .withColumn("toks",
        filter(split(col(textCol), " "), t => length(t) > 0))
      .withColumn("n", size(col("toks")))
      .withColumn("__best", expr(
        s"filter($candidates, x -> x.r >= $minRepeats)"))
      .withColumn("period",
        coalesce(expr("try_element_at(__best, 1).p"), lit(0)))
      .withColumn("n_repeats",
        coalesce(expr("try_element_at(__best, 1).r"), lit(0)))
      .drop("toks", "n", "__best")
  }

  /** Cross-document n-gram duplication profile: per document, how much
    * of its n-gram mass also appears in OTHER documents —
    * `(doc_id, n_grams, n_dup, dup_frac)` with `n_dup` the count of the
    * doc's distinct n-grams whose document frequency exceeds 1. The
    * across-corpus complement to the Gopher WITHIN-doc repetition
    * rules: a high `dup_frac` doc is boilerplate / template / near-copy
    * even when no single near-dup pair flags it, and the standard
    * memorization-risk screen before training (RefinedWeb-style
    * duplicate-n-gram fraction).
    *
    * Shape at 100 TB: one (doc, gram) distinct projection, one
    * gram-grain df aggregation, one join back on the gram key, one
    * aggregation to the doc grain — all hash-partitioned; no pair
    * expansion anywhere (contrast [[graft.ops.Dedup.jaccardPairs]]:
    * this is the linear-cost corpus-level signal, that is the
    * quadratic-in-bucket pairwise one).
    */
  def crossDocNgramOverlap(docs: DataFrame, n: Int = 5): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    // the gram relation feeds TWO differently-keyed consumers (the df
    // aggregation's gram exchange carries a partial agg, the join's
    // does not, so ReuseExchange cannot dedupe them) — left lazy the
    // tokenize + n-gram explode runs twice; materialize once
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(word_ngrams(col("t"), lit(n)))).as("gram"))
      .localCheckpoint(true)
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_grams"))
  }

  /** Per-source Zipf profile: fit `ln freq = slope · ln rank + b` by
    * OLS over each source's `topR` most frequent terms — natural text
    * tracks slope ≈ −1 (Zipf's law); machine-generated, templated, or
    * corrupted sources bend the curve (flat head = boilerplate
    * vocabulary, steep head = token spam), making the slope + fit R² a
    * cheap corpus-health fingerprint per source next to
    * [[charEntropy]]-style per-doc signals. Returns
    * `(source, n_types, n_tokens, slope, intercept, r2)`; sources with
    * fewer than 2 ranked terms (or zero rank variance) report NULL
    * slope/r2.
    *
    * Shape at 100 TB: one (source, term) tf aggregation, a rank window
    * PARTITIONED by source truncated at `topR` (the regression reads
    * only source × topR rows), and one source-grain moment
    * aggregation. Term ties rank lexicographically, so the fitted
    * points — and the floats — are identical on any engine.
    */
  def zipfProfile(docs: DataFrame, sourceCol: String = "source",
      topR: Int = 200): DataFrame = {
    require(topR >= 2, s"topR=$topR must be >= 2")
    val tf = docs.select(col(sourceCol).as("source"),
        explode(filter(split(col("text"), " "),
          t => length(t) > 0)).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("freq"))
    val totals = tf.groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum("freq").as("n_tokens"))
    val w = Window.partitionBy("source")
      .orderBy(col("freq").desc, col("term").asc)
    val ranked = tf.withColumn("rk", row_number().over(w))
      .where(col("rk") <= topR)
      .select(col("source"), col("rk"), col("freq"))
    // every moment folds in rank order (the bm25TopK determinism
    // discipline) so the fitted floats are partition-invariant and
    // bit-replayable by the SQL oracle
    def osum(v: String, alias: String) =
      expr("aggregate(array_sort(collect_list(struct(rk, " +
        s"CAST($v AS DOUBLE) AS v))), cast(0.0 as double), " +
        "(a, t) -> a + t.v)").as(alias)
    val m = ranked.groupBy("source").agg(
      count(lit(1)).as("r"),
      osum("ln(rk)", "sx"), osum("ln(freq)", "sy"),
      osum("ln(rk) * ln(rk)", "sxx"),
      osum("ln(freq) * ln(freq)", "syy"),
      osum("ln(rk) * ln(freq)", "sxy"))
    val dx = col("r") * col("sxx") - col("sx") * col("sx")
    val dy = col("r") * col("syy") - col("sy") * col("sy")
    val cv = col("r") * col("sxy") - col("sx") * col("sy")
    totals.join(m, "source")
      .select(col("source"), col("n_types"), col("n_tokens"),
        when(dx > 0, cv / dx).as("slope"),
        when(dx > 0, (col("sy") - (cv / dx) * col("sx")) / col("r"))
          .as("intercept"),
        when(dx > 0 && dy > 0, cv * cv / (dx * dy)).as("r2"))
  }

  /** All-pairs sparse cosine similarity over n-gram-shingle TF-IDF
    * vectors at a threshold — the inverted-index similarity join
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07
    * shape): docs become sparse unit vectors over their shingles, and
    * candidate pairs are generated ONLY through shared postings, never by
    * pairing the corpus. With non-negative weights, a pair sharing no
    * surviving term has cosine exactly 0, so the posting join is EXACT
    * for any threshold > 0 — this is a pruning strategy, not an
    * approximation (contrast [[graft.ops.Dedup.minhashCandidates]]).
    *
    * `maxDf` drops terms appearing in more than that many docs before
    * weighting — the cosine is over the df-capped vocabulary (standard
    * stop-shingle removal: a term in half the corpus carries ~zero idf
    * but quadratic posting cost). That cap is also the scale contract:
    * partial-product pairs are bounded by Σ_t df_t² ≤ maxDf · Σ_t df_t =
    * maxDf · (corpus posting mass), i.e. LINEAR in corpus size at fixed
    * maxDf, where the uncapped join is quadratic in the hottest posting.
    * The documented upgrade at 100 TB is Bayardo prefix filtering
    * (index only the head of each vector that could still reach the
    * threshold); the plan shape — two aggs, one posting self-join, one
    * pair agg — does not change.
    *
    * Every floating sum folds in ascending-term order over a sorted
    * collected list (the [[bm25TopK]] determinism discipline), so scores
    * are partition-invariant and bit-replayable by a SQL oracle.
    */
  def sparseCosinePairs(docs: DataFrame, minCos: Double, maxDf: Int,
      n: Int = 3): DataFrame = {
    require(minCos > 0, s"minCos=$minCos must be > 0 (the posting join " +
      "only sees pairs with a shared term; at <= 0 it is not exact)")
    require(maxDf >= 1, s"maxDf=$maxDf must be >= 1")
    require(n >= 1, s"n=$n must be >= 1")
    val toks = docs
      .select(col("doc_id").as("id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
    val tf = toks.select(col("id"),
        explode(word_ngrams(col("t"), lit(n))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val nd = toks.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfreq, "term").crossJoin(broadcast(nd))
      .select(col("id"), col("term"),
        (col("tf") *
          (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + 1.0))
          .as("w"))
    // both ordered folds (norms, pair dot products) run as OrderedSum
    // window passes: the term key is unique per id (tf grain) and per
    // (id_l, id_r) pair (each doc carries a term once), values non-null
    val nrm = OrderedSum(
        w.withColumn("__w2", col("w") * col("w")),
        Seq(col("id")), Seq(col("term")), Seq((col("__w2"), "nrm2")))
      .select(col("id"), sqrt(col("nrm2")).as("nrm"))
    val u = w.join(nrm, "id")
      .select(col("id"), col("term"), (col("w") / col("nrm")).as("uw"))
    val prods = u.as("a").join(u.as("b"), Seq("term"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"), col("term"),
        (col("a.uw") * col("b.uw")).as("prod"))
    OrderedSum(prods, Seq(col("id_l"), col("id_r")), Seq(col("term")),
        Seq((col("prod"), "cos")), Seq((count(lit(1)), "n_shared")))
      .where(col("cos") >= minCos)
  }

  /** NDCG@k per query over a ranked, relevance-labeled result relation
    * `(query_id, rk, rel)` — the ranking-quality metric that grades a
    * retrieval stack ([[bm25TopK]], [[hybridRrf]], an ANN re-ranker)
    * with graded relevance and positional discounts: `DCG@k =
    * Σ rel_i / log2(i + 1)` over retrieved rank order, `IDCG@k` the
    * same sum over the best possible ordering of the SAME judged rows
    * (ties in rel break by retrieved rank, so the ideal permutation —
    * and the float summation order — is deterministic), `ndcg =
    * dcg / idcg` (NULL when every rel is 0; there is nothing to rank).
    *
    * Both sums are ordered `aggregate` folds (the BM25/q116 float
    * discipline), so engines replay them term-for-term.
    *
    * Shape at 100 TB: rows are already k-per-query; one per-query
    * window for the ideal ranks + one query-grain agg.
    */
  def ndcgAtK(ranked: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val ln2 = math.log(2.0)
    val base = ranked.where(col("rk") <= k)
      .withColumn("gain",
        col("rel").cast("double") / (log(col("rk") + 1) / lit(ln2)))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("rk").asc)
    // the two ordered folds use DIFFERENT within-query orders (retrieved
    // rank vs ideal rank), so this is the two-sort spelling of the
    // OrderedSum rewrite: one Exchange on query_id, two sorted window
    // passes for the running sums, and a struct-max per query to read
    // each ordering's final (= last-row) running value — the addition
    // sequences are identical to the collected folds (rk and irk are
    // unique ranks; gains non-null)
    val wRk = Window.partitionBy("query_id").orderBy("rk")
    val wIrk = Window.partitionBy("query_id").orderBy("irk")
    base
      .withColumn("irk", row_number().over(wIdeal))
      .withColumn("igain",
        col("rel").cast("double") / (log(col("irk") + 1) / lit(ln2)))
      .withColumn("run_d", sum("gain").over(
        wRk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("run_i", sum("igain").over(
        wIrk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("query_id")
      .agg(max(struct(col("rk"), col("run_d"))).as("__d"),
        max(struct(col("irk"), col("run_i"))).as("__i"))
      .select(col("query_id"), col("__d.run_d").as("dcg"),
        col("__i.run_i").as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0, col("dcg") / col("idcg")))
  }

  /** Flesch reading ease + Flesch–Kincaid grade level per document —
    * the classic readability pair a curation mix uses to stratify
    * difficulty (kids' corpora vs legal text) or to flag degenerate
    * machine text (reading ease far outside [0, 100]).
    *
    * Syllables use a fixed replayable heuristic: per word,
    * `max(1, vowelGroups − silentE)`, where vowelGroups counts maximal
    * `[aeiouy]+` runs and silentE is 1 when the word matches
    * `[^aeiouy]e$` (trailing e after a consonant — "table"/"house"
    * drop one group; "tree"/"be" don't, their final `e` extends a
    * vowel run). The rule trades linguistic fidelity for exact
    * cross-engine replay — the stratification SIGNAL survives the
    * approximation. Sentences count maximal `[.!?]+` runs, floored at
    * 1 (a fragment is one sentence). Counts are exact integers; the
    * two scores are fixed-order double arithmetic over integer ratios,
    * identical on any IEEE engine.
    *
    * Shape at 100 TB: purely narrow — one projection, the syllable sum
    * an ordered `aggregate` fold over the token array (no explode, no
    * shuffle, no UDF).
    */
  def readability(docs: DataFrame): DataFrame = {
    val base = docs
      .where(col("text").isNotNull.and(length(trim(col("text"))) > 0))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        greatest(lit(1L), size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))).cast("long")).as("n_sentences"),
        expr("""aggregate(split(text, ' '), CAST(0 AS BIGINT),
          (acc, w) -> acc + greatest(1,
            size(regexp_extract_all(w, '[aeiouy]+', 0)) -
            CASE WHEN w rlike '[^aeiouy]e$' THEN 1 ELSE 0 END))""")
          .as("n_syllables"))
    base
      .withColumn("wps",
        col("n_words").cast("double") / col("n_sentences"))
      .withColumn("spw",
        col("n_syllables").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (lit(206.835) - lit(1.015) * col("wps")
          - lit(84.6) * col("spw")).as("reading_ease"),
        (lit(0.39) * col("wps") + lit(11.8) * col("spw")
          - lit(15.59)).as("fk_grade"))
  }

  /** Sentence BLEU-`maxN` (Papineni et al., ACL 2002, unsmoothed) of a
    * candidate text column against a reference text column — the
    * text-generation-era pair metric a training pipeline needs for
    * translation/summary pair curation (drop pairs whose target
    * diverges from the source beyond repair) and for self-distillation
    * filtering (keep model outputs close to the gold). Modified n-gram
    * precision with per-gram CLIP (a candidate gram scores at most its
    * reference count — the anti-gaming core of BLEU), geometric mean
    * over n = 1..maxN, brevity penalty `min(1, exp(1 − |ref|/|cand|))`.
    * Any zero precision gives BLEU 0 exactly (the standard unsmoothed
    * convention).
    *
    * Purely NARROW: tokenization and the precision folds run inside one
    * projection — the clipped numerator is the native codegen'd
    * [[graft.functions.TokenNgramClip]] hash kernel, O(maxN · len) per
    * row (the declarative array_distinct/filter spelling it replaced
    * was O(len²) and 55× slower on the documents corpus), no shuffle,
    * no UDF, unchanged at 100 TB. Whitespace tokens; empty candidates
    * score 0. Returns `(id, len_cand, len_ref, p_1..p_maxN, bp, bleu)`.
    */
  def bleuScore(pairs: DataFrame, candCol: String = "cand",
      refCol: String = "ref", maxN: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN=$maxN must be in [1, 8]")
    def toks(c: String) =
      filter(split(col(c), " "), t => length(t) > 0)
    val base = pairs.select(col(idCol), col(candCol), col(refCol),
      toks(candCol).as("__ct"), toks(refCol).as("__rt"))
    val withP = (1 to maxN).foldLeft(base) { (df, n) =>
      // clipped modified precision Σ_g min(count_cand, count_ref) /
      // candidate-gram count — the numerator via the native O(|cand| +
      // |ref|) hash kernel (graft.functions.TokenNgramClip; the prior
      // declarative array_distinct + two-filter spelling was O(L²) per
      // row and 55× slower on the documents corpus), the denominator
      // arithmetic (len − n + 1 non-empty tokens)
      df.withColumn(s"p_$n",
        when(size(col("__ct")) < n, lit(0.0))
          .otherwise(
            graft.functions.token_ngram_clip(col(candCol), col(refCol),
              lit(n)).cast("double") /
              (size(col("__ct")) - (n - 1)).cast("double")))
    }
    val lnSum = (1 to maxN).map(n => log(col(s"p_$n")))
      .reduce(_ + _)
    val anyZero = (1 to maxN).map(n => col(s"p_$n") === 0.0)
      .reduce(_ || _)
    withP
      .withColumn("len_cand", size(col("__ct")).cast("long"))
      .withColumn("len_ref", size(col("__rt")).cast("long"))
      .withColumn("bp",
        when(col("len_cand") === 0, lit(0.0))
          .when(col("len_cand") >= col("len_ref"), lit(1.0))
          .otherwise(exp(lit(1.0) - col("len_ref").cast("double") /
            col("len_cand"))))
      .withColumn("bleu",
        when(anyZero || col("len_cand") === 0, lit(0.0))
          .otherwise(col("bp") * exp(lnSum / maxN)))
      .select(col(idCol) +: col("len_cand") +: col("len_ref") +:
        (1 to maxN).map(n => col(s"p_$n")) :+ col("bp") :+ col("bleu"): _*)
  }

  /** ROUGE-L (Lin 2004) of a candidate text column against a reference
    * — the longest-common-subsequence complement to [[bleuScore]]: LCS
    * rewards in-order content at ANY gap, so a faithful summary that
    * compresses heavily still scores where clipped n-gram precision
    * collapses. `r = LCS/|ref|`, `p = LCS/|cand|`,
    * `f1 = 2pr/(p+r)` (0 when either side is empty or LCS is 0).
    *
    * The LCS itself is the native codegen'd `token_lcs`
    * ([[graft.functions.TokenLcs]] kernel) (whitespace tokens, exact
    * byte equality — SQL-replayable): one narrow projection per row,
    * no shuffle, no UDF, O(|cand|·|ref|) per pair under the
    * expression's loud cell cap. Returns
    * `(id, lcs, len_cand, len_ref, r, p, f1)`.
    */
  def rougeL(pairs: DataFrame, candCol: String = "cand",
      refCol: String = "ref", idCol: String = "doc_id"): DataFrame = {
    def nTok(c: String) =
      size(filter(split(col(c), " "), t => length(t) > 0)).cast("long")
    pairs
      .select(col(idCol),
        graft.functions.token_lcs(col(candCol), col(refCol)).as("lcs"),
        nTok(candCol).as("len_cand"), nTok(refCol).as("len_ref"))
      .withColumn("r",
        when(col("len_ref") === 0, lit(0.0))
          .otherwise(col("lcs").cast("double") / col("len_ref")))
      .withColumn("p",
        when(col("len_cand") === 0, lit(0.0))
          .otherwise(col("lcs").cast("double") / col("len_cand")))
      .withColumn("f1",
        when(col("r") + col("p") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("p") * col("r") /
            (col("p") + col("r"))))
  }
}
