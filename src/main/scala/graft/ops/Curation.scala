package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.word_ngrams

/** End-to-end corpus curation: the composition a training-data pipeline
  * actually runs over raw documents — exact dedup, quality gating,
  * stratified re-balancing, and leakage-safe splitting — as ONE logical
  * plan.
  *
  * Shape at 100 TB: one shuffle (the dedup window on the content hash);
  * everything after it is a narrow chain of projections/filters over the
  * surviving rows ([[TextAnalysis.quality]] and both [[Sampling]] stages
  * are shuffle-free), so Catalyst pipelines the whole post-dedup stage and
  * the job costs one pass + one exchange. Every step is md5-arithmetic
  * deterministic — reruns and engines agree row-for-row (the DuckDB
  * oracle replays the entire chain).
  */
object Curation {

  /** docs(doc_id, text, lang, ...) → curated rows with quality metrics and
    * a `split` column; every other input column (source, url, …) passes
    * through untouched. Exact duplicates collapse to the lowest-id copy
    * BEFORE sampling, so a duplicated document can never straddle splits.
    */
  def curate(docs: DataFrame,
      minQuality: Double,
      rates: Map[String, Double], defaultRate: Double,
      weights: Seq[(String, Double)]): DataFrame = {
    val canonical = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .where(col("rk") === 1).drop("rk")
    val scored = TextAnalysis.withQuality(canonical)
    val kept = scored.where(col("quality") >= minQuality)
    val sampled = Sampling.stratifiedSample(kept, "lang", rates, defaultRate)
    Sampling.contentSplit(sampled, weights)
  }

  /** Cross-split contamination scan: pairs of documents in DIFFERENT
    * splits that share a winnowing fingerprint — i.e. a common token run
    * of at least `w + k - 1` tokens. Content-hash splitting keeps exact
    * duplicates together, but NEAR-duplicates (edited copies, quoted
    * passages) can still straddle the train/eval boundary; this is the
    * detector an evaluation-integrity pass runs before shipping a split.
    * One fingerprint shuffle; quadratic only inside fingerprint buckets.
    * The split column rides the winnow projection into
    * [[Dedup.bucketPairsOf]], so the corpus is scanned once.
    */
  def leakageScan(splitDocs: DataFrame, k: Int, w: Int): DataFrame =
    Dedup.bucketPairsOf(
        TextAnalysis.winnow(splitDocs, k, w, keep = Seq("split"))
          .select(col("doc_id").as("id"), col("split"), col("fp")),
        Seq("fp"), struct(col("id"), col("split")))
      .where(col("a.split") =!= col("b.split"))
      .select(col("a.id").as("id1"), col("a.split").as("split1"),
        col("b.id").as("id2"), col("b.split").as("split2"))
      .distinct()

  /** PII patterns shared by [[redactPii]] and its tests/oracles. Kept to
    * constructs Java regex and RE2 interpret identically (character
    * classes, bounded repetition, \b — no lookaround, no backreferences)
    * so external engines can replay the redaction byte-for-byte.
    * The phone pattern requires a leading `+` (international form): bare
    * digit runs are too ambiguous to scrub at corpus scale.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"))

  /** Scrub PII from the text column: emails, IPv4 addresses, and
    * international-format phone numbers are replaced with typed tokens,
    * with a per-document match count per category (counted BEFORE
    * redaction, applied in [[piiPatterns]] order so earlier categories
    * cannot be double-counted by later ones). Purely narrow — regex
    * projection per row, no shuffle, pipelines with the scan at 100 TB.
    * All other columns pass through.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, re, token)) => regexp_replace(c, re, token)
    }
    val counted = piiPatterns.foldLeft(docs) { case (df, (name, re, _)) =>
      df.withColumn(s"n_$name", regexp_count(col(textCol), lit(re)))
    }
    counted.withColumn(textCol, redacted)
  }

  /** Consistent pseudonymization: replace every email with a surrogate
    * token derived from a HASH of the value —
    * `<EMAIL_xxxxxxxx>` (first 8 md5 hex chars) — so the SAME address
    * maps to the SAME token everywhere in the corpus, across documents,
    * partitions, and runs. Unlike [[redactPii]]'s uniform `<EMAIL>`,
    * this preserves coreference ("did the same address appear in both
    * docs?") while removing the identifier — what entity-aware training
    * data and linkable audit logs need. Appends `pseudo` (rewritten
    * text), `n_matches`, `n_distinct`; other columns pass through.
    *
    * Hash surrogates need NO coordination: no dictionary build, no join,
    * no global counter — the rewrite is a purely narrow per-row fold
    * over each row's own distinct matches (replace longest-first, so a
    * match that is a substring of another cannot corrupt it; surrogate
    * bodies are hex and contain no `@`, so folds never touch prior
    * replacements). At 100 TB this pipelines with the scan exactly like
    * [[redactPii]]. Collision odds at 8 hex chars are ~n²/2³³ (~2%
    * for a million distinct addresses — widen `hexLen` for larger PII
    * vocabularies).
    */
  def pseudonymize(docs: DataFrame, textCol: String = "text",
      hexLen: Int = 8): DataFrame = {
    require(hexLen >= 1 && hexLen <= 32, s"hexLen=$hexLen out of range")
    val re = piiPatterns.head._2 // email
    val cmp = "(l, r) -> CASE WHEN length(l) > length(r) THEN -1 " +
      "WHEN length(l) < length(r) THEN 1 " +
      "WHEN l < r THEN -1 WHEN l > r THEN 1 ELSE 0 END"
    docs
      // pattern goes through the Column API, not a SQL literal — SQL
      // string parsing would eat the \. escapes
      .withColumn("__all",
        regexp_extract_all(col(textCol), lit(re), lit(0)))
      .withColumn("__m", expr(s"array_sort(array_distinct(__all), $cmp)"))
      .withColumn("pseudo", expr(s"aggregate(__m, $textCol, (acc, m) -> " +
        s"replace(acc, m, concat('<EMAIL_', substr(md5(m), 1, $hexLen), " +
        "'>')))"))
      .withColumn("n_matches", size(col("__all")))
      .withColumn("n_distinct", size(col("__m")))
      .drop("__all", "__m")
  }

  /** Luhn (mod-10) checksum validity of an all-digit string — the
    * check digit scheme every payment card number satisfies. From the
    * RIGHT, every second digit doubles (minus 9 when the double
    * exceeds 9); the total must divide by 10. Pure column arithmetic
    * (an ordered fold over character positions) — codegen-friendly,
    * no UDF, and a SQL oracle replays it digit by digit.
    *
    * This is what makes digit-run scrubbing tractable where
    * [[piiPatterns]] deliberately refuses bare digit runs: a random
    * 13-19-digit run passes Luhn only 10% of the time, so validating
    * candidates keeps order ids and timestamps OUT of the redaction
    * set ([[redactCards]]).
    */
  def luhnValid(d: Column): Column = {
    val n = length(d)
    val total = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val digit = ascii(d.substr(n - i + lit(1), lit(1))) - lit(48)
      val dbl = digit * 2
      acc + when(pmod(i, lit(2)) === 0,
        when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(digit)
    })
    n >= 2 && d.rlike("^[0-9]+$") && pmod(total, lit(10)) === 0
  }

  /** Redact payment-card numbers: MAXIMAL digit runs of 13-19
    * characters (digit-boundary semantics — a run embedded in a longer
    * digit sequence is NOT a candidate, so the first 19 digits of a
    * 20-digit order id can never be misread as a card) that PASS the
    * Luhn checksum are replaced with `<CARD>`; runs that fail stay
    * untouched (an order id or timestamp that merely looks like a card
    * survives — the false-positive discipline bare-regex scrubbing
    * cannot offer). Appends `n_card_candidates` (maximal runs in
    * range) and `n_cards` (Luhn-valid occurrences) next to the
    * rewritten `textCol`; other columns pass through.
    *
    * Boundary detection avoids lookarounds on purpose (RE2-family
    * engines lack them): a sentinel (`\u0001`, assumed absent from the
    * text — it is a C0 control no text corpus should contain) brackets
    * every maximal digit run, the split yields alternating digit /
    * non-digit tokens, and qualifying tokens rewrite IN PLACE — so a
    * valid card value occurring elsewhere as a substring of a longer
    * run is never corrupted (the defect a string-level fold-replace
    * cannot avoid). Purely narrow: regex bracket + split + per-token
    * map per row, no shuffle, no UDF — pipelines with the scan at
    * 100 TB like [[pseudonymize]].
    */
  def redactCards(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sep = "\u0001"
    val isCand = (t: Column) => t.rlike("^[0-9]{13,19}$")
    docs
      .withColumn("__t", split(
        regexp_replace(col(textCol), "([0-9]+)", sep + "$1" + sep),
        sep, -1))
      .withColumn("__cand", filter(col("__t"), t => isCand(t)))
      .withColumn("__valid", filter(col("__cand"), d => luhnValid(d)))
      .withColumn(textCol, array_join(transform(col("__t"),
        t => when(array_contains(col("__valid"), t), lit("<CARD>"))
          .otherwise(t)), ""))
      .withColumn("n_card_candidates", size(col("__cand")))
      .withColumn("n_cards", size(col("__valid")))
      .drop("__t", "__cand", "__valid")
  }

  /** HTML entities [[stripMarkup]] decodes, applied in order — `&amp;`
    * LAST, so a double-escaped `&amp;lt;` correctly yields the literal
    * text `&lt;` rather than re-decoding it to `<`.
    */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip HTML/XML markup from the text column — the first pass over any
    * web crawl: script/style blocks (with their contents) and comments go
    * first, then all remaining tags, then common entities decode
    * ([[htmlEntities]]), then whitespace collapses to single spaces. The
    * result is appended as `plain`; other columns pass through. Same
    * dialect discipline as [[piiPatterns]]: Java∩RE2 constructs only
    * (non-greedy dot-all, NO backreferences — script and style are
    * separate patterns for that reason), so external engines replay the
    * stripping byte-for-byte. Purely narrow: regex projection per row, no
    * shuffle, pipelines with the scan at 100 TB.
    */
  def stripMarkup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val blockPats = Seq(
      "(?s)<script\\b[^>]*>.*?</script>",
      "(?s)<style\\b[^>]*>.*?</style>",
      "(?s)<!--.*?-->",
      "<[^>]+>")
    val untagged = blockPats.foldLeft(col(textCol)) {
      (c, re) => regexp_replace(c, re, " ")
    }
    val decoded = htmlEntities.foldLeft(untagged) { case (c, (ent, ch)) =>
      replace(c, lit(ent), lit(ch)) // literal replace — entities aren't regex
    }
    docs.withColumn("plain", trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** Extract `href="..."` targets from markup — the crawl-frontier /
    * link-graph companion to [[stripMarkup]]: its output (doc → target)
    * is exactly the edge list [[Graph.pageRank]] ranks. Double-quoted
    * hrefs only, by contract (the dominant form; a single-quote variant
    * would need a second pattern — RE2 has no backreferences to unify
    * them). One row per extracted link in document order; duplicate
    * targets within a document are preserved (frontier semantics —
    * `distinct` afterwards for graph edges). Narrow 1→N explode. Both
    * column names are parameters resolved through the Column API (no SQL
    * interpolation — a name needing backticks just works).
    */
  def extractLinks(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol),
        lit("href=\"([^\"]*)\""), lit(1)))
        .as("href"))

  /** URL canonicalization: collapse the spelling variants that make one
    * resource look like many — the first step of link-graph dedup and
    * per-host corpus accounting (a crawl frontier that treats
    * `HTTP://WWW.Example.com:80/a/?utm_source=x` and `http://example.com/a`
    * as different URLs re-crawls everything). Appends `canon_url` and
    * `host`:
    *
    *  - fragment dropped; query split at the FIRST `?`
    *  - tracking params removed (`utm_*`, `fbclid`, `gclid`, `ref`),
    *    survivors sorted and rejoined — param order never distinguishes
    *  - absolute URLs (containing `://`): scheme and host lowercased,
    *    the scheme's OWN default port (`:80` for http, `:443` for https
    *    — never cross-scheme) and a leading `www.` stripped; path
    *    case preserved, trailing `/` trimmed
    *  - relative URLs: trailing `/` trimmed, params processed the same;
    *    `host` is empty
    *
    * Pure narrow column expressions (split / array ops / anchored
    * regexes in the Java∩RE2 dialect) — no UDF, no shuffle, and a SQL
    * oracle replays every step.
    */
  def canonicalizeUrls(links: DataFrame,
      urlCol: String = "href"): DataFrame = {
    val u0 = substring_index(col(urlCol), "#", 1)
    val qpos = locate("?", u0)
    val base = when(qpos > 0, u0.substr(lit(1), qpos - 1)).otherwise(u0)
    val query = when(qpos > 0, u0.substr(qpos + 1, lit(1 << 20)))
      .otherwise(lit(""))
    val keep = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !startswith(p, lit("utm_")) &&
        !startswith(p, lit("fbclid=")) && !startswith(p, lit("gclid=")) &&
        !startswith(p, lit("ref="))))
    val qstr = when(size(keep) > 0, concat(lit("?"), array_join(keep, "&")))
      .otherwise(lit(""))
    val isAbs = locate("://", base) > 0
    val parts = split(base, "/")
    val scheme = lower(element_at(parts, 1))
    // default port is scheme-specific: :80 only for http, :443 only for
    // https — stripping either for both schemes would conflate the
    // distinct resources http://h:443/x and https://h:80/x. "[^\s\S]"
    // never matches (valid in Java regex AND RE2, unlike lookahead), so
    // other schemes keep any explicit port.
    val portPat = when(scheme === "http:", lit(":80$"))
      .when(scheme === "https:", lit(":443$"))
      .otherwise(lit("[^\\s\\S]"))
    // "(www\.)+" not "www\.": stripping only one leading www would make
    // canonicalization non-idempotent on pathological www.www. hosts
    val host = regexp_replace(
      regexp_replace(lower(coalesce(try_element_at(parts, lit(3)), lit(""))),
        portPat, lit("")),
      lit("^(www\\.)+"), lit(""))
    val path = rtrim(
      when(size(parts) > 3,
        concat(lit("/"), array_join(slice(parts, lit(4), size(parts) - 3), "/")))
        .otherwise(lit("")), "/")
    val canon = when(isAbs,
        concat(scheme, lit("//"), host, path, qstr))
      .otherwise(concat(rtrim(base, "/"), qstr))
    links.withColumn("canon_url", canon)
      .withColumn("host", when(isAbs, host).otherwise(lit("")))
  }

  /** Per-group quality-quantile retention — the FineWeb-style "keep the
    * best X% per domain" curation pass: within each `byCol` group, rows
    * rank by (`scoreCol` DESC, `idCol` ASC) and the top
    * `max(1, floor(keepFrac × n))` survive. The cutoff is integer
    * arithmetic on the group count (not `percent_rank`), so the exact
    * survivor set replays on any engine, and every group — however small
    * — keeps at least its best row (a tiny domain never vanishes from
    * the mixture entirely).
    *
    * Shape at 100 TB: ONE per-group window carrying (score, id); no
    * joins, no second shuffle — the count rides the same window
    * partitioning.
    */
  def qualityQuantileFilter(df: DataFrame, byCol: String, scoreCol: String,
      keepFrac: Double, idCol: String = "doc_id"): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac=$keepFrac must be in (0, 1]")
    val w = Window.partitionBy(byCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("q_rk", row_number().over(w))
      .withColumn("q_n",
        count(lit(1)).over(Window.partitionBy(byCol)))
      .where(col("q_rk") <=
        greatest(lit(1L), floor(lit(keepFrac) * col("q_n"))))
      .drop("q_rk", "q_n")
  }

  /** Gopher-style rule filter (Rae et al. 2021 §A.1.1, adapted to
    * whitespace tokens): per-document heuristic quality rules, each
    * emitting a named reason when violated — word-count bounds, mean
    * word-length bounds, minimum alphabetic-word ratio, and repetition
    * caps on the most frequent unigram/bigram (the single-line adaptation
    * of MassiveText's duplicate-line and top-2-gram rules). Returns every
    * metric (unrounded per-row IEEE arithmetic — the q48 convention), the
    * comma-joined `reasons` string, and the `keep` verdict.
    *
    * Shape at 100 TB: narrow metrics are one projection; the repetition
    * metrics are one (doc, gram)-grain aggregation (map-side combine, the
    * same shape as token counting) collapsed to doc grain and equi-joined
    * back on doc_id — two shuffles on the SAME key, no self-join, bigrams
    * built with `zip_with` over slices (the q131 materialized-array
    * lesson, never a per-element re-split).
    */
  def gopherRules(docs: DataFrame,
      minWords: Int = 20, maxWords: Int = 80,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 6.0,
      minAlphaRatio: Double = 0.8,
      maxTopWordFrac: Double = 0.15,
      maxTopBigramFrac: Double = 0.10): DataFrame = {
    val toks = docs.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("__t"))
      .withColumn("n_words", size(col("__t")).cast("long"))
    val narrow = toks.select(col("doc_id"), col("n_words"), col("__t"),
      ((length(col("text")) - (col("n_words") - 1)).cast("double") /
        col("n_words")).as("mean_word_len"),
      (size(filter(col("__t"), w => w.rlike("[a-z]"))).cast("double") /
        col("n_words")).as("alpha_ratio"))
    val grams = narrow.select(col("doc_id"),
      explode(concat(
        transform(col("__t"),
          t => struct(lit(1).as("ng"), t.as("g"))),
        zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => struct(lit(2).as("ng"),
            concat(a, lit(" "), b).as("g"))))).as("gr"))
    val top = grams
      .groupBy(col("doc_id"), col("gr.ng").as("ng"), col("gr.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(when(col("ng") === 1, col("c"))).as("mx1"),
        max(when(col("ng") === 2, col("c"))).as("mx2"))
    val m = narrow.drop("__t").join(top, "doc_id")
      .withColumn("top_word_frac",
        col("mx1").cast("double") / col("n_words"))
      .withColumn("top_bigram_frac",
        when(col("n_words") > 1,
          col("mx2").cast("double") / (col("n_words") - 1))
          .otherwise(lit(0.0)))
      .drop("mx1", "mx2")
    m.withColumn("reasons", concat_ws(",",
        when(col("n_words") < minWords, lit("too_short")),
        when(col("n_words") > maxWords, lit("too_long")),
        when(col("mean_word_len") < minMeanLen, lit("short_words")),
        when(col("mean_word_len") > maxMeanLen, lit("long_words")),
        when(col("alpha_ratio") < minAlphaRatio, lit("low_alpha")),
        when(col("top_word_frac") > maxTopWordFrac, lit("rep_word")),
        when(col("top_bigram_frac") > maxTopBigramFrac,
          lit("rep_bigram"))))
      .withColumn("keep", col("reasons") === "")
  }

  /** Population-stability-index drift report between two corpus
    * snapshots: a numeric feature is bucketed at fixed width, and each
    * bucket contributes `(pA - pB) · ln(pA / pB)` with add-1 smoothing
    * over the UNION bucket set (so a bucket present in only one snapshot
    * contributes a finite term instead of ±∞) — the release-gate "did the
    * distribution move" check next to [[graft.ops.Cdc.snapshotDiff]]'s
    * row-identity audit. Returns one row per bucket (counts, smoothed
    * shares, contribution); total PSI = Σ psi_term (> 0.2 is the
    * conventional "significant drift" line).
    *
    * Every term is narrow arithmetic on exact integer counts, so the
    * doubles are bit-identical cross-engine without any fold ordering.
    *
    * Shape at 100 TB: one count aggregation per snapshot (map-side
    * combine, bucket-grain output), a full-outer equi-join of two tiny
    * bucket tables, totals as broadcast 1-row aggregates. The corpora are
    * each touched exactly once.
    */
  def psiDrift(snapA: DataFrame, snapB: DataFrame, valueCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth=$bucketWidth must be positive")
    def buckets(df: DataFrame, out: String) = df
      .select(floor(col(valueCol) / bucketWidth).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(out))
    val joined = buckets(snapA, "n_a")
      .join(buckets(snapB, "n_b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"),
      count(lit(1)).as("n_buckets"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_a"), col("n_b"),
        ((col("n_a") + 1).cast("double") /
          (col("tot_a") + col("n_buckets"))).as("p_a"),
        ((col("n_b") + 1).cast("double") /
          (col("tot_b") + col("n_buckets"))).as("p_b"))
      .withColumn("psi_term",
        (col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")))
  }

  /** C4-style line-level corpus dedup: drop every line (segment between
    * `sep`s) whose exact content appears in more than `maxDf` documents —
    * corpus-wide boilerplate (headers, footers, cookie banners) vanishes
    * while document-unique text survives. Documents whose every line is
    * boilerplate drop out entirely. Line order within each document is
    * preserved; other columns pass through.
    *
    * Shape at 100 TB: explode on lines → ONE distinct-df aggregation on
    * (line hash) with map-side combine → broadcast-or-shuffle join back —
    * here a plain equi-join keyed by the line hash (boilerplate tables are
    * corpus-scale, never broadcast) → per-doc re-assembly window keyed by
    * doc_id. Two shuffles of line-grain data, no corpus self-join.
    */
  def dropBoilerplateLines(docs: DataFrame, sep: String = "\n",
      maxDf: Long = 1L): DataFrame = {
    val others = docs.columns.filter(c => c != "doc_id" && c != "text")
    val lines = docs
      .select(col("doc_id") +: others.map(col) :+
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
        : _*)
      .withColumn("h", md5(col("col")))
    val df = lines.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs_with"))
    lines.join(df, "h")
      .where(col("n_docs_with") <= maxDf)
      .groupBy((col("doc_id") +: others.map(col)): _*)
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("col")))),
          s => s.getField("col"))).as("text"))
      .select((col("doc_id") +: col("text") +: others.map(col)): _*)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minHits` distinct word `n`-grams with an evaluation set — the scan a
    * training pipeline runs against held-out benchmarks before training
    * (leakageScan's sibling: there both sides are corpus-scale, here the
    * right side is a benchmark, small by nature). Returns one row per
    * contaminated doc with the hit count and the fraction of the doc's
    * distinct n-grams that are contaminated.
    *
    * Shape at 100 TB: the eval n-gram set is broadcast (benchmarks are
    * small), and the per-doc distinct-gram total rides the SAME projection
    * the explode comes from — so the corpus is scanned ONCE (a second
    * counting branch would re-evaluate the gram pipeline; Spark does not
    * reuse exchanges across branches) and the only exchange is the per-doc
    * hit-count aggregation.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
      minHits: Long = 1L): DataFrame = {
    val evalGrams = evalDocs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(explode(distinctGrams(n)).as("gram"))
      .distinct()
    corpusGrams(corpus, n)
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("hit_frac"))
  }

  /** Distinct word `n`-grams of the pre-split token array column `t`. */
  private def distinctGrams(n: Int) =
    array_distinct(word_ngrams(col("t"), lit(n)))

  /** One row per (document, distinct n-gram) with the per-doc distinct-gram
    * total riding the same projection (single corpus scan — see
    * [[decontaminate]]'s shape note).
    */
  private def corpusGrams(corpus: DataFrame, n: Int): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), distinctGrams(n).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("gram"))

  /** Deterministic Bloom-filter position for hash seed `h`: the first 8
    * md5 hex digits of "h:value" (32 bits) taken mod `numBits` — the same
    * md5-portable convention as [[Sketch.bucket]], so any engine with md5
    * replays the filter bit-for-bit.
    */
  /** Bloom bit position `h` for a value: hex digits [h·6+1, h·6+6] of ONE
    * md5 digest, mod `numBits` — the digest-chunking form of
    * Kirsch–Mitzenmacher double hashing (one hash evaluation feeds all k
    * probe positions; md5's bits are uniform, so 24-bit chunks are
    * independent enough for the Bloom bound). One md5 per value instead
    * of one per (value, h): at `numHashes` = 5 that is 5× less hashing on
    * the corpus-side probe, which IS the probe's dominant cost (Spark's
    * subexpression elimination shares the digest across the positions).
    * Requires `(h+1)·6 <= 32` hex chars, i.e. numHashes <= 5.
    */
  private[ops] def bloomPos(c: Column, h: Int, numBits: Int): Column =
    pmod(conv(substring(md5(c), h * 6 + 1, 6), 16, 10)
      .cast("long"), lit(numBits.toLong))

  /** Bloom filter over `valueCol` as ONE row holding a DENSE word array
    * (`numBits/32` elements): each value sets `numHashes` bits, positions
    * per [[bloomPos]], packed 32 bits per 64-bit word with `bit_or` — the
    * half-word packing keeps every shift <= 31, which both Java's
    * wrapping and SQL engines' overflow-checked `<<` agree on (a shift
    * into bit 63 would wrap to the sign bit on the JVM and be rejected as
    * overflow by e.g. DuckDB). The array is densified by unioning an
    * all-zero word per index before the final pack, so the probe side's
    * `element_at(bloom, widx + 1)` is a constant-time array index — NOT
    * a lookup against a sparse map, which Spark evaluates as a linear
    * scan: densifying via a 32 Ki-element `transform` of map lookups in
    * the one-row fold measured 25 s of single-threaded expression eval
    * at sf0.1; the zero-union is one extra BENCHMARK-grain exchange and
    * milliseconds. Build cost is two tiny aggregations over the value
    * set plus `numBits/32` zero rows; the result stays small at any
    * corpus scale because its size is fixed by `numBits` (2^20 bits =
    * 32 Ki words = 256 KiB), NOT by how many values went in.
    */
  def bloomFilterOf(values: DataFrame, valueCol: String,
      numBits: Int, numHashes: Int): DataFrame = {
    require(numHashes >= 1 && numHashes * 6 <= 32,
      s"numHashes=$numHashes must be in [1, 5]: positions are 6-hex-digit " +
        "chunks of one 32-hex md5 digest")
    val words = numBits / 32
    val zeros = values.sparkSession.range(words)
      .select(col("id").as("widx"), lit(0L).as("word"))
    values
      .select(explode(array((0 until numHashes).map(h =>
        bloomPos(col(valueCol), h, numBits)): _*)).as("pos"))
      .groupBy(expr("pos div 32").as("widx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
        "CAST(pos % 32 AS INT)))").as("word"))
      .unionByName(zeros)
      .groupBy("widx").agg(expr("bit_or(word)").as("word"))
      .agg(expr("transform(array_sort(collect_list(struct(widx, word))), " +
        "s -> s.word)").as("bloom"))
  }

  /** [[decontaminate]] with the benchmark gram set folded into a Bloom
    * filter — the 100 TB shape when the held-out suite is itself large
    * (multi-benchmark eval harnesses): the shipped payload is a fixed
    * `numBits/8`-byte bit array instead of every distinct eval gram
    * string, and the corpus side stays a purely NARROW projection (probe =
    * `numHashes` constant-time array probes per gram against the
    * plan-literal filter; no gram-keyed join at all) followed by the same
    * single per-doc aggregation. The trade is deterministic false positives —
    * `n_hits` can only OVERcount [[decontaminate]]'s (never undercount:
    * every true eval gram has all its bits set), with the standard
    * (1 - e^(-kn/m))^k rate; md5 arithmetic end-to-end, so the oracle
    * replays the exact hit set, false positives included.
    */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame, n: Int = 8,
      numBits: Int = 1 << 20, numHashes: Int = 5,
      minHits: Long = 1L): DataFrame = {
    require(numBits > 0 && numBits % 32 == 0,
      s"numBits=$numBits must be a positive multiple of 32")
    val evalGrams = evalDocs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= n)
      .select(explode(distinctGrams(n)).as("gram"))
      .distinct()
    // The filter materializes HERE (one row, `numBits/8` bytes — bounded
    // by construction, never by the eval set) and ships as a plan
    // LITERAL: the words are one shared constant, the probe plan has no
    // join at all, and nothing can copy the 256 KiB array per gram row
    // (the broadcast-join form risked exactly that at every stage
    // boundary). With the cheap zero-union densify in [[bloomFilterOf]],
    // the whole entry measures 4.2 s at sf0.1 vs 28.9 s for the
    // map-lookup build it replaces.
    val bloomArr = bloomFilterOf(evalGrams, "gram", numBits, numHashes)
      .first().getSeq[Long](0).toArray
    val member = expr("forall(ps, p -> (shiftright(" +
      "element_at(bloom, CAST(p div 32 AS INT) + 1), " +
      "CAST(p % 32 AS INT)) & 1) = 1)")
    corpusGrams(corpus, n)
      .withColumn("bloom", typedLit(bloomArr))
      .withColumn("ps", array((0 until numHashes).map(h =>
        bloomPos(col("gram"), h, numBits)): _*))
      .where(member)
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("hit_frac"))
  }

  /** k-anonymity / l-diversity profile over a quasi-identifier set —
    * the privacy audit a dataset runs before release: every
    * equivalence class (one combination of `quasiCols` values) reports
    * its size, the number of DISTINCT values of `sensitiveCol` inside
    * it (l-diversity: a class of 50 people all sharing one diagnosis
    * is k-anonymous and still leaks), and an `at_risk` flag for
    * classes smaller than `k`. Join the flagged classes back on the
    * quasi columns to suppress or generalize the offending rows.
    *
    * Shape at 100 TB: ONE aggregation to the quasi-identifier grain;
    * the distinct count is Spark's standard two-phase distinct-agg
    * expansion (partial distinct on (class, value), then count) — no
    * windows, no joins, no driver state.
    */
  def kAnonymityProfile(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k=$k below 2 makes every class anonymous")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
      .withColumn("at_risk", col("class_size") < k)
  }

  /** Encoding-anomaly (mojibake) detection — the cheap signal that a
    * crawl shard went through the wrong charset somewhere upstream:
    *   - `n_replacement`: U+FFFD replacement characters (a decoder
    *     already gave up);
    *   - `n_c1`: C1 control block U+0080–U+009F (valid cp1252 bytes
    *     decoded as Latin-1 — never legitimate in text);
    *   - `n_double_utf8`: the `Ã`/`Â` + continuation-range signature
    *     (`[ÂÃ][U+0080–U+00BF]`) of UTF-8 bytes decoded as Latin-1
    *     ("é" → "Ã©", NBSP → "Â ");
    *   - `n_c0`: C0 controls other than tab/newline/CR (binary junk in
    *     a text column).
    * `suspect` flags any nonzero count — route those docs to
    * re-decoding or the reject pile before they poison a tokenizer
    * vocabulary with mojibake tokens.
    *
    * Shape at 100 TB: purely narrow — four codegen'd regex counts per
    * row, no shuffle, no UDF.
    */
  def encodingAnomalies(docs: DataFrame): DataFrame = {
    def cnt(pat: String) =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    docs.select(col("doc_id"),
        cnt("\uFFFD").as("n_replacement"),
        cnt("[\u0080-\u009F]").as("n_c1"),
        cnt("[\u00C2\u00C3][\u0080-\u00BF]").as("n_double_utf8"),
        cnt("[\u0000-\u0008\u000B\u000C\u000E-\u001F]").as("n_c0"))
      .withColumn("suspect",
        col("n_replacement") + col("n_c1") + col("n_double_utf8")
          + col("n_c0") > 0)
  }

  /** Blocklist scan: which banned phrases each document contains, in
    * ONE text pass regardless of blocklist size — the
    * [[graft.functions.MultiMatch]] Aho–Corasick expression, narrow
    * per-row, no shuffle, no UDF (the `contains OR contains OR …`
    * spelling rescans the text once per phrase — at a 10k-phrase
    * blocklist over 100 TB that is the difference between one corpus
    * scan and ten thousand). Exact case-sensitive substring matching;
    * normalize upstream (lower/NFC) when the policy is
    * case-insensitive. Returns
    * `(doc_id, n_matched, matched_ids, flagged)` with `matched_ids`
    * the comma-joined ascending pattern indices (a scalar, so the
    * relation composes with grouped audits and the driver's compare).
    */
  def blocklistScan(docs: DataFrame, patterns: Seq[String],
      textCol: String = "text"): DataFrame = {
    val m = graft.functions.multi_match(col(textCol), patterns)
    docs.select(col("doc_id"), m.as("__m"))
      .select(col("doc_id"),
        size(col("__m")).cast("long").as("n_matched"),
        array_join(transform(col("__m"), _.cast("string")), ",")
          .as("matched_ids"),
        (size(col("__m")) > 0).as("flagged"))
  }

  /** The enforcement half of [[blocklistScan]]: replace every
    * leftmost-longest non-overlapping blocklisted phrase with `token`
    * (FlashText semantics) in ONE Aho–Corasick pass per document —
    * [[graft.functions.MultiReplace]], narrow per-row, no UDF, cost
    * independent of blocklist size. Returns
    * `(doc_id, clean_text, n_redactions)`.
    */
  def redactBlocklist(docs: DataFrame, patterns: Seq[String],
      token: String = "<BLOCKED>", textCol: String = "text"): DataFrame = {
    require(token.nonEmpty, "token must be non-empty")
    // exact redaction count as token-instance delta (instances already
    // present in the source survive untouched and subtract out); a
    // source where a replacement boundary completes a partial token
    // string could over-count — pick a token absent from the corpus
    def cnt(c: Column) =
      ((length(c) - length(replace(c, lit(token), lit("")))) /
        length(lit(token))).cast("long")
    docs.select(col("doc_id"),
        graft.functions.multi_replace(col(textCol), patterns, token)
          .as("clean_text"),
        cnt(col(textCol)).as("__pre"))
      .select(col("doc_id"), col("clean_text"),
        (cnt(col("clean_text")) - col("__pre")).as("n_redactions"))
  }


  /** Confusable characters folded by [[foldConfusables]]: a curated
    * Latin-script subset of Unicode TR39's confusables table — the
    * Cyrillic and Greek letters that RENDER like Latin ones (the
    * classic dedup-evasion / spam-cloaking trick), folded to their
    * Latin skeleton after lowercasing. Single-codepoint mappings only,
    * so one `translate` applies them on any engine.
    */
  private[ops] val ConfusableFrom: String =
    "\u0430\u0435\u043e\u0440\u0441\u0445\u0443\u0456\u0455\u0458\u04bb" + // cyrillic a e o p c x y i s j h
      "\u03bf\u03b1\u03bd\u03b9\u03ba\u03c1\u03c5\u03c7" // greek o a v i k r u x
  private[ops] val ConfusableTo: String = "aeopcxyisjh" + "oavikrux"

  /** Zero-width / invisible code points an evader splits tokens with:
    * ZWSP, ZWNJ, ZWJ, word joiner, BOM/ZWNBSP, soft hyphen.
    */
  private[ops] val ZeroWidthClass: String =
    "[\u200b\u200c\u200d\u2060\ufeff\u00ad]"

  /** The confusable-resistant text skeleton: NFC-compose, lowercase,
    * strip zero-width/invisible code points, fold the TR39 Latin
    * confusable subset — the canonical form under which the re-hosted
    * copy that swapped Latin 'a' for Cyrillic '\u0430' and split words
    * with zero-width spaces hashes IDENTICALLY to its source.
    * Idempotent; pure narrow column expression every engine replays
    * (`nfc_normalize` + `lower` + one regexp + one translate).
    */
  def foldConfusables(text: Column): Column =
    translate(
      regexp_replace(lower(graft.functions.nfc_normalize(text)),
        ZeroWidthClass, ""),
      ConfusableFrom, ConfusableTo)

  /** Exact duplicate groups under the confusable skeleton —
    * [[graft.ops.Dedup.normalizedGroups]]'s shape (ONE partial-agg
    * shuffle on a 16-byte hash) with [[foldConfusables]] as the
    * canonicalization: catches the homoglyph/zero-width evasion that
    * plain normalization misses entirely (a single swapped Cyrillic
    * letter defeats an md5 of the lowercased text).
    */
  def confusableGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(foldConfusables(col(textCol))).as("fold_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** GPT-style concat-and-chunk CONTEXT-WINDOW packing: lay the corpus
    * out as one token stream in `(keyCol, idCol)` order (curriculum
    * key first, unique id as the tiebreak) and cut it every
    * `windowTokens` tokens — the standard pretraining batch assembly,
    * where a document may straddle window boundaries and every window
    * except the last is exactly full (zero padding waste, unlike
    * first-fit bin packing, at the cost of split documents — the
    * attention mask handles the boundary downstream).
    *
    * TIER NOTE: this is the EXACT-GLOBAL tier of
    * [[graft.ops.Sampling.packExamples]] (q157), which cuts per-hash-
    * bucket streams — one partial example per bucket, no cross-bucket
    * order. The global tier became possible once
    * [[graft.ops.Layout.globalCumsum]] made the exact distributed
    * prefix sum cheap: exactly ONE partial window corpus-wide and a
    * caller-chosen curriculum order, for the same one-shuffle cost
    * class. Use packExamples when bucket-local order suffices and the
    * per-bucket waste is acceptable; use this when the stream order is
    * part of the training recipe.
    *
    * Returns ONE ROW PER (window, document-slice):
    * `(window_id, id, doc_offset, win_offset, slice_len)` — document
    * `id` contributes `slice_len` tokens starting at its own
    * `doc_offset` into position `win_offset` of window `window_id`.
    * Rows with `lenCol ≤ 0` (or null) contribute nothing and emit no
    * slice.
    *
    * Shape at 100 TB: the stream positions come from
    * [[graft.ops.Layout.globalCumsum]] (one input execution, a range
    * sort, one stats job and a partition-parallel window — never a
    * single-partition scan), and the slice explosion is a narrow per-row
    * `sequence(first_window, last_window)` expansion bounded by
    * `1 + len/windowTokens` rows per document. Every output value is
    * closed-form integer arithmetic over (start, len, W), so an
    * oracle replays it exactly.
    */
  def contextWindows(docs: DataFrame, windowTokens: Long,
      lenCol: String = "n_tokens", keyCol: String = "doc_id",
      idCol: String = "doc_id"): DataFrame = {
    require(windowTokens >= 1, s"windowTokens=$windowTokens must be >= 1")
    val w = lit(windowTokens)
    val len = col(lenCol).cast("long")
    val withStart = graft.ops.Layout.globalCumsum(
      docs.where(len > 0L), keyCol, idCol, lenCol, cumCol = "__cw_start")
    withStart
      .select(col(idCol).as("id"), len.as("__len"),
        col("__cw_start").as("__start"))
      .select(col("id"), col("__len"), col("__start"),
        // integer `div`, never `/`: Spark's `/` on longs is double
        // division, which mis-buckets past 2^53 and returns a double
        explode(sequence(
          expr(s"__start div $windowTokens"),
          expr(s"(__start + __len - 1) div $windowTokens"))).as("window_id"))
      .select(
        col("window_id"),
        col("id"),
        (greatest(col("window_id") * w, col("__start")) - col("__start"))
          .as("doc_offset"),
        (greatest(col("window_id") * w, col("__start"))
          - col("window_id") * w).as("win_offset"),
        (least((col("window_id") + 1L) * w, col("__start") + col("__len"))
          - greatest(col("window_id") * w, col("__start")))
          .as("slice_len"))
  }
}
