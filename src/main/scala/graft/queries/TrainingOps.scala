package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AsOf, Basket, Curation, Dedup, Funnel, Linkage,
  Multimodal, Sampling, Similarity, Skew, Sketch, TextAnalysis}
import QueryDef.{eventsMicros, table}

/** Training-data pipeline operators as oracle-checked queries: dedup
  * (exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity search
  * (brute-force + LSH-bucketed), text analysis (lang-ID, quality, tokens,
  * fingerprints), multimodal plumbing. All probabilistic structures use
  * md5-derived hashes so DuckDB replays them exactly.
  */
object TrainingOps {

  private val dot64 =
    "(SELECT SUM(CAST(x.xa AS DOUBLE) * CAST(x.xb AS DOUBLE)) " +
      "FROM (SELECT UNNEST(%s.embedding) xa, UNNEST(%s.embedding) xb) x)"
  private def norm2(t: String) =
    s"(SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE)) " +
      s"FROM (SELECT UNNEST($t.embedding) v) x)"

  /** The [[graft.ops.Tokenize.NoSpaceScriptClass]] codepoint-range
    * class, verbatim — `\\x{...}` spelling is valid in BOTH Java regex
    * and RE2, so the oracle's segmentation is character-for-character
    * the engine's.
    */
  private def scriptClassSql: String =
    graft.ops.Tokenize.NoSpaceScriptClass

  /** 26 Han ideographs standing in for a–z in the CJK fixtures (all
    * BMP, so per-char translate agrees across engines).
    */
  private def cjkAlphabet: String =
    "\u5b89\u6ce2\u8349\u5730\u8863\u98a8\u8c37\u706b\u77f3\u4eba" +
      "\u91d1\u6728\u6797\u9593\u6771\u5357\u897f\u5317\u6c34\u5ddd" +
      "\u5c71\u6708\u65e5\u661f\u96f2\u6d77"

  private def simhashSigSql(cond: String = "TRUE") =
    s"""toks AS (SELECT doc_id id, UNNEST(string_split(text, ' ')) tok
      |         FROM documents WHERE $cond),
      |hx AS (SELECT id, substr(md5(tok), 1, 15) hex FROM toks),
      |bits AS (SELECT id, b,
      |    strpos('0123456789abcdef', substr(hex, CAST(b // 4 AS INT) + 1, 1)) - 1 AS dval
      |  FROM hx, UNNEST(generate_series(0, 59)) t(b)),
      |votes AS (SELECT id, b,
      |    SUM(2 * ((dval >> CAST(3 - b % 4 AS INT)) & 1) - 1) AS v
      |  FROM bits GROUP BY 1, 2),
      |sig AS (SELECT id,
      |    CAST(SUM(CASE WHEN v > 0
      |      THEN (CAST(1 AS BIGINT) << CAST(59 - b AS INT)) ELSE 0 END) AS BIGINT)
      |      AS simhash
      |  FROM votes GROUP BY 1)""".stripMargin

  /** DuckDB mirror of [[graft.ops.Sampling.hashUnit]]: a [0,1) draw from
    * the first four hex digits of md5(salt || text).
    */
  private def drawSql(salt: String): String = drawSqlOn(salt, "text")

  /** [[drawSql]] over an arbitrary SQL expression (the cluster-key
    * draw in q221 hashes a BIGINT rendered as its decimal string).
    */
  private[queries] def drawSqlOn(salt: String, e: String): String =
    s"""((((strpos('0123456789abcdef', substr(md5('$salt' || ($e)), 1, 1)) - 1) * 16
       |      + strpos('0123456789abcdef', substr(md5('$salt' || ($e)), 2, 1)) - 1) * 16
       |      + strpos('0123456789abcdef', substr(md5('$salt' || ($e)), 3, 1)) - 1) * 16
       |      + strpos('0123456789abcdef', substr(md5('$salt' || ($e)), 4, 1)) - 1)
       |      / 65536.0""".stripMargin

  /** DuckDB mirror of the 8-hex-digit md5 prefix as an int64 (the
    * [[graft.ops.Sketch.bucket]] / Bloom-position convention).
    */
  private def hex8Sql(x: String): String = (1 to 8)
    .map(i => s"(strpos('0123456789abcdef', substr($x, $i, 1)) - 1)")
    .reduceLeft((a, b) => s"($a * 16 + $b)")

  /** 15-hex-digit md5 prefix as an int64 (< 2^60 — the
    * [[graft.ops.Profile.datasetManifest]] row-hash convention).
    */
  private def hex15Sql(x: String): String = (1 to 15)
    .map(i => s"(strpos('0123456789abcdef', substr($x, $i, 1)) - 1)")
    .reduceLeft((a, b) => s"($a * 16 + $b)")

  private def shinglesSql(cond: String = "TRUE") =
    s"""toks AS (SELECT doc_id id, string_split(text, ' ') l FROM documents
      |          WHERE $cond AND len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT id, array_to_string(l[i:i+2], ' ') AS shingle
      |       FROM toks, UNNEST(generate_series(1, len(l) - 2)) t(i))""".stripMargin

  val all: Seq[QueryDef] = Seq(

    QueryDef("q40_dedup_exact",
      (s, d) => Dedup.exactGroups(table(s, d, "documents"))
        .agg(count(lit(1)).as("n_groups"),
          sum("n_copies").as("n_docs"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
          max("n_copies").as("max_copies")),
      Some("""SELECT COUNT(*) AS n_groups,
             |  CAST(SUM(c) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
             |  MAX(c) AS max_copies
             |FROM (SELECT md5(text) h, COUNT(*) c FROM documents GROUP BY 1) g"""
        .stripMargin)),

    // Exact pairwise Jaccard is the deliberate validation tier (quadratic
    // in co-shingle pairs); the battery SF-gates it with a fixed doc_id cap
    // — mirrored in the oracle — so its cost is CONSTANT above sf0.1
    // (5,000 docs) and the battery stays runnable at sf1+. The ungated
    // scale path is q42 (MinHash-LSH candidates → re-score).
    QueryDef("q41_dedup_jaccard",
      (s, d) => Dedup.jaccardPairs(
          table(s, d, "documents").where(col("doc_id") < 6000), 3, 0.8)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1", "id2"),
      Some(s"""WITH ${shinglesSql("doc_id < 6000")},
              |sizes AS (SELECT id, COUNT(*) n_sh FROM sh GROUP BY 1),
              |inter AS (SELECT a.id id1, b.id id2, COUNT(*) n_common
              |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              |          GROUP BY 1, 2)
              |SELECT id1, id2,
              |  ROUND(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4)
              |    AS jaccard
              |FROM inter
              |JOIN sizes na ON na.id = id1 JOIN sizes nb ON nb.id = id2
              |WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.8
              |ORDER BY 1, 2""".stripMargin)),

    QueryDef("q42_dedup_minhash_lsh",
      (s, d) => Dedup.minhashCandidates(table(s, d, "documents"), 3, 8, 2)
        .orderBy("id1", "id2"),
      Some(s"""WITH ${shinglesSql()},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2)
              |SELECT DISTINCT a.id AS id1, b.id AS id2
              |FROM bands a JOIN bands b
              |  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
              |ORDER BY 1, 2""".stripMargin)),

    // all-pairs validation tier — SF-gated like q41 (the ungated scale
    // path is q68's banded candidates)
    QueryDef("q43_dedup_simhash",
      (s, d) => Dedup.simhashPairs(
          table(s, d, "documents").where(col("doc_id") < 10000), 3)
        .orderBy("id1", "id2"),
      Some(s"""WITH ${simhashSigSql("doc_id < 10000")}
              |SELECT a.id AS id1, b.id AS id2,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM sig a JOIN sig b ON a.id < b.id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY 1, 2""".stripMargin)),

    // The banded scale path must produce EXACTLY the Hamming<=4 pair set —
    // the oracle re-derives that set directly (pigeonhole: 5 bands of 12
    // bits > 4 allowed flips, so no qualifying pair can be missed; 4096
    // buckets per band keeps the within-bucket quadratic step bounded).
    QueryDef("q68_dedup_simhash_banded",
      (s, d) => Dedup.simhashCandidates(table(s, d, "documents"),
          maxHamming = 4, numBands = 5)
        .orderBy("id1", "id2"),
      Some(s"""WITH ${simhashSigSql()}
              |SELECT a.id AS id1, b.id AS id2,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM sig a JOIN sig b ON a.id < b.id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
              |ORDER BY 1, 2""".stripMargin)),

    // all-pairs validation tier — SF-gated with a fixed vec_id cap (the
    // ungated scale path is LSH bucketing, q46)
    QueryDef("q44_embed_neardup",
      (s, d) => Similarity.nearDupPairs(
          table(s, d, "embeddings").where(col("vec_id") < 4000), 0.33)
        .select(col("id1"), col("id2"), round(col("cos"), 5).as("cos"))
        .orderBy("id1", "id2"),
      Some(s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 4000),
              |p AS (SELECT a.vec_id id1, b.vec_id id2,
              |    ${dot64.format("a", "b")} AS dot,
              |    ${norm2("a")} AS na2, ${norm2("b")} AS nb2
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
              |SELECT id1, id2, ROUND(dot / (SQRT(na2) * SQRT(nb2)), 5) AS cos
              |FROM p WHERE dot / (SQRT(na2) * SQRT(nb2)) >= 0.33
              |ORDER BY 1, 2""".stripMargin)),

    QueryDef("q45_sim_topk",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.cosineTopK(emb, emb.where(col("vec_id") % 50 === 0), 5)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("cos"), 5).as("cos"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH q AS (SELECT vec_id query_id, embedding FROM embeddings
              |           WHERE vec_id % 50 = 0),
              |scored AS (SELECT q.query_id, e.vec_id neighbor_id,
              |    ${dot64.format("q", "e")} /
              |      (SQRT(${norm2("q")}) * SQRT(${norm2("e")})) AS cos
              |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
              |r AS (SELECT query_id, neighbor_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM scored)
              |SELECT query_id, rk, neighbor_id, ROUND(cos, 5) AS cos
              |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    QueryDef("q46_sim_lsh_buckets",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        val buckets = Similarity.lshBuckets(emb, 6, 64)
        val q = buckets.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"), col("bucket").as("qbucket"))
        q.join(buckets.as("b"),
            col("b.bucket") === col("qbucket") && col("b.vec_id") =!= col("query_id"),
            "left")
          .groupBy(col("query_id"), col("qbucket").as("bucket"))
          .agg(count(col("b.vec_id")).as("n_mates"))
          .orderBy("query_id")
      },
      Some("""WITH planes AS (SELECT p, i,
             |    (strpos('0123456789abcdef',
             |       substr(md5(CAST(p AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1))
             |     - 1 - 7.5) / 7.5 AS w
             |  FROM UNNEST(generate_series(0, 5)) tp(p),
             |       UNNEST(generate_series(0, 63)) ti(i)),
             |comps AS (SELECT vec_id, i - 1 AS i, CAST(e AS DOUBLE) AS x
             |  FROM (SELECT vec_id, UNNEST(embedding) e,
             |          generate_subscripts(embedding, 1) i FROM embeddings) t),
             |proj AS (SELECT vec_id, p, SUM(x * w) AS proj
             |  FROM comps JOIN planes USING (i) GROUP BY 1, 2),
             |bucket AS (SELECT vec_id,
             |    CAST(SUM(CASE WHEN proj > 0
             |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT)
             |      AS bucket
             |  FROM proj GROUP BY 1)
             |SELECT q.vec_id AS query_id, q.bucket,
             |  CAST(COUNT(b.vec_id) AS BIGINT) AS n_mates
             |FROM bucket q LEFT JOIN bucket b
             |  ON b.bucket = q.bucket AND b.vec_id <> q.vec_id
             |WHERE q.vec_id % 50 = 0
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // IVF ANN over the deterministic data-point quantizer (zero Lloyd
    // iterations, no RNG/partitioning dependence) — fully oracle-checked:
    // DuckDB replays centroid choice, assignment, probing, and ranking.
    // The KMeans quality tier stays pinned by OpsSpec's nprobe==nlist ≡
    // brute-force law.
    QueryDef("q66_sim_ivf",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.search(Similarity.ivfIndex(emb, nlist = 8),
            emb.where(col("vec_id") % 50 === 0), k = 5, nprobe = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("cos"), 5).as("cos"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, embedding
              |    FROM embeddings) t
              |  WHERE rn <= 8),
              |assign AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT e.vec_id, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM embeddings e CROSS JOIN cents c) t WHERE ark = 1),
              |probes AS (
              |  SELECT query_id, cid FROM (
              |    SELECT q.vec_id AS query_id, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              |        ${dot64.format("q", "c")} /
              |          (SQRT(${norm2("q")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS crk
              |    FROM embeddings q CROSS JOIN cents c
              |    WHERE q.vec_id % 50 = 0) t WHERE crk <= 3),
              |scored AS (
              |  SELECT p.query_id, e.vec_id AS neighbor_id,
              |    ${dot64.format("q", "e")} /
              |      (SQRT(${norm2("q")}) * SQRT(${norm2("e")})) AS cos
              |  FROM probes p
              |  JOIN assign a ON a.cid = p.cid
              |  JOIN embeddings e ON e.vec_id = a.vec_id
              |    AND e.vec_id <> p.query_id
              |  JOIN embeddings q ON q.vec_id = p.query_id),
              |r AS (SELECT query_id, neighbor_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM scored)
              |SELECT query_id, rk, neighbor_id, ROUND(cos, 5) AS cos
              |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    QueryDef("q47_text_langid",
      (s, d) => TextAnalysis.langId(table(s, d, "documents"))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"), round(avg("score"), 4).as("avg_score"))
        .orderBy("pred_lang"),
      Some(langIdOracleCtes + """
        |SELECT lang AS pred_lang, COUNT(*) AS n_docs,
        |  ROUND(AVG(score), 4) AS avg_score
        |FROM best WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ratios/quality ship UNROUNDED: every metric is per-row narrow IEEE
    // arithmetic evaluated in the same order on both engines, so the raw
    // doubles are bit-identical — while ROUND(x, 6) can AMPLIFY a
    // boundary value into a visible last-digit disagreement (Spark
    // rounds the shortest decimal repr HALF_UP, DuckDB rounds the raw
    // double; observed on one sf0.1 row landing exactly on ...5e-7)
    QueryDef("q48_text_quality",
      (s, d) => TextAnalysis.quality(table(s, d, "documents"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_uniq"),
          col("stop_ratio"), col("ttr"), col("avg_token_len"),
          col("quality"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
             |      / len(string_split(text, ' ')) AS stop_ratio
             |  FROM documents),
             |f AS (SELECT doc_id, n_chars, n_tokens, n_uniq, stop_ratio,
             |    CAST(n_uniq AS DOUBLE) / n_tokens AS ttr,
             |    CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len
             |  FROM t)
             |SELECT doc_id, n_chars, n_tokens, n_uniq,
             |  stop_ratio, ttr, avg_token_len,
             |  LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
             |    + stop_ratio * 0.2 + ttr * 0.2
             |    + LEAST(avg_token_len / 10.0, 1.0) * 0.3 AS quality
             |FROM f ORDER BY doc_id""".stripMargin)),

    QueryDef("q49_text_token_stats",
      (s, d) => TextAnalysis.tokenStats(table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |    AS BIGINT) AS re_tokens,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             |    AS uniq_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("q50_text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(table(s, d, "documents"))
        .groupBy("fingerprint")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .orderBy("fingerprint"),
      Some("""SELECT md5(array_to_string(
             |    list_sort(list_distinct(string_split(text, ' '))), ' '))
             |    AS fingerprint,
             |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // multimodal plumbing: stubbed decode, real Spark pipeline shape
    // The stub decode is deterministic arithmetic over the raw bytes
    // (md5 + ASCII byte histogram), so DuckDB can replay it exactly —
    // flipping the multimodal plumbing from rows-only to hash-checked.
    // the decode histograms BYTES while SQL indexes CHARACTERS — the
    // ascii-only guard (bytes == chars), applied identically on both
    // sides, keeps the comparison well-defined for any future data
    QueryDef("q51_multimodal_decode",
      (s, d) => Multimodal.decodeFeatures(
        Multimodal.asMedia(table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)")))).toDF()
        .select(col("doc_id"), col("n_bytes"), col("content_sha"),
          col("width"), col("height"),
          element_at(col("histogram"), 1).as("hist_0"),
          element_at(col("histogram"), 2).as("hist_1"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, text,
             |    CAST(strlen(text) AS INT) AS n_bytes, md5(text) AS sha
             |  FROM documents WHERE strlen(text) = length(text)),
             |dims AS (SELECT doc_id,
             |    (((strpos('0123456789abcdef', substr(sha, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 2, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 3, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 4, 1)) - 1 AS w16,
             |    (((strpos('0123456789abcdef', substr(sha, 5, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 6, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 7, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(sha, 8, 1)) - 1 AS h16
             |  FROM d),
             |chars AS (SELECT doc_id, ascii(substr(text, i, 1)) AS c
             |  FROM d, UNNEST(generate_series(1, CAST(n_bytes AS BIGINT))) t(i)),
             |bins AS (SELECT doc_id,
             |    CAST(SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) AS DOUBLE) AS b0,
             |    CAST(SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END)
             |      AS DOUBLE) AS b1
             |  FROM chars GROUP BY 1)
             |SELECT d.doc_id, n_bytes, sha AS content_sha,
             |  CAST(64 + (w16 % 192) AS INT) AS width,
             |  CAST(64 + (h16 % 192) AS INT) AS height,
             |  b0 / GREATEST(1.0, n_bytes) AS hist_0,
             |  b1 / GREATEST(1.0, n_bytes) AS hist_1
             |FROM d JOIN dims USING (doc_id) JOIN bins USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("q52_multimodal_frames",
      (s, d) => Multimodal.sampleFrames(
        Multimodal.asMedia(table(s, d, "documents")), 64, 2)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame_bytes"))).as("total_bytes"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(strlen(text) AS BIGINT) AS len FROM documents),
             |chunks AS (SELECT doc_id, i, LEAST(64, len - i * 64) AS clen
             |  FROM d, UNNEST(generate_series(0, (len - 1) // 64)) t(i)
             |  WHERE i % 2 = 0)
             |SELECT doc_id, COUNT(*) AS n_frames,
             |  CAST(SUM(clen) AS BIGINT) AS total_bytes
             |FROM chunks GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL image decode through the pipeline: each document's text is
    // wrapped as a valid binary PPM (header + 8x8x3 raster), decoded by
    // the actual P6 parser (no stub), and the oracle re-derives the
    // pixel histogram arithmetic byte-for-byte.
    QueryDef("q74_multimodal_ppm",
      (s, d) => Multimodal.decodeFeatures(
          table(s, d, "documents")
            .where(expr("octet_length(text) = length(text)"))
            .select(col("doc_id"),
              concat(lit("P6\n8 8\n255\n"),
                rpad(substring(col("text"), 1, 192), 192, "x"))
                .cast("binary").as("media"))).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          element_at(col("histogram"), 1).as("hist_0"),
          element_at(col("histogram"), 2).as("hist_1"))
        .orderBy("doc_id"),
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px FROM documents
             |  WHERE strlen(text) = length(text)),
             |chars AS (SELECT doc_id, ascii(substr(px, i, 1)) AS c
             |  FROM p, UNNEST(generate_series(1, 192)) t(i))
             |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
             |  CAST(3 AS INT) AS channels,
             |  SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) / 192.0 AS hist_0,
             |  SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END) / 192.0
             |    AS hist_1
             |FROM chars GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL PNG decode through the pipeline: the same 192 document bytes as
    // q74, but round-tripped through the JDK's PNG encoder Spark-side and
    // decoded by the actual javax.imageio branch (no stub). Gray pixels are
    // written r=g=b, so the decoder's integer Rec.601 luminance is exactly
    // the source byte and the oracle replays the histogram from the text.
    QueryDef("q86_multimodal_png",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 192), 192, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            (id, Multimodal.encodeGrayAsRgbPng(
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              16, 12))
          }
          .toDF("doc_id", "media")
        Multimodal.decodeFeatures(media).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            element_at(col("histogram"), 1).as("hist_0"),
            element_at(col("histogram"), 2).as("hist_1"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px FROM documents
             |  WHERE strlen(text) = length(text)),
             |chars AS (SELECT doc_id, ascii(substr(px, i, 1)) AS c
             |  FROM p, UNNEST(generate_series(1, 192)) t(i))
             |SELECT doc_id, CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
             |  CAST(3 AS INT) AS channels,
             |  SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) / 192.0 AS hist_0,
             |  SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END) / 192.0
             |    AS hist_1
             |FROM chars GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL pixel resize through the pipeline: q86's 16x12 gray PNGs are
    // nearest-neighbor-downscaled to 8x6, re-encoded as PNG, and decoded
    // AGAIN by the real javax.imageio branch. NN with integer index
    // arithmetic keeps the surviving pixels replayable: dst (x,y) samples
    // source byte (2y)*16 + 2x, so the oracle re-derives the resized
    // histogram from the document text alone.
    QueryDef("q109_multimodal_resize",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 192), 192, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            (id, Multimodal.encodeGrayAsRgbPng(
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              16, 12))
          }
          .toDF("doc_id", "media")
        Multimodal.resize(media, maxSide = 8).toDF()
          .select(col("doc_id"), col("width"), col("height"), col("channels"),
            element_at(col("histogram"), 1).as("hist_0"),
            element_at(col("histogram"), 2).as("hist_1"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px FROM documents
             |  WHERE strlen(text) = length(text)),
             |kept AS (SELECT doc_id,
             |    ascii(substr(px, (2 * y) * 16 + 2 * x + 1, 1)) AS c
             |  FROM p, UNNEST(generate_series(0, 5)) ty(y),
             |       UNNEST(generate_series(0, 7)) tx(x))
             |SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
             |  CAST(3 AS INT) AS channels,
             |  SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) / 48.0 AS hist_0,
             |  SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END) / 48.0
             |    AS hist_1
             |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL container demux through the pipeline: 384 document bytes become
    // a 2-frame animated GIF (256-gray palette — lossless, like q86's
    // PNG), demuxed by javax.imageio's sequence reader; each frame's
    // luminance histogram is replayed from the corresponding 192-byte
    // slice of the text
    QueryDef("q110_multimodal_gif_frames",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 384), 384, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            val bytes =
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            (id, Multimodal.encodeGrayFramesAsGif(
              Seq(bytes.slice(0, 192), bytes.slice(192, 384)), 16, 12))
          }
          .toDF("doc_id", "media")
        Multimodal.decodeFrames(media, everyN = 1).toDF()
          .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
            element_at(col("histogram"), 1).as("hist_0"),
            element_at(col("histogram"), 2).as("hist_1"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 384), 384, 'x') AS px FROM documents
             |  WHERE strlen(text) = length(text)),
             |chars AS (SELECT doc_id, f.f AS frame_idx,
             |    ascii(substr(px, f.f * 192 + i, 1)) AS c
             |  FROM p, UNNEST(generate_series(0, 1)) f(f),
             |       UNNEST(generate_series(1, 192)) t(i))
             |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
             |  CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
             |  SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) / 192.0 AS hist_0,
             |  SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END) / 192.0
             |    AS hist_1
             |FROM chars GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // REAL audio decode through the pipeline: the same 192 document bytes
    // wrapped as an 8-bit PCM WAV, parsed by javax.sound.sampled (real
    // RIFF header + sample parsing, no stub); the amplitude histogram of
    // an 8-bit PCM stream is exactly the byte histogram, so the oracle
    // replays it from the text like q74/q86.
    QueryDef("q90_multimodal_wav",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 192), 192, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            (id, Multimodal.encodePcmWav(
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              8000))
          }
          .toDF("doc_id", "media")
        Multimodal.decodeAudioFeatures(media).toDF()
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("n_frames"),
            element_at(col("histogram"), 1).as("hist_0"),
            element_at(col("histogram"), 2).as("hist_1"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px FROM documents
             |  WHERE strlen(text) = length(text)),
             |chars AS (SELECT doc_id, ascii(substr(px, i, 1)) AS c
             |  FROM p, UNNEST(generate_series(1, 192)) t(i))
             |SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
             |  CAST(1 AS INT) AS channels, CAST(192 AS BIGINT) AS n_frames,
             |  SUM(CASE WHEN c < 64 THEN 1 ELSE 0 END) / 192.0 AS hist_0,
             |  SUM(CASE WHEN c >= 64 AND c < 128 THEN 1 ELSE 0 END) / 192.0
             |    AS hist_1
             |FROM chars GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Deterministic content-hash train/val/test split: per split, row count
    // and a per-lang breadth check. The md5 draw is replayed digit-by-digit
    // in DuckDB (the established portable-hash pattern).
    QueryDef("q69_content_split",
      (s, d) => Sampling.contentSplit(table(s, d, "documents"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("split"),
      Some(s"""WITH u AS (SELECT lang, n_chars,
              |    ${drawSql("split:")} AS u
              |  FROM documents),
              |s AS (SELECT lang, n_chars,
              |    CASE WHEN u < 0.8 THEN 'train'
              |         WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
              |  FROM u)
              |SELECT split, COUNT(*) AS n_docs,
              |  COUNT(DISTINCT lang) AS n_langs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Deterministic stratified sample: per-language keep rates re-balance
    // the training mix; same portable content-hash draw as q69.
    QueryDef("q70_stratified_sample",
      (s, d) => Sampling.stratifiedSample(table(s, d, "documents"), "lang",
          Map("en" -> 0.5, "es" -> 0.25), defaultRate = 0.1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
        .orderBy("lang"),
      Some(s"""WITH u AS (SELECT lang, n_chars,
              |    ${drawSql("sample:")} AS u
              |  FROM documents)
              |SELECT lang, COUNT(*) AS n_kept,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM u
              |WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.25
              |          ELSE 0.1 END
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // link extraction over the synthesized-HTML corpus: hrefs out of
    // markup → the (doc, target) edge list PageRank ranks; grouped to
    // target counts (two deterministic links per doc)
    QueryDef("q102_extract_links",
      (s, d) => {
        val html = table(s, d, "documents").withColumn("text", concat(
          lit("<a href=\""), col("source"), lit("/doc"),
          col("doc_id") % 50,
          lit("\">x</a> "), col("text"),
          lit(" <p><a class=\"n\" href=\""), col("lang"),
          lit(".example/"), col("doc_id") % 7,
          lit("\">y</a></p>")))
        Curation.extractLinks(html)
          .groupBy("href")
          .agg(count(lit(1)).as("n"), min("doc_id").as("min_doc"))
          .orderBy("href")
      },
      Some("""WITH html AS (
             |  SELECT doc_id,
             |    '<a href="' || source || '/doc' || (doc_id % 50)
             |    || '">x</a> ' || text
             |    || ' <p><a class="n" href="' || lang || '.example/'
             |    || (doc_id % 7) || '">y</a></p>' AS t
             |  FROM documents),
             |links AS (
             |  SELECT doc_id,
             |    UNNEST(regexp_extract_all(t, 'href="([^"]*)"', 1)) AS href
             |  FROM html)
             |SELECT href, COUNT(*) AS n, MIN(doc_id) AS min_doc
             |FROM links GROUP BY 1 ORDER BY 1""".stripMargin)),

    // sequential first-touch funnel over the event log: each stage's
    // completion is the first event at/after the previous stage's —
    // chained min-when windows over ONE user shuffle (plan-pinned)
    QueryDef("q103_event_funnel",
      (s, d) => {
        val ev = eventsMicros(s, d)
        Funnel.counts(ev, "user_id", "event_type", "ts_us",
            Seq("signup", "click", "purchase"))
          .orderBy("stage_idx")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
             |s0 AS (SELECT *, MIN(CASE WHEN event_type = 'signup'
             |    THEN ts_us END) OVER (PARTITION BY user_id) AS t0 FROM e),
             |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
             |    AND t0 IS NOT NULL AND ts_us >= t0
             |    THEN ts_us END) OVER (PARTITION BY user_id) AS t1 FROM s0),
             |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
             |    AND t1 IS NOT NULL AND ts_us >= t1
             |    THEN ts_us END) OVER (PARTITION BY user_id) AS t2 FROM s1),
             |per AS (SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1,
             |    MIN(t2) AS t2 FROM s2 GROUP BY 1),
             |tot AS (SELECT COUNT(t0) AS n0, COUNT(t1) AS n1,
             |    COUNT(t2) AS n2 FROM per)
             |SELECT 0 AS stage_idx, 'signup' AS stage, n0 AS n_keys,
             |  ROUND(CAST(n0 AS DOUBLE) / GREATEST(n0, 1), 6) AS conversion
             |  FROM tot
             |UNION ALL SELECT 1, 'click', n1,
             |  ROUND(CAST(n1 AS DOUBLE) / GREATEST(n0, 1), 6) FROM tot
             |UNION ALL SELECT 2, 'purchase', n2,
             |  ROUND(CAST(n2 AS DOUBLE) / GREATEST(n0, 1), 6) FROM tot
             |ORDER BY stage_idx""".stripMargin)),

    // product-quantization ADC top-k (the memory-compression ANN tier):
    // the oracle re-derives the codebook, every vector's codes, each
    // query's lookup table, and the explicit j-ordered ADC sums
    QueryDef("q106_sim_pq",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.search(Similarity.pqIndex(emb, m = 8, ksub = 16, dims = 64),
            emb.where(col("vec_id") % 50 === 0), k = 5, nprobe = 1)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("acos"), 5).as("acos"))
          .orderBy("query_id", "rk")
      },
      Some {
        val m = 8; val sub = 8; val ksub = 16
        val pdCols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN pd END) AS pd$j").mkString(", ")
        val c2Cols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN c2 END) AS c2$j").mkString(", ")
        val adot = (0 until m).map(j => s"pd$j").mkString(" + ")
        val cn2 = (0 until m).map(j => s"c2$j").mkString(" + ")
        s"""WITH cb_src AS (
           |  SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
           |  FROM embeddings ORDER BY vec_id LIMIT $ksub),
           |codebook AS MATERIALIZED (
           |  SELECT c, u.j,
           |    list_slice(embedding, u.j * $sub + 1, u.j * $sub + $sub)
           |      AS centroid
           |  FROM cb_src, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |sliced AS (
           |  SELECT vec_id, u.j,
           |    list_slice(embedding, u.j * $sub + 1, u.j * $sub + $sub) AS subv
           |  FROM embeddings, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |d2 AS (
           |  SELECT s.vec_id, s.j, cb.c,
           |    (SELECT SUM((CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE))
           |              * (CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE)))
           |     FROM (SELECT UNNEST(s.subv) xa, UNNEST(cb.centroid) xb) x)
           |      AS d2
           |  FROM sliced s JOIN codebook cb ON s.j = cb.j),
           |codes AS MATERIALIZED (
           |  SELECT vec_id, j, c FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
           |      ORDER BY d2 ASC, c ASC) AS rk FROM d2)
           |  WHERE rk = 1),
           |q AS (
           |  SELECT vec_id AS query_id, embedding AS qv,
           |    SQRT((SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |          FROM (SELECT UNNEST(embedding) v) x)) AS qn
           |  FROM embeddings WHERE vec_id % 50 = 0),
           |qsliced AS (
           |  SELECT query_id, qn, u.j,
           |    list_slice(qv, u.j * $sub + 1, u.j * $sub + $sub) AS qsub
           |  FROM q, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |lut AS MATERIALIZED (
           |  SELECT query_id, qn, cb.j, cb.c,
           |    (SELECT SUM(CAST(x.xa AS DOUBLE) * CAST(x.xb AS DOUBLE))
           |     FROM (SELECT UNNEST(qsub) xa, UNNEST(cb.centroid) xb) x)
           |      AS pd,
           |    (SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |     FROM (SELECT UNNEST(cb.centroid) v) x) AS c2
           |  FROM qsliced JOIN codebook cb ON qsliced.j = cb.j),
           |wide AS (
           |  SELECT l.query_id, l.qn, co.vec_id, $pdCols, $c2Cols
           |  FROM codes co JOIN lut l ON co.j = l.j AND co.c = l.c
           |  GROUP BY 1, 2, 3),
           |scored AS (
           |  SELECT query_id, vec_id AS neighbor_id,
           |    ($adot) / (qn * SQRT($cn2)) AS acos
           |  FROM wide WHERE vec_id <> query_id),
           |r AS (SELECT query_id, neighbor_id, acos,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY acos DESC, neighbor_id ASC) AS rk
           |  FROM scored)
           |SELECT query_id, rk, neighbor_id, ROUND(acos, 5) AS acos
           |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // IVF-PQ — the composed 100 TB ANN path at a NON-degenerate setting
    // (nlist=16, nprobe=4: each query scans a quarter of the coarse
    // lists): the oracle replays the deterministic coarse quantizer
    // (q66's CTEs), the PQ codebook/codes/LUT (q106's CTEs), gates the
    // code table by the probed (query, list) pairs, and re-derives the
    // j-ordered ADC sums
    QueryDef("q107_sim_ivfpq",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.search(Similarity.ivfPqIndex(emb, nlist = 16,
            m = 8, ksub = 16, dims = 64),
            emb.where(col("vec_id") % 50 === 0), k = 5, nprobe = 4)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("acos"), 5).as("acos"))
          .orderBy("query_id", "rk")
      },
      Some {
        val m = 8; val sub = 8; val ksub = 16
        val nlist = 16; val nprobe = 4
        val pdCols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN pd END) AS pd$j").mkString(", ")
        val c2Cols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN c2 END) AS c2$j").mkString(", ")
        val adot = (0 until m).map(j => s"pd$j").mkString(" + ")
        val cn2 = (0 until m).map(j => s"c2$j").mkString(" + ")
        s"""WITH cents AS (
           |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, embedding
           |    FROM embeddings) t
           |  WHERE rn <= $nlist),
           |assign AS MATERIALIZED (
           |  SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${dot64.format("e", "c")} /
           |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
           |        c.cid ASC) AS ark
           |    FROM embeddings e CROSS JOIN cents c) t WHERE ark = 1),
           |probes AS MATERIALIZED (
           |  SELECT query_id, cid FROM (
           |    SELECT q.vec_id AS query_id, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${dot64.format("q", "c")} /
           |          (SQRT(${norm2("q")}) * SQRT(${norm2("c")})) DESC,
           |        c.cid ASC) AS crk
           |    FROM embeddings q CROSS JOIN cents c
           |    WHERE q.vec_id % 50 = 0) t WHERE crk <= $nprobe),
           |cb_src AS (
           |  SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
           |  FROM embeddings ORDER BY vec_id LIMIT $ksub),
           |codebook AS MATERIALIZED (
           |  SELECT c, u.j,
           |    list_slice(embedding, u.j * $sub + 1, u.j * $sub + $sub)
           |      AS centroid
           |  FROM cb_src, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |sliced AS (
           |  SELECT vec_id, u.j,
           |    list_slice(embedding, u.j * $sub + 1, u.j * $sub + $sub) AS subv
           |  FROM embeddings, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |d2 AS (
           |  SELECT s.vec_id, s.j, cb.c,
           |    (SELECT SUM((CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE))
           |              * (CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE)))
           |     FROM (SELECT UNNEST(s.subv) xa, UNNEST(cb.centroid) xb) x)
           |      AS d2
           |  FROM sliced s JOIN codebook cb ON s.j = cb.j),
           |codes AS MATERIALIZED (
           |  SELECT vec_id, j, c FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
           |      ORDER BY d2 ASC, c ASC) AS rk FROM d2)
           |  WHERE rk = 1),
           |q AS (
           |  SELECT vec_id AS query_id, embedding AS qv,
           |    SQRT((SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |          FROM (SELECT UNNEST(embedding) v) x)) AS qn
           |  FROM embeddings WHERE vec_id % 50 = 0),
           |qsliced AS (
           |  SELECT query_id, qn, u.j,
           |    list_slice(qv, u.j * $sub + 1, u.j * $sub + $sub) AS qsub
           |  FROM q, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |lut AS MATERIALIZED (
           |  SELECT query_id, qn, cb.j, cb.c,
           |    (SELECT SUM(CAST(x.xa AS DOUBLE) * CAST(x.xb AS DOUBLE))
           |     FROM (SELECT UNNEST(qsub) xa, UNNEST(cb.centroid) xb) x)
           |      AS pd,
           |    (SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |     FROM (SELECT UNNEST(cb.centroid) v) x) AS c2
           |  FROM qsliced JOIN codebook cb ON qsliced.j = cb.j),
           |gate AS (
           |  SELECT p.query_id, a.vec_id
           |  FROM probes p JOIN assign a ON a.cid = p.cid),
           |wide AS (
           |  SELECT l.query_id, l.qn, co.vec_id, $pdCols, $c2Cols
           |  FROM codes co
           |  JOIN gate g ON g.vec_id = co.vec_id
           |  JOIN lut l ON co.j = l.j AND co.c = l.c
           |    AND l.query_id = g.query_id
           |  GROUP BY 1, 2, 3),
           |scored AS (
           |  SELECT query_id, vec_id AS neighbor_id,
           |    ($adot) / (qn * SQRT($cn2)) AS acos
           |  FROM wide WHERE vec_id <> query_id),
           |r AS (SELECT query_id, neighbor_id, acos,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY acos DESC, neighbor_id ASC) AS rk
           |  FROM scored)
           |SELECT query_id, rk, neighbor_id, ROUND(acos, 5) AS acos
           |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // RESIDUAL-encoded IVF-PQ (the FAISS IndexIVFPQ design): PQ codes the
    // residual v − centroid(v), the ADC score reconstructs v̂ = c + r̂
    // (query-centroid dot + residual LUT; norm from ‖c‖² + 2·cross + ‖r̂‖²).
    // The oracle replays the coarse quantizer, the OFFSET-seeded residual
    // codebook, every residual code, the per-list cross table, and the
    // j-ordered sums — all deterministic (zero Lloyd iterations)
    QueryDef("q112_sim_ivfpq_residual",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.search(Similarity.ivfPqResidualIndex(emb, nlist = 16,
            m = 8, ksub = 16, dims = 64),
            emb.where(col("vec_id") % 50 === 0), k = 5, nprobe = 4)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("acos"), 5).as("acos"))
          .orderBy("query_id", "rk")
      },
      Some {
        val m = 8; val sub = 8; val ksub = 16
        val nlist = 16; val nprobe = 4
        val pdCols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN pd END) AS pd$j").mkString(", ")
        val c2Cols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN c2 END) AS c2$j").mkString(", ")
        val crCols = (0 until m).map(j =>
          s"MIN(CASE WHEN co.j = $j THEN crv END) AS cr$j").mkString(", ")
        val adot = (0 until m).map(j => s"pd$j").mkString(" + ")
        val cn2 = (0 until m).map(j => s"c2$j").mkString(" + ")
        val crsum = (0 until m).map(j => s"cr$j").mkString(" + ")
        s"""WITH cents AS (
           |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, embedding
           |    FROM embeddings) t
           |  WHERE rn <= $nlist),
           |assign AS MATERIALIZED (
           |  SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${dot64.format("e", "c")} /
           |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
           |        c.cid ASC) AS ark
           |    FROM embeddings e CROSS JOIN cents c) t WHERE ark = 1),
           |resid AS MATERIALIZED (
           |  SELECT e.vec_id, a.cid,
           |    list_transform(generate_series(1, 64),
           |      i -> CAST(e.embedding[i] AS DOUBLE)
           |         - CAST(c.embedding[i] AS DOUBLE)) AS r
           |  FROM embeddings e
           |  JOIN assign a ON a.vec_id = e.vec_id
           |  JOIN cents c ON c.cid = a.cid),
           |cb_src AS (
           |  SELECT r, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c FROM (
           |    SELECT vec_id, r FROM resid
           |    ORDER BY vec_id LIMIT $ksub OFFSET $nlist) t),
           |codebook AS MATERIALIZED (
           |  SELECT c, u.j,
           |    list_slice(r, u.j * $sub + 1, u.j * $sub + $sub) AS centroid
           |  FROM cb_src, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |sliced AS (
           |  SELECT vec_id, u.j,
           |    list_slice(r, u.j * $sub + 1, u.j * $sub + $sub) AS subv
           |  FROM resid, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |d2 AS (
           |  SELECT s.vec_id, s.j, cb.c,
           |    (SELECT SUM((CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE))
           |              * (CAST(x.xa AS DOUBLE) - CAST(x.xb AS DOUBLE)))
           |     FROM (SELECT UNNEST(s.subv) xa, UNNEST(cb.centroid) xb) x)
           |      AS d2
           |  FROM sliced s JOIN codebook cb ON s.j = cb.j),
           |codes AS MATERIALIZED (
           |  SELECT vec_id, j, c FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
           |      ORDER BY d2 ASC, c ASC) AS rk FROM d2)
           |  WHERE rk = 1),
           |probes AS MATERIALIZED (
           |  SELECT query_id, cid, qdotc FROM (
           |    SELECT q.vec_id AS query_id, c.cid,
           |      ${dot64.format("q", "c")} AS qdotc,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${dot64.format("q", "c")} /
           |          (SQRT(${norm2("q")}) * SQRT(${norm2("c")})) DESC,
           |        c.cid ASC) AS crk
           |    FROM embeddings q CROSS JOIN cents c
           |    WHERE q.vec_id % 50 = 0) t WHERE crk <= $nprobe),
           |q AS (
           |  SELECT vec_id AS query_id, embedding AS qv,
           |    SQRT((SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |          FROM (SELECT UNNEST(embedding) v) x)) AS qn
           |  FROM embeddings WHERE vec_id % 50 = 0),
           |qsliced AS (
           |  SELECT query_id, qn, u.j,
           |    list_slice(qv, u.j * $sub + 1, u.j * $sub + $sub) AS qsub
           |  FROM q, UNNEST(generate_series(0, ${m - 1})) AS u(j)),
           |lut AS MATERIALIZED (
           |  SELECT query_id, qn, cb.j, cb.c,
           |    (SELECT SUM(CAST(x.xa AS DOUBLE) * CAST(x.xb AS DOUBLE))
           |     FROM (SELECT UNNEST(qsub) xa, UNNEST(cb.centroid) xb) x)
           |      AS pd,
           |    (SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |     FROM (SELECT UNNEST(cb.centroid) v) x) AS c2
           |  FROM qsliced JOIN codebook cb ON qsliced.j = cb.j),
           |crosses AS MATERIALIZED (
           |  SELECT ce.cid, cb.j, cb.c,
           |    (SELECT SUM(CAST(x.xa AS DOUBLE) * CAST(x.xb AS DOUBLE))
           |     FROM (SELECT
           |        UNNEST(list_slice(ce.embedding,
           |          cb.j * $sub + 1, cb.j * $sub + $sub)) xa,
           |        UNNEST(cb.centroid) xb) x) AS crv
           |  FROM cents ce CROSS JOIN codebook cb),
           |coarse2 AS (
           |  SELECT cid,
           |    (SELECT SUM(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))
           |     FROM (SELECT UNNEST(embedding) v) x) AS c2c
           |  FROM cents),
           |gate AS (
           |  SELECT p.query_id, a.vec_id, a.cid, p.qdotc
           |  FROM probes p JOIN assign a ON a.cid = p.cid),
           |wide AS (
           |  SELECT l.query_id, l.qn, g.qdotc, co.vec_id, g.cid,
           |    $pdCols, $c2Cols, $crCols
           |  FROM codes co
           |  JOIN gate g ON g.vec_id = co.vec_id
           |  JOIN lut l ON co.j = l.j AND co.c = l.c
           |    AND l.query_id = g.query_id
           |  JOIN crosses cr ON cr.cid = g.cid AND cr.j = co.j
           |    AND cr.c = co.c
           |  GROUP BY 1, 2, 3, 4, 5),
           |scored AS (
           |  SELECT query_id, vec_id AS neighbor_id,
           |    (qdotc + ($adot)) /
           |      (qn * SQRT(c2c + 2.0 * ($crsum) + ($cn2))) AS acos
           |  FROM wide JOIN coarse2 USING (cid)
           |  WHERE vec_id <> query_id),
           |r AS (SELECT query_id, neighbor_id, acos,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY acos DESC, neighbor_id ASC) AS rk
           |  FROM scored)
           |SELECT query_id, rk, neighbor_id, ROUND(acos, 5) AS acos
           |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      }),

    // Unicode NFC canonicalization (native codegen'd expression): every
    // doc gets a decomposed + precomposed suffix; after nfc_normalize
    // both collapse to the same bytes, hash-checked via md5. DuckDB's
    // built-in nfc_normalize replays the composition.
    QueryDef("q105_nfc_normalize",
      (s, d) => {
        val suffix = " cafe\u0301 caf\u00e9" // decomposed + precomposed
        val t = concat(col("text"), lit(suffix))
        table(s, d, "documents")
          .select(col("doc_id"),
            length(t).as("len_raw"),
            length(graft.functions.nfc_normalize(t)).as("len_nfc"),
            md5(graft.functions.nfc_normalize(t)).as("nfc_md5"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(length(text || ' cafe\u0301 caf\u00e9') AS INT)
              |    AS len_raw,
              |  CAST(length(nfc_normalize(text || ' cafe\u0301 caf\u00e9'))
              |    AS INT) AS len_nfc,
              |  md5(nfc_normalize(text || ' cafe\u0301 caf\u00e9')) AS nfc_md5
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // cohort retention: users cohorted by first-event week, cells count
    // distinct users active k weeks later — integer DIV boundaries
    QueryDef("q104_cohort_retention",
      (s, d) => {
        val ev = eventsMicros(s, d)
        Funnel.cohortRetention(ev, "user_id", "ts_us",
            periodUs = 604800000000L, maxPeriods = 4)
          .orderBy("cohort", "period")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 604800000000 AS p
             |  FROM events),
             |c AS (SELECT *, MIN(p) OVER (PARTITION BY user_id) AS cohort
             |      FROM e)
             |SELECT cohort, CAST(p - cohort AS INT) AS period,
             |  COUNT(DISTINCT user_id) AS n_active
             |FROM c WHERE p - cohort < 4
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // context-window chunking: documents sliced into 40-token chunks with
    // an 8-token overlap (integer boundary arithmetic — the oracle
    // replays every slice with list_slice + generate_series)
    QueryDef("q101_chunk_documents",
      (s, d) => TextAnalysis.chunk(table(s, d, "documents"),
          chunkTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |counted AS (
             |  SELECT doc_id, t,
             |    GREATEST(1, (len(t) - 8 + 31) // 32) AS n_chunks
             |  FROM toks),
             |chunks AS (
             |  SELECT doc_id, u.k AS chunk_id,
             |    list_slice(t, u.k * 32 + 1, u.k * 32 + 40) AS piece
             |  FROM counted,
             |    UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT)))
             |      AS u(k))
             |SELECT doc_id, chunk_id,
             |  CAST(len(piece) AS BIGINT) AS n_chunk_tokens,
             |  md5(array_to_string(piece, ' ')) AS chunk_md5
             |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)),

    // The full document-to-training-shards path a pipeline ships, as ONE
    // composed plan: per-key cap (one lang-window shuffle) → context
    // chunking (narrow 1→N explode, NO shuffle of its own) → greedy
    // token-budget shard packing (per-bucket windows). The oracle chains
    // q92's + q101's + q81's CTEs; PlanShapeSpec pins the shuffle count.
    QueryDef("q108_curate_chunk_pack",
      (s, d) => {
        val capped = Sampling.capPerKey(table(s, d, "documents"), "lang", 50)
        val chunks = TextAnalysis.chunk(capped, chunkTokens = 40, overlap = 8)
        Sampling.packShards(chunks, budgetTokens = 500L, numBuckets = 8,
            textCol = "chunk", orderCols = Seq("doc_id", "chunk_id"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("sum_tokens"))
          .orderBy("shard")
      },
      Some(s"""WITH capped AS (
              |  SELECT doc_id, text FROM (
              |    SELECT doc_id, text,
              |      ROW_NUMBER() OVER (PARTITION BY lang
              |        ORDER BY ${drawSql("cap:")}, doc_id) AS rk
              |    FROM documents) t WHERE rk <= 50),
              |toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS t FROM capped),
              |counted AS (
              |  SELECT doc_id, t,
              |    GREATEST(1, (len(t) - 8 + 31) // 32) AS n_chunks
              |  FROM toks),
              |chunks AS (
              |  SELECT doc_id, u.k AS chunk_id,
              |    array_to_string(
              |      list_slice(t, u.k * 32 + 1, u.k * 32 + 40), ' ') AS text
              |  FROM counted,
              |    UNNEST(generate_series(0, CAST(n_chunks - 1 AS BIGINT)))
              |      AS u(k)),
              |u AS (SELECT doc_id, chunk_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |    CAST(FLOOR((${drawSql("shard:")}) * 8) AS INT) AS bucket
              |  FROM chunks),
              |sh AS (SELECT n_tokens, bucket,
              |    bucket || '-' || CAST(FLOOR(
              |      (SUM(n_tokens) OVER (PARTITION BY bucket
              |        ORDER BY doc_id, chunk_id) - n_tokens) / 500.0)
              |      AS BIGINT) AS shard
              |  FROM u)
              |SELECT shard, COUNT(*) AS n_chunks,
              |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
              |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)),

    // markup stripping over a deterministically synthesized HTML corpus
    // (documents wrapped in tags/entities/script in-query, like q74/q86
    // build media bytes from text): script/style/comments out, tags out,
    // entities decoded AFTER tag removal, whitespace collapsed — both
    // engines replay the same Java∩RE2 patterns byte-for-byte
    QueryDef("q100_strip_markup",
      (s, d) => {
        val html = table(s, d, "documents").withColumn("text", concat(
          lit("<html><head><style>p { color: red }</style></head><body><h1>"),
          col("source"),
          lit("</h1>\n<!-- crawl artifact -->\n<p class=\"body\">"),
          col("text"),
          lit(" &amp; more &lt;tags&gt;</p>" +
            "<script type=\"text/javascript\">var x = \"<p>\";</script>" +
            "</body></html>")))
        Curation.stripMarkup(html)
          .select(col("doc_id"), length(col("plain")).as("n_plain"),
            md5(col("plain")).as("plain_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH html AS (
             |  SELECT doc_id,
             |    '<html><head><style>p { color: red }</style></head><body><h1>'
             |    || source || '</h1>' || chr(10) || '<!-- crawl artifact -->'
             |    || chr(10) || '<p class="body">' || text
             |    || ' &amp; more &lt;tags&gt;</p>'
             |    || '<script type="text/javascript">var x = "<p>";</script>'
             |    || '</body></html>' AS t
             |  FROM documents),
             |stripped AS (
             |  SELECT doc_id, trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(
             |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |        t,
             |        '(?s)<script\b[^>]*>.*?</script>', ' ', 'g'),
             |        '(?s)<style\b[^>]*>.*?</style>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |        '<[^>]+>', ' ', 'g'),
             |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS plain
             |  FROM html)
             |SELECT doc_id, CAST(length(plain) AS INT) AS n_plain,
             |  md5(plain) AS plain_md5
             |FROM stripped ORDER BY doc_id""".stripMargin)),

    // weighted (probability-proportional-to-size) sample: inclusion odds
    // scale with token count up to a cap — IEEE multiply/compare only, so
    // the oracle replays the exact inclusion set
    QueryDef("q96_weighted_sample",
      (s, d) => Sampling.weightedSample(
          table(s, d, "documents")
            .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")),
          rate = 0.3, weightCol = "n_tokens", cap = 64.0)
        .select(col("doc_id"), col("n_tokens"), col("lang"))
        .orderBy("doc_id"),
      Some(s"""WITH weighted AS (
              |  SELECT doc_id, lang,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |    ${drawSql("wsample:")} AS u
              |  FROM documents)
              |SELECT doc_id, n_tokens, lang FROM weighted
              |WHERE u * 64.0 < LEAST(CAST(n_tokens AS DOUBLE), 64.0) * 0.3
              |ORDER BY doc_id""".stripMargin)),

    // Candidate pairs → duplicate CLUSTERS: connected components by
    // iterative min-label propagation; the oracle re-derives components
    // via a recursive transitive closure over the same candidate set.
    QueryDef("q72_neardup_components",
      (s, d) => Dedup.components(
          Dedup.minhashCandidates(table(s, d, "documents"), 3, 8, 2))
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_members"), max("id").as("max_id"))
        .orderBy("component"),
      Some(s"""WITH RECURSIVE ${shinglesSql()},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |      AND a.id < b.id),
              |edges AS (SELECT id1 AS src, id2 AS dst FROM cand
              |  UNION ALL SELECT id2, id1 FROM cand),
              |reach(a, b) AS (
              |  SELECT src, dst FROM edges
              |  UNION
              |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
              |lab AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
              |  FROM reach GROUP BY a)
              |SELECT component, COUNT(*) AS n_members,
              |  MAX(id) AS max_id
              |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The full curation composition — dedup → quality gate → stratified
    // sample → split — one logical plan, replayed end-to-end by DuckDB.
    QueryDef("q71_curation_pipeline",
      (s, d) => Curation.curate(table(s, d, "documents"),
          minQuality = 0.4,
          rates = Map("en" -> 0.8, "es" -> 0.5), defaultRate = 0.25,
          weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          round(avg("quality"), 6).as("avg_quality"))
        .orderBy("split", "lang"),
      Some(s"""WITH canon AS (
             |  SELECT doc_id, text, lang FROM (
             |    SELECT doc_id, text, lang,
             |      ROW_NUMBER() OVER (PARTITION BY md5(text)
             |        ORDER BY doc_id) AS rk
             |    FROM documents) t WHERE rk = 1),
             |q AS (SELECT doc_id, text, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    LEAST(len(string_split(text, ' ')) / 100.0, 1.0) * 0.3
             |    + (len(list_filter(string_split(text, ' '),
             |        x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
             |       * 1.0 / len(string_split(text, ' '))) * 0.2
             |    + (len(list_distinct(string_split(text, ' ')))
             |       * 1.0 / len(string_split(text, ' '))) * 0.2
             |    + LEAST(((LENGTH(text) - (len(string_split(text, ' ')) - 1))
             |       * 1.0 / len(string_split(text, ' '))) / 10.0, 1.0) * 0.3
             |      AS quality
             |  FROM canon),
             |u AS (SELECT *,
             |    ${drawSql("sample:")} AS us,
             |    ${drawSql("split:")} AS up
             |  FROM q WHERE quality >= 0.4),
             |s AS (SELECT *,
             |    CASE WHEN up < 0.8 THEN 'train'
             |         WHEN up < 0.9 THEN 'val' ELSE 'test' END AS split
             |  FROM u
             |  WHERE us < CASE lang WHEN 'en' THEN 0.8 WHEN 'es' THEN 0.5
             |            ELSE 0.25 END)
             |SELECT split, lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             |  ROUND(AVG(quality), 6) AS avg_quality
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Smoothed TF-IDF over the documents table: two aggregations + one
    // term join, corpus size as a broadcast scalar.
    QueryDef("q75_tfidf",
      (s, d) => TextAnalysis.tfidf(table(s, d, "documents"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "term"),
      Some("""WITH toks AS (SELECT doc_id,
             |    UNNEST(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf
             |  FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents)
             |SELECT doc_id, term, tf, df,
             |  ROUND(tf * (LN((nd + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
             |FROM tf JOIN df USING (term) CROSS JOIN n
             |ORDER BY doc_id, term""".stripMargin)),

    // As-of join: each purchase event picks up the user's most recent
    // (ts <=) signup — one union + one key-window shuffle, |left| output
    // rows, no range theta-join. DuckDB replays it with its native
    // ASOF LEFT JOIN.
    QueryDef("q76_asof_join",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val signups = ev.where(col("event_type") === "signup")
          .groupBy("user_id", "ts_us").agg(max("value").as("value"))
        AsOf.asofJoin(purchases, signups, "user_id", "ts_us", Seq("value"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("asof_ts_us"), round(col("asof_value"), 4).as("asof_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    event_type, value FROM events),
             |l AS (SELECT event_id, user_id, ts_us FROM e
             |  WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, ts_us, MAX(value) AS value FROM e
             |  WHERE event_type = 'signup' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, l.ts_us,
             |  r.ts_us AS asof_ts_us, ROUND(r.value, 4) AS asof_value
             |FROM l ASOF LEFT JOIN r
             |  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
             |ORDER BY l.event_id""".stripMargin)),

    // Range join: purchases inside the hour after any signup of the same
    // user — binned to an equi-join on (user, hour-bin), exact BETWEEN
    // re-filter inside bins (never a theta/cartesian plan).
    QueryDef("q77_range_join",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val windows = ev.where(col("event_type") === "signup")
          .select(col("user_id"), col("ts_us").as("start_us"),
            (col("ts_us") + lit(3600000000L)).as("end_us"))
        AsOf.rangeJoin(purchases, windows, "user_id", "ts_us",
            "start_us", "end_us", binWidth = 3600000000L)
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("start_us"))
          .orderBy("event_id", "start_us")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    event_type FROM events),
             |l AS (SELECT event_id, user_id, ts_us FROM e
             |  WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, ts_us AS start_us,
             |    ts_us + 3600000000 AS end_us FROM e
             |  WHERE event_type = 'signup')
             |SELECT l.event_id, l.user_id, l.ts_us, r.start_us
             |FROM l JOIN r ON l.user_id = r.user_id
             |  AND l.ts_us BETWEEN r.start_us AND r.end_us
             |ORDER BY l.event_id, r.start_us""".stripMargin)),

    // Count-min sketch heavy hitters: estimates for the exact top-20
    // tokens, oracle replaying the identical md5 bucket arithmetic —
    // sketch AND estimates hash-match, not just the >= property.
    QueryDef("q78_countmin_heavy_hitters",
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
        val top = toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("term").asc).limit(20)
        val sketch = Sketch.countMin(toks, "term", depth = 4, width = 256)
        val est = Sketch.estimate(sketch, top.select("term"), "term",
          depth = 4, width = 256)
        top.join(est, "term")
          .select(col("term"), col("exact_cnt"), col("est").as("est_cnt"))
          .orderBy("term")
      },
      Some {
        def hex8(x: String) = (1 to 8)
          .map(i => s"(strpos('0123456789abcdef', substr($x, $i, 1)) - 1)")
          .reduceLeft((a, b) => s"($a * 16 + $b)")
        val bucket =
          hex8("md5(CAST(d AS VARCHAR) || ':' || term)") + " % 256"
        s"""WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS term
           |  FROM documents),
           |top AS (SELECT term, COUNT(*) AS exact_cnt FROM toks
           |  GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20),
           |cellsrc AS (SELECT term, d, $bucket AS bucket
           |  FROM toks, UNNEST(generate_series(0, 3)) t(d)),
           |sketch AS (SELECT d, bucket, COUNT(*) AS cnt
           |  FROM cellsrc GROUP BY 1, 2),
           |tb AS (SELECT t.term, g.d, $bucket AS bucket
           |  FROM top t, UNNEST(generate_series(0, 3)) g(d)),
           |est AS (SELECT term, MIN(cnt) AS est_cnt
           |  FROM tb JOIN sketch USING (d, bucket) GROUP BY 1)
           |SELECT term, exact_cnt, est_cnt
           |FROM top JOIN est USING (term) ORDER BY term""".stripMargin
      }),

    // Winnowing (MOSS) fingerprints: guaranteed-shared marks for any
    // >= w+k-1-token overlap at ~1/w the k-gram storage. The oracle
    // replays k-gram hashing, sliding-window minima, and the dedup.
    QueryDef("q79_winnow_fingerprints",
      (s, d) => TextAnalysis.winnow(table(s, d, "documents"), k = 3, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"),
          max("fp").as("max_fp"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
             |g AS (SELECT doc_id,
             |    [md5(array_to_string(t[i:i+2], ' '))
             |     FOR i IN generate_series(1, len(t) - 2)] AS g
             |  FROM t),
             |fp AS (SELECT doc_id,
             |    UNNEST(list_distinct(
             |      [list_min(g[j:j+3]) FOR j IN generate_series(1, len(g) - 3)]))
             |      AS fp
             |  FROM g)
             |SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp,
             |  MAX(fp) AS max_fp
             |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Shared-fingerprint candidate pairs: guaranteed hits for >= w+k-1
    // token runs — the contiguous-run member of the candidate-generator
    // family (vs MinHash's bag similarity, SimHash's bit profile).
    QueryDef("q80_winnow_candidates",
      (s, d) => Dedup.winnowCandidates(table(s, d, "documents"), k = 3, w = 4)
        .orderBy("id1", "id2"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE len(string_split(text, ' ')) >= 6),
             |g AS (SELECT doc_id,
             |    [md5(array_to_string(t[i:i+2], ' '))
             |     FOR i IN generate_series(1, len(t) - 2)] AS g
             |  FROM t),
             |fp AS (SELECT doc_id,
             |    UNNEST(list_distinct(
             |      [list_min(g[j:j+3]) FOR j IN generate_series(1, len(g) - 3)]))
             |      AS fp
             |  FROM g)
             |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |ORDER BY 1, 2""".stripMargin)),

    // Token-budget shard packing: greedy prefix-sum cuts per hash-bucket
    // stream — the oracle replays the bucket hash and the running window
    // exactly.
    QueryDef("q81_pack_shards",
      (s, d) => Sampling.packShards(table(s, d, "documents"),
          budgetTokens = 2000L, numBuckets = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("shard"),
      Some(s"""WITH u AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |    CAST(FLOOR((${drawSql("shard:")}) * 8) AS INT) AS bucket
              |  FROM documents),
              |sh AS (SELECT doc_id, n_tokens, bucket,
              |    bucket || '-' || CAST(FLOOR(
              |      (SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
              |        - n_tokens) / 2000.0) AS BIGINT) AS shard
              |  FROM u)
              |SELECT shard, COUNT(*) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
              |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The full near-dedup a pipeline ships: candidates → components →
    // drop non-canonical members; oracle re-derives the survivor set via
    // the recursive closure and an anti-join.
    QueryDef("q83_neardedup_corpus",
      (s, d) => {
        val docs = table(s, d, "documents")
        Dedup.dropNearDups(docs, Dedup.minhashCandidates(docs, 3, 8, 2))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE ${shinglesSql()},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |      AND a.id < b.id),
              |edges AS (SELECT id1 AS src, id2 AS dst FROM cand
              |  UNION ALL SELECT id2, id1 FROM cand),
              |reach(a, b) AS (
              |  SELECT src, dst FROM edges
              |  UNION
              |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
              |losers AS (SELECT a AS id FROM reach
              |  GROUP BY a HAVING LEAST(a, MIN(b)) <> a)
              |SELECT lang, COUNT(*) AS n_docs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM documents d
              |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = d.doc_id)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Evaluation-integrity scan: near-dup pairs straddling the
    // train/val/test boundary (shared winnowing fingerprint, different
    // split) — the leakage content-hash splitting cannot prevent.
    QueryDef("q84_leakage_scan",
      (s, d) => Curation.leakageScan(
          Sampling.contentSplit(table(s, d, "documents"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
          k = 3, w = 4)
        .orderBy("id1", "id2", "split1", "split2"),
      Some(s"""WITH sp AS (SELECT doc_id, text,
              |    CASE WHEN ${drawSql("split:")} < 0.8 THEN 'train'
              |         WHEN ${drawSql("split:")} < 0.9 THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM documents),
              |t AS (SELECT doc_id, split, string_split(text, ' ') AS t
              |  FROM sp WHERE len(string_split(text, ' ')) >= 6),
              |g AS (SELECT doc_id, split,
              |    [md5(array_to_string(t[i:i+2], ' '))
              |     FOR i IN generate_series(1, len(t) - 2)] AS g
              |  FROM t),
              |fp AS (SELECT doc_id, split,
              |    UNNEST(list_distinct(
              |      [list_min(g[j:j+3]) FOR j IN generate_series(1, len(g) - 3)]))
              |      AS fp
              |  FROM g)
              |SELECT DISTINCT a.doc_id AS id1, a.split AS split1,
              |  b.doc_id AS id2, b.split AS split2
              |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |  AND a.split <> b.split
              |ORDER BY 1, 3, 2, 4""".stripMargin)),

    // Bigram novelty (boilerplate detector): integer counts end-to-end,
    // one per-row division at the finish — bit-identical across engines.
    QueryDef("q82_bigram_novelty",
      (s, d) => TextAnalysis.bigramNovelty(table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT DISTINCT doc_id,
             |    UNNEST([array_to_string(t[i:i+1], ' ')
             |      FOR i IN generate_series(1, len(t) - 1)]) AS bg
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t
             |        FROM documents WHERE len(string_split(text, ' ')) >= 2) s),
             |df AS (SELECT bg, COUNT(*) AS n_docs_with FROM b GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_unique,
             |  CAST(SUM(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*) AS novelty
             |FROM b JOIN df USING (bg)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C4-style line-level corpus dedup: docs are staged with a shared
    // header line and a per-language footer line around their (mostly
    // unique) body; the op must drop exactly the lines occurring in more
    // than one document — headers, footers, AND the bodies of exact-dup
    // docs — while preserving intra-document line order.
    QueryDef("q91_line_dedup",
      (s, d) => Curation.dropBoilerplateLines(
          table(s, d, "documents").select(col("doc_id"), col("lang"),
            concat(lit("shared header|"), col("text"),
              lit("|footer "), col("lang")).as("text")),
          sep = "|", maxDf = 1)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"), col("lang"))
        .orderBy("doc_id"),
      Some("""WITH staged AS (SELECT doc_id, lang,
             |    'shared header|' || text || '|footer ' || lang AS text
             |  FROM documents),
             |l AS (SELECT doc_id, lang, i, parts[i] AS line
             |  FROM (SELECT doc_id, lang, string_split(text, '|') AS parts
             |        FROM staged),
             |    UNNEST(generate_series(1, len(parts))) t(i)),
             |df AS (SELECT md5(line) AS h, COUNT(DISTINCT doc_id) AS n
             |  FROM l GROUP BY 1)
             |SELECT doc_id,
             |  md5(string_agg(line, '|' ORDER BY i)) AS clean_md5, lang
             |FROM l JOIN df ON md5(line) = h
             |WHERE n <= 1
             |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin)),

    // Per-key document cap (the C4/RefinedWeb per-domain cap): survivors
    // chosen by content-hash rank, replayed digit-by-digit in the oracle.
    QueryDef("q92_cap_per_key",
      (s, d) => Sampling.capPerKey(
          table(s, d, "documents"), "lang", 50)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some(s"""WITH r AS (SELECT doc_id, lang,
              |    ROW_NUMBER() OVER (PARTITION BY lang
              |      ORDER BY ${drawSql("cap:")}, doc_id) AS rk
              |  FROM documents)
              |SELECT doc_id, lang FROM r WHERE rk <= 50
              |ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filters: fraction of characters in the most
    // frequent 2-gram / in duplicated 3-grams. Integer char counts divided
    // by integer doc length — bit-identical across engines, no rounding.
    QueryDef("q87_repetition_stats",
      (s, d) => TextAnalysis.repetitionStats(table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(strlen(text) AS BIGINT) AS n_chars,
             |    string_split(text, ' ') AS toks
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |g AS (SELECT doc_id, n_chars, n.n AS n,
             |    array_to_string(toks[i:i+n.n-1], ' ') AS g
             |  FROM t, (SELECT UNNEST([2, 3]) AS n) n,
             |    UNNEST(generate_series(1, len(toks) - n.n + 1)) s(i)),
             |c AS (SELECT doc_id, n_chars, n, g, COUNT(*) AS c
             |  FROM g GROUP BY 1, 2, 3, 4),
             |a AS (SELECT doc_id, n_chars,
             |    MAX(CASE WHEN n = 2 THEN struct_pack(
             |      c := c, chars := c * strlen(g)) END) AS top2,
             |    SUM(CASE WHEN n = 3 AND c >= 2 THEN c * strlen(g)
             |        ELSE 0 END) AS dup3_chars
             |  FROM c GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(struct_extract(top2, 'chars') AS DOUBLE) / n_chars
             |    AS top2gram_frac,
             |  CAST(dup3_chars AS DOUBLE) / n_chars AS dup3gram_frac
             |FROM a ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: documents are salted with deterministic synthetic PII
    // (the corpus itself is clean), redacted by the engine, and the oracle
    // replays the same regexes on the same salted text — md5 of the
    // redacted text proves byte-equal replacement, not just equal counts.
    QueryDef("q88_pii_redaction",
      (s, d) => Curation.redactPii(
          table(s, d, "documents").select(col("doc_id"),
            concat(col("text"),
              lit(" contact user"), col("doc_id"), lit("@example.com or +1 ("),
              (col("doc_id") % 900 + 100).cast("int"), lit(") 555-01"),
              (col("doc_id") % 90 + 10).cast("int"),
              lit(" host 10.0."), (col("doc_id") % 256).cast("int"),
              lit(".7")).as("text")))
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
          md5(col("text")).as("redacted_md5"))
        .orderBy("doc_id"),
      Some("""WITH salted AS (SELECT doc_id,
             |    text || ' contact user' || doc_id ||
             |    '@example.com or +1 (' || (doc_id % 900 + 100) ||
             |    ') 555-01' || (doc_id % 90 + 10) ||
             |    ' host 10.0.' || (doc_id % 256) || '.7' AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             |    AS n_email,
             |  CAST(len(regexp_extract_all(text,
             |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
             |    AS n_ip,
             |  CAST(len(regexp_extract_all(text,
             |    '\+[0-9][0-9() -]{6,}[0-9]')) AS INT) AS n_phone,
             |  md5(regexp_replace(regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             |    'g'),
             |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>',
             |    'g'),
             |    '\+[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g'))
             |    AS redacted_md5
             |FROM salted ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: every 100th document stands in for a
    // held-out benchmark; the corpus side is everything else. 5-gram
    // overlap on this vocabulary flags a handful of docs — the realistic
    // output shape (contamination is rare but must be found exactly).
    QueryDef("q89_decontaminate",
      (s, d) => Curation.decontaminate(
          table(s, d, "documents").where(col("doc_id") % 100 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 100 === 0),
          n = 5)
        .orderBy("doc_id"),
      Some("""WITH g AS (SELECT doc_id, UNNEST(list_distinct(
             |      [array_to_string(t[i:i+4], ' ')
             |       FOR i IN generate_series(1, len(t) - 4)])) AS gram
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t
             |        FROM documents
             |        WHERE len(string_split(text, ' ')) >= 5) s),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
             |c AS (SELECT * FROM g WHERE doc_id % 100 <> 0),
             |n AS (SELECT doc_id, COUNT(*) AS n_grams FROM c GROUP BY 1),
             |h AS (SELECT doc_id, COUNT(*) AS n_hits
             |  FROM c JOIN e USING (gram) GROUP BY 1)
             |SELECT doc_id, n_hits,
             |  CAST(n_hits AS DOUBLE) / n_grams AS hit_frac
             |FROM h JOIN n USING (doc_id)
             |WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin)),

    // q89's fixture through the Bloom-filter path: same benchmark split,
    // the eval grams folded into a 2^20-bit / 5-hash filter (128 KiB
    // broadcast regardless of benchmark size). Deterministic md5 positions
    // — DuckDB rebuilds the identical bit array and replays the hit set,
    // false positives included.
    QueryDef("q113_decontaminate_bloom",
      (s, d) => Curation.decontaminateBloom(
          table(s, d, "documents").where(col("doc_id") % 100 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 100 === 0),
          n = 5, numBits = 1 << 20, numHashes = 5)
        .orderBy("doc_id"),
      Some {
        // digest-chunking double hashing: position h = hex digits
        // [h*6+1, h*6+6] of ONE md5(gram), mod 2^20 (bloomPos's form)
        val pos = "(" + (1 to 6)
          .map(k => "(strpos('0123456789abcdef', substr(md5(gram), " +
            s"CAST(h * 6 + $k AS INT), 1)) - 1)")
          .reduceLeft((a, b) => s"($a * 16 + $b)") + ") % 1048576"
        s"""WITH g AS (SELECT doc_id, UNNEST(list_distinct(
           |      [array_to_string(t[i:i+4], ' ')
           |       FOR i IN generate_series(1, len(t) - 4)])) AS gram
           |  FROM (SELECT doc_id, string_split(text, ' ') AS t
           |        FROM documents
           |        WHERE len(string_split(text, ' ')) >= 5) s),
           |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
           |w AS (SELECT pos // 32 AS widx,
           |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
           |  FROM (SELECT $pos AS pos
           |        FROM e, UNNEST(generate_series(0, 4)) s(h)) t
           |  GROUP BY 1),
           |c AS (SELECT doc_id, gram FROM g WHERE doc_id % 100 <> 0),
           |n AS (SELECT doc_id, COUNT(*) AS n_grams FROM c GROUP BY 1),
           |cp AS (SELECT doc_id, gram, $pos AS pos
           |  FROM c, UNNEST(generate_series(0, 4)) s(h)),
           |cb AS (SELECT doc_id, gram, COUNT(*) FILTER (
           |    ((coalesce(word, 0) >> CAST(pos % 32 AS INT)) & 1) = 1)
           |    AS nset
           |  FROM cp LEFT JOIN w ON cp.pos // 32 = w.widx GROUP BY 1, 2),
           |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM cb
           |  WHERE nset = 5 GROUP BY 1)
           |SELECT doc_id, n_hits,
           |  CAST(n_hits AS DOUBLE) / n_grams AS hit_frac
           |FROM h JOIN n USING (doc_id)
           |WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin
      }),

    // Sub-document duplicate-substring spans (Lee et al. 2022 in the
    // distributable gram-marking form): every maximal token run covered by
    // corpus-repeated 5-grams, with 1-based inclusive bounds.
    QueryDef("q114_duplicate_spans",
      (s, d) => Dedup.duplicateSpans(table(s, d, "documents"), k = 5)
        .orderBy("doc_id", "start_tok"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
             |g AS (SELECT doc_id, i AS pos,
             |    md5(array_to_string(t[i:i+4], ' ')) AS gh
             |  FROM d, UNNEST(generate_series(1, len(t) - 4)) s(i)),
             |c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |m AS (SELECT doc_id, pos FROM g JOIN c USING (gh)),
             |b AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER (
             |    PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END
             |    AS brk FROM m),
             |i AS (SELECT doc_id, pos, SUM(brk) OVER (
             |    PARTITION BY doc_id ORDER BY pos) AS island FROM b)
             |SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + 4 AS end_tok,
             |  COUNT(*) AS n_dup_grams
             |FROM i GROUP BY doc_id, island
             |ORDER BY doc_id, start_tok""".stripMargin)),

    // SemDeDup over the embeddings: deterministic 8-list coarse clustering,
    // then within-cluster cosine >= 0.3 drops the higher id; survivors
    // with their cluster. The oracle rebuilds the identical index and
    // replays the exact survivor set. Fixed-id gate (q44's pattern): the
    // oracle's correlated-subquery cosines stay constant-cost at any SF
    // while covering exactly the original rows; the operator itself is
    // ungated (cluster-confined quadratic — see the scaladoc).
    QueryDef("q115_semantic_dedup",
      (s, d) => Similarity.semanticDedup(
          table(s, d, "embeddings").where(col("vec_id") < 4000),
          nlist = 8, threshold = 0.3)
        .orderBy("vec_id"),
      Some(s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings e
              |  WHERE vec_id < 4000 AND ${norm2("e")} > 0),
              |cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
              |      embedding FROM emb) t
              |  WHERE rn <= 8),
              |assign AS (
              |  SELECT vec_id, embedding, cid FROM (
              |    SELECT e.vec_id, e.embedding, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM emb e CROSS JOIN cents c) t WHERE ark = 1),
              |dropped AS (SELECT DISTINCT b.vec_id
              |  FROM assign a JOIN assign b
              |    ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE ${dot64.format("a", "b")} /
              |    (SQRT(${norm2("a")}) * SQRT(${norm2("b")})) >= 0.3)
              |SELECT vec_id, cid FROM assign
              |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
              |ORDER BY vec_id""".stripMargin)),

    // BM25 retrieval: every 250th document's text is a free-text query
    // against the whole corpus (self-retrieval makes the expected top hit
    // obvious); scores fold term weights in ascending-term order, so the
    // oracle replays them bit-for-bit via an ordered list_reduce. The
    // query set carries the fixed-id gate (q44's pattern): the CORPUS
    // side still scales with SF, but the oracle's scored-pair expansion
    // is bounded by a fixed query count (ungated, the replay's
    // query-vocabulary join OOMs DuckDB at sf1).
    QueryDef("q116_bm25_search",
      (s, d) => TextAnalysis.bm25TopK(
          table(s, d, "documents"),
          table(s, d, "documents")
            .where(col("doc_id") % 250 === 0 && col("doc_id") < 100000)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5)
        .select(col("query_id"), col("rk"), col("doc_id"),
          round(col("score"), 5).as("score"))
        .orderBy("query_id", "rk"),
      // AS MATERIALIZED on every multiply-referenced CTE — the q98
      // lesson: DuckDB's inlining planner re-evaluates the chain per
      // reference and the un-pinned replay OOMs at sf1 (observed 85 GB;
      // 52 s bounded with the pins)
      Some(bm25OracleCtes +
        """
          |SELECT query_id, rk, doc_id, ROUND(score, 5) AS score
          |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // CCNet-style perplexity quality gate: every 10th document is the
    // curated reference slice, the add-one bigram LM it trains scores the
    // other 90%. The per-doc log-prob sum folds in token-position order
    // (the q116 ordered-fold convention), so the oracle replays it
    // bit-for-bit.
    QueryDef("q117_lm_perplexity",
      (s, d) => TextAnalysis.perplexity(
          table(s, d, "documents").where(col("doc_id") % 10 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 10 === 0))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("ppl"), 5).as("ppl"))
        .orderBy("doc_id"),
      Some("""WITH refu AS MATERIALIZED (SELECT
             |    UNNEST(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 10 = 0),
             |uni AS MATERIALIZED (SELECT term,
             |    CAST(COUNT(*) AS BIGINT) AS c1 FROM refu GROUP BY 1),
             |stats AS (SELECT CAST(SUM(c1) AS DOUBLE) AS ref_tokens,
             |    CAST(COUNT(*) AS DOUBLE) AS vocab FROM uni),
             |refb AS (SELECT t[i] AS prev, t[i+1] AS cur
             |  FROM (SELECT string_split(text, ' ') AS t FROM documents
             |        WHERE doc_id % 10 = 0) s,
             |       UNNEST(generate_series(1, len(t) - 1)) g(i)),
             |big AS MATERIALIZED (SELECT prev, cur,
             |    CAST(COUNT(*) AS BIGINT) AS c2 FROM refb GROUP BY 1, 2),
             |toks AS MATERIALIZED (SELECT doc_id, len(t) AS n_tokens,
             |    i AS pos, CASE WHEN i = 1 THEN NULL ELSE t[i-1] END AS prev,
             |    t[i] AS cur
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t
             |        FROM documents WHERE doc_id % 10 <> 0) s,
             |       UNNEST(generate_series(1, len(t))) g(i)),
             |lp AS (SELECT t.doc_id, t.n_tokens, t.pos,
             |    CASE WHEN t.pos = 1 THEN
             |      ln((COALESCE(u2.c1, 0) + CAST(1 AS DOUBLE)) /
             |         (s.ref_tokens + s.vocab))
             |    ELSE
             |      ln((COALESCE(b.c2, 0) + CAST(1 AS DOUBLE)) /
             |         (COALESCE(u1.c1, 0) + s.vocab)) END AS logp
             |  FROM toks t
             |  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
             |  LEFT JOIN uni u1 ON t.prev = u1.term
             |  LEFT JOIN uni u2 ON t.cur = u2.term
             |  CROSS JOIN stats s),
             |agg AS (SELECT doc_id, n_tokens,
             |    list_reduce(list(logp ORDER BY pos), (a, b) -> a + b)
             |      AS sum_logp
             |  FROM lp GROUP BY 1, 2)
             |SELECT doc_id, n_tokens,
             |  ROUND(exp(-sum_logp / n_tokens), 5) AS ppl
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // Reciprocal-rank fusion of BM25 and token-set Jaccard rankings over
    // q116's query set (same fixed-id gate, same MATERIALIZED pins — the
    // corpus side scales, the scored expansion is query-bounded). Equal
    // rrf ties (its value set is tiny) break by doc_id on both sides.
    QueryDef("q118_hybrid_rrf",
      (s, d) => TextAnalysis.hybridTopK(
          table(s, d, "documents"),
          table(s, d, "documents")
            .where(col("doc_id") % 250 === 0 && col("doc_id") < 100000)
            .select(col("doc_id").as("query_id"), col("text")),
          k = 5, kInner = 20)
        .select(col("query_id"), col("rk"), col("doc_id"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy("query_id", "rk"),
      Some("""WITH toks AS MATERIALIZED (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
             |    UNNEST(string_split(text, ' ')) AS term FROM documents),
             |tf AS MATERIALIZED (SELECT doc_id, dl, term,
             |    CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM toks GROUP BY 1, 2, 3),
             |qt AS MATERIALIZED (SELECT doc_id AS query_id,
             |    UNNEST(list_distinct(string_split(text, ' '))) AS term
             |  FROM documents
             |  WHERE doc_id % 250 = 0 AND doc_id < 100000),
             |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             |    AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
             |  FROM documents),
             |posts AS MATERIALIZED (SELECT * FROM tf
             |  WHERE term IN (SELECT term FROM qt)),
             |df AS MATERIALIZED (SELECT term, CAST(COUNT(*) AS DOUBLE)
             |    AS df
             |  FROM posts GROUP BY 1),
             |w AS (SELECT q.query_id, p.doc_id, p.term,
             |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
             |      (p.tf * 2.2) /
             |      (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
             |  FROM posts p JOIN df d USING (term) JOIN qt q USING (term)
             |  CROSS JOIN stats s),
             |sc AS (SELECT query_id, doc_id,
             |    list_reduce(list(w ORDER BY term), (a, b) -> a + b)
             |      AS score
             |  FROM w GROUP BY 1, 2),
             |bmk AS MATERIALIZED (SELECT query_id, doc_id, rk FROM (
             |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
             |      AS rk FROM sc) t
             |  WHERE rk <= 20),
             |dn AS MATERIALIZED (SELECT doc_id, COUNT(*) AS d_n FROM tf
             |  GROUP BY 1),
             |qn AS (SELECT query_id, COUNT(*) AS q_n FROM qt GROUP BY 1),
             |inter AS (SELECT q.query_id, p.doc_id, COUNT(*) AS n_common
             |  FROM posts p JOIN qt q USING (term) GROUP BY 1, 2),
             |jac AS MATERIALIZED (SELECT query_id, doc_id, rk_jac FROM (
             |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
             |      PARTITION BY query_id ORDER BY
             |        CAST(n_common AS DOUBLE) / (d_n + q_n - n_common)
             |          DESC, doc_id ASC) AS rk_jac
             |    FROM inter JOIN dn USING (doc_id) JOIN qn
             |      USING (query_id)) t
             |  WHERE rk_jac <= 20),
             |f AS (SELECT COALESCE(b.query_id, j.query_id) AS query_id,
             |    COALESCE(b.doc_id, j.doc_id) AS doc_id,
             |    COALESCE(CAST(1 AS DOUBLE) / (60 + b.rk), 0) +
             |    COALESCE(CAST(1 AS DOUBLE) / (60 + j.rk_jac), 0) AS rrf
             |  FROM bmk b FULL OUTER JOIN jac j
             |    ON b.query_id = j.query_id AND b.doc_id = j.doc_id),
             |r AS (SELECT query_id, doc_id, rrf, ROW_NUMBER() OVER (
             |    PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC)
             |    AS rk FROM f)
             |SELECT query_id, rk, doc_id, ROUND(rrf, 6) AS rrf
             |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // Hard-negative mining: q45's query gate, but candidates are confined
    // to DIFFERENT-label vectors — the maximally confusable non-matches a
    // contrastive objective trains against.
    QueryDef("q119_hard_negatives",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.hardNegatives(emb, emb.where(col("vec_id") % 50 === 0),
            k = 10)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            col("neg_label"), round(col("cos"), 5).as("cos"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
              |    embedding FROM embeddings WHERE vec_id % 50 = 0),
              |scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
              |    e.label AS neg_label,
              |    ${dot64.format("q", "e")} /
              |      (SQRT(${norm2("q")}) * SQRT(${norm2("e")})) AS cos
              |  FROM embeddings e JOIN q ON e.label <> q.q_label),
              |r AS (SELECT query_id, neighbor_id, neg_label, cos,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM scored)
              |SELECT query_id, rk, neighbor_id, neg_label,
              |  ROUND(cos, 5) AS cos
              |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin)),

    // Cluster-balanced subsample: q115's deterministic coarse index
    // (same fixed-id gate — the oracle's assignment cross join stays
    // constant-cost at any SF), nlist=16, at most 25 survivors per
    // cluster in md5(vec_id) order.
    QueryDef("q120_cluster_balanced",
      (s, d) => Sampling.clusterBalancedSample(
          table(s, d, "embeddings").where(col("vec_id") < 4000),
          nlist = 16, maxPerCluster = 25)
        .orderBy("vec_id"),
      Some(s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings e
              |  WHERE vec_id < 4000 AND ${norm2("e")} > 0),
              |cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
              |      embedding FROM emb) t
              |  WHERE rn <= 16),
              |assign AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT e.vec_id, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM emb e CROSS JOIN cents c) t WHERE ark = 1),
              |sel AS (SELECT vec_id, cid, ROW_NUMBER() OVER (
              |    PARTITION BY cid
              |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              |  FROM assign)
              |SELECT vec_id, cid FROM sel WHERE rn <= 25
              |ORDER BY vec_id""".stripMargin)),

    // Training-mixture sampling: each source keeps its target share by a
    // content-hash draw; sources off the allowlist (src5-src9) vanish.
    QueryDef("q121_mixture_sample",
      (s, d) => Sampling.mixtureSample(table(s, d, "documents"),
          Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
            "src3" -> 0.25, "src4" -> 0.1))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM documents d
              |JOIN (VALUES ('src0', 1.0), ('src1', 0.75), ('src2', 0.5),
              |             ('src3', 0.25), ('src4', 0.1)) r(source, rate)
              |  USING (source)
              |WHERE ${drawSql("mix:")} < rate
              |ORDER BY doc_id""".stripMargin)),

    // Dataset-card report: ROLLUP keeps per-(source, lang), per-source,
    // and corpus-total grains in one aggregation; exact percentiles
    // (q25's quantile_cont correspondence).
    QueryDef("q122_dataset_card",
      (s, d) => TextAnalysis.datasetCard(table(s, d, "documents"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("total_tokens"),
          col("p50_tokens"), col("p90_tokens"))
        .orderBy("source", "lang"),
      Some("""SELECT COALESCE(source, 'ALL') AS source,
             |  COALESCE(lang, 'ALL') AS lang,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |    AS total_tokens,
             |  ROUND(quantile_cont(len(string_split(text, ' ')), 0.5), 6)
             |    AS p50_tokens,
             |  ROUND(quantile_cont(len(string_split(text, ' ')), 0.9), 6)
             |    AS p90_tokens
             |FROM documents GROUP BY ROLLUP (source, lang)
             |ORDER BY source, lang""".stripMargin)),

    // Class centroids by ordered per-dimension fold — the mean-pooling
    // pass, grouped by label so the oracle's replay is bounded by the
    // label count at any SF.
    // Array output serialized to a micro-scaled integer string so the
    // driver's pandas comparator can sort/hash it (raw array<double>
    // columns are unhashable there); round(x*1e6)->bigint is
    // half-away-from-zero in BOTH engines, unlike float formatting.
    QueryDef("q123_label_centroids",
      (s, d) => Similarity.labelCentroids(table(s, d, "embeddings"))
        .select(col("label"),
          expr("array_join(transform(centroid, " +
            "x -> cast(round(x * 1e6) as bigint)), ' ')").as("centroid"),
          col("n_members"))
        .orderBy("label"),
      Some("""WITH cells AS (SELECT label, vec_id, g.i - 1 AS dim,
             |    CAST(embedding[g.i] AS DOUBLE) AS v
             |  FROM embeddings,
             |       UNNEST(generate_series(1, len(embedding))) g(i)),
             |sums AS (SELECT label, dim,
             |    list_reduce(list(v ORDER BY vec_id), (a, b) -> a + b)
             |      AS s, COUNT(*) AS n
             |  FROM cells GROUP BY 1, 2)
             |SELECT label,
             |  array_to_string(list(CAST(ROUND(s / n * 1000000) AS BIGINT)
             |    ORDER BY dim), ' ') AS centroid,
             |  MAX(n) AS n_members
             |FROM sums GROUP BY label ORDER BY label""".stripMargin)),

    // Blocked fuzzy join: near-identical 40-char prefixes within edit
    // distance 3 (the planted near-dup pairs), fixed-id gate so the
    // oracle's all-pairs levenshtein stays constant-cost at any SF —
    // the operator itself blocks by length bucket instead.
    QueryDef("q124_fuzzy_join",
      (s, d) => {
        // validation gate at 500 docs: 40-char prefixes are uniform
        // length, so length blocking deliberately degenerates here and
        // the entry pays the quadratic tier it exists to validate
        val base = table(s, d, "documents").where(col("doc_id") < 500)
          .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
        Dedup.fuzzyJoin(
            base.select(col("doc_id").as("id_l"), col("k").as("k_l")),
            base.select(col("doc_id").as("id_r"), col("k").as("k_r")),
            "k_l", "k_r", maxDist = 3)
          .where(col("id_l") < col("id_r"))
          .select("id_l", "id_r", "dist")
          .orderBy("id_l", "id_r")
      },
      Some("""WITH b AS (SELECT doc_id, substr(text, 1, 40) AS k
             |  FROM documents WHERE doc_id < 500)
             |SELECT a.doc_id AS id_l, c.doc_id AS id_r,
             |  levenshtein(a.k, c.k) AS dist
             |FROM b a JOIN b c ON a.doc_id < c.doc_id
             |WHERE abs(len(a.k) - len(c.k)) <= 3
             |  AND levenshtein(a.k, c.k) <= 3
             |ORDER BY 1, 2""".stripMargin)),

    // Nearest-class-mean classification: q123's unrounded centroids
    // broadcast against every vector; argmax cosine with a (cos desc,
    // label asc) tie-break both engines replay exactly.
    QueryDef("q125_classify_centroid",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.classifyByCentroid(emb, emb)
          .select(col("vec_id"), col("pred_label"),
            round(col("cos"), 6).as("cos"))
          .orderBy("vec_id")
      },
      Some("""WITH cells AS (SELECT label, vec_id, g.i - 1 AS dim,
             |    CAST(embedding[g.i] AS DOUBLE) AS v
             |  FROM embeddings,
             |       UNNEST(generate_series(1, len(embedding))) g(i)),
             |sums AS (SELECT label, dim,
             |    list_reduce(list(v ORDER BY vec_id), (a, b) -> a + b)
             |      AS s, COUNT(*) AS n
             |  FROM cells GROUP BY 1, 2),
             |cent AS (SELECT label, list(s / n ORDER BY dim) AS centroid
             |  FROM sums GROUP BY label),
             |cn AS (SELECT label, centroid,
             |    sqrt(list_reduce(list_transform(centroid, c -> c * c),
             |      (a, b) -> a + b)) AS cnorm
             |  FROM cent),
             |sc AS (SELECT e.vec_id, c.label,
             |    list_reduce([CAST(e.embedding[g] AS DOUBLE) * c.centroid[g]
             |        FOR g IN generate_series(1, len(e.embedding))],
             |      (a, b) -> a + b)
             |      / (sqrt(list_reduce([CAST(e.embedding[g] AS DOUBLE) *
             |          CAST(e.embedding[g] AS DOUBLE)
             |          FOR g IN generate_series(1, len(e.embedding))],
             |        (a, b) -> a + b)) * c.cnorm) AS cos
             |  FROM embeddings e CROSS JOIN cn c)
             |SELECT vec_id, label AS pred_label, ROUND(cos, 6) AS cos
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             |    ORDER BY cos DESC, label) AS rn FROM sc)
             |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Johnson-Lindenstrauss projection 64 -> 16: the deterministic +-1
    // matrix rebuilt from md5 arithmetic on both engines, folds in
    // dimension order.
    // rp serialized like q123's centroid: micro-scaled bigints joined
    // with spaces, hashable by the driver's pandas gate.
    QueryDef("q126_random_projection",
      (s, d) => Similarity.randomProject(table(s, d, "embeddings"), 16, 64)
        .select(col("vec_id"),
          expr("array_join(transform(rp, " +
            "x -> cast(round(x * 1e6) as bigint)), ' ')").as("rp"))
        .orderBy("vec_id"),
      Some("""WITH sgn AS (SELECT k,
             |    list(CASE WHEN strpos('0123456789abcdef',
             |        substr(md5('rp:' || k || ':' || d), 1, 1)) - 1 >= 8
             |      THEN 1.0 ELSE -1.0 END ORDER BY d) AS sl
             |  FROM generate_series(0, 15) t(k),
             |       generate_series(0, 63) u(d)
             |  GROUP BY k),
             |proj AS (SELECT e.vec_id, s.k,
             |    list_reduce([CAST(e.embedding[g] AS DOUBLE) * s.sl[g]
             |        FOR g IN generate_series(1, 64)],
             |      (a, b) -> a + b) / sqrt(16.0) AS v
             |  FROM embeddings e CROSS JOIN sgn s)
             |SELECT vec_id,
             |  array_to_string(list(CAST(ROUND(v * 1000000) AS BIGINT)
             |    ORDER BY k), ' ') AS rp
             |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Fuzzy decontamination: cross-corpus MinHash-LSH candidates between
    // an even-id "reference benchmark" slice and the odd-id corpus —
    // signatures are per-doc, so the oracle derives bands once over all
    // docs and applies the parity split at the join.
    QueryDef("q127_cross_decontaminate",
      (s, d) => {
        val all = table(s, d, "documents")
        Dedup.minhashCrossCandidates(
            all.where(col("doc_id") % 2 === 1),
            all.where(col("doc_id") % 2 === 0), 3, 8, 2)
          .orderBy("id", "ref_id")
      },
      Some(s"""WITH ${shinglesSql()},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2)
              |SELECT DISTINCT a.id AS id, b.id AS ref_id
              |FROM bands a JOIN bands b
              |  ON a.band = b.band AND a.band_key = b.band_key
              |WHERE a.id % 2 = 1 AND b.id % 2 = 0
              |ORDER BY 1, 2""".stripMargin)),

    // BPE merge training: 6 learned merges over the corpus vocabulary;
    // the oracle unrolls each (count -> argmax -> greedy fold) step as
    // materialized CTEs (the PageRank unrolled-iteration pattern).
    QueryDef("q128_bpe_train",
      (s, d) => TextAnalysis.bpeTrain(table(s, d, "documents"), 6),
      Some(bpeOracleSql(6))),

    // Behavioral-sequence assembly: per-user first-50 event types in
    // (µs, event_id) order — both engines see identical microseconds
    // ([[QueryDef.eventsMicros]] ≡ DuckDB's epoch_us on read).
    // seq serialized with '|' (event types are space-free identifiers)
    // so the driver's pandas comparator can hash the column.
    QueryDef("q129_event_sequences",
      (s, d) => {
        val ev = eventsMicros(s, d)
        graft.ops.Funnel.eventSequences(ev, "user_id",
            Seq("ts_us", "event_id"), "event_type", maxLen = 50)
          .select(col("user_id"),
            expr("array_join(seq, '|')").as("seq"), col("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS n
             |  FROM events)
             |SELECT user_id,
             |  array_to_string(list(event_type ORDER BY rn), '|') AS seq,
             |  n AS n_events
             |FROM e WHERE rn <= 50 GROUP BY user_id, n
             |ORDER BY user_id""".stripMargin)),

    // Content-defined chunking: md5-gated boundaries (w=4, divisor=8) —
    // the edit-robust chunk-hash substrate for chunk-level dedup.
    QueryDef("q130_cdc_chunks",
      (s, d) => TextAnalysis.cdcChunks(table(s, d, "documents"), 4, 8)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
              |    len(string_split(text, ' ')) AS n FROM documents),
              |c AS (SELECT doc_id, toks, n,
              |    [0] || [CAST(i AS INT) FOR i IN generate_series(4, n)
              |            IF i < n AND
              |              ${hex8Sql("md5(array_to_string(" +
                               "toks[i-3:i], ' '))")} % 8 = 0] || [n] AS ac
              |  FROM t),
              |ch AS (SELECT doc_id, CAST(u.j - 1 AS INT) AS chunk_id,
              |    array_to_string(toks[ac[u.j] + 1:ac[u.j + 1]], ' ')
              |      AS chunk
              |  FROM c, UNNEST(generate_series(1, len(ac) - 1)) u(j))
              |SELECT doc_id, chunk_id, chunk, md5(chunk) AS chunk_hash
              |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bucket models (B=256, add-1) for a target split (doc_id % 10 = 0)
    // vs the raw rest; per-doc log-ratio sum via the q117 ordered-fold
    // discipline so both engines produce identical doubles to rounding.
    QueryDef("q131_dsir_weights",
      (s, d) => Sampling.importanceWeights(
          table(s, d, "documents").where(col("doc_id") % 10 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 10 === 0),
          numBuckets = 256)
        .select(col("doc_id"), col("n_feat"),
          round(col("log_w"), 5).as("log_w"))
        .orderBy("doc_id"),
      Some {
        val bucket = s"(${hex8Sql("md5('dsir:' || gram)")} % 256)"
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
           |    len(string_split(text, ' ')) AS n FROM documents),
           |g AS (SELECT doc_id, i AS pos,
           |    $bucket AS bucket
           |  FROM (SELECT doc_id, n, ts ||
           |      [ts[i-1] || ' ' || ts[i] FOR i IN generate_series(2, n)]
           |      AS lg FROM t) s,
           |    UNNEST(generate_series(1, 2 * n - 1)) u(i),
           |    LATERAL (SELECT lg[i] AS gram) l),
           |tm AS MATERIALIZED (SELECT bucket, COUNT(*) AS ct FROM g
           |  WHERE doc_id % 10 = 0 GROUP BY 1),
           |rm AS MATERIALIZED (SELECT bucket, COUNT(*) AS cr FROM g
           |  WHERE doc_id % 10 <> 0 GROUP BY 1),
           |tot AS (SELECT (SELECT CAST(SUM(ct) AS DOUBLE) FROM tm) AS nt,
           |    (SELECT CAST(SUM(cr) AS DOUBLE) FROM rm) AS nr),
           |lp AS (SELECT g.doc_id, g.pos,
           |    ln((COALESCE(tm.ct, 0) + CAST(1 AS DOUBLE)) / (tot.nt + 256))
           |    - ln((COALESCE(rm.cr, 0) + CAST(1 AS DOUBLE)) / (tot.nr + 256))
           |      AS logr
           |  FROM g LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket)
           |  CROSS JOIN tot WHERE g.doc_id % 10 <> 0)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
           |  ROUND(list_reduce(list(logr ORDER BY pos), (a, b) -> a + b), 5)
           |    AS log_w
           |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // URL canonicalization over a deterministically-messied URL corpus
    // (case, www, default ports, tracking params, fragments, trailing
    // slashes, relative links) — every step a string/array op both
    // engines replay identically.
    QueryDef("q133_url_canonicalize",
      (s, d) => {
        val urls = table(s, d, "documents").select(col("doc_id"), concat(
          when(col("doc_id") % 4 === 0, lit("HTTP://WWW."))
            .when(col("doc_id") % 4 === 1, lit("https://"))
            .when(col("doc_id") % 4 === 2, lit("http://Sub."))
            .otherwise(lit("")),
          when(col("doc_id") % 4 =!= 3,
            concat(upper(col("source")), lit(".Example.com"),
              when(col("doc_id") % 3 === 0, lit(":80"))
                .when(col("doc_id") % 3 === 1, lit(":443"))
                .otherwise(lit(""))))
            .otherwise(lit("")),
          lit("/"), col("lang"), lit("/Doc"), col("doc_id") % 50,
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
              lit("?utm_campaign=Spring&z=26&a=1&gclid=g1"))
            .otherwise(lit("?ref=home")),
          when(col("doc_id") % 3 === 0,
              concat(lit("#Sec"), col("doc_id") % 7))
            .otherwise(lit(""))).as("href"))
        Curation.canonicalizeUrls(urls)
          .select(col("doc_id"), col("href"), col("canon_url"), col("host"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
             |    CASE doc_id % 4 WHEN 0 THEN 'HTTP://WWW.'
             |      WHEN 1 THEN 'https://' WHEN 2 THEN 'http://Sub.'
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 4 <> 3 THEN
             |      upper(source) || '.Example.com' ||
             |      (CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
             |       ELSE '' END) ELSE '' END ||
             |    '/' || lang || '/Doc' || (doc_id % 50) ||
             |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN '?utm_campaign=Spring&z=26&a=1&gclid=g1'
             |      ELSE '?ref=home' END ||
             |    CASE WHEN doc_id % 3 = 0 THEN '#Sec' || (doc_id % 7)
             |      ELSE '' END AS href
             |  FROM documents),
             |s1 AS (SELECT doc_id, href, split_part(href, '#', 1) AS u0
             |  FROM u),
             |s2 AS (SELECT *, strpos(u0, '?') AS qp FROM s1),
             |s3 AS (SELECT *,
             |    CASE WHEN qp > 0 THEN substr(u0, 1, qp - 1) ELSE u0 END
             |      AS base,
             |    CASE WHEN qp > 0 THEN substr(u0, qp + 1) ELSE '' END
             |      AS qs FROM s2),
             |s4 AS (SELECT *, CASE WHEN len(keep) > 0
             |      THEN '?' || array_to_string(keep, '&') ELSE '' END AS qstr
             |  FROM (SELECT *, list_sort([p FOR p IN string_split(qs, '&')
             |      IF p <> '' AND NOT starts_with(p, 'utm_')
             |      AND NOT starts_with(p, 'fbclid=')
             |      AND NOT starts_with(p, 'gclid=')
             |      AND NOT starts_with(p, 'ref=')]) AS keep FROM s3) t),
             |s5 AS (SELECT *, strpos(base, '://') > 0 AS isabs,
             |    string_split(base, '/') AS parts FROM s4),
             |s6 AS (SELECT *, regexp_replace(regexp_replace(
             |      lower(coalesce(parts[3], '')),
             |      CASE lower(parts[1]) WHEN 'http:' THEN ':80$'
             |        WHEN 'https:' THEN ':443$'
             |        ELSE '[^\s\S]' END, ''),
             |      '^(www\.)+', '') AS host,
             |    rtrim(CASE WHEN len(parts) > 3 THEN
             |        '/' || array_to_string(parts[4:len(parts)], '/')
             |      ELSE '' END, '/') AS path FROM s5)
             |SELECT doc_id, href,
             |  CASE WHEN isabs THEN
             |      lower(parts[1]) || '//' || host || path || qstr
             |    ELSE rtrim(base, '/') || qstr END AS canon_url,
             |  CASE WHEN isabs THEN host ELSE '' END AS host
             |FROM s6 ORDER BY doc_id""".stripMargin)),

    // exact n-gram CONTAINMENT (Broder): catches near-supersets Jaccard
    // misses; q41's fixed-id SF gate keeps the quadratic tier
    // constant-cost above sf0.1.
    QueryDef("q134_containment_pairs",
      (s, d) => Dedup.containmentPairs(
          table(s, d, "documents").where(col("doc_id") < 6000), 3, 0.9)
        .select(col("id1"), col("id2"),
          round(col("c_1in2"), 4).as("c_1in2"),
          round(col("c_2in1"), 4).as("c_2in1"))
        .orderBy("id1", "id2"),
      Some(s"""WITH ${shinglesSql("doc_id < 6000")},
              |sizes AS (SELECT id, COUNT(*) n_sh FROM sh GROUP BY 1),
              |inter AS (SELECT a.id id1, b.id id2, COUNT(*) n_common
              |          FROM sh a JOIN sh b
              |            ON a.shingle = b.shingle AND a.id < b.id
              |          GROUP BY 1, 2)
              |SELECT id1, id2,
              |  ROUND(CAST(n_common AS DOUBLE) / na.n_sh, 4) AS c_1in2,
              |  ROUND(CAST(n_common AS DOUBLE) / nb.n_sh, 4) AS c_2in1
              |FROM inter
              |JOIN sizes na ON na.id = id1 JOIN sizes nb ON nb.id = id2
              |WHERE GREATEST(CAST(n_common AS DOUBLE) / na.n_sh,
              |               CAST(n_common AS DOUBLE) / nb.n_sh) >= 0.9
              |ORDER BY 1, 2""".stripMargin)),

    // approximate k-NN graph: per-vector top-3 cosine neighbors confined
    // to the deterministic 8-list coarse clusters (q115's index); the
    // oracle rebuilds the index and replays the exact edge set. Fixed-id
    // gate (q44's pattern) keeps the oracle constant-cost at any SF.
    QueryDef("q135_knn_graph",
      (s, d) => Similarity.knnGraph(
          table(s, d, "embeddings").where(col("vec_id") < 4000),
          nlist = 8, k = 3)
        .select(col("vec_id"), col("neighbor_id"), col("cid"),
          round(col("cos"), 5).as("cos"), col("rk"))
        .orderBy("vec_id", "rk"),
      Some(s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings e
              |  WHERE vec_id < 4000 AND ${norm2("e")} > 0),
              |cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
              |      embedding FROM emb) t
              |  WHERE rn <= 8),
              |assign AS (
              |  SELECT vec_id, embedding, cid FROM (
              |    SELECT e.vec_id, e.embedding, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM emb e CROSS JOIN cents c) t WHERE ark = 1),
              |edges AS (
              |  SELECT a.vec_id, b.vec_id AS neighbor_id, a.cid,
              |    ${dot64.format("a", "b")} /
              |      (SQRT(${norm2("a")}) * SQRT(${norm2("b")})) AS cos
              |  FROM assign a JOIN assign b
              |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
              |rk AS (SELECT vec_id, neighbor_id, cid, cos,
              |    ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM edges)
              |SELECT vec_id, neighbor_id, cid, ROUND(cos, 5) AS cos,
              |  CAST(rk AS INT) AS rk
              |FROM rk WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin)),

    // inter-source n-gram overlap matrix: the governance report behind
    // mixture decisions — at most |sources|² rows regardless of SF.
    QueryDef("q136_source_overlap",
      (s, d) => Dedup.sourceOverlapMatrix(table(s, d, "documents"), 3)
        .select(col("src1"), col("src2"), col("n_common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("src1", "src2"),
      Some("""WITH toks AS (SELECT source grp, string_split(text, ' ') l
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |sh AS (SELECT DISTINCT grp,
             |    array_to_string(l[i:i+2], ' ') AS shingle
             |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) t(i)),
             |sizes AS (SELECT grp, COUNT(*) n_sh FROM sh GROUP BY 1),
             |inter AS (SELECT a.grp src1, b.grp src2, COUNT(*) n_common
             |  FROM sh a JOIN sh b
             |    ON a.shingle = b.shingle AND a.grp < b.grp
             |  GROUP BY 1, 2)
             |SELECT src1, src2, n_common,
             |  ROUND(CAST(n_common AS DOUBLE) /
             |        (na.n_sh + nb.n_sh - n_common), 6) AS jaccard
             |FROM inter
             |JOIN sizes na ON na.grp = src1 JOIN sizes nb ON nb.grp = src2
             |ORDER BY 1, 2""".stripMargin)),

    // the q114 rewrite pass: drop every token inside a duplicated span,
    // reassemble, and pin the cleaned text by md5 — oracle extends the
    // q114 span CTEs with the same position-filtered reassembly.
    QueryDef("q137_remove_dup_spans",
      (s, d) => Dedup.removeDuplicateSpans(table(s, d, "documents"), k = 5)
        .select(col("doc_id"), col("n_removed_tokens"),
          md5(col("clean_text")).as("clean_hash"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
             |g AS (SELECT doc_id, i AS pos,
             |    md5(array_to_string(t[i:i+4], ' ')) AS gh
             |  FROM d, UNNEST(generate_series(1, len(t) - 4)) s(i)),
             |c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |m AS (SELECT doc_id, pos FROM g JOIN c USING (gh)),
             |b AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER (
             |    PARTITION BY doc_id ORDER BY pos) > 5 THEN 1 ELSE 0 END
             |    AS brk FROM m),
             |i AS (SELECT doc_id, pos, SUM(brk) OVER (
             |    PARTITION BY doc_id ORDER BY pos) AS island FROM b),
             |sp AS (SELECT doc_id, MIN(pos) AS st, MAX(pos) + 4 AS en
             |  FROM i GROUP BY doc_id, island),
             |spl AS (SELECT doc_id,
             |    list(struct_pack(st := st, en := en)) AS spans
             |  FROM sp GROUP BY 1),
             |alltoks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents),
             |r AS (SELECT a.doc_id, t,
             |    coalesce(spans, CAST([] AS STRUCT(st BIGINT, en BIGINT)[]))
             |      AS spans
             |  FROM alltoks a LEFT JOIN spl USING (doc_id)),
             |k2 AS (SELECT doc_id, t,
             |    list_filter(generate_series(1, len(t)), i ->
             |      len(list_filter(spans, x ->
             |        i >= x.st AND i <= x.en)) = 0) AS kept
             |  FROM r)
             |SELECT doc_id, CAST(len(t) - len(kept) AS BIGINT)
             |    AS n_removed_tokens,
             |  md5(coalesce(array_to_string(
             |    list_transform(kept, i -> t[i]), ' '), ''))
             |    AS clean_hash
             |FROM k2 ORDER BY doc_id""".stripMargin)),

    // partial top-k per key: the Aggregator form shuffles <= k rows per
    // (key, partition) where the window form shuffles the corpus —
    // result pinned identical to the oracle's ROW_NUMBER replay.
    QueryDef("q139_topk_per_group",
      (s, d) => graft.ops.TopK.perKey(
          table(s, d, "documents"), "source", "n_chars", "doc_id", 3)
        .orderBy("source", "rk"),
      Some("""SELECT source, n_chars, doc_id, rk FROM (
             |  SELECT source, n_chars, doc_id,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rk
             |  FROM documents) t
             |WHERE rk <= 3 ORDER BY source, rk""".stripMargin)),

    // A-Res weighted per-key sample: 5 docs per source, selection
    // probability ∝ n_chars; both engines rank by POWER(u, 1/w) on the
    // identical 16-bit content-hash draw.
    QueryDef("q140_weighted_cap_per_key",
      (s, d) => Sampling.weightedCapPerKey(
          table(s, d, "documents"), "source", "n_chars", 5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""WITH r AS (SELECT doc_id, source, n_chars,
              |    POWER(${drawSql("wcap:")}, 1.0 / n_chars) AS ares
              |  FROM documents WHERE n_chars > 0),
              |rk AS (SELECT doc_id, source, n_chars,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY ares DESC, doc_id ASC) AS rk
              |  FROM r)
              |SELECT doc_id, source, n_chars FROM rk
              |WHERE rk <= 5 ORDER BY doc_id""".stripMargin)),

    // rolling 7-day distinct users via mergeable HLL sketch rollup
    // (daily sketches unioned per trailing window — raw keys shuffle
    // ONCE); validated q63-style against the exact rolling count, which
    // the oracle recomputes.
    QueryDef("q142_rolling_distinct",
      (s, d) => {
        val ev = eventsMicros(s, d)
          .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
        val approx = Sketch.rollingDistinct(ev, "day", "user_id", 7)
          .withColumnRenamed("period", "day")
        val days = ev.select(col("day").as("_anchor")).distinct()
        val exact = ev
          .join(days, col("day").between(col("_anchor") - 6, col("_anchor")))
          .groupBy(col("_anchor").as("day"))
          .agg(countDistinct("user_id").as("exact_users"))
        exact.join(approx, "day")
          .select(col("day"), col("exact_users"),
            (abs(col("approx") - col("exact_users")) <=
              col("exact_users") * 0.05).as("approx_ok"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT DISTINCT
             |    epoch_us(ts) // 86400000000 AS day, user_id FROM events),
             |days AS (SELECT DISTINCT day AS anchor FROM e)
             |SELECT anchor AS day,
             |  COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
             |FROM e JOIN days ON day BETWEEN anchor - 6 AND anchor
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BPE APPLY: tokenize the corpus with q128's trained merge table —
    // the artifact a user actually ships. The 6 merges are a bounded
    // driver-side collect (the tokenizer, not data); application is a
    // purely NARROW per-word fold baked into one projection, so at
    // 100 TB tokenization costs one corpus pass and zero joins. The
    // oracle retrains identically (q128's CTEs, vocab carrying the
    // word) and re-applies via the distinct-word vocabulary.
    QueryDef("q144_bpe_apply",
      (s, d) => {
        val docs = table(s, d, "documents")
        val merges = TextAnalysis.bpeTrain(docs, 6).orderBy("step")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        docs
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
          .where(size(col("ws")) > 0)
          .select(col("doc_id"),
            flatten(transform(col("ws"),
              w => TextAnalysis.bpeApply(w, merges))).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            array_join(col("toks"), " ").as("tokens"))
          .orderBy("doc_id")
      },
      Some(bpeApplyOracleSql(6))),

    // int8 scalar quantization: per-dimension affine [min,max] → 256
    // levels (FAISS SQ8) — the 4×-compression storage tier next to
    // PQ/IVF-PQ. Bounds are one dim-grain agg both engines replay;
    // codes and the ordered-fold reconstruction error are narrow.
    QueryDef("q145_scalar_quantize",
      (s, d) => Similarity.scalarQuantize(table(s, d, "embeddings"))
        .select(col("vec_id"), col("codes"),
          round(col("recon_mse"), 9).as("recon_mse"))
        .orderBy("vec_id"),
      Some("""WITH cells AS (SELECT g.i - 1 AS dim,
             |    CAST(embedding[g.i] AS DOUBLE) AS v
             |  FROM embeddings,
             |       UNNEST(generate_series(1, len(embedding))) g(i)),
             |b AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi
             |  FROM cells GROUP BY 1),
             |pk AS (SELECT list(lo ORDER BY dim) AS los,
             |    list(hi ORDER BY dim) AS his FROM b),
             |q AS (SELECT vec_id, embedding, los, his,
             |    [CASE WHEN his[i] > los[i]
             |       THEN CAST(ROUND((CAST(embedding[i] AS DOUBLE) - los[i])
             |              * 255.0 / (his[i] - los[i])) AS INT)
             |       ELSE 0 END
             |     FOR i IN generate_series(1, len(embedding))] AS codes
             |  FROM embeddings CROSS JOIN pk)
             |SELECT vec_id, array_to_string(codes, ' ') AS codes,
             |  ROUND(list_reduce(
             |    [POW(los[i] + codes[i] * (his[i] - los[i]) / 255.0
             |        - CAST(embedding[i] AS DOUBLE), 2)
             |     FOR i IN generate_series(1, len(embedding))],
             |    (a, b) -> a + b) / len(embedding), 9) AS recon_mse
             |FROM q ORDER BY vec_id""".stripMargin)),

    // near-exact ("fuzzy exact") dedup: exact groups keyed on the
    // Dolma/CCNet normalization (lowercase, strip punctuation, collapse
    // whitespace) — catches re-hosted copies differing only in casing/
    // punctuation/spacing. The entry plants such variants (%41 docs
    // re-enter uppercased with added punctuation) so the op has real
    // work at every SF; output is per-group, ordered by hash.
    QueryDef("q146_normalized_dedup",
      (s, d) => {
        val docs = table(s, d, "documents").select("doc_id", "text")
        val variants = docs.where(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(upper(col("text")), lit("!!")).as("text"))
        Dedup.normalizedGroups(docs.unionByName(variants))
          .orderBy("norm_hash")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 2000000, upper(text) || '!!'
             |    FROM documents WHERE doc_id % 41 = 0)
             |SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
             |    '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash,
             |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
             |FROM all_docs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-source quality-quantile retention (FineWeb's "keep the best
    // X% per domain"): q48's quality score, one per-source window,
    // integer cutoff max(1, floor(0.3 n)) — the exact survivor set
    // replays on both engines.
    QueryDef("q147_quality_filter",
      (s, d) => Curation.qualityQuantileFilter(
          TextAnalysis.withQuality(table(s, d, "documents")),
          "source", "quality", 0.3)
        .select(col("doc_id"), col("source"),
          round(col("quality"), 9).as("quality"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, source,
             |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_distinct(string_split(text, ' ')))
             |      AS BIGINT) AS n_uniq,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it')))
             |      AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio
             |  FROM documents),
             |q AS (SELECT doc_id, source,
             |    LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.3
             |      + stop_ratio * 0.2
             |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.2
             |      + LEAST((CAST(n_chars - (n_tokens - 1) AS DOUBLE)
             |          / n_tokens) / 10.0, 1.0) * 0.3 AS quality
             |  FROM t),
             |r AS (SELECT doc_id, source, quality,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY quality DESC, doc_id) AS rk,
             |    COUNT(*) OVER (PARTITION BY source) AS n
             |  FROM q)
             |SELECT doc_id, source, ROUND(quality, 9) AS quality
             |FROM r WHERE rk <= GREATEST(1, FLOOR(0.3 * n))
             |ORDER BY doc_id""".stripMargin)),

    // temperature-scaled source balancing (Conneau & Lample 2019):
    // keep rate (n_min/n_s)^(1-alpha) derived from the corpus itself,
    // content-hash draws, rate rounded to 6 on both engines so a 1-ulp
    // pow() divergence can never flip a draw. The synthetic sources are
    // equal-sized, so the entry re-buckets docs into a deterministic
    // 60/30/10 skew first — otherwise every rate is 1.0 and the
    // operator is untested.
    QueryDef("q148_temperature_mix",
      (s, d) => {
        val skewed = table(s, d, "documents").withColumn("src_bucket",
          when(col("doc_id") % 10 < 6, "heavy")
            .when(col("doc_id") % 10 < 9, "mid").otherwise("tail"))
        Sampling.temperatureMixture(skewed, alpha = 0.5,
            mixCol = "src_bucket")
          .select(col("doc_id"), col("src_bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, text,
              |    CASE WHEN doc_id % 10 < 6 THEN 'heavy'
              |      WHEN doc_id % 10 < 9 THEN 'mid'
              |      ELSE 'tail' END AS src_bucket
              |  FROM documents),
              |c AS (SELECT src_bucket, COUNT(*) AS n_src
              |  FROM d GROUP BY 1),
              |m AS (SELECT MIN(n_src) AS n_min FROM c),
              |r AS (SELECT src_bucket,
              |    ROUND(POW(CAST(n_min AS DOUBLE) / n_src, 0.5), 6)
              |      AS rate
              |  FROM c, m)
              |SELECT doc_id, src_bucket
              |FROM d JOIN r USING (src_bucket)
              |WHERE ${drawSql("tmix:")} < rate
              |ORDER BY doc_id""".stripMargin)),

    // first-order Markov transition matrix over per-user event streams:
    // ONE key-window shuffle for lead + a tiny |event types|² count agg;
    // p = n / Σ n(from) is a single exact-integer division, bit-identical
    // on both engines, so it ships unrounded (the q48 convention).
    QueryDef("q149_markov_transitions",
      (s, d) => Funnel.transitionMatrix(eventsMicros(s, d), "user_id",
          Seq("ts_us", "event_id"), "event_type")
        .orderBy("from_event", "to_event"),
      Some("""WITH p AS (SELECT event_type AS from_event,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS to_event
             |  FROM events),
             |c AS (SELECT from_event, to_event,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM p WHERE to_event IS NOT NULL GROUP BY 1, 2)
             |SELECT from_event, to_event, n,
             |  CAST(n AS DOUBLE) /
             |    CAST(SUM(n) OVER (PARTITION BY from_event) AS DOUBLE) AS p
             |FROM c ORDER BY 1, 2""".stripMargin)),

    // semi-supervised label propagation over the symmetrized
    // customer–supplier graph (q98's edge build): every 10th customer is
    // seeded with its nation, 3 majority-vote rounds spread labels to
    // suppliers and unseeded customers. Deterministic (ties to smallest
    // label); the oracle unrolls the rounds as MATERIALIZED CTEs (the
    // q98 lesson — each round is referenced twice).
    QueryDef("q150_label_propagation",
      (s, d) => {
        val e0 = table(s, d, "lineitem")
          .join(table(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 100000L).as("dst"))
        val edges = e0.union(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = table(s, d, "customer")
          .where(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").as("node"),
            col("c_nationkey").as("label"))
        graft.ops.Graph.labelPropagation(edges, seeds, iters = 3)
          .orderBy("node")
      },
      Some {
        val iter = (k: Int) => {
          val p = s"l${k - 1}"
          s"""l$k AS MATERIALIZED (
             |  SELECT l.node, l.seed_label,
             |    COALESCE(l.seed_label, b.cand, l.label) AS label
             |  FROM $p l LEFT JOIN (
             |    SELECT node, cand FROM (
             |      SELECT e.dst AS node, r.label AS cand,
             |        ROW_NUMBER() OVER (PARTITION BY e.dst
             |          ORDER BY COUNT(*) DESC, r.label ASC) AS rk
             |      FROM e JOIN $p r ON e.src = r.node
             |      WHERE r.label IS NOT NULL
             |      GROUP BY e.dst, r.label) t
             |    WHERE rk = 1) b ON l.node = b.node)"""
        }
        (s"""WITH e0 AS MATERIALIZED (
            |  SELECT DISTINCT o.o_custkey AS src, 100000 + l.l_suppkey AS dst
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
            |e AS MATERIALIZED (SELECT src, dst FROM e0
            |  UNION SELECT dst AS src, src AS dst FROM e0),
            |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
            |seeds AS (SELECT c_custkey AS node,
            |    CAST(c_nationkey AS BIGINT) AS label
            |  FROM customer WHERE c_custkey % 10 = 0),
            |l0 AS MATERIALIZED (
            |  SELECT n.node, s.label AS seed_label, s.label AS label
            |  FROM nodes n LEFT JOIN seeds s USING (node)),
            |""" + (1 to 3).map(iter).mkString(",\n") + """
            |SELECT node, label FROM l3 ORDER BY node""").stripMargin
      }),

    // multi-probe LSH (Lv et al. 2007): q46's buckets, but each query
    // probes its own bucket plus every 1-bit-flip neighbor — recall
    // strictly dominates single-probe at numPlanes+1 probes, with the
    // probe fan-out confined to the broadcast query side.
    QueryDef("q151_sim_lsh_multiprobe",
      (s, d) => {
        val emb = table(s, d, "embeddings")
        Similarity.lshTopK(emb,
            emb.where(col("vec_id") % 50 === 0), k = 5,
            numPlanes = 6, dims = 64)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("cos"), 5).as("cos"))
          .orderBy("query_id", "rk")
      },
      Some(s"""WITH planes AS (SELECT p, i,
              |    (strpos('0123456789abcdef',
              |       substr(md5(CAST(p AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 1))
              |     - 1 - 7.5) / 7.5 AS w
              |  FROM UNNEST(generate_series(0, 5)) tp(p),
              |       UNNEST(generate_series(0, 63)) ti(i)),
              |comps AS (SELECT vec_id, i - 1 AS i, CAST(e AS DOUBLE) AS x
              |  FROM (SELECT vec_id, UNNEST(embedding) e,
              |          generate_subscripts(embedding, 1) i FROM embeddings) t),
              |proj AS (SELECT vec_id, p, SUM(x * w) AS proj
              |  FROM comps JOIN planes USING (i) GROUP BY 1, 2),
              |bucket AS MATERIALIZED (SELECT vec_id,
              |    CAST(SUM(CASE WHEN proj > 0
              |      THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT)
              |      AS bucket
              |  FROM proj GROUP BY 1),
              |probes AS (SELECT q.vec_id AS query_id,
              |    CASE WHEN u.p = -1 THEN q.bucket
              |      ELSE xor(q.bucket, CAST(1 AS BIGINT) << CAST(u.p AS INT))
              |      END AS probe
              |  FROM bucket q, UNNEST(generate_series(-1, 5)) u(p)
              |  WHERE q.vec_id % 50 = 0),
              |cand AS (SELECT p.query_id, b.vec_id AS neighbor_id
              |  FROM probes p JOIN bucket b
              |    ON b.bucket = p.probe AND b.vec_id <> p.query_id),
              |scored AS (SELECT c.query_id, c.neighbor_id,
              |    ${dot64.format("q", "e")} /
              |      (SQRT(${norm2("q")}) * SQRT(${norm2("e")})) AS cos
              |  FROM cand c
              |  JOIN embeddings q ON q.vec_id = c.query_id
              |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
              |r AS (SELECT query_id, neighbor_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM scored)
              |SELECT query_id, rk, neighbor_id, ROUND(cos, 5) AS cos
              |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin)),

    // Gopher rule filter (Rae et al. 2021 A.1.1): named-reason heuristic
    // rules — word-count / mean-word-length bounds, alpha-word ratio,
    // top-unigram/bigram repetition caps. Metrics ship unrounded (narrow
    // per-row IEEE arithmetic, the q48 convention).
    QueryDef("q152_gopher_rules",
      (s, d) => Curation.gopherRules(table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts,
             |    len(string_split(text, ' ')) AS n,
             |    LENGTH(text) AS nc FROM documents),
             |uni AS (SELECT doc_id, 1 AS ng, UNNEST(ts) AS g FROM t),
             |bi AS (SELECT doc_id, 2 AS ng, UNNEST(
             |    [ts[i] || ' ' || ts[i + 1] FOR i IN generate_series(1, n - 1)])
             |    AS g FROM t),
             |cnt AS (SELECT doc_id, ng, g, COUNT(*) AS c
             |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
             |  GROUP BY 1, 2, 3),
             |mx AS (SELECT doc_id,
             |    MAX(CASE WHEN ng = 1 THEN c END) AS mx1,
             |    MAX(CASE WHEN ng = 2 THEN c END) AS mx2
             |  FROM cnt GROUP BY 1),
             |f AS (SELECT t.doc_id, CAST(n AS BIGINT) AS n_words,
             |    CAST(nc - (n - 1) AS DOUBLE) / n AS mean_word_len,
             |    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]')))
             |      AS DOUBLE) / n AS alpha_ratio,
             |    CAST(mx1 AS DOUBLE) / n AS top_word_frac,
             |    CASE WHEN n > 1 THEN CAST(mx2 AS DOUBLE) / (n - 1)
             |      ELSE 0.0 END AS top_bigram_frac
             |  FROM t JOIN mx USING (doc_id)),
             |r AS (SELECT *, concat_ws(',',
             |    CASE WHEN n_words < 20 THEN 'too_short' END,
             |    CASE WHEN n_words > 80 THEN 'too_long' END,
             |    CASE WHEN mean_word_len < 3.0 THEN 'short_words' END,
             |    CASE WHEN mean_word_len > 6.0 THEN 'long_words' END,
             |    CASE WHEN alpha_ratio < 0.8 THEN 'low_alpha' END,
             |    CASE WHEN top_word_frac > 0.15 THEN 'rep_word' END,
             |    CASE WHEN top_bigram_frac > 0.10 THEN 'rep_bigram' END)
             |    AS reasons FROM f)
             |SELECT doc_id, n_words, mean_word_len, alpha_ratio,
             |  top_word_frac, top_bigram_frac, reasons,
             |  reasons = '' AS keep
             |FROM r ORDER BY doc_id""".stripMargin)),

    // character-distribution Shannon entropy: the q116/q117 ordered-fold
    // discipline (codepoint-ordered term fold) makes the double
    // bit-identical on both engines, so it ships unrounded.
    QueryDef("q153_char_entropy",
      (s, d) => TextAnalysis.charEntropy(table(s, d, "documents"))
        .orderBy("doc_id"),
      Some("""WITH c AS (SELECT doc_id, UNNEST(string_split(text, ''))
             |    AS ch FROM documents),
             |g AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM c WHERE ch <> '' GROUP BY 1, 2),
             |a AS (SELECT doc_id, list(c ORDER BY ch) AS cs,
             |    CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(COUNT(*) AS BIGINT) AS nd
             |  FROM g GROUP BY 1)
             |SELECT doc_id, n AS n_chars, nd AS n_distinct_chars,
             |  list_reduce([CAST(0.0 AS DOUBLE)] ||
             |    list_transform(cs, x -> (CAST(x AS DOUBLE) / n)
             |      * ln(CAST(x AS DOUBLE) / n) / ln(2.0)),
             |    (acc, t) -> acc - t) AS entropy_bits
             |FROM a ORDER BY doc_id""".stripMargin)),

    // quality-aware canonical selection: q72's MinHash clusters, but each
    // cluster keeps its BEST-quality member (ties to smallest id) instead
    // of dropNearDups' min-id policy; unclustered docs pass through.
    QueryDef("q154_canonical_by_quality",
      (s, d) => Dedup.canonicalByScore(
          TextAnalysis.withQuality(table(s, d, "documents")),
          Dedup.minhashCandidates(table(s, d, "documents"), 3, 8, 2),
          "quality")
        .select(col("doc_id"), round(col("quality"), 9).as("quality"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${shinglesSql()},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |      AND a.id < b.id),
              |edges AS (SELECT id1 AS src, id2 AS dst FROM cand
              |  UNION ALL SELECT id2, id1 FROM cand),
              |reach(a, b) AS (
              |  SELECT src, dst FROM edges
              |  UNION
              |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
              |lab AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
              |  FROM reach GROUP BY a),
              |q AS (SELECT doc_id,
              |    LEAST(len(string_split(text, ' ')) / 100.0, 1.0) * 0.3
              |    + (len(list_filter(string_split(text, ' '),
              |        x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
              |       * 1.0 / len(string_split(text, ' '))) * 0.2
              |    + (len(list_distinct(string_split(text, ' ')))
              |       * 1.0 / len(string_split(text, ' '))) * 0.2
              |    + LEAST(((LENGTH(text) - (len(string_split(text, ' ')) - 1))
              |       * 1.0 / len(string_split(text, ' '))) / 10.0, 1.0) * 0.3
              |      AS quality
              |  FROM documents),
              |win AS (SELECT doc_id FROM (
              |    SELECT l.id AS doc_id,
              |      ROW_NUMBER() OVER (PARTITION BY l.component
              |        ORDER BY q.quality DESC, l.id ASC) AS rk
              |    FROM lab l JOIN q ON q.doc_id = l.id) t WHERE rk = 1),
              |keep AS (SELECT doc_id FROM q
              |    WHERE doc_id NOT IN (SELECT id FROM lab)
              |  UNION ALL SELECT doc_id FROM win)
              |SELECT k.doc_id, ROUND(q.quality, 9) AS quality
              |FROM keep k JOIN q USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // cross-source embedding-space similarity (semantic companion to
    // q136's lexical overlap matrix): per-source centroids with the
    // labelCentroids ordered-fold discipline, pair cosines folded in dim
    // order — every double bit-identical, ships unrounded.
    QueryDef("q155_source_centroid_sim",
      (s, d) => {
        val src = table(s, d, "documents")
          .select(col("doc_id").as("vec_id"), col("source"))
        Similarity.groupCentroidMatrix(
            table(s, d, "embeddings").join(src, "vec_id"), "source")
          .orderBy("grp1", "grp2")
      },
      Some("""WITH j AS (SELECT d.source AS grp, e.vec_id, e.embedding
             |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
             |cells AS (SELECT grp, vec_id, i - 1 AS dim,
             |    CAST(x AS DOUBLE) AS v
             |  FROM (SELECT grp, vec_id, UNNEST(embedding) x,
             |      generate_subscripts(embedding, 1) i FROM j) t),
             |dims AS (SELECT grp, dim,
             |    list_reduce([CAST(0.0 AS DOUBLE)] ||
             |      list(v ORDER BY vec_id), (a, x) -> a + x)
             |      / COUNT(*) AS m
             |  FROM cells GROUP BY 1, 2),
             |p AS (SELECT a.grp AS g1, b.grp AS g2, a.dim AS dim,
             |    a.m AS ma, b.m AS mb
             |  FROM dims a JOIN dims b
             |    ON a.dim = b.dim AND a.grp < b.grp),
             |f AS (SELECT g1, g2,
             |    list_reduce([CAST(0.0 AS DOUBLE)] ||
             |      list(ma * mb ORDER BY dim), (a, x) -> a + x) AS dot,
             |    list_reduce([CAST(0.0 AS DOUBLE)] ||
             |      list(ma * ma ORDER BY dim), (a, x) -> a + x) AS na2,
             |    list_reduce([CAST(0.0 AS DOUBLE)] ||
             |      list(mb * mb ORDER BY dim), (a, x) -> a + x) AS nb2
             |  FROM p GROUP BY 1, 2)
             |SELECT g1 AS grp1, g2 AS grp2,
             |  dot / (SQRT(na2) * SQRT(nb2)) AS cos
             |FROM f ORDER BY 1, 2""".stripMargin)),

    // PSI distribution-drift report between two snapshot halves of the
    // corpus on the token-count feature: add-1 smoothing over the union
    // bucket set; every term is narrow arithmetic on exact integer
    // counts, so the doubles ship unrounded.
    QueryDef("q156_psi_drift",
      (s, d) => {
        val docs = table(s, d, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
        Curation.psiDrift(
            docs.where(col("doc_id") % 2 === 0),
            docs.where(col("doc_id") % 2 === 1),
            "n_tokens", bucketWidth = 10.0)
          .orderBy("bucket")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    len(string_split(text, ' ')) AS n_tokens FROM documents),
             |a AS (SELECT CAST(FLOOR(n_tokens / 10.0) AS BIGINT) AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS n_a
             |  FROM t WHERE doc_id % 2 = 0 GROUP BY 1),
             |b AS (SELECT CAST(FLOOR(n_tokens / 10.0) AS BIGINT) AS bucket,
             |    CAST(COUNT(*) AS BIGINT) AS n_b
             |  FROM t WHERE doc_id % 2 = 1 GROUP BY 1),
             |j AS (SELECT COALESCE(a.bucket, b.bucket) AS bucket,
             |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             |  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket),
             |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
             |    CAST(SUM(n_b) AS BIGINT) AS tb,
             |    CAST(COUNT(*) AS BIGINT) AS nb FROM j),
             |p AS (SELECT bucket, n_a, n_b,
             |    CAST(n_a + 1 AS DOUBLE) / (ta + nb) AS p_a,
             |    CAST(n_b + 1 AS DOUBLE) / (tb + nb) AS p_b
             |  FROM j, tot)
             |SELECT bucket, n_a, n_b, p_a, p_b,
             |  (p_a - p_b) * ln(p_a / p_b) AS psi_term
             |FROM p ORDER BY bucket""".stripMargin)),

    // fixed-length example packing (pretraining concat-and-chunk): the
    // manifest rows that cut each bucket's doc_id-ordered token stream
    // into 128-token examples, docs crossing boundaries as they do in
    // real packing. Pure integer arithmetic — exact on both engines.
    QueryDef("q157_pack_examples",
      (s, d) => Sampling.packExamples(table(s, d, "documents"),
          seqLen = 128, numBuckets = 4)
        .orderBy("bucket", "example_id", "doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              |  FROM documents WHERE len(string_split(text, ' ')) > 0),
              |b AS (SELECT doc_id, n,
              |    CAST(FLOOR((${drawSql("pack:")}) * 4) AS INT) AS bucket
              |  FROM t),
              |o AS (SELECT doc_id, n, bucket,
              |    CAST(SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id)
              |      AS BIGINT) AS te
              |  FROM b),
              |e AS (SELECT bucket, doc_id, te, te - n AS ts,
              |    UNNEST(generate_series((te - n) // 128, (te - 1) // 128))
              |      AS example_id
              |  FROM o)
              |SELECT bucket, example_id, doc_id,
              |  GREATEST(ts, example_id * 128) - ts + 1 AS from_tok,
              |  LEAST(te, (example_id + 1) * 128) - ts AS to_tok
              |FROM e ORDER BY bucket, example_id, doc_id""".stripMargin)),

    // forward as-of: the NEXT signup at-or-after each purchase (q76's
    // mirror) — same union+window plan traversed in descending time,
    // DuckDB replays natively with ASOF ... ON l.ts <= r.ts.
    QueryDef("q158_asof_forward",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val signups = ev.where(col("event_type") === "signup")
          .groupBy("user_id", "ts_us").agg(max("value").as("value"))
        AsOf.asofJoin(purchases, signups, "user_id", "ts_us",
            Seq("value"), forward = true)
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("asof_ts_us"), round(col("asof_value"), 4).as("asof_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    event_type, value FROM events),
             |l AS (SELECT event_id, user_id, ts_us FROM e
             |  WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, ts_us, MAX(value) AS value FROM e
             |  WHERE event_type = 'signup' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, l.ts_us,
             |  r.ts_us AS asof_ts_us, ROUND(r.value, 4) AS asof_value
             |FROM l ASOF LEFT JOIN r
             |  ON l.user_id = r.user_id AND l.ts_us <= r.ts_us
             |ORDER BY l.event_id""".stripMargin)),

    // All-pairs sparse cosine over 3-shingle TF-IDF at a threshold: the
    // inverted-index similarity join. EXACT for cos >= 0.30 (non-negative
    // vectors sharing no surviving term have cosine 0); df <= 50 caps
    // posting lists so partial-product pairs stay linear in corpus size.
    // Both engines fold every floating sum in ascending-term order.
    QueryDef("q159_sparse_cosine_pairs",
      (s, d) => TextAnalysis.sparseCosinePairs(table(s, d, "documents"),
          minCos = 0.30, maxDf = 50, n = 3)
        .select(col("id_l"), col("id_r"), round(col("cos"), 6).as("cos"),
          col("n_shared"))
        .orderBy("id_l", "id_r"),
      Some("""WITH toks AS (SELECT doc_id id, string_split(text, ' ') l
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |tf AS (SELECT id, array_to_string(l[i:i+2], ' ') AS term,
             |    COUNT(*) tf
             |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) t(i)
             |  GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) df FROM tf GROUP BY 1
             |  HAVING COUNT(*) <= 50),
             |n AS (SELECT COUNT(*) n_docs FROM toks),
             |w AS (SELECT id, term,
             |    tf * (ln((1 + n_docs) / (1.0 + df)) + 1) AS w
             |  FROM tf JOIN df USING (term) CROSS JOIN n),
             |nrm AS (SELECT id,
             |    sqrt(list_reduce(list(w * w ORDER BY term),
             |      (a, b) -> a + b)) AS nrm
             |  FROM w GROUP BY 1),
             |u AS (SELECT w.id, term, w / nrm AS uw
             |  FROM w JOIN nrm USING (id)),
             |p AS (SELECT a.id id_l, b.id id_r, a.term term,
             |    a.uw * b.uw AS prod
             |  FROM u a JOIN u b ON a.term = b.term AND a.id < b.id)
             |SELECT id_l, id_r,
             |  ROUND(list_reduce(list(prod ORDER BY term),
             |    (a, b) -> a + b), 6) AS cos,
             |  COUNT(*) AS n_shared
             |FROM p GROUP BY 1, 2
             |HAVING list_reduce(list(prod ORDER BY term),
             |  (a, b) -> a + b) >= 0.30
             |ORDER BY 1, 2""".stripMargin)),

    // Earliest-chain pattern match (MATCH_RECOGNIZE-lite): first
    // view -> click -> purchase chain per user with strict progression;
    // the oracle replays the same sequential min-chain, and the NULL
    // cascade (rn > NULL -> NULL -> MIN none) is identical both sides.
    QueryDef("q160_pattern_match",
      (s, d) => Funnel.matchPattern(eventsMicros(s, d), "user_id",
          Seq("ts_us", "event_id"), "event_type",
          Seq("view", "click", "purchase"))
        .select(col("key").as("user_id"), col("n_events"),
          col("p1"), col("p2"), col("p3"), col("matched"))
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS rn
             |  FROM events),
             |s1 AS (SELECT user_id, COUNT(*) AS n_events,
             |    MIN(CASE WHEN event_type = 'view' THEN rn END) AS p1
             |  FROM e GROUP BY 1),
             |s2 AS (SELECT e.user_id,
             |    MIN(CASE WHEN event_type = 'click' AND rn > p1
             |      THEN rn END) AS p2
             |  FROM e JOIN s1 USING (user_id) GROUP BY 1),
             |s3 AS (SELECT e.user_id,
             |    MIN(CASE WHEN event_type = 'purchase' AND rn > p2
             |      THEN rn END) AS p3
             |  FROM e JOIN s2 USING (user_id) GROUP BY 1)
             |SELECT user_id, n_events, p1, p2, p3,
             |  CAST(p3 IS NOT NULL AS INT) AS matched
             |FROM s1 LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // Host co-citation graph over q102-style synthesized hrefs (three
    // absolute links per doc), canonicalized to hosts by the real
    // extract->canonicalize chain; the oracle builds the same three
    // hosts directly (the synthetic URLs are already canonical).
    QueryDef("q161_cocitation",
      (s, d) => {
        val html = table(s, d, "documents").withColumn("text", concat(
          lit("<a href=\"http://"), col("source"), lit(".example/doc"),
          col("doc_id") % 50, lit("\">x</a> "),
          lit("<a href=\"http://"), col("lang"), lit(".example/p/"),
          col("doc_id") % 7, lit("\">y</a> "),
          lit("<a href=\"http://cdn"), col("doc_id") % 3,
          lit(".example/a\">z</a>")))
        val hosts = Curation.canonicalizeUrls(Curation.extractLinks(html))
        graft.ops.Graph.coCitation(hosts, "doc_id", "host")
          .orderBy("node_l", "node_r")
      },
      Some("""WITH l AS (
             |  SELECT doc_id, source || '.example' AS node FROM documents
             |  UNION
             |  SELECT doc_id, lang || '.example' FROM documents
             |  UNION
             |  SELECT doc_id, 'cdn' || CAST(doc_id % 3 AS VARCHAR)
             |    || '.example' FROM documents)
             |SELECT a.node AS node_l, b.node AS node_r,
             |  COUNT(*) AS n_docs
             |FROM l a JOIN l b
             |  ON a.doc_id = b.doc_id AND a.node < b.node
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exponentially-decayed per-user activity (half-life 7 d, anchored at
    // the log's max event time); the two-level day-bucket fold is
    // replayed ordered on both sides.
    QueryDef("q162_decayed_activity",
      (s, d) => graft.ops.Decay.decayedSum(eventsMicros(s, d), "user_id",
          Seq("ts_us", "event_id"), "ts_us", "value",
          halfLifeUs = 7L * 86400L * 1000000L,
          bucketUs = 86400L * 1000000L)
        .select(col("key").as("user_id"),
          round(col("decayed"), 6).as("decayed"), col("n_events"))
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    value FROM events),
             |n AS (SELECT MAX(ts_us) AS now FROM e),
             |w AS (SELECT user_id, ts_us // 86400000000 AS bkt,
             |    value * pow(0.5, (now - ts_us) / 604800000000.0) AS w,
             |    ts_us, event_id
             |  FROM e CROSS JOIN n),
             |pb AS (SELECT user_id, bkt,
             |    list_reduce(list(w ORDER BY ts_us, event_id),
             |      (a, b) -> a + b) AS s,
             |    COUNT(*) AS n
             |  FROM w GROUP BY 1, 2)
             |SELECT user_id,
             |  ROUND(list_reduce(list(s ORDER BY bkt), (a, b) -> a + b), 6)
             |    AS decayed,
             |  CAST(SUM(n) AS BIGINT) AS n_events
             |FROM pb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cluster topic terms (c-TF-IDF over deterministic-IVF clusters):
    // the oracle reuses q66's cents/assign replay, pools per-cluster
    // tokens, and ranks tf·ln(1 + A/f) with a term tie-break.
    QueryDef("q163_cluster_topics",
      (s, d) => Similarity.clusterTopics(table(s, d, "embeddings"),
          table(s, d, "documents"), nlist = 8, topK = 5)
        .select(col("cid"), col("rk"), col("term"), col("tf"),
          round(col("score"), 6).as("score"))
        .orderBy("cid", "rk"),
      Some(s"""WITH cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
              |      embedding FROM embeddings) t
              |  WHERE rn <= 8),
              |assign AS (
              |  SELECT vec_id, cid FROM (
              |    SELECT e.vec_id, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM embeddings e CROSS JOIN cents c) t WHERE ark = 1),
              |toks AS (SELECT a.cid,
              |    UNNEST(string_split(dd.text, ' ')) AS term
              |  FROM documents dd JOIN assign a ON a.vec_id = dd.doc_id),
              |tfc AS (SELECT cid, term, COUNT(*) AS tf
              |  FROM toks GROUP BY 1, 2),
              |f AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS f
              |  FROM tfc GROUP BY 1),
              |st AS (SELECT CAST(SUM(tf) AS DOUBLE)
              |    / COUNT(DISTINCT cid) AS a FROM tfc),
              |sc AS (SELECT cid, term, tf,
              |    tf * ln(1.0 + a / f) AS score
              |  FROM tfc JOIN f USING (term) CROSS JOIN st)
              |SELECT cid, rk, term, tf, ROUND(score, 6) AS score
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
              |    ORDER BY score DESC, term) AS rk FROM sc)
              |WHERE rk <= 5 ORDER BY cid, rk""".stripMargin)),

    // LOCF gap-fill of per-user purchase values onto a daily grid; the
    // oracle replays the bucket-last (ordered-list tail), the
    // generate_series spine, and IGNORE NULLS carry-forward.
    QueryDef("q164_gapfill_locf",
      (s, d) => AsOf.gapFillLocf(
          eventsMicros(s, d).where(col("event_type") === "purchase"),
          "user_id", Seq("ts_us", "event_id"), "ts_us", "value",
          stepUs = 86400L * 1000000L)
        .select(col("key").as("user_id"), col("bkt"),
          round(col("filled"), 6).as("filled"), col("observed"))
        .orderBy("user_id", "bkt"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |    value FROM events WHERE event_type = 'purchase'),
             |pb AS (SELECT user_id, ts_us // 86400000000 AS bkt,
             |    list(value ORDER BY ts_us, event_id)[-1] AS obs
             |  FROM e GROUP BY 1, 2),
             |bounds AS (SELECT user_id, MIN(bkt) AS b0, MAX(bkt) AS b1
             |  FROM pb GROUP BY 1),
             |spine AS (SELECT user_id,
             |    UNNEST(generate_series(b0, b1)) AS bkt FROM bounds),
             |j AS (SELECT s.user_id, s.bkt, pb.obs
             |  FROM spine s LEFT JOIN pb USING (user_id, bkt))
             |SELECT user_id, bkt,
             |  ROUND(last_value(obs IGNORE NULLS) OVER (
             |    PARTITION BY user_id ORDER BY bkt
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             |    AS filled,
             |  CAST(obs IS NOT NULL AS INT) AS observed
             |FROM j ORDER BY user_id, bkt""".stripMargin)),

    // Consistent pseudonymization: repeated addresses across docs map to
    // the same md5-derived surrogate; the oracle replays the
    // longest-first fold with list_prepend as the fold init.
    QueryDef("q165_pseudonymize",
      (s, d) => Curation.pseudonymize(
          table(s, d, "documents").select(col("doc_id"),
            concat(col("text"),
              lit(" from user"), col("doc_id") % 20,
              lit("@example.com to admin@corp"), col("doc_id") % 5,
              lit(".org")).as("text")))
        .select(col("doc_id"), md5(col("pseudo")).as("pseudo_md5"),
          col("n_matches"), col("n_distinct"))
        .orderBy("doc_id"),
      Some("""WITH salted AS (SELECT doc_id,
             |    text || ' from user' || (doc_id % 20) ||
             |    '@example.com to admin@corp' || (doc_id % 5) ||
             |    '.org' AS text
             |  FROM documents),
             |m AS (SELECT doc_id, text, regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
             |    AS alls FROM salted),
             |s AS (SELECT doc_id, text, alls,
             |    list_transform(list_sort(list_transform(
             |      list_distinct(alls), v -> {'k': -length(v), 'v': v})),
             |      x -> x.v) AS ms
             |  FROM m)
             |SELECT doc_id,
             |  md5(list_reduce(list_prepend(text, ms), (acc, x) ->
             |    replace(acc, x,
             |      '<EMAIL_' || substr(md5(x), 1, 8) || '>')))
             |    AS pseudo_md5,
             |  CAST(len(alls) AS INT) AS n_matches,
             |  CAST(len(ms) AS INT) AS n_distinct
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Functional-dependency profile source -> lang: per-source majority
    // language with the g3 repair count; violations = 0 iff the FD holds.
    QueryDef("q166_fd_profile",
      (s, d) => graft.ops.Profile.fdProfile(table(s, d, "documents"),
          Seq("source"), "lang")
        .orderBy("source"),
      Some("""WITH cells AS (SELECT source, lang, COUNT(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             |    ORDER BY n DESC, lang) AS rk FROM cells)
             |SELECT source, CAST(SUM(n) AS BIGINT) AS n_rows,
             |  COUNT(*) AS n_rhs,
             |  MAX(CASE WHEN rk = 1 THEN lang END) AS majority_rhs,
             |  MAX(CASE WHEN rk = 1 THEN n END) AS majority_n,
             |  CAST(SUM(n) - MAX(CASE WHEN rk = 1 THEN n END) AS BIGINT)
             |    AS violations
             |FROM rk GROUP BY source ORDER BY source""".stripMargin)),

    // Exact phi-heavy hitters over corpus tokens via the Misra-Gries
    // sketch-then-verify pass: the sketch only bounds the candidate set
    // (superset guarantee), the OUTPUT is exact counts over phi*n — so
    // DuckDB replays it with a plain GROUP BY ... HAVING.
    QueryDef("q168_heavy_hitters",
      (s, d) => Sketch.heavyHitters(
          table(s, d, "documents")
            .select(explode(split(col("text"), " ")).as("term")),
          "term", phi = 1.0 / 16.0)
        .orderBy("term"),
      Some("""WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS term
             |  FROM documents),
             |t AS (SELECT COUNT(*) AS total FROM toks)
             |SELECT term, COUNT(*) AS n
             |FROM toks CROSS JOIN t
             |GROUP BY term, total
             |HAVING COUNT(*) > total * 0.0625
             |ORDER BY term""".stripMargin)),

    // Candidate-key profile over lineitem: all four combos measured in
    // ONE aggregation pass (multi-distinct expand); SQL-standard
    // COUNT(DISTINCT) null semantics on both sides.
    QueryDef("q169_key_candidates",
      (s, d) => graft.ops.Profile.keyCandidates(table(s, d, "lineitem"),
          Seq(Seq("l_orderkey"), Seq("l_orderkey", "l_linenumber"),
            Seq("l_partkey", "l_suppkey"), Seq("l_suppkey")))
        .orderBy("candidate"),
      Some("""WITH li AS (SELECT * FROM lineitem)
             |SELECT 'l_orderkey' AS candidate, COUNT(*) AS n_rows,
             |  COUNT(DISTINCT l_orderkey) AS n_distinct,
             |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS null_rows,
             |  CAST(COUNT(DISTINCT l_orderkey) = COUNT(*) AS INT)
             |    AS is_key
             |FROM li
             |UNION ALL
             |SELECT 'l_orderkey+l_linenumber', COUNT(*),
             |  COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
             |    AND l_linenumber IS NOT NULL
             |    THEN ROW(l_orderkey, l_linenumber) END),
             |  CAST(SUM(CASE WHEN l_orderkey IS NULL
             |    OR l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
             |    AND l_linenumber IS NOT NULL
             |    THEN ROW(l_orderkey, l_linenumber) END) = COUNT(*) AS INT)
             |FROM li
             |UNION ALL
             |SELECT 'l_partkey+l_suppkey', COUNT(*),
             |  COUNT(DISTINCT CASE WHEN l_partkey IS NOT NULL
             |    AND l_suppkey IS NOT NULL
             |    THEN ROW(l_partkey, l_suppkey) END),
             |  CAST(SUM(CASE WHEN l_partkey IS NULL
             |    OR l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  CAST(COUNT(DISTINCT CASE WHEN l_partkey IS NOT NULL
             |    AND l_suppkey IS NOT NULL
             |    THEN ROW(l_partkey, l_suppkey) END) = COUNT(*) AS INT)
             |FROM li
             |UNION ALL
             |SELECT 'l_suppkey', COUNT(*),
             |  COUNT(DISTINCT l_suppkey),
             |  CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT),
             |  CAST(COUNT(DISTINCT l_suppkey) = COUNT(*) AS INT)
             |FROM li
             |ORDER BY candidate""".stripMargin)),

    // Incremental view maintenance: base state (3/4 of orders) merged
    // with the delta batch must equal the full recompute the oracle
    // runs. Cents keep every sum integral, so the merge is bit-exact.
    QueryDef("q170_incremental_agg",
      (s, d) => {
        val o = table(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        graft.ops.Cdc.mergeAggStates(
            graft.ops.Cdc.aggState(o.where(col("o_orderkey") % 4 =!= 0),
              Seq("o_custkey"), Seq("cents")),
            graft.ops.Cdc.aggState(o.where(col("o_orderkey") % 4 === 0),
              Seq("o_custkey"), Seq("cents")),
            Seq("o_custkey"), Seq("cents"))
          .orderBy("o_custkey")
      },
      Some("""WITH b AS (SELECT o_custkey,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT o_custkey, COUNT(*) AS cnt,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
             |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // One-pass correlation matrix over integral-scaled lineitem columns:
    // exact 64-bit moment arithmetic, doubles only at the final
    // division, so both engines produce identical bits.
    QueryDef("q171_corr_matrix",
      (s, d) => graft.ops.Profile.corrMatrix(
          table(s, d, "lineitem").select(
            col("l_quantity").cast("long").as("qty"),
            round(col("l_discount") * 100).cast("long").as("disc"),
            round(col("l_tax") * 100).cast("long").as("tax")),
          Seq("qty", "disc", "tax"))
        .select(col("col_l"), col("col_r"), col("n"),
          round(col("corr"), 6).as("corr"))
        .orderBy("col_l", "col_r"),
      Some("""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
             |    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
             |  FROM lineitem),
             |m AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(qty) AS BIGINT) AS s_qty,
             |    CAST(SUM(qty * qty) AS BIGINT) AS ss_qty,
             |    CAST(SUM(disc) AS BIGINT) AS s_disc,
             |    CAST(SUM(disc * disc) AS BIGINT) AS ss_disc,
             |    CAST(SUM(tax) AS BIGINT) AS s_tax,
             |    CAST(SUM(tax * tax) AS BIGINT) AS ss_tax,
             |    CAST(SUM(qty * disc) AS BIGINT) AS sp_qd,
             |    CAST(SUM(qty * tax) AS BIGINT) AS sp_qt,
             |    CAST(SUM(disc * tax) AS BIGINT) AS sp_dt
             |  FROM b),
             |p AS (
             |  SELECT 'qty' AS col_l, 'disc' AS col_r, n,
             |    CAST(n * sp_qd - s_qty * s_disc AS DOUBLE) AS num,
             |    CAST(n * ss_qty - s_qty * s_qty AS DOUBLE) AS va,
             |    CAST(n * ss_disc - s_disc * s_disc AS DOUBLE) AS vb
             |  FROM m
             |  UNION ALL
             |  SELECT 'qty', 'tax', n,
             |    CAST(n * sp_qt - s_qty * s_tax AS DOUBLE),
             |    CAST(n * ss_qty - s_qty * s_qty AS DOUBLE),
             |    CAST(n * ss_tax - s_tax * s_tax AS DOUBLE)
             |  FROM m
             |  UNION ALL
             |  SELECT 'disc', 'tax', n,
             |    CAST(n * sp_dt - s_disc * s_tax AS DOUBLE),
             |    CAST(n * ss_disc - s_disc * s_disc AS DOUBLE),
             |    CAST(n * ss_tax - s_tax * s_tax AS DOUBLE)
             |  FROM m)
             |SELECT col_l, col_r, n,
             |  CASE WHEN va > 0 AND vb > 0
             |    THEN ROUND(num / (sqrt(va) * sqrt(vb)), 6) END AS corr
             |FROM p ORDER BY col_l, col_r""".stripMargin)),

    // Greedy k-center coreset (farthest-point traversal, k=5): the
    // oracle unrolls each round — min squared distance to the chosen
    // set, argmax with the vec_id tie-break — PageRank-style.
    QueryDef("q172_kcenters",
      (s, d) => Similarity.kCenters(table(s, d, "embeddings"), 5)
        .select(col("rk"), col("vec_id"), round(col("d2"), 5).as("d2"))
        .orderBy("rk"),
      Some(kCentersOracleSql(5))),

    // Per-user purchase trend (cents vs absolute day index): exact
    // integer moments, doubles only at the division.
    QueryDef("q173_group_trend",
      (s, d) => graft.ops.Profile.groupTrend(
          eventsMicros(s, d).where(col("event_type") === "purchase")
            .select(col("user_id"),
              expr("ts_us DIV 86400000000").as("day"),
              round(col("value") * 100).cast("long").as("cents")),
          "user_id", "day", "cents")
        .select(col("key").as("user_id"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
             |    epoch_us(ts) // 86400000000 AS x,
             |    CAST(ROUND(value * 100) AS BIGINT) AS y
             |  FROM events WHERE event_type = 'purchase'),
             |m AS (SELECT user_id, COUNT(*) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy
             |  FROM b GROUP BY 1)
             |SELECT user_id, n,
             |  CASE WHEN n * sxx - sx * sx > 0
             |    THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
             |  CASE WHEN n * sxx - sx * sx > 0
             |    THEN ROUND((CAST(sy AS DOUBLE)
             |      - (CAST(n * sxy - sx * sy AS DOUBLE)
             |         / CAST(n * sxx - sx * sx AS DOUBLE))
             |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |    END AS intercept
             |FROM m ORDER BY user_id""".stripMargin)),

    // Triangle counts + clustering coefficients over the part
    // co-occurrence graph (parts bought in the same order). The
    // fixed-id gate keeps the oracle's id-ordered enumeration
    // constant-cost at any SF; the operator itself orients by degree
    // (O(m^1.5) wedges). Orientation changes work, never the answer.
    QueryDef("q174_triangles",
      (s, d) => {
        val li = table(s, d, "lineitem")
          .where(col("l_partkey") < 2000)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
          .where(col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        graft.ops.Graph.triangles(e)
          .select(col("node"), col("deg"), col("n_tri"),
            round(col("coeff"), 6).as("coeff"))
          .orderBy("node")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem WHERE l_partkey < 2000),
             |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey),
             |deg AS (SELECT n, COUNT(*) AS deg FROM (
             |    SELECT u AS n FROM e UNION ALL SELECT v FROM e)
             |  GROUP BY 1),
             |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM e e1 JOIN e e2 ON e1.v = e2.u
             |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
             |pn AS (SELECT node, COUNT(*) AS n_tri FROM (
             |    SELECT UNNEST([a, b, c]) AS node FROM tri) GROUP BY 1)
             |SELECT deg.n AS node, deg.deg,
             |  COALESCE(pn.n_tri, 0) AS n_tri,
             |  ROUND(2.0 * COALESCE(pn.n_tri, 0)
             |    / (deg.deg * (deg.deg - 1)), 6) AS coeff
             |FROM deg LEFT JOIN pn ON deg.n = pn.node
             |WHERE deg.deg >= 2 ORDER BY node""".stripMargin)),

    // Label-noise audit: per-vector k-NN label disagreement over the
    // q135 neighbor graph; summarized per (label, disagreement bucket)
    // would lose the per-vector scores, so the entry emits the vector
    // grain directly (gated like q135).
    QueryDef("q175_label_noise",
      (s, d) => Similarity.labelNoiseScores(
          table(s, d, "embeddings").where(col("vec_id") < 4000),
          nlist = 8, k = 3)
        .select(col("vec_id"), col("label"), col("k_eff"),
          col("n_disagree"), round(col("noise_score"), 6).as("noise_score"))
        .orderBy("vec_id"),
      Some(s"""WITH emb AS (SELECT vec_id, embedding, label
              |  FROM embeddings e
              |  WHERE vec_id < 4000 AND ${norm2("e")} > 0),
              |cents AS (
              |  SELECT CAST(rn - 1 AS INT) AS cid, embedding FROM (
              |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
              |      embedding FROM emb) t
              |  WHERE rn <= 8),
              |assign AS (
              |  SELECT vec_id, embedding, label, cid FROM (
              |    SELECT e.vec_id, e.embedding, e.label, c.cid,
              |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              |        ${dot64.format("e", "c")} /
              |          (SQRT(${norm2("e")}) * SQRT(${norm2("c")})) DESC,
              |        c.cid ASC) AS ark
              |    FROM emb e CROSS JOIN cents c) t WHERE ark = 1),
              |edges AS (
              |  SELECT a.vec_id, a.label, b.label AS n_label,
              |    ${dot64.format("a", "b")} /
              |      (SQRT(${norm2("a")}) * SQRT(${norm2("b")})) AS cos,
              |    b.vec_id AS neighbor_id
              |  FROM assign a JOIN assign b
              |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
              |rk AS (SELECT vec_id, label, n_label,
              |    ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY cos DESC, neighbor_id ASC) AS rk
              |  FROM edges)
              |SELECT vec_id, label, COUNT(*) AS k_eff,
              |  CAST(SUM(CASE WHEN n_label <> label THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_disagree,
              |  ROUND(CAST(SUM(CASE WHEN n_label <> label THEN 1 ELSE 0
              |    END) AS DOUBLE) / COUNT(*), 6) AS noise_score
              |FROM rk WHERE rk <= 3
              |GROUP BY vec_id, label ORDER BY vec_id""".stripMargin)),

    // Mutual information source ↔ lang: every term from exact integer
    // cell counts, summed in sorted cell order on both sides.
    QueryDef("q176_mutual_information",
      (s, d) => graft.ops.Profile.mutualInformation(
          table(s, d, "documents"), "source", "lang")
        .select(col("n"), round(col("mi"), 6).as("mi"),
          round(col("hx"), 6).as("hx"), round(col("hy"), 6).as("hy"),
          round(col("nmi"), 6).as("nmi")),
      Some("""WITH cells AS (SELECT CAST(source AS VARCHAR) AS x,
             |    CAST(lang AS VARCHAR) AS y, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx
             |  FROM cells GROUP BY 1),
             |my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS cy
             |  FROM cells GROUP BY 1),
             |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
             |t AS (SELECT x, y, n,
             |    (CAST(c AS DOUBLE) / n) *
             |      ln(CAST(n * c AS DOUBLE) / CAST(cx * cy AS DOUBLE))
             |      AS t
             |  FROM cells JOIN mx USING (x) JOIN my USING (y)
             |  CROSS JOIN nn),
             |mi AS (SELECT n,
             |    list_reduce(list(t ORDER BY x, y), (a, b) -> a + b)
             |      AS mi
             |  FROM t GROUP BY 1),
             |ex AS (SELECT
             |    list_reduce(list(h ORDER BY x), (a, b) -> a + b) AS hx
             |  FROM (SELECT x, -(CAST(cx AS DOUBLE) / n) *
             |      ln(CAST(cx AS DOUBLE) / n) AS h
             |    FROM mx CROSS JOIN nn)),
             |ey AS (SELECT
             |    list_reduce(list(h ORDER BY y), (a, b) -> a + b) AS hy
             |  FROM (SELECT y, -(CAST(cy AS DOUBLE) / n) *
             |      ln(CAST(cy AS DOUBLE) / n) AS h
             |    FROM my CROSS JOIN nn))
             |SELECT n, ROUND(mi, 6) AS mi, ROUND(hx, 6) AS hx,
             |  ROUND(hy, 6) AS hy,
             |  CASE WHEN hx > 0 AND hy > 0
             |    THEN ROUND(mi / sqrt(hx * hy), 6) END AS nmi
             |FROM mi CROSS JOIN ex CROSS JOIN ey""".stripMargin)),

    // Purged 5-fold temporal split with a 6 h embargo, summarized to
    // the (fold, flag) grain — counts plus min/max pin every per-row
    // assignment through the exact integer arithmetic.
    QueryDef("q177_purged_folds",
      (s, d) => graft.ops.Sampling.purgedTimeFolds(eventsMicros(s, d),
          "ts_us", 5, embargoUs = 6L * 3600L * 1000000L)
        .groupBy("fold", "near_boundary")
        .agg(count(lit(1)).as("n"), min("ts_us").as("min_ts"),
          max("ts_us").as("max_ts"))
        .orderBy("fold", "near_boundary"),
      Some("""WITH e AS (SELECT epoch_us(ts) AS ts_us FROM events),
             |b AS (SELECT MIN(ts_us) AS t0, MAX(ts_us) AS t1 FROM e),
             |a AS (SELECT ts_us, (t1 - t0 + 5) // 5 AS w,
             |    ts_us - t0 AS off FROM e CROSS JOIN b),
             |f AS (SELECT ts_us, CAST(off // w AS INT) AS fold,
             |    off - (off // w) * w AS pos, w FROM a)
             |SELECT fold,
             |  CAST((pos < 21600000000 OR w - pos <= 21600000000) AS INT)
             |    AS near_boundary,
             |  COUNT(*) AS n, MIN(ts_us) AS min_ts, MAX(ts_us) AS max_ts
             |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Leak-free expanding-window anomaly scores on per-user purchase
    // cents: each event z-scored against its STRICT predecessors; exact
    // integer window sums, doubles only at the final assembly.
    QueryDef("q178_anomaly_zscores",
      (s, d) => graft.ops.Profile.expandingZScores(
          eventsMicros(s, d).where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents")),
          "user_id", Seq("ts_us", "event_id"), "cents", minPrior = 5)
        .select(col("user_id"), col("event_id"), col("cents"),
          col("n_prior"), round(col("z"), 6).as("z"),
          (abs(col("z")) > 3.0).cast("int").as("is_anomaly"))
        .orderBy("user_id", "event_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |    CAST(ROUND(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |s AS (SELECT user_id, ts_us, event_id, cents,
             |    COUNT(cents) OVER prior AS np,
             |    SUM(cents) OVER prior AS s1,
             |    SUM(cents * cents) OVER prior AS s2
             |  FROM e WINDOW prior AS (PARTITION BY user_id
             |    ORDER BY ts_us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |z AS (SELECT user_id, event_id, cents, np AS n_prior,
             |    CASE WHEN np * s2 - s1 * s1 > 0
             |      THEN CAST(np * cents - s1 AS DOUBLE)
             |        / sqrt((CAST(np AS DOUBLE)
             |            * CAST(np * s2 - s1 * s1 AS DOUBLE))
             |          / CAST(np - 1 AS DOUBLE)) END AS z
             |  FROM s WHERE np >= 5)
             |SELECT user_id, event_id, cents, n_prior, ROUND(z, 6) AS z,
             |  CAST(abs(z) > 3.0 AS INT) AS is_anomaly
             |FROM z ORDER BY user_id, event_id""".stripMargin)),

    // Robust per-user purchase stats: exact lower median, MAD, and
    // 5-MAD outlier counts — pure 64-bit integer arithmetic end-to-end,
    // no float caveats anywhere.
    QueryDef("q179_robust_stats",
      (s, d) => graft.ops.Profile.robustStats(
          eventsMicros(s, d).where(col("event_type") === "purchase")
            .select(col("user_id"),
              round(col("value") * 100).cast("long").as("cents")),
          "user_id", "cents")
        .select(col("key").as("user_id"), col("n"), col("median"),
          col("mad"), col("n_outliers"))
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id,
             |    CAST(ROUND(value * 100) AS BIGINT) AS v
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, v,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v)
             |      AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS n
             |  FROM e),
             |med AS (SELECT user_id, v AS med FROM r
             |  WHERE rn = (n + 1) // 2),
             |dev AS (SELECT e.user_id, e.v, med,
             |    abs(e.v - med) AS d
             |  FROM e JOIN med USING (user_id)),
             |r2 AS (SELECT user_id, d,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
             |      AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS n
             |  FROM dev),
             |mad AS (SELECT user_id, d AS mad FROM r2
             |  WHERE rn = (n + 1) // 2)
             |SELECT dev.user_id, COUNT(*) AS n, MAX(med) AS median,
             |  MAX(mad) AS mad,
             |  CAST(SUM(CASE WHEN d > 5 * mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM dev JOIN mad USING (user_id)
             |GROUP BY dev.user_id ORDER BY dev.user_id""".stripMargin)),

    // First-touch windowed funnel: view -> click within 2 h -> purchase
    // within 2 h of the click; both engines run the identical anchored
    // min-chain with the window predicate.
    QueryDef("q180_funnel_within",
      (s, d) => Funnel.matchPatternWithin(eventsMicros(s, d), "user_id",
          "ts_us", "event_type", Seq("view", "click", "purchase"),
          maxGapUs = 2L * 3600L * 1000000L)
        .select(col("key").as("user_id"), col("n_events"),
          col("t1"), col("t2"), col("t3"), col("matched"))
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_type,
             |    epoch_us(ts) AS ts FROM events),
             |s1 AS (SELECT user_id, COUNT(*) AS n_events,
             |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
             |  FROM e GROUP BY 1),
             |s2 AS (SELECT e.user_id,
             |    MIN(CASE WHEN event_type = 'click' AND ts > t1
             |      AND ts <= t1 + 7200000000 THEN ts END) AS t2
             |  FROM e JOIN s1 USING (user_id) GROUP BY 1),
             |s3 AS (SELECT e.user_id,
             |    MIN(CASE WHEN event_type = 'purchase' AND ts > t2
             |      AND ts <= t2 + 7200000000 THEN ts END) AS t3
             |  FROM e JOIN s2 USING (user_id) GROUP BY 1)
             |SELECT user_id, n_events, t1, t2, t3,
             |  CAST(t3 IS NOT NULL AS INT) AS matched
             |FROM s1 LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // One-sided CUSUM drift scores on per-user purchase cents against
    // each user's exact median, via the max-drawup identity
    // (prefix − clamped running min) — window-replayable on both sides.
    QueryDef("q181_cusum_drift",
      (s, d) => graft.ops.Profile.cusumScores(
          eventsMicros(s, d).where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts_us"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents")),
          "user_id", Seq("ts_us", "event_id"), "cents")
        .select(col("key").as("user_id"), col("n"), col("median"),
          col("cusum_max"))
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             |    CAST(ROUND(value * 100) AS BIGINT) AS v
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, v,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v)
             |      AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS n
             |  FROM e),
             |med AS (SELECT user_id, v AS median FROM r
             |  WHERE rn = (n + 1) // 2),
             |dev AS (SELECT e.user_id, median,
             |    e.v - median AS dv, ts_us, event_id
             |  FROM e JOIN med USING (user_id)),
             |pre AS (SELECT user_id, median, ts_us, event_id,
             |    SUM(dv) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS pre
             |  FROM dev),
             |walk AS (SELECT user_id, median, pre,
             |    LEAST(0, MIN(pre) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |      AS rmin
             |  FROM pre)
             |SELECT user_id, COUNT(*) AS n, MAX(median) AS median,
             |  CAST(MAX(pre - rmin) AS BIGINT) AS cusum_max
             |FROM walk GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Candidate-then-verify dedup tier: q42's MinHash-LSH candidates
    // re-scored with bounded Levenshtein (<= 50 confirms the planted
    // near-dups, false candidates sit at 200+). Fixed-id gate keeps the
    // oracle's unbounded levenshtein constant-cost at any SF; the
    // operator itself banded-early-exits.
    QueryDef("q182_minhash_verified",
      (s, d) => Dedup.minhashVerifiedPairs(
          table(s, d, "documents").where(col("doc_id") < 2000),
          3, 8, 2, maxDist = 50)
        .orderBy("id1", "id2"),
      Some(s"""WITH ${shinglesSql("doc_id < 2000")},
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)), '|'))
              |      AS band_key
              |  FROM sigs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              |  FROM bands a JOIN bands b
              |    ON a.band = b.band AND a.band_key = b.band_key
              |    AND a.id < b.id)
              |SELECT c.id1, c.id2,
              |  levenshtein(d1.text, d2.text) AS dist
              |FROM cand c
              |JOIN documents d1 ON d1.doc_id = c.id1
              |JOIN documents d2 ON d2.doc_id = c.id2
              |WHERE levenshtein(d1.text, d2.text) <= 50
              |ORDER BY 1, 2""".stripMargin)),

    // Pareto concentration of supplier revenue (cents): exact integer
    // totals, one divide at the end; rank/cumulative windows run on the
    // collapsed per-supplier relation, partitioned by value-radix
    // bucket (the default 1024 buckets).
    QueryDef("q183_pareto_suppliers",
      (s, d) => graft.ops.Profile.paretoProfile(
          table(s, d, "lineitem").select(col("l_suppkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents")),
          "l_suppkey", "cents")
        .select(col("rk"), col("key").as("l_suppkey"), col("n_rows"),
          col("total"), round(col("share"), 9).as("share"),
          round(col("cum_share"), 9).as("cum_share"))
        .orderBy("rk"),
      Some("""WITH b AS (SELECT l_suppkey,
             |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem),
             |per AS (SELECT l_suppkey AS key,
             |    CAST(SUM(cents) AS BIGINT) AS total,
             |    COUNT(*) AS n_rows
             |  FROM b GROUP BY 1),
             |g AS (SELECT CAST(SUM(total) AS BIGINT) AS grand FROM per),
             |r AS (SELECT key, n_rows, total,
             |    ROW_NUMBER() OVER (ORDER BY total DESC, key) AS rk,
             |    CAST(SUM(total) OVER (ORDER BY total DESC, key
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_total
             |  FROM per)
             |SELECT rk, key AS l_suppkey, n_rows, total,
             |  ROUND(CAST(total AS DOUBLE) / grand, 9) AS share,
             |  ROUND(CAST(cum_total AS DOUBLE) / grand, 9) AS cum_share
             |FROM r CROSS JOIN g ORDER BY rk""".stripMargin)),

    // Multinomial Naive Bayes source classifier (Laplace smoothing),
    // trained and applied in-engine; unseen (term, class) cells enter
    // via the closed-form floor, and per-(doc, class) folds run in term
    // order on both sides. Fixed-id gate (q41 discipline): the oracle's
    // per-(doc, class) list folds exhaust DuckDB's allocator at sf1
    // ungated; doc_id < 20000 covers every doc at sf<=0.1 and exactly
    // copy 0 at synthesized scales, keeping replay cost constant.
    QueryDef("q184_naive_bayes",
      (s, d) => TextAnalysis.naiveBayes(
          table(s, d, "documents").where(col("doc_id") < 20000),
          "source")
        .select(col("doc_id"), col("actual"), col("pred"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id"),
      Some("""WITH docs AS (SELECT * FROM documents
             |  WHERE doc_id < 20000),
             |toks AS (SELECT doc_id, source AS cls,
             |    len(string_split(text, ' ')) AS dl,
             |    UNNEST(string_split(text, ' ')) AS term
             |  FROM docs),
             |tf AS (SELECT doc_id, cls, dl, term, COUNT(*) AS tf
             |  FROM toks GROUP BY 1, 2, 3, 4),
             |cells AS (SELECT cls AS m_cls, term,
             |    CAST(SUM(tf) AS BIGINT) AS n_tc
             |  FROM tf GROUP BY 1, 2),
             |ct AS (SELECT m_cls, CAST(SUM(n_tc) AS BIGINT) AS n_c
             |  FROM cells GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT term) AS v FROM cells),
             |pri AS (SELECT source AS m_cls, COUNT(*) AS n_docs
             |  FROM docs GROUP BY 1),
             |na AS (SELECT COUNT(*) AS n_all FROM docs),
             |model AS (SELECT m_cls, term,
             |    ln((n_tc + 1.0) / (n_c + v)) AS logp
             |  FROM cells JOIN ct USING (m_cls) CROSS JOIN vv),
             |seen AS (SELECT tf.doc_id, m.m_cls,
             |    list_reduce(list(tf * logp ORDER BY term),
             |      (a, b) -> a + b) AS seen_sum,
             |    CAST(SUM(tf) AS BIGINT) AS seen_tf
             |  FROM tf JOIN model m USING (term) GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, d.cls, d.dl, c.m_cls
             |  FROM (SELECT DISTINCT doc_id, cls, dl FROM tf) d
             |  CROSS JOIN ct c),
             |scored AS (SELECT g.doc_id, g.cls, g.m_cls,
             |    ln(CAST(n_docs AS DOUBLE) / n_all)
             |      + COALESCE(seen_sum, 0.0)
             |      + (g.dl - COALESCE(seen_tf, 0))
             |        * ln(1.0 / (n_c + v)) AS score
             |  FROM grid g
             |  LEFT JOIN seen s
             |    ON s.doc_id = g.doc_id AND s.m_cls = g.m_cls
             |  JOIN ct ON ct.m_cls = g.m_cls
             |  CROSS JOIN vv
             |  JOIN pri ON pri.m_cls = g.m_cls
             |  CROSS JOIN na)
             |SELECT doc_id, cls AS actual, m_cls AS pred,
             |  ROUND(score, 6) AS score
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, m_cls) AS rk FROM scored)
             |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Chi-square feature selection: top-5 class-characterizing terms
    // per source by the 2x2 doc-frequency statistic; exact integer
    // contingency cells assembled into doubles identically both sides.
    QueryDef("q185_chi2_terms",
      (s, d) => TextAnalysis.chiSquareTerms(table(s, d, "documents"),
          "source", k = 5)
        .select(col("cls"), col("rk"), col("term"), col("a"),
          round(col("chi2"), 6).as("chi2"))
        .orderBy("cls", "rk"),
      Some("""WITH dt AS (SELECT DISTINCT doc_id, source AS cls, term
             |  FROM (SELECT doc_id, source,
             |      UNNEST(string_split(text, ' ')) AS term
             |    FROM documents)),
             |a AS (SELECT term, cls, COUNT(*) AS a
             |  FROM dt GROUP BY 1, 2),
             |df AS (SELECT term, CAST(SUM(a) AS BIGINT) AS df
             |  FROM a GROUP BY 1),
             |cd AS (SELECT source AS cls, COUNT(*) AS n_cls
             |  FROM documents GROUP BY 1),
             |na AS (SELECT COUNT(*) AS n_all FROM documents),
             |sc AS (SELECT a.cls, a.term, a.a,
             |    df - a.a AS b, n_cls - a.a AS c,
             |    n_all - n_cls - (df - a.a) AS d, n_all
             |  FROM a JOIN df USING (term) JOIN cd USING (cls)
             |  CROSS JOIN na),
             |chi AS (SELECT cls, term, a,
             |    CASE WHEN CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
             |        * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) > 0
             |      THEN CAST(n_all AS DOUBLE)
             |        * CAST(a * d - c * b AS DOUBLE)
             |        * CAST(a * d - c * b AS DOUBLE)
             |        / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
             |          * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
             |      ELSE 0.0 END AS chi2
             |  FROM sc)
             |SELECT cls, rk, term, a, ROUND(chi2, 6) AS chi2
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cls
             |    ORDER BY chi2 DESC, term) AS rk FROM chi)
             |WHERE rk <= 5 ORDER BY cls, rk""".stripMargin)),

    // BPE SAMPLED-TRAINING mode (the 100 TB contract documented on
    // bpeTrain): merges train on a deterministic md5(text)-gated HALF
    // of the corpus — bounded training cost however large the corpus —
    // then bpeApply tokenizes EVERY document, including words the
    // training sample never saw (they fold with the same merge table).
    // The oracle replays the identical sampled training set via the
    // q69 digit-by-digit md5 draw, then applies the learned merges to
    // the full distinct-word vocabulary.
    QueryDef("q190_bpe_sampled",
      (s, d) => {
        val docs = table(s, d, "documents")
        val merges = TextAnalysis.bpeTrain(docs, 4,
            sampleFraction = 0.5)
          .orderBy("step")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        docs
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
          .where(size(col("ws")) > 0)
          .select(col("doc_id"),
            flatten(transform(col("ws"),
              w => TextAnalysis.bpeApply(w, merges))).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            array_join(col("toks"), " ").as("tokens"))
          .orderBy("doc_id")
      },
      Some(bpeSampledOracleSql(4, 0.5))),

    // Naive Bayes HELD-OUT scoring (the train/score split q184 cannot
    // express): the model trains on the 80% content-hash split and
    // scores only the 20% it never saw — the real quality-gate pattern.
    // Unseen test-doc terms enter via the closed-form smoothed floor on
    // both engines. Same fixed-id gate as q184 (the oracle's
    // per-(doc, class) folds stay constant-cost at synthesized scales).
    QueryDef("q191_nb_holdout",
      (s, d) => {
        val docs = table(s, d, "documents").where(col("doc_id") < 20000)
        val u = Sampling.hashUnit(col("text"), "split:")
        val model = TextAnalysis.naiveBayesTrain(
          docs.where(u < 0.8), "source")
        TextAnalysis.naiveBayesScore(model, docs.where(u >= 0.8), "source")
          .select(col("doc_id"), col("actual"), col("pred"),
            round(col("score"), 6).as("score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH docs AS (SELECT *, ${drawSql("split:")} AS u
             |  FROM documents WHERE doc_id < 20000),
             |tr AS (SELECT * FROM docs WHERE u < 0.8),
             |te AS (SELECT * FROM docs WHERE u >= 0.8),
             |tf_tr AS (SELECT doc_id, cls, dl, term, COUNT(*) AS tf
             |  FROM (SELECT doc_id, source AS cls,
             |      len(string_split(text, ' ')) AS dl,
             |      UNNEST(string_split(text, ' ')) AS term
             |    FROM tr) GROUP BY 1, 2, 3, 4),
             |cells AS (SELECT cls AS m_cls, term,
             |    CAST(SUM(tf) AS BIGINT) AS n_tc
             |  FROM tf_tr GROUP BY 1, 2),
             |ct AS (SELECT m_cls, CAST(SUM(n_tc) AS BIGINT) AS n_c
             |  FROM cells GROUP BY 1),
             |vv AS (SELECT COUNT(DISTINCT term) AS v FROM cells),
             |pri AS (SELECT source AS m_cls, COUNT(*) AS n_docs
             |  FROM tr GROUP BY 1),
             |na AS (SELECT COUNT(*) AS n_all FROM tr),
             |model AS (SELECT m_cls, term,
             |    ln((n_tc + 1.0) / (n_c + v)) AS logp
             |  FROM cells JOIN ct USING (m_cls) CROSS JOIN vv),
             |tf_te AS (SELECT doc_id, cls, dl, term, COUNT(*) AS tf
             |  FROM (SELECT doc_id, source AS cls,
             |      len(string_split(text, ' ')) AS dl,
             |      UNNEST(string_split(text, ' ')) AS term
             |    FROM te) GROUP BY 1, 2, 3, 4),
             |seen AS (SELECT tf_te.doc_id, m.m_cls,
             |    list_reduce(list(tf * logp ORDER BY term),
             |      (a, b) -> a + b) AS seen_sum,
             |    CAST(SUM(tf) AS BIGINT) AS seen_tf
             |  FROM tf_te JOIN model m USING (term) GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, d.cls, d.dl, c.m_cls
             |  FROM (SELECT DISTINCT doc_id, cls, dl FROM tf_te) d
             |  CROSS JOIN ct c),
             |scored AS (SELECT g.doc_id, g.cls, g.m_cls,
             |    ln(CAST(n_docs AS DOUBLE) / n_all)
             |      + COALESCE(seen_sum, 0.0)
             |      + (g.dl - COALESCE(seen_tf, 0))
             |        * ln(1.0 / (n_c + v)) AS score
             |  FROM grid g
             |  LEFT JOIN seen s
             |    ON s.doc_id = g.doc_id AND s.m_cls = g.m_cls
             |  JOIN ct ON ct.m_cls = g.m_cls
             |  CROSS JOIN vv
             |  JOIN pri ON pri.m_cls = g.m_cls
             |  CROSS JOIN na)
             |SELECT doc_id, cls AS actual, m_cls AS pred,
             |  ROUND(score, 6) AS score
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, m_cls) AS rk FROM scored)
             |WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Pareto at an explicit bucket count: customer revenue
    // concentration with the rank space value-radix bucketed 64 ways —
    // exact integer bucket arithmetic both engines replay; the oracle
    // replays the BUCKETED construction end-to-end.
    QueryDef("q192_pareto_bucketed",
      (s, d) => graft.ops.Profile.paretoProfile(
          table(s, d, "orders").select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          "o_custkey", "cents", buckets = 64)
        .select(col("rk"), col("key").as("o_custkey"), col("n_rows"),
          col("total"), round(col("share"), 9).as("share"),
          round(col("cum_share"), 9).as("cum_share"))
        .orderBy("rk"),
      Some("""WITH b AS (SELECT o_custkey,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |per AS (SELECT o_custkey AS key,
             |    CAST(SUM(cents) AS BIGINT) AS total,
             |    COUNT(*) AS n_rows
             |  FROM b GROUP BY 1),
             |g AS (SELECT CAST(SUM(total) AS BIGINT) AS grand,
             |    MIN(total) AS lo, MAX(total) AS hi FROM per),
             |pb AS (SELECT per.*, grand,
             |    (hi - total) // ((hi - lo) // 64 + 1) AS bk
             |  FROM per CROSS JOIN g),
             |bs AS (SELECT bk, COUNT(*) AS nk,
             |    CAST(SUM(total) AS BIGINT) AS s
             |  FROM pb GROUP BY 1),
             |off AS (SELECT bk,
             |    COALESCE(CAST(SUM(nk) OVER (ORDER BY bk
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS kb,
             |    COALESCE(CAST(SUM(s) OVER (ORDER BY bk
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS sb
             |  FROM bs),
             |r AS (SELECT pb.key, pb.n_rows, pb.total, pb.grand,
             |    kb + ROW_NUMBER() OVER (PARTITION BY pb.bk
             |      ORDER BY total DESC, key) AS rk,
             |    sb + CAST(SUM(total) OVER (PARTITION BY pb.bk
             |      ORDER BY total DESC, key
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_total
             |  FROM pb JOIN off USING (bk))
             |SELECT rk, key AS o_custkey, n_rows, total,
             |  ROUND(CAST(total AS DOUBLE) / grand, 9) AS share,
             |  ROUND(CAST(cum_total AS DOUBLE) / grand, 9) AS cum_share
             |FROM r ORDER BY rk""".stripMargin)),

    // Fixed-round k-core peeling over the q174 co-purchase graph: three
    // peels at k=3 — the density filter that strips low-degree shells
    // (leaves, then newly-exposed leaves) and keeps the dense core.
    // The oracle unrolls the identical rounds as CTEs (q150's
    // fixed-iteration discipline).
    QueryDef("q193_kcore",
      (s, d) => {
        val li = table(s, d, "lineitem")
          .where(col("l_partkey") < 2000)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
          .where(col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        graft.ops.Graph.kCorePeel(e, k = 3, rounds = 3)
          .orderBy("node")
      },
      Some(kCoreOracleSql(3, 3))),

    // Incremental ingestion dedup: a simulated re-crawl delta (50
    // verbatim re-fetches under new ids, 30 lightly-edited copies, 100
    // genuinely new docs) classified against the existing corpus —
    // exact tier by content hash, near tier by banded MinHash
    // candidates verified with bounded edit distance. Fixed-id gates
    // keep the replay constant-cost at synthesized scales (q41
    // discipline); every tier is deterministic md5/levenshtein
    // arithmetic both engines replay.
    QueryDef("q194_delta_dedup",
      (s, d) => {
        val docs = table(s, d, "documents")
        val corpus = docs.where(col("doc_id") < 300)
          .select(col("doc_id"), col("text"))
        val delta = docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .unionAll(docs.where(col("doc_id") < 30)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat(col("text"), lit(" xtra")).as("text")))
          .unionAll(docs.where(col("doc_id") >= 300 && col("doc_id") < 400)
            .select(col("doc_id"), col("text")))
        Dedup.deltaDedup(corpus, delta, n = 3, numHashes = 8,
            rowsPerBand = 2, maxDist = 20)
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id < 300),
             |delta AS (
             |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
             |  WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 2000000 AS doc_id, text || ' xtra' AS text
             |  FROM documents WHERE doc_id < 30
             |  UNION ALL
             |  SELECT doc_id, text FROM documents
             |  WHERE doc_id >= 300 AND doc_id < 400),
             |ex AS (SELECT d.doc_id, MIN(c.doc_id) AS exact_match
             |  FROM delta d JOIN corpus c ON md5(c.text) = md5(d.text)
             |  GROUP BY 1),
             |ctoks AS (SELECT doc_id id, string_split(text, ' ') l
             |  FROM corpus WHERE len(string_split(text, ' ')) >= 3),
             |csh AS (SELECT DISTINCT id,
             |    array_to_string(l[i:i+2], ' ') AS shingle
             |  FROM ctoks, UNNEST(generate_series(1, len(l) - 2)) t(i)),
             |csig AS (SELECT id, h,
             |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
             |  FROM csh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
             |cband AS (SELECT id, h // 2 AS band,
             |    md5(array_to_string(list_sort(
             |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)),
             |      '|')) AS band_key
             |  FROM csig GROUP BY 1, 2),
             |dtoks AS (SELECT doc_id id, string_split(text, ' ') l
             |  FROM delta WHERE len(string_split(text, ' ')) >= 3),
             |dsh AS (SELECT DISTINCT id,
             |    array_to_string(l[i:i+2], ' ') AS shingle
             |  FROM dtoks, UNNEST(generate_series(1, len(l) - 2)) t(i)),
             |dsig AS (SELECT id, h,
             |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
             |  FROM dsh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
             |dband AS (SELECT id, h // 2 AS band,
             |    md5(array_to_string(list_sort(
             |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)),
             |      '|')) AS band_key
             |  FROM dsig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT d.id AS doc_id, c.id AS c_id
             |  FROM dband d JOIN cband c
             |    ON d.band = c.band AND d.band_key = c.band_key),
             |ver AS (SELECT doc_id, c_id AS near_match,
             |    dist AS near_dist FROM (
             |  SELECT v.doc_id, v.c_id, v.dist,
             |    ROW_NUMBER() OVER (PARTITION BY v.doc_id
             |      ORDER BY v.dist, v.c_id) AS rn
             |  FROM (SELECT cand.doc_id, cand.c_id,
             |      levenshtein(dt.text, ct.text) AS dist
             |    FROM cand
             |    JOIN delta dt ON dt.doc_id = cand.doc_id
             |    JOIN corpus ct ON ct.doc_id = cand.c_id) v
             |  WHERE v.dist <= 20) WHERE rn = 1)
             |SELECT d.doc_id,
             |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
             |       WHEN ver.near_match IS NOT NULL THEN 'near_dup'
             |       ELSE 'new' END AS status,
             |  COALESCE(ex.exact_match, ver.near_match) AS match_id,
             |  CASE WHEN ex.exact_match IS NOT NULL THEN 0
             |       ELSE ver.near_dist END AS dist
             |FROM delta d
             |LEFT JOIN ex ON ex.doc_id = d.doc_id
             |LEFT JOIN ver ON ver.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Position-based (U-shaped) multi-touch attribution: each purchase
    // splits its value 0.4/0.4/middle across the same-user clicks in
    // the preceding 30 minutes. Closed-form credits — exact doubles
    // both engines assemble identically.
    QueryDef("q195_multi_touch",
      (s, d) => Funnel.multiTouchAttribution(eventsMicros(s, d),
          keyCol = "user_id", idCol = "event_id", tsCol = "ts_us",
          typeCol = "event_type", valueCol = "value",
          convType = "purchase", touchType = "click",
          horizonUs = 1800000000L)
        .select(col("conv_id"), col("touch_id"), col("key"),
          col("position"), col("n_touches"),
          round(col("credit"), 6).as("credit"),
          round(col("attributed"), 6).as("attributed"))
        .orderBy("conv_id", "touch_id"),
      Some("""WITH p AS (SELECT event_id AS conv_id, user_id AS key,
             |    epoch_us(ts) AS conv_ts, value AS conv_value
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS touch_id, user_id AS key,
             |    epoch_us(ts) AS touch_ts
             |  FROM events WHERE event_type = 'click'),
             |j AS (SELECT p.*, c.touch_id, c.touch_ts
             |  FROM p JOIN c ON p.key = c.key
             |    AND c.touch_ts <= p.conv_ts
             |    AND c.touch_ts >= p.conv_ts - 1800000000),
             |r AS (SELECT *,
             |    ROW_NUMBER() OVER (PARTITION BY conv_id
             |      ORDER BY touch_ts, touch_id) AS position,
             |    COUNT(*) OVER (PARTITION BY conv_id) AS n_touches
             |  FROM j),
             |k AS (SELECT *,
             |    CASE WHEN n_touches = 1 THEN 1.0
             |         WHEN n_touches = 2 THEN
             |           CASE WHEN position = 1 THEN 0.5 ELSE 0.5 END
             |         WHEN position = 1 THEN 0.4
             |         WHEN position = n_touches THEN 0.4
             |         ELSE 0.19999999999999998 / (n_touches - 2)
             |    END AS credit
             |  FROM r)
             |SELECT conv_id, touch_id, key, position, n_touches,
             |  ROUND(credit, 6) AS credit,
             |  ROUND(credit * conv_value, 6) AS attributed
             |FROM k ORDER BY conv_id, touch_id""".stripMargin)),

    // Fellegi-Sunter record linkage: two disjoint customer registers
    // blocked on nation, compared on (segment, balance bucket, name
    // digit); u-probabilities from the right register's exact value
    // frequencies, m fixed at 0.95. Log-likelihood-ratio weights sum in
    // field order — identical IEEE arithmetic both engines. Fixed-id
    // gates keep the pair space constant at synthesized scales.
    QueryDef("q196_record_linkage",
      (s, d) => {
        val cust = table(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_k"),
          expr("right(c_name, 1)").as("nd"))
        Linkage.linkageScores(
            cust.where(col("c_custkey") <= 500),
            cust.where(col("c_custkey") > 500 && col("c_custkey") <= 1000),
            "c_custkey", "c_custkey", Seq("c_nationkey"),
            Seq("seg", "bal_k", "nd"))
          .select(col("id_l"), col("id_r"), col("n_agree"),
            round(col("score"), 6).as("score"))
          .orderBy("id_l", "id_r")
      },
      Some("""WITH c AS (SELECT c_custkey, c_nationkey,
             |    c_mktsegment AS seg,
             |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_k,
             |    right(c_name, 1) AS nd
             |  FROM customer),
             |l AS (SELECT * FROM c WHERE c_custkey <= 500),
             |r AS (SELECT * FROM c
             |  WHERE c_custkey > 500 AND c_custkey <= 1000),
             |u1 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE seg IS NOT NULL GROUP BY seg)),
             |u2 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE bal_k IS NOT NULL GROUP BY bal_k)),
             |u3 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE nd IS NOT NULL GROUP BY nd)),
             |p AS (SELECT l.c_custkey AS id_l, r.c_custkey AS id_r,
             |    l.seg = r.seg AS a1, l.bal_k = r.bal_k AS a2,
             |    l.nd = r.nd AS a3
             |  FROM l JOIN r USING (c_nationkey))
             |SELECT id_l, id_r,
             |  (CASE WHEN a1 THEN 1 ELSE 0 END
             |   + CASE WHEN a2 THEN 1 ELSE 0 END
             |   + CASE WHEN a3 THEN 1 ELSE 0 END) AS n_agree,
             |  ROUND(
             |    (CASE WHEN u1.u > 0 AND u1.u < 1 AND a1
             |       THEN (ln(0.95) - ln(u1.u)) / ln(2)
             |     WHEN u1.u > 0 AND u1.u < 1
             |       THEN (ln(1.0 - 0.95) - ln(1.0 - u1.u)) / ln(2)
             |     ELSE 0.0 END)
             |    + (CASE WHEN u2.u > 0 AND u2.u < 1 AND a2
             |       THEN (ln(0.95) - ln(u2.u)) / ln(2)
             |     WHEN u2.u > 0 AND u2.u < 1
             |       THEN (ln(1.0 - 0.95) - ln(1.0 - u2.u)) / ln(2)
             |     ELSE 0.0 END)
             |    + (CASE WHEN u3.u > 0 AND u3.u < 1 AND a3
             |       THEN (ln(0.95) - ln(u3.u)) / ln(2)
             |     WHEN u3.u > 0 AND u3.u < 1
             |       THEN (ln(1.0 - 0.95) - ln(1.0 - u3.u)) / ln(2)
             |     ELSE 0.0 END), 6) AS score
             |FROM p, u1, u2, u3 ORDER BY id_l, id_r""".stripMargin)),

    // Weekly seasonal profile: per (day-of-week, hour) event cell with
    // the seasonal factor vs the global mean — exact integer epoch
    // arithmetic (no tz/date functions), one agg to the <= 168-cell
    // grain.
    QueryDef("q197_seasonal_profile",
      (s, d) => graft.ops.Profile.seasonalProfile(eventsMicros(s, d),
          "ts_us", "value")
        .select(col("dow"), col("hour"), col("n"),
          round(col("total"), 4).as("total"),
          round(col("mean"), 6).as("mean"),
          round(col("factor"), 6).as("factor"))
        .orderBy("dow", "hour"),
      Some("""WITH cells AS (SELECT
             |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             |    (epoch_us(ts) // 3600000000) % 24 AS hour,
             |    COUNT(*) AS n, SUM(value) AS total
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT SUM(total) / SUM(n) AS gm FROM cells)
             |SELECT dow, hour, n, ROUND(total, 4) AS total,
             |  ROUND(total / n, 6) AS mean,
             |  ROUND((total / n) / gm, 6) AS factor
             |FROM cells CROSS JOIN g ORDER BY dow, hour""".stripMargin)),

    // Session co-occurrence PMI: which event types travel together
    // within a 30-minute-gap session — the reference's
    // association-measure family (SURVEY A4) applied to behavioral
    // streams; pair expansion self-joins on the session key
    // (coCitation's bounded contract), one ln per pair.
    QueryDef("q198_session_pmi",
      (s, d) => Funnel.sessionCooccurrence(eventsMicros(s, d),
          keyCol = "user_id", idCol = "event_id", tsCol = "ts_us",
          typeCol = "event_type", gapUs = 1800000000L)
        .select(col("type_l"), col("type_r"), col("n_xy"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy("type_l", "type_r"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    epoch_us(ts) AS us FROM events),
             |f AS (SELECT user_id, event_id, event_type, us,
             |    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
             |        ORDER BY us, event_id) > 1800000000
             |      THEN 1 ELSE 0 END AS new_s
             |  FROM e),
             |sess AS (SELECT user_id, event_type,
             |    SUM(new_s) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM f),
             |st AS (SELECT DISTINCT user_id, sid, event_type AS t
             |  FROM sess),
             |ns AS (SELECT COUNT(*) AS s
             |  FROM (SELECT DISTINCT user_id, sid FROM st)),
             |nx AS (SELECT t, COUNT(*) AS n FROM st GROUP BY 1),
             |p AS (SELECT a.t AS type_l, b.t AS type_r,
             |    COUNT(*) AS n_xy
             |  FROM st a JOIN st b
             |    ON a.user_id = b.user_id AND a.sid = b.sid
             |    AND a.t < b.t
             |  GROUP BY 1, 2)
             |SELECT type_l, type_r, n_xy,
             |  ROUND(ln(CAST(n_xy * s AS DOUBLE) / (l.n * r.n)), 6)
             |    AS pmi
             |FROM p
             |JOIN nx l ON l.t = type_l
             |JOIN nx r ON r.t = type_r
             |CROSS JOIN ns
             |ORDER BY type_l, type_r""".stripMargin)),

    // Cross-document n-gram duplication profile: per-doc fraction of
    // 5-gram mass shared with OTHER documents — the across-corpus
    // memorization screen next to Gopher's within-doc repetition
    // rules. Linear shapes only: distinct grams, one df agg, one join
    // back, one doc-grain agg.
    QueryDef("q199_crossdoc_overlap",
      (s, d) => TextAnalysis.crossDocNgramOverlap(
          table(s, d, "documents"), n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          round(col("dup_frac"), 6).as("dup_frac"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
             |  FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |    array_to_string(l[i:i+4], ' ') AS gram
             |  FROM t, UNNEST(generate_series(1, len(l) - 4)) u(i)
             |  WHERE len(l) >= 5),
             |d AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_grams,
             |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dup,
             |  ROUND(CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*), 6) AS dup_frac
             |FROM g JOIN d USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Per-user burstiness (Fano factor) over hourly buckets: var/mean
    // of per-bucket counts with empty buckets as implicit zeros — the
    // bot-signature dispersion statistic. Exact integer counts; three
    // IEEE ops at the end, identical order both engines.
    QueryDef("q200_burstiness",
      (s, d) => graft.ops.Profile.burstiness(eventsMicros(s, d),
          "user_id", "ts_us", widthUs = 3600000000L)
        .select(col("key").as("user_id"), col("n_events"),
          col("n_buckets"), round(col("mean_rate"), 6).as("mean_rate"),
          round(col("fano"), 6).as("fano"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
             |    epoch_us(ts) // 3600000000 AS bkt, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |k AS (SELECT user_id,
             |    CAST(SUM(c) AS BIGINT) AS n_events,
             |    MAX(bkt) - MIN(bkt) + 1 AS n_buckets,
             |    CAST(SUM(c * c) AS BIGINT) AS ss
             |  FROM b GROUP BY 1),
             |m AS (SELECT *,
             |    CAST(n_events AS DOUBLE) / n_buckets AS mean_rate
             |  FROM k)
             |SELECT user_id, n_events, n_buckets,
             |  ROUND(mean_rate, 6) AS mean_rate,
             |  ROUND((CAST(ss AS DOUBLE) / n_buckets
             |    - mean_rate * mean_rate) / mean_rate, 6) AS fano
             |FROM m ORDER BY user_id""".stripMargin)),

    // Column-statistics drift between two snapshots: a deterministic
    // parity split of orders with a PLANTED loader defect on the
    // "after" side (priority nulled above a price threshold) — null
    // rate jumps, cardinality/means hold. Integer-valued mean columns
    // keep the replay bit-stable (doc'd on statsDrift).
    QueryDef("q201_stats_drift",
      (s, d) => {
        val o = table(s, d, "orders")
        val before = o.where(col("o_orderkey") % 2 === 0)
        val after = o.where(col("o_orderkey") % 2 === 1)
          .withColumn("o_orderpriority",
            when(col("o_totalprice") > 200000, lit(null).cast("string"))
              .otherwise(col("o_orderpriority")))
        graft.ops.Profile.statsDrift(before, after,
            Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
          .select(col("column"), col("n_before"), col("n_after"),
            round(col("null_rate_before"), 6).as("null_rate_before"),
            round(col("null_rate_after"), 6).as("null_rate_after"),
            col("n_distinct_before"), col("n_distinct_after"),
            round(col("mean_before"), 6).as("mean_before"),
            round(col("mean_after"), 6).as("mean_after"),
            round(col("null_rate_delta"), 6).as("null_rate_delta"),
            round(col("mean_delta"), 6).as("mean_delta"))
          .orderBy("column")
      },
      Some("""WITH bf AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
             |af AS (SELECT o_custkey, o_orderstatus,
             |    CASE WHEN o_totalprice > 200000 THEN NULL
             |         ELSE o_orderpriority END AS o_orderpriority
             |  FROM orders WHERE o_orderkey % 2 = 1),
             |s AS (
             |  SELECT 'o_custkey' AS col,
             |    (SELECT COUNT(*) FROM bf) AS n_before,
             |    (SELECT COUNT(*) FROM af) AS n_after,
             |    (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1
             |       ELSE 0 END) AS DOUBLE) / COUNT(*) FROM bf) AS nrb,
             |    (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1
             |       ELSE 0 END) AS DOUBLE) / COUNT(*) FROM af) AS nra,
             |    (SELECT COUNT(DISTINCT o_custkey) FROM bf) AS ndb,
             |    (SELECT COUNT(DISTINCT o_custkey) FROM af) AS nda,
             |    (SELECT SUM(CAST(o_custkey AS DOUBLE)) / COUNT(*)
             |       FROM bf) AS mb,
             |    (SELECT SUM(CAST(o_custkey AS DOUBLE)) / COUNT(*)
             |       FROM af) AS ma
             |  UNION ALL
             |  SELECT 'o_orderpriority',
             |    (SELECT COUNT(*) FROM bf), (SELECT COUNT(*) FROM af),
             |    (SELECT CAST(SUM(CASE WHEN o_orderpriority IS NULL
             |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) FROM bf),
             |    (SELECT CAST(SUM(CASE WHEN o_orderpriority IS NULL
             |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) FROM af),
             |    (SELECT COUNT(DISTINCT o_orderpriority) FROM bf),
             |    (SELECT COUNT(DISTINCT o_orderpriority) FROM af),
             |    NULL, NULL
             |  UNION ALL
             |  SELECT 'o_orderstatus',
             |    (SELECT COUNT(*) FROM bf), (SELECT COUNT(*) FROM af),
             |    (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL
             |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) FROM bf),
             |    (SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL
             |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) FROM af),
             |    (SELECT COUNT(DISTINCT o_orderstatus) FROM bf),
             |    (SELECT COUNT(DISTINCT o_orderstatus) FROM af),
             |    NULL, NULL)
             |SELECT col AS "column", n_before, n_after,
             |  ROUND(nrb, 6) AS null_rate_before,
             |  ROUND(nra, 6) AS null_rate_after,
             |  ndb AS n_distinct_before, nda AS n_distinct_after,
             |  ROUND(mb, 6) AS mean_before, ROUND(ma, 6) AS mean_after,
             |  ROUND(nra - nrb, 6) AS null_rate_delta,
             |  ROUND(ma - mb, 6) AS mean_delta
             |FROM s ORDER BY col""".stripMargin)),

    // Luhn-validated card redaction: each doc is salted with a valid
    // card (redacted), an invalid near-twin (kept — the false-positive
    // discipline), and an 18-digit order id; the checksum folds digit
    // by digit identically on both engines.
    QueryDef("q202_redact_cards",
      (s, d) => Curation.redactCards(
          table(s, d, "documents").select(col("doc_id"),
            concat(col("text"), lit(" pay 4111111111111111 ref " +
              "4111111111111112 order 123456789012345678")).as("text")))
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_card_candidates"), col("n_cards"))
        .orderBy("doc_id"),
      Some("""WITH salted AS (SELECT doc_id,
             |    text || ' pay 4111111111111111 ref 4111111111111112' ||
             |    ' order 123456789012345678' AS text
             |  FROM documents),
             |t AS (SELECT doc_id,
             |    string_split(regexp_replace(text, '([0-9]+)',
             |      chr(1) || '\1' || chr(1), 'g'), chr(1)) AS toks
             |  FROM salted),
             |m AS (SELECT doc_id, toks,
             |    list_filter(toks,
             |      x -> regexp_matches(x, '^[0-9]{13,19}$')) AS cand
             |  FROM t),
             |v AS (SELECT doc_id, toks, cand,
             |    list_filter(cand, d -> list_sum(
             |      [CASE WHEN g % 2 = 0 THEN
             |         CASE WHEN 2 * (ascii(d[length(d)-g+1]) - 48) > 9
             |           THEN 2 * (ascii(d[length(d)-g+1]) - 48) - 9
             |           ELSE 2 * (ascii(d[length(d)-g+1]) - 48) END
             |       ELSE ascii(d[length(d)-g+1]) - 48 END
             |       FOR g IN generate_series(1, length(d))]) % 10 = 0)
             |      AS valid
             |  FROM m)
             |SELECT doc_id,
             |  md5(array_to_string(list_transform(toks, x ->
             |    CASE WHEN list_contains(valid, x) THEN '<CARD>'
             |      ELSE x END), '')) AS text_md5,
             |  CAST(len(cand) AS INT) AS n_card_candidates,
             |  CAST(len(valid) AS INT) AS n_cards
             |FROM v ORDER BY doc_id""".stripMargin)),

    // Trailing-repetition detector: docs salted with planted loops by
    // id class — unit "la" x5 (period 1), unit "spam ham" x4 (period
    // 2), or no loop; the smallest qualifying period wins. Slice
    // equality + leading-true run folds replay exactly.
    QueryDef("q203_tail_repetition",
      (s, d) => TextAnalysis.tailRepetition(
          table(s, d, "documents").select(col("doc_id"),
            concat(col("text"), element_at(array(
              lit(" la la la la la"),
              lit(" spam ham spam ham spam ham spam ham"),
              lit(" clean ending")), (col("doc_id") % 3 + 1).cast("int")))
              .as("text")),
          maxPeriod = 3, maxUnits = 10, minRepeats = 3)
        .select(col("doc_id"), col("period"), col("n_repeats"))
        .orderBy("doc_id"),
      Some(tailRepOracleSql(maxPeriod = 3, maxUnits = 10,
        minRepeats = 3))),

    // Per-source Zipf fingerprint: OLS of ln freq on ln rank over the
    // top-200 terms — rank-ordered moment folds both engines replay
    // bit-for-bit; natural text sits near slope -1.
    QueryDef("q204_zipf_profile",
      (s, d) => TextAnalysis.zipfProfile(table(s, d, "documents"),
          "source", topR = 200)
        .select(col("source"), col("n_types"), col("n_tokens"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"))
        .orderBy("source"),
      Some("""WITH tf AS (SELECT source, term, COUNT(*) AS freq
             |  FROM (SELECT source, UNNEST(list_filter(
             |      string_split(text, ' '), x -> len(x) > 0)) AS term
             |    FROM documents)
             |  GROUP BY 1, 2),
             |tot AS (SELECT source, COUNT(*) AS n_types,
             |    CAST(SUM(freq) AS BIGINT) AS n_tokens
             |  FROM tf GROUP BY 1),
             |rkd AS (SELECT source, freq,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY freq DESC, term) AS rk
             |  FROM tf QUALIFY rk <= 200),
             |m AS (SELECT source, COUNT(*) AS r,
             |    list_reduce(list(ln(rk) ORDER BY rk),
             |      (a, b) -> a + b) AS sx,
             |    list_reduce(list(ln(freq) ORDER BY rk),
             |      (a, b) -> a + b) AS sy,
             |    list_reduce(list(ln(rk) * ln(rk) ORDER BY rk),
             |      (a, b) -> a + b) AS sxx,
             |    list_reduce(list(ln(freq) * ln(freq) ORDER BY rk),
             |      (a, b) -> a + b) AS syy,
             |    list_reduce(list(ln(rk) * ln(freq) ORDER BY rk),
             |      (a, b) -> a + b) AS sxy
             |  FROM rkd GROUP BY 1),
             |f AS (SELECT source, n_types, n_tokens,
             |    r * sxx - sx * sx AS dx, r * syy - sy * sy AS dy,
             |    r * sxy - sx * sy AS cv, r, sx, sy
             |  FROM tot JOIN m USING (source))
             |SELECT source, n_types, n_tokens,
             |  ROUND(CASE WHEN dx > 0 THEN cv / dx END, 6) AS slope,
             |  ROUND(CASE WHEN dx > 0
             |    THEN (sy - (cv / dx) * sx) / r END, 6) AS intercept,
             |  ROUND(CASE WHEN dx > 0 AND dy > 0
             |    THEN cv * cv / (dx * dy) END, 6) AS r2
             |FROM f ORDER BY source""".stripMargin)),

    // Nearest as-of join: each purchase matched to its CLOSEST same-user
    // signup in either time direction (ties -> backward); two
    // union+window passes, never a theta-join. Oracle composes DuckDB's
    // native backward + forward ASOF joins with the same tie rule.
    QueryDef("q205_asof_nearest",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val signups = ev.where(col("event_type") === "signup")
          .groupBy("user_id", "ts_us").agg(max("value").as("value"))
        AsOf.asofJoinNearest(purchases, signups, "user_id", "ts_us",
            Seq("value"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("near_ts_us"), round(col("near_value"), 4).as("near_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    event_type, value FROM events),
             |l AS (SELECT event_id, user_id, ts_us FROM e
             |  WHERE event_type = 'purchase'),
             |r AS (SELECT user_id, ts_us, MAX(value) AS value FROM e
             |  WHERE event_type = 'signup' GROUP BY 1, 2),
             |b AS (SELECT l.event_id, r.ts_us AS bts, r.value AS bval
             |  FROM l ASOF LEFT JOIN r
             |    ON l.user_id = r.user_id AND l.ts_us >= r.ts_us),
             |f AS (SELECT l.event_id, r.ts_us AS fts, r.value AS fval
             |  FROM l ASOF LEFT JOIN r
             |    ON l.user_id = r.user_id AND l.ts_us <= r.ts_us)
             |SELECT l.event_id, l.user_id, l.ts_us,
             |  CASE WHEN fts IS NULL OR (bts IS NOT NULL
             |      AND l.ts_us - bts <= fts - l.ts_us)
             |    THEN bts ELSE fts END AS near_ts_us,
             |  ROUND(CASE WHEN fts IS NULL OR (bts IS NOT NULL
             |      AND l.ts_us - bts <= fts - l.ts_us)
             |    THEN bval ELSE fval END, 4) AS near_value
             |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
             |ORDER BY l.event_id""".stripMargin)),

    // Interval-overlap join: purchase windows [ts, ts+30min] x click
    // windows [ts, ts+10min] per user — binned to an equi-join with
    // first-shared-bin emission (no distinct pass); the oracle runs the
    // plain overlap predicate.
    QueryDef("q206_interval_overlap",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val li = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("l_id"), col("user_id"),
            col("ts_us").as("ls"),
            (col("ts_us") + 1800000000L).as("le"))
        val ri = ev.where(col("event_type") === "click")
          .select(col("event_id").as("r_id"), col("user_id"),
            col("ts_us").as("rs"),
            (col("ts_us") + 600000000L).as("re"))
        AsOf.intervalOverlapJoin(li, ri, "user_id", "ls", "le",
            "rs", "re", binWidth = 1800000000L)
          .select("l_id", "r_id", "user_id")
          .orderBy("l_id", "r_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             |    event_type FROM events),
             |li AS (SELECT event_id AS l_id, user_id, ts_us AS ls,
             |    ts_us + 1800000000 AS le FROM e
             |  WHERE event_type = 'purchase'),
             |ri AS (SELECT event_id AS r_id, user_id, ts_us AS rs,
             |    ts_us + 600000000 AS re FROM e
             |  WHERE event_type = 'click')
             |SELECT l_id, r_id, li.user_id
             |FROM li JOIN ri ON li.user_id = ri.user_id
             |  AND ls <= re AND rs <= le
             |ORDER BY l_id, r_id""".stripMargin)),

    // Market-basket pair rules over order line items: support /
    // directed confidences / lift from exact integer counts — the
    // reference's joint-vs-marginal association family (A4) on
    // transactions; pair expansion bounded per basket (the coCitation
    // contract), fixed-id gate keeps the battery constant-cost.
    QueryDef("q207_basket_rules",
      (s, d) => Basket.pairRules(
          table(s, d, "lineitem").where(col("l_partkey") < 2000),
          "l_orderkey", "l_partkey", minCount = 2)
        .select(col("item_l"), col("item_r"), col("n_xy"),
          round(col("support"), 9).as("support"),
          round(col("conf_lr"), 6).as("conf_lr"),
          round(col("conf_rl"), 6).as("conf_rl"),
          round(col("lift"), 6).as("lift"))
        .orderBy("item_l", "item_r"),
      Some("""WITH ti AS (SELECT DISTINCT l_orderkey AS txn,
             |    l_partkey AS item
             |  FROM lineitem WHERE l_partkey < 2000),
             |nt AS (SELECT COUNT(DISTINCT txn) AS n FROM ti),
             |ni AS (SELECT item, COUNT(*) AS n_i FROM ti GROUP BY 1),
             |p AS (SELECT a.item AS item_l, b.item AS item_r,
             |    COUNT(*) AS n_xy
             |  FROM ti a JOIN ti b
             |    ON a.txn = b.txn AND a.item < b.item
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
             |SELECT item_l, item_r, n_xy,
             |  ROUND(CAST(n_xy AS DOUBLE) / n, 9) AS support,
             |  ROUND(CAST(n_xy AS DOUBLE) / l.n_i, 6) AS conf_lr,
             |  ROUND(CAST(n_xy AS DOUBLE) / r.n_i, 6) AS conf_rl,
             |  ROUND(CAST(n_xy * n AS DOUBLE) / (l.n_i * r.n_i), 6)
             |    AS lift
             |FROM p
             |JOIN ni l ON l.item = item_l
             |JOIN ni r ON r.item = item_r
             |CROSS JOIN nt
             |ORDER BY item_l, item_r""".stripMargin)),

    // Benford first-digit profile of line-item prices (cents) per
    // return flag: observed vs log10(1+1/d) shares + the chi-square
    // misfit, contributions folded in digit order — exact leading
    // digits from the decimal string, one (group, digit) agg.
    QueryDef("q208_benford",
      (s, d) => graft.ops.Profile.benford(
          table(s, d, "lineitem").select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents")),
          "l_returnflag", "cents")
        .select(col("group"), col("digit"), col("n_d"),
          round(col("obs_share"), 6).as("obs_share"),
          round(col("benford_share"), 6).as("benford_share"),
          round(col("chi2"), 4).as("chi2"))
        .orderBy("group", "digit"),
      Some("""WITH v AS (SELECT l_returnflag AS grp,
             |    CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100)
             |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM lineitem
             |  WHERE CAST(ROUND(l_extendedprice * 100) AS BIGINT) > 0),
             |d0 AS (SELECT grp, digit, COUNT(*) AS n_d
             |  FROM v GROUP BY 1, 2),
             |d AS (SELECT g.grp, t.digit,
             |    COALESCE(d0.n_d, 0) AS n_d
             |  FROM (SELECT DISTINCT grp FROM d0) g
             |  CROSS JOIN generate_series(1, 9) t(digit)
             |  LEFT JOIN d0 ON d0.grp = g.grp AND d0.digit = t.digit),
             |w AS (SELECT *,
             |    CAST(SUM(n_d) OVER (PARTITION BY grp) AS BIGINT) AS n
             |  FROM d),
             |c AS (SELECT *,
             |    n * (ln(1.0 + 1.0 / digit) / ln(10.0)) AS exp,
             |    (n_d - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
             |      * (n_d - n * (ln(1.0 + 1.0 / digit) / ln(10.0)))
             |      / (n * (ln(1.0 + 1.0 / digit) / ln(10.0))) AS contrib
             |  FROM w),
             |x AS (SELECT grp,
             |    list_reduce(list(contrib ORDER BY digit),
             |      (a, b) -> a + b) AS chi2
             |  FROM c GROUP BY 1)
             |SELECT c.grp AS "group", c.digit, c.n_d,
             |  ROUND(CAST(c.n_d AS DOUBLE) / c.n, 6) AS obs_share,
             |  ROUND(ln(1.0 + 1.0 / c.digit) / ln(10.0), 6)
             |    AS benford_share,
             |  ROUND(x.chi2, 4) AS chi2
             |FROM c JOIN x ON x.grp = c.grp
             |ORDER BY c.grp, c.digit""".stripMargin)),

    // Exact two-sample KS drift per return flag: parity-split prices
    // with a PLANTED +5000.00 shift on one group's "after" side — the
    // binning-free referee next to PSI; integer CDF steps, one divide.
    QueryDef("q209_ks_drift",
      (s, d) => {
        val li = table(s, d, "lineitem").select(col("l_orderkey"),
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val before = li.where(col("l_orderkey") % 2 === 0)
        val after = li.where(col("l_orderkey") % 2 === 1)
          .withColumn("cents", col("cents") +
            when(col("l_returnflag") === "R", 500000L).otherwise(0L))
        graft.ops.Profile.ksDrift(before, after, "l_returnflag", "cents")
          .select(col("group"), col("n_before"), col("n_after"),
            round(col("ks"), 6).as("ks"), col("at_value"))
          .orderBy("group")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_returnflag AS grp,
             |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem),
             |u AS (SELECT grp, cents AS v, 0 AS side FROM li
             |  WHERE l_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT grp, cents + CASE WHEN grp = 'R' THEN 500000
             |    ELSE 0 END AS v, 1 AS side
             |  FROM li WHERE l_orderkey % 2 = 1),
             |c AS (SELECT grp, v,
             |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cb,
             |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS ca
             |  FROM u GROUP BY 1, 2),
             |st AS (SELECT grp, v,
             |    CAST(SUM(cb) OVER (PARTITION BY grp ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
             |    CAST(SUM(ca) OVER (PARTITION BY grp ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             |    CAST(SUM(cb) OVER (PARTITION BY grp) AS BIGINT) AS n_b,
             |    CAST(SUM(ca) OVER (PARTITION BY grp) AS BIGINT) AS n_a
             |  FROM c),
             |dd AS (SELECT grp, v, n_b, n_a,
             |    ABS(CAST(cum_b AS DOUBLE) / n_b
             |      - CAST(cum_a AS DOUBLE) / n_a) AS d
             |  FROM st),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
             |    ORDER BY d DESC, v ASC) AS rk FROM dd)
             |SELECT grp AS "group", n_b AS n_before, n_a AS n_after,
             |  ROUND(d, 6) AS ks, v AS at_value
             |FROM r WHERE rk = 1 ORDER BY grp""".stripMargin)),

    // Two-proportion z-test at the user grain: deterministic 3-way
    // variant split, success = user ever purchased; each arm vs
    // control with the pooled-variance z. Exact counts, four float
    // ops, no-inf contract on degenerate pools.
    QueryDef("q210_ab_test",
      (s, d) => {
        val users = eventsMicros(s, d)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("success"))
          .withColumn("variant", element_at(array(
            lit("control"), lit("a"), lit("b")),
            (pmod(col("user_id"), lit(3L)) + 1).cast("int")))
        graft.ops.Profile.abTest(users, "variant", "success", "control")
          .select(col("variant"), col("n"), col("conv"),
            round(col("rate"), 6).as("rate"),
            round(col("control_rate"), 6).as("control_rate"),
            round(col("lift"), 6).as("lift"),
            round(col("z"), 6).as("z"))
          .orderBy("variant")
      },
      Some("""WITH users AS (SELECT user_id,
             |    MAX(CASE WHEN event_type = 'purchase' THEN 1
             |      ELSE 0 END) AS success,
             |    CASE user_id % 3 WHEN 0 THEN 'control'
             |      WHEN 1 THEN 'a' ELSE 'b' END AS variant
             |  FROM events GROUP BY user_id),
             |per AS (SELECT variant, COUNT(*) AS n,
             |    CAST(SUM(success) AS BIGINT) AS conv
             |  FROM users GROUP BY 1),
             |ctl AS (SELECT n AS n_c, conv AS conv_c FROM per
             |  WHERE variant = 'control')
             |SELECT variant, n, conv,
             |  ROUND(CAST(conv AS DOUBLE) / n, 6) AS rate,
             |  ROUND(CAST(conv_c AS DOUBLE) / n_c, 6) AS control_rate,
             |  ROUND(CAST(conv AS DOUBLE) / n
             |    - CAST(conv_c AS DOUBLE) / n_c, 6) AS lift,
             |  ROUND(CASE WHEN CAST(conv + conv_c AS DOUBLE)
             |      / (n + n_c) > 0
             |    AND CAST(conv + conv_c AS DOUBLE) / (n + n_c) < 1
             |    THEN (CAST(conv AS DOUBLE) / n
             |      - CAST(conv_c AS DOUBLE) / n_c)
             |      / SQRT(CAST(conv + conv_c AS DOUBLE) / (n + n_c)
             |        * (1.0 - CAST(conv + conv_c AS DOUBLE) / (n + n_c))
             |        * (1.0 / n + 1.0 / n_c)) END, 6) AS z
             |FROM per CROSS JOIN ctl
             |WHERE variant <> 'control'
             |ORDER BY variant""".stripMargin)),

    // Trending parts per 30-day bucket: smoothed period-over-period
    // count ratios, top-5 per period — exact integer periods (epoch
    // div, no calendar functions), one self-equi-join on the previous
    // period, one rank window.
    QueryDef("q211_trending_items",
      (s, d) => {
        val li = table(s, d, "lineitem").where(col("l_partkey") < 2000)
          .join(table(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select((unix_micros(col("o_orderdate").cast("timestamp"))
            / lit(2592000000000L)).cast("long").as("period"),
            col("l_partkey"))
        graft.ops.Profile.trendingItems(li, "period", "l_partkey",
            k = 5, smoothing = 1.0)
          .select(col("period"), col("rk"), col("item"), col("n"),
            col("n_prev"), round(col("ratio"), 6).as("ratio"))
          .orderBy("period", "rk")
      },
      Some("""WITH li AS (SELECT
             |    epoch_us(o_orderdate) // 2592000000000 AS period,
             |    l_partkey AS item
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_partkey < 2000),
             |c AS (SELECT period, item, COUNT(*) AS n
             |  FROM li GROUP BY 1, 2),
             |hp AS (SELECT DISTINCT period + 1 AS period FROM c),
             |j AS (SELECT c.period, c.item, c.n,
             |    COALESCE(p.n, 0) AS n_prev
             |  FROM c
             |  JOIN hp ON hp.period = c.period
             |  LEFT JOIN c p
             |    ON p.period = c.period - 1 AND p.item = c.item),
             |r AS (SELECT *,
             |    (n + 1.0) / (n_prev + 1.0) AS ratio,
             |    ROW_NUMBER() OVER (PARTITION BY period
             |      ORDER BY (n + 1.0) / (n_prev + 1.0) DESC, item)
             |      AS rk
             |  FROM j)
             |SELECT period, rk, item, n, n_prev,
             |  ROUND(ratio, 6) AS ratio
             |FROM r WHERE rk <= 5 ORDER BY period, rk""".stripMargin)),

    // Personalized PageRank: teleport confined to a seed customer set
    // over the q98 purchase graph — ranks measure seed proximity;
    // unreachable nodes sit at 0. Oracle unrolls the same 5 seeded
    // power iterations (materialized per round like q98).
    QueryDef("q212_personalized_pagerank",
      (s, d) => {
        val edges = table(s, d, "lineitem")
          .join(table(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 100000L).as("dst"))
        val seeds = table(s, d, "customer")
          .where(col("c_custkey") % 50 === 0)
          .select(col("c_custkey").as("node"))
        graft.ops.Graph.pageRank(edges, iters = 5, damping = 0.85,
            seeds = Some(seeds))
          .select(col("node"), round(col("rank"), 9).as("rank"))
          .orderBy("node")
      },
      Some {
        val iter = (k: Int) => {
          val p = s"r${k - 1}"
          s"""r$k AS MATERIALIZED (
             |  SELECT nodes.node, nodes.deg, nodes.s,
             |    (1 - 0.85) * nodes.s + 0.85 * (COALESCE(c.contrib, 0)
             |      + d.mass * nodes.s) AS rank
             |  FROM nodes
             |  CROSS JOIN (SELECT COALESCE(SUM(rank), 0) AS mass
             |              FROM $p WHERE deg = 0) d
             |  LEFT JOIN (SELECT e.dst AS node,
             |               SUM(r.rank / r.deg) AS contrib
             |             FROM e JOIN $p r ON e.src = r.node GROUP BY 1) c
             |    ON nodes.node = c.node)"""
        }
        (s"""WITH e AS MATERIALIZED (
            |  SELECT DISTINCT o.o_custkey AS src, 100000 + l.l_suppkey AS dst
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
            |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
            |sd AS (SELECT DISTINCT c_custkey AS node FROM customer
            |  WHERE c_custkey % 50 = 0),
            |n0 AS MATERIALIZED (
            |  SELECT n.node, COALESCE(deg.deg, 0) AS deg,
            |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
            |  FROM (SELECT src AS node FROM e
            |        UNION SELECT dst FROM e) n
            |  LEFT JOIN deg ON n.node = deg.src
            |  LEFT JOIN sd ON n.node = sd.node),
            |ns AS (SELECT CAST(SUM(is_seed) AS DOUBLE) AS k FROM n0),
            |nodes AS MATERIALIZED (
            |  SELECT node, deg,
            |    CASE WHEN is_seed = 1 THEN 1.0 / ns.k ELSE 0.0 END AS s
            |  FROM n0, ns),
            |r0 AS MATERIALIZED (
            |  SELECT node, deg, s, s AS rank FROM nodes),
            |""" + (1 to 5).map(iter).mkString(",\n") + """
            |SELECT node, ROUND(rank, 9) AS rank FROM r5
            |ORDER BY node""").stripMargin
      }),

    // BPE at production merge count: the corpus (documents word-BIGRAMS
    // joined by '_', a ~900-word derived vocabulary rich enough to
    // sustain 1000 real merges) is scanned ONCE for the
    // content-hash-sampled word-frequency table; the 1000 greedy merge
    // rounds run on the driver. The oracle replays the identical loop
    // as ONE recursive CTE carrying the evolving vocabulary, so the
    // full 1000-step merge sequence is hash-checked.
    QueryDef("q213_bpe_local",
      (s, d) => {
        val docsB = table(s, d, "documents")
          .select(filter(split(col("text"), " "),
            x => length(x) > 0).as("l"))
          .where(size(col("l")) >= 2)
          .select(array_join(expr(
            "transform(sequence(1, size(l) - 1), i -> " +
              "concat(element_at(l, i), '_', element_at(l, i + 1)))"),
            " ").as("text"))
          // text is an EXPENSIVE DERIVED column here: left lazy, the
          // trainer's md5 sample gate pushes below the projection and
          // the bigram-construction chain re-evaluates per consumer
          // (measured 3.7 s vs 0.6 s for one evaluation at sf0.1) —
          // materialize the synthesized corpus once (guide §7.2:
          // duplicated subtrees; computed from parquet every run, so
          // nothing persists across bench/oracle invocations)
          .localCheckpoint(true)
        TextAnalysis.bpeTrain(docsB, 1000, sampleFraction = 0.5,
          maxVocab = 20000)
      },
      Some(bpeLocalOracleSql(1000, 0.5, maxVocab = 20000))),

    // Fellegi-Sunter EM refinement over q196's blocked register pair:
    // per-field m/u and the prevalence lambda fitted by 5 EM rounds on
    // the collapsed agreement-pattern grain (<= 2^3 rows). The oracle
    // unrolls every iteration with ordered struct folds, so the full
    // float trajectory is replayed bit-for-bit before rounding.
    QueryDef("q215_linkage_em",
      (s, d) => {
        val cust = table(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_k"),
          expr("right(c_name, 1)").as("nd"))
        Linkage.linkageEm(
            cust.where(col("c_custkey") <= 500),
            cust.where(col("c_custkey") > 500 && col("c_custkey") <= 1000),
            Seq("c_nationkey"), Seq("seg", "bal_k", "nd"), iters = 5)
          .select(col("field"), round(col("m"), 9).as("m"),
            round(col("u"), 9).as("u"),
            round(col("w_agree"), 6).as("w_agree"),
            round(col("w_disagree"), 6).as("w_disagree"),
            round(col("lambda"), 9).as("lambda"))
          .orderBy("field")
      },
      Some(linkageEmOracleSql(5))),

    // k-centers at a small batch: same greedy farthest-point selection
    // as q172 (the batch size never changes the output, so the oracle
    // is q172's unrolled selection), but k=8 at batch=3 exercises
    // multiple batch rounds with mid-batch threshold stops.
    QueryDef("q216_kcenters_batched",
      (s, d) => Similarity.kCenters(table(s, d, "embeddings"),
          8, batch = 3)
        .select(col("rk"), col("vec_id"), round(col("d2"), 5).as("d2"))
        .orderBy("rk"),
      Some(kCentersOracleSql(8))),

    // Zipf-hot salted join: 80% of lineitem rows collapse onto ONE hot
    // key (the worst single-key skew an equi-join meets), joined to a
    // bounded dim through Skew.saltedJoin so the hot key spreads over 8
    // salt sub-keys instead of one straggler task. Results are
    // identical to the plain join (salting only reroutes the shuffle —
    // SkewSpec pins the equivalence, PlanShapeSpec pins the salted
    // exchange), so the oracle is the plain join + aggregate. In the
    // scale rehearsal this entry ratio-checks the salted path at 10x
    // data like every other plan claim.
    QueryDef("q217_skew_join",
      (s, d) => {
        import s.implicits._
        val fact = table(s, d, "lineitem").select(
          when(col("l_partkey") % 5 =!= 0, lit(0L))
            .otherwise(col("l_partkey")).as("key"),
          col("l_quantity"))
        val dim = table(s, d, "part")
          .where(col("p_partkey") % 5 === 0 && col("p_partkey") > 0)
          .select(col("p_partkey").as("key"),
            substring(col("p_name"), 1, 1).as("grp"))
          .unionByName(Seq((0L, "HOT")).toDF("key", "grp"))
        Skew.saltedJoin(fact, dim, "key", salt = 8)
          .groupBy("grp")
          .agg(count(lit(1)).as("n"),
            round(sum("l_quantity"), 4).as("total_qty"))
          .orderBy("grp")
      },
      Some("""WITH fact AS (SELECT CASE WHEN l_partkey % 5 <> 0 THEN 0
             |    ELSE l_partkey END AS key, l_quantity
             |  FROM lineitem),
             |dim AS (SELECT p_partkey AS key,
             |    substr(p_name, 1, 1) AS grp
             |  FROM part WHERE p_partkey % 5 = 0 AND p_partkey > 0
             |  UNION ALL SELECT 0, 'HOT')
             |SELECT grp, COUNT(*) AS n,
             |  ROUND(SUM(l_quantity), 4) AS total_qty
             |FROM fact JOIN dim USING (key)
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // Quantile normalization across sources: each source's n_chars
    // distribution mapped onto the GLOBAL one — the score-calibration
    // step before mixing corpora whose quality scales disagree. Integer
    // CDF steps per the ksDrift discipline; the mapping is resolved by
    // ONE interleaved ordered scan of the two step functions, so no
    // float equality is load-bearing. The oracle replays the same scan
    // with FIRST_VALUE ... IGNORE NULLS over the same (key, tag, gv)
    // order.
    QueryDef("q219_quantile_normalize",
      (s, d) => graft.ops.Profile.quantileNormalize(
          table(s, d, "documents"), "source", "n_chars")
        .select(col("source"), col("v"), round(col("q"), 6).as("q"),
          col("v_norm"))
        .orderBy("source", "v"),
      Some("""WITH rows_ AS (SELECT source,
             |    CAST(n_chars AS BIGINT) AS v FROM documents),
             |src AS (SELECT source, v, COUNT(*) AS c
             |  FROM rows_ GROUP BY 1, 2),
             |scdf AS (SELECT source, v,
             |    CAST(SUM(c) OVER (PARTITION BY source ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             |      / SUM(c) OVER (PARTITION BY source) AS q
             |  FROM src),
             |gcdf AS (SELECT v AS gv,
             |    CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |      AS DOUBLE) / SUM(c) OVER () AS g
             |  FROM (SELECT v, COUNT(*) AS c FROM rows_ GROUP BY 1)),
             |u AS (SELECT q AS key, 0 AS tag, source, v,
             |    CAST(NULL AS BIGINT) AS gv FROM scdf
             |  UNION ALL
             |  SELECT g, 1, CAST(NULL AS VARCHAR),
             |    CAST(NULL AS BIGINT), gv FROM gcdf),
             |scan AS (SELECT *, FIRST_VALUE(gv IGNORE NULLS) OVER (
             |    ORDER BY key, tag, gv
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |    AS v_norm
             |  FROM u)
             |SELECT source, v, ROUND(key, 6) AS q, v_norm
             |FROM scan WHERE tag = 0
             |ORDER BY source, v""".stripMargin)),

    // Equi-width histogram per group with EVERY bucket emitted (empty
    // ones included — a gap is a finding): lineitem prices per return
    // flag, 12 buckets over each group's own range. Bucket arithmetic
    // is one IEEE divide + floor, identical on both engines.
    QueryDef("q220_histogram",
      (s, d) => graft.ops.Profile.histogram(
          table(s, d, "lineitem").withColumn("cents",
            round(col("l_extendedprice") * 100).cast("long")),
          "l_returnflag", "cents", bins = 12)
        .select(col("group"), col("bin"), round(col("lo"), 4).as("lo"),
          round(col("hi"), 4).as("hi"), col("n_bin"),
          round(col("share"), 6).as("share"))
        .orderBy("group", "bin"),
      Some("""WITH rows_ AS (SELECT l_returnflag AS grp,
             |    CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             |      AS DOUBLE) AS v
             |  FROM lineitem),
             |b AS (SELECT grp, MIN(v) AS vmin, MAX(v) AS vmax,
             |    COUNT(*) AS n, (MAX(v) - MIN(v)) / 12.0 AS width
             |  FROM rows_ GROUP BY 1),
             |cnt AS (SELECT r.grp,
             |    CASE WHEN b.width = 0 THEN 0
             |      ELSE LEAST(CAST(FLOOR((r.v - b.vmin) / b.width)
             |        AS INTEGER), 11) END AS bin,
             |    COUNT(*) AS n_bin
             |  FROM rows_ r JOIN b ON b.grp = r.grp GROUP BY 1, 2),
             |grid AS (SELECT b.grp, g.bin, b.vmin, b.vmax, b.width, b.n
             |  FROM b CROSS JOIN (SELECT UNNEST(RANGE(0, 12)) AS bin) g)
             |SELECT grid.grp AS "group", CAST(grid.bin AS INTEGER) AS bin,
             |  ROUND(grid.vmin + grid.bin * grid.width, 4) AS lo,
             |  ROUND(CASE WHEN grid.bin = 11 THEN grid.vmax
             |    ELSE grid.vmin + (grid.bin + 1) * grid.width END, 4)
             |    AS hi,
             |  COALESCE(cnt.n_bin, 0) AS n_bin,
             |  ROUND(CAST(COALESCE(cnt.n_bin, 0) AS DOUBLE) / grid.n, 6)
             |    AS share
             |FROM grid LEFT JOIN cnt ON cnt.grp = grid.grp
             |  AND cnt.bin = grid.bin
             |ORDER BY "group", bin""".stripMargin)),

    // Leakage-safe cluster-aware split: exact-dup clusters (min doc_id
    // per md5(text) group) all land in ONE split because the draw
    // hashes the CLUSTER id, not the text — the invariant the entry
    // certifies in-band: max_splits_per_cluster is 1 by construction
    // and would read > 1 if any cluster straddled a boundary.
    QueryDef("q221_cluster_split",
      (s, d) => {
        val docs = table(s, d, "documents")
        val cl = docs.select(col("doc_id"), md5(col("text")).as("h"))
          .join(docs.groupBy(md5(col("text")).as("h"))
            .agg(min("doc_id").as("cluster_id")), "h")
          .select("doc_id", "cluster_id")
        val split = graft.ops.Sampling.clusterAwareSplit(docs, cl,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val keyed = split.join(cl, "doc_id")
        val mx = keyed.groupBy("cluster_id")
          .agg(countDistinct("split").as("nsp"))
          .agg(max("nsp").as("max_splits_per_cluster"))
        keyed.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("cluster_id").as("n_clusters"))
          .crossJoin(broadcast(mx))
          .orderBy("split")
      },
      Some(s"""WITH cl AS (SELECT doc_id, MIN(doc_id) OVER (
              |    PARTITION BY md5(text)) AS cluster_id
              |  FROM documents),
              |sp AS (SELECT doc_id, cluster_id,
              |    CASE WHEN ${drawSqlOn("csplit:",
                     "CAST(cluster_id AS VARCHAR)")} < 0.8 THEN 'train'
              |      WHEN ${drawSqlOn("csplit:",
                     "CAST(cluster_id AS VARCHAR)")} < 0.9 THEN 'val'
              |      ELSE 'test' END AS split
              |  FROM cl),
              |mx AS (SELECT MAX(nsp) AS max_splits_per_cluster
              |  FROM (SELECT cluster_id, COUNT(DISTINCT split) AS nsp
              |    FROM sp GROUP BY 1))
              |SELECT split, COUNT(*) AS n_docs,
              |  COUNT(DISTINCT cluster_id) AS n_clusters,
              |  mx.max_splits_per_cluster
              |FROM sp, mx GROUP BY 1, 4 ORDER BY 1""".stripMargin)),

    // Long-form reshape (unpivot/melt): lineitem's three measures into
    // (measure, val) rows — the §2.8-adjacent relational surface Spark
    // ships as Dataset.unpivot and a wide-metrics table needs before
    // grouped profiling. One narrow 1→3 expansion, then a tiny agg.
    QueryDef("q222_unpivot_measures",
      (s, d) => table(s, d, "lineitem")
        .unpivot(Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")), "measure", "val")
        .groupBy("l_returnflag", "measure")
        .agg(count(lit(1)).as("n"), round(sum("val"), 4).as("total"),
          round(avg("val"), 6).as("mean"))
        .orderBy("l_returnflag", "measure"),
      Some("""WITH long_ AS (
             |  SELECT l_returnflag, 'l_quantity' AS measure,
             |    l_quantity AS val FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice
             |  FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_discount', l_discount
             |  FROM lineitem)
             |SELECT l_returnflag, measure, COUNT(*) AS n,
             |  ROUND(SUM(val), 4) AS total, ROUND(AVG(val), 6) AS mean
             |FROM long_ GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXACT all-pairs Jaccard with the AllPairs/PPJoin prefix filter —
    // identical semantics to q41's quadratic formulation (the oracle IS
    // that formulation, ungated), but candidates come only from each
    // doc's rarest-gram prefix, so the quadratic step never touches a
    // stop-word bucket. q41 had to gate its input (doc_id < 6000);
    // this entry runs the WHOLE corpus — that difference is the point.
    QueryDef("q223_prefix_filter_join",
      (s, d) => Dedup.prefixFilterPairs(table(s, d, "documents"), 3, 0.7)
        .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id1", "id2"),
      Some(s"""WITH ${shinglesSql()},
              |sizes AS (SELECT id, COUNT(*) n_sh FROM sh GROUP BY 1),
              |inter AS (SELECT a.id id1, b.id id2, COUNT(*) n_common
              |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              |          GROUP BY 1, 2)
              |SELECT id1, id2,
              |  ROUND(CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common), 4)
              |    AS jaccard
              |FROM inter
              |JOIN sizes na ON na.id = id1 JOIN sizes nb ON nb.id = id2
              |WHERE CAST(n_common AS DOUBLE) / (na.n_sh + nb.n_sh - n_common) >= 0.7
              |ORDER BY 1, 2""".stripMargin)),

    // Poisson-bootstrap CI for each source's mean doc length: one pass,
    // md5-seeded Poisson(1) resample counts per (doc, replica), replica
    // means from exact integer sums, percentile interval from the
    // sorted replica means. The oracle replays the identical draw
    // ladder and index arithmetic, so the interval hash-matches.
    QueryDef("q224_bootstrap_ci",
      (s, d) => graft.ops.Profile.bootstrapCI(table(s, d, "documents"),
          "source", "n_chars", "doc_id", replicas = 100, alpha = 0.05)
        .select(col("group"), col("n"), round(col("mean"), 6).as("mean"),
          col("m"), round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("group"),
      Some(s"""WITH rows_ AS (SELECT source AS grp,
              |    CAST(n_chars AS BIGINT) AS v,
              |    CAST(doc_id AS VARCHAR) AS id FROM documents),
              |drawn AS (SELECT grp, v, r,
              |    ${drawSqlOn("boot:", "id || ':' || CAST(r AS VARCHAR)")}
              |      AS u
              |  FROM rows_, UNNEST(generate_series(0, 99)) t(r)),
              |rep AS (SELECT grp, r, SUM(c * v) AS sv, SUM(c) AS sc
              |  FROM (SELECT grp, v, r,
              |      CASE WHEN u < 0.3678794412 THEN 0
              |        WHEN u < 0.7357588823 THEN 1
              |        WHEN u < 0.9196986029 THEN 2
              |        WHEN u < 0.9810118431 THEN 3
              |        WHEN u < 0.9963401532 THEN 4
              |        WHEN u < 0.9994058152 THEN 5
              |        WHEN u < 0.9999167589 THEN 6
              |        WHEN u < 0.9999897509 THEN 7 ELSE 8 END AS c
              |    FROM drawn) x
              |  GROUP BY 1, 2 HAVING SUM(c) > 0),
              |means AS (SELECT grp, CAST(sv AS DOUBLE) / sc AS mean_r,
              |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY
              |      CAST(sv AS DOUBLE) / sc) AS rn,
              |    COUNT(*) OVER (PARTITION BY grp) AS m
              |  FROM rep),
              |stats AS (SELECT grp, COUNT(*) AS n,
              |    CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean
              |  FROM rows_ GROUP BY 1)
              |SELECT s.grp AS "group", s.n, ROUND(s.mean, 6) AS mean,
              |  lo.m, ROUND(lo.mean_r, 6) AS ci_lo,
              |  ROUND(hi.mean_r, 6) AS ci_hi
              |FROM stats s
              |JOIN means lo ON lo.grp = s.grp
              |  AND lo.rn = FLOOR(0.025 * (lo.m - 1)) + 1
              |JOIN means hi ON hi.grp = s.grp
              |  AND hi.rn = FLOOR(0.975 * (hi.m - 1)) + 1
              |ORDER BY 1""".stripMargin)),

    // Golden-record survivorship over planted near-dup variants: every
    // 17th doc gets a re-hosted copy (upper-cased, punctuation-suffixed,
    // different source, n_chars+3); normalized-hash clusters then merge
    // back to ONE record per entity with per-field rules — source/lang
    // by mode (the 1-1 source tie resolves to the smallest string),
    // n_chars by numeric max (the variant wins), text by longest.
    QueryDef("q225_golden_records",
      (s, d) => {
        val docs = table(s, d, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars")
        val variants = docs.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(upper(col("text")), lit(" !!")).as("text"),
            col("lang"), lit("mirror").as("source"),
            (col("n_chars") + 3).as("n_chars"))
        val reg = docs.unionByName(variants)
        val clusters = reg.select(col("doc_id"),
          md5(Dedup.normalizeForDedup(col("text"))).as("cluster_id"))
        Linkage.goldenRecords(reg, clusters, "doc_id",
            Seq("source" -> "mode", "lang" -> "mode",
              "n_chars" -> "max", "text" -> "longest"))
          .select(col("cluster_id"), col("n_records"), col("source"),
            col("lang"), col("n_chars"), col("text"))
          .orderBy("cluster_id")
      },
      Some("""WITH reg AS (
             |  SELECT doc_id, text, lang, source,
             |    CAST(n_chars AS BIGINT) AS n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 3000000, upper(text) || ' !!', lang,
             |    'mirror', n_chars + 3
             |  FROM documents WHERE doc_id % 17 = 0),
             |cl AS (SELECT doc_id,
             |    md5(trim(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))
             |      AS cluster_id FROM reg),
             |r AS (SELECT cl.cluster_id, reg.* FROM reg
             |  JOIN cl USING (doc_id)),
             |melt AS (
             |  SELECT cluster_id, 'source' AS field, source AS value,
             |    'mode' AS rule FROM r
             |  UNION ALL SELECT cluster_id, 'lang', lang, 'mode' FROM r
             |  UNION ALL SELECT cluster_id, 'n_chars',
             |    CAST(n_chars AS VARCHAR), 'max' FROM r
             |  UNION ALL SELECT cluster_id, 'text', text, 'longest'
             |    FROM r),
             |cnt AS (SELECT cluster_id, field, value, rule,
             |    COUNT(*) AS c
             |  FROM melt WHERE value IS NOT NULL GROUP BY 1, 2, 3, 4),
             |keyed AS (SELECT *,
             |    CASE rule WHEN 'mode' THEN -CAST(c AS DOUBLE)
             |      WHEN 'max' THEN -TRY_CAST(value AS DOUBLE)
             |      WHEN 'min' THEN TRY_CAST(value AS DOUBLE)
             |      ELSE -CAST(LENGTH(value) AS DOUBLE) END AS sort_key
             |  FROM cnt
             |  WHERE rule NOT IN ('max', 'min')
             |    OR TRY_CAST(value AS DOUBLE) IS NOT NULL),
             |surv AS (SELECT cluster_id, field, value,
             |    ROW_NUMBER() OVER (PARTITION BY cluster_id, field
             |      ORDER BY sort_key, value) AS rn
             |  FROM keyed),
             |sizes AS (SELECT cluster_id,
             |    COUNT(DISTINCT doc_id) AS n_records
             |  FROM r GROUP BY 1)
             |SELECT s.cluster_id, s.n_records,
             |  MAX(CASE WHEN field = 'source' THEN value END) AS source,
             |  MAX(CASE WHEN field = 'lang' THEN value END) AS lang,
             |  MAX(CASE WHEN field = 'n_chars' THEN value END)
             |    AS n_chars,
             |  MAX(CASE WHEN field = 'text' THEN value END) AS text
             |FROM sizes s JOIN surv ON surv.cluster_id = s.cluster_id
             |  AND rn = 1
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Seasonally-adjusted anomalies: each event's cents value vs the
    // exact lower median of its own hour-of-week cell, residuals gated
    // by a global median/MAD rule. All order statistics run on
    // collapsed (value, count) grains — raw events are never sorted —
    // and everything is 64-bit integer arithmetic, so the flag set
    // hash-replays exactly.
    QueryDef("q226_seasonal_anomalies",
      (s, d) => graft.ops.Profile.seasonalAnomalies(
          eventsMicros(s, d).withColumn("cents",
            round(col("value") * 100).cast("long")),
          "ts_us", "cents", madK = 5)
        .orderBy("id"),
      Some("""WITH base AS (SELECT event_id AS id,
             |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             |    (epoch_us(ts) // 3600000000) % 24 AS hour,
             |    CAST(ROUND(value * 100) AS BIGINT) AS v
             |  FROM events),
             |vc AS (SELECT dow, hour, v, COUNT(*) AS c
             |  FROM base GROUP BY 1, 2, 3),
             |cm AS (SELECT dow, hour, MIN(v) AS cell_median FROM (
             |    SELECT *, SUM(c) OVER (PARTITION BY dow, hour
             |        ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             |      SUM(c) OVER (PARTITION BY dow, hour) AS cn FROM vc)
             |  WHERE cum >= (cn + 1) // 2 GROUP BY 1, 2),
             |resid AS (SELECT b.id, b.dow, b.hour, b.v, cm.cell_median,
             |    b.v - cm.cell_median AS residual
             |  FROM base b JOIN cm USING (dow, hour)),
             |rc AS (SELECT residual, COUNT(*) AS c FROM resid
             |  GROUP BY 1),
             |mr AS (SELECT MIN(residual) AS med_r FROM (
             |    SELECT *, SUM(c) OVER (ORDER BY residual
             |        ROWS UNBOUNDED PRECEDING) AS cum,
             |      SUM(c) OVER () AS n FROM rc)
             |  WHERE cum >= (n + 1) // 2),
             |dc AS (SELECT ABS(residual - med_r) AS d, SUM(c) AS c
             |  FROM rc CROSS JOIN mr GROUP BY 1),
             |md AS (SELECT MIN(d) AS mad FROM (
             |    SELECT *, SUM(c) OVER (ORDER BY d
             |        ROWS UNBOUNDED PRECEDING) AS cum,
             |      SUM(c) OVER () AS n FROM dc)
             |  WHERE cum >= (n + 1) // 2)
             |SELECT id, dow, hour, v, cell_median, residual,
             |  ABS(residual - med_r) AS dev
             |FROM resid CROSS JOIN mr CROSS JOIN md
             |WHERE ABS(residual - med_r) > 5 * mad
             |ORDER BY id""".stripMargin)),

    // Time-weighted average per user over a two-week window: LOCF
    // segments clipped to the window, the last pre-window event opens
    // the series, duplicate-ts ties hold zero time except the last.
    // v·dt sums are exact (decimal vs hugeint); the one divide is the
    // only float.
    QueryDef("q227_time_weighted_avg",
      (s, d) => graft.ops.AsOf.timeWeightedAvg(
          eventsMicros(s, d).withColumn("cents",
            round(col("value") * 100).cast("long")),
          "user_id", "ts_us", "cents",
          startUs = 1704672000000000L, endUs = 1705881600000000L)
        .select(col("key").as("user_id"), col("n_obs"),
          col("covered_us"), round(col("twa"), 6).as("twa"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id AS key, epoch_us(ts) AS ts,
             |    CAST(ROUND(value * 100) AS BIGINT) AS v
             |  FROM events WHERE epoch_us(ts) < 1705881600000000),
             |seg AS (SELECT key, v,
             |    GREATEST(LEAST(COALESCE(LEAD(ts) OVER (
             |        PARTITION BY key ORDER BY ts, v),
             |        1705881600000000), 1705881600000000)
             |      - GREATEST(ts, 1704672000000000), 0) AS dt
             |  FROM b)
             |SELECT key AS user_id,
             |  CAST(SUM(CASE WHEN dt > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_obs,
             |  CAST(SUM(dt) AS BIGINT) AS covered_us,
             |  ROUND(CAST(SUM(v * dt) AS DOUBLE) / SUM(dt), 6) AS twa
             |FROM seg GROUP BY 1 HAVING SUM(dt) > 0
             |ORDER BY 1""".stripMargin)),

    // Deterministic HLL: md5-bucketed register-max sketch whose
    // ESTIMATE hash-verifies (vs q63/q142's DataSketches band checks) —
    // the harmonic denominator is an exact integer sum (hugeint vs
    // decimal), the final expression is fixed-shape float arithmetic
    // written identically on both engines.
    QueryDef("q229_hll_distinct",
      (s, d) => graft.ops.Sketch.hllDistinct(eventsMicros(s, d),
          "event_type", "user_id", logBuckets = 8)
        .select(col("group").as("event_type"), col("present"),
          round(col("estimate"), 4).as("estimate"))
        .orderBy("event_type"),
      Some("""WITH h AS (SELECT event_type AS grp,
             |    md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
             |  FROM events),
             |ranked AS (SELECT grp,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN s = '' THEN 65
             |      ELSE (16 - LENGTH(s)) * 4 +
             |        CASE WHEN substr(s, 1, 1) = '1' THEN 3
             |          WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
             |          WHEN substr(s, 1, 1) IN ('4', '5', '6', '7')
             |            THEN 1
             |          ELSE 0 END + 1 END AS rank
             |  FROM (SELECT grp, hx,
             |      REGEXP_REPLACE(substr(hx, 3, 16), '^0+', '') AS s
             |    FROM h)),
             |regs AS (SELECT grp, bucket, MAX(rank) AS reg
             |  FROM ranked GROUP BY 1, 2),
             |est AS (SELECT grp, COUNT(*) AS present,
             |    CAST(SUM(CAST(POW(2, 65 - reg) AS HUGEINT)) AS DOUBLE)
             |      + (256 - COUNT(*)) * POW(2, 65) AS denom
             |  FROM regs GROUP BY 1)
             |SELECT grp AS event_type, present,
             |  ROUND(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |        * POW(2, 65) / denom <= 2.5 * 256
             |      AND (256 - present) > 0
             |    THEN 256.0 * LN(256.0 / (256 - present))
             |    ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |      * POW(2, 65) / denom END, 4) AS estimate
             |FROM est ORDER BY 1""".stripMargin)),

    // Rolling 7-day distinct users from the SAME deterministic sketch:
    // raw keys shuffle once to the (day, bucket) register grain, every
    // trailing window max-merges 7 fixed-size sketches — q142's scale
    // pattern, upgraded from band-checked to hash-checked.
    QueryDef("q230_hll_rolling",
      (s, d) => graft.ops.Sketch.hllRolling(
          eventsMicros(s, d).withColumn("day",
            expr("ts_us DIV 86400000000")),
          "day", "user_id", windowLen = 7, logBuckets = 8)
        .select(col("period").as("day"), col("present"),
          round(col("estimate"), 4).as("estimate"))
        .orderBy("day"),
      Some("""WITH h AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |    md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
             |  FROM events),
             |ranked AS (SELECT day,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN s = '' THEN 65
             |      ELSE (16 - LENGTH(s)) * 4 +
             |        CASE WHEN substr(s, 1, 1) = '1' THEN 3
             |          WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
             |          WHEN substr(s, 1, 1) IN ('4', '5', '6', '7')
             |            THEN 1
             |          ELSE 0 END + 1 END AS rank
             |  FROM (SELECT day, hx,
             |      REGEXP_REPLACE(substr(hx, 3, 16), '^0+', '') AS s
             |    FROM h)),
             |regs AS (SELECT day, bucket, MAX(rank) AS reg
             |  FROM ranked GROUP BY 1, 2),
             |merged AS (SELECT a.day, r.bucket, MAX(r.reg) AS reg
             |  FROM (SELECT DISTINCT day FROM regs) a
             |  JOIN regs r ON r.day BETWEEN a.day - 6 AND a.day
             |  GROUP BY 1, 2),
             |est AS (SELECT day, COUNT(*) AS present,
             |    CAST(SUM(CAST(POW(2, 65 - reg) AS HUGEINT)) AS DOUBLE)
             |      + (256 - COUNT(*)) * POW(2, 65) AS denom
             |  FROM merged GROUP BY 1)
             |SELECT day, present,
             |  ROUND(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |        * POW(2, 65) / denom <= 2.5 * 256
             |      AND (256 - present) > 0
             |    THEN 256.0 * LN(256.0 / (256 - present))
             |    ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |      * POW(2, 65) / denom END, 4) AS estimate
             |FROM est ORDER BY 1""".stripMargin)),

    // Exact-size weighted sample WITHOUT replacement per source
    // (Efraimidis-Spirakis log keys through the partial top-k
    // aggregator — no per-group window): the oracle replays the same
    // content-hash draw, the same integer-quantized ln(u)/w key, and
    // the same (key DESC, doc_id) tiebreak, so ranks match row-for-row.
    QueryDef("q231_weighted_wor",
      (s, d) => Sampling.weightedSampleWOR(
          table(s, d, "documents"), "source", 20, "n_chars")
        .select(col("doc_id"), col("source"), col("wor_rank"))
        .orderBy("doc_id"),
      Some(s"""WITH r AS (SELECT doc_id, source,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY CAST(round(GREATEST(ln(${drawSql("wor:")}
              |            + 0.5 / 65536.0) / n_chars * 1e12,
              |            -4.6e18), 0)
              |          AS BIGINT) DESC, doc_id) AS wor_rank
              |  FROM documents WHERE n_chars > 0)
              |SELECT doc_id, source, wor_rank FROM r
              |WHERE wor_rank <= 20 ORDER BY doc_id""".stripMargin)),

    // Exact per-key lower quantiles on the collapsed (key, value, count)
    // grain — every reported value is an actual data value, so integral
    // input hash-compares with no interpolation float; the oracle
    // replays the same cumulative ranks and the same epsilon'd ceil.
    QueryDef("q232_exact_quantiles",
      (s, d) => graft.ops.Profile.exactQuantiles(
          table(s, d, "documents"), "lang", "n_chars",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("lang"), col("q"), col("value"))
        .orderBy("lang", "q"),
      Some("""WITH g AS (SELECT lang, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |w AS (SELECT lang, v,
             |    SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
             |    SUM(c) OVER (PARTITION BY lang) AS n FROM g)
             |SELECT lang, q, MIN(v) AS value FROM w,
             |  (SELECT UNNEST([0.1, 0.25, 0.5, 0.75, 0.9]) AS q) qs
             |WHERE cum >= GREATEST(1, CEIL(q * n - 1e-9))
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-key winsorization at exact [5%, 95%] quantiles: clip points
    // are actual data values, the clamp is integer arithmetic, and the
    // corpus moves through ONE equi-join against the key-grain cuts.
    QueryDef("q233_winsorize",
      (s, d) => graft.ops.Profile.winsorize(
          table(s, d, "documents"), "lang", "n_chars", 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("v_clip"))
        .orderBy("doc_id"),
      Some("""WITH g AS (SELECT lang, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |w AS (SELECT lang, v,
             |    SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
             |    SUM(c) OVER (PARTITION BY lang) AS n FROM g),
             |qv AS (SELECT lang, q, MIN(v) AS value FROM w,
             |    (SELECT UNNEST([0.05, 0.95]) AS q) qs
             |  WHERE cum >= GREATEST(1, CEIL(q * n - 1e-9))
             |  GROUP BY 1, 2),
             |cuts AS (SELECT lang,
             |    MIN(CASE WHEN q = 0.05 THEN value END) AS lo,
             |    MIN(CASE WHEN q = 0.95 THEN value END) AS hi
             |  FROM qv GROUP BY 1)
             |SELECT d.doc_id, d.lang, d.n_chars,
             |  LEAST(GREATEST(d.n_chars, c.lo), c.hi) AS v_clip
             |FROM documents d JOIN cuts c USING (lang)
             |ORDER BY doc_id""".stripMargin)),

    // Flesch readability: exact integer word/sentence/syllable counts
    // under a fixed replayable heuristic; the oracle replays the same
    // vowel-group regex, silent-e rule, and fixed-order score formulas,
    // so even the doubles hash-match.
    QueryDef("q234_readability",
      (s, d) => TextAnalysis.readability(
          table(s, d, "documents").select(col("doc_id"),
            // salt in sentence punctuation so n_sentences varies (the
            // synthetic corpus has none): terminate every 7 words
            concat(regexp_replace(col("text"),
              "((?:\\S+ ){6}\\S+) ", "$1. "), lit(".")).as("text")))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), round(col("reading_ease"), 6)
            .as("reading_ease"), round(col("fk_grade"), 6).as("fk_grade"))
        .orderBy("doc_id"),
      Some("""WITH salted AS (SELECT doc_id,
             |    regexp_replace(text, '((?:\S+ ){6}\S+) ', '\1. ', 'g')
             |      || '.' AS text FROM documents),
             |t AS (SELECT doc_id, text,
             |    string_split(text, ' ') AS ws,
             |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
             |      AS n_sentences
             |  FROM salted WHERE text IS NOT NULL
             |    AND strlen(trim(text)) > 0),
             |w AS (SELECT doc_id, n_sentences,
             |    CAST(len(ws) AS BIGINT) AS n_words, UNNEST(ws) AS w
             |  FROM t),
             |s AS (SELECT doc_id, ANY_VALUE(n_sentences) AS n_sentences,
             |    ANY_VALUE(n_words) AS n_words,
             |    CAST(SUM(GREATEST(1,
             |      len(regexp_extract_all(w, '[aeiouy]+')) -
             |      CASE WHEN regexp_matches(w, '[^aeiouy]e$')
             |        THEN 1 ELSE 0 END)) AS BIGINT) AS n_syllables
             |  FROM w GROUP BY doc_id)
             |SELECT doc_id, n_words,
             |  CAST(n_sentences AS BIGINT) AS n_sentences, n_syllables,
             |  ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE)
             |      / n_sentences)
             |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
             |    AS reading_ease,
             |  ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
             |    - 15.59, 6) AS fk_grade
             |FROM s ORDER BY doc_id""".stripMargin)),

    // k-anonymity / l-diversity audit over (segment, nation) quasi-ids
    // with account balance as the sensitive attribute: exact class
    // sizes, exact sensitive diversity, sub-k classes flagged.
    QueryDef("q235_k_anonymity",
      (s, d) => Curation.kAnonymityProfile(table(s, d, "customer"),
          Seq("c_mktsegment", "c_nationkey"), "c_acctbal", k = 5)
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT c_mktsegment, c_nationkey,
             |  CAST(COUNT(*) AS BIGINT) AS class_size,
             |  CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
             |  COUNT(*) < 5 AS at_risk
             |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-user autocorrelation of the cents stream at lags 1..3: both
    // covariance numerators are exact integer sums (decimal vs
    // hugeint); the oracle pairs rows by row-number self-join — the
    // exact relational replay of the engine's lag windows — and mirrors
    // the double arithmetic operation-for-operation.
    QueryDef("q236_acf",
      (s, d) => graft.ops.Profile.acfProfile(
          eventsMicros(s, d).withColumn("cents",
            round(col("value") * 100).cast("long")),
          "user_id", "ts_us", "cents", maxLag = 3)
        .select(col("key").as("user_id"), col("lag"), col("n_pairs"),
          round(col("acf"), 6).as("acf"))
        .orderBy("user_id", "lag"),
      Some("""WITH b AS (SELECT user_id AS key, event_id,
             |    epoch_us(ts) AS tu,
             |    CAST(ROUND(value * 100) AS BIGINT) AS v
             |  FROM events),
             |r AS (SELECT key, v, ROW_NUMBER() OVER (
             |    PARTITION BY key ORDER BY tu, event_id) AS rn FROM b),
             |p AS (SELECT a.key, l.lag, a.v AS x, c.v AS y
             |  FROM r a
             |  CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS lag) l
             |  JOIN r c ON c.key = a.key AND c.rn = a.rn - l.lag),
             |agg AS (SELECT key, lag,
             |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
             |    SUM(y * y) AS syy, SUM(x * y) AS sxy
             |  FROM p GROUP BY 1, 2)
             |SELECT key AS user_id, lag, n_pairs,
             |  ROUND(CASE WHEN n_pairs >= 2
             |      AND n_pairs * sxx - sx * sx > 0
             |      AND n_pairs * syy - sy * sy > 0
             |    THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             |      / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
             |        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
             |    ELSE NULL END, 6) AS acf
             |FROM agg ORDER BY 1, 2""".stripMargin)),

    // Exact second-moment (Gram/covariance) profile of the embedding
    // corpus: components quantized ONCE (round(v*1e6), the SQL ROUND
    // rule), every sum exact integer arithmetic — the one-pass
    // distributed half of PCA/whitening. 2080 upper-triangle pairs at
    // d=64; the oracle replays quantization, sums, and the one double
    // divide operation-for-operation (hugeint vs decimal numerator).
    QueryDef("q237_gram_profile",
      (s, d) => graft.ops.Moments.gramProfile(
          table(s, d, "embeddings"), d = 64)
        .select(col("i"), col("j"), col("n"), col("s_i"), col("s_j"),
          col("s_ij"), round(col("cov"), 9).as("cov"))
        .orderBy("i", "j"),
      Some("""WITH e AS (SELECT vec_id, i,
             |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1e6)
             |      AS BIGINT) AS q
             |  FROM embeddings, UNNEST(generate_series(1, 64)) t(i)),
             |nn AS (SELECT COUNT(*) AS n FROM embeddings),
             |si AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s
             |  FROM e GROUP BY 1),
             |pair AS (SELECT a.i AS i, b.i AS j,
             |    CAST(SUM(a.q * b.q) AS BIGINT) AS s_ij
             |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
             |  GROUP BY 1, 2)
             |SELECT p.i, p.j, CAST(nn.n AS BIGINT) AS n, x.s AS s_i,
             |  y.s AS s_j, p.s_ij,
             |  ROUND(CAST(CAST(nn.n AS HUGEINT) * p.s_ij
             |      - CAST(x.s AS HUGEINT) * y.s AS DOUBLE)
             |    / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * 1e12),
             |    9) AS cov
             |FROM pair p, nn
             |JOIN si x ON x.i = p.i JOIN si y ON y.i = p.j
             |ORDER BY 1, 2""".stripMargin)),

    // Encoding-anomaly (mojibake) detection: documents salted with
    // deterministic charset damage (the corpus itself is clean — the
    // q88 salting discipline), counts replayed by the same four regex
    // classes in RE2 syntax.
    QueryDef("q238_encoding_anomalies",
      (s, d) => Curation.encodingAnomalies(
          table(s, d, "documents").select(col("doc_id"), concat(
            col("text"),
            when(col("doc_id") % 7 === 0, lit(" cafÃ©"))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit(" x�y"))
              .otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit(" a\u0085b\u0001c")).otherwise(lit(""))).as("text")))
        .orderBy("doc_id"),
      Some("""WITH salted AS (SELECT doc_id, text
             |    || CASE WHEN doc_id % 7 = 0
             |      THEN ' caf' || chr(195) || chr(169) ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0
             |      THEN ' x' || chr(65533) || 'y' ELSE '' END
             |    || CASE WHEN doc_id % 13 = 0
             |      THEN ' a' || chr(133) || 'b' || chr(1) || 'c'
             |      ELSE '' END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\x{FFFD}'))
             |    AS BIGINT) AS n_replacement,
             |  CAST(len(regexp_extract_all(text,
             |    '[\x{0080}-\x{009F}]')) AS BIGINT) AS n_c1,
             |  CAST(len(regexp_extract_all(text,
             |    '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]')) AS BIGINT)
             |    AS n_double_utf8,
             |  CAST(len(regexp_extract_all(text,
             |    '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
             |    AS BIGINT) AS n_c0,
             |  len(regexp_extract_all(text, '\x{FFFD}'))
             |    + len(regexp_extract_all(text, '[\x{0080}-\x{009F}]'))
             |    + len(regexp_extract_all(text,
             |      '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]'))
             |    + len(regexp_extract_all(text,
             |      '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]'))
             |    > 0 AS suspect
             |FROM salted ORDER BY doc_id""".stripMargin)),

    // k-hop BFS distances from a seed set over the co-purchase graph
    // (the blast-radius query): frontier-joined layers in the engine,
    // a recursive CTE with MIN(dist) in the oracle — both are the BFS
    // layer number, deterministic regardless of traversal order.
    QueryDef("q239_khop_bfs",
      (s, d) => {
        val li = table(s, d, "lineitem")
          .where(col("l_partkey") < 2000)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val e = li.as("a").join(li.as("b"), Seq("l_orderkey"))
          .where(col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        val seeds = table(s, d, "part").where(col("p_partkey") < 20)
          .select(col("p_partkey").as("node"))
        graft.ops.Graph.kHopDistances(e, seeds, maxHops = 3)
          .orderBy("node")
      },
      Some("""WITH RECURSIVE li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
             |  WHERE l_partkey < 2000),
             |e0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |  WHERE a.l_partkey < b.l_partkey),
             |e AS (SELECT DISTINCT src, dst FROM (
             |  SELECT src, dst FROM e0
             |  UNION ALL SELECT dst, src FROM e0)),
             |bfs(node, dist) AS (
             |  SELECT CAST(p_partkey AS BIGINT), 0 FROM part
             |  WHERE p_partkey < 20
             |  UNION
             |  SELECT e.dst, b.dist + 1 FROM bfs b
             |  JOIN e ON e.src = b.node WHERE b.dist < 3)
             |SELECT node, MIN(dist) AS dist FROM bfs
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Join-cardinality estimator on the lineitem self-join by part:
    // exact predicted output rows from collapsed key-grain counts plus
    // the top skew contributors — the plan-or-veto profile run BEFORE
    // a suspicious join.
    QueryDef("q240_join_cardinality",
      (s, d) => {
        val li = table(s, d, "lineitem")
        graft.ops.Profile.joinCardinality(li, li,
            "l_partkey", "l_partkey", topK = 15)
          .select(col("rk"), col("key"), col("n_left"), col("n_right"),
            col("pairs"), col("n_shared_keys"), col("total_pairs"),
            round(col("share"), 9).as("share"))
          .orderBy("rk")
      },
      Some("""WITH c AS (SELECT l_partkey AS key,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1),
             |per AS (SELECT a.key, a.n AS n_left, b.n AS n_right,
             |    a.n * b.n AS pairs
             |  FROM c a JOIN c b USING (key)),
             |tot AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
             |    CAST(COUNT(*) AS BIGINT) AS n_shared_keys FROM per),
             |r AS (SELECT key, n_left, n_right, pairs,
             |    ROW_NUMBER() OVER (ORDER BY pairs DESC, key) AS rk
             |  FROM per)
             |SELECT rk, key, n_left, n_right, pairs, n_shared_keys,
             |  total_pairs,
             |  ROUND(CAST(pairs AS DOUBLE)
             |    / CAST(total_pairs AS DOUBLE), 9) AS share
             |FROM r, tot WHERE rk <= 15 ORDER BY rk""".stripMargin)),

    // Tokenizer fertility per language: subword tokens per whitespace
    // word under the corpus's own 6-merge BPE — the multilingual
    // fairness metric (a language the tokenizer fragments pays more
    // sequence length for the same text). Same merge table and apply
    // fold as q144; the oracle re-derives both and aggregates by lang.
    QueryDef("q241_tokenizer_fertility",
      (s, d) => {
        val docs = table(s, d, "documents")
        val merges = TextAnalysis.bpeTrain(docs, 6).orderBy("step")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        docs
          .select(col("lang"),
            explode(filter(split(col("text"), " "),
              w => length(w) > 0)).as("w"))
          .select(col("lang"),
            size(TextAnalysis.bpeApply(col("w"), merges)).as("nt"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(col("nt")).cast("long").as("n_tokens"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            round(col("n_tokens").cast("double") / col("n_words"), 9)
              .as("fertility"))
          .orderBy("lang")
      },
      Some(bpeFertilityOracleSql(6))),

    // Native jaro_winkler expression over brand-blocked part-name
    // pairs: the Census string comparator as a codegen'd Catalyst
    // expression, scored identically (probed semantics: 0.7 boost
    // threshold, prefix cap 4, empty side -> 0) by DuckDB's built-in.
    QueryDef("q242_jaro_winkler_pairs",
      (s, d) => {
        import graft.functions.jaro_winkler
        val p = table(s, d, "part").where(col("p_partkey") < 300)
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        p.as("a").join(p.as("b"), Seq("p_brand"))
          .where(col("a.p_partkey") < col("b.p_partkey"))
          .select(col("p_brand"),
            col("a.p_partkey").as("id1"),
            col("b.p_partkey").as("id2"),
            round(jaro_winkler(col("a.p_name"), col("b.p_name")), 6)
              .as("jw"))
          .where(col("jw") >= 0.8)
          .orderBy("id1", "id2")
      },
      Some("""WITH p AS (SELECT p_partkey, p_brand, p_name FROM part
             |  WHERE p_partkey < 300)
             |SELECT a.p_brand, a.p_partkey AS id1, b.p_partkey AS id2,
             |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             |    AS jw
             |FROM p a JOIN p b ON a.p_brand = b.p_brand
             |  AND a.p_partkey < b.p_partkey
             |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
             |  >= 0.8
             |ORDER BY 2, 3""".stripMargin)),

    // NDCG@5 of the q116 BM25 ranking against deterministic graded
    // relevance (query-doc distinct-term overlap): positional-discount
    // sums as ordered folds, ideal permutation tie-broken by retrieved
    // rank so even the float summation order replays. The oracle
    // extends q116's shared ranked chain.
    QueryDef("q243_ndcg",
      (s, d) => {
        val docs = table(s, d, "documents")
        val queries = docs
          .where(col("doc_id") % 250 === 0 && col("doc_id") < 100000)
          .select(col("doc_id").as("query_id"), col("text"))
        val ranked = TextAnalysis.bm25TopK(docs, queries, k = 5)
        val rel = ranked
          .join(queries.select(col("query_id"),
            split(col("text"), " ").as("qt")), "query_id")
          .join(docs.select(col("doc_id"),
            split(col("text"), " ").as("dt")), "doc_id")
          .withColumn("rel", size(array_intersect(
            array_distinct(col("qt")), array_distinct(col("dt"))))
            .cast("long"))
          .select("query_id", "rk", "rel")
        TextAnalysis.ndcgAtK(rel, 5)
          .select(col("query_id"), round(col("dcg"), 6).as("dcg"),
            round(col("idcg"), 6).as("idcg"),
            round(col("ndcg"), 6).as("ndcg"))
          .orderBy("query_id")
      },
      Some(bm25OracleCtes + """
        |, top AS (SELECT query_id, doc_id, rk FROM r WHERE rk <= 5),
        |relj AS (SELECT t.query_id, t.rk,
        |    CAST(len(list_intersect(
        |      list_distinct(string_split(qd.text, ' ')),
        |      list_distinct(string_split(dd.text, ' ')))) AS BIGINT)
        |      AS rel
        |  FROM top t JOIN documents qd ON qd.doc_id = t.query_id
        |  JOIN documents dd ON dd.doc_id = t.doc_id),
        |ir AS (SELECT query_id, rk, rel, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, rk ASC) AS irk
        |  FROM relj),
        |g AS (SELECT query_id,
        |    list_reduce(list(CAST(rel AS DOUBLE) / (ln(rk + 1) / ln(2))
        |      ORDER BY rk), (a, b) -> a + b) AS dcg,
        |    list_reduce(list(CAST(rel AS DOUBLE) / (ln(irk + 1) / ln(2))
        |      ORDER BY irk), (a, b) -> a + b) AS idcg
        |  FROM ir GROUP BY 1)
        |SELECT query_id, ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
        |  ROUND(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg
        |FROM g ORDER BY query_id""".stripMargin)),

    // Population Stability Index of each source's doc-length
    // distribution vs src1: integer-exact equi-width binning over the
    // reference bounds, full bin grid, smoothed densities, ordered
    // fold — the reference scores exactly 0.
    QueryDef("q244_psi_drift",
      (s, d) => graft.ops.Profile.psiDrift(
          table(s, d, "documents"), "source", "n_chars",
          refGroup = "src1", bins = 10)
        .select(col("grp").as("source"), col("n"),
          round(col("psi"), 9).as("psi"))
        .orderBy("source"),
      Some("""WITH base AS (SELECT source AS grp, n_chars AS v
             |  FROM documents),
             |bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base
             |  WHERE grp = 'src1'),
             |binned AS (SELECT grp,
             |    CAST(LEAST(9, GREATEST(0,
             |      ((v - lo) * 10) // (hi - lo + 1))) AS INT) AS bin,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM base, bounds GROUP BY 1, 2),
             |grid AS (SELECT grp, t.b AS bin
             |  FROM (SELECT DISTINCT grp FROM binned),
             |    UNNEST(generate_series(0, 9)) t(b)),
             |dense AS (SELECT g.grp, g.bin, COALESCE(c, 0) AS c
             |  FROM grid g LEFT JOIN binned b
             |    ON b.grp = g.grp AND b.bin = g.bin),
             |wn AS (SELECT grp, bin, c,
             |    SUM(c) OVER (PARTITION BY grp) AS n FROM dense),
             |ref AS (SELECT bin, c AS rc, n AS rn FROM wn
             |  WHERE grp = 'src1'),
             |t AS (SELECT w.grp, w.bin, w.n,
             |    ((w.c + 0.5) / (w.n + 5.0) - (r.rc + 0.5) / (r.rn + 5.0))
             |      * ln(((w.c + 0.5) / (w.n + 5.0))
             |        / ((r.rc + 0.5) / (r.rn + 5.0))) AS term
             |  FROM wn w JOIN ref r USING (bin))
             |SELECT grp AS source, CAST(MAX(n) AS BIGINT) AS n,
             |  ROUND(list_reduce(list(term ORDER BY bin),
             |    (a, b) -> a + b), 9) AS psi
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Time-to-convert distribution: first view -> first purchase
    // latency per user, exact [p50, p90, p99] per weekly cohort of the
    // first view — funnel latency percentiles on the collapsed
    // exactQuantiles grain, all integer microsecond arithmetic.
    QueryDef("q245_time_to_convert",
      (s, d) => {
        val ev = eventsMicros(s, d)
        val v0 = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t0"))
        val p1 = ev.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts_us").as("t1"))
        val lat = v0.join(p1, "user_id")
          .where(col("t1") >= col("t0"))
          .select(expr("t0 DIV 604800000000").as("cohort"),
            (col("t1") - col("t0")).as("latency_us"))
        graft.ops.Profile.exactQuantiles(lat, "cohort", "latency_us",
            Seq(0.5, 0.9, 0.99))
          .select(col("key").as("cohort"), col("q"), col("value"))
          .orderBy("cohort", "q")
      },
      Some("""WITH v0 AS (SELECT user_id, MIN(epoch_us(ts)) AS t0
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |p1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |lat AS (SELECT t0 // 604800000000 AS cohort,
             |    t1 - t0 AS latency_us
             |  FROM v0 JOIN p1 USING (user_id) WHERE t1 >= t0),
             |g AS (SELECT cohort, latency_us AS v, COUNT(*) AS c
             |  FROM lat GROUP BY 1, 2),
             |w AS (SELECT cohort, v,
             |    SUM(c) OVER (PARTITION BY cohort ORDER BY v) AS cum,
             |    SUM(c) OVER (PARTITION BY cohort) AS n FROM g)
             |SELECT cohort, q, MIN(v) AS value FROM w,
             |  (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) qs
             |WHERE cum >= GREATEST(1, CEIL(q * n - 1e-9))
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Interval-union coverage per user over deterministic synthetic
    // event durations: overlaps counted once via the +1/-1 sweep —
    // busy-time / SLA math a naive sum(end-start) double-counts. All
    // integer microseconds; the oracle replays the identical sweep.
    QueryDef("q246_interval_coverage",
      (s, d) => AsOf.intervalCoverage(
          eventsMicros(s, d).select(col("user_id"), col("ts_us"),
            (col("ts_us") + (col("event_id") % 1000 + 1) * 1000000L)
              .as("end_us")),
          "user_id", "ts_us", "end_us")
        .select(col("key").as("user_id"), col("n_intervals"),
          col("covered"), col("span"),
          round(col("utilization"), 9).as("utilization"))
        .orderBy("user_id"),
      Some("""WITH iv AS (SELECT user_id AS key, epoch_us(ts) AS s,
             |    epoch_us(ts) + (event_id % 1000 + 1) * 1000000 AS e
             |  FROM events),
             |pts AS (SELECT key, s AS t, 0 AS tag, 1 AS delta
             |  FROM iv WHERE s < e
             |  UNION ALL SELECT key, e, 1, -1 FROM iv WHERE s < e),
             |wn AS (SELECT key, t, tag, delta,
             |    SUM(delta) OVER (PARTITION BY key ORDER BY t, tag
             |      ROWS UNBOUNDED PRECEDING) AS active,
             |    LEAD(t) OVER (PARTITION BY key ORDER BY t, tag) AS nxt
             |  FROM pts)
             |SELECT key AS user_id,
             |  CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_intervals,
             |  CAST(SUM(CASE WHEN active > 0 AND nxt IS NOT NULL
             |    THEN nxt - t ELSE 0 END) AS BIGINT) AS covered,
             |  CAST(MAX(t) - MIN(t) AS BIGINT) AS span,
             |  ROUND(CAST(SUM(CASE WHEN active > 0 AND nxt IS NOT NULL
             |      THEN nxt - t ELSE 0 END) AS DOUBLE)
             |    / (MAX(t) - MIN(t)), 9) AS utilization
             |FROM wn GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HLL set algebra: pairwise audience overlap between event types
    // from ONE register relation — lossless sketch unions, inclusion-
    // exclusion intersections, all on the q229 deterministic registers
    // so every estimate hash-verifies.
    QueryDef("q248_hll_overlap",
      (s, d) => graft.ops.Sketch.hllOverlap(eventsMicros(s, d),
          "event_type", "user_id", logBuckets = 8)
        .select(col("ga"), col("gb"),
          round(col("est_a"), 4).as("est_a"),
          round(col("est_b"), 4).as("est_b"),
          round(col("est_union"), 4).as("est_union"),
          round(col("est_intersect"), 4).as("est_intersect"),
          round(col("jaccard_est"), 6).as("jaccard_est"))
        .orderBy("ga", "gb"),
      Some("""WITH h AS (SELECT event_type AS grp,
             |    md5('hll:' || CAST(user_id AS VARCHAR)) AS hx
             |  FROM events),
             |ranked AS (SELECT grp,
             |    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             |      + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1
             |      AS bucket,
             |    CASE WHEN s = '' THEN 65
             |      ELSE (16 - LENGTH(s)) * 4 +
             |        CASE WHEN substr(s, 1, 1) = '1' THEN 3
             |          WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
             |          WHEN substr(s, 1, 1) IN ('4', '5', '6', '7')
             |            THEN 1
             |          ELSE 0 END + 1 END AS rank
             |  FROM (SELECT grp, hx,
             |      REGEXP_REPLACE(substr(hx, 3, 16), '^0+', '') AS s
             |    FROM h)),
             |regs AS (SELECT grp, bucket, MAX(rank) AS reg
             |  FROM ranked GROUP BY 1, 2),
             |e1 AS (SELECT grp, COUNT(*) AS present,
             |    CAST(SUM(CAST(POW(2, 65 - reg) AS HUGEINT)) AS DOUBLE)
             |      + (256 - COUNT(*)) * POW(2, 65) AS denom
             |  FROM regs GROUP BY 1),
             |est AS (SELECT grp,
             |    CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |          * POW(2, 65) / denom <= 2.5 * 256
             |        AND (256 - present) > 0
             |      THEN 256.0 * LN(256.0 / (256 - present))
             |      ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |        * POW(2, 65) / denom END AS e
             |  FROM e1),
             |pairs AS (SELECT a.grp AS ga, b.grp AS gb
             |  FROM (SELECT DISTINCT grp FROM regs) a,
             |    (SELECT DISTINCT grp FROM regs) b WHERE a.grp < b.grp),
             |uregs AS (SELECT p.ga, p.gb, r.bucket, MAX(r.reg) AS reg
             |  FROM pairs p JOIN regs r ON r.grp = p.ga OR r.grp = p.gb
             |  GROUP BY 1, 2, 3),
             |u1 AS (SELECT ga, gb, COUNT(*) AS present,
             |    CAST(SUM(CAST(POW(2, 65 - reg) AS HUGEINT)) AS DOUBLE)
             |      + (256 - COUNT(*)) * POW(2, 65) AS denom
             |  FROM uregs GROUP BY 1, 2),
             |uest AS (SELECT ga, gb,
             |    CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |          * POW(2, 65) / denom <= 2.5 * 256
             |        AND (256 - present) > 0
             |      THEN 256.0 * LN(256.0 / (256 - present))
             |      ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
             |        * POW(2, 65) / denom END AS eu
             |  FROM u1)
             |SELECT u.ga, u.gb, ROUND(a.e, 4) AS est_a,
             |  ROUND(b.e, 4) AS est_b, ROUND(u.eu, 4) AS est_union,
             |  ROUND(GREATEST(0.0, a.e + b.e - u.eu), 4)
             |    AS est_intersect,
             |  ROUND(GREATEST(0.0, a.e + b.e - u.eu) / u.eu, 6)
             |    AS jaccard_est
             |FROM uest u JOIN est a ON a.grp = u.ga
             |JOIN est b ON b.grp = u.gb
             |ORDER BY 1, 2""".stripMargin)),

    // Perceptual-hash (dHash) image near-dup pairs over REAL decoded
    // 16x16 PPMs (q74's synthesis, plus planted one-byte-perturbed
    // twins on odd ids): the engine decodes actual bytes and bands the
    // 64-bit hash; the oracle recomputes the same 9x8 integer-luma
    // grid, the same strict-comparison bits, and all-pairs hamming.
    QueryDef("q249_image_dhash_pairs",
      (s, d) => {
        val base = table(s, d, "documents")
          .where(col("doc_id") < 600)
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 768), 768, "x").as("px"))
        val even = base.where(col("doc_id") % 2 === 0)
        val odd = base.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), (col("doc_id") - 1).as("prev"))
          .join(even.select(col("doc_id").as("prev"),
            col("px").as("ppx")), "prev")
          .select(col("doc_id"),
            concat(lit("Z"), substring(col("ppx"), 2, 767)).as("px"))
        val media = even.unionByName(odd)
          .select(col("doc_id"),
            concat(lit("P6\n16 16\n255\n"), col("px"))
              .cast("binary").as("media"))
        Multimodal.dhashPairs(media, maxHamming = 8)
          .orderBy("id1", "id2")
      },
      Some("""WITH base AS (SELECT doc_id,
             |    rpad(substr(text, 1, 768), 768, 'x') AS px
             |  FROM documents
             |  WHERE doc_id < 600 AND strlen(text) = length(text)),
             |evens AS (SELECT * FROM base WHERE doc_id % 2 = 0),
             |odds AS (SELECT o.doc_id,
             |    'Z' || substr(e.px, 2, 767) AS px
             |  FROM base o JOIN evens e ON e.doc_id = o.doc_id - 1
             |  WHERE o.doc_id % 2 = 1),
             |m AS (SELECT * FROM evens UNION ALL SELECT * FROM odds),
             |g AS (SELECT doc_id, x, y,
             |    (ascii(substr(px,
             |        ((y * 2) * 16 + (x * 16) // 9) * 3 + 1, 1)) * 299
             |     + ascii(substr(px,
             |        ((y * 2) * 16 + (x * 16) // 9) * 3 + 2, 1)) * 587
             |     + ascii(substr(px,
             |        ((y * 2) * 16 + (x * 16) // 9) * 3 + 3, 1)) * 114)
             |      // 1000 AS lum
             |  FROM m, UNNEST(generate_series(0, 8)) tx(x),
             |    UNNEST(generate_series(0, 7)) ty(y)),
             |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS k,
             |    CASE WHEN b.lum > a.lum THEN '1' ELSE '0' END AS bit
             |  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.y = a.y
             |    AND b.x = a.x + 1
             |  WHERE a.x < 8),
             |h AS (SELECT doc_id,
             |    string_agg(bit, '' ORDER BY k) AS bs
             |  FROM bits GROUP BY 1),
             |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             |    CAST(len(list_filter(generate_series(1, 64),
             |      i -> substr(a.bs, i, 1) != substr(b.bs, i, 1)))
             |      AS INT) AS hamming
             |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
             |SELECT id1, id2, hamming FROM p WHERE hamming <= 8
             |ORDER BY 1, 2""".stripMargin)),

    // Bloom-pruned selective join: identical rows to the plain join
    // (the oracle IS the plain join — false positives die in the exact
    // join, false negatives are impossible), with the fact side cut by
    // a narrow plan-literal Bloom probe before the exchange.
    QueryDef("q250_bloom_pruned_join",
      (s, d) => Skew.bloomPrunedJoin(
          table(s, d, "orders"),
          table(s, d, "customer")
            .where(col("c_mktsegment") === "BUILDING" &&
              col("c_nationkey") < 5),
          "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy("o_orderkey"),
      Some("""SELECT o.o_orderkey, o.o_custkey, c.c_nationkey,
             |  ROUND(c.c_acctbal, 2) AS c_acctbal
             |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |WHERE c.c_mktsegment = 'BUILDING' AND c.c_nationkey < 5
             |ORDER BY 1""".stripMargin)),

    // Audio block features over REAL decoded WAVs (q90's PCM synth):
    // per 64-sample block, exact integer energy and zero-crossing rate
    // - the silence-trim / VAD feature tier; the oracle replays the
    // same arithmetic on the same source bytes.
    QueryDef("q251_audio_blocks",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 192), 192, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            (id, Multimodal.encodePcmWav(
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              8000))
          }
          .toDF("doc_id", "media")
        Multimodal.audioBlockFeatures(media, blockLen = 64).toDF()
          .orderBy("doc_id", "block")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px
             |  FROM documents WHERE strlen(text) = length(text)),
             |chars AS (SELECT doc_id, i,
             |    CAST((i - 1) // 64 AS INT) AS block,
             |    ascii(substr(px, i, 1)) - 128 AS d
             |  FROM p, UNNEST(generate_series(1, 192)) t(i)),
             |z AS (SELECT a.doc_id, a.block,
             |    CASE WHEN a.d * b.d < 0 THEN 1 ELSE 0 END AS x
             |  FROM chars a JOIN chars b ON b.doc_id = a.doc_id
             |    AND b.i = a.i + 1 AND b.block = a.block),
             |zc AS (SELECT doc_id, block, CAST(SUM(x) AS BIGINT) AS zcr
             |  FROM z GROUP BY 1, 2)
             |SELECT c.doc_id, c.block, CAST(COUNT(*) AS INT) AS n_samples,
             |  CAST(SUM(c.d * c.d) AS BIGINT) AS energy,
             |  COALESCE(zc.zcr, 0) AS zcr
             |FROM chars c LEFT JOIN zc
             |  ON zc.doc_id = c.doc_id AND zc.block = c.block
             |GROUP BY c.doc_id, c.block, zc.zcr
             |ORDER BY 1, 2""".stripMargin)),

    // Declarative data-quality expectations over lineitem: four rules,
    // ONE pass (a single aggregate computes every violation count);
    // NULL predicate results count as violations.
    QueryDef("q252_expectations",
      (s, d) => graft.ops.Profile.expectations(
          table(s, d, "lineitem"), Seq(
            ("qty_positive", "l_quantity > 0", 0.0),
            ("discount_unit_range",
              "l_discount >= 0 AND l_discount <= 0.1", 0.0),
            ("price_floor", "l_extendedprice > 2000", 0.1),
            ("returnflag_domain",
              "l_returnflag IN ('A', 'N', 'R')", 0.0)))
        .select(col("rule"), col("n_rows"), col("n_violations"),
          round(col("viol_rate"), 9).as("viol_rate"), col("passed"))
        .orderBy("rule"),
      Some("""WITH f AS (SELECT
             |    CASE WHEN COALESCE(l_quantity > 0, false)
             |      THEN 0 ELSE 1 END AS v1,
             |    CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 0.1,
             |      false) THEN 0 ELSE 1 END AS v2,
             |    CASE WHEN COALESCE(l_extendedprice > 2000, false)
             |      THEN 0 ELSE 1 END AS v3,
             |    CASE WHEN COALESCE(l_returnflag IN ('A', 'N', 'R'),
             |      false) THEN 0 ELSE 1 END AS v4
             |  FROM lineitem),
             |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(v1) AS BIGINT) AS v1,
             |    CAST(SUM(v2) AS BIGINT) AS v2,
             |    CAST(SUM(v3) AS BIGINT) AS v3,
             |    CAST(SUM(v4) AS BIGINT) AS v4 FROM f),
             |m AS (
             |  SELECT 'qty_positive' AS rule, n, v1 AS v, 0.0 AS mx
             |    FROM a
             |  UNION ALL SELECT 'discount_unit_range', n, v2, 0.0 FROM a
             |  UNION ALL SELECT 'price_floor', n, v3, 0.1 FROM a
             |  UNION ALL SELECT 'returnflag_domain', n, v4, 0.0
             |    FROM a)
             |SELECT rule, n AS n_rows, v AS n_violations,
             |  ROUND(CAST(v AS DOUBLE) / n, 9) AS viol_rate,
             |  CAST(v AS DOUBLE) / n <= mx AS passed
             |FROM m ORDER BY rule""".stripMargin)),

    // Calendar-completeness SLA profile: one row per day between the
    // corpus's first and last (silent ingestion gaps are FINDINGS),
    // exact row/distinct-user counts, gap flags.
    QueryDef("q253_calendar_completeness",
      (s, d) => graft.ops.Profile.calendarCompleteness(
          eventsMicros(s, d), "ts_us", "user_id")
        .orderBy("day"),
      Some("""WITH byday AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS n_rows,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
             |  FROM events GROUP BY 1),
             |grid AS (SELECT UNNEST(generate_series(
             |    (SELECT MIN(day) FROM byday),
             |    (SELECT MAX(day) FROM byday))) AS day)
             |SELECT g.day, COALESCE(b.n_rows, 0) AS n_rows,
             |  COALESCE(b.n_distinct, 0) AS n_distinct,
             |  b.n_rows IS NULL AS is_gap
             |FROM grid g LEFT JOIN byday b ON b.day = g.day
             |ORDER BY 1""".stripMargin)),

    // Language-ID evaluation: the q47 heuristic's confusion matrix
    // against the labeled lang column, with per-true-class shares —
    // the accuracy audit a curation pipeline runs before trusting a
    // classifier to route the mixture.
    QueryDef("q254_langid_confusion",
      (s, d) => {
        val docs = table(s, d, "documents")
        val pred = TextAnalysis.langId(docs)
          .select(col("doc_id"), col("pred_lang"))
        docs.select(col("doc_id"), col("lang")).join(pred, "doc_id")
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("row_frac", round(
            col("n_docs").cast("double") /
              sum("n_docs").over(Window.partitionBy("lang")), 6))
          .orderBy("lang", "pred_lang")
      },
      Some(langIdOracleCtes + """
        |, pred AS (SELECT doc_id, lang AS pred_lang FROM best
        |  WHERE rk = 1),
        |m AS (SELECT d.lang, p.pred_lang,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2)
        |SELECT lang, pred_lang, n_docs,
        |  ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs)
        |    OVER (PARTITION BY lang), 6) AS row_frac
        |FROM m ORDER BY 1, 2""".stripMargin)),

    // Weighted exact quantiles: price distribution per return flag
    // weighted by quantity (the "median price by unit mass" a spend
    // profile wants). Engine and oracle share the collapsed
    // (key, value, Σweight) grain and the epsilon'd ceil ranks; floor
    // is applied explicitly on both sides (Spark's double→long cast
    // truncates while DuckDB's rounds, so neither side casts raw).
    QueryDef("q256_weighted_quantiles",
      (s, d) => graft.ops.Profile.weightedQuantiles(
          table(s, d, "lineitem")
            .select(col("l_returnflag"),
              floor(col("l_extendedprice")).as("price_fl"),
              col("l_quantity").cast("long").as("qty")),
          "l_returnflag", "price_fl", "qty",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9))
        .select(col("key").as("l_returnflag"), col("q"), col("value"))
        .orderBy("l_returnflag", "q"),
      Some("""WITH g AS (SELECT l_returnflag AS key,
             |    CAST(FLOOR(l_extendedprice) AS BIGINT) AS v,
             |    SUM(CAST(l_quantity AS BIGINT)) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |w AS (SELECT key, v,
             |    SUM(c) OVER (PARTITION BY key ORDER BY v) AS cum,
             |    SUM(c) OVER (PARTITION BY key) AS n FROM g)
             |SELECT key AS l_returnflag, q, MIN(v) AS value FROM w,
             |  (SELECT UNNEST([0.1, 0.25, 0.5, 0.75, 0.9]) AS q) qs
             |WHERE cum >= GREATEST(1, CEIL(q * n - 1e-9))
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Native damerau_levenshtein expression over brand-blocked
    // part-name pairs: the FULL (unrestricted, Lowrance-Wagner)
    // transposition-aware edit distance as a codegen'd Catalyst
    // expression, matched exactly (byte-wise; unrestricted, not OSA)
    // by DuckDB's built-in. The q242 twin on the distance side of the
    // fuzzy-matching coin: a low-distance gate instead of a
    // high-similarity one.
    QueryDef("q257_damerau_levenshtein_pairs",
      (s, d) => {
        import graft.functions.damerau_levenshtein
        val p = table(s, d, "part").where(col("p_partkey") < 300)
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        p.as("a").join(p.as("b"), Seq("p_brand"))
          .where(col("a.p_partkey") < col("b.p_partkey"))
          .select(col("p_brand"),
            col("a.p_partkey").as("id1"),
            col("b.p_partkey").as("id2"),
            damerau_levenshtein(col("a.p_name"), col("b.p_name"))
              .as("dl"))
          .where(col("dl") <= 12)
          .orderBy("id1", "id2")
      },
      Some("""WITH p AS (SELECT p_partkey, p_brand, p_name FROM part
             |  WHERE p_partkey < 300)
             |SELECT a.p_brand, a.p_partkey AS id1, b.p_partkey AS id2,
             |  CAST(damerau_levenshtein(a.p_name, b.p_name) AS INTEGER)
             |    AS dl
             |FROM p a JOIN p b ON a.p_brand = b.p_brand
             |  AND a.p_partkey < b.p_partkey
             |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 12
             |ORDER BY 2, 3""".stripMargin)),

    // Calibration profile of a deterministically OVER-confident scorer
    // per language: score = content-hash draw s, label ~ planted with
    // P(y=1) = s^2 < s, so accuracy trails confidence in every bin and
    // ECE is materially positive. Every sum is EXACT (scores are
    // 2^-16 multiples, squares 2^-32 multiples, labels integers), so
    // bin sums are order-independent and both engines divide the same
    // rationals — no float-summation-order hazard behind the hash.
    QueryDef("q258_calibration",
      (s, d) => {
        val scored = table(s, d, "documents").select(col("lang"),
            Sampling.hashUnit(col("text"), "calsc:").as("score"),
            when(Sampling.hashUnit(col("text"), "callab:") <
              Sampling.hashUnit(col("text"), "calsc:") *
                Sampling.hashUnit(col("text"), "calsc:"), 1.0d)
              .otherwise(0.0d).as("label"))
        graft.ops.Profile
          .calibrationProfile(scored, "lang", "score", "label", 10)
          .orderBy("grp", "bin")
      },
      Some(s"""WITH sc AS (SELECT lang,
             |    ${drawSql("calsc:")} AS s,
             |    CASE WHEN ${drawSql("callab:")} <
             |        (${drawSql("calsc:")}) * (${drawSql("calsc:")})
             |      THEN 1.0 ELSE 0.0 END AS y
             |  FROM documents),
             |b AS (SELECT lang AS grp,
             |    LEAST(9, CAST(FLOOR(s * 10) AS INT)) AS bin,
             |    COUNT(*) AS n, SUM(s) AS ssum, SUM(y) AS ysum,
             |    SUM((s - y) * (s - y)) AS sq
             |  FROM sc GROUP BY 1, 2)
             |SELECT grp, bin, n,
             |  ROUND(ssum / n, 6) AS confidence,
             |  ROUND(ysum / n, 6) AS accuracy,
             |  ROUND((ysum - ssum) / n, 6) AS gap,
             |  ROUND(SUM(ABS(ysum - ssum)) OVER (PARTITION BY grp)
             |    / SUM(n) OVER (PARTITION BY grp), 6) AS ece,
             |  ROUND(SUM(sq) OVER (PARTITION BY grp)
             |    / SUM(n) OVER (PARTITION BY grp), 6) AS brier
             |FROM b ORDER BY 1, 2""".stripMargin)),

    // Dataset content manifest over all five documents columns:
    // order-independent 60-bit row hashes summed mod 2^61-1 per hash
    // shard + a root row via ROLLUP. DuckDB replays the exact modular
    // arithmetic in HUGEINT against Spark's DECIMAL(38,0) — byte-equal
    // fingerprints, no float anywhere.
    QueryDef("q259_dataset_manifest",
      (s, d) => graft.ops.Profile.datasetManifest(
          table(s, d, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"), 8)
        .orderBy("shard"),
      Some(s"""WITH m AS (SELECT md5(concat_ws(chr(1),
             |    COALESCE(CAST(doc_id AS VARCHAR), chr(0)),
             |    COALESCE(text, chr(0)), COALESCE(lang, chr(0)),
             |    COALESCE(source, chr(0)),
             |    COALESCE(CAST(n_chars AS VARCHAR), chr(0)))) AS hx
             |  FROM documents),
             |r AS (SELECT ${hex15Sql("hx")} AS h FROM m),
             |s AS (SELECT CAST(h % 8 AS INT) AS shard,
             |    COUNT(*) AS n,
             |    CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951
             |      AS BIGINT) AS fingerprint
             |  FROM r GROUP BY ROLLUP (shard))
             |SELECT COALESCE(shard, -1) AS shard, n, fingerprint
             |FROM s ORDER BY 1""".stripMargin)),

    // Dense GLOBAL rank without the single-partition window: a range
    // sort, per-partition row offsets from one stats job, and a narrow
    // offset + row-in-partition projection. The oracle IS the naive
    // global window - results identical, plan shape not.
    QueryDef("q260_global_rank",
      (s, d) => graft.ops.Layout.globalRank(
          table(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id")
        .select(col("doc_id"), col("n_chars"), col("rk"))
        .orderBy("rk"),
      Some("""SELECT doc_id, n_chars,
             |  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk
             |FROM documents ORDER BY rk""".stripMargin)),

    // Sorted-neighborhood blocking (Hernandez-Stolfo): candidate pairs
    // within 4 rank positions of the balance-cents sort order - the
    // bounded-candidate generator exact key blocking and LSH both
    // lack. Oracle replays the global ROW_NUMBER + rank-distance join.
    QueryDef("q261_sorted_neighbors",
      (s, d) => graft.ops.Linkage.sortedNeighborPairs(
          table(s, d, "customer").select(col("c_custkey"),
            round(col("c_acctbal") * 100, 0).cast("long").as("bal_c")),
          "bal_c", "c_custkey", window = 4)
        .orderBy("id1", "id2"),
      Some("""WITH r AS (SELECT c_custkey AS id,
             |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS k
             |  FROM customer),
             |rk AS (SELECT id,
             |    ROW_NUMBER() OVER (ORDER BY k, id) AS r FROM r)
             |SELECT a.id AS id1, b.id AS id2,
             |  CAST(b.r - a.r AS INT) AS rank_dist
             |FROM rk a JOIN rk b ON b.r > a.r AND b.r - a.r < 4
             |ORDER BY 1, 2""".stripMargin)),

    // ROUGE-L over the native token_lcs expression: candidates salted
    // with substitutions (every 5th token) AND deletions (every 7th),
    // which n-gram overlap punishes but the common subsequence sees
    // through. The oracle replays the full LCS dynamic program as a
    // recursive CTE whose row fold is a list_reduce (prefix-carrying
    // accumulator), so every lcs value is derived independently.
    QueryDef("q262_rouge_l",
      (s, d) => graft.ops.TextAnalysis.rougeL(
          table(s, d, "documents").select(col("doc_id"),
            when(col("doc_id") % 17 === 0, lit(""))
              .otherwise(array_join(expr(
                """filter(transform(filter(split(text, ' '),
                  |    x -> length(x) > 0),
                  |  (w, i) -> CASE WHEN (i + 1) % 5 = 0
                  |    THEN 'zz' ELSE w END),
                  |  (w, i) -> (i + 1) % 7 != 0)""".stripMargin), " "))
              .as("cand"),
            col("text").as("ref")))
        .select(col("doc_id"), col("lcs"), col("len_cand"),
          col("len_ref"), round(col("r"), 6).as("r"),
          round(col("p"), 6).as("p"), round(col("f1"), 6).as("f1"))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE
             |t0 AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0)
             |      AS rt FROM documents),
             |t AS (SELECT doc_id, rt,
             |    CASE WHEN doc_id % 17 = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE [CASE WHEN i % 5 = 0 THEN 'zz' ELSE rt[i] END
             |            FOR i IN generate_series(1, len(rt))
             |            IF i % 7 != 0] END AS ct
             |  FROM t0),
             |t2 AS (SELECT doc_id, ct, rt, len(ct) AS n, len(rt) AS m
             |  FROM t),
             |st AS (
             |  SELECT doc_id, ct, rt, n, m, 0 AS i,
             |         [0 FOR j IN generate_series(0, m)] AS row
             |  FROM t2
             |  UNION ALL
             |  SELECT doc_id, ct, rt, n, m, i + 1,
             |    list_reduce(
             |      list_prepend([0],
             |        [[j, CASE WHEN rt[j] = ct[i + 1]
             |            THEN 1 ELSE 0 END]
             |         FOR j IN generate_series(1, m)]),
             |      (acc, x) -> list_append(acc,
             |        GREATEST(row[x[1] + 1], acc[-1],
             |          row[x[1]] + x[2])))
             |  FROM st WHERE i < n),
             |f AS (SELECT doc_id, row[m + 1] AS lcs, n, m
             |  FROM st WHERE i = n),
             |v AS (SELECT doc_id, lcs, n, m,
             |    CASE WHEN m = 0 THEN 0.0
             |      ELSE CAST(lcs AS DOUBLE) / m END AS r,
             |    CASE WHEN n = 0 THEN 0.0
             |      ELSE CAST(lcs AS DOUBLE) / n END AS p
             |  FROM f)
             |SELECT doc_id, CAST(lcs AS INT) AS lcs,
             |  CAST(n AS BIGINT) AS len_cand, CAST(m AS BIGINT) AS len_ref,
             |  ROUND(r, 6) AS r, ROUND(p, 6) AS p,
             |  ROUND(CASE WHEN r + p = 0.0 THEN 0.0
             |    ELSE 2.0 * p * r / (p + r) END, 6) AS f1
             |FROM v ORDER BY doc_id""".stripMargin)),

    // Sentence BLEU-4 of a salted candidate (every 5th token replaced,
    // every 17th doc emptied) against the original text: clipped
    // modified precisions, geometric mean, brevity penalty - the
    // pair-curation metric, replayed gram-for-gram by the oracle.
    QueryDef("q263_bleu",
      (s, d) => graft.ops.TextAnalysis.bleuScore(
          table(s, d, "documents").select(col("doc_id"),
            when(col("doc_id") % 17 === 0, lit(""))
              .otherwise(array_join(expr(
                """transform(filter(split(text, ' '), x -> length(x) > 0),
                  |  (w, i) -> CASE WHEN (i + 1) % 5 = 0
                  |    THEN 'zz' ELSE w END)""".stripMargin), " "))
              .as("cand"),
            col("text").as("ref")))
        .select(col("doc_id"), col("len_cand"), col("len_ref"),
          round(col("p_1"), 6).as("p_1"), round(col("p_2"), 6).as("p_2"),
          round(col("p_3"), 6).as("p_3"), round(col("p_4"), 6).as("p_4"),
          round(col("bp"), 6).as("bp"), round(col("bleu"), 6).as("bleu"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> len(x) > 0)
             |      AS rt FROM documents),
             |c AS (SELECT doc_id, rt,
             |    CASE WHEN doc_id % 17 = 0 THEN CAST([] AS VARCHAR[])
             |      ELSE [CASE WHEN i % 5 = 0 THEN 'zz' ELSE rt[i] END
             |            FOR i IN generate_series(1, len(rt))] END
             |      AS ct FROM t),
             |g AS (SELECT doc_id, len(ct) AS lc, len(rt) AS lr,
             |    [array_to_string(ct[i:i], ' ')
             |     FOR i IN generate_series(1, len(ct))] AS cg1,
             |    [array_to_string(rt[i:i], ' ')
             |     FOR i IN generate_series(1, len(rt))] AS rg1,
             |    [array_to_string(ct[i:i+1], ' ')
             |     FOR i IN generate_series(1, len(ct) - 1)] AS cg2,
             |    [array_to_string(rt[i:i+1], ' ')
             |     FOR i IN generate_series(1, len(rt) - 1)] AS rg2,
             |    [array_to_string(ct[i:i+2], ' ')
             |     FOR i IN generate_series(1, len(ct) - 2)] AS cg3,
             |    [array_to_string(rt[i:i+2], ' ')
             |     FOR i IN generate_series(1, len(rt) - 2)] AS rg3,
             |    [array_to_string(ct[i:i+3], ' ')
             |     FOR i IN generate_series(1, len(ct) - 3)] AS cg4,
             |    [array_to_string(rt[i:i+3], ' ')
             |     FOR i IN generate_series(1, len(rt) - 3)] AS rg4
             |  FROM c),
             |p AS (SELECT doc_id, lc, lr,
             |    CASE WHEN len(cg1) = 0 THEN 0.0 ELSE
             |      CAST(list_sum([LEAST(len(list_filter(cg1, x -> x = g)),
             |        len(list_filter(rg1, x -> x = g)))
             |        FOR g IN list_distinct(cg1)]) AS DOUBLE) / len(cg1)
             |      END AS p1,
             |    CASE WHEN len(cg2) = 0 THEN 0.0 ELSE
             |      CAST(list_sum([LEAST(len(list_filter(cg2, x -> x = g)),
             |        len(list_filter(rg2, x -> x = g)))
             |        FOR g IN list_distinct(cg2)]) AS DOUBLE) / len(cg2)
             |      END AS p2,
             |    CASE WHEN len(cg3) = 0 THEN 0.0 ELSE
             |      CAST(list_sum([LEAST(len(list_filter(cg3, x -> x = g)),
             |        len(list_filter(rg3, x -> x = g)))
             |        FOR g IN list_distinct(cg3)]) AS DOUBLE) / len(cg3)
             |      END AS p3,
             |    CASE WHEN len(cg4) = 0 THEN 0.0 ELSE
             |      CAST(list_sum([LEAST(len(list_filter(cg4, x -> x = g)),
             |        len(list_filter(rg4, x -> x = g)))
             |        FOR g IN list_distinct(cg4)]) AS DOUBLE) / len(cg4)
             |      END AS p4
             |  FROM g)
             |SELECT doc_id, CAST(lc AS BIGINT) AS len_cand,
             |  CAST(lr AS BIGINT) AS len_ref,
             |  ROUND(p1, 6) AS p_1, ROUND(p2, 6) AS p_2,
             |  ROUND(p3, 6) AS p_3, ROUND(p4, 6) AS p_4,
             |  ROUND(CASE WHEN lc = 0 THEN 0.0
             |    WHEN lc >= lr THEN 1.0
             |    ELSE exp(1.0 - CAST(lr AS DOUBLE) / lc) END, 6) AS bp,
             |  ROUND(CASE WHEN lc = 0 OR p1 = 0 OR p2 = 0 OR p3 = 0
             |      OR p4 = 0 THEN 0.0
             |    ELSE (CASE WHEN lc = 0 THEN 0.0 WHEN lc >= lr THEN 1.0
             |      ELSE exp(1.0 - CAST(lr AS DOUBLE) / lc) END)
             |      * exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4) END,
             |    6) AS bleu
             |FROM p ORDER BY doc_id""".stripMargin)),

    // The bucket-spill exactness certificate, DRIVER-VISIBLE and
    // hash-checked: the capped co-shingle expansion runs with a readable
    // Observation and the entry RETURNS the observed metric row
    // (spilled_buckets / spilled_ids / max_bucket) next to the surviving
    // pair count. maxBucket = 4 is a deliberately pathological cap so
    // the spill path is exercised on real data at every SF (the sf0.01
    // co-shingle max bucket is 7); the oracle recomputes the same
    // numbers from the shingle bucket-size distribution, so what the
    // observed metric REPORTS is what the data actually contains — the
    // 100 TB recall-loss contract, checked by the driver instead of
    // only by a spec.
    QueryDef("q267_spill_certificate",
      (s, d) => graft.ops.Dedup.spillCertificate(
          table(s, d, "documents"), 3, maxBucket = 4)
        .orderBy("n_pairs"),
      Some(s"""WITH ${shinglesSql()},
              |b AS (SELECT shingle, COUNT(*) AS c FROM sh
              |      GROUP BY 1 HAVING COUNT(*) > 1)
              |SELECT
              |  CAST(COALESCE(SUM(CASE WHEN c > 4 THEN 1 ELSE 0 END), 0)
              |    AS BIGINT) AS spilled_buckets,
              |  CAST(COALESCE(SUM(CASE WHEN c > 4 THEN c ELSE 0 END), 0)
              |    AS BIGINT) AS spilled_ids,
              |  CAST(COALESCE(MAX(c), 0) AS INT) AS max_bucket,
              |  CAST(COALESCE(SUM(CASE WHEN c <= 4 THEN c * (c - 1) // 2
              |    ELSE 0 END), 0) AS BIGINT) AS n_pairs
              |FROM b ORDER BY n_pairs""".stripMargin)),

    // Exact distributed prefix sum over the global (key, id) order -
    // q260's range sort with per-partition value sums as offsets and a
    // running sum in a window partitioned by the sort's partitions,
    // never a single-partition window. The oracle IS the naive global
    // running sum.
    QueryDef("q268_global_cumsum",
      (s, d) => graft.ops.Layout.globalCumsum(
          table(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", "n_chars", cumCol = "start_pos")
        .select(col("doc_id"), col("n_chars"), col("start_pos"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars,
             |  CAST(SUM(n_chars) OVER (ORDER BY n_chars, doc_id
             |    ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT)
             |    AS start_pos
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // GPT-style concat-and-chunk context packing: the corpus as one
    // token stream in doc_id order, cut every 256 tokens; one row per
    // (window, document-slice) with closed-form integer offsets. The
    // oracle replays the running sum + slice arithmetic exactly.
    QueryDef("q269_context_windows",
      (s, d) => graft.ops.Curation.contextWindows(
          table(s, d, "documents").select(col("doc_id"),
            size(filter(split(col("text"), " "),
              x => length(x) > 0)).cast("long").as("n_tokens")),
          windowTokens = 256L)
        .orderBy("window_id", "id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> len(x) > 0)) AS BIGINT) AS n
             |  FROM documents),
             |p AS (SELECT doc_id, n,
             |    CAST(SUM(n) OVER (ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
             |  FROM t WHERE n > 0),
             |e AS (SELECT doc_id, n, s, u.w
             |  FROM p, UNNEST(generate_series(s // 256,
             |    (s + n - 1) // 256)) u(w))
             |SELECT CAST(w AS BIGINT) AS window_id, doc_id AS id,
             |  CAST(GREATEST(w * 256, s) - s AS BIGINT) AS doc_offset,
             |  CAST(GREATEST(w * 256, s) - w * 256 AS BIGINT)
             |    AS win_offset,
             |  CAST(LEAST((w + 1) * 256, s + n) - GREATEST(w * 256, s)
             |    AS BIGINT) AS slice_len
             |FROM e ORDER BY window_id, id""".stripMargin)),

    // The ExactSubstr AUDIT relation (Lee et al. 2022): q137 hash-checks
    // the REMOVAL pass over Dedup.duplicateSpans at k=5; this entry
    // exposes the span relation itself (1-based inclusive token spans,
    // merged islands of duplicated 8-gram windows) so keep-one policies
    // and duplication reports are driver-checked too.
    QueryDef("q270_duplicated_spans",
      (s, d) => Dedup.duplicateSpans(table(s, d, "documents"), k = 8)
        .orderBy("doc_id", "start_tok"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
             |g AS (SELECT doc_id, i AS pos,
             |    md5(array_to_string(t[i:i+7], ' ')) AS gh
             |  FROM d, UNNEST(generate_series(1, len(t) - 7)) s(i)),
             |c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
             |m AS (SELECT doc_id, pos FROM g JOIN c USING (gh)),
             |b AS (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER (
             |    PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END
             |    AS brk FROM m),
             |i AS (SELECT doc_id, pos, SUM(brk) OVER (
             |    PARTITION BY doc_id ORDER BY pos) AS island FROM b)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
             |  CAST(MAX(pos) + 7 AS BIGINT) AS end_tok,
             |  CAST(COUNT(*) AS BIGINT) AS n_dup_grams
             |FROM i GROUP BY doc_id, island
             |ORDER BY doc_id, start_tok""".stripMargin)),

    // Blocklist scan: one Aho-Corasick pass per document over a
    // 12-phrase list with nested/overlapping entries ("table" inside
    // "table part", "scan" inside "row scan slow") - the shape that
    // exercises the automaton's fail links. The oracle replays each
    // pattern with strpos over the same inline list.
    QueryDef("q272_blocklist_scan",
      (s, d) => graft.ops.Curation.blocklistScan(
          table(s, d, "documents"), BlocklistPhrases)
        .orderBy("doc_id"),
      Some({
        val lits = BlocklistPhrases
          .map(p => "'" + p.replace("'", "''") + "'").mkString(", ")
        s"""WITH p AS (SELECT [$lits] AS ps)
           |SELECT doc_id,
           |  CAST(len(hits) AS BIGINT) AS n_matched,
           |  COALESCE(array_to_string(hits, ','), '') AS matched_ids,
           |  len(hits) > 0 AS flagged
           |FROM (SELECT doc_id,
           |    [CAST(i - 1 AS VARCHAR)
           |     FOR i IN generate_series(1, len(ps))
           |     IF strpos(text, ps[i]) > 0] AS hits
           |  FROM documents, p)
           |ORDER BY doc_id""".stripMargin
      })),

    // The enforcement half of the blocklist scan: leftmost-longest
    // non-overlapping redaction (FlashText semantics) in one automaton
    // pass, replayed by the oracle as a recursive greedy fold.
    redactEntry,

    // Interpolated Kneser-Ney bigram perplexity (the KenLM-filter
    // standard) next to q117's add-one baseline: absolute discounting
    // + continuation backoff, every convention pinned in the scaladoc
    // and replayed formula-for-formula by the oracle.
    QueryDef("q274_kn_perplexity",
      (s, d) => TextAnalysis.perplexityKN(
          table(s, d, "documents").where(col("doc_id") % 10 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 10 === 0))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("ppl"), 5).as("ppl"))
        .orderBy("doc_id"),
      Some("""WITH refu AS MATERIALIZED (SELECT
             |    UNNEST(string_split(text, ' ')) AS term
             |  FROM documents WHERE doc_id % 10 = 0),
             |uni AS MATERIALIZED (SELECT term,
             |    CAST(COUNT(*) AS BIGINT) AS c1 FROM refu GROUP BY 1),
             |refb AS (SELECT t[i] AS prev, t[i+1] AS cur
             |  FROM (SELECT string_split(text, ' ') AS t FROM documents
             |        WHERE doc_id % 10 = 0) s,
             |       UNNEST(generate_series(1, len(t) - 1)) g(i)),
             |big AS MATERIALIZED (SELECT prev, cur,
             |    CAST(COUNT(*) AS BIGINT) AS c2 FROM refb GROUP BY 1, 2),
             |fwd AS MATERIALIZED (SELECT prev,
             |    CAST(COUNT(*) AS BIGINT) AS n1p_fwd FROM big GROUP BY 1),
             |bwd AS MATERIALIZED (SELECT cur,
             |    CAST(COUNT(*) AS BIGINT) AS n1p_bwd FROM big GROUP BY 1),
             |stats AS (SELECT
             |    (SELECT CAST(SUM(c1) AS DOUBLE) FROM uni) AS ref_tokens,
             |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM uni) AS vocab,
             |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM big) AS n_bigrams),
             |toks AS MATERIALIZED (SELECT doc_id, len(t) AS n_tokens,
             |    i AS pos, CASE WHEN i = 1 THEN NULL ELSE t[i-1] END AS prev,
             |    t[i] AS cur
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t
             |        FROM documents WHERE doc_id % 10 <> 0) s,
             |       UNNEST(generate_series(1, len(t))) g(i)),
             |lp AS (SELECT t.doc_id, t.n_tokens, t.pos,
             |    CASE WHEN t.pos = 1 THEN
             |      ln((COALESCE(u2.c1, 0) + CAST(1 AS DOUBLE)) /
             |         (s.ref_tokens + s.vocab))
             |    ELSE ln(
             |      CASE WHEN u1.c1 IS NULL THEN
             |        (COALESCE(w.n1p_bwd, 0) + CAST(1 AS DOUBLE)) /
             |          (s.n_bigrams + s.vocab + 1)
             |      WHEN GREATEST(COALESCE(b.c2, 0) - 0.75, 0) / u1.c1
             |          + 0.75 * COALESCE(f.n1p_fwd, 0) / u1.c1
             |            * ((COALESCE(w.n1p_bwd, 0) + CAST(1 AS DOUBLE)) /
             |               (s.n_bigrams + s.vocab + 1)) > 0 THEN
             |        GREATEST(COALESCE(b.c2, 0) - 0.75, 0) / u1.c1
             |          + 0.75 * COALESCE(f.n1p_fwd, 0) / u1.c1
             |            * ((COALESCE(w.n1p_bwd, 0) + CAST(1 AS DOUBLE)) /
             |               (s.n_bigrams + s.vocab + 1))
             |      ELSE
             |        (COALESCE(w.n1p_bwd, 0) + CAST(1 AS DOUBLE)) /
             |          (s.n_bigrams + s.vocab + 1)
             |      END) END AS logp
             |  FROM toks t
             |  LEFT JOIN big b ON t.prev = b.prev AND t.cur = b.cur
             |  LEFT JOIN uni u1 ON t.prev = u1.term
             |  LEFT JOIN uni u2 ON t.cur = u2.term
             |  LEFT JOIN fwd f ON t.prev = f.prev
             |  LEFT JOIN bwd w ON t.cur = w.cur
             |  CROSS JOIN stats s),
             |agg AS (SELECT doc_id, n_tokens,
             |    list_reduce(list(logp ORDER BY pos), (a, b) -> a + b)
             |      AS sum_logp
             |  FROM lp GROUP BY 1, 2)
             |SELECT doc_id, n_tokens,
             |  ROUND(exp(-sum_logp / n_tokens), 5) AS ppl
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // The measured form of q97's layout claim: files a min/max reader
    // scans per probe under the Z-order layout vs a plain sort by each
    // single key (value-range file model, the parquet row-group pruning
    // rule). The oracle replays zvalue + all three layouts + the
    // pruning arithmetic with true integer division.
    QueryDef("q275_zorder_skipping",
      (s, d) => graft.ops.Layout.zSkippingProfile(
          table(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"),
          bits = 8, numFiles = 64,
          probes = Seq(("l_partkey", 100L, 150L), ("l_suppkey", 5L, 8L)))
        .orderBy("layout", "probe_col"),
      Some {
        val terms = (0 until 8).flatMap(i => Seq(
          s"(((np >> $i) & 1) << ${2 * i})",
          s"(((ns >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
        s"""WITH b AS (
           |  SELECT MIN(l_partkey) pmin0, MAX(l_partkey) pmax0,
           |         MIN(l_suppkey) smin0, MAX(l_suppkey) smax0
           |  FROM lineitem),
           |n AS (
           |  SELECT l_partkey, l_suppkey, pmin0, pmax0, smin0, smax0,
           |    (l_partkey - pmin0) * 256 // (pmax0 - pmin0 + 1) AS np,
           |    (l_suppkey - smin0) * 256 // (smax0 - smin0 + 1) AS ns
           |  FROM lineitem, b),
           |z AS (SELECT *, $terms AS zvalue FROM n),
           |zb AS (SELECT MIN(zvalue) zmn, MAX(zvalue) zmx FROM z),
           |f AS (
           |  SELECT 'zorder' AS layout, l_partkey, l_suppkey,
           |    (zvalue - zmn) * 64 // (zmx - zmn + 1) AS file
           |  FROM z, zb
           |  UNION ALL
           |  SELECT 'sort_l_partkey', l_partkey, l_suppkey,
           |    (l_partkey - pmin0) * 64 // (pmax0 - pmin0 + 1)
           |  FROM z
           |  UNION ALL
           |  SELECT 'sort_l_suppkey', l_partkey, l_suppkey,
           |    (l_suppkey - smin0) * 64 // (smax0 - smin0 + 1)
           |  FROM z),
           |st AS (SELECT layout, file, COUNT(*) AS n_rows,
           |    MIN(l_partkey) AS mn_p, MAX(l_partkey) AS mx_p,
           |    MIN(l_suppkey) AS mn_s, MAX(l_suppkey) AS mx_s
           |  FROM f GROUP BY 1, 2),
           |pr AS (SELECT * FROM (VALUES
           |    ('l_partkey', CAST(100 AS BIGINT), CAST(150 AS BIGINT)),
           |    ('l_suppkey', CAST(5 AS BIGINT), CAST(8 AS BIGINT)))
           |  p(probe_col, lo, hi)),
           |j AS (SELECT st.*, pr.probe_col, pr.lo, pr.hi,
           |    CASE WHEN pr.probe_col = 'l_suppkey'
           |      THEN NOT (mx_s < lo OR mn_s > hi)
           |      ELSE NOT (mx_p < lo OR mn_p > hi) END AS scanned
           |  FROM st CROSS JOIN pr)
           |SELECT layout, probe_col, lo, hi,
           |  CAST(COUNT(*) AS BIGINT) AS files_nonempty,
           |  CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
           |    AS files_scanned,
           |  CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END)
           |    AS BIGINT) AS rows_scanned
           |FROM j GROUP BY 1, 2, 3, 4
           |ORDER BY layout, probe_col""".stripMargin
      }),


    // Hilbert vs Z-order skipping audit: the MEASURED comparison of the
    // two clustering curves (plus each single-key sort) on real data —
    // the decision input before a 100 TB layout rewrite commits to a
    // curve. The oracle replays the per-level quadrant walk with pure
    // integer div/mod arithmetic.
    QueryDef("q282_hilbert_skipping",
      (s, d) => graft.ops.Layout.curveSkippingProfile(
          table(s, d, "lineitem"), Seq("l_partkey", "l_suppkey"),
          bits = 8, numFiles = 64,
          probes = Seq(("l_partkey", 100L, 150L), ("l_suppkey", 5L, 8L)))
        .orderBy("layout", "probe_col"),
      Some(hilbertSkippingOracleSql(8, 64))),





    // Span-level quality filtering: windows of high average unigram
    // NLL flag the tokens they cover; maximal flagged runs merge to
    // spans (the q270 island convention, so the same excision machinery
    // consumes either). Model from the q117 held-out split; w=8,
    // threshold 3.55 sits at ~p90 of this corpus's NLL.
    QueryDef("q287_low_quality_spans",
      (s, d) => TextAnalysis.lowQualitySpans(
          table(s, d, "documents").where(col("doc_id") % 10 =!= 0),
          table(s, d, "documents").where(col("doc_id") % 10 === 0),
          window = 8, maxAvgNll = 3.55)
        .orderBy("doc_id", "span_start"),
      Some("""WITH ref AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
             |u AS (SELECT UNNEST(string_split(text, ' ')) AS term
             |  FROM ref),
             |m AS (SELECT term, COUNT(*) AS c FROM u
             |  WHERE len(term) > 0 GROUP BY 1),
             |tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM m),
             |tok AS (SELECT doc_id, t.i AS p, ws[t.i] AS term
             |  FROM (SELECT doc_id,
             |      list_filter(string_split(text, ' '),
             |        x -> len(x) > 0) AS ws
             |    FROM documents WHERE doc_id % 10 <> 0) dd,
             |    UNNEST(generate_series(1, len(ws))) t(i)),
             |sc AS (SELECT doc_id, p,
             |    -ln((COALESCE(m.c, 0) + 1.0) / (tot.n + tot.v)) AS nll
             |  FROM tok LEFT JOIN m USING (term), tot),
             |fl AS (SELECT doc_id, p,
             |    COUNT(*) OVER w8 AS wn,
             |    AVG(nll) OVER w8 AS wavg,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS nd
             |  FROM sc
             |  WINDOW w8 AS (PARTITION BY doc_id ORDER BY p
             |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
             |bs AS (SELECT doc_id, p,
             |    CASE WHEN (wn = 8 OR (nd < 8 AND p = 1))
             |      AND wavg > 3.55 THEN 1 ELSE 0 END AS bad_start
             |  FROM fl),
             |cov AS (SELECT doc_id, p FROM (
             |    SELECT doc_id, p, MAX(bad_start) OVER (
             |      PARTITION BY doc_id ORDER BY p
             |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cv
             |    FROM bs) WHERE cv = 1),
             |isl AS (SELECT doc_id,
             |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
             |      AS g, p
             |  FROM cov)
             |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
             |  CAST(MAX(p) AS BIGINT) AS span_end
             |FROM isl GROUP BY doc_id, g
             |ORDER BY doc_id, span_start""".stripMargin)),

    // Confusable-resistant dedup: homoglyph twins (Cyrillic aeo swapped
    // in, a zero-width space planted) are invisible to plain
    // normalization but MUST collapse onto their source under the TR39
    // fold — both engines construct the same adversarial twins and
    // replay the same skeleton (nfc + lower + zero-width strip + one
    // translate).
    QueryDef("q286_confusable_dedup",
      (s, d) => {
        val docs = table(s, d, "documents").select("doc_id", "text")
        val twins = docs.where(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(substring(col("text"), 1, 1), lit("\u200b"),
              translate(expr("substr(text, 2)"),
                "aeo", "\u0430\u0435\u043e")).as("text"))
        graft.ops.Curation.confusableGroups(docs.unionByName(twins))
          .orderBy("canonical_id")
      },
      Some(s"""WITH twins AS (SELECT doc_id + 1000000 AS doc_id,
              |    substr(text, 1, 1) || '\u200b' ||
              |      translate(substr(text, 2), 'aeo',
              |        '\u0430\u0435\u043e') AS text
              |  FROM documents WHERE doc_id % 2 = 0),
              |ad AS (SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id, text FROM twins),
              |f AS (SELECT doc_id,
              |    translate(regexp_replace(lower(nfc_normalize(text)),
              |      '[\u200b\u200c\u200d\u2060\ufeff\u00ad]', '', 'g'),
              |      '\u0430\u0435\u043e\u0440\u0441\u0445\u0443\u0456\u0455\u0458\u04bb\u03bf\u03b1\u03bd\u03b9\u03ba\u03c1\u03c5\u03c7',
              |      'aeopcxyisjhoavikrux') AS fold
              |  FROM ad)
              |SELECT md5(fold) AS fold_hash,
              |  MIN(doc_id) AS canonical_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_copies
              |FROM f GROUP BY 1 ORDER BY canonical_id""".stripMargin)),

    // TwoNN intrinsic dimension (Facco et al. 2017) over the gated
    // embedding sample: the MLE 2n / sum ln(d2_2/d2_1) — the signal
    // that tells a curation team how the space REALLY behaves before
    // trusting cosine thresholds or PQ codebook sizes. Audit tier
    // (all-pairs, SF-gated); distances ride the native float_dot.
    QueryDef("q284_intrinsic_dimension",
      (s, d) => graft.ops.Similarity.twoNN(
          table(s, d, "embeddings").where(col("vec_id") < 1500))
        .select(col("n_points"), col("n_zero_r1"),
          round(col("id_mle"), 6).as("id_mle")),
      Some(s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 1500),
              |p AS (SELECT a.vec_id i, b.vec_id j,
              |    (${norm2("a")} + ${norm2("b")}
              |      - 2 * ${dot64.format("a", "b")}) AS d2
              |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
              |r AS (SELECT i, d2, ROW_NUMBER() OVER (
              |    PARTITION BY i ORDER BY d2, j) AS rk FROM p),
              |t AS (SELECT i,
              |    MIN(CASE WHEN rk = 1 THEN d2 END) AS r1,
              |    MIN(CASE WHEN rk = 2 THEN d2 END) AS r2
              |  FROM r WHERE rk <= 2 GROUP BY 1)
              |SELECT
              |  CAST(SUM(CASE WHEN r1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_points,
              |  CAST(SUM(CASE WHEN r1 <= 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_zero_r1,
              |  ROUND(2.0 * SUM(CASE WHEN r1 > 0 THEN 1 ELSE 0 END)
              |    / SUM(CASE WHEN r1 > 0 THEN ln(r2 / r1) END), 6)
              |    AS id_mle
              |FROM t""".stripMargin)),

    // Energy distance between every label-group pair (Szekely-Rizzo):
    // the bandwidth-free two-sample drift statistic for embedding
    // distributions; per-pair distances quantized to nanos so group
    // sums are exact integers on any engine. Audit tier (SF-gated).
    QueryDef("q285_energy_distance",
      (s, d) => graft.ops.Similarity.energyDistance(
          table(s, d, "embeddings").where(col("vec_id") < 1500))
        .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
          round(col("energy"), 6).as("energy"))
        .orderBy("label_a", "label_b"),
      Some(s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 1500),
              |p AS (SELECT
              |    LEAST(a.label, b.label) AS ga,
              |    GREATEST(a.label, b.label) AS gb,
              |    CAST(ROUND(SQRT(GREATEST(${norm2("a")} + ${norm2("b")}
              |      - 2 * ${dot64.format("a", "b")}, 0)) * 1e9, 0)
              |      AS BIGINT) AS d
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
              |sums AS (SELECT ga, gb, SUM(d) AS sd FROM p GROUP BY 1, 2),
              |c AS (SELECT label AS g, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM e GROUP BY 1)
              |SELECT s.ga AS label_a, s.gb AS label_b,
              |  ca.n AS n_a, cb.n AS n_b,
              |  ROUND(CASE WHEN ca.n >= 2 AND cb.n >= 2 THEN
              |    (2.0 * s.sd / (ca.n * cb.n)
              |      - 2.0 * saa.sd / (ca.n * (ca.n - 1))
              |      - 2.0 * sbb.sd / (cb.n * (cb.n - 1)))
              |      / 1e9 END, 6) AS energy
              |FROM sums s
              |JOIN c ca ON ca.g = s.ga JOIN c cb ON cb.g = s.gb
              |LEFT JOIN sums saa ON saa.ga = s.ga AND saa.gb = s.ga
              |LEFT JOIN sums sbb ON sbb.ga = s.gb AND sbb.gb = s.gb
              |WHERE s.ga <> s.gb
              |ORDER BY 1, 2""".stripMargin)),

    // Deterministic epoch shuffle: the reproducible per-epoch
    // pseudo-random permutation a training loader consumes, as dense
    // 1-based positions from the range-sorted global rank — no
    // rand(), no single-partition window. The oracle replays the
    // md5-draw + ROW_NUMBER ordering digit for digit.
    QueryDef("q283_epoch_shuffle",
      (s, d) => graft.ops.Sampling.epochShuffle(
          table(s, d, "documents").select("doc_id"), epoch = 1)
        .orderBy("doc_id"),
      Some {
        val draw = (1 to 15)
          .map(i => "(strpos('0123456789abcdef', substr(" +
            s"md5('epoch:1:' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)")
          .reduceLeft((a, b) => s"($a * 16 + $b)")
        s"""SELECT doc_id, ROW_NUMBER() OVER (ORDER BY $draw, doc_id)
           |  AS epoch_pos
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Zipf-law fit of the corpus unigram distribution, on the q213
    // bigram-token corpus (the raw 31-word synthetic vocabulary is too
    // small to profile; bigrams give ~10^3 terms with a real rank
    // curve). Ranks come from the range-sorted global rank — no
    // single-partition window at any vocabulary size; OLS sums are
    // permutation-invariant within frequency ties, so the oracle may
    // break ties its own way and reach identical numbers.
    QueryDef("q276_zipf_fit",
      (s, d) => graft.ops.Profile.zipfFit(bigramDocs(table(s, d,
        "documents"))),
      Some(s"""WITH $bigramTermsSql,
              |f AS (SELECT term, COUNT(*) AS c FROM w GROUP BY 1),
              |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC) AS r
              |  FROM f),
              |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(c) AS BIGINT) AS ntok,
              |    SUM(ln(r)) AS sx, SUM(ln(c)) AS sy,
              |    SUM(ln(r) * ln(r)) AS sxx, SUM(ln(c) * ln(c)) AS syy,
              |    SUM(ln(r) * ln(c)) AS sxy
              |  FROM r)
              |SELECT n AS n_vocab, ntok AS n_tokens,
              |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
              |    AS slope,
              |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
              |    * sx) / n, 6) AS intercept,
              |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
              |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
              |FROM a""".stripMargin)),

    // Heaps-law fit of vocabulary growth over per-document checkpoints
    // (same bigram corpus). V(N) is EXACT at every checkpoint via two
    // global prefix sums (doc token starts; cumulative new-term
    // counts) — the q268 machinery composed at a second grain.
    QueryDef("q277_heaps_law",
      (s, d) => graft.ops.Profile.heapsFit(bigramDocs(table(s, d,
        "documents"))),
      Some(s"""WITH $bigramDocsSql,
              |lens AS (SELECT doc_id, len(bl) AS n,
              |    SUM(len(bl)) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      - len(bl) AS start
              |  FROM bd WHERE len(bl) > 0),
              |tok AS (SELECT l.doc_id, l.start + t.i - 1 AS gp,
              |    bd.bl[t.i] AS term
              |  FROM lens l JOIN bd USING (doc_id),
              |    UNNEST(generate_series(1, l.n)) t(i)),
              |fd AS (SELECT term, arg_min(doc_id, gp) AS fdoc
              |  FROM tok GROUP BY 1),
              |nn AS (SELECT fdoc AS doc_id, COUNT(*) AS n_new
              |  FROM fd GROUP BY 1),
              |chk AS (SELECT l.doc_id, l.start + l.n AS bign,
              |    SUM(COALESCE(nn.n_new, 0)) OVER (ORDER BY l.doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS v
              |  FROM lens l LEFT JOIN nn USING (doc_id)),
              |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(MAX(bign) AS BIGINT) AS ntok,
              |    CAST(MAX(v) AS BIGINT) AS nvoc,
              |    SUM(ln(bign)) AS sx, SUM(ln(v)) AS sy,
              |    SUM(ln(bign) * ln(bign)) AS sxx,
              |    SUM(ln(v) * ln(v)) AS syy,
              |    SUM(ln(bign) * ln(v)) AS sxy
              |  FROM chk)
              |SELECT n AS n_docs, ntok AS n_tokens, nvoc AS n_vocab,
              |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
              |    AS slope,
              |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
              |    * sx) / n, 6) AS intercept,
              |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
              |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
              |FROM a""".stripMargin)),

    // MinHash-LSH banding planner: the closed-form S-curve table for
    // every factorization of 12 hashes — pure arithmetic both engines
    // replay; the design tool in front of q42's production banding.
    QueryDef("q278_lsh_plan",
      (s, _) => {
        org.apache.spark.sql.SparkSession.setActiveSession(s)
        graft.ops.Dedup.lshPlan(12).orderBy("bands", "s")
      },
      Some("""WITH p AS (SELECT b, 12 // b AS r
             |  FROM UNNEST([1, 2, 3, 4, 6, 12]) t(b)),
             |g AS (SELECT i * 0.05 AS s
             |  FROM UNNEST(generate_series(1, 19)) t(i))
             |SELECT b AS bands, r AS rows_per_band,
             |  ROUND(pow(1.0 / b, 1.0 / r), 6) AS t_star,
             |  ROUND(s, 6) AS s,
             |  ROUND(1.0 - pow(1.0 - pow(s, r), b), 6) AS p_collide
             |FROM p, g ORDER BY bands, s""".stripMargin)),

    // Rational 2/3 PCM resampling by EXACT-integer linear interpolation
    // over real decoded WAV samples (the q251 fabrication), per-block
    // energy in the x2 scaled domain — rate normalization before audio
    // fingerprinting. 192 samples -> 128, two full 64-sample blocks.
    QueryDef("q279_audio_resample",
      (s, d) => {
        val s2 = s; import s2.implicits._
        val media = table(s, d, "documents")
          .where(expr("octet_length(text) = length(text)"))
          .select(col("doc_id"),
            rpad(substring(col("text"), 1, 192), 192, "x").as("px"))
          .as[(Long, String)]
          .map { case (id, px) =>
            (id, graft.ops.Multimodal.encodePcmWav(
              px.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
              8000))
          }
          .toDF("doc_id", "media")
        graft.ops.Multimodal
          .audioResampleBlocks(media, up = 2, down = 3, blockLen = 64)
          .toDF().orderBy("doc_id", "block")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    rpad(substr(text, 1, 192), 192, 'x') AS px
             |  FROM documents WHERE strlen(text) = length(text)),
             |res AS (SELECT doc_id, j, CAST(j // 64 AS INT) AS block,
             |    CASE WHEN (j * 3) % 2 = 0
             |      THEN ascii(substr(px, CAST((j * 3) // 2 AS INT) + 1,
             |        1)) * 2
             |      ELSE ascii(substr(px, CAST((j * 3) // 2 AS INT) + 1,
             |          1))
             |        + ascii(substr(px, CAST((j * 3) // 2 AS INT) + 2,
             |          1)) END AS u
             |  FROM p, UNNEST(generate_series(0, 127)) t(j))
             |SELECT doc_id, block, CAST(COUNT(*) AS INT) AS n_samples,
             |  CAST(SUM((u - 256) * (u - 256)) AS BIGINT)
             |    AS energy_scaled
             |FROM res GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Rendezvous (highest-random-weight) shard routing: stable under
    // topology change (PropertySpec pins minimal movement); ties break
    // to the smallest shard name, deterministically on both engines.
    QueryDef("q280_rendezvous_sharding",
      (s, d) => graft.ops.Sampling.rendezvousAssign(
          table(s, d, "documents").select("doc_id"),
          (0 until 8).map(i => s"s$i"))
        .orderBy("doc_id"),
      Some {
        val draw = (1 to 8)
          .map(i => "(strpos('0123456789abcdef', substr(" +
            s"md5('rdv:' || CAST(doc_id AS VARCHAR) || ':' || shard), " +
            s"$i, 1)) - 1)")
          .reduceLeft((a, b) => s"($a * 16 + $b)")
        s"""WITH sh AS (SELECT UNNEST([${(0 until 8)
              .map(i => s"'s$i'").mkString(", ")}]) AS shard),
           |w AS (SELECT doc_id, shard, $draw AS w
           |  FROM documents, sh),
           |r AS (SELECT doc_id, shard, ROW_NUMBER() OVER (
           |    PARTITION BY doc_id ORDER BY w DESC, shard) AS rn
           |  FROM w)
           |SELECT doc_id, shard FROM r WHERE rn = 1
           |ORDER BY doc_id""".stripMargin
      }),

    // Measured recall/precision of the q42 banding against the q41
    // exact tier on the SAME (SF-gated) corpus — the audit that turns
    // q278's theoretical S-curve into numbers for this data.
    QueryDef("q281_lsh_recall_audit",
      (s, d) => graft.ops.Dedup.lshRecallAudit(
        table(s, d, "documents").where(col("doc_id") < 6000),
        n = 3, numHashes = 8, rowsPerBand = 2, minJaccard = 0.5),
      Some(s"""WITH ${shinglesSql("doc_id < 6000")},
              |sizes AS (SELECT id, COUNT(*) n_sh FROM sh GROUP BY 1),
              |inter AS (SELECT a.id id1, b.id id2, COUNT(*) n_common
              |  FROM sh a JOIN sh b
              |    ON a.shingle = b.shingle AND a.id < b.id
              |  GROUP BY 1, 2),
              |truth AS (SELECT id1, id2 FROM inter
              |  JOIN sizes na ON na.id = id1 JOIN sizes nb ON nb.id = id2
              |  WHERE CAST(n_common AS DOUBLE)
              |    / (na.n_sh + nb.n_sh - n_common) >= 0.5),
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)),
              |      '|')) AS band_key
              |  FROM sigs GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              |  FROM bands a JOIN bands b ON a.band = b.band
              |    AND a.band_key = b.band_key AND a.id < b.id),
              |hits AS (SELECT t.* FROM truth t
              |  JOIN cand c ON t.id1 = c.id1 AND t.id2 = c.id2),
              |c AS (SELECT
              |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
              |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand)
              |      AS n_candidates,
              |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits)
              |SELECT n_true, n_candidates, n_hits,
              |  ROUND(CASE WHEN n_true > 0
              |    THEN CAST(n_hits AS DOUBLE) / n_true END, 6) AS recall,
              |  ROUND(CASE WHEN n_candidates > 0
              |    THEN CAST(n_hits AS DOUBLE) / n_candidates END, 6)
              |    AS candidate_precision
              |FROM c""".stripMargin)),

    // Script-aware tokenization on a MIXED-script corpus: every third
    // document gets a twin with vowels transliterated into Han
    // ideographs (mixed Latin+CJK words — the web-corpus shape that
    // breaks whitespace tokenization), and tokenStats runs under
    // Tokenize.ScriptAware: each whitespace-free-script codepoint is
    // its own token, Latin words stay words. The oracle replays the
    // byte-identical codepoint-range segmentation in RE2.
    QueryDef("q288_script_tokens",
      (s, d) => {
        val docs = table(s, d, "documents").select("doc_id", "text")
        val twins = docs.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            translate(col("text"), "aeiou",
              "\u5b89\u8863\u5b87\u6c5f\u65bc").as("text"))
        TextAnalysis.tokenStats(docs.unionByName(twins),
            tokenizer = graft.ops.Tokenize.ScriptAware)
          .orderBy("doc_id")
      },
      Some(s"""WITH twins AS (SELECT doc_id + 2000000 AS doc_id,
              |    translate(text, 'aeiou',
              |      '\u5b89\u8863\u5b87\u6c5f\u65bc') AS text
              |  FROM documents WHERE doc_id % 3 = 0),
              |ad AS (SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id, text FROM twins),
              |tk AS (SELECT doc_id,
              |    list_filter(regexp_split_to_array(
              |      regexp_replace(text, '($scriptClassSql)', ' \\1 ',
              |        'g'), ' '), x -> x <> '') AS t,
              |    regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')
              |      AS re
              |  FROM ad)
              |SELECT doc_id, CAST(len(t) AS BIGINT) AS ws_tokens,
              |  CAST(len(re) AS BIGINT) AS re_tokens,
              |  CAST(len(list_distinct(t)) AS BIGINT) AS uniq_tokens
              |FROM tk ORDER BY doc_id""".stripMargin)),

    // CJK near-dup dedup end-to-end: an UNSPACED ideographic corpus
    // (every letter transliterated to Han, spaces stripped — whitespace
    // tokenization sees ONE token per document and the shingle stream
    // is empty, so plain MinHash is structurally blind here) with a
    // near-identical twin per document (first codepoint dropped).
    // minhashCandidates under Tokenize.ScriptAware shingles character
    // tokens and catches every twin; the oracle replays segmentation,
    // signatures, and banding digit for digit. SF-gated like q41.
    QueryDef("q289_cjk_neardup",
      (s, d) => {
        val cjk = table(s, d, "documents")
          .where(col("doc_id") % 5 === 0 && col("doc_id") < 2000)
          .select(col("doc_id"),
            regexp_replace(translate(col("text"),
              "abcdefghijklmnopqrstuvwxyz", cjkAlphabet), " ", "")
              .as("text"))
        val twins = cjk.select((col("doc_id") + 3000000L).as("doc_id"),
          expr("substr(text, 2)").as("text"))
        Dedup.minhashCandidates(cjk.unionByName(twins), 3, 8, 2,
            tokenizer = graft.ops.Tokenize.ScriptAware)
          .orderBy("id1", "id2")
      },
      Some(s"""WITH cjk AS (SELECT doc_id,
              |    replace(translate(text, 'abcdefghijklmnopqrstuvwxyz',
              |      '$cjkAlphabet'), ' ', '') AS text
              |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 2000),
              |ad AS (SELECT doc_id, text FROM cjk
              |  UNION ALL SELECT doc_id + 3000000, substr(text, 2)
              |  FROM cjk),
              |toks AS (SELECT doc_id id,
              |    list_filter(regexp_split_to_array(
              |      regexp_replace(text, '($scriptClassSql)', ' \\1 ',
              |        'g'), ' '), x -> x <> '') AS l
              |  FROM ad),
              |t3 AS (SELECT id, l FROM toks WHERE len(l) >= 3),
              |sh AS (SELECT DISTINCT id,
              |    array_to_string(l[i:i+2], ' ') AS shingle
              |  FROM t3, UNNEST(generate_series(1, len(l) - 2)) t(i)),
              |sigs AS (SELECT id, h,
              |    MIN(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS mh
              |  FROM sh, UNNEST(generate_series(0, 7)) t(h) GROUP BY 1, 2),
              |bands AS (SELECT id, h // 2 AS band,
              |    md5(array_to_string(list_sort(
              |      list(lpad(CAST(h AS VARCHAR), 2, '0') || '=' || mh)),
              |      '|')) AS band_key
              |  FROM sigs GROUP BY 1, 2)
              |SELECT DISTINCT a.id AS id1, b.id AS id2
              |FROM bands a JOIN bands b ON a.band = b.band
              |  AND a.band_key = b.band_key AND a.id < b.id
              |ORDER BY 1, 2""".stripMargin)),

    // Whole-training-run epoch streams: four epochs' loading orders in
    // ONE pass (one epoch-explode, one stats agg, one partitioned
    // window) instead of four rank passes; per-epoch output is
    // bit-identical to q283's single-epoch operator, and the oracle
    // replays the 15-hex draw + per-epoch ROW_NUMBER digit for digit.
    QueryDef("q290_epoch_streams",
      (s, d) => graft.ops.Sampling.epochStreams(
          table(s, d, "documents").select("doc_id"), epochs = Seq(1, 2, 3, 4))
        .orderBy("epoch", "doc_id"),
      Some {
        val draw = hex15Sql(
          "md5('epoch:' || CAST(epoch AS VARCHAR) || ':' || " +
            "CAST(doc_id AS VARCHAR))")
        s"""WITH ep AS (SELECT d.doc_id, e.epoch FROM documents d
           |  CROSS JOIN (VALUES (1), (2), (3), (4)) e(epoch))
           |SELECT doc_id, epoch, ROW_NUMBER() OVER (PARTITION BY epoch
           |    ORDER BY $draw, doc_id) AS epoch_pos
           |FROM ep ORDER BY epoch, doc_id""".stripMargin
      }),
  )


  /** q282's oracle: q275's integer file model with the Hilbert chain —
    * one CTE per level computing (hx, hy, hd) by div/mod arithmetic.
    */
  private def hilbertSkippingOracleSql(bits: Int, numFiles: Int): String = {
    val zterms = (0 until bits).flatMap(i => Seq(
      s"(((np >> $i) & 1) << ${2 * i})",
      s"(((ns >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
    val side = 1L << bits
    val levels = ((bits - 1) to 0 by -1).zipWithIndex.map {
      case (k, li) =>
        val sL = 1L << k
        val prev = if (li == 0) "g0" else s"g$li"
        s"""g${li + 1} AS (SELECT l_partkey, l_suppkey, np, ns, zvalue,
           |    CASE WHEN hy // $sL = 0 THEN (CASE WHEN hx // $sL = 1
           |      THEN $sL - 1 - (hy % $sL) ELSE hy % $sL END)
           |      ELSE hx % $sL END AS hx,
           |    CASE WHEN hy // $sL = 0 THEN (CASE WHEN hx // $sL = 1
           |      THEN $sL - 1 - (hx % $sL) ELSE hx % $sL END)
           |      ELSE hy % $sL END AS hy,
           |    hd + ${sL * sL} * (CASE WHEN hx // $sL = 0
           |      THEN hy // $sL ELSE 3 - (hy // $sL) END) AS hd
           |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    val gN = s"g$bits"
    s"""WITH b AS (
       |  SELECT MIN(l_partkey) pmin0, MAX(l_partkey) pmax0,
       |         MIN(l_suppkey) smin0, MAX(l_suppkey) smax0
       |  FROM lineitem),
       |n AS (
       |  SELECT l_partkey, l_suppkey, pmin0, pmax0, smin0, smax0,
       |    (l_partkey - pmin0) * $side // (pmax0 - pmin0 + 1) AS np,
       |    (l_suppkey - smin0) * $side // (smax0 - smin0 + 1) AS ns
       |  FROM lineitem, b),
       |z AS (SELECT *, $zterms AS zvalue FROM n),
       |g0 AS (SELECT l_partkey, l_suppkey, np, ns, zvalue,
       |    np AS hx, ns AS hy, CAST(0 AS BIGINT) AS hd FROM z),
       |$levels,
       |hb AS (SELECT MIN(hd) hmn, MAX(hd) hmx,
       |    MIN(zvalue) zmn, MAX(zvalue) zmx FROM $gN),
       |bb AS (SELECT pmin0, pmax0, smin0, smax0 FROM b),
       |f AS (
       |  SELECT 'hilbert' AS layout, l_partkey, l_suppkey,
       |    (hd - hmn) * $numFiles // (hmx - hmn + 1) AS file
       |  FROM $gN, hb
       |  UNION ALL
       |  SELECT 'zorder', l_partkey, l_suppkey,
       |    (zvalue - zmn) * $numFiles // (zmx - zmn + 1)
       |  FROM $gN, hb
       |  UNION ALL
       |  SELECT 'sort_l_partkey', l_partkey, l_suppkey,
       |    (l_partkey - pmin0) * $numFiles // (pmax0 - pmin0 + 1)
       |  FROM $gN, bb
       |  UNION ALL
       |  SELECT 'sort_l_suppkey', l_partkey, l_suppkey,
       |    (l_suppkey - smin0) * $numFiles // (smax0 - smin0 + 1)
       |  FROM $gN, bb),
       |st AS (SELECT layout, file, COUNT(*) AS n_rows,
       |    MIN(l_partkey) AS mn_p, MAX(l_partkey) AS mx_p,
       |    MIN(l_suppkey) AS mn_s, MAX(l_suppkey) AS mx_s
       |  FROM f GROUP BY 1, 2),
       |pr AS (SELECT * FROM (VALUES
       |    ('l_partkey', CAST(100 AS BIGINT), CAST(150 AS BIGINT)),
       |    ('l_suppkey', CAST(5 AS BIGINT), CAST(8 AS BIGINT)))
       |  p(probe_col, lo, hi)),
       |j AS (SELECT st.*, pr.probe_col, pr.lo, pr.hi,
       |    CASE WHEN pr.probe_col = 'l_suppkey'
       |      THEN NOT (mx_s < lo OR mn_s > hi)
       |      ELSE NOT (mx_p < lo OR mn_p > hi) END AS scanned
       |  FROM st CROSS JOIN pr)
       |SELECT layout, probe_col, lo, hi,
       |  CAST(COUNT(*) AS BIGINT) AS files_nonempty,
       |  CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
       |    AS files_scanned,
       |  CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END)
       |    AS BIGINT) AS rows_scanned
       |FROM j GROUP BY 1, 2, 3, 4
       |ORDER BY layout, probe_col""".stripMargin
  }

  /** The q213/q276/q277 bigram-token corpus: adjacent-word pairs joined
    * with '_' — turns the 31-word synthetic vocabulary into ~10^3
    * terms with a real rank-frequency curve.
    */
  private def bigramDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), filter(split(col("text"), " "),
        x => length(x) > 0).as("l"))
      .where(size(col("l")) >= 2)
      .select(col("doc_id"), array_join(expr(
        "transform(sequence(1, size(l) - 1), i -> " +
          "concat(element_at(l, i), '_', element_at(l, i + 1)))"),
        " ").as("text"))

  /** DuckDB mirrors of [[bigramDocs]]: `bd(doc_id, bl)` (the bigram
    * token list per doc) and `w(term)` (the flattened term stream).
    */
  private def bigramDocsSql: String =
    """bd AS (SELECT doc_id,
      |    [l[i] || '_' || l[i + 1]
      |     FOR i IN generate_series(1, len(l) - 1)] AS bl
      |  FROM (SELECT doc_id,
      |      list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
      |    FROM documents) s0
      |  WHERE len(l) >= 2)""".stripMargin

  private def bigramTermsSql: String = bigramDocsSql +
    """,
      |w AS (SELECT UNNEST(bl) AS term FROM bd)""".stripMargin


  /** q272's fixed blocklist: real corpus-vocabulary phrases with nested
    * and overlapping entries, plus one absent phrase (index 11 never
    * fires).
    */
  private def BlocklistPhrases: Seq[String] = Seq(
    "table", "table part", "row scan slow", "scan", "fast merge",
    "spark", "agg row", "window table", "a a the", "customer query",
    "value fast", "entirely absent phrase")

  /** q273: leftmost-longest blocklist redaction, oracle-replayed as a
    * per-document recursive find-min-position / max-length fold. The
    * inline list literal repeats inside the recursive term (DuckDB
    * correlates lambdas over it cheaply; a CTE cross join in the
    * recursive term would re-materialize per level).
    */
  private def redactEntry: QueryDef = {
    val lits = BlocklistPhrases
      .map(p => "'" + p.replace("'", "''") + "'").mkString(", ")
    val mpos = s"list_min([strpos(rest, q) FOR q IN [$lits] " +
      "IF strpos(rest, q) > 0])"
    val mlen = s"list_max([len(q) FOR q IN [$lits] " +
      s"IF strpos(rest, q) = $mpos])"
    QueryDef("q273_redact_blocklist",
      (s, d) => graft.ops.Curation.redactBlocklist(
          table(s, d, "documents"), BlocklistPhrases, "<BLOCKED>")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE step AS (
              |  SELECT doc_id, '' AS done, text AS rest FROM documents
              |  UNION ALL
              |  SELECT doc_id,
              |    done || rest[1:$mpos - 1] || '<BLOCKED>' AS done,
              |    rest[$mpos + $mlen:] AS rest
              |  FROM step
              |  WHERE $mpos IS NOT NULL),
              |fin AS (SELECT doc_id, done || rest AS clean_text,
              |    CAST((len(done || rest)
              |      - len(replace(done || rest, '<BLOCKED>', '')))
              |      // len('<BLOCKED>') AS BIGINT)
              |    - CAST((SELECT (len(d0.text)
              |        - len(replace(d0.text, '<BLOCKED>', '')))
              |        // len('<BLOCKED>')
              |      FROM documents d0 WHERE d0.doc_id = step.doc_id)
              |      AS BIGINT) AS n_redactions
              |  FROM step WHERE $mpos IS NULL)
              |SELECT doc_id, clean_text, n_redactions
              |FROM fin ORDER BY doc_id""".stripMargin))
  }

  /** DuckDB replay of [[graft.ops.TextAnalysis.tailRepetition]] over
    * the q203 salted documents: per period p, the backward unit-match
    * list and `r_p` = the leading-true run + 1 (via the first-false
    * position); the smallest period reaching `minRepeats` reports.
    */
  private def tailRepOracleSql(maxPeriod: Int, maxUnits: Int,
      minRepeats: Int): String = {
    def rp(p: Int): String = {
      val matches = s"""[n >= (k + 1) * $p AND
        |  l[n - (k + 1) * $p + 1 : n - (k + 1) * $p + $p] =
        |  l[n - $p + 1 : n] FOR k IN generate_series(1, ${maxUnits - 1})]"""
        .stripMargin
      s"""CASE WHEN n >= ${2 * p}
         |  THEN COALESCE(list_position($matches, false), $maxUnits)
         |  ELSE 1 END""".stripMargin
    }
    val rCols = (1 to maxPeriod)
      .map(p => s"(${rp(p)}) AS r$p").mkString(",\n")
    val periodCase = (1 to maxPeriod)
      .map(p => s"WHEN r$p >= $minRepeats THEN $p").mkString(" ")
    val repCase = (1 to maxPeriod)
      .map(p => s"WHEN r$p >= $minRepeats THEN r$p").mkString(" ")
    s"""WITH salted AS (SELECT doc_id,
       |    text || CASE doc_id % 3
       |      WHEN 0 THEN ' la la la la la'
       |      WHEN 1 THEN ' spam ham spam ham spam ham spam ham'
       |      ELSE ' clean ending' END AS text
       |  FROM documents),
       |t AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
       |  FROM salted),
       |t2 AS (SELECT doc_id, l, len(l) AS n FROM t),
       |r AS (SELECT doc_id,
       |$rCols
       |  FROM t2)
       |SELECT doc_id,
       |  CASE $periodCase ELSE 0 END AS period,
       |  CASE $repCase ELSE 0 END AS n_repeats
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Unrolled DuckDB replay of [[graft.ops.Graph.kCorePeel]] over the
    * q174 co-purchase edge relation: per round, degrees over the current
    * edge set, the surviving node set (deg >= k), and the restricted
    * edges — MATERIALIZED so each round evaluates once.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem WHERE l_partkey < 2000),
             |e0 AS MATERIALIZED (
             |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
               |d$i AS (SELECT n, COUNT(*) AS deg FROM (
               |    SELECT u AS n FROM e${i - 1}
               |    UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1),
               |k$i AS (SELECT n FROM d$i WHERE deg >= $k),
               |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
               |  WHERE u IN (SELECT n FROM k$i)
               |    AND v IN (SELECT n FROM k$i))""".stripMargin
    }
    sb ++= s"""
              |SELECT n AS node, COUNT(*) AS deg FROM (
              |  SELECT u AS n FROM e$rounds
              |  UNION ALL SELECT v FROM e$rounds) GROUP BY 1
              |ORDER BY node""".stripMargin
    sb.toString
  }

  /** Unrolled DuckDB replay of [[graft.ops.Similarity.kCenters]]: per
    * round, min squared Euclidean distance to the chosen set (the same
    * `(‖p‖² + ‖c‖²) − 2·p·c` arithmetic in the same order) and a 1-row
    * argmax with the vec_id tie-break.
    */
  private def kCentersOracleSql(k: Int): String = {
    val d2 = s"((${norm2("p")} + ${norm2("c")}) - 2 * ${dot64.format("p", "c")})"
    val sb = new StringBuilder
    sb ++= """WITH pts AS MATERIALIZED (
             |  SELECT vec_id, embedding FROM embeddings),
             |ch1 AS MATERIALIZED (SELECT 1 AS rk, vec_id, 0.0 AS d2,
             |  embedding FROM pts
             |  WHERE vec_id = (SELECT MIN(vec_id) FROM pts))""".stripMargin
    for (i <- 2 to k) {
      val prev = (1 until i).map(j =>
        s"SELECT rk, vec_id, d2, embedding FROM ch$j")
        .mkString(" UNION ALL ")
      sb ++= s""",
               |nd$i AS (SELECT p.vec_id, MIN($d2) AS d2
               |  FROM pts p CROSS JOIN ($prev) c
               |  WHERE p.vec_id NOT IN (SELECT vec_id FROM ($prev))
               |  GROUP BY p.vec_id),
               |ch$i AS MATERIALIZED (SELECT $i AS rk, n.vec_id, n.d2,
               |  p.embedding
               |  FROM nd$i n JOIN pts p USING (vec_id)
               |  ORDER BY n.d2 DESC, n.vec_id LIMIT 1)""".stripMargin
    }
    val uni = (1 to k).map(j => s"SELECT rk, vec_id, d2 FROM ch$j")
      .mkString(" UNION ALL ")
    sb ++= s"""
             |SELECT rk, vec_id, ROUND(d2, 5) AS d2 FROM ($uni)
             |ORDER BY rk""".stripMargin
    sb.toString
  }

  /** Unrolled DuckDB replay of [[graft.ops.TextAnalysis.bpeTrain]]:
    * per step, adjacent-pair counts over the current vocabulary, a 1-row
    * argmax (count desc, pair asc), and the greedy left-to-right merge
    * fold via `list_reduce` with list-of-list accumulation.
    */
  private def bpeOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH v0 AS MATERIALIZED (
             |  SELECT w, COUNT(*) AS freq
             |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE len(w) > 0 GROUP BY w),
             |s0 AS MATERIALIZED (SELECT freq,
             |  [substr(w, g, 1) FOR g IN generate_series(1, len(w))] AS syms
             |  FROM v0)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
               |p$i AS (SELECT syms[t.g] AS a, syms[t.g + 1] AS b,
               |    SUM(freq) AS cnt
               |  FROM s${i - 1},
               |       UNNEST(generate_series(1, len(syms) - 1)) t(g)
               |  GROUP BY 1, 2),
               |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
               |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (i < k) sb ++= s""",
               |s$i AS MATERIALIZED (SELECT freq,
               |  list_reduce(list_transform(syms, x -> [x]), (acc, x) ->
               |    CASE WHEN acc[-1] = m.a AND x[1] = m.b
               |      THEN acc[:-2] || [m.a || m.b]
               |      ELSE acc || x END) AS syms
               |  FROM s${i - 1}, m$i m)""".stripMargin
    }
    sb ++= (1 to k)
      .map(i => s"SELECT $i AS step, a, b, CAST(cnt AS BIGINT) AS cnt " +
        s"FROM m$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")
    sb.toString
  }

  /** Unrolled DuckDB replay of [[graft.ops.Linkage.linkageEm]] on the
    * q196 register pair: the blocked pairs collapse to the ordered
    * agreement-pattern list once, then each EM iteration is one
    * `list_transform` (per-pattern weight + contribution struct, with
    * products left-associated in field order exactly like the driver
    * loop) and one `list_reduce` (elementwise sum in sorted pattern
    * order — float-order identical to the engine's fold).
    */
  private def linkageEmOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH c AS (SELECT c_custkey, c_nationkey,
             |    c_mktsegment AS seg,
             |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_k,
             |    right(c_name, 1) AS nd
             |  FROM customer),
             |l AS (SELECT * FROM c WHERE c_custkey <= 500),
             |r AS (SELECT * FROM c
             |  WHERE c_custkey > 500 AND c_custkey <= 1000),
             |u1 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE seg IS NOT NULL GROUP BY seg)),
             |u2 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE bal_k IS NOT NULL GROUP BY bal_k)),
             |u3 AS (SELECT CAST(SUM(cnt * cnt) AS DOUBLE)
             |    / (SUM(cnt) * SUM(cnt)) AS u
             |  FROM (SELECT COUNT(*) AS cnt FROM r
             |        WHERE nd IS NOT NULL GROUP BY nd)),
             |pats AS MATERIALIZED (SELECT
             |    CASE WHEN l.seg = r.seg THEN 1 ELSE 0 END AS g1,
             |    CASE WHEN l.bal_k = r.bal_k THEN 1 ELSE 0 END AS g2,
             |    CASE WHEN l.nd = r.nd THEN 1 ELSE 0 END AS g3,
             |    COUNT(*) AS cnt
             |  FROM l JOIN r USING (c_nationkey) GROUP BY 1, 2, 3),
             |pl AS MATERIALIZED (SELECT
             |    list(struct_pack(g1 := g1, g2 := g2, g3 := g3,
             |      cnt := cnt) ORDER BY g1, g2, g3) AS ps
             |  FROM pats),
             |em0 AS (SELECT CAST(0.9 AS DOUBLE) AS m1,
             |    CAST(0.9 AS DOUBLE) AS m2, CAST(0.9 AS DOUBLE) AS m3,
             |    u1.u AS v1, u2.u AS v2, u3.u AS v3,
             |    CAST(0.1 AS DOUBLE) AS lam
             |  FROM u1, u2, u3)""".stripMargin
    // per-pattern posterior weight, products left-associated in field
    // order (g1, g2, g3) exactly like the driver loop's while-loop
    val pm = "((CASE WHEN p.g1 = 1 THEN e.m1 ELSE 1 - e.m1 END) * " +
      "(CASE WHEN p.g2 = 1 THEN e.m2 ELSE 1 - e.m2 END)) * " +
      "(CASE WHEN p.g3 = 1 THEN e.m3 ELSE 1 - e.m3 END)"
    val pu = "((CASE WHEN p.g1 = 1 THEN e.v1 ELSE 1 - e.v1 END) * " +
      "(CASE WHEN p.g2 = 1 THEN e.v2 ELSE 1 - e.v2 END)) * " +
      "(CASE WHEN p.g3 = 1 THEN e.v3 ELSE 1 - e.v3 END)"
    val w = s"(e.lam * $pm / (e.lam * $pm + (1 - e.lam) * $pu))"
    for (k <- 1 to iters) {
      sb ++= s""",
               |f$k AS (SELECT list_reduce(list_transform(pl.ps, p ->
               |    struct_pack(
               |      sw := p.cnt * $w,
               |      s1 := p.cnt * $w * p.g1,
               |      s2 := p.cnt * $w * p.g2,
               |      s3 := p.cnt * $w * p.g3,
               |      su := p.cnt * (1 - $w),
               |      t1 := p.cnt * (1 - $w) * p.g1,
               |      t2 := p.cnt * (1 - $w) * p.g2,
               |      t3 := p.cnt * (1 - $w) * p.g3,
               |      n := CAST(p.cnt AS DOUBLE))),
               |    (a, x) -> struct_pack(sw := a.sw + x.sw,
               |      s1 := a.s1 + x.s1, s2 := a.s2 + x.s2,
               |      s3 := a.s3 + x.s3, su := a.su + x.su,
               |      t1 := a.t1 + x.t1, t2 := a.t2 + x.t2,
               |      t3 := a.t3 + x.t3, n := a.n + x.n)) AS t
               |  FROM pl, em${k - 1} e),
               |em$k AS (SELECT t.s1 / t.sw AS m1, t.s2 / t.sw AS m2,
               |    t.s3 / t.sw AS m3, t.t1 / t.su AS v1,
               |    t.t2 / t.su AS v2, t.t3 / t.su AS v3,
               |    t.sw / t.n AS lam
               |  FROM f$k)""".stripMargin
    }
    val fieldSel = Seq(("seg", "m1", "v1"), ("bal_k", "m2", "v2"),
      ("nd", "m3", "v3")).map { case (f, m, v) =>
      s"""SELECT '$f' AS field, ROUND($m, 9) AS m, ROUND($v, 9) AS u,
         |  ROUND(ln($m / $v) / ln(2), 6) AS w_agree,
         |  ROUND(ln((1 - $m) / (1 - $v)) / ln(2), 6) AS w_disagree,
         |  ROUND(lam, 9) AS lambda FROM em$iters""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb ++= s"\n$fieldSel\nORDER BY field"
    sb.toString
  }

  /** DuckDB replay of [[graft.ops.TextAnalysis.bpeTrain]] at a
    * merge count no unrolled-CTE oracle could carry (q213 runs 1000):
    * ONE recursive CTE whose working table is the evolving sampled
    * vocabulary; each iteration re-derives the argmax pair from the
    * working table (count desc, (a, b) asc — DuckDB permits the extra
    * self-reference inside the recursive term) and folds the merge
    * greedily left-to-right, exactly the engine's driver loop.
    * Recursion stops at `k` merges or when no word has two symbols
    * left, matching the engine's exhaustion rule. The training corpus
    * is the documents table's word BIGRAMS joined by '_' (adjacent
    * non-empty tokens), giving a derived vocabulary rich enough for
    * 1000 genuine merges on the fixed 31-word synthetic text.
    */
  private def bpeLocalOracleSql(k: Int, frac: Double,
      maxVocab: Int = 1 << 20): String =
    s"""WITH RECURSIVE docs0 AS (
       |  SELECT array_to_string([l[i] || '_' || l[i+1]
       |      FOR i IN generate_series(1, len(l) - 1)], ' ') AS text
       |  FROM (SELECT list_filter(string_split(text, ' '),
       |          x -> len(x) > 0) AS l
       |        FROM documents)
       |  WHERE len(l) >= 2),
       |v0 AS MATERIALIZED (
       |  SELECT w, freq FROM (
       |    SELECT w, COUNT(*) AS freq
       |    FROM (SELECT UNNEST(string_split(text, ' ')) AS w
       |          FROM docs0 WHERE ${drawSql("bpe:")} < $frac)
       |    WHERE len(w) > 0 GROUP BY w)
       |  ORDER BY freq DESC, w LIMIT $maxVocab),
       |st AS (
       |  SELECT 0 AS step, NULL::VARCHAR AS ma, NULL::VARCHAR AS mb,
       |         NULL::BIGINT AS mcnt, freq,
       |         [substr(w, g, 1) FOR g IN generate_series(1, len(w))]
       |           AS syms
       |  FROM v0
       |  UNION ALL
       |  SELECT st.step + 1, m.a, m.b, m.cnt, st.freq,
       |         list_reduce(list_transform(st.syms, x -> [x]),
       |           (acc, x) ->
       |           CASE WHEN acc[-1] = m.a AND x[1] = m.b
       |             THEN acc[:-2] || [m.a || m.b] ELSE acc || x END)
       |           AS syms
       |  FROM st, (
       |     SELECT s.syms[t.g] AS a, s.syms[t.g + 1] AS b,
       |            SUM(s.freq) AS cnt
       |     FROM st s, UNNEST(generate_series(1, len(s.syms) - 1)) t(g)
       |     GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
       |  ) m
       |  WHERE st.step < $k
       |)
       |SELECT step, ma AS a, mb AS b, CAST(mcnt AS BIGINT) AS cnt
       |FROM (SELECT DISTINCT step, ma, mb, mcnt FROM st WHERE step >= 1)
       |ORDER BY step""".stripMargin

  /** DuckDB replay of SAMPLED train + full-corpus apply ([[q190]]):
    * the training vocabulary comes only from documents passing the
    * md5(text) content-hash gate (the q69 digit-by-digit draw), the
    * merge chain trains on that vocabulary, and the learned merges are
    * then folded over the FULL corpus's distinct-word vocabulary —
    * words outside the sample tokenize with the same merge table, like
    * the engine's narrow bpeApply pass.
    */
  private def bpeSampledOracleSql(k: Int, frac: Double): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH v0 AS MATERIALIZED (
              |  SELECT w, COUNT(*) AS freq
              |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w
              |        FROM documents
              |        WHERE ${drawSql("bpe:")} < $frac)
              |  WHERE len(w) > 0 GROUP BY w),
              |s0 AS MATERIALIZED (SELECT freq,
              |  [substr(w, g, 1) FOR g IN generate_series(1, len(w))] AS syms
              |  FROM v0)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
               |p$i AS (SELECT syms[t.g] AS a, syms[t.g + 1] AS b,
               |    SUM(freq) AS cnt
               |  FROM s${i - 1},
               |       UNNEST(generate_series(1, len(syms) - 1)) t(g)
               |  GROUP BY 1, 2),
               |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
               |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (i < k) sb ++= s""",
               |s$i AS MATERIALIZED (SELECT freq,
               |  list_reduce(list_transform(syms, x -> [x]), (acc, x) ->
               |    CASE WHEN acc[-1] = m.a AND x[1] = m.b
               |      THEN acc[:-2] || [m.a || m.b]
               |      ELSE acc || x END) AS syms
               |  FROM s${i - 1}, m$i m)""".stripMargin
    }
    // apply: fold every learned merge over the FULL distinct-word vocab
    sb ++= """,
             |a0 AS MATERIALIZED (SELECT w,
             |  [substr(w, g, 1) FOR g IN generate_series(1, len(w))] AS syms
             |  FROM (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE len(w) > 0)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
               |a$i AS MATERIALIZED (SELECT w,
               |  list_reduce(list_transform(syms, x -> [x]), (acc, x) ->
               |    CASE WHEN acc[-1] = m.a AND x[1] = m.b
               |      THEN acc[:-2] || [m.a || m.b]
               |      ELSE acc || x END) AS syms
               |  FROM a${i - 1}, m$i m)""".stripMargin
    }
    sb ++= s"""
              |, dw AS (SELECT doc_id, ws[t.g] AS w, t.g AS pos
              |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
              |        FROM documents) dd,
              |       UNNEST(generate_series(1, len(ws))) t(g)
              |  WHERE len(ws[t.g]) > 0)
              |SELECT doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_tokens,
              |  array_to_string(flatten(list(s.syms ORDER BY pos)), ' ')
              |    AS tokens
              |FROM dw JOIN a$k s USING (w)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** DuckDB replay of train-then-APPLY ([[q144]]): q128's training CTEs
    * with the vocabulary carrying its word (and the final merge's fold
    * materialized too, which training itself skips), then each document's
    * in-order words joined to their tokenized symbol lists — the oracle
    * tokenizes via the distinct-word vocab where the engine bakes the
    * fold into a narrow per-occurrence expression.
    */
  /** Shared language-ID oracle chain (q47 + the q254 evaluation):
    * stopword-lexicon scoring to the ranked relation `best`.
    */
  private def langIdOracleCtes: String =
    """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) word
      |              FROM documents),
      |totals AS (SELECT doc_id, COUNT(*) n_tok FROM toks GROUP BY 1),
      |lex(lang, word) AS (VALUES
      |  ('en','the'),('en','a'),('en','of'),('en','and'),('en','to'),
      |  ('en','in'),('en','is'),('en','it'),
      |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
      |  ('de','ein'),('de','zu'),('de','den'),
      |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),
      |  ('fr','un'),('fr','une'),('fr','des')),
      |langs AS (SELECT DISTINCT lang FROM lex),
      |hits AS (SELECT doc_id, lang, COUNT(*) n_hit
      |         FROM toks JOIN lex USING (word) GROUP BY 1, 2),
      |scored AS (SELECT t.doc_id, l.lang,
      |    COALESCE(h.n_hit, 0) * 1.0 / t.n_tok AS score
      |  FROM totals t CROSS JOIN langs l
      |  LEFT JOIN hits h ON h.doc_id = t.doc_id AND h.lang = l.lang),
      |best AS (SELECT doc_id, lang, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, lang ASC) rk
      |  FROM scored)""".stripMargin

  /** Shared BM25 oracle chain (q116 + the q243 NDCG evaluation): the
    * full tokenize → tf → postings → idf → per-term weight → ordered
    * score fold → ranked relation `r(query_id, doc_id, score, rk)`.
    */
  private def bm25OracleCtes: String =
    """WITH toks AS MATERIALIZED (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
      |    UNNEST(string_split(text, ' ')) AS term FROM documents),
      |tf AS MATERIALIZED (SELECT doc_id, dl, term,
      |    CAST(COUNT(*) AS DOUBLE) AS tf
      |  FROM toks GROUP BY 1, 2, 3),
      |qt AS MATERIALIZED (SELECT doc_id AS query_id,
      |    UNNEST(list_distinct(string_split(text, ' '))) AS term
      |  FROM documents
      |  WHERE doc_id % 250 = 0 AND doc_id < 100000),
      |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
      |  FROM documents),
      |posts AS MATERIALIZED (SELECT * FROM tf
      |  WHERE term IN (SELECT term FROM qt)),
      |df AS MATERIALIZED (SELECT term, CAST(COUNT(*) AS DOUBLE)
      |    AS df
      |  FROM posts GROUP BY 1),
      |w AS (SELECT q.query_id, p.doc_id, p.term,
      |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |      (p.tf * 2.2) /
      |      (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)) AS w
      |  FROM posts p JOIN df d USING (term) JOIN qt q USING (term)
      |  CROSS JOIN stats s),
      |sc AS (SELECT query_id, doc_id,
      |    list_reduce(list(w ORDER BY term), (a, b) -> a + b)
      |      AS score
      |  FROM w GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
      |    AS rk FROM sc)""".stripMargin

  /** Shared CTE prefix for the BPE-apply oracles: vocabulary, symbol
    * split, and `k` unrolled merge rounds, ending at relation `s&lt;k&gt;`
    * (w, freq, syms).
    */
  private def bpeOracleCtes(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH v0 AS MATERIALIZED (
             |  SELECT w, COUNT(*) AS freq
             |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE len(w) > 0 GROUP BY w),
             |s0 AS MATERIALIZED (SELECT w, freq,
             |  [substr(w, g, 1) FOR g IN generate_series(1, len(w))] AS syms
             |  FROM v0)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
               |p$i AS (SELECT syms[t.g] AS a, syms[t.g + 1] AS b,
               |    SUM(freq) AS cnt
               |  FROM s${i - 1},
               |       UNNEST(generate_series(1, len(syms) - 1)) t(g)
               |  GROUP BY 1, 2),
               |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
               |  ORDER BY cnt DESC, a, b LIMIT 1),
               |s$i AS MATERIALIZED (SELECT w, freq,
               |  list_reduce(list_transform(syms, x -> [x]), (acc, x) ->
               |    CASE WHEN acc[-1] = m.a AND x[1] = m.b
               |      THEN acc[:-2] || [m.a || m.b]
               |      ELSE acc || x END) AS syms
               |  FROM s${i - 1}, m$i m)""".stripMargin
    }
    sb.toString
  }

  private def bpeApplyOracleSql(k: Int): String =
    bpeOracleCtes(k) + s"""
      |, dw AS (SELECT doc_id, ws[t.g] AS w, t.g AS pos
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents) dd,
      |       UNNEST(generate_series(1, len(ws))) t(g)
      |  WHERE len(ws[t.g]) > 0)
      |SELECT doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n_tokens,
      |  array_to_string(flatten(list(s.syms ORDER BY pos)), ' ')
      |    AS tokens
      |FROM dw JOIN s$k s USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-language fertility (subword tokens per whitespace word) under
    * the same `k`-merge tokenizer — the q241 oracle.
    */
  private def bpeFertilityOracleSql(k: Int): String =
    bpeOracleCtes(k) + s"""
      |, dw AS (SELECT lang, ws[t.g] AS w
      |  FROM (SELECT lang, string_split(text, ' ') AS ws
      |        FROM documents) dd,
      |       UNNEST(generate_series(1, len(ws))) t(g)
      |  WHERE len(ws[t.g]) > 0)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(len(s.syms)) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(len(s.syms)) AS DOUBLE) / COUNT(*), 9)
      |    AS fertility
      |FROM dw JOIN s$k s USING (w)
      |GROUP BY lang ORDER BY lang""".stripMargin
}
