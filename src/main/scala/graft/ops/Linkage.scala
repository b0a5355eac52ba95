package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter 1969): score candidate
  * record pairs by summed log-likelihood-ratio field weights — the
  * standard entity-resolution ranker (same customer across two
  * registers, same supplier under two spellings) sitting between exact
  * join (too strict) and fuzzy join (no principled threshold).
  *
  * Everything is deterministic arithmetic over exact value-frequency
  * counts, so a SQL oracle replays scores bit-for-bit.
  */
object Linkage {

  /** Score blocked candidate pairs between `left` and `right`.
    *
    * For each comparison field f:
    *   - `u_f` (chance agreement among NON-matches) is estimated from
    *     the right register's NON-NULL value distribution:
    *     `u_f = Σ_v n_v² / N²` over values v ≠ NULL with N the non-null
    *     count — the probability two random records AGREE on the field.
    *     NULLs are excluded because pair scoring treats a NULL
    *     comparison as disagreement: counting the NULL mass as a
    *     "value" would credit u with chance agreement that can never be
    *     realized, deflating agreement weights on sparse fields. A
    *     field that is entirely NULL on the register gets u = NULL and
    *     contributes 0 (degenerate, below).
    *   - `m_f` (agreement among true matches) is the caller-supplied
    *     `mProb` (the standard simplification; EM refinement plugs into
    *     the same weights).
    *   - agreement on f contributes `log2(m/u_f)`, disagreement
    *     `log2((1−m)/(1−u_f))`. A degenerate field (u_f = 0 or 1, i.e.
    *     constant or vacuous on the register) carries no information
    *     and contributes 0 either way, never ±∞.
    *
    * `score = Σ_f w_f`; high scores are probable same-entity pairs.
    * NULL field values compare as disagreement (standard conservative
    * choice; pre-coalesce upstream to change it). Returns
    * `(id_l, id_r, n_agree, score)` for every blocked pair.
    *
    * Candidate pairs come from equality on `blockCols` — the blocking
    * key bounds the quadratic step exactly like
    * [[Dedup.fuzzyJoin]]'s length buckets: cost is Σ_block |L_b|·|R_b|,
    * never |L|·|R|. Pick blocks accordingly (a hot block is a hot
    * partition).
    *
    * Shape at 100 TB: one value-frequency aggregation per field over
    * the right register (each collapses to the field's value grain; the
    * per-field u's join in as ONE broadcast row), then one
    * hash-partitioned equi-join on the blocking key with the score as a
    * narrow projection — no window, no driver state.
    */
  def linkageScores(left: DataFrame, right: DataFrame,
      idL: String, idR: String, blockCols: Seq[String],
      fields: Seq[String], mProb: Double = 0.95): DataFrame = {
    require(blockCols.nonEmpty, "blockCols must be non-empty")
    require(fields.nonEmpty, "fields must be non-empty")
    require(mProb > 0 && mProb < 1, s"mProb=$mProb must be in (0, 1)")
    // one u estimate per field from the right register's exact NON-NULL
    // value counts: u = Σ n_v² / N² (computed as a double once, at the
    // end). NULL rows are excluded — scoring treats NULL comparisons as
    // disagreement, so they carry no realizable chance agreement.
    val uPerField = fields.map { f =>
      right.where(col(f).isNotNull)
        .groupBy(col(f)).agg(count(lit(1)).as("cnt"))
        .agg((sum(col("cnt") * col("cnt")).cast("double") /
          (sum("cnt") * sum("cnt"))).as(s"u_$f"))
    }.reduce(_.crossJoin(_))
    val l = left.select((col(idL).as("id_l") +: blockCols.map(col)) ++
      fields.map(f => col(f).as(s"l_$f")): _*)
    val r = right.select((col(idR).as("id_r") +: blockCols.map(col)) ++
      fields.map(f => col(f).as(s"r_$f")): _*)
    val ln2 = math.log(2.0)
    val agreeCols = fields.map(f => col(s"l_$f") === col(s"r_$f"))
    val weight = fields.zip(agreeCols).map { case (f, agree) =>
      val u = col(s"u_$f")
      val informative = u > 0.0 && u < 1.0
      when(informative && agree, (log(lit(mProb)) - log(u)) / ln2)
        .when(informative && !coalesce(agree, lit(false)),
          (log(lit(1.0 - mProb)) - log(lit(1.0) - u)) / ln2)
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    val nAgree = agreeCols
      .map(a => when(coalesce(a, lit(false)), 1).otherwise(0))
      .reduce(_ + _)
    l.join(r, blockCols)
      .crossJoin(broadcast(uPerField))
      .select(col("id_l"), col("id_r"),
        nAgree.as("n_agree"), weight.as("score"))
  }

  /** EM refinement of the Fellegi–Sunter m/u probabilities (the
    * classic Winkler/Jaro estimation): instead of a caller-fixed
    * `mProb`, fit per-field `m_f` (agreement among matches), `u_f`
    * (agreement among non-matches), and the match prevalence `λ` by
    * expectation-maximization over the blocked pairs' agreement
    * patterns, under the standard conditional-independence model
    * `P(γ|M) = Π m_f^γ_f (1−m_f)^(1−γ_f)` (and likewise for U).
    * This is what makes the scores CALIBRATED on a register the user
    * has not hand-tuned — [[linkageScores]]'s scaladoc's "EM
    * refinement plugs into the same weights".
    *
    * The E/M loop runs on the COLLAPSED pattern table: blocked pairs
    * aggregate to their (γ_1..γ_F, count) grain — at most 2^F rows
    * however large the registers — which is collected once and
    * iterated on the driver (the bounded-collect contract; `iters`
    * small and fixed). Seeds: `m_f = mInit` for every field,
    * `u_f` = [[linkageScores]]'s closed-form NON-NULL frequency
    * estimate, `λ = lambdaInit`. Per iteration, with pattern weight
    * `w(γ) = λ P(γ|M) / (λ P(γ|M) + (1−λ) P(γ|U))`:
    * `m_f ← Σ cnt·w·γ_f / Σ cnt·w`, `u_f ← Σ cnt·(1−w)·γ_f /
    * Σ cnt·(1−w)`, `λ ← Σ cnt·w / Σ cnt`. All sums fold in sorted
    * pattern order and all products left-associate in field order, so
    * a SQL oracle replays every float bit-for-bit.
    *
    * Returns one row per field:
    * `(field, m, u, w_agree, w_disagree, lambda)` with
    * `w_agree = log2(m/u)`, `w_disagree = log2((1−m)/(1−u))` — the
    * refined weights, pluggable into the same blocked-join scorer.
    * Degeneracy note: if a field agrees (or disagrees) in EVERY
    * blocked pair, EM drives its m or u to exactly 0/1 and the log
    * weights to ±∞ — drop constant fields from `fields` (they carry
    * no information, exactly [[linkageScores]]'s degenerate-field
    * rule).
    *
    * Shape at 100 TB: the per-field u aggregations (value-grain, one
    * broadcastable row), ONE blocked equi-join aggregated straight to
    * the ≤ 2^F pattern grain (Σ_block |L_b|·|R_b| pair enumeration,
    * never materialized wider than the pattern count), then
    * driver-side arithmetic on ≤ 2^F rows. Nothing else.
    */
  def linkageEm(left: DataFrame, right: DataFrame,
      blockCols: Seq[String], fields: Seq[String], iters: Int = 5,
      mInit: Double = 0.9, lambdaInit: Double = 0.1): DataFrame = {
    require(blockCols.nonEmpty, "blockCols must be non-empty")
    require(fields.nonEmpty, "fields must be non-empty")
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(mInit > 0 && mInit < 1, s"mInit=$mInit must be in (0, 1)")
    require(lambdaInit > 0 && lambdaInit < 1,
      s"lambdaInit=$lambdaInit must be in (0, 1)")
    val spark = left.sparkSession
    import spark.implicits._
    val nF = fields.length
    // closed-form u seeds from the right register's non-null counts
    val uRow = fields.map { f =>
      right.where(col(f).isNotNull)
        .groupBy(col(f)).agg(count(lit(1)).as("cnt"))
        .agg((sum(col("cnt") * col("cnt")).cast("double") /
          (sum("cnt") * sum("cnt"))).as(s"u_$f"))
    }.reduce(_.crossJoin(_)).collect().head
    val uSeed = Array.tabulate(nF)(uRow.getDouble)
    // blocked pairs collapsed to the agreement-pattern grain
    val l = left.select(blockCols.map(col) ++
      fields.map(f => col(f).as(s"l_$f")): _*)
    val r = right.select(blockCols.map(col) ++
      fields.map(f => col(f).as(s"r_$f")): _*)
    val gCols = fields.map(f =>
      coalesce(col(s"l_$f") === col(s"r_$f"), lit(false))
        .cast("int").as(s"g_$f"))
    val pats = l.join(r, blockCols)
      .select(gCols: _*)
      .groupBy(fields.map(f => col(s"g_$f")): _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(fields.map(f => col(s"g_$f")): _*)
      .collect()
      .map(row => (Array.tabulate(nF)(row.getInt), row.getLong(nF)))
    val m = Array.fill(nF)(mInit)
    val u = uSeed.clone()
    var lam = lambdaInit
    for (_ <- 1 to iters) {
      var sw = 0.0; var su = 0.0; var n = 0.0
      val swf = Array.fill(nF)(0.0); val suf = Array.fill(nF)(0.0)
      pats.foreach { case (g, cnt) =>
        var pm = 1.0; var pu = 1.0
        var i = 0
        while (i < nF) {
          pm = pm * (if (g(i) == 1) m(i) else 1 - m(i))
          pu = pu * (if (g(i) == 1) u(i) else 1 - u(i))
          i += 1
        }
        val w = lam * pm / (lam * pm + (1 - lam) * pu)
        sw += cnt * w; su += cnt * (1 - w); n += cnt.toDouble
        i = 0
        while (i < nF) {
          swf(i) += cnt * w * g(i)
          suf(i) += cnt * (1 - w) * g(i)
          i += 1
        }
      }
      var i = 0
      while (i < nF) {
        m(i) = swf(i) / sw; u(i) = suf(i) / su; i += 1
      }
      lam = sw / n
    }
    val ln2 = math.log(2.0)
    fields.zipWithIndex.map { case (f, i) =>
      (f, m(i), u(i), math.log(m(i) / u(i)) / ln2,
        math.log((1 - m(i)) / (1 - u(i))) / ln2, lam)
    }.toDF("field", "m", "u", "w_agree", "w_disagree", "lambda")
  }

  /** Golden-record survivorship: collapse each entity cluster (from
    * [[linkageScores]] + [[graft.ops.Dedup.components]], exact-dup
    * groups, or any `(idCol, cluster_id)` relation) into ONE merged
    * record, choosing each field's surviving value independently by a
    * per-field rule — the master-data-management endgame after linkage
    * has decided WHICH records are the same entity:
    *
    *   - `"mode"`    most frequent non-null value, ties → smallest
    *   - `"max"`     largest by numeric value (field must parse as a
    *                 number), ties → smallest string rendering
    *   - `"min"`     smallest by numeric value, same tie rule
    *   - `"longest"` longest string (the fullest variant of a name or
    *                 address), ties → smallest
    *
    * Every rule reduces to ONE shared shape: melt the fields to
    * `(cluster, field, value)` (narrow 1→N), aggregate that to the
    * distinct-value grain with counts, then take `min_by(value,
    * (sortKey, value))` where sortKey is the rule's CASE expression
    * (−count / −num / num / −length) — so adding a rule is one CASE
    * branch, not a new aggregation pass. Values survive as strings
    * (they cross field types in one column); numeric rules order by the
    * double cast, not the rendering.
    *
    * Returns one row per cluster: `cluster_id`, `n_records`, and one
    * column per field holding the surviving value.
    *
    * Shape at 100 TB: one equi-join onto the cluster relation, one
    * partial-agg shuffle to the (cluster, field, value) grain, one agg
    * to (cluster, field), and a literal-pivot back to columns on the
    * ≤ |fields|-rows-per-cluster relation. No window over raw rows, no
    * per-field pass.
    */
  def goldenRecords(records: DataFrame, clusters: DataFrame,
      idCol: String, fields: Seq[(String, String)]): DataFrame = {
    val rules = Set("mode", "max", "min", "longest")
    require(fields.nonEmpty && fields.forall(f => rules(f._2)),
      s"each field needs a rule in $rules: $fields")
    val cl = clusters.select(col(idCol).as("__gid"), col("cluster_id"))
    val joined = records.join(cl, records(idCol) === cl("__gid"))
    val melted = joined.select(col("cluster_id"), col("__gid"),
        explode(array(fields.map { case (f, _) =>
          struct(lit(f).as("field"), col(f).cast("string").as("value"))
        }: _*)).as("fv"))
      .select(col("cluster_id"), col("fv.field"), col("fv.value"))
      .where(col("value").isNotNull)
    val ruleCase = fields.tail.foldLeft(
      when(col("field") === fields.head._1, lit(fields.head._2))) {
      case (acc, (f, r)) => acc.when(col("field") === f, lit(r))
    }
    val counted = melted.groupBy("cluster_id", "field", "value")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rule", ruleCase)
      // numeric rules exclude values that don't parse as numbers
      .withColumn("num", expr("try_cast(value AS double)"))
      .where(!col("rule").isin("max", "min") || col("num").isNotNull)
      .withColumn("sort_key",
        when(col("rule") === "mode", -col("cnt").cast("double"))
          .when(col("rule") === "max", -col("num"))
          .when(col("rule") === "min", col("num"))
          .otherwise(-length(col("value")).cast("double")))
    val survivors = counted.groupBy("cluster_id", "field")
      .agg(min_by(col("value"),
        struct(col("sort_key"), col("value"))).as("survivor"))
    val sizes = joined.groupBy("cluster_id")
      .agg(countDistinct(col("__gid")).as("n_records"))
    sizes.join(
      survivors.groupBy("cluster_id").pivot("field", fields.map(_._1))
        .agg(first("survivor")),
      Seq("cluster_id"), "left")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * third classic candidate generator next to LSH banding and exact
    * blocking keys: sort the register by a sortkey and emit every
    * record pair within `window` positions of each other. Catches the
    * near-miss pairs exact blocking splits (adjacent-but-unequal keys:
    * truncated names, off-by-one balances) with a candidate count
    * bounded by `n · (window − 1)` BY CONSTRUCTION — no bucket can
    * blow up, which is the property neither LSH nor key blocking can
    * promise.
    *
    * Shape at 100 TB: [[graft.ops.Layout.globalRank]]'s range-sorted
    * rank (one input execution, never a single-partition sort), then
    * each rank lands in TWO width-`2·window` bands offset by `window` —
    * any two ranks closer than `window` share at least one band (the
    * shifted-band cover), so pair generation is [[graft.ops.Dedup]]'s
    * capped in-bucket expansion over bands of ≤ 2·window rows. One rank
    * pass, one band shuffle; candidates re-deduped by id pair.
    *
    * `keyCol` must be integral (the [[graft.ops.Layout.globalRank]]
    * contract); returns (id1, id2, rank_dist) with 1 ≤ rank_dist <
    * window, ids ordered by rank.
    */
  def sortedNeighborPairs(df: DataFrame, keyCol: String, idCol: String,
      window: Int): DataFrame = {
    require(window >= 2, s"window=$window must be >= 2")
    val ranked = Layout.globalRank(df, keyCol, idCol, "__snb_r")
      .select(col(idCol).as("id"), col("__snb_r").as("r"))
    // two band schemes of width 2w, the second shifted by w: any two
    // ranks closer than w share a band in at least one scheme. Exact
    // integer `div` (a double `/` could mis-bucket past 2^53 and LOSE
    // a pair); the scheme id is its own key column, so scheme-A and
    // scheme-B bands can never merge.
    val bw = 2 * window
    val banded = ranked.select(col("id"), col("r"),
      explode(array(
        struct(lit(0).as("scheme"), expr(s"(r - 1) div $bw").as("band")),
        struct(lit(1).as("scheme"),
          expr(s"(r - 1 + $window) div $bw").as("band")))).as("sb"))
      .select(col("id"), col("r"),
        col("sb.scheme").as("scheme"), col("sb.band").as("band"))
    graft.ops.Dedup.bucketPairsOf(banded, Seq("scheme", "band"),
        struct(col("r"), col("id")))
      .where(col("b.r") - col("a.r") < window)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (col("b.r") - col("a.r")).cast("int").as("rank_dist"))
      .distinct()
  }
}
