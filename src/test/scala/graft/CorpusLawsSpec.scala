package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Profile, Sampling}

/** Round-11 additions: corpus-law fits (Zipf/Heaps), the LSH banding
  * planner + measured recall audit, rendezvous shard routing, and
  * exact-integer PCM resampling.
  */
class CorpusLawsSpec extends AnyFunSuite with SparkTestBase {

  test("zipfFit: exact OLS on a hand-computed rank/frequency fixture; " +
      "tie permutations cannot move the sums") {
    val s2 = spark; import s2.implicits._
    // freqs 8,4,2,1 at ranks 1..4: perfect power law f = 8 * r^-1.5
    // would need fractional counts; instead pin the closed-form OLS of
    // the actual points
    val docs = Seq(
      (1L, Seq.fill(8)("a").mkString(" ")),
      (2L, Seq.fill(4)("b").mkString(" ") + " " +
        Seq.fill(2)("c").mkString(" ") + " d"))
      .toDF("doc_id", "text")
    val r = Profile.zipfFit(docs).head()
    assert(r.getAs[Long]("n_vocab") == 4L)
    assert(r.getAs[Long]("n_tokens") == 15L)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val n = 4.0
    val (sx, sy) = (xs.sum, ys.sum)
    val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-5,
      s"${r.getAs[Double]("slope")} vs $slope")
    // ties: two terms with equal freq — any rank order, same sums
    val tied = Seq((1L, "x x y y z")).toDF("doc_id", "text")
    val t1 = Profile.zipfFit(tied).head()
    assert(t1.getAs[Long]("n_vocab") == 3L && !t1.isNullAt(2))
  }

  test("heapsFit: exact V(N) checkpoints on a hand fixture — first " +
      "occurrences pin the debut doc, cumulative counts are exact") {
    val s2 = spark; import s2.implicits._
    // doc1: a b a (N=3, V=2); doc2: b c (N=5, V=3); doc3: d d (N=7, V=4)
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "d d"))
      .toDF("doc_id", "text")
    val r = Profile.heapsFit(docs).head()
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_tokens") == 7L)
    assert(r.getAs[Long]("n_vocab") == 4L)
    val xs = Seq(3.0, 5.0, 7.0).map(math.log)
    val ys = Seq(2.0, 3.0, 4.0).map(math.log)
    val n = 3.0
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => x * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-5,
      s"${r.getAs[Double]("slope")} vs $slope")
  }

  test("lshPlan: the S-curve is monotone in s for every plan, t_star " +
      "is the ~0.5-collision similarity, more rows per band = sharper") {
    val plan = Dedup.lshPlan(12).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Double]("t_star"),
        r.getAs[Double]("s"), r.getAs[Double]("p_collide")))
    assert(plan.map(p => (p._1, p._2)).distinct.length == 6) // divisors
    for (((b, rr), rows) <- plan.groupBy(p => (p._1, p._2))) {
      val byS = rows.sortBy(_._4)
      assert(byS.zip(byS.tail).forall { case (lo, hi) => lo._5 <= hi._5 },
        s"p not monotone for ($b, $rr)")
      // p at the closest grid point to t_star is near 0.5 (within the
      // grid's coarseness)
      val t = byS.head._3
      val atT = byS.minBy(r => math.abs(r._4 - t))._5
      assert(atT > 0.2 && atT < 0.8, s"p(t*)=$atT for ($b, $rr)")
    }
  }

  test("lshRecallAudit: exact duplicates are ALWAYS candidates — " +
      "recall 1 on a twin corpus; bounds hold on a mixed corpus") {
    val s2 = spark; import s2.implicits._
    val twins = (1L to 30L).flatMap(i => Seq(
      (i * 2, s"w${i} x${i} y${i} z${i} q${i}"),
      (i * 2 + 1, s"w${i} x${i} y${i} z${i} q${i}")))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallAudit(twins, n = 3, numHashes = 8,
      rowsPerBand = 2, minJaccard = 0.99).head()
    assert(r.getAs[Long]("n_true") == 30L)
    assert(r.getAs[Double]("recall") == 1.0, r.toString)
    val rnd = new scala.util.Random(5)
    val mixed = (1L to 60L).map(i => (i,
      (0 until 12).map(j => s"t${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Dedup.lshRecallAudit(mixed, 3, 8, 2, 0.3).head()
    val rec = Option(m.getAs[java.lang.Double]("recall")).map(_.toDouble)
    assert(rec.forall(v => v >= 0.0 && v <= 1.0))
    assert(m.getAs[Long]("n_hits") <= m.getAs[Long]("n_true"))
    assert(m.getAs[Long]("n_hits") <= m.getAs[Long]("n_candidates"))
    // a spilled bucket must FAIL the audit loudly — a silently
    // truncated truth tier could certify recall 1.0 for a banding that
    // actually missed pairs (round-11 review finding)
    val dense = (1L to 40L).map(id =>
      (id, s"c1 c2 c3 c4 c5 tail$id")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Dedup.lshRecallAudit(dense, 3, 8, 2, 0.1, maxBucket = 8).head())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("failOnSpill")), msgs(e).toString)
  }

  test("rendezvousAssign: deterministic, and MINIMAL MOVEMENT — adding " +
      "a shard moves only rows won by the new shard; removing one moves " +
      "only its own rows") {
    val s2 = spark; import s2.implicits._
    val ids = spark.range(0, 400).toDF("doc_id")
    val s8 = (0 until 8).map(i => s"s$i")
    val a = Sampling.rendezvousAssign(ids, s8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // deterministic on re-run
    val a2 = Sampling.rendezvousAssign(ids, s8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == a2)
    // balanced-ish: every shard wins something at n=400
    assert(a.values.toSet == s8.toSet)
    // ADD s8: every reassigned row must now be on the NEW shard
    val grown = Sampling.rendezvousAssign(ids, s8 :+ "s8")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val movedIn = grown.filter { case (id, sh) => a(id) != sh }
    assert(movedIn.values.toSet == Set("s8"),
      s"a grow moved rows between OLD shards: ${movedIn.take(5)}")
    assert(movedIn.nonEmpty && movedIn.size < 400 / 4,
      s"~1/9 expected, got ${movedIn.size}/400")
    // REMOVE s0: only s0's rows move
    val shrunk = Sampling.rendezvousAssign(ids, s8.tail)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val movedOut = shrunk.filter { case (id, sh) => a(id) != sh }
    assert(movedOut.keySet == a.filter(_._2 == "s0").keySet,
      "a shrink must move exactly the removed shard's rows")
  }

  test("audioResampleBlocks: up=1/down=1 is the identity (x1 energies " +
      "equal audioBlockFeatures); a hand-computed 2/3 resample is exact") {
    val s2 = spark; import s2.implicits._
    val samples = (0 until 128).map(i =>
      (128 + 100 * math.sin(i / 5.0)).toInt.toByte).toArray
    val media = Seq((1L, Multimodal.encodePcmWav(samples, 8000)))
      .toDF("doc_id", "media")
    val ident = Multimodal.audioResampleBlocks(media, 1, 1, 64)
      .collect().map(b => b.block -> b.energy_scaled).toMap
    val base = Multimodal.audioBlockFeatures(media, 64)
      .collect().map(b => b.block -> b.energy).toMap
    assert(ident == base, s"$ident vs $base")
    // hand case: samples 0,2,4,...: 2/3 resample j -> position 3j/2:
    // even j: s[3j/2]*2; odd j: s[(3j-1)/2] + s[(3j+1)/2]
    val ramp = Array.tabulate(8)(i => (i * 2).toByte)
    val m2 = Seq((2L, Multimodal.encodePcmWav(ramp, 8000)))
      .toDF("doc_id", "media")
    val got = Multimodal.audioResampleBlocks(m2, 2, 3, 64)
      .collect().head
    // n=8 -> nOut = (7*2)/3 + 1 = 5; u_scaled[j] for j=0..4:
    // j=0: s0*2=0; j=1: s1+s2=2+4=6; j=2: s3*2=12; j=3: s4+s5=8+10=18;
    // j=4: s6*2=24. energy = sum (u - 256)^2
    val exp = Seq(0L, 6L, 12L, 18L, 24L)
      .map(u => (u - 256L) * (u - 256L)).sum
    assert(got.n_samples == 5 && got.energy_scaled == exp,
      s"${got.n_samples} samples, ${got.energy_scaled} vs $exp")
  }

  test("epochShuffle: a dense 1..n permutation, bit-reproducible per " +
      "epoch, and DIFFERENT epochs are different orders") {
    val s2 = spark; import s2.implicits._
    val ids = spark.range(0, 500).toDF("doc_id")
    def order(epoch: Int): Seq[Long] =
      Sampling.epochShuffle(ids, epoch)
        .collect().sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    val e1 = order(1)
    assert(e1.toSet == (0L until 500L).toSet, "must be a permutation")
    assert(order(1) == e1, "same epoch must replay the same order")
    val e2 = order(2)
    assert(e2.toSet == e1.toSet && e1 != e2,
      "different epochs must permute differently")
    // not the identity and not a simple rotation: the head scatters
    assert(e1.take(10) != (0L until 10L).toSeq)
  }

  test("epochStreams: one pass over E epochs, per-epoch BIT-IDENTICAL " +
      "to epochShuffle; loud on null ids") {
    val s2 = spark; import s2.implicits._
    val ids = spark.range(0, 500).toDF("doc_id")
    val all = Sampling.epochStreams(ids, epochs = Seq(1, 3, 7))
      .collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("epoch_pos")).toMap
    assert(all.size == 1500)
    for (e <- Seq(1, 3, 7)) {
      val single = Sampling.epochShuffle(ids, e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until 500L).foreach { id =>
        assert(all((e, id)) == single(id),
          s"epoch $e doc $id: ${all((e, id))} vs ${single(id)}")
      }
    }
    // null ids are refused, not silently mis-ranked
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("doc_id")
    val err = intercept[Exception](
      Sampling.epochStreams(withNull, Seq(1)).collect())
    assert(err.getMessage.contains("null"), err.getMessage)
  }

  test("twoNN: exact closed-form MLE on a 3-point fixture; ~1 on a " +
      "jittered 1-D manifold in 8-D ambient; exact duplicates excluded") {
    val s2 = spark; import s2.implicits._
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // A=0, B=1, C=3 on a line: ratios 9, 4, 9/4 ->
    // id = 6 / (ln 9 + ln 4 + ln 2.25)
    val tri = Seq((1L, vec(0), 0), (2L, vec(1), 0), (3L, vec(3), 0))
      .toDF("vec_id", "embedding", "label")
    val r = graft.ops.Similarity.twoNN(tri).head()
    val want = 6.0 / (math.log(9) + math.log(4) + math.log(2.25))
    assert(r.getAs[Long]("n_points") == 3L)
    assert(math.abs(r.getAs[Double]("id_mle") - want) < 1e-9)
    // 150 points along a jittered line embedded in 8 dims: intrinsic
    // dimension ~1 despite the ambient 8
    val line = (1L to 150L).map { i =>
      val t = i.toDouble + 0.3 * math.sin(i * 2.39)
      (i, vec(t, 2 * t, -t, 0.5 * t, t, 0, 0, 0), 0)
    }.toDF("vec_id", "embedding", "label")
    val idL = graft.ops.Similarity.twoNN(line).head()
      .getAs[Double]("id_mle")
    assert(idL > 0.6 && idL < 1.5, s"line manifold: $idL")
    // duplicates carry no scale: excluded and counted
    val dup = Seq((1L, vec(0), 0), (2L, vec(0), 0), (3L, vec(1), 0),
      (4L, vec(3), 0)).toDF("vec_id", "embedding", "label")
    val rd = graft.ops.Similarity.twoNN(dup).head()
    assert(rd.getAs[Long]("n_zero_r1") == 2L)
  }

  test("energyDistance: exactly 2*||p-q|| between two point masses; " +
      "0 for identical groups; nonnegative on mixed fixtures") {
    val s2 = spark; import s2.implicits._
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val masses = ((1L to 10L).map(i => (i, vec(0, 0), 0)) ++
      (11L to 25L).map(i => (i, vec(3, 4), 1)))
      .toDF("vec_id", "embedding", "label")
    val e = graft.ops.Similarity.energyDistance(masses).head()
    assert(e.getAs[Int]("label_a") == 0 && e.getAs[Int]("label_b") == 1)
    assert(math.abs(e.getAs[Double]("energy") - 10.0) < 1e-6,
      s"2*dist(0,0 -> 3,4) = 10: ${e.getAs[Double]("energy")}")
    // identical groups: zero
    val same = ((1L to 8L).map(i => (i, vec(1, 2), 0)) ++
      (9L to 16L).map(i => (i, vec(1, 2), 1)))
      .toDF("vec_id", "embedding", "label")
    assert(math.abs(graft.ops.Similarity.energyDistance(same).head()
      .getAs[Double]("energy")) < 1e-9)
    // a SINGLETON group has no within-group spread: the statistic is
    // NULL, never an inflated cross-term (round-11 review finding)
    val single = ((1L to 6L).map(i => (i, vec(0, 0), 0)) :+
      (7L, vec(3, 4), 1)).toDF("vec_id", "embedding", "label")
    assert(graft.ops.Similarity.energyDistance(single).head()
      .isNullAt(4), "singleton group energy must be NULL")
    // three groups drawn from ONE distribution: the population energy
    // is 0 and the sample statistic fluctuates around it (it may dip
    // slightly negative — that is the estimator, not a bug); all three
    // pair values must sit near zero, far below a real separation
    val rnd = new scala.util.Random(11)
    val mixed = (1L to 60L).map(i => (i,
      vec(rnd.nextDouble(), rnd.nextDouble()), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val all = graft.ops.Similarity.energyDistance(mixed).collect()
    assert(all.length == 3 &&
      all.forall(r => math.abs(r.getAs[Double]("energy")) < 0.1))
  }

  test("foldConfusables: homoglyph and zero-width evasions collapse " +
      "onto the Latin skeleton; fold is idempotent; honest Cyrillic " +
      "text keeps its non-confusable letters") {
    val s2 = spark; import s2.implicits._
    val fx = Seq(
      // Cyrillic a/e/o/c lookalikes swapped into a Latin word
      (1L, "p\u0430p\u0435r s\u043eur\u0441e"),
      (2L, "paper source"),
      // zero-width split + Greek omicron
      (3L, "pa\u200bper s\u03bfur\u200dce"),
      // genuinely different text must NOT collapse
      (4L, "papers sourced"),
      // honest Cyrillic word: д/ж have no Latin lookalike and survive
      (5L, "\u0434\u0436a"))
      .toDF("doc_id", "text")
    val folded = fx.select(col("doc_id"),
      graft.ops.Curation.foldConfusables(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(folded(1L) == "paper source", folded(1L))
    assert(folded(2L) == "paper source")
    assert(folded(3L) == "paper source")
    assert(folded(4L) == "papers sourced")
    assert(folded(5L) == "\u0434\u0436a")
    // idempotent
    val twice = fx.select(graft.ops.Curation.foldConfusables(
      graft.ops.Curation.foldConfusables(col("text"))).as("f"))
      .collect().map(_.getString(0)).toSet
    assert(twice == folded.values.toSet)
    // grouping: 1, 2, 3 collapse to one canonical; 4 and 5 stand alone
    val groups = graft.ops.Curation.confusableGroups(fx)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups == Map(1L -> 3L, 4L -> 1L, 5L -> 1L), groups.toString)
  }

  test("lowQualitySpans: a planted OOV junk run flags exactly the " +
      "window-smeared island; clean docs flag nothing; short all-junk " +
      "docs flag their prefix window") {
    val s2 = spark; import s2.implicits._
    // model: a/b/c with freq 4 -> in-vocab NLL ln 3 ~ 1.10, OOV ln 15
    // ~ 2.71. w=4, t=2.0: a window flags iff it holds >= 3 junk tokens.
    val ref = Seq((100L, "a b c a b c a b c a b c")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c a b c j1 j2 j3 j4 j5 j6 j7 j8 a b c a b c"),
      (2L, "a b c a b c a b"), // clean: nothing flags
      (3L, "z1 z2")) // shorter than w: the prefix window scores
      .toDF("doc_id", "text")
    val spans = graft.ops.TextAnalysis
      .lowQualitySpans(docs, ref, window = 4, maxAvgNll = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // junk sits at tokens 7..14; bad starts are 6..12 (>= 3 junk in
    // [s, s+3]), coverage smears one window width: island [6, 15] —
    // the inherent +-(w-1) smear of windowed flagging, documented
    assert(spans == Set((1L, 6L, 15L), (3L, 1L, 2L)), spans.toString)
  }
}
