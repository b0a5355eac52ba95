package graft

import graft.Harness.{arr, obj, str}
import graft.queries.QueryDef

/** Scale-rehearsal benchmark: runs a named subset of battery entries at
  * TWO scale factors (sf0.1 and a synthesized sf1 by default) and emits
  * one JSON line with per-entry minima and the sfB/sfA time ratio — the
  * machine-checked form of the "this plan survives 10× data" claim.
  * At 10× data a healthy distributed plan is ≤ ~15× wall clock (near-
  * linear plus scheduling constants; super-linear outliers either have
  * answer-size growth as their named cause or are plan defects).
  *
  * Env knobs: `SPARK_GRAFT_SF_A` / `SPARK_GRAFT_SF_B` (dirs),
  * `SPARK_GRAFT_ENTRIES` (comma-separated names; defaults to the
  * most-expensive set the round-6 verdict asked to rehearse),
  * `SPARK_GRAFT_BENCH_OUT` (artifact path). Each time is the min of
  * [[Harness.minOf]] with at least 2 samples; loadavg + GC are recorded
  * so a contended run self-identifies.
  */
object BenchScale {

  /** The 12 most expensive round-6 entries (per BENCH_r06) + the
    * round-7/8 additions worth rehearsing at scale (round 8 adds the
    * Zipf-hot salted join the r7 verdict asked to ratio-check, the
    * driver-local BPE, the reverse-attribution stream, and batched
    * k-centers).
    */
  private val defaultEntries = Seq(
    "q62_pipeline_synthetic", "q150_label_propagation",
    "q159_sparse_cosine_pairs", "q154_canonical_by_quality",
    "q98_pagerank", "q72_neardup_components", "q83_neardedup_corpus",
    "q113_decontaminate_bloom", "q116_bm25_search", "q118_hybrid_rrf",
    "q144_bpe_apply", "q184_naive_bayes",
    "q190_bpe_sampled", "q191_nb_holdout", "q192_pareto_bucketed",
    "q188_streaming_left_join", "q189_streaming_timeout",
    "q213_bpe_local", "q214_streaming_reverse_attribution",
    "q216_kcenters_batched", "q217_skew_join",
    // round-8 additions: the ungated exact-tier prefix-filter join is
    // the headline scale claim; the rest are the new profiling /
    // streaming / time-series shapes
    "q223_prefix_filter_join", "q224_bootstrap_ci",
    "q225_golden_records", "q226_seasonal_anomalies",
    "q227_time_weighted_avg", "q228_streaming_distinct",
    // late round-8 additions: the partial-agg WOR quota, the dense
    // moments aggregator, BFS frontier layers, and the key-grain join
    // estimator — the four genuinely new physical shapes
    "q231_weighted_wor", "q237_gram_profile",
    "q239_khop_bfs", "q240_join_cardinality",
    // final round-8 additions: retrieval eval on the BM25 chain, the
    // decode-heavy perceptual-hash pair join, and the single-pass
    // expectations gate
    "q243_ndcg", "q249_image_dhash_pairs", "q252_expectations",
    // round-9 additions: the global rank (a range sort plus
    // per-partition offsets), sorted-neighborhood blocking over it, and
    // the narrow per-pair text metrics
    "q260_global_rank", "q261_sorted_neighbors", "q262_rouge_l",
    "q263_bleu",
    // round-10 additions: the ML algebra trio, the spill certificate,
    // the prefix-sum/packing pair, the span-dedup audit, the blocklist
    // pair, KN perplexity, and the Z-order skipping audit
    "q264_ml_fold_assignment", "q265_ml_report_algebra", "q266_hash_folds",
    "q267_spill_certificate", "q268_global_cumsum",
    "q269_context_windows", "q270_duplicated_spans",
    "q272_blocklist_scan", "q273_redact_blocklist", "q274_kn_perplexity",
    "q275_zorder_skipping",
    // round-11 additions: the corpus-law fits (global rank at the
    // vocab grain), the recall audit (exact + banded tiers composed),
    // rendezvous routing, and the resampler
    "q276_zipf_fit", "q277_heaps_law", "q278_lsh_plan",
    "q279_audio_resample", "q280_rendezvous_sharding",
    "q281_lsh_recall_audit", "q282_hilbert_skipping",
    "q283_epoch_shuffle", "q284_intrinsic_dimension",
    "q285_energy_distance", "q286_confusable_dedup", "q287_low_quality_spans")

  def main(args: Array[String]): Unit = {
    val sfA = sys.env.getOrElse("SPARK_GRAFT_SF_A", "/root/testdata/sf0.1")
    val sfB = sys.env.getOrElse("SPARK_GRAFT_SF_B", "target/sf1")
    val entries = Harness.entries(sys.env.get("SPARK_GRAFT_ENTRIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultEntries))
    val spark = Harness.session("graft-bench-scale")
    Harness.warmUp(spark, sfA, "q03_distinct")

    // full-row noop materialization, NOT count(): count lets Catalyst
    // prune a map-shaped entry's own compute (see Harness.materialize),
    // which flattens exactly the curvature this instrument measures
    def sample(q: QueryDef, dir: String): Double =
      Harness.minOf(2)(Harness.timed(spark)(q.query(spark, dir))).min

    val loadStart = Harness.loadavg
    val rows = entries.map { q =>
      q.name -> Harness.attempt(spark, q.name)(
        (sample(q, sfA), sample(q, sfB))).toOption
    }
    val qs = obj(rows.map {
      case (n, Some((a, b))) => n -> obj(Seq("sfA" -> f"$a%.3f",
        "sfB" -> f"$b%.3f", "ratio" -> f"${b / a}%.2f"))
      case (n, None) => n -> obj(Seq("failed" -> "true"))
    })
    // default to a scratch path: committed round artifacts (r0N_sf1.json)
    // are curated merges, and an unexported default must never clobber a
    // previous round's record (it did once - restored from history)
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/scale_scratch.json")
    Harness.publish(artifact, obj(Seq(
      "metric" -> str("scale_rehearsal"), "sfA" -> str(sfA),
      "sfB" -> str(sfB), "queries" -> qs,
      "failed" -> arr(rows.collect { case (n, None) => str(n) }),
      "loadavg_start" -> str(loadStart),
      "loadavg_end" -> str(Harness.loadavg),
      "gc_sec" -> f"${Harness.gcSec}%.1f", "artifact" -> str(artifact))))
    spark.stop()
  }
}
