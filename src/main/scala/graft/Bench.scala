package graft

import graft.Harness.{arr, obj, str}

/** Benchmark entry: runs the full query battery against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Contention-proofing (two rounds of driver artifacts were dominated by
  * host load): each entry is the min of [[Harness.minOf]]'s samples, and
  * the JSON records `/proc/loadavg` at start/end plus total JVM GC
  * time — so a loaded-host run self-identifies instead of reading as a
  * regression.
  */
object Bench {

  /** Entries that always take 3 samples: their artifact minima inflated
    * 2–5× on a contended host with UNTOUCHED code, and isolated 6-sample
    * probes of q62/q60 show BIMODAL samples (q62: 4.4–13 s, gc ≤ 0.5 s,
    * identical plans — shuffle-I/O variance on the local disk, not plan
    * cost), so min-of-2 regularly lands on the slow mode and reads as a
    * 2× regression that is not there.
    */
  private val deepSample = Set("q72_neardup_components", "q84_leakage_scan",
    "q85_streaming_sliding", "q62_pipeline_synthetic",
    "q60_classify_report")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    Harness.warmUp(spark, sfDir, "q03_distinct")
    val loadStart = Harness.loadavg
    val results = Harness.entries(Nil).map { q =>
      q.name -> Harness.attempt(spark, q.name) {
        Harness.minOf(if (deepSample(q.name)) 3 else 1)(
          Harness.timed(spark)(q.query(spark, sfDir)))
      }.toOption
    }
    // the full line ALSO goes to a file: a tail-truncated stdout capture
    // (round 4 lost q01–q31's minima that way) can then never lose
    // per-entry data — and it defaults INSIDE the repo (round-5 lesson:
    // /tmp dies with the sandbox), so committing the working tree at
    // round end preserves the per-entry record
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/latest.json")
    Harness.publish(artifact, line(results, sfDir, loadStart,
      Harness.loadavg, Harness.gcSec, artifact))
    spark.stop()
  }

  /** The machine-parsed result line. `results` holds each entry's samples,
    * `None` for a failed entry: it reads -1.000 in `queries`, is left out
    * of `value` and listed in `failed`, so a partially-broken run cannot
    * pass as a fast one.
    */
  private[graft] def line(results: Seq[(String, Option[Seq[Double]])],
      sfDir: String, loadStart: String, loadEnd: String, gcSec: Double,
      artifact: String): String = {
    val ok = results.collect { case (n, Some(ts)) => n -> ts }
    obj(Seq(
      "metric" -> str("total"),
      "value" -> f"${ok.map(_._2.min).sum}%.3f",
      "unit" -> str("sec"),
      "queries" -> obj(results.map { case (n, ts) =>
        n -> f"${ts.fold(-1.0)(_.min)}%.3f" }),
      "failed" -> arr(results.collect { case (n, None) => str(n) }),
      "sf" -> str(sfDir),
      "samples" -> obj(ok.collect { case (n, ts) if ts.size > 1 =>
        n -> ts.size.toString }),
      "loadavg_start" -> str(loadStart),
      "loadavg_end" -> str(loadEnd),
      "gc_sec" -> f"$gcSec%.1f",
      "materialize" -> str("noop-sink (round 10+: full-row " +
        "materialization; count()-timed rounds <= 9 under-state narrow " +
        "map-shaped entries)"),
      "artifact" -> str(artifact)))
  }
}
