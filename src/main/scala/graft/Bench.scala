package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark entry: runs the full query battery against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Contention-proofing (two rounds of driver artifacts were dominated by
  * host load): entries whose first sample takes >= 2 s are re-run and the
  * MIN is reported (a third sample if the first two disagree by > 1.5×),
  * and the JSON records `/proc/loadavg` at start/end plus total JVM GC
  * time — so a loaded-host run self-identifies instead of reading as a
  * regression.
  */
object Bench {

  /** Materialize EVERY column of a result through the noop sink. A
    * count()-based timing lets Catalyst optimize the query's own compute
    * away — column pruning under `count(1)` drops narrow per-row
    * transforms entirely and EliminateSorts removes the final ORDER BY —
    * so a map-shaped entry would time the SCAN, not the operator
    * (measured: q262_rouge_l at 10× data was flat under count(), 10×
    * under noop). The noop sink consumes complete UnsafeRows with zero
    * sink cost, which is what a real consumer pays. Round-10 fix: bench
    * numbers from r9 and earlier under-state narrow map-shaped entries;
    * agg/join-shaped entries (the vast majority and every headline) are
    * unaffected because their compute feeds the aggregation itself.
    */
  private[graft] def materialize(
      df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
    catch { case NonFatal(_) => "" }

  private def gcSec: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warm-up on a cheap query so per-query timings measure the
    // plan, not first-call JIT + classloading.
    try SparkEntry.queries("q03_distinct")(spark, sfDir).count()
    catch { case NonFatal(_) => () }
    // MLlib warm-up: the first forest fit in a JVM pays several seconds of
    // one-time class-loading + JIT that would otherwise land entirely on
    // whichever battery entry first touches spark.ml (q60). A 64-row
    // single-tree fit triggers the same code paths at negligible cost.
    try {
      import org.apache.spark.sql.functions.{col, rand}
      val cols = graft.pipeline.PairVectors.vectorColumns
      val toy = spark.range(0, 64).select(
        (col("id") % 2 === 0).as("related") +:
          cols.map(c => rand(c.hashCode.toLong).as(c)): _*)
      graft.ml.Classify.crossValPredictions(toy, folds = 2, seed = 1L,
        numTrees = 1).unpersist()
      ()
    } catch { case NonFatal(_) => () }

    // round-5 postmortem entries: their artifact minima inflated 2–5× on a
    // contended host with UNTOUCHED code; always take 3 samples so the
    // recorded min survives a mid-run load spike. q62/q60 join the set in
    // round 6: isolated 6-sample probes show BIMODAL samples (q62:
    // 4.4–13 s, gc ≤ 0.5 s, identical plans — shuffle-I/O variance on the
    // sandbox disk, not plan cost), so min-of-2 regularly lands on the
    // slow mode and reads as a 2× regression that is not there.
    val deepSample = Set("q72_neardup_components", "q84_leakage_scan",
      "q85_streaming_sliding", "q62_pipeline_synthetic",
      "q60_classify_report")
    val loadStart = loadavg
    val results = SparkEntry.defs.sortBy(_.name).map { q =>
      // Session hygiene between entries AND between samples: any relation a
      // query persisted and failed to release must not distort the next
      // timing (round-1 lesson: leaked caches inflated q62 by 8×).
      def once(): Double = {
        val t0 = System.nanoTime()
        materialize(q.query(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      try {
        val t1 = once()
        // min-of-k: a contended scheduler can only INFLATE a sample, so the
        // min is the least-noisy estimate of the plan's cost. One extra
        // sample for anything >= 2 s; a third when the first two disagree
        // by > 1.5× (the signature of a load spike mid-run).
        val samples =
          if (deepSample(q.name)) Seq(t1, once(), once())
          else if (t1 < 2.0) Seq(t1)
          else {
            val t2 = once()
            if (t2.max(t1) / t2.min(t1) > 1.5) Seq(t1, t2, once())
            else Seq(t1, t2)
          }
        (q.name, samples.min, samples.size, true)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        spark.catalog.clearCache()
        (q.name, -1.0, 1, false)
      }
    }
    // failed queries are reported as -1.0 and excluded from the total, plus
    // listed in "failed" so a partially-broken run can't pass as a fast one
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val samples = results.collect { case (k, _, n, _) if n > 1 =>
      "\"" + k + s"""":$n""" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, true) => v }.sum
    // the full line ALSO goes to a file: a tail-truncated stdout capture
    // (round 4 lost q01–q31's minima that way) can then never lose
    // per-entry data — and it defaults INSIDE the repo (round-5 lesson:
    // /tmp dies with the sandbox), so committing the working tree at
    // round end preserves the per-entry record
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/latest.json")
    try java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(artifact).toAbsolutePath.getParent)
    catch { case NonFatal(_) => () }
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","samples":$samples,"loadavg_start":"$loadStart","loadavg_end":"$loadavg","gc_sec":$gcSec%.1f,"materialize":"noop-sink (round 10+: full-row materialization; count()-timed rounds <= 9 under-state narrow map-shaped entries)","artifact":"$artifact"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
