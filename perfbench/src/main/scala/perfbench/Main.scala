package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a workload, run it for a fixed time with
  * tracing off (or, with `--trace 1`, make the traced passes), and write
  * every raw measurement to `--out` as JSON. `run.py` turns that file into
  * the reported metrics.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE --deadline SECONDS
  *                [--scale F] [--flip-bit 1]
  * }}}
  */
object Main {

  private def loadavg: String =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim)
      .getOrElse("")

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val scale = opt.getOrElse("scale", "1").toDouble
    val flipBit = opt.getOrElse("flip-bit", "0") == "1"
    // past this the runner stops the JVM; traced work that would not fit
    // before it is skipped
    val deadlineNs = System.nanoTime() + (opt("deadline").toDouble * 1e9).toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg

    val (spark, sessionS) = seconds {
      val s = SparkSession.builder()
        .master(s"local[$nproc]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val probe = new Probe(spark)
    val w = Workload(name, spark, probe, work.resolve("data"), seed, scale)
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def check(what: String, problems: Seq[String]): Unit =
      checks += ((what, problems.isEmpty, problems.mkString("; ")))

    // Set-up: inputs are generated three times and the median counts, then
    // one untimed warm-up run fills the JIT and codegen caches.
    val genRuns = (1 to 3).map(_ => seconds(w.generate()))
    val inputs = genRuns.last._1
    val genS = median(genRuns.map(_._2))
    val (warm, warmS) = seconds(Try(w.run()()))
    check("warm-up", warm match {
      case Success(o) => o.problems
      case Failure(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
    })
    val reference = warm.toOption.map(_.digest)
    cleanup(spark)
    w match {
      case ops: OpsSlice if warm.isSuccess =>
        Files.createDirectories(work.resolve("oracle"))
        ops.dumpForOracle(work.resolve("oracle"))
        cleanup(spark)
      case _ =>
    }
    check("invariants", Try(w.invariants()).fold(e => Seq(e.toString), identity))
    cleanup(spark)

    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    def timedRun(): Unit = {
      val i = runs.size
      val conf0 = spark.conf.getAll
      Probe.resetHeapPeak()
      val (thunk, t) = probe.measure(s"run#$i")(Try(w.run()))
      if (flipBit && i == 0) Report.flipNext = true
      val outcome = thunk.flatMap(f => Try(f()))
      val leaked = leakedBytes(spark)
      val confChanged = spark.conf.getAll != conf0
      cleanup(spark)
      val problems = outcome match {
        case Success(o) =>
          o.problems ++ reference.filter(_ != o.digest).map(r =>
            s"digest ${o.digest.take(16)} differs from the warm-up's ${r.take(16)}")
        case Failure(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
      }
      runs += Map(
        "wall_s" -> t.wallS,
        "cpu_s" -> t.cpuS,
        "shuffle_write_mb" -> Workload.mb(t.shuffleWriteBytes),
        "spill_mb" -> Workload.mb(t.spillBytes),
        "peak_cached_mb" -> Workload.mb(t.peakCachedBytes),
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "gc_s" -> t.gcS, "compile_s" -> t.compileS,
        "heap_peak_mb" -> Workload.mb(Probe.heapPeakBytes),
        "leaked_cached_mb" -> Workload.mb(leaked),
        "conf_changed" -> confChanged,
        "digest" -> outcome.map(_.digest).getOrElse(""),
        "values" -> outcome.map(_.values).getOrElse(Map.empty),
        "problems" -> problems)
    }
    def medians(passes: Seq[Map[String, Double]]) =
      passes.head.keys.map(k => k -> median(passes.map(_(k)))).toMap
    def runMedian(key: String) = median(runs.map(_(key).asInstanceOf[Double]).toSeq)

    var tracedPasses = 0
    var sweepDone = false
    val layers: Map[String, Double] =
      if (!trace) {
        val deadline = System.nanoTime() + (budget * 1e9).toLong
        do timedRun() while (System.nanoTime() < deadline)
        Map.empty
      } else {
        // an untraced run sits between the two traced passes, so both see
        // the same JIT and cache state on average; the difference of their
        // medians is the tracing overhead. On a slow host the second pass
        // and the sweep are skipped when they would not fit before the
        // deadline (`traced_passes`, `sweep_done` in the result).
        def left: Double = (deadlineNs - System.nanoTime()) / 1e9
        val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
        var passS = 0.0
        for (p <- 0 until w.tracePasses) {
          if (p > 0) timedRun()
          if (p == 0 || left > 2 * passS) {
            val (v, t) = seconds(w.tracePass(p)); cleanup(spark)
            passes += v; passS = t
          }
        }
        tracedPasses = passes.size
        val traced = medians(passes.toSeq)
        val sweep = w match {
          // one pass: the sweep shows slopes; it costs under a traced pass
          case g: GoldTopics if left > passS =>
            sweepDone = true
            val v = g.sweep(100); cleanup(spark); v
          case _ => Map.empty[String, Double]
        }
        val untraced = runMedian("wall_s")
        val tracedWall = traced("session.traced_wall_s")
        traced ++ sweep ++ Map(
          "session.untraced_wall_s" -> untraced,
          "session.trace_overhead_s" -> (tracedWall - untraced),
          "session.selfsum_ratio" -> tracedWall / untraced,
          "session.leaked_cached_mb" ->
            runs.map(_("leaked_cached_mb").asInstanceOf[Double]).max,
          "session.conf_changed" -> runs.count(_("conf_changed") == true).toDouble,
          "session.spill_mb" -> runMedian("spill_mb"),
          "jvm.peak_heap_mb" -> runs.map(_("heap_peak_mb").asInstanceOf[Double]).max,
          "jvm.gc_s" -> runMedian("gc_s"),
          "jvm.compile_s" -> runMedian("compile_s"),
          "jvm.cpu_s" -> runMedian("cpu_s"))
      }

    val sv = spark.version
    val heapMax = Runtime.getRuntime.maxMemory
    Files.writeString(work.resolve("spans.json"), Report.json(probe.spans.map(s =>
      Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "run" -> s.run, "compile_s" -> s.compileS))))
    spark.stop()
    val result = Map(
      "context" -> Map(
        "workload" -> name, "seed" -> seed, "seconds" -> budget, "trace" -> trace,
        "scale" -> scale, "nproc" -> nproc, "spark_version" -> sv,
        "jvm_heap_max_mb" -> Workload.mb(heapMax),
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg,
        "inputs" -> inputs, "input_rows" -> w.inputRows,
        "traced_passes" -> tracedPasses, "sweep_done" -> sweepDone),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genRuns.map(_._2),
        "warmup_s" -> warmS, "setup_s" -> (sessionS + genS + warmS)),
      "reference_digest" -> reference.getOrElse(""),
      "runs" -> runs,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "layers" -> layers)
    Files.writeString(Paths.get(opt("out")), Report.json(result) + "\n")
  }

  /** Bytes still held by persisted RDDs after a run: what it leaked. */
  private def leakedBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    sc.getRDDStorageInfo.filter(i => persisted(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  /** Drop every cache so one run's leak cannot distort the next. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
