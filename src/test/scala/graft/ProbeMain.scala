package graft

/** Measurement workhorse (test scope, never shipped): times selected
  * battery entries in isolation with the bench's exact methodology
  * ([[Harness.timed]] samples, min of [[Harness.minOf]] with at least
  * `<samples>` samples) and optionally dumps `.explain("formatted")` for
  * each. No names probes every entry.
  *
  * Usage:
  *   Test/runMain graft.ProbeMain <sfDir> <samples> [--plans <dir>] q...
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val samples = args(1).toInt
    val (planDir, names) =
      if (args.length > 3 && args(2) == "--plans")
        (Some(args(3)), args.drop(4).toSeq)
      else (None, args.drop(2).toSeq)
    val entries = Harness.entries(names)
    val spark = Harness.session("graft-probe")
    Harness.warmUp(spark, sfDir, "q03_distinct")
    entries.foreach { q =>
      planDir.foreach { pd =>
        val plan = q.query(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Harness.write(s"$pd/${q.name}.txt", plan)
      }
      spark.sparkContext.setJobDescription(q.name)
      val ts = Harness.minOf(samples)(
        Harness.timed(spark)(q.query(spark, sfDir)))
      spark.sparkContext.setJobDescription(null)
      println(f"PROBE ${q.name} min=${ts.min}%.3f samples=" +
        ts.map(t => f"$t%.3f").mkString(","))
    }
    spark.stop()
  }
}
