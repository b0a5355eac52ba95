package graft

import scala.util.control.NonFatal

/** Correctness dump: each battery entry's result → parquet, plus
  * oracle_sql.json, for a DuckDB compare (`tools/check_oracles.py`), and
  * meta.json, which says what made the dump (git sha, core count, Spark
  * version, scale-factor directory) for `tools/compare_dumps.py`. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names restrict the dump (local iteration only —
    // the driver always runs the full battery)
    val entries = Harness.entries(args.drop(2).toSeq)
    val spark = Harness.session("graft-verify")
    // attempt releases what each entry cached before the next one runs
    entries.foreach { q =>
      Harness.attempt(spark, q.name)(q.query(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${q.name}"))
    }
    Harness.write(s"$outDir/oracle_sql.json", Harness.obj(
      SparkEntry.oracleSql.map { case (k, v) => k -> Harness.str(v) }, ": "))
    Harness.write(s"$outDir/meta.json", Harness.obj(Seq(
      "git_sha" -> gitSha.fold("null")(Harness.str),
      "cpus" -> Harness.cpus,
      "spark_version" -> Harness.str(spark.version),
      "sf_dir" -> Harness.str(
        java.nio.file.Paths.get(sfDir).toAbsolutePath.toString)),
      ": ", ",\n  ") + "\n")
    spark.stop()
  }

  /** HEAD of the git checkout the JVM runs in, if there is one. */
  private def gitSha: Option[String] =
    try {
      val out = new StringBuilder
      val code = scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
        .!(scala.sys.process.ProcessLogger(out.append(_), _ => ()))
      Option.when(code == 0)(out.toString.trim)
    } catch { case NonFatal(_) => None }
}
