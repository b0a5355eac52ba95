package graft
/** Correctness dump: each battery entry's result → parquet, plus
  * oracle_sql.json, for a DuckDB compare (`tools/check_oracles.py`). */
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
    spark.stop()
  }
}
