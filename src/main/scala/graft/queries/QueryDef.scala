package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine operation: a Spark implementation over the test tables
  * plus (when SQL-expressible) an equivalent DuckDB oracle query the driver
  * hash-compares against.
  *
  * Contract notes (driver compare semantics):
  *   - column names must match between the two sides (compare sorts columns
  *     by name);
  *   - results must be deterministic: every query ends in an ORDER BY over a
  *     unique key on BOTH sides;
  *   - floating-point outputs are rounded (typically 6 dp) on both sides;
  *   - integer sums in DuckDB are CAST(.. AS BIGINT) to match Spark's LongType;
  *   - timestamps are cast to strings/dates before output (parquet-vs-duckdb
  *     timezone representation differs).
  */
final case class QueryDef(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Read one of the driver-generated test tables. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table with event time normalized to exact integer
    * microseconds (`ts_us`, LONG) regardless of how the parquet encodes
    * `ts` — the harness has shipped it both as nanosecond int64 (Spark
    * refuses nanos by default; read raw via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncate `DIV 1000`) and
    * as native microsecond timestamps (read as TIMESTAMP_NTZ: microseconds
    * since the epoch's wall clock, which no session time zone enters).
    * Either way `ts_us` equals DuckDB's `epoch_us(ts)` on the same file,
    * so event-time arithmetic compares bit-exactly with no
    * float/boundary/timezone fuzz. The nanos flag stays set on the
    * caller's session: the returned plan is lazy and reads the file when
    * it runs.
    */
  def eventsMicros(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.withColumn("ts_us", df.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000")
      // NTZ minus NTZ is a zone-free interval; `timestampdiff` would cast
      // both sides to session-zone instants and lose an hour in a DST gap
      case TimestampNTZType => expr("CAST(CAST(ts - " +
        "TIMESTAMP_NTZ'1970-01-01 00:00:00' AS DECIMAL(38, 6)) * 1000000 " +
        "AS BIGINT)")
      case _ => unix_micros(col("ts"))
    })
  }

  /** Delete a staging directory a query created under java.io.tmpdir —
    * repeated battery/bench runs must not accumulate staged files.
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
