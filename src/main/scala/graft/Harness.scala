package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryDef

/** The one measurement harness behind the tool mains ([[Bench]],
  * [[BenchScale]], [[BenchState]], [[Verify]], [[Coverage]] and the
  * test-scope `ProbeMain`): one session, one entry selector, one warm-up,
  * one timed run, one sampling rule and one JSON writer, so the tools can
  * only differ in what they measure and what they print.
  */
object Harness {

  /** The session's core count: `SPARK_GRAFT_CPUS`, or every core. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A `local[cpus]` session, `cpus` = `SPARK_GRAFT_CPUS` or else every
    * core of this host, with one shuffle partition per core, AQE on, UTC
    * session time and no UI.
    */
  def session(app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The named battery entries, in the given order; every entry, sorted by
    * name, when `names` is empty. An unknown name fails before anything
    * runs.
    */
  def entries(names: Seq[String]): Seq[QueryDef] = {
    val all = SparkEntry.defs.sortBy(_.name)
    val byName = all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else names.map(byName)
  }

  /** Runs `body` for one entry, [[releasing]] what it cached whether it
    * succeeds or not. A non-fatal failure is reported on stderr and comes
    * back as `Left`.
    */
  def attempt[T](spark: SparkSession, name: String)(
      body: => T): Either[Throwable, T] =
    try Right(releasing(spark)(body))
    catch { case NonFatal(e) =>
      System.err.println(
        s"[${spark.sparkContext.appName}] $name failed: ${e.getMessage}")
      Left(e)
    }

  /** Runs `body`, then drops every cached Dataset (`clearCache`) and
    * unpersists each RDD persisted while it ran, so what one entry left
    * cached cannot distort the next (leaked caches once inflated q62 by
    * 8×). `clearCache` alone misses RDD-level storage: the round loops'
    * final checkpoints and `globalRank`'s sorted checkpoint. An RDD the
    * caller persisted before the call survives.
    */
  def releasing[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) rdd.unpersist(blocking = true)
      }
    }
  }

  /** Takes first-call JIT, codegen and class-loading off the first timed
    * entry: one run of `entry`, then a one-tree forest fit on 64 rows,
    * because the first forest fit in a JVM pays several seconds of
    * one-time spark.ml loading that would otherwise land on whichever
    * timed entry touches spark.ml first (q60).
    */
  def warmUp(spark: SparkSession, sfDir: String, entry: String): Unit = {
    attempt(spark, entry)(entries(Seq(entry)).head.query(spark, sfDir).count())
    attempt(spark, "forest warm-up") {
      import org.apache.spark.sql.functions.{col, rand}
      val toy = spark.range(0, 64).select(
        (col("id") % 2 === 0).as("related") +:
          graft.pipeline.PairVectors.vectorColumns
            .map(c => rand(c.hashCode.toLong).as(c)): _*)
      graft.ml.Classify.crossValPredictions(toy, folds = 2, seed = 1L,
        numTrees = 1).unpersist()
    }
  }

  /** Materialize EVERY column of a result through the noop sink. A
    * count()-based timing lets Catalyst optimize the query's own compute
    * away — column pruning under `count(1)` drops narrow per-row
    * transforms entirely and EliminateSorts removes the final ORDER BY —
    * so a map-shaped entry would time the SCAN, not the operator
    * (measured: q262_rouge_l at 10× data was flat under count(), 10×
    * under noop). The noop sink consumes complete UnsafeRows with zero
    * sink cost, which is what a real consumer pays.
    */
  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Seconds to build and materialize `query`, then [[releasing]] what it
    * cached, outside the timed span.
    */
  def timed(spark: SparkSession)(query: => DataFrame): Double =
    releasing(spark) {
      val t0 = System.nanoTime()
      materialize(query)
      (System.nanoTime() - t0) / 1e9
    }

  /** The samples of one min-of-k measurement; report their `min`. A
    * contended scheduler can only inflate a sample, so the min is the
    * least noisy estimate. Takes `atLeast` samples, plus a second when
    * the first is >= 2 s and a third when the first two differ by more
    * than 1.5× (the signature of a load spike mid-run).
    */
  def minOf(atLeast: Int)(sample: => Double): Seq[Double] = {
    val ts = ArrayBuffer(sample)
    while (ts.size < atLeast || (ts.size == 1 && ts(0) >= 2.0) ||
      (ts.size == 2 && ts.max / ts.min > 1.5)) ts += sample
    ts.toSeq
  }

  /** `s` as a JSON string: quote, backslash and every control character
    * escaped, so builder-authored SQL with a tab or CR still parses.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of already-rendered values, compact by default. A
    * line-breaking `sep` (`",\n  "`) also breaks after the opening brace
    * and, one space less indented, before the closing one.
    */
  def obj(fields: Iterable[(String, String)], kv: String = ":",
      sep: String = ","): String =
    block("{", fields.map { case (k, v) => str(k) + kv + v }, sep, "}")

  /** A JSON array of already-rendered values, laid out as [[obj]]. */
  def arr(items: Iterable[String], sep: String = ","): String =
    block("[", items, sep, "]")

  private def block(open: String, items: Iterable[String], sep: String,
      close: String): String = {
    val nl = sep.dropWhile(_ != '\n')
    items.mkString(open + nl, sep, nl.dropRight(1) + close)
  }

  /** Writes `text` to `path` as UTF-8, creating its directory. */
  def write(path: String, text: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  /** Prints one JSON result line and keeps a copy in `artifact`, so a
    * truncated stdout capture cannot lose it; a failed write is reported
    * and the line still printed.
    */
  def publish(artifact: String, line: String): Unit = {
    try write(artifact, line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"artifact write failed: ${e.getMessage}") }
    println(line)
  }

  /** `/proc/loadavg`'s 1/5/15-minute averages, so a run on a loaded host
    * identifies itself; empty where the file does not exist.
    */
  def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
    catch { case NonFatal(_) => "" }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSec: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
