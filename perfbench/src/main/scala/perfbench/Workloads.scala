package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.io.{ArffSink, FaithfulText, VectorSource}
import graft.ml.Classify
import graft.pipeline._

/** What one run hands back: the output digest plus named values, and any
  * failed output check.
  */
final case class Outcome(digest: String, values: Map[String, Double] = Map.empty,
    problems: Seq[String] = Nil)

/** One benchmark workload. `run` is the timed part; it returns the
  * untimed check that digests its output.
  */
abstract class Workload(val spark: SparkSession, val probe: Probe,
    val dir: Path, val seed: Long, val scale: Double) {

  /** Write the inputs; returns their sizes. */
  def generate(): Map[String, Long]

  /** Input rows a run consumes (corpus lines, or table rows). */
  def inputRows: Long

  /** Traced passes, each layer reporting its median over them. Two, with
    * one untraced run between them, keep a traced call on a slow host
    * inside its time limit.
    */
  val tracePasses: Int = 2

  /** Invariants checked once per process, after generation. */
  def invariants(): Seq[String] = Nil

  def run(): () => Outcome

  /** One traced pass: spans around each layer, per-layer values.
    * `session.traced_wall_s` is the sum of the layers' self times.
    */
  def tracePass(pass: Int): Map[String, Double]

  protected def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  protected def sized(n: Double): Long = math.max(1L, math.round(n * scale))

  protected def out(name: String): String = dir.resolve("out").resolve(name).toString
}

object Workload {
  def apply(name: String, spark: SparkSession, probe: Probe, dir: Path,
      seed: Long, scale: Double): Workload = name match {
    case "gold_topics" => new GoldTopics(spark, probe, dir, seed, scale)
    case "ops_slice" => new OpsSlice(spark, probe, dir, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def mb(bytes: Long): Double = bytes / 1e6
}

/** Steps 1-5 on a topic-structured corpus whose gold labels same-topic stem
  * pairs as related: vectors to parquet and 10-fold CV on them, as
  * `cli.Main pipeline` does, then the vectors written as Step-4 text and
  * ARFF and read back through `VectorSource`. Its traced pass spans every
  * pipeline layer: each Steps 1-4 span rebuilds its prefix of the plan from
  * the input files, so a layer's self time is its span minus the span of
  * the layer before it.
  */
final class GoldTopics(spark: SparkSession, probe: Probe, dir: Path,
    seed: Long, scale: Double) extends Workload(spark, probe, dir, seed, scale) {

  private val lines = sized(40000)
  private val goldPairs = 120
  private val topics = 5
  private val tokensPerLine = 8
  private def parts: Int = spark.sparkContext.defaultParallelism

  private var corpus: Inputs.Corpus = _
  private var goldPath: String = _
  private var gold: Seq[(String, String, Boolean)] = Nil

  def generate(): Map[String, Long] = {
    corpus = Inputs.corpus(dir, lines, tokensPerLine, seed, topics, parts)
    val (p, g) = Inputs.gold(dir, goldPairs, seed, topics)
    goldPath = p; gold = g
    Map("corpus_lines" -> corpus.lines, "tokens" -> corpus.tokens,
      "valid_edges" -> corpus.validEdges, "gold_pairs" -> gold.size.toLong)
  }

  def inputRows: Long = corpus.lines

  /** Distinct (stem, stem, label) gold triples: an upper bound on instances. */
  private lazy val stemmedGold: Long = gold.map { case (a, b, r) =>
    (graft.text.PorterStemmer.stem(a), graft.text.PorterStemmer.stem(b), r)
  }.distinct.size.toLong

  override def invariants(): Seq[String] = {
    val c = Counts.fromEdges(Biarcs.readEdges(spark, corpus.path))
    try {
      if (c.total == corpus.lfTotal) Nil
      else Seq(s"sum(lf)=${c.total} but the generator wrote ${corpus.lfTotal}")
    } finally c.unpersist()
  }

  private def instanceProblems(n: Long): Seq[String] =
    if (n >= 1 && n <= stemmedGold) Nil
    else Seq(s"instances=$n outside 1..$stemmedGold (distinct stemmed gold)")

  /** Spans for Biarcs, Counts, Associate and PairVectors. Returns the
    * per-layer values, the PairVectors rows with their schema, and the
    * PairVectors span. Row counts are taken outside the spans.
    */
  private def chain(c: Inputs.Corpus, pass: Int)
      : (Map[String, Double], Array[Row], StructType, Tally) = {
    val (_, b) = probe.span("biarcs", "", pass)(noop(Biarcs.readEdges(spark, c.path)))
    val edgesOut = Biarcs.readEdges(spark, c.path).count()
    val (cc, k) = probe.span("counts", "biarcs", pass) {
      Counts.fromEdges(Biarcs.readEdges(spark, c.path))
    }
    val pairsOut = cc.pairs.count()
    cc.unpersist()
    val ((assocDf, cc1), a) = probe.span("associate", "counts", pass) {
      val cc = Counts.fromEdges(Biarcs.readEdges(spark, c.path))
      val assoc = Associate.associate(cc)
      noop(assoc); (assoc, cc)
    }
    val rowsOut = assocDf.count()
    cc1.unpersist()
    val ((rows, schema, assoc, g, cc2), p) =
      probe.span("pairvectors", "associate", pass) {
        val (assoc, cc) = SemanticPipeline.associationsManaged(spark, c.path)
        val g = PairVectors.parseGold(spark.read.text(goldPath))
        val vecs = PairVectors.vectors(assoc, g)
        (vecs.collect(), vecs.schema, assoc, g, cc)
      }
    // association rows whose lexeme is a gold word, read from the cache
    val matched = assoc.join(broadcast(
      g.select(col("w1").as("lexeme")).union(g.select(col("w2"))).distinct()),
      "lexeme").count()
    cc2.unpersist()
    val countsRecords = k.shuffleWriteRecords - b.shuffleWriteRecords
    val v = Map(
      "biarcs.self_s" -> b.wallS,
      "biarcs.tokens_in" -> c.tokens.toDouble,
      "biarcs.edges_out" -> edgesOut.toDouble,
      "biarcs.edge_yield" -> edgesOut.toDouble / c.tokens,
      "biarcs.gc_s" -> b.gcS,
      "biarcs.compile_s" -> b.compileS,
      "counts.self_s" -> (k.wallS - b.wallS),
      "counts.shuffle_records" -> countsRecords.toDouble,
      "counts.shuffle_write_mb" -> Workload.mb(k.shuffleWriteBytes - b.shuffleWriteBytes),
      "counts.combine_ratio" -> edgesOut.toDouble / math.max(1L, countsRecords),
      "counts.pairs_out" -> pairsOut.toDouble,
      "counts.cached_mb" -> Workload.mb(k.peakCachedBytes),
      "counts.jobs" -> (k.jobs - b.jobs).toDouble,
      "associate.self_s" -> (a.wallS - k.wallS),
      "associate.shuffle_records" -> (a.shuffleWriteRecords - k.shuffleWriteRecords).toDouble,
      "associate.shuffle_write_mb" -> Workload.mb(a.shuffleWriteBytes - k.shuffleWriteBytes),
      "associate.rows_out" -> rowsOut.toDouble,
      "associate.stages" -> (a.stages - k.stages).toDouble,
      "pairvectors.self_s" -> (p.wallS - a.wallS),
      "pairvectors.matched_rows" -> matched.toDouble,
      "pairvectors.match_ratio" -> matched.toDouble / math.max(1L, rowsOut),
      "pairvectors.shuffle_records" -> (p.shuffleWriteRecords - a.shuffleWriteRecords).toDouble,
      "pairvectors.shuffle_write_mb" -> Workload.mb(p.shuffleWriteBytes - a.shuffleWriteBytes),
      "pairvectors.instances_out" -> rows.length.toDouble,
      "pairvectors.instances_per_gold" -> rows.length.toDouble / gold.size,
      "pairvectors.gc_s" -> (p.gcS - a.gcS))
    (v, rows, schema, p)
  }

  private val parquet = out("vectors.parquet")
  private val step4 = out("step4")
  private val arff = out("vectors.arff")

  /** Parquet write + `Classify.run`'s two calls, so the fold fits can be
    * timed apart (traced passes only).
    */
  private def classify(vecs: DataFrame): (Classify.Report, Double) = {
    vecs.write.mode("overwrite").parquet(parquet)
    val t0 = System.nanoTime()
    val preds = Classify.crossValPredictions(spark.read.parquet(parquet))
    val fit = (System.nanoTime() - t0) / 1e9
    try (Classify.evaluate(preds), fit) finally preds.unpersist()
  }

  /** Step-4 text and ARFF writes, then both read back. */
  private def roundTrip(vecs: DataFrame): (Array[Row], Array[Row], Double, Double) = {
    val t0 = System.nanoTime()
    FaithfulText.vectorLines(vecs).write.mode("overwrite").text(step4)
    ArffSink.writeLocal(vecs, arff)
    val t1 = System.nanoTime()
    val back = VectorSource.readVectorLines(spark, step4).collect()
    val backArff = VectorSource.readArff(spark, arff).collect()
    (back, backArff, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  private def outcome(rows: Array[Row], r: Classify.Report,
      back: Array[Row], backArff: Array[Row]): Outcome = {
    val d = Report.digest(rows)
    val unpaired = rows.map(x => Row.fromSeq(x.toSeq.drop(2)))
    val problems = instanceProblems(rows.length) ++
      (if (r.nInstances == rows.length) Nil
       else Seq(s"classified ${r.nInstances} of ${rows.length} instances")) ++
      (if (Report.digest(back) == d) Nil
       else Seq("Step-4 text read back differs from the vectors written")) ++
      (if (Report.digest(backArff) == Report.digest(unpaired)) Nil
       else Seq("ARFF read back differs from the vectors written"))
    Outcome(
      Report.sha256(Seq(d, s"${r.tp} ${r.fn} ${r.fp} ${r.tn}",
        java.lang.Double.doubleToRawLongBits(r.aucSimilar).toHexString)),
      Map("instances" -> rows.length, "cv_accuracy" -> r.accuracy,
        "cv_f1_similar" -> r.f1Similar),
      problems)
  }

  /** `cli.Main pipeline`'s calls, then the Step-4 text/ARFF round trip. */
  def run(): () => Outcome = {
    val vecs = SemanticPipeline.vectors(spark, corpus.path, goldPath)
    vecs.write.mode("overwrite").parquet(parquet)
    val report = Classify.run(spark.read.parquet(parquet))
    val (back, backArff, _, _) = roundTrip(vecs)
    val rows = vecs.collect()
    () => outcome(rows, report, back, backArff)
  }

  def tracePass(pass: Int): Map[String, Double] = {
    val (v, rows, schema, p) = chain(corpus, pass)
    val vecs = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val (((report, fit), pooled), cl) = probe.span("classify", "pairvectors", pass) {
      Probe.offThread("graft.ml.Classify")(classify(vecs))
    }
    val ((back, backArff, writeS, readS), io) =
      probe.span("io", "classify", pass)(roundTrip(vecs))
    val step4Bytes = Files.list(Paths.get(step4)).iterator().asScala.map(Files.size).sum
    v ++ Map(
      "classify.self_s" -> cl.wallS,
      "classify.fold_fit_s" -> fit,
      "classify.jobs" -> cl.jobs.toDouble,
      "classify.stages" -> cl.stages.toDouble,
      "classify.tasks" -> cl.tasks.toDouble,
      "classify.gc_s" -> cl.gcS,
      "classify.shuffle_write_mb" -> Workload.mb(cl.shuffleWriteBytes),
      "classify.cached_mb" -> Workload.mb(cl.peakCachedBytes),
      // 1 when Classify code was seen running on a thread other than the
      // caller's (its fold pool), 0 when every fold fit on the caller
      "classify.pooled" -> (if (pooled) 1.0 else 0.0),
      "classify.cv_accuracy" -> report.accuracy,
      "classify.cv_f1_similar" -> report.f1Similar,
      "io.self_s" -> io.wallS,
      "io.write_s" -> writeS,
      "io.read_s" -> readS,
      "io.bytes_written" -> (step4Bytes + Files.size(Paths.get(arff))).toDouble,
      "io.roundtrip_rows" -> (back.length + backArff.length).toDouble,
      "session.traced_wall_s" -> (p.wallS + cl.wallS + io.wallS))
  }

  /** The chain's self times at 1/4 and 1/2 of the corpus, for each layer's
    * slope (1x is the traced pass itself).
    */
  def sweep(pass: Int): Map[String, Double] = Seq(0.25 -> "x025", 0.5 -> "x050").flatMap {
    case (f, tag) =>
      val c = Inputs.corpus(dir.resolve(tag), math.max(1L, (lines * f).toLong),
        tokensPerLine, seed, topics, parts)
      val (v, _, _, _) = chain(c, pass)
      Seq("biarcs", "counts", "associate", "pairvectors")
        .map(l => s"$l.self_s_$tag" -> v(s"$l.self_s"))
  }.toMap
}

/** Three battery entries through `SparkEntry.queries`, each collected so
  * its rows can be digested: the prefix-filter join (`ops.Dedup`), and
  * brute-force and IVF-PQ top-k (`ops.Similarity`), over generated
  * documents and embeddings.
  */
final class OpsSlice(spark: SparkSession, probe: Probe, dir: Path,
    seed: Long, scale: Double) extends Workload(spark, probe, dir, seed, scale) {
  val dedup = Seq("q223")
  val similarity = Seq("q45", "q107")
  private val tables = dir.resolve("tables").toString
  private var tableRows = 0L
  private var last: Seq[(String, Array[Row], StructType)] = Nil

  lazy val entries: Seq[(String, String)] = (dedup ++ similarity).map { id =>
    id -> SparkEntry.queries.keys.find(_.startsWith(id + "_")).getOrElse(
      throw new IllegalStateException(s"no battery entry $id"))
  }

  def generate(): Map[String, Long] = {
    val sizes = Inputs.tables(spark, dir.resolve("tables"), sized(5000).toInt,
      sized(2000).toInt, 64, seed)
    tableRows = sizes.values.sum
    sizes
  }

  def inputRows: Long = tableRows

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, tables)

  /** Each entry collected, with its wall and codegen-compile seconds.
    * Collecting, not the noop sink, lets the check digest the rows this
    * run produced without running every entry a second time.
    */
  def run(): () => Outcome = {
    val per = Map.newBuilder[String, Double]
    last = entries.map { case (id, name) =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val df = query(name)
      val rows = df.collect()
      per += s"$id.wall_s" -> (System.nanoTime() - t0) / 1e9
      per += s"$id.compile_s" -> Probe.compileSeconds(c0)
      (name, rows, df.schema)
    }
    val got = last
    () => Outcome(Report.sha256(got.map { case (name, rows, _) =>
      name + " " + Report.digest(rows)
    }), per.result())
  }

  /** The last run's results as parquet plus each entry's DuckDB oracle
    * SQL, for the oracle check the runner makes.
    */
  def dumpForOracle(target: Path): Unit = {
    val sql = SparkEntry.oracleSql
    last.foreach { case (name, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(target.resolve(name).toString)
    }
    Files.writeString(target.resolve("oracle_sql.json"), Report.json(
      last.flatMap { case (name, _, _) => sql.get(name).map(name -> _) }.toMap))
  }

  def tracePass(pass: Int): Map[String, Double] = {
    val per = entries.map { case (id, name) =>
      val (_, t) = probe.span(s"ops.$id", "", pass)(query(name).collect())
      id -> t
    }.toMap
    val v = per.toSeq.flatMap { case (id, t) => Seq(
      s"ops.$id.wall_s" -> t.wallS,
      s"ops.$id.shuffle_write_mb" -> Workload.mb(t.shuffleWriteBytes),
      s"ops.$id.scans" -> t.scans.toDouble,
      s"ops.$id.jobs" -> t.jobs.toDouble,
      s"ops.$id.spill_mb" -> Workload.mb(t.spillBytes))
    }.toMap
    val dedupS = dedup.map(per(_).wallS).sum
    val simS = similarity.map(per(_).wallS).sum
    v ++ Map("ops.Dedup.wall_s" -> dedupS, "ops.Similarity.wall_s" -> simS,
      "session.traced_wall_s" -> (dedupS + simS))
  }
}
