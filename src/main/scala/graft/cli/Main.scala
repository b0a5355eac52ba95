package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{ArffSink, FaithfulText}
import graft.ml.Classify
import graft.pipeline._

/** Per-stage command-line entry points — reference §3.2 parity: each
  * pipeline stage is independently runnable against materialized inputs,
  * so partial reruns work like the reference's per-step jars, and §3.3's
  * standalone classification rerun is `classify`.
  *
  * {{{
  * graft.cli.Main counts    --corpus F --out D [--faithful]
  *                          [--format parquet|text]
  * graft.cli.Main associate --corpus F --out D [--faithful]
  *                          [--format parquet|text]
  * graft.cli.Main vectors   --corpus F --gold F --out D
  *                          [--faithful] [--format parquet|text|arff]
  * graft.cli.Main classify  --vectors D --report F [--folds N]
  * graft.cli.Main pipeline  --corpus F --gold F --out D --report F
  * graft.cli.Main curate    --in P --out D [--min-quality Q] ...
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-$cmd")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(cmd, opts, spark)
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}\n$usage"); sys.exit(2)
    } finally spark.stop()
  }

  /** Runs one command on `spark`; the caller owns the session. */
  private[graft] def run(cmd: String, opts: Map[String, String],
      spark: SparkSession): Unit = cmd match {
    case "counts" | "associate" =>
      val (assoc, c) = SemanticPipeline.associationsManaged(spark,
        req(opts, "corpus"), opts.contains("faithful"))
      try {
        if (cmd == "counts") write(Counts.taggedUnion(c), c.pairs, opts)
        else write(FaithfulText.assocLines(assoc), assoc, opts)
      } finally c.unpersist()
    case "vectors" =>
      val vecs = SemanticPipeline.vectors(spark, req(opts, "corpus"),
        req(opts, "gold"), opts.contains("faithful"))
      opts.getOrElse("format", "parquet") match {
        case "arff" => ArffSink.writeLocal(vecs, req(opts, "out"))
        case "text" =>
          FaithfulText.vectorLines(vecs).write.mode("overwrite")
            .text(req(opts, "out"))
        case _ => vecs.write.mode("overwrite").parquet(req(opts, "out"))
      }
    case "classify" =>
      // three input shapes (reference §3.3 rerun parity): parquet vectors,
      // the reference's Step-4 text part files, or the exported ARFF
      val vecs =
        if (opts.contains("vectors-text"))
          graft.io.VectorSource.readVectorLines(spark,
            req(opts, "vectors-text"))
        else if (opts.contains("vectors-arff"))
          graft.io.VectorSource.readArff(spark, req(opts, "vectors-arff"))
        else spark.read.parquet(req(opts, "vectors"))
      val report = Classify.run(vecs,
        folds = opts.getOrElse("folds", "10").toInt)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(req(opts, "report")), report.render + "\n")
      println(report.render)
    case "pipeline" =>
      val vecs = SemanticPipeline.vectors(spark, req(opts, "corpus"),
        req(opts, "gold"), opts.contains("faithful"))
      vecs.write.mode("overwrite").parquet(req(opts, "out"))
      val report = Classify.run(spark.read.parquet(req(opts, "out")),
        folds = opts.getOrElse("folds", "10").toInt)
      opts.get("report").foreach(p => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), report.render + "\n"))
      println(report.render)
    case "curate" =>
      // training-data curation over a documents table: dedup → quality
      // gate → stratified sample → split, written as split-partitioned
      // parquet (each split is its own directory subtree — the layout a
      // training job consumes)
      val docs = spark.read.parquet(req(opts, "in"))
      val weights = opts.getOrElse("weights", "train=0.8,val=0.1,test=0.1")
        .split(",").toSeq.map { kv =>
          val Array(k, v) = kv.split("="); k -> v.toDouble
        }
      val rates = opts.get("rates").map(_.split(",").toSeq.map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toDouble
      }.toMap).getOrElse(Map.empty[String, Double])
      val curated = graft.ops.Curation.curate(docs,
        minQuality = opts.getOrElse("min-quality", "0.4").toDouble,
        rates = rates,
        defaultRate = opts.getOrElse("sample-rate", "1.0").toDouble,
        weights = weights)
      // optional token-budget sharding (--shard-tokens): adds the shard
      // column a training loader groups by
      val sharded = opts.get("shard-tokens") match {
        case Some(b) => graft.ops.Sampling.packShards(curated, b.toLong,
          numBuckets = opts.getOrElse("shard-buckets", "16").toInt)
        case None => curated
      }
      // shard-size control: at scale the writer must bound file sizes (a
      // training loader wants uniform shards, not one file per final task)
      sharded.write.mode("overwrite").partitionBy("split")
        .option("maxRecordsPerFile",
          opts.getOrElse("max-records-per-file", "0"))
        .parquet(req(opts, "out"))
      spark.read.parquet(req(opts, "out"))
        .groupBy("split").count().orderBy("split").show(false)
    case other =>
      throw new IllegalArgumentException(s"unknown command '$other'")
  }

  private def write(textForm: DataFrame, parquetForm: DataFrame,
      opts: Map[String, String]): Unit =
    opts.getOrElse("format", "parquet") match {
      case "text" => textForm.write.mode("overwrite").text(req(opts, "out"))
      case _ => parquetForm.write.mode("overwrite").parquet(req(opts, "out"))
    }

  private def req(opts: Map[String, String], k: String): String =
    opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing required option --$k"))

  private def parseOpts(args: Array[String]): Map[String, String] = {
    val it = args.iterator
    val m = Map.newBuilder[String, String]
    while (it.hasNext) {
      val a = it.next()
      if (!a.startsWith("--"))
        throw new IllegalArgumentException(s"unexpected argument '$a'")
      val k = a.stripPrefix("--")
      if (k == "faithful") m += k -> "true"
      else if (it.hasNext) m += k -> it.next()
      else throw new IllegalArgumentException(s"option --$k needs a value")
    }
    m.result()
  }

  private val usage: String =
    """usage: graft.cli.Main <counts|associate|vectors|classify|pipeline|curate> [options]
      |  counts    --corpus FILE --out DIR [--faithful] [--format parquet|text]
      |  associate --corpus FILE --out DIR [--faithful] [--format parquet|text]
      |  vectors   --corpus FILE --gold FILE --out DIR [--faithful]
      |            [--format parquet|text|arff]
      |  classify  (--vectors DIR | --vectors-text PATH | --vectors-arff FILE)
      |            --report FILE [--folds N]
      |  pipeline  --corpus FILE --gold FILE --out DIR [--report FILE]
      |            [--faithful] [--folds N]
      |  curate    --in PARQUET --out DIR [--min-quality Q] [--sample-rate R]
      |            [--rates lang=R,...] [--weights split=W,...]
      |            [--max-records-per-file N] [--shard-tokens N]
      |            [--shard-buckets N]""".stripMargin
}
