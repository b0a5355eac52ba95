package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input is written to files; the program
  * only ever sees those files. The same seed gives the same bytes.
  */
object Inputs {

  /** 40 stem bases x 10 suffixes = 400 surface words, base-major, so ten
    * consecutive words share one Porter stem family (the shape of
    * `graft.queries.PipelineBench`'s synthetic vocabulary).
    */
  val stemBases: Seq[String] = Seq("run", "jump", "walk", "talk", "work",
    "play", "read", "write", "sing", "dance", "cook", "clean", "build",
    "break", "start", "stop", "open", "close", "move", "turn", "help", "call",
    "ask", "answer", "learn", "teach", "show", "watch", "listen", "speak",
    "count", "measure", "relate", "connect", "compute", "process", "filter",
    "sort", "merge", "join")
  private val suffixes = Seq("", "s", "ing", "ed", "er", "ly", "ness",
    "ation", "ful", "ious")
  val vocab: Seq[String] = for (b <- stemBases; s <- suffixes) yield b + s
  private val deps = Seq("dobj", "nsubj", "amod", "prep", "pobj", "conj")

  /** What the generator knows about the corpus it wrote. `lfTotal` is the
    * count-weighted number of valid edges (tokens whose head pointer is in
    * 1..k), which Step 1's grand total must reproduce.
    */
  final case class Corpus(path: String, lines: Long, tokens: Long,
      validEdges: Long, lfTotal: Long)

  /** Biarcs lines `head<TAB>w/NN/dep/h ...<TAB>count<TAB>2000,1`, `k` tokens
    * each, in `parts` files. Each line draws a topic; 70% of its words come
    * from that topic's slice of the vocabulary, the rest from a Zipf-like
    * skew (u^3) over all of it, so same-topic stems share contexts (the
    * shape of `graft.queries.PipelineBench.structuredCorpus`). Head pointers
    * are uniform in 0..k-1, 0 being the root.
    */
  def corpus(dir: Path, lines: Long, k: Int, seed: Long, topics: Int,
      parts: Int): Corpus = {
    val out = dir.resolve("corpus")
    Files.createDirectories(out)
    val slice = vocab.size / topics
    // one file per part, written in parallel; each returns (valid, lf)
    val counts = java.util.stream.IntStream.range(0, parts).parallel().mapToObj { p =>
      val rnd = new java.util.SplittableRandom(seed * 1000003L + p)
      def zipf(): String = vocab((math.pow(rnd.nextDouble(), 3.0) * vocab.size).toInt)
      var valid = 0L
      var lf = 0L
      val w = Files.newBufferedWriter(out.resolve(f"part-$p%05d.txt"))
      try {
        var i = p.toLong
        while (i < lines) {
          val topic = rnd.nextInt(topics)
          def word(): String =
            if (rnd.nextDouble() < 0.7) vocab(topic * slice + rnd.nextInt(slice))
            else zipf()
          val cnt = 1 + rnd.nextInt(99)
          val sb = new StringBuilder(word()).append('\t')
          var j = 0
          var lineValid = 0
          while (j < k) {
            val head = rnd.nextInt(k)
            if (head >= 1) lineValid += 1
            if (j > 0) sb.append(' ')
            sb.append(word()).append("/NN/").append(deps(rnd.nextInt(deps.size)))
              .append('/').append(head)
            j += 1
          }
          sb.append('\t').append(cnt).append("\t2000,1\n")
          w.write(sb.toString)
          valid += lineValid
          lf += lineValid.toLong * cnt
          i += parts
        }
      } finally w.close()
      (valid, lf)
    }.toList.asScala
    val valid = counts.map(_._1).sum
    val lf = counts.map(_._2).sum
    Corpus(out.toString, lines, lines * k, valid, lf)
  }

  /** Gold-standard lines `w1 w2 True|False` over stem bases: a pair is
    * related when both bases fall in the same topic slice of the
    * vocabulary. Pairs are distinct and unordered.
    */
  def gold(dir: Path, pairs: Int, seed: Long, topics: Int): (String, Seq[(String, String, Boolean)]) = {
    val rnd = new Random(seed * 31 + pairs)
    val all = for {
      i <- stemBases.indices; j <- stemBases.indices if i < j
    } yield (i, j)
    val perTopic = stemBases.size / topics
    val picked = rnd.shuffle(all).take(pairs).map { case (i, j) =>
      val (a, b) = if (rnd.nextBoolean()) (i, j) else (j, i)
      (stemBases(a), stemBases(b), a / perTopic == b / perTopic)
    }
    val path = dir.resolve("gold.txt")
    Files.writeString(path, picked.map { case (a, b, r) =>
      s"$a\t$b\t${if (r) "True" else "False"}"
    }.mkString("", "\n", "\n"))
    (path.toString, picked)
  }

  private val docWords = Seq("query", "row", "stream", "the", "batch",
    "sort", "value", "hash", "filter", "big", "data", "dup", "spark", "line",
    "small", "fast", "group", "customer", "part", "column", "order", "scan",
    "a", "slow", "agg", "key", "window", "table", "merge", "vector", "join")
  private val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")

  /** `documents(doc_id, text, lang, source, n_chars)` and
    * `embeddings(vec_id, embedding array<float>, label)` parquet tables in
    * the battery's shape. One document in ten is a token-perturbed copy of
    * an earlier one, so the near-duplicate operators find real pairs;
    * embeddings are unit vectors around ten labelled centres.
    */
  def tables(spark: SparkSession, dir: Path, docs: Int, vecs: Int,
      dim: Int, seed: Long): Map[String, Long] = {
    val rnd = new Random(seed)
    val texts = new Array[Array[String]](docs)
    val docRows = (0 until docs).map { i =>
      val words =
        if (i > 0 && rnd.nextDouble() < 0.1) {
          texts(rnd.nextInt(i)).map(w =>
            if (rnd.nextDouble() < 0.1) docWords(rnd.nextInt(docWords.size))
            else w)
        } else Array.fill(10 + rnd.nextInt(91))(
          docWords(rnd.nextInt(docWords.size)))
      texts(i) = words
      val text = words.mkString(" ")
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val centres = Array.fill(10, dim)(rnd.nextGaussian())
    val vecRows = (0 until vecs).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(dim)(d => centres(label)(d) + 1.5 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"$name.parquet").toString)
    write(docRows, docSchema, "documents")
    write(vecRows, vecSchema, "embeddings")
    Map("documents" -> docs.toLong, "embeddings" -> vecs.toLong)
  }
}
