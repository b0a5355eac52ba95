package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SortedOverlap, WordNgrams, sorted_overlap, word_ngrams}

/** The two native kernels of the prefix-filter join and the n-gram
  * operators: each equals the Spark spelling it replaced on seeded random
  * inputs, and on the edge cases by hand.
  */
class DedupKernelsSpec extends AnyFunSuite with SparkTestBase {

  private def longs(xs: Long*) = new GenericArrayData(xs.toArray[Any])
  private def words(xs: String*) =
    new GenericArrayData(xs.map(x => if (x == null) null
      else UTF8String.fromString(x)).toArray[Any])
  private def grams(n: Int, xs: String*): Seq[String] =
    WordNgrams.grams(words(xs: _*), n).toArray[UTF8String](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq

  private val lambdaGrams = (n: Int) =>
    expr(s"transform(sequence(1, size(t) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice(t, i, $n)))")

  test("sorted_overlap equals size(array_intersect(..)) on random " +
      "ascending sets") {
    val rnd = new scala.util.Random(42)
    def set(): Seq[Long] = {
      val universe = if (rnd.nextBoolean()) 40 else 4
      Seq.fill(rnd.nextInt(25))(rnd.nextInt(universe).toLong - universe / 2)
        .distinct.sorted
    }
    val s2 = spark; import s2.implicits._
    val sets = Seq.fill(400)((set(), set())) ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]), (Seq(1L, 2L), Seq.empty[Long]),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Long.MinValue, 0L, Long.MaxValue)))
    val out = sets.toDF("a", "b")
      .select(sorted_overlap(col("a"), col("b")),
        size(array_intersect(col("a"), col("b"))))
      .collect()
    assert(out.length == sets.length)
    for ((r, (a, b)) <- out.zip(sets))
      assert(r.getInt(0) == r.getInt(1), s"a=$a b=$b")
    assert(SortedOverlap.count(longs(), longs()) == 0)
    assert(SortedOverlap.count(longs(1, 3, 5), longs(2, 4, 6)) == 0)
    assert(SortedOverlap.count(longs(1, 3, 5), longs(1, 3, 5)) == 3)
    assert(SortedOverlap.count(longs(1, 2, 9), longs(2, 9, 10)) == 2)
  }

  test("sorted_overlap rejects unsorted, duplicated and null-holding " +
      "input") {
    for ((a, b) <- Seq(longs(3, 1) -> longs(1), longs(1) -> longs(1, 1),
        longs(1, 2) -> longs(5, 4, 6), longs(1) -> words(null))) {
      val e = intercept[IllegalArgumentException](SortedOverlap.count(a, b))
      assert(e.getMessage.startsWith("sorted_overlap:"), e.getMessage)
    }
    // the same failure from a query: the job fails, naming the function
    val e = intercept[Exception](spark.range(1)
      .select(sorted_overlap(array(col("id") + 2, col("id")),
        array(col("id"))))
      .collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("sorted_overlap:")),
      e)
  }

  test("word_ngrams equals the transform/concat_ws lambda on random " +
      "token arrays, empty tokens and non-ASCII text included") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "bb", "", "é", "日本", "naïve", "🙂", "x y")
    val texts = Seq.fill(300)(Seq.fill(rnd.nextInt(12))(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")) ++
      Seq("", " ", "a  b", "a", "a b c")
    val s2 = spark; import s2.implicits._
    val toks = texts.toDF("text").select(split(col("text"), " ").as("t"))
    for (n <- 1 to 4) {
      val rows = toks.where(size(col("t")) >= n)
        .select(word_ngrams(col("t"), lit(n)), lambdaGrams(n)).collect()
      assert(rows.nonEmpty)
      for (r <- rows) assert(r.getSeq[String](0) == r.getSeq[String](1), r)
      // shorter than n: no grams (where the lambda fails)
      assert(toks.where(size(col("t")) < n)
        .select(size(word_ngrams(col("t"), lit(n)))).collect()
        .forall(_.getInt(0) == 0))
    }
  }

  test("word_ngrams by hand: n = 1, size equal to n, empty and null " +
      "tokens, bad n") {
    assert(grams(1, "a", "b") == Seq("a", "b"))
    assert(grams(2, "a", "b") == Seq("a b"))
    assert(grams(3, "a", "b") == Seq.empty)
    assert(grams(2) == Seq.empty)
    // an empty token from a double space keeps its separator
    assert(grams(2, "a", "", "b") == Seq("a ", " b"))
    assert(grams(2, "", "") == Seq(" "))
    // a null token is skipped, as concat_ws skips it
    assert(grams(2, "a", null, "b") == Seq("a", "b"))
    assert(grams(1, null) == Seq(""))
    assert(grams(2, "日本", "é") == Seq("日本 é"))
    val e = intercept[IllegalArgumentException](grams(0, "a"))
    assert(e.getMessage.startsWith("word_ngrams:"), e.getMessage)
    // the same null-token rule through Spark's own concat_ws
    val r = spark.range(1).select(
      word_ngrams(array(lit("a"), lit(null).cast("string"), lit("b")),
        lit(2)),
      expr("transform(sequence(1, 2), i -> concat_ws(' ', " +
        "slice(array('a', CAST(NULL AS STRING), 'b'), i, 2)))")).head()
    assert(r.getSeq[String](0) == r.getSeq[String](1), r)
    assert(r == Row(Seq("a", "b"), Seq("a", "b")))
  }
}
