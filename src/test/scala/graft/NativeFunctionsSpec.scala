package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Extensions
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The user-visible surface of graft's SQL functions: the names Spark
  * gives unaliased calls, null propagation and nullability, constant
  * folding, analysis-time type errors, and the session extension that
  * registers every function for pure-SQL users.
  */
class NativeFunctionsSpec extends AnyFunSuite with SparkTestBase {

  private def fx: DataFrame = {
    val s2 = spark; import s2.implicits._
    Seq(("running cats", "runs cat", 5L, 6L, Seq(1L, 2L), Seq(2L, 3L)))
      .toDF("a", "b", "x", "y", "u", "v")
      .withColumn("t", split(col("a"), " "))
  }

  test("unaliased calls are named after the function, from the Column " +
      "API and from SQL alike") {
    val viaCol = fx.select(porter_stem(col("a")), jaro_winkler(col("a"),
      col("b")), token_ngram_clip(col("a"), col("b"), lit(2)),
      hilbert_index(col("x"), col("y"), 3),
      sorted_overlap(col("u"), col("v")), word_ngrams(col("t"), lit(2)))
    assert(viaCol.columns.toSeq == Seq("porter_stem(a)",
      "jaro_winkler(a, b)", "token_ngram_clip(a, b, 2)",
      "hilbert_index(x, y, 3)", "sorted_overlap(u, v)",
      "word_ngrams(t, 2)"))
    registerAll(spark)
    fx.createOrReplaceTempView("nfs_names")
    val viaSql = spark.sql("SELECT porter_stem(a), jaro_winkler(a, b), " +
      "token_ngram_clip(a, b, 2), hilbert_index(x, y, 3), " +
      "sorted_overlap(u, v), word_ngrams(t, 2) FROM nfs_names")
    assert(viaSql.columns.toSeq == viaCol.columns.toSeq)
    assert(viaSql.collect().toSeq == viaCol.collect().toSeq)
  }

  test("nulls propagate, and the output is nullable only when an input " +
      "is") {
    val s2 = spark; import s2.implicits._
    val df = Seq((Option("a b"), 1L, Option(2L)), (None, 1L, None))
      .toDF("ns", "l", "nl").withColumn("s", lit("a b"))
      .withColumn("set", array(col("l")))
      .withColumn("nset", when(col("nl").isNotNull, array(col("l"))))
      .withColumn("t", split(col("s"), " "))
      .withColumn("nt", split(col("ns"), " "))
    val calls = Seq(
      porter_stem(col("s")) -> porter_stem(col("ns")),
      nfc_normalize(col("s")) -> nfc_normalize(col("ns")),
      jaro_winkler(col("s"), col("s")) -> jaro_winkler(col("s"), col("ns")),
      damerau_levenshtein(col("s"), col("s")) ->
        damerau_levenshtein(col("ns"), col("s")),
      token_lcs(col("s"), col("s")) -> token_lcs(col("s"), col("ns")),
      token_ngram_clip(col("s"), col("s"), lit(1)) ->
        token_ngram_clip(col("ns"), col("s"), lit(1)),
      hilbert_index(col("l"), col("l"), 3) ->
        hilbert_index(col("l"), col("nl"), 3),
      sorted_overlap(col("set"), col("set")) ->
        sorted_overlap(col("set"), col("nset")),
      word_ngrams(col("t"), lit(1)) -> word_ngrams(col("nt"), lit(1)))
    for ((strict, nullableCall) <- calls) {
      val out = df.select(strict.as("v"), nullableCall.as("nv"))
      assert(!out.schema("v").nullable, out.schema)
      assert(out.schema("nv").nullable, out.schema)
      val rows = out.collect()
      assert(rows.forall(!_.isNullAt(0)))
      assert(!rows(0).isNullAt(1) && rows(1).isNullAt(1))
    }
  }

  test("calls on literals fold to a literal") {
    val df = spark.range(1).select(porter_stem(lit("running")).as("p"),
      jaro_winkler(lit("MARTHA"), lit("MARHTA")).as("j"),
      hilbert_index(lit(1L), lit(2L), 3).as("h"),
      sorted_overlap(array(lit(1L), lit(4L)), array(lit(4L))).as("o"),
      word_ngrams(array(lit("a"), lit("b"), lit("c")), lit(2)).as("g"))
    val plan = df.queryExecution.optimizedPlan.toString
    for (name <- Seq("porter_stem", "stemUTF8", "jaro_winkler", "sim",
        "hilbert_index", "compute", "sorted_overlap", "SortedOverlap",
        "word_ngrams", "WordNgrams"))
      assert(!plan.contains(name), plan)
    val r = df.head()
    assert(r.getString(0) == "run" &&
      r.getLong(2) == HilbertIndex.compute(1L, 2L, 3))
    assert(r.getInt(3) == 1 && r.getSeq[String](4) == Seq("a b", "b c"))
  }

  test("generated code calls each kernel directly") {
    // rows from a range, not a local Seq: a projection over a local
    // relation is evaluated by the optimizer and never reaches codegen
    val row = spark.range(1).select(
      concat(lit("running\trunning/VBG/ROOT/0 cats/NNS/dobj/1\t7\t"),
        col("id")).as("value"),
      concat(lit("a b "), col("id")).as("a"), lit("b a").as("b"),
      col("id").as("x"), (col("id") + 1).as("y"),
      array(col("id"), col("id") + 2).as("u"))
    val plans = Seq(graft.pipeline.Biarcs.edges(row.select("value")),
      row.select(nfc_normalize(col("a")), jaro_winkler(col("a"), col("b")),
        damerau_levenshtein(col("a"), col("b")),
        token_lcs(col("a"), col("b")),
        token_ngram_clip(col("a"), col("b"), lit(2)),
        hilbert_index(col("x"), col("y"), 3),
        sorted_overlap(col("u"), col("u")),
        word_ngrams(split(col("a"), " "), lit(2))))
    val code = plans.map(df => org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)).mkString
    for (call <- Seq("PorterStem.stemUTF8(", "NfcNormalize.normalizeUTF8(",
        "JaroWinkler.sim(", "DamerauLevenshtein.dist(", "TokenLcs.lcs(",
        "TokenNgramClip.clip(", "HilbertIndex.compute(",
        "SortedOverlap.count(", "WordNgrams.grams("))
      assert(code.contains("graft.functions." + call), call)
  }

  test("an array argument fails analysis with a type mismatch; a " +
      "castable one is cast") {
    val arr = array(lit("a"))
    for (call <- Seq(porter_stem(arr), jaro_winkler(arr, lit("a")),
        token_ngram_clip(lit("a"), arr, lit(1)),
        sorted_overlap(lit(1L), array(lit(1L))),
        word_ngrams(lit("a b"), lit(1)))) {
      val e = intercept[AnalysisException](spark.range(1).select(call))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
    }
    val cast = spark.range(5, 6).select(porter_stem(col("id")),
      damerau_levenshtein(col("id"), lit("15")),
      sorted_overlap(array(col("id").cast("int")), array(lit(5L)))).head()
    assert(cast.getString(0) == "5" && cast.getInt(1) == 1 &&
      cast.getInt(2) == 1)
  }

  test("hilbert_index takes bits as an int literal with 0 < 2*bits < 63") {
    registerAll(spark)
    val e = intercept[Exception](spark.sql(
      "SELECT hilbert_index(CAST(1 AS BIGINT), CAST(1 AS BIGINT), " +
        "CAST(id AS INT)) FROM range(1)").collect())
    assert(e.getMessage.contains("bits must be an int literal"),
      e.getMessage)
    for (bits <- Seq(0, 32)) {
      val e = intercept[AnalysisException](
        spark.range(1).select(hilbert_index(col("id"), col("id"), bits)))
      assert(e.getMessage.contains("0 < 2*bits < 63"), e.getMessage)
    }
  }

  test("GraftExtensions registers every SQL function on a session") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val session = spark.newSession()
    Extensions.registerFunctions(ext, session.sessionState.functionRegistry)
    val r = session.sql(
      """SELECT porter_stem('running'),
        |  float_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)),
        |  nfc_normalize('café'),
        |  float_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)),
        |  jaro_winkler('MARTHA', 'MARHTA'),
        |  damerau_levenshtein('ca', 'abc'),
        |  token_lcs('a b c', 'a c'),
        |  token_ngram_clip('a b a b', 'a b a b', 2),
        |  hilbert_index(CAST(1 AS BIGINT), CAST(2 AS BIGINT), 3),
        |  sorted_overlap(array(1L, 2L, 5L), array(2L, 5L, 7L)),
        |  word_ngrams(split('a b c', ' '), 2)
        |""".stripMargin).head()
    assert(r.getString(0) == "run")
    assert(r.getDouble(1) == 11.0)
    assert(r.getString(2) == "café")
    assert(r.getDouble(3) == 1.0)
    assert(math.abs(r.getDouble(4) - 0.9611111111111111) < 1e-12)
    assert(r.getInt(5) == 2 && r.getInt(6) == 2)
    assert(r.getLong(7) == 3L &&
      r.getLong(8) == HilbertIndex.compute(1L, 2L, 3))
    assert(r.getInt(9) == 2 && r.getSeq[String](10) == Seq("a b", "b c"))
    assert(r.length == 11)
  }
}
