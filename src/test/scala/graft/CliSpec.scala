package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.FaithfulText

/** `cli.Main` commands end to end on the in-repo quirk fixture
  * (`golden/quirk/`, see QuirkParitySpec): their text outputs byte-match
  * the reference's own, and no command leaves a cached relation behind.
  * Runs on the shared test session; the caller of `Main.run` owns it.
  */
class CliSpec extends AnyFunSuite with SparkTestBase {

  private def res(name: String) =
    getClass.getResource(s"/golden/quirk/$name").getPath

  private def golden(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/golden/quirk/$name")
    val s = scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
    try s.getLines().toVector.sorted finally s.close()
  }

  private val faithful =
    Map("corpus" -> res("quirk-corpus.txt"), "faithful" -> "true")

  /** Runs `cmd` into a fresh output directory, checks that it cached
    * nothing that outlives it, and returns `read(outDir)`.
    */
  private def run(cmd: String, opts: Map[String, String])(
      read: String => Seq[String]): Seq[String] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli")
    try {
      val out = tmp.resolve("out").toString
      val before = spark.sparkContext.getPersistentRDDs.keySet
      cli.Main.run(cmd, opts + ("out" -> out), spark)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        s"$cmd left a cached relation")
      read(out).sorted
    } finally queries.QueryDef.deleteRecursively(tmp)
  }

  private def textLines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq

  test("counts --faithful --format text byte-matches the reference's Step 1") {
    assert(run("counts", faithful + ("format" -> "text"))(textLines) ==
      golden("step1.txt"))
  }

  test("vectors --faithful --format text byte-matches the reference's Step 4") {
    val opts = faithful ++ Map("gold" -> res("quirk-gold.txt"), "format" -> "text")
    assert(run("vectors", opts)(textLines) == golden("step4.txt"))
  }

  test("pipeline --faithful writes the reference's Step-4 vectors as parquet") {
    val opts = faithful ++ Map("gold" -> res("quirk-gold.txt"), "folds" -> "2")
    val got = run("pipeline", opts)(out =>
      FaithfulText.vectorLines(spark.read.parquet(out))
        .collect().map(_.getString(0)).toSeq)
    assert(got == golden("step4.txt"))
  }
}
