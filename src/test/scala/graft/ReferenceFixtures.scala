package graft

import org.scalatest.Assertions.fail

/** The reference implementation's two input fixtures, read by the
  * reference-parity suites: `small-sample.txt` (a biarcs corpus slice) and
  * `test_gold_standard.txt` (its word-pair gold standard). They live in
  * `src/test/resources/golden/`, next to the Step 1-4 outputs the
  * reference produced from them. A missing one fails the calling test
  * with one message naming the file.
  */
object ReferenceFixtures {
  def corpus: String = path("small-sample.txt")
  def gold: String = path("test_gold_standard.txt")

  private def path(name: String): String =
    Option(getClass.getResource(s"/golden/$name"))
      .map(url => java.nio.file.Paths.get(url.toURI).toString)
      .getOrElse(fail(s"reference fixture $name is missing: copy it from " +
        s"the reference implementation's checkout into " +
        s"src/test/resources/golden/$name"))
}
