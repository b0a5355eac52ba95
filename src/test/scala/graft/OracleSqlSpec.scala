package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every DuckDB oracle. `golden/oracle_sql.sha256` holds
  * one `name sha256` line per oracle-bearing entry of
  * [[SparkEntry.oracleSql]] (the SHA-256 of the UTF-8 text, lowercase
  * hex, lines sorted by name). A refactor of the oracle SQL keeps every
  * digest; an oracle fix re-pins its line in the same change, with
  * `sbt -batch "Test/runMain graft.OracleSqlSpec"`, which prints the
  * current lines.
  */
class OracleSqlSpec extends AnyFunSuite {

  test("every oracle's text matches its pinned SHA-256") {
    val src = Source.fromResource("golden/oracle_sql.sha256", getClass.getClassLoader)
    val pinned = try src.getLines().map(_.split(' ')).map(a => a(0) -> a(1)).toMap
      finally src.close()
    val now = OracleSqlSpec.digests
    val changed = now.keySet.intersect(pinned.keySet)
      .filter(k => now(k) != pinned(k))
    val diffs = Seq("changed" -> changed,
        "appeared" -> (now.keySet -- pinned.keySet),
        "vanished" -> (pinned.keySet -- now.keySet))
      .collect { case (what, ks) if ks.nonEmpty =>
        s"$what (${ks.size}): ${ks.toSeq.sorted.mkString(", ")}" }
    if (diffs.nonEmpty) fail(diffs.mkString(
      "oracle text differs from golden/oracle_sql.sha256: ", "; ", ""))
  }
}

object OracleSqlSpec {
  def digests: Map[String, String] = SparkEntry.oracleSql.map { case (k, v) =>
    k -> MessageDigest.getInstance("SHA-256").digest(v.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Prints the golden's lines for the current oracle text. */
  def main(args: Array[String]): Unit =
    digests.toSeq.sorted.foreach { case (k, d) => println(s"$k $d") }
}
