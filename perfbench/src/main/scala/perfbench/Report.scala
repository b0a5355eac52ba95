package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Bit-exact output digests and the result file's JSON. */
object Report {

  /** When set, the next digest flips the lowest bit of the first double in
    * its first sorted row: the self-test uses it to prove that a one-bit
    * change in an output fails the digest check.
    */
  @volatile var flipNext = false

  /** SHA-256 over the rows sorted by their encoding, every double and float
    * taken as its raw bits.
    */
  def digest(rows: Seq[Row]): String = {
    val sorted = rows.map(r => r.toSeq.toVector).sortBy(_.map(enc).mkString("\u0001"))
    val flip = flipNext
    flipNext = false
    val flipped =
      if (!flip || sorted.isEmpty) sorted
      else {
        val i = sorted.head.indexWhere(_.isInstanceOf[Double])
        if (i < 0) sorted
        else {
          val d = sorted.head(i).asInstanceOf[Double]
          val bits = java.lang.Double.doubleToRawLongBits(d) ^ 1L
          sorted.updated(0, sorted.head.updated(i, java.lang.Double.longBitsToDouble(bits)))
        }
      }
    val md = MessageDigest.getInstance("SHA-256")
    flipped.foreach(r => md.update((r.map(enc).mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def enc(v: Any): String = v match {
    case null => "␀"
    case d: Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => "f" + Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case s: scala.collection.Seq[_] => s.map(enc).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(enc).mkString("(", ",", ")")
    case other => other.toString
  }

  def sha256(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Minimal JSON rendering for maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
