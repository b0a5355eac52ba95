package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The contract of [[Dedup.bucketPairsOf]], checked against a plain-Scala
  * enumeration of the same pairs and the same spill certificate. */
class BucketPairsSpec extends AnyFunSuite with SparkTestBase {
  import BucketPairsSpec.In

  private type P = (Long, String)
  private val byPayload: Ordering[P] = Ordering.Tuple2[Long, String]

  /** The expected pair multiset (sorted) and certificate: buckets of
    * non-null keys, payloads sorted, no pairs from a bucket over the cap,
    * and `a` only from gated rows. */
  private def enumerate(in: Seq[In], twoKeys: Boolean, maxBucket: Int)
      : (Seq[(P, P)], (Long, Long, Int)) = {
    val buckets = in.filter(r => r.k1 != null && (!twoKeys || r.k2 != null))
      .groupBy(r => if (twoKeys) (r.k1, r.k2) else (r.k1, null))
      .values.map(_.sortBy(r => (r.id, r.tag))(byPayload).toIndexedSeq)
      .filter(_.size >= 2).toSeq
    val spilled = buckets.filter(_.size > maxBucket)
    val pairs = for {
      b <- buckets if b.size <= maxBucket
      i <- b.indices if b(i).gate
      j <- (i + 1) until b.size
    } yield ((b(i).id, b(i).tag), (b(j).id, b(j).tag))
    val cert = (spilled.size.toLong, spilled.map(_.size.toLong).sum,
      if (buckets.isEmpty) 0 else buckets.map(_.size).max)
    (pairs.sorted(Ordering.Tuple2(byPayload, byPayload)), cert)
  }

  /** The kernel's pairs (sorted) and certificate, read via an
    * Observation; an empty bucket-size stream reads as zeros. */
  private def kernel(df: DataFrame, keys: Seq[String], struct: Boolean,
      maxBucket: Int): (Seq[(P, P)], (Long, Long, Int)) = {
    val obs = Observation(s"bucket_pairs_spec_${System.nanoTime()}")
    val payload = if (struct) col("p") else col("id")
    val out = Dedup.bucketPairsOf(df, keys, payload, maxBucket, Some(obs),
      aGate = Some(col("gate")))
    val pairs = out.collect().toSeq.map { r =>
      def side(i: Int): P =
        if (struct) { val s = r.getStruct(i); (s.getLong(0), s.getString(1)) }
        else (r.getLong(i), "")
      (side(0), side(1))
    }
    val m = obs.get
    def num(k: String): Long = m.get(k) match {
      case Some(v: Number) => v.longValue
      case _ => 0L
    }
    (pairs.sorted(Ordering.Tuple2(byPayload, byPayload)),
      (num("spilled_buckets"), num("spilled_ids"), num("max_bucket").toInt))
  }

  private def frame(in: Seq[In]): DataFrame = {
    val s2 = spark; import s2.implicits._
    in.toDF().withColumn("p", struct(col("id"), col("tag")))
  }

  /** Runs `body` at shuffle partitions 1 and 7 with AQE off, then puts
    * the session conf back as it was. */
  private def atPartitions(body: Int => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq(1, 7).foreach { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      body(parts)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val maxBucket = 4

  // bucket "ties": payload ties, two gated-out rows (ids 20 and 90) that
  // still serve as `b`; "cap": exactly maxBucket rows; "over": maxBucket
  // + 1 rows; "solo": one row; a null k1 and (for two keys) a null k2
  // bucket that must vanish
  private val fixture: Seq[In] = Seq(
    In("ties", 1, 5L, "x", true), In("ties", 1, 20L, "y", false),
    In("ties", 1, 5L, "x", true), In("ties", 1, 90L, "a", false),
    In("ties", 2, 3L, "z", true), In("ties", 2, 3L, "w", true),
    In("cap", 1, 4L, "d", true), In("cap", 1, 1L, "c", true),
    In("cap", 1, 3L, "b", true), In("cap", 1, 2L, "a", true),
    In("over", 1, 1L, "a", true), In("over", 1, 2L, "b", true),
    In("over", 1, 3L, "c", true), In("over", 1, 4L, "d", true),
    In("over", 1, 5L, "e", true),
    In("solo", 1, 8L, "s", true),
    In(null, 1, 6L, "n", true), In(null, 1, 7L, "m", true),
    In("nk2", null, 6L, "n", true), In("nk2", null, 7L, "m", true))

  test("one key, bigint payload: pairs and certificate equal the " +
      "enumeration — ties, null keys, gate on the a side, buckets of " +
      "maxBucket and maxBucket + 1") {
    // one key: ("ties", 2) becomes its own bucket, and the payload is
    // the bare id, so (3, z) and (3, w) tie as well as the two 5s
    val in = fixture.map(r =>
      if (r.k1 == "ties" && r.k2 == 2) r.copy(k1 = "ties2") else r)
    val exp = enumerate(in.map(_.copy(tag = "")), twoKeys = false, maxBucket)
    assert(exp._2 == ((1L, 5L, 5)), exp._2.toString)
    // a-side gate: ids 20 and 90 only ever appear as `b`
    assert(exp._1.exists(_._2._1 == 20L) && exp._1.exists(_._2._1 == 90L))
    assert(!exp._1.exists(p => p._1._1 == 20L || p._1._1 == 90L))
    atPartitions { parts =>
      val got = kernel(frame(in), Seq("k1"), struct = false, maxBucket)
      assert(got == exp, s"$parts partitions")
    }
  }

  test("two keys, struct payload: a precedes b in payload order, null " +
      "in either key drops the row") {
    val exp = enumerate(fixture, twoKeys = true, maxBucket)
    assert(exp._1.forall { case (a, b) => byPayload.lteq(a, b) })
    // ("ties", 1) holds the (5, x) tie: its pair appears once, equal sides
    assert(exp._1.count { case (a, b) => a == b } == 1)
    assert(exp._2 == ((1L, 5L, 5)), exp._2.toString)
    atPartitions { parts =>
      val got = kernel(frame(fixture), Seq("k1", "k2"), struct = true,
        maxBucket)
      assert(got == exp, s"$parts partitions")
    }
  }

  test("all-singleton buckets: no pairs, a zero certificate") {
    val in = (1L to 5L).map(i => In(s"k$i", 1, i, "", true))
    atPartitions { parts =>
      assert(kernel(frame(in), Seq("k1"), struct = false, maxBucket) ==
        ((Seq.empty, (0L, 0L, 0))), s"$parts partitions")
    }
  }
}

object BucketPairsSpec {
  /** One input row: bucket keys, payload (id, tag) and the a-side gate. */
  case class In(k1: String, k2: Integer, id: Long, tag: String,
      gate: Boolean)
}
