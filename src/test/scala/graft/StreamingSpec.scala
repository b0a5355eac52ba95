package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, value: Double = 1.0) =
    Event(id, ts(t), user, "a", value)

  test("tumbling window with watermark finalizes windows and drops late data") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.tumblingCounts(input.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:10:00", 1),
        ev(3, "2024-01-01 10:05:00", 2), ev(4, "2024-01-01 11:00:00", 1))
      q.processAllAvailable()
      // advance watermark beyond 12:00 so both windows finalize
      input.addData(ev(5, "2024-01-01 14:00:00", 1))
      q.processAllAvailable()
      // late event for the already-finalized 10:00 window: must be dropped
      input.addData(ev(6, "2024-01-01 10:20:00", 1))
      input.addData(ev(7, "2024-01-01 15:00:00", 1)) // push watermark again
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("window_start", "n").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("2024-01-01 10:00:00") == 3L, s"got $rows") // late ev(6) dropped
      assert(rows("2024-01-01 11:00:00") == 1L)
    } finally q.stop()
  }

  test("session windows merge events within the gap") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionAggs(input.toDF(), "30 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:10:00", 1),
        ev(3, "2024-01-01 11:00:00", 1), // 50 min gap -> new session
        ev(4, "2024-01-01 10:05:00", 2))
      q.processAllAvailable()
      input.addData(ev(5, "2024-01-01 14:00:00", 3)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "session_start", "n_events").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(rows((1L, "2024-01-01 10:00:00")) == 2L, s"got $rows")
      assert(rows((1L, "2024-01-01 11:00:00")) == 1L)
      assert(rows((2L, "2024-01-01 10:05:00")) == 1L)
    } finally q.stop()
  }

  test("session boundary: an event EXACTLY gap after the last one merges") {
    // session windows are [ts, ts+gap) and touching windows coalesce —
    // the q143 oracle's islands split only on silences STRICTLY greater
    // than the gap, and this fixture pins that rule against regressions
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionAggs(input.toDF(), "30 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sessions_boundary")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1),
        ev(2, "2024-01-01 10:30:00", 1),   // exactly gap later: merges
        ev(3, "2024-01-01 11:00:00.000001", 1)) // gap + 1 µs: splits
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 15:00:00", 2)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sessions_boundary")
        .where(col("user_id") === 1L)
        .select("session_start", "n_events").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("2024-01-01 10:00:00" -> 2L,
        "2024-01-01 11:00:00" -> 1L), s"got $rows")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates running user totals across batches") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("totals")
      .outputMode("update").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1, 2.0),
        ev(2, "2024-01-01 10:01:00", 1, 3.0))
      q.processAllAvailable()
      input.addData(ev(3, "2024-01-01 10:02:00", 1, 5.0),
        ev(4, "2024-01-01 10:03:00", 2, 7.0))
      q.processAllAvailable()
      val latest = spark.table("totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(latest(1L) == ((3L, 10.0)), s"got $latest")
      assert(latest(2L) == ((1L, 7.0)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.dedupedEvents(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(ev(1, "2024-01-01 10:00:00", 1), ev(1, "2024-01-01 10:00:01", 1))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 10:05:00", 1), // dup across batches
        ev(2, "2024-01-01 10:06:00", 2))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L)), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("stream/batch parity: same transformation, same result on bounded data") {
    val s2 = spark; import s2.implicits._
    val staticEvents = Seq(
      ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:10:00", 1),
      ev(3, "2024-01-01 11:00:00", 1), ev(4, "2024-01-01 10:05:00", 2))
    val batch = Streams.tumblingCounts(staticEvents.toDF(), "1 hour", "30 minutes")
      .select("window_start", "event_type", "n").collect().toSet
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.tumblingCounts(input.toDF(), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("parity")
      .outputMode("append").start()
    try {
      input.addData(staticEvents: _*)
      q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 23:00:00", 9)) // finalize everything
      q.processAllAvailable()
      val streamed = spark.table("parity")
        .where(col("window_start") < "2024-01-01 22:00:00")
        .select("window_start", "event_type", "n").collect().toSet
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally q.stop()
  }

  test("stream-static enrichment joins the dim and finalizes by watermark") {
    val s2 = spark; import s2.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("u", "tier")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.enrichedCounts(input.toDF(), dim,
        col("user_id") === col("u"), "tier", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, 2.0),
        ev(2, "2024-01-01 10:10:00", 1, 3.0),
        ev(3, "2024-01-01 10:05:00", 2, 5.0),
        ev(4, "2024-01-01 10:07:00", 9, 7.0)) // no dim row: dropped by join
      q.processAllAvailable()
      input.addData(ev(5, "2024-01-01 14:00:00", 1)) // finalize 10:00
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .select("window_start", "tier", "n", "total_value").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(rows(("2024-01-01 10:00:00", "gold")) == ((2L, 5.0)), s"$rows")
      assert(rows(("2024-01-01 10:00:00", "basic")) == ((1L, 5.0)), s"$rows")
      assert(!rows.keySet.exists(_._2 == "9"), s"unmatched user leaked: $rows")
    } finally q.stop()
  }

  test("sliding windows overlap, finalize by watermark, and match batch") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val staticEvents = Seq(
      ev(1, "2024-01-01 10:02:00", 1), ev(2, "2024-01-01 10:07:00", 1),
      ev(3, "2024-01-01 10:12:00", 2), ev(4, "2024-01-01 10:03:00", 2))
    val batch = Streams.slidingCounts(staticEvents.toDF(),
        "10 minutes", "5 minutes", "30 minutes")
      .select("window_start", "event_type", "n").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // each event belongs to exactly len/slide = 2 overlapping windows
    assert(batch("2024-01-01 10:00:00") == 3L, s"got $batch") // ev 1,2,4
    assert(batch("2024-01-01 09:55:00") == 2L)                // ev 1,4
    assert(batch("2024-01-01 10:05:00") == 2L)                // ev 2,3
    assert(batch("2024-01-01 10:10:00") == 1L)                // ev 3
    val input = MemoryStream[Event]
    val q = Streams.slidingCounts(input.toDF(),
        "10 minutes", "5 minutes", "30 minutes")
      .writeStream.format("memory").queryName("sliding")
      .outputMode("append").start()
    try {
      input.addData(staticEvents: _*)
      q.processAllAvailable()
      input.addData(ev(9, "2024-01-01 23:00:00", 9)) // finalize everything
      q.processAllAvailable()
      val streamed = spark.table("sliding")
        .where(col("window_start") < "2024-01-01 22:00:00")
        .select("window_start", "event_type", "n").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally {
      q.stop()
      spark.catalog.dropTempView("sliding")
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    val s2 = spark; import s2.implicits._
    def typed(id: Long, t: String, user: Long, tpe: String, v: Double) =
      Event(id, ts(t), user, tpe, v)
    val staticEvents = Seq(
      typed(1, "2024-01-01 10:00:00", 1, "click", 0.0),
      typed(2, "2024-01-01 10:20:00", 1, "purchase", 9.5), // joins click 1
      typed(3, "2024-01-01 09:40:00", 1, "click", 0.0),    // 40 min before 2: out
      typed(4, "2024-01-01 10:25:00", 2, "purchase", 3.0), // other user: no click
      typed(5, "2024-01-01 10:10:00", 1, "click", 0.0),    // also joins 2
      typed(6, "2024-01-01 10:30:00", 1, "purchase", 1.0)) // joins clicks 1, 5
    val shape = (df: org.apache.spark.sql.DataFrame) =>
      df.select("purchase_id", "click_id", "lag_us").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = shape(
      Streams.attributedPurchases(staticEvents.toDF(), "30 minutes", "2 hours"))
    assert(batch == Set((2L, 1L, 1200000000L), (2L, 5L, 600000000L),
      (6L, 1L, 1800000000L), (6L, 5L, 1200000000L)), s"got $batch")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.attributedPurchases(input.toDF(), "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      input.addData(staticEvents: _*)
      q.processAllAvailable()
      assert(shape(spark.table("attrib")) == batch)
    } finally {
      q.stop()
      spark.catalog.dropTempView("attrib")
    }
  }

  test("windowed aggregation chains after the stream-stream join") {
    // TWO stateful operators in one streaming query: the interval join's
    // watermark propagates into a downstream tumbling aggregation of
    // attributed purchases (engine support for chained stateful ops)
    val s2 = spark; import s2.implicits._
    def typed(id: Long, t: String, user: Long, tpe: String, v: Double) =
      Event(id, ts(t), user, tpe, v)
    val staticEvents = Seq(
      typed(1, "2024-01-01 10:00:00", 1, "click", 0.0),
      typed(2, "2024-01-01 10:20:00", 1, "purchase", 10.0),
      typed(3, "2024-01-01 10:25:00", 1, "purchase", 5.0), // same window
      typed(4, "2024-01-01 11:10:00", 1, "click", 0.0),
      typed(5, "2024-01-01 11:20:00", 1, "purchase", 7.0)) // next window
    def chained(df: org.apache.spark.sql.DataFrame) =
      Streams.attributedPurchases(df, "30 minutes", "30 minutes")
        .groupBy(window(col("purchase_ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
        .select(date_format(col("window.start"), "HH:mm").as("w"),
          col("n"), col("total"))
    val batch = chained(staticEvents.toDF())
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch == Map("10:00" -> ((2L, 15.0)), "11:00" -> ((1L, 7.0))),
      s"got $batch")
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = chained(input.toDF())
      .writeStream.format("memory").queryName("chained")
      .outputMode("append").start()
    try {
      input.addData(staticEvents: _*)
      q.processAllAvailable()
      // the query's watermark is the MIN across both join inputs — advance
      // clicks AND purchases past 18:00 to finalize the 10:00/11:00 windows
      // (their own join lands in the 18:00 window, which stays open)
      input.addData(typed(9, "2024-01-01 18:00:00", 9, "click", 0.0),
        typed(10, "2024-01-01 18:00:00", 9, "purchase", 0.0))
      q.processAllAvailable() // advance watermark: finalize both windows
      val streamed = spark.table("chained")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally {
      q.stop()
      spark.catalog.dropTempView("chained")
    }
  }

  test("count-min sketch maintains live heavy-hitter cells over a stream") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    // the sketch build is a plain groupBy aggregation, so Structured
    // Streaming maintains it incrementally in complete mode — a live
    // frequency monitor with bounded (depth x width) state
    val q = graft.ops.Sketch.countMin(input.toDF().toDF("term"), "term", 4, 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      input.addData("a", "b", "a")
      q.processAllAvailable()
      input.addData("a", "c")
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.ops.Sketch.countMin(
          Seq("a", "b", "a", "a", "c").toDF("term"), "term", 4, 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
      // estimates read off the streamed sketch match the batch sketch
      val est = graft.ops.Sketch.estimate(spark.table("cms_stream"),
          Seq("a", "b", "c").toDF("term"), "term", 4, 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("cms_stream")
    }
  }

  test("curation ops are narrow and apply unchanged to a stream") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "lang")
    // quality scoring + stratified sampling + split assignment are all
    // stateless projections/filters — Structured Streaming accepts them
    // as-is, no watermark or state store needed
    val curatedStream = graft.ops.Sampling.contentSplit(
      graft.ops.Sampling.stratifiedSample(
        graft.ops.TextAnalysis.quality(docs, keep = Seq("text", "lang"))
          .where(col("quality") >= 0.0),
        "lang", Map("en" -> 1.0), defaultRate = 1.0),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val q = curatedStream.writeStream.format("memory")
      .queryName("curate_stream").outputMode("append").start()
    try {
      val batch = Seq(
        (1L, "the quick brown fox jumps over the lazy dog", "en"),
        (2L, "a stitch in time saves nine of the best", "en"),
        (3L, "it is a truth universally acknowledged today", "en"))
      input.addData(batch: _*)
      q.processAllAvailable()
      val streamed = spark.table("curate_stream")
        .select("doc_id", "quality", "split").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      // identical rows to the batch application of the same composition
      val static = graft.ops.Sampling.contentSplit(
        graft.ops.Sampling.stratifiedSample(
          graft.ops.TextAnalysis.quality(batch.toDF("doc_id", "text", "lang"),
            keep = Seq("text", "lang")).where(col("quality") >= 0.0),
          "lang", Map("en" -> 1.0), defaultRate = 1.0),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "quality", "split").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(streamed == static, s"stream=$streamed batch=$static")
    } finally {
      q.stop()
      spark.catalog.dropTempView("curate_stream")
    }
  }

  test("left-outer interval join emits null rows after watermark eviction") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.attributedPurchases(input.toDF(), "30 minutes",
        "30 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("left_join")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
        Event(2, ts("2024-01-01 10:15:00"), 1, "purchase", 5.0),
        Event(3, ts("2024-01-01 10:20:00"), 2, "purchase", 7.0))
      q.processAllAvailable()
      // advance BOTH branch watermarks (each is computed after its
      // event_type filter — a click alone would not move the purchase
      // branch) to 15:30, far past purchase 3
      input.addData(
        Event(4, ts("2024-01-01 16:00:00"), 9, "click", 0.0),
        Event(5, ts("2024-01-01 16:00:00"), 9, "purchase", 1.0),
        // trailing unmatched purchase INSIDE the watermark: withheld
        Event(6, ts("2024-01-01 15:45:00"), 8, "purchase", 2.0))
      q.processAllAvailable()
      val rows = spark.table("left_join")
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows == Set((2L, 1L), (5L, 4L), (3L, -1L)), s"got $rows")
    } finally {
      q.stop()
      spark.catalog.dropTempView("left_join")
    }
  }

  test("fuzz: sessionsWithTimeout equals the built-in session window " +
      "on random streams") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    // random event streams: 1-3 users, minute-grain offsets over 10 h,
    // INTEGER values (so float sums are order-exact in both paths), a
    // random 2-chunk feed so the watermark advances mid-stream. The
    // second chunk is REPAIRED to stay at-or-above the first chunk's
    // watermark: on sub-watermark arrivals the two operators genuinely
    // diverge (fMGWS drops on EVENT time, the built-in window on
    // tentative window END — Spark's inconsistency, documented in
    // sessionsWithTimeout's scaladoc and found by this fuzz), so the
    // pinned equivalence domain is streams within their lateness
    // budget; out-of-order arrivals INSIDE the watermark stay fully
    // fuzzed.
    val evGen = for {
      user <- Gen.chooseNum(1L, 3L)
      offMin <- Gen.chooseNum(0, 600)
      value <- Gen.chooseNum(1, 9)
    } yield (user, offMin, value.toDouble)
    val caseGen = for {
      evs <- Gen.nonEmptyListOf(evGen)
      cut <- Gen.chooseNum(0, evs.length)
    } yield {
      val capped = evs.take(14)
      val c = math.min(cut, capped.length)
      // +1 min margin: exact ts == wm is its own boundary question and
      // not what this property pins
      val wmMin = capped.take(c).map(_._2).maxOption
        .map(_ - 30 + 1).getOrElse(Int.MinValue)
      (capped.take(c) ++ capped.drop(c).map { case (u, off, v) =>
        (u, math.max(off, wmMin), v) }, c)
    }
    val baseUs = ts("2024-01-01 00:00:00").getTime * 1000L
    def fmt(us: Long): String = java.time.Instant
      .ofEpochMilli(us / 1000L).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    def run(evs: Seq[(Long, Int, Double)], cut: Int): Unit = {
      val events = evs.zipWithIndex.map { case ((u, off, v), i) =>
        Event(i + 1L, new Timestamp(baseUs / 1000L + off * 60000L),
          u, "a", v)
      }
      val inA = MemoryStream[Event]
      val inB = MemoryStream[Event]
      val name = s"fuzz_${System.nanoTime()}"
      val qa = Streams.sessionAggs(inA.toDF(), "30 minutes",
          "30 minutes")
        .writeStream.format("memory").queryName(s"${name}_a")
        .outputMode("append").start()
      val qb = Streams.sessionsWithTimeout(inB.toDS(),
          30L * 60 * 1000000, "30 minutes")
        .writeStream.format("memory").queryName(s"${name}_b")
        .outputMode("append").start()
      try {
        Seq(events.take(cut), events.drop(cut)).foreach { chunk =>
          if (chunk.nonEmpty) {
            inA.addData(chunk: _*); inB.addData(chunk: _*)
            qa.processAllAvailable(); qb.processAllAvailable()
          }
        }
        val a = spark.table(s"${name}_a").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSet
        val b = spark.table(s"${name}_b").collect().map(r =>
          (r.getLong(0), fmt(r.getLong(1)), r.getLong(2),
            r.getDouble(3))).toSet
        assert(a == b, s"events=$events cut=$cut\nbuiltin=$a\nstate=$b")
      } finally {
        qa.stop(); qb.stop()
        spark.catalog.dropTempView(s"${name}_a")
        spark.catalog.dropTempView(s"${name}_b")
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAll(caseGen) { case (evs, cut) => run(evs, cut); true })
    assert(res.passed, res.status.toString)
  }

  test("reverse attribution outer join pays the time range in its delay") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.clickOutcomes(input.toDF(), "30 minutes",
        "30 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName("rev_attr")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
        Event(2, ts("2024-01-01 10:15:00"), 1, "purchase", 5.0),
        Event(3, ts("2024-01-01 10:20:00"), 2, "click", 0.0))
      q.processAllAvailable()
      // advance BOTH branch watermarks to 15:30 (each branch watermark
      // sits after its event_type filter)
      input.addData(
        Event(4, ts("2024-01-01 16:00:00"), 9, "click", 0.0),
        Event(5, ts("2024-01-01 16:00:00"), 9, "purchase", 1.0),
        // unmatched click whose horizon END (15:20) is inside the
        // watermark: null row must emit...
        Event(6, ts("2024-01-01 14:50:00"), 7, "click", 0.0),
        // ...but an unmatched click BEFORE the watermark whose horizon
        // end (15:40) is beyond it is withheld — the outer delay is
        // watermark + time range, the fact q188's shape never exercises
        Event(7, ts("2024-01-01 15:10:00"), 8, "click", 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("rev_attr")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows == Set((1L, 2L), (4L, 5L), (3L, -1L), (6L, -1L)),
        s"got $rows")
    } finally {
      q.stop()
      spark.catalog.dropTempView("rev_attr")
    }
  }

  test("chained stateful aggs: exact windowed distinct, dups collapse") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.windowedDistinctUsers(input.toDF(), "1 hour",
        "30 minutes")
      .writeStream.format("memory").queryName("win_distinct")
      .outputMode("append").start()
    try {
      input.addData(
        // hour 10: user 1 three times, user 2 once -> distinct 2, n 4
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 0.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "click", 0.0),
        Event(3, ts("2024-01-01 10:40:00"), 1, "click", 0.0),
        Event(4, ts("2024-01-01 10:20:00"), 2, "click", 0.0),
        // hour 11: inside the final watermark -> withheld
        Event(5, ts("2024-01-01 11:20:00"), 9, "click", 0.0))
      q.processAllAvailable()
      // advance the watermark past hour 10's end (wm = 11:30)
      input.addData(Event(6, ts("2024-01-01 12:00:00"), 9, "click", 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("win_distinct")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == Set(("2024-01-01 10:00:00", 2L, 4L)),
        s"hour 10 closes with exact distinct; hour 11+ withheld: $rows")
    } finally {
      q.stop()
      spark.catalog.dropTempView("win_distinct")
    }
  }

  test("full-outer interval join: each side pays ITS OWN eviction delay") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.attributedPurchases(input.toDF(), "30 minutes",
        "30 minutes", joinType = "full_outer")
      .writeStream.format("memory").queryName("full_join")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
        Event(2, ts("2024-01-01 10:15:00"), 1, "purchase", 5.0),
        // unmatched purchase: null-click row once wm > 10:20
        Event(3, ts("2024-01-01 10:20:00"), 2, "purchase", 7.0),
        // unmatched click: null-purchase row only once wm > 10:55
        // (click_ts + horizon — the later-events side pays the range)
        Event(4, ts("2024-01-01 10:25:00"), 3, "click", 0.0))
      q.processAllAvailable()
      // advance BOTH branch watermarks to 15:30
      input.addData(
        Event(5, ts("2024-01-01 16:00:00"), 9, "click", 0.0),
        Event(6, ts("2024-01-01 16:00:00"), 9, "purchase", 1.0),
        // unmatched purchase INSIDE the watermark: withheld
        Event(7, ts("2024-01-01 15:45:00"), 8, "purchase", 2.0),
        // unmatched click whose horizon end (15:50) is beyond the
        // watermark: withheld even though the click itself is before it
        Event(8, ts("2024-01-01 15:20:00"), 6, "click", 0.0),
        // unmatched click whose horizon end (15:20) is inside: emits
        Event(9, ts("2024-01-01 14:50:00"), 7, "click", 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("full_join")
        .select("purchase_id", "click_id", "user_id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((2L, 1L, 1L), (6L, 5L, 9L), (3L, -1L, 2L),
        (-1L, 4L, 3L), (-1L, 9L, 7L)), s"got $rows")
    } finally {
      q.stop()
      spark.catalog.dropTempView("full_join")
    }
  }

  test("sessionsWithTimeout: event-time eviction equals session windows") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionsWithTimeout(input.toDS())
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, 1.0),
        ev(2, "2024-01-01 10:10:00", 1, 2.0),
        ev(3, "2024-01-01 10:05:00", 2, 4.0))
      q.processAllAvailable()
      // out-of-order event still inside the watermark: must MERGE into
      // user 1's open [10:00, 10:10] session, not open a new one
      input.addData(ev(4, "2024-01-01 10:20:00", 1, 8.0))
      q.processAllAvailable()
      // 40 min after 10:20 -> strictly greater than the gap -> new session
      input.addData(ev(5, "2024-01-01 11:00:00", 1, 16.0))
      q.processAllAvailable()
      assert(spark.table("timeout_sessions").isEmpty,
        "nothing may emit before the watermark passes a session end")
      // watermark -> 14:30: every session above matures and its key is
      // evicted; user 3's own trailing session (end 15:30) stays unemitted
      input.addData(ev(6, "2024-01-01 15:00:00", 3, 0.0))
      q.processAllAvailable()
      def us(t: String): Long = {
        val x = ts(t)
        Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000
      }
      val rows = spark.table("timeout_sessions")
        .select("user_id", "start_us", "n_events", "total_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows == Set(
        (1L, us("2024-01-01 10:00:00"), 3L, 11.0),
        (1L, us("2024-01-01 11:00:00"), 1L, 16.0),
        (2L, us("2024-01-01 10:05:00"), 1L, 4.0)), s"got $rows")
    } finally {
      q.stop()
      spark.catalog.dropTempView("timeout_sessions")
    }
  }

  test("streaming windowed funnel: in-window chain completes, " +
      "out-of-window stage stalls, opener-less user emits nothing, " +
      "out-of-order arrival still chains, unclosed window withheld") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    def e(id: Long, t: String, u: Long, typ: String) =
      Event(id, ts(t), u, typ, 1.0)
    val input = MemoryStream[Event]
    val q = Streams.funnelWithin(input.toDS(),
        Seq("view", "click", "purchase"))
      .toDF().writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // u4's later stages arrive BEFORE its opener (across batches);
      // batch 1 tops out at 10:20 so the 10:00 opener in batch 2 is
      // still inside the 30-minute watermark
      input.addData(
        e(1, "2024-01-01 10:00:00", 1, "view"),
        e(2, "2024-01-01 10:10:00", 1, "click"),
        e(3, "2024-01-01 10:20:00", 1, "purchase"),
        e(4, "2024-01-01 10:00:00", 2, "view"),
        e(6, "2024-01-01 10:00:00", 3, "click"), // no opener ever
        e(7, "2024-01-01 10:20:00", 4, "purchase"),
        e(8, "2024-01-01 10:10:00", 4, "click"))
      q.processAllAvailable()
      input.addData(e(9, "2024-01-01 10:00:00", 4, "view"),
        e(5, "2024-01-01 10:40:00", 2, "click")) // outside u2's window
      q.processAllAvailable()
      // advance the watermark past every 10:00 window; u5's window
      // (11:45 + 30m) stays OPEN under wm = 12:00 - 30m
      input.addData(e(10, "2024-01-01 11:45:00", 5, "view"),
        e(11, "2024-01-01 12:00:00", 9, "view"))
      q.processAllAvailable()
      input.addData(e(12, "2024-01-01 12:00:01", 9, "click"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2),
          r.getLong(3))).toMap
      def us(t: String) = ts(t).getTime * 1000L
      assert(got == Map(
        1L -> ((us("2024-01-01 10:00:00"), 3,
          us("2024-01-01 10:20:00"))),
        2L -> ((us("2024-01-01 10:00:00"), 1,
          us("2024-01-01 10:00:00"))),
        4L -> ((us("2024-01-01 10:00:00"), 3,
          us("2024-01-01 10:20:00")))), got.toString)
    } finally {
      q.stop()
      spark.catalog.dropTempView("funnel_stream")
    }
  }

  test("streaming weighted WOR equals the batch selection under " +
      "adversarial micro-batching; zero weights never enter state") {
    val s2 = spark; import s2.implicits._
    implicit val ctx = spark.sqlContext
    val all = (1L to 40L).map(i =>
      Event(i, ts("2024-01-01 10:00:00"), 1L, if (i % 2 == 0) "x" else "y",
        if (i % 7 == 0) 0.0 else (i % 5 + 1).toDouble))
    val input = MemoryStream[Event]
    val q = Streams.weightedSampleTopK(input.toDS().toDF(), k = 3)
      .toDF().writeStream.format("memory").queryName("wor_stream")
      .outputMode("update").start()
    try {
      // adversarial order: reversed, split mid-group across batches
      val shuffled = all.reverse
      input.addData(shuffled.take(13): _*); q.processAllAvailable()
      input.addData(shuffled.slice(13, 14): _*); q.processAllAvailable()
      input.addData(shuffled.drop(14): _*); q.processAllAvailable()
      val fin = spark.table("wor_stream")
        .groupBy("event_type").agg(max(struct(col("n_seen"),
          col("ids"))).as("m"))
        .select(col("event_type"), col("m.ids").as("ids"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      // batch replay: same key, same ordering, via a plain window
      import org.apache.spark.sql.expressions.Window
      val batch = all.toDF()
        .where(col("value") > 0)
        .withColumn("u",
          conv(substring(md5(concat(lit("wor:"),
            col("event_id").cast("string"))), 1, 4), 16, 10)
            .cast("double") / 65536.0 + lit(0.5 / 65536))
        .withColumn("key",
          round(log(col("u")) / col("value") * 1e12, 0).cast("long"))
        .withColumn("rk", row_number().over(Window
          .partitionBy("event_type")
          .orderBy(col("key").desc, col("event_id"))))
        .where(col("rk") <= 3)
        .collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[Int]("rk"), r.getAs[Long]("event_id")))
        .groupBy(_._1).map { case (g, rs) =>
          g -> rs.sortBy(_._2).map(_._3).toSeq }
      assert(fin == batch, s"stream $fin vs batch $batch")
    } finally {
      q.stop()
      spark.catalog.dropTempView("wor_stream")
    }
  }

  test("battery streams leave the session conf as they found it") {
    val conf = spark.conf
    val zone = conf.get("spark.sql.session.timeZone")
    // a non-UTC caller: the runner pins UTC for the stream, then restores
    conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val before = conf.getAll.toSet
      Harness.entries(Seq("q65_streaming_hourly", "q186_streaming_state"))
        .foreach(q => assert(q.query(spark, "/root/testdata/sf0.001")
          .collect().nonEmpty, q.name))
      val after = conf.getAll.toSet
      assert(((after diff before) ++ (before diff after)).isEmpty)
    } finally conf.set("spark.sql.session.timeZone", zone)
  }

  test("events' ts_us does not depend on, or change, the session zone") {
    val s2 = spark; import s2.implicits._
    val conf = spark.conf
    val zone = conf.get("spark.sql.session.timeZone")
    // wall clocks a zone would move: before the epoch, a gap and an
    // overlap of America/Los_Angeles' DST switches
    val ts = Seq("1969-12-31T23:59:59.999999", "1970-01-01T00:00:00",
      "2024-03-10T02:30:00.5", "2024-11-03T01:30:00")
      .map(java.time.LocalDateTime.parse)
    val want = ts.map(t => java.time.temporal.ChronoUnit.MICROS.between(
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0), t))
    val dir = java.nio.file.Files.createTempDirectory("graft_events")
    ts.toDF("ts").write.parquet(s"$dir/events.parquet")
    conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val ev = graft.queries.QueryDef.eventsMicros(spark, dir.toString)
      assert(ev.schema("ts").dataType.typeName == "timestamp_ntz")
      assert(ev.select("ts_us").as[Long].collect().sorted.toSeq == want)
      assert(conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    } finally {
      conf.set("spark.sql.session.timeZone", zone)
      graft.queries.QueryDef.deleteRecursively(dir)
    }
  }
}
