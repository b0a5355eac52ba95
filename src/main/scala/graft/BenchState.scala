package graft

import graft.Harness.{arr, obj, str}

/** Streaming state-posture rehearsal: runs every stateful battery
  * entry at `SPARK_GRAFT_SF_DIR` under BOTH state-store providers (the
  * default in-memory HDFSBacked and RocksDB — the 100 TB posture) and
  * records, per entry and provider, the wall time plus the final
  * per-operator state footprint (operator name, rows in state, bytes)
  * that [[graft.queries.StreamingQuery]] captured from the query's
  * progress stream. One JSON line to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench/state_scratch.json`) — the machine-checked form of "the
  * streaming family's state is watermark-bounded and survives the
  * off-heap provider unchanged".
  */
object BenchState {

  /** entry name -> its memory-sink name (where the harness parks the
    * captured state-operator progress). */
  private val statefulEntries = Seq(
    "q65_streaming_hourly" -> "stream_hourly",
    "q85_streaming_sliding" -> "stream_sliding",
    "q93_streaming_join" -> "stream_join",
    "q111_streaming_dedup" -> "stream_dedup",
    "q143_streaming_session" -> "stream_session",
    "q186_streaming_state" -> "stream_state",
    "q188_streaming_left_join" -> "stream_left_join",
    "q189_streaming_timeout" -> "stream_timeout",
    "q214_streaming_reverse_attribution" -> "stream_rev_attr",
    "q218_streaming_full_outer" -> "stream_full_outer",
    "q228_streaming_distinct" -> "stream_distinct",
    "q247_streaming_weighted_sample" -> "stream_wor",
    "q255_streaming_funnel" -> "stream_funnel")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val entries = Harness.entries(statefulEntries.map(_._1))
      .zip(statefulEntries.map(_._2))
    val spark = Harness.session("graft-bench-state")
    Harness.warmUp(spark, sfDir, "q65_streaming_hourly")

    def runAll(provider: String): String = {
      // set the conf EXPLICITLY for both legs (never unset): the session
      // conf is the channel withStateStore reads first, so an ambient
      // GRAFT_STATE_STORE env var cannot silently turn the hdfs leg into
      // a second rocksdb run
      spark.conf.set("spark.graft.stateStore", provider)
      obj(entries.map { case (q, sink) =>
        q.name -> Harness.attempt(spark, q.name) {
          val t0 = System.nanoTime()
          val n = q.query(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val ops = graft.queries.StreamingQuery.stateMetricsFor(sink).map {
            case (op, rows, bytes) => obj(Seq("op" -> str(op),
              "rows" -> rows.toString, "bytes" -> bytes.toString))
          }
          obj(Seq("sec" -> f"$dt%.3f", "rows_out" -> n.toString,
            "state" -> arr(ops)))
        }.fold(e => obj(Seq("failed" ->
          str(String.valueOf(e.getMessage).take(120)))), identity)
      })
    }

    val byProvider = Seq("hdfs", "rocksdb").map(p => p -> runAll(p))
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/state_scratch.json")
    Harness.publish(artifact, obj(
      Seq("metric" -> str("state_posture"), "sf" -> str(sfDir)) ++
        byProvider :+ ("artifact" -> str(artifact))))
    spark.stop()
  }
}
