package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

/** [[StreamingJoin.attributionJoin]] — hand-built waves with a match
  * in every interesting class: same-batch, CROSS-BATCH (the click
  * arrives one micro-batch after its view, so the pair exists only if
  * view state survives the checkpointed boundary), window-edge
  * exclusions, and wrong-user exclusion. */
class StreamingJoinSpec extends SparkSpec {
  import WaveHarness.writeWave

  test("drained two-batch join equals the expected pair set: " +
    "same-batch and cross-batch matches present, out-of-window and " +
    "wrong-user pairs absent") {
    val sp = spark
    import sp.implicits._
    val root = tmpDir("streaming-join")
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 10:$min%02d:00")
    // views (all wave 0): user 1 at 10:00, user 2 at 10:05
    writeWave(Seq((100L, 1L, ts(0)), (200L, 2L, ts(5)))
      .toDF("view_id", "v_user", "view_ts"), s"$root/views", 0)
    // clicks wave 0: user 1 at 10:10 (same-batch match),
    //   user 2 at 10:04 (BEFORE its view — excluded)
    writeWave(Seq((500L, 1L, ts(10)), (501L, 2L, ts(4)))
      .toDF("click_id", "c_user", "click_ts"), s"$root/clicks", 0)
    // clicks wave 1: user 1 at 10:25 (CROSS-BATCH match),
    //   user 2 at 10:36 (31 min after its view — outside the window),
    //   user 9 at 10:06 (no view for that user)
    writeWave(Seq((502L, 1L, ts(25)), (503L, 2L, ts(36)),
        (504L, 9L, ts(6)))
      .toDF("click_id", "c_user", "click_ts"), s"$root/clicks", 1)

    val vs = WaveHarness.waveStream(spark, s"$root/views", StructType
      .fromDDL("view_id bigint, v_user bigint, view_ts timestamp"))
    val cs = WaveHarness.waveStream(spark, s"$root/clicks", StructType
      .fromDDL("click_id bigint, c_user bigint, click_ts timestamp"))
    WaveHarness.drain(spark, StreamingJoin.attributionJoin(vs, cs,
        windowMinutes = 30, delayMinutes = 30)
      .writeStream.format("parquet").option("path", s"$root/out")
      .outputMode("append"), s"$root/ckpt")
    val got = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (100L, 500L, 1L, 10L * 60 * 1000000L),
      (100L, 502L, 1L, 25L * 60 * 1000000L)))
  }

  test("native session_window drain (q145) agrees with the custom " +
    "mapGroupsWithState sessionizer (q105) session-for-session") {
    val sf = "/root/testdata/sf0.001"
    val native = graft.queries.Registry
      .queries("q145_session_window_native")(spark, sf)
      .collect().map(_.toString).toSeq
    val custom = graft.queries.Registry
      .queries("q105_streaming_sessionize_drain")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(native.nonEmpty && native === custom)
  }
}
