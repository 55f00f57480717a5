package graft.streaming

import graft.SparkSpec
import graft.engine.TableStore
import graft.engine.builders.{HeatMap, LineGraph}
import org.apache.spark.sql.functions._

/** Streaming builders: incremental AvailableNow runs over arriving
  * parquet files maintain warehouse tables equal to the batch result. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tripsDf(rows: (String, String)*) = // (start_time, user_type)
    rows.toSeq.toDF("st", "user_type").select(
      to_timestamp($"st").as("start_time"), to_timestamp($"st").as("end_time"),
      lit("A").as("start_station_name"), lit("1").as("start_station_id"),
      lit("B").as("end_station_name"), lit("2").as("end_station_id"),
      lit(-73.95).as("start_station_longitude"), lit(40.7).as("start_station_latitude"),
      lit(40.8).as("end_station_latitude"), lit(-73.96).as("end_station_longitude"),
      $"user_type", lit("classic_bike").as("rideable_type"),
      date_format($"st".cast("timestamp"), "yyyy").as("year"),
      date_format($"st".cast("timestamp"), "MMM").as("month"))

  private def tripStream(src: String) =
    WaveHarness.waveStream(spark, src, tripsDf().schema)

  test("streaming heatmap: incremental AvailableNow runs maintain the warehouse table") {
    val src = tmpDir("stream-src")
    val ckpt = tmpDir("stream-ckpt")
    val wh = tmpDir("stream-wh")

    tripsDf(("2021-01-05 08:00:00", "subscriber"),
            ("2021-01-05 08:30:00", "customer"))
      .write.mode("append").parquet(src)

    def drain(): Unit = StreamingBuilders.runIncrementalUpsert(spark,
      HeatMap.build(tripStream(src)),
      wh, "HeatMapStream", Seq("year", "month", "hour"), ckpt)

    drain()
    val r1 = TableStore.read(spark, wh, "HeatMapStream")
    assert(r1.filter($"hour" === 8).select("total_count").as[Int].head() == 2)

    // second file arrives; checkpoint ensures only the delta is read and
    // update-mode state re-emits the new running total for hour 8
    tripsDf(("2021-01-06 08:10:00", "subscriber")).write.mode("append").parquet(src)
    drain()
    val r2 = TableStore.read(spark, wh, "HeatMapStream")
    assert(r2.filter($"hour" === 8).select("total_count").as[Int].head() == 3)
    assert(r2.count() == 1)

    // idempotent: draining with nothing new changes nothing
    drain()
    assert(TableStore.read(spark, wh, "HeatMapStream")
      .filter($"hour" === 8).select("total_count").as[Int].head() == 3)
  }

  test("stateful sessionization: open sessions survive micro-batches, close on gap") {
    import StatefulSessionize._
    val src = tmpDir("sess-src")
    val ckpt = tmpDir("sess-ckpt")
    def write(evs: (Long, String, Long)*): Unit =
      evs.toSeq.map { case (u, t, id) =>
        Ev(u, java.sql.Timestamp.valueOf(t).getTime * 1000L, id)
      }.toDF().write.mode("append").parquet(src)

    write((1L, "2024-01-01 10:00:00", 1L), (1L, "2024-01-01 10:10:00", 2L))

    val out = tmpDir("sess-out")
    def drain(): Unit = {
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(src).as[Ev]
      val q = StatefulSessionize.sessions(in, gapMinutes = 30)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Session], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def closedSessions(): Seq[Session] = {
      val files = new java.io.File(out).listFiles()
      if (files == null || !files.exists(_.getName.endsWith(".parquet"))) Seq.empty
      else spark.read.parquet(out).as[Session].collect().toSeq
    }

    drain()
    assert(closedSessions().isEmpty) // session still open, nothing closed

    // a later event beyond the 30-min gap closes the first session —
    // state carried across the two drains via the checkpoint
    write((1L, "2024-01-01 12:00:00", 3L))
    drain()
    val closed = closedSessions()
    assert(closed.length == 1)
    assert(closed(0).n_events == 2)
    assert(closed(0).end_micros - closed(0).start_micros == 10L * 60 * 1000000)

    // pure step function: two sessions when gap exceeded inside a batch
    val (c2, open) = step(7L, Seq(
      Ev(7, 0, 1), Ev(7, 1000000, 2), Ev(7, 10000000000L, 3)),
      None, gapMicros = 30L * 60 * 1000000)
    assert(c2.length == 1 && c2(0).n_events == 2 && open.exists(_.n == 1))
    // a late event inside the gap must not shrink the open session's end
    val (none, open2) = step(8L,
      Seq(Ev(8, 5000000, 2)), Some(OpenSession(0, 9000000, 2)),
      gapMicros = 30L * 60 * 1000000)
    assert(none.isEmpty && open2.contains(OpenSession(0, 9000000, 3)))
  }

  test("sessionize drain sink: replaying a micro-batch leaves the table " +
    "identical (the q105 exactly-once contract)") {
    import StatefulSessionize._
    val wh = tmpDir("sess-sink-wh")
    val b0 = Seq(Session(1L, 0L, 100L, 2), Session(2L, 0L, 50L, 1)).toDS()
    val b1 = Seq(Session(1L, 200L, 300L, 3)).toDS()
    StatefulSessionize.processBatch(b0, 0L, wh, "Sessions")
    StatefulSessionize.processBatch(b1, 1L, wh, "Sessions")
    def state = TableStore.read(spark, wh, "Sessions")
      .select(col("user_id"), col("start_micros"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = state
    assert(before == Set((1L, 0L, 0L), (2L, 0L, 0L), (1L, 200L, 1L)))
    // replay batch 1 (foreachBatch after a failure between sink write
    // and checkpoint commit): dynamic overwrite rewrites exactly its
    // own partition with identical content
    StatefulSessionize.processBatch(b1, 1L, wh, "Sessions")
    assert(state == before)
    // an empty replayed batch must not clobber anything either
    StatefulSessionize.processBatch(
      spark.emptyDataset[Session], 2L, wh, "Sessions")
    assert(state == before)
  }

  test("event-time timeout closes idle sessions without same-user events") {
    import StatefulSessionize._
    val src = tmpDir("sess-to-src")
    val ckpt = tmpDir("sess-to-ckpt")
    val out = tmpDir("sess-to-out")
    def write(evs: (Long, String, Long)*): Unit =
      evs.toSeq.map { case (u, t, id) =>
        Ev(u, java.sql.Timestamp.valueOf(t).getTime * 1000L, id)
      }.toDF().write.mode("append").parquet(src)
    def drain(): Unit = {
      val in = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(src).as[Ev]
      val q = StatefulSessionize.sessionsWithTimeout(in, gapMinutes = 30)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Session], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def closed(): Seq[Session] = {
      val files = new java.io.File(out).listFiles()
      if (files == null || !files.exists(_.getName.endsWith(".parquet"))) Seq.empty
      else spark.read.parquet(out).as[Session].collect().toSeq
    }

    write((1L, "2024-01-01 10:00:00", 1L), (1L, "2024-01-01 10:10:00", 2L))
    drain()
    assert(closed().isEmpty) // open, watermark not past end + gap yet

    // OTHER users' events advance the watermark past user 1's
    // end + gap; the timeout fires on the drain AFTER the watermark
    // update (watermark from batch N applies in batch N+1)
    write((2L, "2024-01-01 13:00:00", 10L))
    drain()
    write((2L, "2024-01-01 13:05:00", 11L))
    drain()

    val c = closed()
    assert(c.length == 1)
    assert(c(0).user_id == 1L && c(0).n_events == 2)
    assert(c(0).end_micros - c(0).start_micros == 10L * 60 * 1000000)
  }

  test("streaming linegraph matches batch builder on the same data") {
    val src = tmpDir("stream-lg-src")
    val ckpt = tmpDir("stream-lg-ckpt")
    val wh = tmpDir("stream-lg-wh")
    val data = tripsDf(
      ("2021-01-05 08:00:00", "subscriber"), ("2021-01-05 09:00:00", "subscriber"),
      ("2021-01-06 10:00:00", "customer"))
    data.write.mode("append").parquet(src)
    StreamingBuilders.runIncrementalUpsert(spark,
      LineGraph.build(tripStream(src)),
      wh, "LineGraphStream", Seq("year", "month"), ckpt)
    val streamed = TableStore.read(spark, wh, "LineGraphStream")
      .select("year", "month", "subscriber_count", "customer_count")
      .as[(String, String, Int, Int)].collect().toSet
    val batch = LineGraph.build(data)
      .as[(String, String, Int, Int)].collect().toSet
    assert(streamed == batch)
  }
}
