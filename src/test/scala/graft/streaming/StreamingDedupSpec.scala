package graft.streaming

import graft.SparkSpec
import graft.engine.TableStore
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** Streaming incremental dedup: within-batch keep-first, cross-batch
  * exact dedup against accumulated history, null-text admission, and
  * no-op idle drains. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, Option[String])*) =
    rows.toSeq.toDF("doc_id", "text")

  /** One drain of the wave files under `src` into `wh`'s History. */
  private def drainHistory(src: String, wh: String, ckpt: String): Unit =
    WaveHarness.drain(spark, WaveHarness.waveStream(spark, src, docs().schema)
      .writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
        StreamingDedup.processBatch(b, id, wh, "History")
      }, ckpt)

  test("drains dedup within batch, across batches, admit nulls, idle no-op") {
    val src = tmpDir("sdedup-src")
    val ckpt = tmpDir("sdedup-ckpt")
    val wh = tmpDir("sdedup-wh")

    def drain(): Unit = drainHistory(src, wh, ckpt)
    def history: Set[Long] = TableStore.read(spark, wh, "History")
      .select("doc_id").as[Long].collect().toSet

    // wave 1: internal dup (2 copies of "aa" -> keep doc 1), one null
    docs((1L, Some("aa")), (2L, Some("aa")), (3L, Some("bb")),
        (4L, None))
      .repartition(1).write.mode("append").parquet(src)
    drain()
    assert(history == Set(1L, 3L, 4L))

    // wave 2: dup of history ("aa" again), new text, another null —
    // nulls equal nothing, so doc 7 is admitted even though doc 4's
    // text was also null
    docs((5L, Some("aa")), (6L, Some("cc")), (7L, None))
      .repartition(1).write.mode("append").parquet(src)
    drain()
    assert(history == Set(1L, 3L, 4L, 6L, 7L))

    // idle drain: no new files, history unchanged
    drain()
    assert(history == Set(1L, 3L, 4L, 6L, 7L))

    // all-dup wave: nothing fresh, and the empty batch writes nothing
    docs((8L, Some("aa")), (9L, Some("bb")), (10L, Some("cc")))
      .repartition(1).write.mode("append").parquet(src)
    drain()
    assert(history == Set(1L, 3L, 4L, 6L, 7L))
  }

  test("replaying the same micro-batch leaves the table identical — " +
    "even though its own partition is already on disk") {
    val wh = tmpDir("sdedup3-wh")
    val b0 = docs((1L, Some("aa")), (2L, Some("bb")))
    val b1 = docs((3L, Some("aa")), (4L, Some("cc")), (5L, None))
    StreamingDedup.processBatch(b0, 0L, wh, "History")
    StreamingDedup.processBatch(b1, 1L, wh, "History")
    def state = TableStore.read(spark, wh, "History")
      .select(col("doc_id"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = state
    assert(before == Set((1L, 0L), (2L, 0L), (4L, 1L), (5L, 1L)))
    // replay batch 1 (what foreachBatch does after a failure between
    // sink write and checkpoint commit): history must not treat batch
    // 1's own previous output as "already seen", or docs 4/5 would be
    // dropped and the partition rewritten partial
    StreamingDedup.processBatch(b1, 1L, wh, "History")
    assert(state == before)
  }

  test("batch_id partitions make replays idempotent by construction") {
    val src = tmpDir("sdedup2-src")
    val ckpt = tmpDir("sdedup2-ckpt")
    val wh = tmpDir("sdedup2-wh")

    docs((1L, Some("xx")), (2L, Some("yy"))).repartition(1)
      .write.mode("append").parquet(src)
    drainHistory(src, wh, ckpt)

    // survivors carry their micro-batch id; a replayed batch would
    // dynamic-overwrite exactly this partition with identical content
    val parts = TableStore.read(spark, wh, "History")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(parts == Set(0L))
  }
}
