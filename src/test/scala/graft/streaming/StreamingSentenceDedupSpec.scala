package graft.streaming

import graft.SparkSpec
import graft.engine.TableStore
import org.apache.spark.sql.{Dataset, Row}

/** Streaming sentence-level dedup: within-batch first occurrence,
  * cross-batch suppression via the warehouse hash table, replay
  * idempotence, idle no-op. */
class StreamingSentenceDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private def docsState(wh: String): Map[Long, (Long, Long, String)] =
    TableStore.read(spark, wh, StreamingSentenceDedup.DocsTable)
      .select("doc_id", "n_sentences", "n_kept", "dedup_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("drains: within-batch first occurrence, cross-batch suppression, " +
    "idle no-op") {
    val src = tmpDir("ssent-src")
    val ckpt = tmpDir("ssent-ckpt")
    val wh = tmpDir("ssent-wh")
    def drain(): Unit = WaveHarness.drain(spark,
      WaveHarness.waveStream(spark, src, docs().schema).writeStream
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          StreamingSentenceDedup.processBatch(b, id, wh)
        }, ckpt)

    // wave 1: doc 2 repeats doc 1's "shared one" (later doc_id loses)
    docs((1L, "shared one. unique a"), (2L, "unique b. shared one"))
      .repartition(1).write.mode("append").parquet(src)
    drain()
    assert(docsState(wh) == Map(
      1L -> ((2L, 2L, "shared one. unique a")),
      2L -> ((2L, 1L, "unique b"))))

    // wave 2: repeats of wave-1 sentences are suppressed cross-batch;
    // a fully-suppressed doc keeps nothing
    docs((3L, "shared one. unique c"), (4L, "unique a"))
      .repartition(1).write.mode("append").parquet(src)
    drain()
    val s2 = docsState(wh)
    assert(s2(3L) == ((2L, 1L, "unique c")), s"got ${s2(3L)}")
    assert(s2(4L) == ((1L, 0L, "")), s"got ${s2(4L)}")

    // idle drain: no new files, tables unchanged
    val before = s2
    drain()
    assert(docsState(wh) == before)
  }

  test("replaying a micro-batch leaves both tables byte-identical") {
    val wh = tmpDir("ssent2-wh")
    StreamingSentenceDedup.processBatch(
      docs((1L, "aa bb. cc")), 0L, wh)
    StreamingSentenceDedup.processBatch(
      docs((2L, "cc. dd"), (3L, "dd. ee")), 1L, wh)
    def state = (
      docsState(wh),
      TableStore.read(spark, wh, StreamingSentenceDedup.SeenTable)
        .select("h").as[Long].collect().sorted.toSeq)
    val first = state
    // doc 2 loses "cc" (batch 0); doc 3 loses "dd" (doc 2, same batch)
    assert(first._1(2L) == ((2L, 1L, "dd")))
    assert(first._1(3L) == ((2L, 1L, "ee")))
    // replay batch 1 — a post-failure foreachBatch retry
    StreamingSentenceDedup.processBatch(
      docs((2L, "cc. dd"), (3L, "dd. ee")), 1L, wh)
    assert(state == first)
  }
}
