package graft.streaming

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.engine.Checkpoints
import graft.ops.Hashing

/** Streaming form of the corpus-global sentence dedup
  * ([[graft.ops.TextAnalysis.corpusSentenceDedup]]): micro-batches of
  * documents drain from a file source; each document keeps only the
  * sentences not already seen — earlier in the same batch (first
  * (doc_id, pos) occurrence wins, the batch twin of the corpus-global
  * window) or in any previous batch — and the scrubbed documents plus
  * the newly-seen sentence hashes append to the warehouse.
  *
  * State is NOT a streaming state store: Spark's `dropDuplicates`
  * would pin every sentence key in executor state forever (content
  * keys never age out of a watermark). Seen-sentence history lives in
  * the warehouse as a plain parquet hash table — 8 bytes per distinct
  * sentence ([[Hashing.h60]]) — re-read per batch; the probe is a
  * left-anti equi-join on the hash, which AQE broadcasts while the
  * table is small and shuffle-joins beyond.
  *
  * SEMANTIC DIVERGENCE from the batch twin, deliberate: the batch
  * operator keys first-occurrence on the RAW sentence string; this
  * path keys on its 60-bit hash (the 8-byte history table is the
  * point), so a 60-bit collision silently drops a distinct sentence
  * corpus-wide. Same birthday bound as
  * [[graft.ops.TextAnalysis.repeatedSpans]]: collisions need ~2^30
  * distinct sentences before they matter — fine for the streaming
  * ingest tier (sentence counts sit orders below the 10^12-window
  * scale that forced [[graft.ops.Hashing.h60b]] widening for span
  * REMOVAL, and widening here is the same two-column change if a
  * deployment ever approaches it). At production scale the
  * probe upgrades to the [[graft.ops.IncrementalDedup]] bloom +
  * exact-rescue pattern unchanged, because the history layout
  * (append-only batch_id partitions of longs) is already what the
  * filter build wants.
  *
  * Exactly-once without transactions, as [[StreamingDedup]]: both
  * sinks (scrubbed docs, sentence hashes) are idempotent `batch_id`
  * sinks ([[WaveHarness.writeBatch]]); a replayed micro-batch
  * recomputes the same deterministic result and overwrites its own
  * partitions. A stream drains through [[WaveHarness.drain]] with
  * `foreachBatch` calling [[processBatch]].
  */
object StreamingSentenceDedup {

  val DocsTable = "SentDedupDocs"
  val SeenTable = "SentDedupSeen"

  private val hashSchema = StructType(Seq(StructField("h", LongType)))

  /** One micro-batch. Public for direct replay-idempotency testing. */
  def processBatch(batch: Dataset[Row], batchId: Long,
                   warehouse: String): Unit = Checkpoints.scoped { scope =>
    // the pins are batch-internal: the scope releases them, or a
    // long-running session would accrue block-store entries per
    // micro-batch
    val seen = WaveHarness.otherBatches(batch.sparkSession, warehouse,
        SeenTable, hashSchema, batchId)
      .select(col("h").cast("long").as("h"))
    val sent = batch
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ", -1)))
      .toDF("doc_id", "pos", "sent")
      .withColumn("h", Hashing.h60(col("sent")))
    // within-batch first occurrence as an aggregate + join-back (not a
    // per-hash row_number window): map-side partial combine absorbs a
    // mega-repeated sentence before the shuffle, and the join is
    // AQE-skew-splittable where a window partition is not — same
    // reasoning as TextAnalysis.corpusSentenceDedup
    val firstAt = sent.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val firstInBatch = sent.join(firstAt, Seq("h"))
      .withColumn("firstHere",
        col("f.doc_id") === col("doc_id") && col("f.pos") === col("pos"))
      .drop("f")
    // ONE pin covers the shared upstream (split → hash → first-at →
    // history probe): outDocs and freshHashes both aggregate from it,
    // and pinning them separately re-ran the whole chain twice per
    // micro-batch
    val keptFlags = firstInBatch
      .join(seen.withColumn("inHist", lit(true)), Seq("h"), "left")
      .withColumn("keep", col("firstHere") && col("inHist").isNull)
      .transform(scope.pin)
    val outDocs = keptFlags
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_sentences"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(
          when(col("keep"), struct(col("pos"), col("sent")))))
          .as("kept"))
      .select(col("doc_id"), col("n_sentences"), col("n_kept"),
        array_join(transform(col("kept"), k => k.getField("sent")), ". ")
          .as("dedup_text"))
      .transform(scope.pin)
    val freshHashes = keptFlags.filter(col("keep"))
      .select(col("h")).distinct()
    if (!outDocs.isEmpty)
      WaveHarness.writeBatch(outDocs, batchId, warehouse, DocsTable)
    if (!freshHashes.isEmpty)
      WaveHarness.writeBatch(freshHashes, batchId, warehouse, SeenTable)
  }
}
