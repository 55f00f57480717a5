package graft.streaming

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.TableStore
import graft.ops.IncrementalDedup

/** Streaming form of the incremental-dedup operator: micro-batches of
  * documents drain from a file source, dedup within the batch and
  * against the accumulated history, and the survivors append to the
  * history table.
  *
  * Why not streaming `dropDuplicates`: Spark's built-in keeps every key
  * in the state store forever (or until a watermark evicts it, which
  * content keys never get) — at corpus scale that is an unbounded
  * state store holding billions of text hashes on the hot path. Here
  * history lives in the warehouse as plain parquet; each batch probes a
  * Bloom filter over historical hashes and exact-rescues only flagged
  * rows ([[IncrementalDedup.newDocsExact]] — no false negatives, no
  * false drops).
  *
  * Exactly-once without transactions: survivors go to the idempotent
  * `batch_id` sink ([[WaveHarness.writeBatch]]), so a replayed
  * micro-batch overwrites its own partition. A stream drains through
  * [[WaveHarness.drain]] with `foreachBatch` calling [[processBatch]].
  *
  * At 100 TB the per-batch history scan for the Bloom build is the one
  * non-incremental step; a production deployment persists the filter
  * and merges each batch's survivor hashes into it (Spark's BloomFilter
  * supports mergeInPlace), keeping per-batch work proportional to the
  * batch. The table layout here (append-only batch_id partitions)
  * already supports that: the filter build reads each partition once.
  *
  * Null semantics match q44's oracle (`NOT EXISTS`): NULL text equals
  * nothing, so null-text rows are always admitted — within a batch and
  * across batches.
  */
object StreamingDedup {

  /** History size (bytes on disk) below which [[processBatch]] skips
    * the Bloom prefilter for a direct anti-join: under it the history
    * side broadcasts anyway and the filter build's two extra actions
    * dominate; above it the Bloom keeps per-batch work batch-sized.
    * Same dispatch-by-one-cheap-measurement idea as
    * [[graft.ops.VocabJoin]], with the measurement free (driver-side
    * file metadata). */
  val BloomMinHistoryBytes: Long = 64L * 1024 * 1024

  /** Bloom prefilter sizing for the history probe past
    * [[BloomMinHistoryBytes]]. */
  private val BloomExpectedItems: Long = 1000000L
  private val BloomFpp: Double = 0.03

  /** One micro-batch: dedup within the batch and against history, then
    * dynamic-overwrite the survivors into this batch's partition.
    * Public so the replay-idempotency contract is directly testable —
    * processing the same (batch, batchId) twice must leave the table
    * byte-identical, because that is exactly what a post-failure
    * foreachBatch replay does. */
  def processBatch(batch: Dataset[Row], batchId: Long, warehouse: String,
                   table: String): Unit = {
    val spark = batch.sparkSession
    val history = WaveHarness.otherBatches(spark, warehouse, table,
      batch.schema, batchId)
    // within-batch keep-first (min doc_id per text); null-text rows
    // group with nobody and all pass through
    val nonNull = batch.filter(col("text").isNotNull)
    val firstPerText = nonNull
      .withColumn("__rn", row_number().over(
        Window.partitionBy("text").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn")
    val candidates = firstPerText
      .unionByName(batch.filter(col("text").isNull))
    // size-dispatched history probe (driver-side FS metadata, no job):
    // while the history table is small the Bloom build's two actions
    // (emptiness probe + filter aggregation) cost more than they save
    // — a direct anti-join is one job and broadcast-sized. Past the
    // byte threshold the Bloom path takes over (the 100-TB shape:
    // per-batch work proportional to the batch, never a history join).
    val histPath = new org.apache.hadoop.fs.Path(
      TableStore.tablePath(warehouse, table))
    val hfs = histPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val histBytes =
      if (hfs.exists(histPath)) hfs.getContentSummary(histPath).getLength
      else 0L
    val fresh = (if (histBytes < BloomMinHistoryBytes)
        IncrementalDedup.newDocsExactDirect(history, candidates)
      else IncrementalDedup
        .newDocsExact(history, candidates, BloomExpectedItems, BloomFpp))
      .transform(graft.engine.Checkpoints.pin)
    // empty batches write nothing: a parquet dir with zero row
    // groups is unreadable, and there is nothing to make idempotent
    if (!fresh.isEmpty) WaveHarness.writeBatch(fresh, batchId, warehouse, table)
    // the pin is batch-internal: release it or a long-running session
    // accrues a block-store entry per micro-batch (Dataset.unpersist
    // would be a silent no-op on a pinned frame — Checkpoints.release)
    graft.engine.Checkpoints.release(fresh)
  }
}
