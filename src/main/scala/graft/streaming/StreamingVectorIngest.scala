package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.engine.TableStore
import graft.ops.{IvfIndex, Pq}

/** Streaming ingestion into the IVF-PQ serving index — the lifecycle a
  * continuously-growing embedding corpus actually needs: micro-batches
  * of vectors drain from a file source, are PQ-encoded and
  * cell-assigned against the PINNED quantizer (centroids and codebooks
  * never move once an index holds vectors placed by them — the faiss
  * contract, same as [[graft.ops.IvfIndex.absorbIntoCellIndex]]), and
  * land in a batch-partitioned STAGING table; a compaction step
  * absorbs staged batches into the bucketed serving index.
  *
  * Why stage-then-compact instead of appending straight to the
  * bucketed index: the streaming sink must be idempotent under
  * foreachBatch replay, and a bucketed `insertInto` append is not —
  * a replayed batch would double its rows. The staging table is the
  * idempotent `batch_id` sink ([[WaveHarness.writeBatch]]): a replay
  * recomputes the same deterministic (cell, vec_id, pq_code) rows and
  * overwrites its own partition, so duplicates cannot accumulate.
  * Compaction (an explicit, batch-boundary operation — run it when
  * the staging table is quiescent) then moves rows into the
  * read-optimized bucketed layout in one append, which is the same
  * write-amplification split every LSM-shaped store makes: small
  * idempotent writes into a buffer, periodic merges into the
  * co-located structure.
  *
  * Per-batch work is |batch|·k assignment inside the broadcast-chunk
  * kernel + |batch| encode FLOPs — corpus size never appears; query
  * cost over staging+index is identical to the compacted index (both
  * are (cell, vec_id, pq_code) rows), staging just lacks bucket
  * co-location until compacted. A stream drains through
  * [[WaveHarness.drain]] with `foreachBatch` calling [[processBatch]].
  */
object StreamingVectorIngest {

  private val stagingSchema: StructType = StructType(Seq(
    StructField("cell", LongType), StructField("vec_id", LongType),
    StructField("pq_code", LongType), StructField("batch_id", LongType)))

  /** One micro-batch: encode + assign against the pinned quantizer,
    * dynamic-overwrite into this batch's staging partition. Public so
    * the replay-idempotency contract is directly testable. */
  def processBatch(batch: Dataset[Row], batchId: Long, warehouse: String,
                   stagingTable: String, cents: DataFrame, kCells: Long,
                   cb: Array[Array[Array[Double]]],
                   cfg: Pq.PqConfig): Unit = {
    if (!batch.isEmpty) {
      // one-pass place+encode: the code rides the assignment's own
      // exchange as a keepCol — no batch-sized encode⋈assignment join
      WaveHarness.writeBatch(
        Pq.placeAndEncode(batch, cents, kCells, cb, cfg)
          .select(col("cell"), col("vec_id"), col("pq_code")),
        batchId, warehouse, stagingTable)
    }
  }

  /** All staged rows, in the serving-index column order. */
  def staged(spark: SparkSession, warehouse: String,
             stagingTable: String): DataFrame =
    TableStore.readOrEmpty(spark, warehouse, stagingTable, stagingSchema)
      .select("cell", "vec_id", "pq_code")

  /** Compaction: absorb every staged row into the bucketed serving
    * index (insertInto honors the catalog bucket spec — per-bucket
    * file appends, the index is never rewritten; q80's machinery).
    * Returns the number of rows moved. Run at a batch boundary; the
    * caller clears or truncates staging afterwards. */
  def compact(spark: SparkSession, warehouse: String, stagingTable: String,
              indexName: String): Long = {
    val rows = staged(spark, warehouse, stagingTable)
    val n = rows.count()
    if (n > 0) TableStore.toBucketLayout(spark, indexName, rows)
      .write.mode("append").insertInto(indexName)
    n
  }
}
