package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the derived tables (SURVEY §2.9).
  *
  * The reference is batch-only; its hand-rolled incrementality (manifest
  * anti-join + chronological file processing + drop-wrong-year rows) maps
  * onto Spark's native streaming machinery:
  *   - the StatusDataTable manifest -> the file-source checkpoint
  *     (`Trigger.AvailableNow` processes exactly the new files per run),
  *   - the drop-late-rows policy (`db_importing.py:88`) -> enforced
  *     upstream by Quality.importTrips (see the watermark note below),
  *   - the UPDATE+INSERT upsert -> streaming state in update mode.
  *
  * These are additive capability (the batch pipeline remains the parity
  * surface); they demonstrate that every builder aggregation is
  * incremental-friendly: linegraph/heatmap are pure keyed counts, so
  * the batch builders (`LineGraph.build`, `HeatMap.build`) run
  * unchanged over a [[WaveHarness.waveStream]] and feed
  * [[runIncrementalUpsert]]. They need no watermark: they group by
  * period strings, not an event-time window, so a watermark would
  * neither drop late rows nor evict state. State stays bounded by the
  * key cardinality (years x months x hours), and the reference's
  * late-data policy (drop rows outside the archive year,
  * `db_importing.py:88`) is enforced upstream by Quality.importTrips
  * before rows reach the stream.
  */
object StreamingBuilders {

  /** NATIVE session windows — the Catalyst-built-in counterpart of
    * [[StatefulSessionize]]'s mapGroupsWithState kernel, gated under
    * the SAME oracle (q145 vs q105): when the engine's own operator
    * expresses the semantics, prefer it — the custom kernel remains
    * for the semantics session_window cannot express (q109's
    * explicit-timeout emission). Append mode emits a session once the
    * watermark passes its end; `session_window.end` is LAST EVENT +
    * gap, so `end_micros` subtracts the gap back to the oracle's
    * max-event-time convention (exact integer arithmetic). State per
    * key is the open session — bounded by gap·rate like the custom
    * kernel's. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int,
                       delayMinutes: Int): DataFrame =
    events.withWatermark("ts", s"$delayMinutes minutes")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_micros"),
        (unix_micros(col("session_window.end")) -
          lit(gapMinutes * 60L * 1000000L)).as("end_micros"),
        col("n_events"))

  /** One-shot incremental run (the AvailableNow analogue of the batch
    * pipeline's per-file loop): drain whatever files are new and upsert
    * the warehouse table via foreachBatch. Update-mode aggregation
    * re-emits the new TOTAL for every touched key (streaming state holds
    * the running aggregate), so the sink merge is a keyed REPLACE of the
    * persisted table — checkpoint + replace makes re-runs idempotent.
    * Drains through [[WaveHarness.drain]]. */
  def runIncrementalUpsert(spark: SparkSession, agg: DataFrame,
                           warehouse: String, table: String,
                           keys: Seq[String], checkpoint: String): Unit = {
    import graft.engine.{Merge, TableStore}
    val payload = agg.schema.fieldNames.filterNot(keys.contains).toSeq
    WaveHarness.drain(spark, agg.writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val existing = TableStore.readOrEmpty(spark, warehouse, table, batch.schema)
        val merged = Merge.upsertReplace(existing, batch, keys, payload)
        TableStore.write(merged, warehouse, table)
      }, checkpoint)
  }
}
