package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.TripSchema

/** Structured Streaming forms of the derived tables (SURVEY §2.9).
  *
  * The reference is batch-only; its hand-rolled incrementality (manifest
  * anti-join + chronological file processing + drop-wrong-year rows) maps
  * onto Spark's native streaming machinery:
  *   - the StatusDataTable manifest -> the file-source checkpoint
  *     (`Trigger.AvailableNow` processes exactly the new files per run),
  *   - the drop-late-rows policy (`db_importing.py:88`) -> enforced
  *     upstream by Quality.importTrips (see builder notes on watermarks),
  *   - the UPDATE+INSERT upsert -> streaming state in update mode.
  *
  * These are additive capability (the batch pipeline remains the parity
  * surface); they demonstrate that every builder aggregation is
  * incremental-friendly: linegraph/heatmap are pure keyed counts, so
  * they stream with no semantic change.
  */
object StreamingBuilders {

  /** Streaming source over canonical imported-trips parquet files
    * appearing under `dir` (schema = canonical + year/month). */
  def tripStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      TripSchema.canonical.fields ++ Seq(
        org.apache.spark.sql.types.StructField("year",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("month",
          org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Streaming linegraph: per (year, month) conditional counts.
    * No watermark: these aggregations group by period strings, not an
    * event-time window, so a watermark would neither drop late rows nor
    * evict state (Spark only applies it to windowed/event-time keys).
    * State stays bounded by the key cardinality (years x months), and
    * the reference's late-data policy (drop rows outside the archive
    * year, `db_importing.py:88`) is enforced upstream by
    * Quality.importTrips before rows reach the stream. */
  def lineGraphStream(trips: DataFrame): DataFrame =
    trips
      .groupBy(col("year"), col("month"))
      .agg(
        count(when(col("user_type") === "subscriber", 1)).cast("int")
          .as("subscriber_count"),
        count(when(col("user_type") === "customer", 1)).cast("int")
          .as("customer_count"))

  /** Streaming heatmap: per (year, month, hour) counts. Same
    * no-watermark rationale as [[lineGraphStream]]. */
  def heatMapStream(trips: DataFrame): DataFrame =
    trips
      .groupBy(col("year"), col("month"),
        date_format(col("start_time"), "HH").cast("int").as("hour"))
      .agg(count(lit(1)).cast("int").as("total_count"))

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
