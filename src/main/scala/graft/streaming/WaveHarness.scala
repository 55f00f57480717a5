package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.engine.TableStore

/** The streaming family's one harness: how arrival waves are written
  * ([[writeWave]]), read ([[waveStream]]) and drained ([[drain]]), and
  * the idempotent `batch_id` sink layout ([[writeBatch]],
  * [[otherBatches]]). Every streaming query the library starts, starts
  * in [[drain]]: the gated drain queries
  * (q103/q105–q109/q143/q145/q148 via graft.queries.Pipeline) and
  * [[StreamingBuilders.runIncrementalUpsert]].
  *
  * Why ONE file per micro-batch (`maxFilesPerTrigger` = 1): the gate
  * harnesses pre-write every wave as one file and drain ONCE — one
  * streaming-query startup and one plan compile for the whole
  * lifecycle instead of one per wave. Slicing that drain one file per
  * batch (oldest mtime first) makes wave k batch k, so the cross-batch
  * state a drain-per-wave sequence would carry is carried the same way
  * between batches of the one drain, and `batch_id` pins to the wave.
  *
  * Why the drain pins `spark.sql.shuffle.partitions` to 4: a stateful
  * stream fixes its state-store partition count from that conf when
  * its checkpoint is created, and each micro-batch's exchanges use it
  * too. The gated drains' per-batch key spaces are small, so 4 sizes
  * both to the work (a cluster deployment sizes them to key
  * cardinality at provisioning). The pin covers the drain only: wave
  * writes and anything else the caller runs keep the caller's value,
  * which is restored even when the drain fails. */
object WaveHarness {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Write one arrival wave as ONE parquet file with a PINNED,
    * strictly-increasing modification time. The mtime pin is what
    * makes the slicing DETERMINISTIC: the file source orders files
    * oldest-mtime-first, and two waves written within one clock tick
    * would otherwise tie and could swap batch assignment under the
    * hash gate. */
  def writeWave(df: DataFrame, srcDir: String, wave: Int): Unit = {
    val d = new java.io.File(srcDir)
    val before = Option(d.listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    df.coalesce(1).write.mode("append").parquet(srcDir)
    d.listFiles().filter(f => !before(f.getName))
      .foreach(_.setLastModified(1000000000000L + wave * 60000L))
  }

  /** The session-drain WAVE LAW over a (user_id, ts_micros, event_id)
    * events frame: two strict chronological time-range waves (strict
    * bounds, so equal-ts ties never straddle a wave) + the sentinel,
    * written as three mtime-ordered files into `src`
    * ([[writeWave]]).
    *
    * The sentinel is one event per user at one COMMON instant a day
    * beyond the global max. The shared instant matters for the
    * timeout variant: after the sentinel batch the watermark is
    * exactly that instant, so no sentinel's own timer (instant +
    * gap) can ever expire in the final empty timer batch — with
    * PER-USER sentinels the global max would expire every earlier
    * user's sentinel timer and emit the sentinel itself (observed:
    * +126 one-event sessions at sf0.01 before this was fixed). */
  def writeSessionWaves(events: DataFrame, src: String): Unit = {
    // two-long bounded artifact: the wave boundaries
    val row = events.agg(min("ts_micros"), max("ts_micros")).head()
    val (tMin, tMax) = (row.getLong(0), row.getLong(1))
    val cuts = Seq(tMin + (tMax - tMin) / 2)
    (Seq(tMin - 1) ++ cuts).zip(cuts ++ Seq(tMax + 1)).zipWithIndex
      .foreach { case ((lo, hi), w) =>
        writeWave(events.filter(
          col("ts_micros") > lo && col("ts_micros") <= hi), src, w)
      }
    writeWave(events.select(col("user_id")).distinct()
      .withColumn("ts_micros", lit(tMax + 86400L * 1000000L))
      .withColumn("event_id", lit(-1L))
      .select("user_id", "ts_micros", "event_id"), src, wave = 2)
  }

  /** Streaming source over the parquet wave files under `dir`, one
    * file per micro-batch, oldest mtime first. */
  def waveStream(spark: SparkSession, dir: String,
                 schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Drain everything currently in the source (Trigger.AvailableNow)
    * through `writer`, checkpointed at `checkpoint`, and wait for it.
    * Safe to call repeatedly: the checkpoint holds the files already
    * read, so a call with no new files is a no-op. Shuffle partitions
    * are pinned to 4 for the drain only (see the object scaladoc). */
  def drain[T](spark: SparkSession, writer: DataStreamWriter[T],
               checkpoint: String): Unit = {
    val prev = spark.conf.get(ShufflePartitions)
    spark.conf.set(ShufflePartitions, "4")
    try writer.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally spark.conf.set(ShufflePartitions, prev)
  }

  /** The idempotent sink: write `rows` into `table`'s `batch_id=<id>`
    * partition with DYNAMIC partition overwrite. A replayed micro-batch
    * (failure between sink write and checkpoint commit) recomputes the
    * same deterministic rows and overwrites its own partition, so
    * duplicates cannot accumulate — the exactly-once contract
    * foreachBatch asks for. Callers skip empty batches themselves: a
    * parquet dir with zero row groups is unreadable. */
  def writeBatch(rows: DataFrame, batchId: Long, warehouse: String,
                 table: String): Unit =
    TableStore.overwritePartitions(rows.withColumn("batch_id", lit(batchId)),
      warehouse, table, Seq("batch_id"))

  /** `table`'s rows from every batch but `batchId` (an empty frame of
    * `schema` before the first write), without the `batch_id` column —
    * the history a replay of `batchId` must not count as already seen.
    * Partition-column inference is off in TableStore, so a read-back
    * batch_id is STRING: it is cast before comparing. */
  def otherBatches(spark: SparkSession, warehouse: String, table: String,
                   schema: StructType, batchId: Long): DataFrame =
    TableStore.readOrEmpty(spark, warehouse, table,
        schema.add("batch_id", LongType))
      .filter(col("batch_id").isNull ||
        col("batch_id").cast("long") =!= batchId)
      .drop("batch_id")
}
