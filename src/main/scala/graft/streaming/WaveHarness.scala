package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming-gate ARRIVAL harness, in exactly one place — used
  * by the gated drain queries (q103/q105–q109/q143/q145/q148 via
  * graft.queries.Pipeline); the round-16 self-review found the wave
  * law transcribed in four places. */
object WaveHarness {

  /** Write one arrival wave as ONE parquet file with a PINNED,
    * strictly-increasing modification time. The streaming gate
    * harnesses pre-write every wave and drain ONCE with
    * maxFilesPerTrigger=1 — one streaming-query startup and one
    * plan compile for the whole lifecycle instead of one per wave
    * (round-14 amortization; the cross-batch state semantics are
    * identical because batches inside one AvailableNow drain carry
    * the same checkpointed state a drain-per-wave sequence does).
    * The mtime pin is what makes the slicing DETERMINISTIC: the file
    * source orders files oldest-mtime-first, and two waves written
    * within one clock tick would otherwise tie and could swap batch
    * assignment under the hash gate. */
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
}
