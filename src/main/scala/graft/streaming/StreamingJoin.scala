package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream event-time INTERVAL JOIN — the one Structured
  * Streaming join class the rest of the streaming family
  * (q103/q105–q109: stateful dedup, sessionize, upsert, index grow)
  * doesn't exercise: two live streams joined on a key plus an
  * event-time range, with watermarks bounding the join state on both
  * sides. The canonical instance is attribution ("every click within
  * W minutes of a same-user view") over the events table — a
  * beyond-reference streaming capability like the rest of §2.9.
  *
  * State-bound argument (what makes this deployable on an unbounded
  * stream): the range condition `click_ts ∈ [view_ts, view_ts + W]`
  * lets Spark evict a view once the watermark passes view_ts + W (no
  * future click can match it), and a click is consumed immediately
  * (inner join — emitted in the first micro-batch where both sides
  * are present, no watermark hold like outer joins). Stored state is
  * therefore bounded by W·rate, not stream length.
  *
  * Batch-parity argument (what the q143 gate leans on): with
  * CHRONOLOGICAL arrival waves — every timestamp in wave k+1 ≥ every
  * timestamp in wave k — the drained inner join equals the batch
  * interval join exactly: within a batch, matches emit regardless of
  * watermark (it only advances BETWEEN batches); across the
  * boundary, the watermark after wave k is maxTs(k) − delay <
  * minTs(k+1), and a view still needed by a wave-k+1 click has
  * view_ts + W ≥ click_ts ≥ minTs(k+1) > watermark, so it is never
  * evicted before its match arrives. Out-of-order arrival WITHIN a
  * wave is fine for the same reason.
  */
object StreamingJoin {

  /** The attribution join over prepared streams: `views` as
    * (view_id, v_user, view_ts), `clicks` as
    * (click_id, c_user, click_ts). Output: (view_id, click_id,
    * user_id, gap_us) — the gap in epoch microseconds, integer-exact
    * on both engines. */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
                      windowMinutes: Int, delayMinutes: Int): DataFrame = {
    require(windowMinutes >= 1, "windowMinutes must be positive")
    require(delayMinutes >= 0, "delayMinutes must be non-negative")
    val v = views.withWatermark("view_ts", s"$delayMinutes minutes")
    val c = clicks.withWatermark("click_ts", s"$delayMinutes minutes")
    v.join(c,
        col("v_user") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") +
            expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("view_id"), col("click_id"),
        col("v_user").as("user_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
  }
}
