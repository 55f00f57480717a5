package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via flatMapGroupsWithState: gap-based
  * sessionization that survives across micro-batches.
  *
  * The batch q41 sessionizer needs the whole history per user; this
  * keeps only the OPEN session per user in the state store, emits a
  * session the moment an event beyond the gap closes it, and carries
  * open sessions across restarts through the checkpoint. This is the
  * `KeyValueGroupedDataset.flatMapGroupsWithState` surface — custom
  * state logic the built-in windowed aggregations can't express
  * (session end depends on the next event, not a fixed window).
  *
  * Drained through [[WaveHarness.drain]] with `foreachBatch` calling
  * [[processBatch]], OPEN sessions survive across drains in the
  * checkpointed state store, so draining per arrival wave exercises
  * genuine cross-batch state: a session spanning two waves is emitted
  * once, by the batch whose event closed it.
  */
object StatefulSessionize {

  final case class Ev(user_id: Long, ts_micros: Long, event_id: Long)
  final case class OpenSession(start: Long, end: Long, n: Int)
  final case class Session(user_id: Long, start_micros: Long,
                           end_micros: Long, n_events: Int)

  /** Pure per-user step: fold sorted events into the open session,
    * emitting every closed one — shared by the streaming operator and
    * its unit tests. */
  def step(user: Long, sorted: Seq[Ev], open: Option[OpenSession],
           gapMicros: Long): (Seq[Session], Option[OpenSession]) = {
    val out = Seq.newBuilder[Session]
    var cur = open
    sorted.foreach { e =>
      cur = cur match {
        case Some(s) if e.ts_micros - s.end <= gapMicros =>
          // max/min: a late (out-of-order) event inside the gap must not
          // move the session end backwards, and an event older than the
          // recorded start must pull the start back so start <= every
          // absorbed event. Caveat (streaming-vs-batch divergence): an
          // event so old that batch sessionization would assign it to an
          // ALREADY-EMITTED earlier session is still absorbed here — with
          // chronologically-ordered batches (the file-source reality)
          // the two semantics coincide; see StreamingParitySpec.
          Some(OpenSession(math.min(s.start, e.ts_micros),
            math.max(s.end, e.ts_micros), s.n + 1))
        case Some(s) =>
          out += Session(user, s.start, s.end, s.n)
          Some(OpenSession(e.ts_micros, e.ts_micros, 1))
        case None =>
          Some(OpenSession(e.ts_micros, e.ts_micros, 1))
      }
    }
    (out.result(), cur)
  }

  final case class EvT(user_id: Long, ts_micros: Long, event_id: Long,
                       ts: java.sql.Timestamp)

  /** Streaming form with event-time LIVENESS: [[sessions]] only closes
    * a user's session when a newer event from the SAME user arrives, so
    * a departed user's last session is stuck in the state store forever.
    * Here the session also closes when the event-time watermark (fed by
    * ALL users' events) passes session end + gap — the state store
    * holds only genuinely-open sessions, which is what bounds state at
    * millions of users.
    *
    * `lateness` is the watermark delay: events later than it may be
    * assigned to a new session where [[sessions]] would have merged
    * them (the standard watermark trade).
    *
    * Under chronological arrival and zero lateness this and
    * [[sessions]] produce IDENTICAL session sets: a timeout fires for
    * session end `e` only once the watermark passes `e + gap`, and
    * with time-range waves the watermark after a wave is that wave's
    * max timestamp, so any later event for the same user sits beyond
    * the gap anyway — the timeout only ever closes sessions the next
    * event (or sentinel) would have closed identically. (Spark invokes
    * the function with data, not hasTimedOut, when a key has both in
    * one batch, so a within-gap continuation always wins over a
    * pending timeout.) */
  def sessionsWithTimeout(events: Dataset[Ev], gapMinutes: Int,
                          lateness: String = "0 seconds"): Dataset[Session] = {
    val gapMicros = gapMinutes * 60L * 1000000L
    val gapMs = gapMicros / 1000L
    implicit val se = Encoders.product[Session]
    implicit val oe = Encoders.product[OpenSession]
    implicit val ee = Encoders.product[EvT]
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    events.withColumn("ts", timestamp_micros(col("ts_micros")))
      .withWatermark("ts", lateness)
      .as[EvT]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[EvT], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.end, s.n))
          } else {
            val sorted = it.map(e => Ev(e.user_id, e.ts_micros, e.event_id))
              .toSeq.sortBy(e => (e.ts_micros, e.event_id))
            val (closed, open) = step(user, sorted, state.getOption, gapMicros)
            open match {
              case Some(s) =>
                state.update(s)
                // fire once the watermark passes end + gap; the API
                // requires a timestamp beyond the current watermark
                state.setTimeoutTimestamp(math.max(
                  s.end / 1000 + gapMs + 1,
                  state.getCurrentWatermarkMs() + 1))
              case None => state.remove()
            }
            closed.iterator
          }
      }
  }

  /** One micro-batch of CLOSED sessions into the idempotent `batch_id`
    * sink ([[WaveHarness.writeBatch]]): a replayed batch (failure
    * between sink write and checkpoint commit) recomputes the same
    * deterministic session set and overwrites its own partition, so
    * duplicates cannot accumulate. */
  def processBatch(batch: Dataset[Session], batchId: Long,
                   warehouse: String, table: String): Unit =
      graft.engine.Checkpoints.scoped { scope =>
    // the foreachBatch frame is a VIEW: each action re-runs the whole
    // micro-batch plan, so cache across the emptiness probe and the
    // write (the standard multiple-action foreachBatch contract)
    val rows = scope.cache(batch.toDF())
    // empty batches write nothing (a parquet dir with zero row groups
    // is unreadable, and there is nothing to make idempotent)
    if (!rows.isEmpty) WaveHarness.writeBatch(rows, batchId, warehouse, table)
  }

  /** Streaming form. Emits CLOSED sessions (append mode); the open
    * session per user lives in the state store. */
  def sessions(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val gapMicros = gapMinutes * 60L * 1000000L
    implicit val se = Encoders.product[Session]
    implicit val oe = Encoders.product[OpenSession]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_micros, e.event_id))
          val (closed, open) = step(user, sorted, state.getOption, gapMicros)
          open match {
            case Some(s) => state.update(s)
            case None => state.remove()
          }
          closed.iterator
      }
  }
}
