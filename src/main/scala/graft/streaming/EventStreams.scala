package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.9: the reference is one-pass
  * batch, so the engine's streaming layer is the standard web-pipeline set:
  * stateful sessionization, watermarked dedup and an ordered-step funnel).
  * Transform functions take/return Datasets so the identical code
  * runs over `readStream` sources and over batch frames in tests. */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionUpdate(user_id: Long, sessions_closed: Long, events_in_last: Long)

  /** Stateful sessionization: per-user state tracks the open session; a gap
    * over `gapMinutes` closes it. The batch equivalent (lag/cumsum windows)
    * is queries.EventQueries "e_sessionize"; this is the unbounded-stream
    * form with timeout-driven state EVICTION: when the event-time watermark
    * passes lastTs + gap, the open session is closed, emitted, and the
    * per-user state removed — without this (round-2's NoTimeout) state grows
    * with the all-time user count instead of the active-user count.
    *
    * Counter semantics (ADVICE r3): `sessions_closed` counts sessions closed
    * within the user's current ACTIVE PERIOD only — eviction removes the
    * per-user state, so a user returning after an eviction restarts the
    * counter at 0. It is NOT the all-time per-user total the batch
    * `e_sessionize` query produces; bounded state and an unbounded per-user
    * counter are mutually exclusive on an unbounded stream. Downstream
    * consumers wanting all-time counts should sum the timeout-emitted
    * updates (each closed session is emitted exactly once across updates). */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes.toLong * 60 * 1000
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), SessionUpdate](GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // the open session's gap elapsed in event time: close + evict
            val (closed, _, _) = state.get
            state.remove()
            SessionUpdate(uid, closed + 1, 0L)
          } else {
            var (closed, lastTs, inLast) = state.getOption.getOrElse((0L, Long.MinValue, 0L))
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              if (lastTs != Long.MinValue && e.ts.getTime - lastTs > gapMs) {
                closed += 1
                inLast = 0L
              }
              inLast += 1
              lastTs = e.ts.getTime
            }
            state.update((closed, lastTs, inLast))
            // schedule eviction at session close; the timestamp must exceed
            // the current watermark (Spark contract), so clamp just past it.
            // Batch execution strips the watermark node — no timeout there.
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => -1L }
            if (wm >= 0 || state.getOption.isDefined)
              try state.setTimeoutTimestamp(math.max(lastTs + gapMs, wm + 1))
              catch { case _: UnsupportedOperationException => () }
            SessionUpdate(uid, closed, inLast)
          }
      }
  }

  /** Streaming exact dedup on a key expression: drop rows whose key was seen
    * within the watermark horizon (built-in state store, no custom state). */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", "2 hours").dropDuplicates(keyCols :+ "ts")

  final case class FunnelHit(user_id: Long, completed_at: Timestamp)

  /** Streaming funnel: emit one row per user each time the ordered step
    * sequence (`steps`) completes within `windowMinutes` of its first step
    * (the unbounded-stream form of the batch "e_funnel" query: stateful
    * ordered pattern detection). State = (next step index, funnel start);
    * an expired window resets to a fresh attempt — the current event may
    * itself restart the funnel — and state is EVICTED via event-time
    * timeout once the watermark passes the window end, so state tracks
    * active users only. */
  def funnel(events: Dataset[Event], steps: Seq[String], windowMinutes: Int): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty)
    val windowMs = windowMinutes.toLong * 60 * 1000
    events
      .withWatermark("ts", s"$windowMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long), FunnelHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[(Int, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (step, startMs) = state.getOption.getOrElse((0, Long.MinValue))
            val hits = scala.collection.mutable.ArrayBuffer[FunnelHit]()
            it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val t = e.ts.getTime
              if (step > 0 && t - startMs > windowMs) { step = 0; startMs = Long.MinValue }
              if (e.event_type == steps(step)) {
                if (step == 0) startMs = t
                step += 1
                if (step == steps.size) { hits += FunnelHit(uid, e.ts); step = 0; startMs = Long.MinValue }
              }
            }
            if (step > 0) {
              state.update((step, startMs))
              val wm = try state.getCurrentWatermarkMs()
                catch { case _: UnsupportedOperationException => -1L }
              if (wm >= 0)
                try state.setTimeoutTimestamp(math.max(startMs + windowMs, wm + 1))
                catch { case _: UnsupportedOperationException => () }
            } else if (state.exists) state.remove()
            hits.iterator
          }
      }
  }
}
