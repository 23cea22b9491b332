package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization via flatMapGroupsWithState
  * (SURVEY.md §2.2 streaming row, "custom state" case): per-user
  * session accumulation with an explicit state machine — the shape
  * used when session logic outgrows `session_window` (custom close
  * conditions, per-session payloads, side outputs).
  *
  * Event-time watermark + timeout bound the state: a user's state
  * lives only until the gap elapses past the watermark.
  */
object StatefulSessions {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double) {
    def ts_us: Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  }
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)
  final case class SessionOut(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, total_value: Double)

  val GapUs: Long = 1800L * 1000000L // 30-minute inactivity gap

  /** The per-group state transition: emit a session whenever the gap
    * is exceeded; otherwise extend. Pure function of (sorted events,
    * prior state) — unit-testable without a stream.
    */
  def advance(events: Seq[Ev], prior: Option[SessionState])
      : (Seq[SessionOut], Option[SessionState]) = {
    var state = prior
    val out = Seq.newBuilder[SessionOut]
    events.sortBy(_.ts_us).foreach { e =>
      state = state match {
        case Some(s) if e.ts_us - s.lastUs <= GapUs =>
          Some(s.copy(lastUs = e.ts_us, n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          out += SessionOut(e.user_id, s.startUs, s.lastUs, s.n, s.total)
          Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
        case None =>
          Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
      }
    }
    (out.result(), state)
  }

  /** Streaming query: events → typed per-user state machine → closed
    * sessions, append mode. Timeout closes a session when no events
    * arrive within the gap (plus watermark slack); sessions still open
    * when a finite input is exhausted stay in state, so a drained run
    * holds the CLOSED prefix per user.
    */
  def sessionStream(spark: SparkSession, sfDir: String): Dataset[SessionOut] = {
    import spark.implicits._
    StreamingOps.eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column through the typed Dataset —
      // event-time timeout requires the watermark to survive the select
      .select(col("user_id"), col("ts"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, events: Iterator[Ev], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startUs, s.lastUs, s.n, s.total))
          } else {
            val (closed, next) = advance(events.toSeq, state.getOption)
            next match {
              case Some(s) =>
                state.update(s)
                if (!state.getCurrentWatermarkMs().equals(0L))
                  state.setTimeoutTimestamp(s.lastUs / 1000 + GapUs / 1000 + 3600000)
              case None => state.remove()
            }
            closed.iterator
          }
        })
  }
}
