package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming funnel progression (VERDICT r7 #9) — the streaming twin
  * of batch e19: per user, the earliest view, the earliest click
  * STRICTLY after that view, and the earliest purchase strictly after
  * that click, maintained incrementally with `mapGroupsWithState`.
  *
  * The per-user state is three optional microsecond timestamps — O(1)
  * per user regardless of event volume, keyed by user_id (a key whose
  * cardinality grows with the corpus, never a bounded-key window).
  * Each micro-batch folds its events in EVENT-TIME order onto the
  * state; because every stage records a set-once minimum and events
  * within a batch are sorted, the fold reproduces exactly the batch
  * min-chain on in-order input, and StatefulSpec pins streaming ==
  * batch e19 on the complete prefix (the same contract as the
  * sessions/anomaly twins). Cross-batch stragglers older than the
  * watermark are dropped by the engine — the standard streaming
  * approximation a funnel dashboard accepts.
  *
  * Output mode is Update: every touched user re-emits its current
  * funnel row, so the sink's LATEST row per user is that user's funnel
  * state and the dashboard aggregate (step counts, conversion rates)
  * is a trivial rollup of the sink table.
  *
  * State TTL (VERDICT r10 "What's missing" #2): user_id cardinality
  * grows with the corpus, so per-user state must not live forever. The
  * stream runs with an EVENT-TIME timeout — a user dormant for
  * [[DefaultDormantTtlMs]] of event time (configurable; `<= 0`
  * disables) is evicted once the watermark passes their horizon: the
  * timed-out invocation re-emits the final funnel snapshot and drops
  * the state. The drop contract mirrors the straggler contract: an
  * event from an evicted user starts a FRESH funnel (their prior
  * progress is forgotten — by then it is at least TTL-old, which a
  * funnel dashboard reads as a new journey). State is then bounded by
  * users ACTIVE within the TTL horizon, not all users ever seen.
  */
object StatefulFunnel {

  /** Default dormancy horizon: 90 days of event time. */
  val DefaultDormantTtlMs: Long = 90L * 24 * 3600 * 1000

  final case class FEv(user_id: Long, ts: java.sql.Timestamp, event_type: String) {
    def ts_us: Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  }
  final case class FunnelState(
      tv: Option[Long], tc: Option[Long], tp: Option[Long])
  final case class FunnelOut(
      user_id: Long, t_view_us: Option[Long], t_click_us: Option[Long],
      t_purchase_us: Option[Long])

  /** Pure state transition: fold a micro-batch's events (any arrival
    * order — sorted here) onto the prior state. Strict inequalities
    * mirror e19: a click at exactly the view's timestamp does not
    * advance the funnel.
    */
  def advance(events: Seq[FEv], prior: Option[FunnelState]): FunnelState = {
    var s = prior.getOrElse(FunnelState(None, None, None))
    events.sortBy(_.ts_us).foreach { e =>
      e.event_type match {
        case "view" =>
          if (s.tv.isEmpty) s = s.copy(tv = Some(e.ts_us))
        case "click" =>
          if (s.tc.isEmpty && s.tv.exists(e.ts_us > _))
            s = s.copy(tc = Some(e.ts_us))
        case "purchase" =>
          if (s.tp.isEmpty && s.tc.exists(e.ts_us > _))
            s = s.copy(tp = Some(e.ts_us))
        case _ => ()
      }
    }
    s
  }

  def funnelStream(spark: SparkSession, sfDir: String,
      dormantTtlMs: Long = DefaultDormantTtlMs): Dataset[FunnelOut] =
    funnelOf(StreamingOps.eventStream(spark, sfDir), dormantTtlMs)

  /** The funnel state machine over any events-shaped stream (needs
    * `user_id`, `ts`, `event_type`); see the object doc for the TTL
    * contract.
    */
  def funnelOf(events: DataFrame,
      dormantTtlMs: Long = DefaultDormantTtlMs): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (dormantTtlMs > 0) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[FEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState(timeoutConf)(
        (user: Long, events: Iterator[FEv], state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            // dormant past the horizon: final snapshot, then eviction
            val last = state.get
            state.remove()
            FunnelOut(user, last.tv, last.tc, last.tp)
          } else {
            val evs = events.toSeq
            val ns = advance(evs, state.getOption)
            state.update(ns)
            if (dormantTtlMs > 0)
              // horizon from the user's LATEST event; the timeout
              // timestamp must sit beyond the current watermark
              state.setTimeoutTimestamp(math.max(
                evs.iterator.map(_.ts.getTime).max + dormantTtlMs,
                state.getCurrentWatermarkMs() + 1))
            FunnelOut(user, ns.tv, ns.tc, ns.tp)
          }
        })
  }
}
