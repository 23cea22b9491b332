package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming anomaly detection — the production-monitoring
  * twin of batch e09: per event type, 30-minute bucket counts are
  * z-scored against the trailing 30 COMPLETE buckets. Unlike
  * sessionization (state = one open session), the state here is a
  * bounded trailing count window: exactly the last 30 emitted buckets
  * plus every bucket still inside the watermark — O(frame), droppable,
  * the flatMapGroupsWithState shape for any trailing-statistic
  * monitor.
  *
  * A bucket's verdict is emitted only once its end passes the
  * watermark: at that point neither its own count nor its predecessor
  * set can change (late rows beyond the watermark are dropped
  * upstream), so the decision is final — the append-mode contract.
  * The arithmetic replays e09's exact power-sum z form, so emitted
  * rows are bit-identical to the batch result.
  */
object StatefulAnomaly {

  final case class Ev(event_type: String, ts: java.sql.Timestamp) {
    def ts_us: Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  }
  /** counts: bucket start (epoch µs) → event count. emittedThrough:
    * last bucket start whose verdict window is closed. dropped: count
    * of evicted historical buckets (to preserve the ≥30-predecessor
    * test after eviction).
    */
  final case class AnomState(counts: Map[Long, Long], emittedThrough: Long, dropped: Long)
  final case class AnomOut(event_type: String, ws_us: Long, n: Long, z: Double, is_anomaly: Long)

  val BucketUs: Long = 1800L * 1000000L // 30 minutes

  /** Pure state transition: merge new events, emit verdicts for every
    * bucket newly complete under `wmUs`, evict history beyond the
    * trailing frame. Unit-testable without a stream.
    */
  def advance(evs: Seq[Ev], prior: AnomState, wmUs: Long): (Seq[AnomOut], AnomState) = {
    val merged = evs.foldLeft(prior.counts) { (m, e) =>
      val ws = Math.floorDiv(e.ts_us, BucketUs) * BucketUs
      m.updated(ws, m.getOrElse(ws, 0L) + 1L)
    }
    val sorted = merged.toVector.sortBy(_._1)
    val out = Vector.newBuilder[AnomOut]
    var newEmitted = prior.emittedThrough
    sorted.zipWithIndex.foreach { case ((ws, n), i) =>
      if (ws > prior.emittedThrough && ws + BucketUs <= wmUs) {
        if (ws > newEmitted) newEmitted = ws
        // ≥30 present predecessors GLOBALLY (index + evicted history);
        // eviction keeps exactly 30 past buckets, so whenever the
        // global count clears 30 the in-state slice below is the true
        // trailing-30 window
        if (prior.dropped + i >= 30) {
          val window = sorted.slice(i - 30, i).map(_._2)
          val nd = 30L
          val sx = window.sum
          val sxx = window.map(c => c * c).sum
          // the exact arithmetic of batch e09 (same IEEE op order)
          val mean = sx.toDouble / nd.toDouble
          val variance = sxx.toDouble / nd.toDouble - mean * mean
          if (math.sqrt(variance) > 0.0) {
            val std = math.sqrt(variance)
            val z = (n.toDouble - mean) / std
            out += AnomOut(evs.headOption.map(_.event_type).getOrElse(""), ws, n, z,
              if (math.abs(z) > 2.0) 1L else 0L)
          }
        }
      }
    }
    val (past, future) = sorted.partition(_._1 <= newEmitted)
    val kept = past.takeRight(30) ++ future
    val droppedNow = prior.dropped + (past.length - math.min(past.length, 30))
    (out.result(), AnomState(kept.toMap, newEmitted, droppedNow))
  }

  /** Streaming query: events → per-type trailing-window state machine
    * → final anomaly verdicts, append mode. Drained over a finite
    * input, the post-data no-data batch fires the event-time timeouts,
    * flushing every bucket the final watermark completes.
    */
  def anomalyStream(spark: SparkSession, sfDir: String): Dataset[AnomOut] = {
    import spark.implicits._
    StreamingOps.eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("event_type"), col("ts"))
      .as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (etype: String, events: Iterator[Ev], state: GroupState[AnomState]) => {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prior = state.getOption.getOrElse(AnomState(Map.empty, Long.MinValue, 0L))
          val evs = events.toSeq
          val (emitted, next) = advance(evs, prior, wmUs)
          if (next.counts.isEmpty) state.remove()
          else {
            state.update(next)
            // arm a flush for the EARLIEST still-pending bucket end
            // (timeout timestamps must be strictly beyond the current
            // watermark; each firing emits everything complete by then
            // and re-arms for the next pending bucket)
            val pendingEnds = next.counts.keysIterator
              .filter(_ > next.emittedThrough)
              .map(ws => (ws + BucketUs) / 1000L)
              .filter(_ > state.getCurrentWatermarkMs())
              .toSeq
            if (pendingEnds.nonEmpty) state.setTimeoutTimestamp(pendingEnds.min)
          }
          // the group key is constant per invocation; patch it in for
          // timeout invocations (no events to read it from)
          emitted.iterator.map(_.copy(event_type = etype))
        })
  }
}
