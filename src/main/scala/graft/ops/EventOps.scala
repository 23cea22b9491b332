package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time analytics over the `events` fixture (SURVEY.md §2.2
  * streaming row — batch windowing surface).
  *
  * The analytics a stream shares are kernels over any events frame:
  * [[e01TumblingOf]] and [[e06SessionWindowOf]]. The batch query
  * applies a kernel to `Tables.events` and adds its presentation sort;
  * `graft.streaming.StreamingOps` applies the same kernel to a
  * watermarked `eventsStream` and drains it with `drain`.
  *
  * All three patterns are single-shuffle plans: tumbling/sliding
  * windows shuffle on (window, type) for the aggregate; sessionization
  * shuffles once on user_id and does the gap-scan inside each
  * partition — the standard scale-out formulation.
  */
object EventOps {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Tumbling 6-hour windows: event counts + value sums per window ×
    * type. Spark's `window()` buckets from the epoch; DuckDB's
    * `time_bucket` from 2000-01-03 — both midnight-aligned and 6h
    * divides a day, so the grids coincide.
    */
  def e01Tumbling(spark: SparkSession, sfDir: String): DataFrame =
    e01TumblingOf(Tables.events(spark, sfDir))
      .orderBy(col("ws").asc_nulls_last, col("event_type").asc_nulls_last)

  /** e01's aggregate over any events frame, batch or watermarked stream. */
  def e01TumblingOf(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("total"))

  val e01Sql: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2
      |ORDER BY ws ASC NULLS LAST, event_type ASC NULLS LAST""".stripMargin

  /** Sliding windows (1 hour wide, 30-minute slide): every event lands
    * in exactly two windows. The oracle reproduces the window set by
    * unioning the two shifted 30-minute grids.
    */
  def e02Sliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("w.start").as("ws"), col("n"), col("total"))
      .orderBy(col("ws").asc_nulls_last)

  val e02Sql: String =
    """SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS ws,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
      |GROUP BY 1 ORDER BY ws ASC NULLS LAST""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap) — the
    * lag + cumulative-sum window pattern: one shuffle on user_id, then
    * a linear scan per user. Comparison is in exact epoch microseconds
    * on both engines.
    */
  def e03Sessions(spark: SparkSession, sfDir: String): DataFrame =
    e03SessionsOf(Tables.events(spark, sfDir))

  /** e03 over an arbitrary events frame — the entry point the
    * day-partitioned-layout spec (`EventLayoutSpec`) drives against a
    * `Sinks.writePartitioned` directory, where a day predicate on the
    * source prunes at the directory level before any row is read.
    */
  def e03SessionsOf(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byUser) > 1800L * 1000000L, 1)
          .when(lag(col("us"), 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("user_id").asc_nulls_last, col("session_id").asc_nulls_last)
  }

  val e03Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1
      |         WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
      |), sess AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id ASC NULLS LAST, session_id ASC NULLS LAST""".stripMargin

  /** Native session windows: Spark's `session_window` operator (the
    * built-in form of e03's manual gap pattern). Window end = last
    * event + gap by definition; the oracle derives the same sessions
    * via the gap pattern and reconstructs the end bound.
    */
  def e06SessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    e06SessionWindowOf(Tables.events(spark, sfDir))
      .orderBy(col("user_id").asc_nulls_last, col("session_start").asc_nulls_last)

  /** e06's aggregate over any events frame, batch or watermarked stream. */
  def e06SessionWindowOf(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end_bound"), col("n_events"), col("total_value"))

  val e06Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1
      |         WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS LAST)
      |), sess AS (
      |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts ASC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL '30 minutes' AS session_end_bound,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id ASC NULLS LAST, session_start ASC NULLS LAST""".stripMargin

  /** Retention cohorts: users grouped by first-seen day, counted per
    * day-offset of later activity — the standard triangular retention
    * matrix, built from one aggregate (first-seen) + one distinct
    * (user, day) projection + one join, all keyed on user_id.
    */
  def e05Retention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val activeDays = ev.distinct()
    activeDays.join(firstSeen, Seq("user_id"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .filter(col("day_offset") <= 7)
      .orderBy(col("cohort_day").asc_nulls_last, col("day_offset").asc_nulls_last)
  }

  val e05Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |first_seen AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
      |SELECT cohort_day, CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
      |  count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN first_seen ON ev.user_id = first_seen.user_id
      |WHERE datediff('day', cohort_day, day) <= 7
      |GROUP BY 1, 2
      |ORDER BY cohort_day ASC NULLS LAST, day_offset ASC NULLS LAST""".stripMargin

  /** Event funnel: per user, did view → click → purchase happen in
    * order? Single pass: min event time per stage per user, then
    * ordered-existence flags — no self-joins.
    */
  def e04Funnel(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      .withColumn("reached_click",
        coalesce((col("t_view").isNotNull && col("t_click") > col("t_view")).cast("int"), lit(0)))
      .withColumn("reached_purchase",
        coalesce((col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click")).cast("int"), lit(0)))
      .select(col("user_id"), col("t_view"), col("reached_click"), col("reached_purchase"))
      .orderBy(col("user_id").asc_nulls_last)

  val e04Sql: String =
    """WITH stages AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT user_id, t_view,
      |  CAST(coalesce(t_view IS NOT NULL AND t_click > t_view, false) AS INT) AS reached_click,
      |  CAST(coalesce(t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click, false) AS INT) AS reached_purchase
      |FROM stages ORDER BY user_id ASC NULLS LAST""".stripMargin

  /** e08: time-series gap filling — the dense-grid completion every
    * dashboard/training-feature pipeline needs: per event type, every
    * 6-hour bucket between that type's first and last events exists in
    * the output, with absent buckets zero-filled. The grid is
    * GENERATED per key from its (min, max) bounds — a per-group
    * `sequence` explode, rows ∝ distinct buckets, never a cross join
    * against a global calendar — then a left join attaches observed
    * counts.
    */
  def e08GapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = Tables.events(spark, sfDir)
      .select(col("event_type"), window(col("ts"), "6 hours")("start").as("ws"))
    val counts = buckets.groupBy(col("event_type"), col("ws"))
      .agg(count(lit(1)).as("n"))
    val grid = buckets.groupBy(col("event_type"))
      .agg(min(col("ws")).as("lo"), max(col("ws")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 6 hours"))).as("ws"))
    grid.join(counts, Seq("event_type", "ws"), "left")
      .select(col("event_type"), col("ws"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("event_type").asc_nulls_last, col("ws").asc_nulls_last)
  }

  val e08Sql: String =
    """WITH b AS (
      |  SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS ws FROM events),
      |c AS (SELECT event_type, ws, count(*) AS n FROM b GROUP BY 1, 2),
      |bounds AS (SELECT event_type, min(ws) AS lo, max(ws) AS hi FROM b GROUP BY 1),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS ws
      |  FROM bounds)
      |SELECT g.event_type, g.ws, coalesce(c.n, CAST(0 AS BIGINT)) AS n
      |FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.ws = c.ws
      |ORDER BY g.event_type ASC NULLS LAST, g.ws ASC NULLS LAST""".stripMargin

  /** e07: event-path analysis — each user's first-5 event-type journey
    * as a '>'-joined path, then the corpus-wide path frequency table
    * (the clickstream "what do users do first" query). One shuffle on
    * user_id (collect + sort the tiny per-user struct list — bounded
    * by the slice, not the history), one count shuffle on path.
    * Determinism: struct sort on (ts, event_id) is a total order.
    */
  def e07EventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    // first 5 events per user via the native per-key top-k operator
    // (round 5): the previous collect_list-then-slice aggregated a
    // user's ENTIRE event history into one buffer before keeping 5 —
    // O(per-user events) aggregation state, a power-user hazard at
    // scale. The top-k operator holds O(5) per key map-side and ships
    // ≤ 5 rows per user through the shuffle; the path array after it
    // is bounded by construction.
    val first5 = graft.plans.TopKPerKey.topKPerKey(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      Seq(col("user_id")),
      Seq(col("ts").asc_nulls_last, col("event_id").asc_nulls_last), 5)
    first5
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc_nulls_last, col("path").asc_nulls_last)
  }

  val e07Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS rn
      |  FROM events),
      |p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM p GROUP BY path
      |ORDER BY n_users DESC NULLS LAST, path ASC NULLS LAST""".stripMargin

  /** e09: per-type event-rate anomaly detection — 30-minute bucket
    * counts z-scored against the trailing 30 buckets of the SAME type
    * (exact power sums in the moving frame; the z expression is the
    * same bit-identical rational+sqrt form as q50, so the |z| > 2
    * boundary is portable). One count shuffle + one window shuffle on
    * event_type; the trailing frame excludes the current bucket so a
    * spike can't mask itself. Buckets with an incomplete trailing
    * history or zero variance are excluded (nd = 30, std > 0).
    */
  def e09Anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    val trail = Window.partitionBy(col("event_type"))
      .orderBy(col("ws").asc_nulls_last)
      .rowsBetween(-30, -1)
    val mean = col("sx").cast("double") / col("nd").cast("double")
    counts
      .withColumn("nd", count(col("n")).over(trail))
      .withColumn("sx", sum(col("n")).over(trail))
      .withColumn("sxx", sum(col("n") * col("n")).over(trail))
      .filter(col("nd") === 30)
      .withColumn("std", sqrt(col("sxx").cast("double") / col("nd").cast("double")
        - mean * mean))
      .filter(col("std") > 0.0)
      .select(col("ws"), col("event_type"), col("n"),
        ((col("n").cast("double") - mean) / col("std")).as("z"))
      .withColumn("is_anomaly", when(abs(col("z")) > 2.0, 1L).otherwise(0L))
      .orderBy(col("ws").asc_nulls_last, col("event_type").asc_nulls_last)
  }

  val e09Sql: String =
    """WITH c AS (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT ws, event_type, n,
      |    CAST(count(n) OVER t AS BIGINT) AS nd,
      |    CAST(sum(n) OVER t AS BIGINT) AS sx,
      |    CAST(sum(n * n) OVER t AS BIGINT) AS sxx
      |  FROM c
      |  WINDOW t AS (PARTITION BY event_type ORDER BY ws ASC NULLS LAST
      |    ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)),
      |s AS (
      |  SELECT ws, event_type, n,
      |    CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE) AS mean,
      |    sqrt(CAST(sxx AS DOUBLE) / CAST(nd AS DOUBLE)
      |      - (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))
      |        * (CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))) AS std
      |  FROM w WHERE nd = 30)
      |SELECT ws, event_type, n,
      |  (CAST(n AS DOUBLE) - mean) / std AS z,
      |  CASE WHEN abs((CAST(n AS DOUBLE) - mean) / std) > 2.0 THEN CAST(1 AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS is_anomaly
      |FROM s WHERE std > 0.0
      |ORDER BY ws ASC NULLS LAST, event_type ASC NULLS LAST""".stripMargin

  /** e10: trailing-window distinct counts — "distinct users in the
    * last 7 days, per day": an operator Spark's window functions can't
    * express (no COUNT(DISTINCT) over a frame). Composed scalably
    * instead: distinct (day, user) pairs first (collapses the fact
    * table to its key grid), then a bounded range join day ↔ trailing
    * days — each day joins at most 7 daily partitions, so the pair
    * expansion is calendar-sized, never fact-sized — and a final
    * count-distinct per day.
    */
  def e10TrailingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val cal = daily.select(col("day").as("d")).distinct()
    cal.join(daily,
        col("day").between(date_sub(col("d"), 6), col("d")))
      .groupBy(col("d"))
      .agg(
        countDistinct(col("user_id")).as("u7"),
        countDistinct(when(col("day") === col("d"), col("user_id"))).as("u1"))
      .orderBy(col("d").asc_nulls_last)
  }

  val e10Sql: String =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |cal AS (SELECT DISTINCT day AS d FROM daily)
      |SELECT d,
      |  count(DISTINCT user_id) AS u7,
      |  count(DISTINCT CASE WHEN day = d THEN user_id END) AS u1
      |FROM cal JOIN daily ON day BETWEEN d - 6 AND d
      |GROUP BY d ORDER BY d ASC NULLS LAST""".stripMargin

  /** e11: last-touch conversion attribution — for every purchase, the
    * user's most recent PRECEDING non-purchase event (the touch that
    * gets marketing credit). One window shuffle on user_id; the
    * ignore-nulls last_value over an unbounded-to-previous frame is
    * the standard formulation, and (ts, event_id) is a total order so
    * the attributed touch is deterministic. Purchases with no prior
    * touch stay NULL (both engines).
    */
  def e11Attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val touchId = when(col("event_type") =!= "purchase", col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("touch_type", last(touch, ignoreNulls = true).over(w))
      .withColumn("touch_event", last(touchId, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event"),
        col("touch_event"), col("touch_type"))
      .orderBy(col("purchase_event").asc_nulls_last)
  }

  val e11Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER w AS touch_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
      |      OVER w AS touch_event
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id AS purchase_event, touch_event, touch_type
      |FROM t WHERE event_type = 'purchase'
      |ORDER BY purchase_event ASC NULLS LAST""".stripMargin

  /** e12: time-to-conversion distribution — for each converting user,
    * minutes from their FIRST view to their first purchase at-or-after
    * it, bucketed into the funnel-latency histogram product teams
    * actually read. Two hash aggregations on user_id and one join —
    * the per-user frames collapse the fact table before anything is
    * compared, so the join input is users, not events. Lag is integer
    * microsecond arithmetic (µs diff, integer-divide to minutes) —
    * exact on both engines; no timestamp subtraction semantics in
    * play.
    */
  def e12ConversionLag(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val lagMin = expr("(unix_micros(CAST(first_purchase AS TIMESTAMP)) - " +
      "unix_micros(CAST(first_view AS TIMESTAMP))) div 60000000")
    firstView
      .join(ev.filter(col("event_type") === "purchase"), Seq("user_id"))
      .filter(col("ts") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("ts")).as("first_purchase"))
      .select(col("user_id"), lagMin.as("lag_min"))
      // ordinal prefixes so the histogram's lexicographic sort IS the
      // semantic latency order
      .groupBy(
        when(col("lag_min") < 60, "1_0-1h")
          .when(col("lag_min") < 360, "2_1-6h")
          .when(col("lag_min") < 1440, "3_6-24h")
          .otherwise("4_1d+").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("lag_min")).as("total_lag_min"))
      .orderBy(col("bucket").asc_nulls_last)
  }

  val e12Sql: String =
    """WITH fv AS (
      |  SELECT user_id, min(ts) AS first_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |fp AS (
      |  SELECT e.user_id, fv.first_view, min(e.ts) AS first_purchase
      |  FROM fv JOIN events e USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      |  GROUP BY e.user_id, fv.first_view),
      |l AS (
      |  SELECT user_id,
      |    (epoch_us(first_purchase) - epoch_us(first_view)) // 60000000 AS lag_min
      |  FROM fp)
      |SELECT CASE WHEN lag_min < 60 THEN '1_0-1h'
      |            WHEN lag_min < 360 THEN '2_1-6h'
      |            WHEN lag_min < 1440 THEN '3_6-24h'
      |            ELSE '4_1d+' END AS bucket,
      |  count(*) AS n_users, CAST(sum(lag_min) AS BIGINT) AS total_lag_min
      |FROM l GROUP BY 1
      |ORDER BY bucket ASC NULLS LAST""".stripMargin

  /** e13: RFM user segmentation — recency (days since the user's last
    * event, anchored to the corpus max day so the query is
    * deterministic), frequency (events), monetary (decimal-exact value
    * sum), classified against FIXED thresholds rather than global
    * ntile quantiles: threshold segmentation is one per-user aggregate
    * plus a per-row CASE (no global window — a global ntile would
    * serialize all users through one task at 100 TB, the exact shape
    * the plan audit forbids). The anchor is a one-row aggregate
    * broadcast against the per-user frame.
    */
  def e13RfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val anchor = ev.agg(max(to_date(col("ts"))).as("anchor_day"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(18, 4))).as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("anchor_day"), col("last_day")))
    val seg = concat(
      when(col("recency_days") <= 0, "R2").when(col("recency_days") <= 1, "R1")
        .otherwise("R0"),
      when(col("freq") >= 75, "F2").when(col("freq") >= 60, "F1").otherwise("F0"),
      when(col("monetary") >= 4000, "M2").when(col("monetary") >= 2800, "M1")
        .otherwise("M0"))
    perUser
      .groupBy(seg.as("segment"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq")).as("total_events"),
        sum(col("monetary")).cast("double").as("total_value"))
      .orderBy(col("segment").asc_nulls_last)
  }

  /** e14: activity streaks — per user, the longest run of CONSECUTIVE
    * active days (plus streak count and total active days), the
    * engagement metric behind retention dashboards. Gaps-and-islands:
    * collapse events to distinct (user, day) first — the fact table
    * reduces to ≤ users×days rows before any ordering — then
    * day_number − row_number() is constant exactly within a
    * consecutive run, so a per-user count per constant group measures
    * each streak. Integer date arithmetic only; the one window runs on
    * the collapsed frame, partitioned by a key that grows with the
    * data.
    */
  def e14ActiveStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc_nulls_last)
    days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"))
      .orderBy(col("user_id").asc_nulls_last)
  }

  val e14Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |g AS (
      |  SELECT user_id, day,
      |    datediff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day ASC NULLS LAST) AS grp
      |  FROM days),
      |s AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
      |SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks,
      |  CAST(sum(len) AS BIGINT) AS n_active_days
      |FROM s GROUP BY user_id
      |ORDER BY user_id ASC NULLS LAST""".stripMargin

  val e13Sql: String =
    """WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor_day FROM events),
      |u AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS freq,
      |    sum(CAST(value AS DECIMAL(18,4))) AS monetary
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT user_id, freq, monetary,
      |    datediff('day', last_day, anchor_day) AS recency_days
      |  FROM u CROSS JOIN a),
      |s AS (
      |  SELECT
      |    (CASE WHEN recency_days <= 0 THEN 'R2'
      |          WHEN recency_days <= 1 THEN 'R1' ELSE 'R0' END) ||
      |    (CASE WHEN freq >= 75 THEN 'F2'
      |          WHEN freq >= 60 THEN 'F1' ELSE 'F0' END) ||
      |    (CASE WHEN monetary >= 4000 THEN 'M2'
      |          WHEN monetary >= 2800 THEN 'M1' ELSE 'M0' END) AS segment,
      |    freq, monetary
      |  FROM r)
      |SELECT segment, count(*) AS n_users,
      |  CAST(sum(freq) AS BIGINT) AS total_events,
      |  CAST(sum(monetary) AS DOUBLE) AS total_value
      |FROM s GROUP BY segment
      |ORDER BY segment ASC NULLS LAST""".stripMargin

  /** e15: event-transition (Markov) matrix — the product-analytics
    * staple behind flow diagrams and next-step prediction: for every
    * consecutive event pair within a user's timeline, the transition
    * count and conditional probability P(to | from). One fact window
    * (per-user lead, key count grows with users) collapses to an
    * event-type² table — bounded by the type vocabulary, not the
    * data — whose row-probability window is collapsed-table-sized.
    * Counts are exact longs; each probability is a single IEEE
    * division, so the matrix is bit-identical across engines.
    */
  def e15TransitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    val wFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(wSeq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") / sum(col("n")).over(wFrom).cast("double"))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
      .orderBy(col("from_type").asc_nulls_last, col("to_type").asc_nulls_last)
  }

  val e15Sql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS next_type
      |  FROM events),
      |t AS (
      |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM t
      |ORDER BY from_type ASC NULLS LAST, to_type ASC NULLS LAST""".stripMargin

  /** e17: seasonality profile — the (day-of-week × hour-of-day) load
    * heat map behind capacity planning and anomaly baselines. One
    * two-phase aggregate to a FIXED 168-cell grid (map-side partials
    * collapse the fact before the shuffle regardless of corpus size),
    * then the grand total rides back as a 1-row broadcast for the
    * share column. Day-of-week is normalized to DuckDB's 0=Sunday
    * convention (Spark's `dayofweek` is 1-based) so both engines
    * bucket identically.
    */
  def e17Seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select((dayofweek(col("ts")) - lit(1)).as("dow"),
        hour(col("ts")).as("hr"), col("value"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    val total = cells.agg(sum(col("n")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hr"), col("n"), col("total_value"),
        (col("n").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy(col("dow").asc_nulls_last, col("hr").asc_nulls_last)
  }

  val e17Sql: String =
    """WITH cells AS (
      |  SELECT CAST(dayofweek(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
      |SELECT dow, hr, n, total_value,
      |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
      |FROM cells CROSS JOIN tot
      |ORDER BY dow ASC NULLS LAST, hr ASC NULLS LAST""".stripMargin

  /** e18: time-weighted average (TWAP) — each reading holds until the
    * user's next event that day, so the mean weights each value by its
    * holding duration; the metric behind "average position/price/load
    * over time" where plain AVG over-counts bursts. One lead window
    * partitioned by (user, day) — a key whose cardinality GROWS with
    * the data (the audit-safe window class) — then exact arithmetic
    * throughout: the fixture's values are 2-decimal money-like, so
    * value×duration products and their sums stay in DECIMAL (order-
    * independent across any partitioning); the one double division per
    * user-day happens after aggregation. Rows with no successor (last
    * event of the day) carry zero duration and drop out of both sums,
    * matching the right-open-interval convention.
    *
    * Numerics: the weighted sum runs ENTIRELY in int64 — values are
    * 2-decimal money, so `cents × dur_us` is an exact integer product
    * (≤ ~5e15 per interval; int64 headroom to ~1800 intervals-days per
    * user-day even at max values) and integer sums are exact at any
    * partitioning. The final `(Σ as double) / (Σ as double) / 100` is
    * a chain of individually-rounded IEEE ops that both engines
    * evaluate identically — unlike a wide-DECIMAL→double cast, which
    * DuckDB double-rounds (observed last-ulp mismatches).
    */
  def e18TimeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("dur_us",
        lead(unix_micros(col("ts").cast("timestamp")), 1).over(w) -
          unix_micros(col("ts").cast("timestamp")))
      .filter(col("dur_us").isNotNull && col("dur_us") > 0)
      .withColumn("cents",
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
      .groupBy(col("user_id"), col("day"))
      .agg(
        sum(col("cents") * col("dur_us")).as("wsum"),
        sum(col("dur_us")).as("tspan"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"), col("day"), col("n_intervals"),
        (col("wsum").cast("double") / col("tspan").cast("double") / lit(100.0))
          .as("twap"))
      .orderBy(col("user_id").asc_nulls_last, col("day").asc_nulls_last)
  }

  val e18Sql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST)
      |      - epoch_us(ts) AS dur_us
      |  FROM events)
      |SELECT user_id, day, count(*) AS n_intervals,
      |  CAST(CAST(sum(cents * dur_us) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(dur_us) AS BIGINT) AS DOUBLE) / 100.0 AS twap
      |FROM d WHERE dur_us IS NOT NULL AND dur_us > 0
      |GROUP BY user_id, day
      |ORDER BY user_id ASC NULLS LAST, day ASC NULLS LAST""".stripMargin

  /** e16: basket pair co-occurrence (market-basket association over
    * event types, basket = one user-day). The scale discipline is the
    * ORDER of collapse: the fact first collapses to DISTINCT
    * (user, day, type) — so the self-join that forms pairs runs over
    * baskets whose width is bounded by |event types|, Σ·basket² with
    * basket ≤ |types|, never events². Both sides of the pair join
    * arrive from the same distinct-collapse exchange (canonically
    * identical scan+shuffle → AQE reuses it), the per-type and total
    * basket counts are tiny broadcast/cross-joined stat frames, and
    * support/lift are fixed-shape IEEE expressions over exact counts
    * (the lift numerator multiplies as double, so there is no int64
    * overflow at any corpus size).
    */
  def e16BasketPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val baskets = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
    val pairs = baskets
      .select(col("user_id"), col("day"), col("event_type").as("type_a"))
      .join(baskets.select(col("user_id"), col("day"),
        col("event_type").as("type_b")), Seq("user_id", "day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("pair_baskets"))
    val typeCounts = baskets.groupBy(col("event_type")).agg(count(lit(1)).as("tb"))
    val total = baskets.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("ea"),
        col("tb").as("baskets_a"))), col("type_a") === col("ea"))
      .join(broadcast(typeCounts.select(col("event_type").as("eb"),
        col("tb").as("baskets_b"))), col("type_b") === col("eb"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("pair_baskets"),
        col("baskets_a"), col("baskets_b"),
        (col("pair_baskets").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        (col("pair_baskets").cast("double") * col("n_baskets").cast("double") /
          (col("baskets_a").cast("double") * col("baskets_b").cast("double")))
          .as("lift"))
      .orderBy(col("type_a").asc_nulls_last, col("type_b").asc_nulls_last)
  }

  val e16Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
      |pairs AS (
      |  SELECT a.event_type AS type_a, c.event_type AS type_b, count(*) AS pair_baskets
      |  FROM b a JOIN b c
      |    ON a.user_id = c.user_id AND a.day = c.day AND a.event_type < c.event_type
      |  GROUP BY 1, 2),
      |tc AS (SELECT event_type, count(*) AS tb FROM b GROUP BY 1),
      |tot AS (SELECT count(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b))
      |SELECT type_a, type_b, pair_baskets, a.tb AS baskets_a, c.tb AS baskets_b,
      |  CAST(pair_baskets AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
      |  CAST(pair_baskets AS DOUBLE) * CAST(n_baskets AS DOUBLE) /
      |    (CAST(a.tb AS DOUBLE) * CAST(c.tb AS DOUBLE)) AS lift
      |FROM pairs
      |JOIN tc a ON type_a = a.event_type
      |JOIN tc c ON type_b = c.event_type
      |CROSS JOIN tot
      |ORDER BY type_a ASC NULLS LAST, type_b ASC NULLS LAST""".stripMargin

  /** e19: ordered conversion funnel (view → click → purchase) — the
    * step-completion census e12's single-hop lag cannot express: each
    * step counts only users whose step-k event happens STRICTLY AFTER
    * their step-(k-1) completion time. The correlated "first X after
    * my first Y" decorrelates to a chain of per-user min-aggregates:
    * every stage is a type-filtered fact slice joined to the previous
    * stage's (user, ts) collapse — same user_id shuffle key at every
    * hop, so exchanges line up and each stage's input is one
    * user-sized table, never fact×fact. The final census is three
    * one-row aggregates cross-joined broadcast (scalar pattern);
    * conversion rates are single IEEE divisions.
    */
  def e19Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("step1_users"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("step2_users"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("step3_users"))))
      .select(col("step1_users"), col("step2_users"), col("step3_users"),
        (col("step2_users").cast("double") / col("step1_users").cast("double"))
          .as("conv_1_2"),
        (col("step3_users").cast("double") / col("step2_users").cast("double"))
          .as("conv_2_3"),
        (col("step3_users").cast("double") / col("step1_users").cast("double"))
          .as("conv_total"))
  }

  val e19Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(ts) AS t_click FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE event_type = 'click' AND ts > t_view GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(ts) AS t_purchase FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE event_type = 'purchase' AND ts > t_click GROUP BY e.user_id)
      |SELECT
      |  (SELECT count(*) FROM v) AS step1_users,
      |  (SELECT count(*) FROM c) AS step2_users,
      |  (SELECT count(*) FROM p) AS step3_users,
      |  CAST((SELECT count(*) FROM c) AS DOUBLE)
      |    / CAST((SELECT count(*) FROM v) AS DOUBLE) AS conv_1_2,
      |  CAST((SELECT count(*) FROM p) AS DOUBLE)
      |    / CAST((SELECT count(*) FROM c) AS DOUBLE) AS conv_2_3,
      |  CAST((SELECT count(*) FROM p) AS DOUBLE)
      |    / CAST((SELECT count(*) FROM v) AS DOUBLE) AS conv_total""".stripMargin

  /** e20: weekly retention cohorts — the product-analytics matrix:
    * users grouped by first-activity week (cohort), each later week's
    * active share of that cohort. Both engines truncate weeks to ISO
    * Monday and the offset division is exact (Monday−Monday is a
    * multiple of 7 days), so the matrix is bit-portable with no
    * calendar UDF. Scale: the fact collapses to distinct
    * (user, week) FIRST — everything downstream is user- or
    * cohort-sized; cohort sizes broadcast back onto the matrix.
    */
  def e20RetentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ua = Tables.events(spark, sfDir)
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts").cast("timestamp"))).as("week"))
      .distinct()
    val cohort = ua.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    ua.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / lit(7)).cast("int")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week").asc_nulls_last,
        col("week_offset").asc_nulls_last)
  }

  val e20Sql: String =
    """WITH ua AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, min(week) AS cohort_week FROM ua GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY 1)
      |SELECT c.cohort_week,
      |  CAST(date_diff('day', c.cohort_week, ua.week) / 7 AS INT) AS week_offset,
      |  count(*) AS n_active, cohort_size,
      |  CAST(count(*) AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      |FROM ua JOIN cohort c ON ua.user_id = c.user_id
      |JOIN sizes s ON c.cohort_week = s.cohort_week
      |GROUP BY c.cohort_week, week_offset, cohort_size
      |ORDER BY c.cohort_week ASC NULLS LAST, week_offset ASC NULLS LAST""".stripMargin

  /** e21: inter-arrival regularity (bot scoring) — automated clients
    * fire on near-fixed timers, so the squared coefficient of variation
    * of a user's inter-event gaps separates scripted traffic (CV² → 0)
    * from organic bursts (CV² ≈ 1 for Poisson arrivals). One lag window
    * per user (a key whose cardinality grows with the corpus), then a
    * per-user aggregate over integer microsecond gaps.
    *
    * Cross-engine arithmetic: gaps are exact int64 µs; the power sums
    * Σg and Σg² accumulate in DECIMAL(38,0) (g² ≤ ~7e24 for month-long
    * gaps — past int64, inside 38 digits; HUGEINT on the oracle side),
    * so CV² = (n·Σg² − (Σg)²) / (Σg)² is a single division of two
    * exactly-computed integers — bit-identical in both engines, no
    * variance-of-doubles accumulation order to disagree on.
    */
  def e21BotRegularity(spark: SparkSession, sfDir: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("g",
        unix_micros(col("ts").cast("timestamp")) -
          lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
      .filter(col("g").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("g").cast(dec38)).as("sg"),
        sum(col("g").cast(dec38) * col("g")).as("sg2"))
      .filter(col("n_gaps") >= 20 && col("sg") > 0)
      .select(
        col("user_id"), col("n_gaps"),
        (col("sg").cast("double") / col("n_gaps").cast("double") / lit(1000000.0))
          .as("mean_gap_s"),
        ((col("n_gaps").cast(dec38) * col("sg2") - col("sg") * col("sg"))
          .cast("double") / (col("sg") * col("sg")).cast("double")).as("cv2"))
      .withColumn("is_regular", when(col("cv2") < 0.25, lit(1)).otherwise(lit(0)))
      .orderBy(col("user_id").asc_nulls_last)
  }

  val e21Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST) AS g
      |  FROM events),
      |s AS (
      |  SELECT user_id, count(*) AS n_gaps,
      |    sum(CAST(g AS HUGEINT)) AS sg,
      |    sum(CAST(g AS HUGEINT) * g) AS sg2
      |  FROM g WHERE g IS NOT NULL
      |  GROUP BY user_id HAVING count(*) >= 20 AND sum(CAST(g AS HUGEINT)) > 0)
      |SELECT user_id, n_gaps,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) / 1000000.0 AS mean_gap_s,
      |  CAST(n_gaps * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE) AS cv2,
      |  CASE WHEN CAST(n_gaps * sg2 - sg * sg AS DOUBLE) / CAST(sg * sg AS DOUBLE)
      |    < 0.25 THEN 1 ELSE 0 END AS is_regular
      |FROM s ORDER BY user_id ASC NULLS LAST""".stripMargin
}
