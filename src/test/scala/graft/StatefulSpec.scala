package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{EventOps, Tables}
import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{Ev, SessionState}
import graft.functions.WeightedAvg

/** Stateful streaming sessionization + typed Aggregator semantics. */
class StatefulSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("session state machine: gap splits, accumulation, carryover") {
    val gap = StatefulSessions.GapUs
    def tsOf(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val evs = Seq(Ev(1, tsOf(0), 1.0), Ev(1, tsOf(gap), 2.0), Ev(1, tsOf(2 * gap + 1), 4.0))
    val (closed, open) = StatefulSessions.advance(evs, None)
    // first two chain (gap not exceeded), third starts a new session
    assert(closed == Seq(StatefulSessions.SessionOut(1, 0, gap, 2, 3.0)))
    assert(open.contains(SessionState(2 * gap + 1, 2 * gap + 1, 1, 4.0)))
    // resuming from prior state extends it
    val (closed2, open2) =
      StatefulSessions.advance(Seq(Ev(1, tsOf(2 * gap + 2), 1.0)), open)
    assert(closed2.isEmpty && open2.get.n == 2)
  }

  test("streaming stateful sessions agree with the batch gap formulation") {
    checkSessionsMatchBatch()
  }

  private def checkSessionsMatchBatch(): Unit = {
    val streamed = graft.streaming.StreamingOps.drain(
      StatefulSessions.sessionStream(spark, sf), "append", "graft_stateful_sessions")
      .select(col("user_id"), col("session_start_us"), col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.nonEmpty)
    val batch = EventOps.e03Sessions(spark, sf)
      .select(col("user_id"), unix_micros(col("session_start").cast("timestamp")).as("sus"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // every CLOSED streaming session must match the batch session with
    // the same (user, start); open tail sessions are absent by design
    streamed.foreach { case (k, (n, total)) =>
      val (bn, btotal) = batch(k)
      assert(n == bn, s"$k events")
      assert(math.abs(total - btotal) < 1e-9, s"$k value")
    }
  }

  test("streaming session_window agrees with the batch session_window (e06)") {
    val streamed = graft.streaming.StreamingOps.drain(
      graft.streaming.StreamingOps.sessionWindowStream(spark, sf),
      "append", "graft_stream_session")
      .select(col("user_id"), unix_micros(col("session_start")).as("sus"),
        unix_micros(col("session_end_bound")).as("eus"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(streamed.nonEmpty, "no sessions closed below the watermark")
    val batch = EventOps.e06SessionWindow(spark, sf)
      .select(col("user_id"),
        unix_micros(col("session_start").cast("timestamp")).as("sus"),
        unix_micros(col("session_end_bound").cast("timestamp")).as("eus"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // append mode only emits watermark-closed sessions: every emitted
    // session must match the batch session with the same (user, start)
    streamed.foreach { case (k, (eus, n, total)) =>
      val (beus, bn, btotal) = batch(k)
      assert(eus == beus, s"$k end bound")
      assert(n == bn, s"$k events")
      assert(math.abs(total - btotal) < 1e-9, s"$k value")
    }
  }

  test("stream-stream interval join matches the batch join") {
    // normalize both sides to epoch micros: the batch side reads
    // TIMESTAMP_NTZ (LocalDateTime rows), the stream side TIMESTAMP
    def micros(df: org.apache.spark.sql.DataFrame) = df.select(
      col("user_id"), unix_micros(col("v_ts").cast("timestamp")),
      unix_micros(col("c_ts").cast("timestamp")),
      col("v_event"), col("c_event"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val streamed = micros(graft.streaming.StreamingOps.drain(
      graft.streaming.StreamingOps.streamStreamJoin(spark, sf),
      "append", "graft_stream_ssjoin"))
    val batch = micros(graft.streaming.StreamingOps.viewClickJoinBatch(spark, sf))
    assert(streamed.nonEmpty, "stream-stream join emitted nothing")
    // inner interval join with both watermarks: everything emitted must
    // be a true batch pair, and with the finite fixture fully replayed
    // the stream should emit the complete batch result
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
  }

  test("stream-stream LEFT OUTER join: matched = batch inner; null-emission bounded by the final watermark") {
    val out = graft.streaming.StreamingOps.drain(
      graft.streaming.StreamingOps.streamStreamLeftJoin(spark, sf),
      "append", "graft_stream_ssljoin")
      .select(col("user_id"), unix_micros(col("v_ts").cast("timestamp")).as("v_us"),
        unix_micros(col("c_ts").cast("timestamp")).as("c_us"),
        col("v_event"), col("c_event"))
      .collect()
    val matched = out.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val nulls = out.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // matched side must be EXACTLY the batch inner interval join
    val batchInner = graft.streaming.StreamingOps.viewClickJoinBatch(spark, sf)
      .select(col("user_id"), unix_micros(col("v_ts").cast("timestamp")),
        unix_micros(col("c_ts").cast("timestamp")), col("v_event"), col("c_event"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(matched == batchInner, "matched rows must equal the batch inner join")
    // the batch-unmatched views, and the final-watermark bound
    val ev = graft.ops.Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("v_us"),
        col("event_id").as("v_event"))
    val allViews = views.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val matchedViews = matched.map(t => (t._1, t._2, t._4))
    val unmatchedBatch = allViews -- matchedViews
    // 1) soundness: every null emission is a genuinely unmatched view
    assert(nulls.subsetOf(unmatchedBatch),
      s"null rows must be unmatched views; bogus=${(nulls -- unmatchedBatch).take(2)}")
    // 2) no duplicates: a view appears at most once among null rows
    assert(nulls.size == out.count(_.isNullAt(2)))
    // 3) completeness under the final watermark: global wm =
    //    min(max view ts - 1h, max click ts - 2h); every unmatched
    //    view whose 30-min window closed strictly below it MUST have
    //    been emitted (the engine can prove no click will arrive)
    val maxV = views.agg(max(col("v_us"))).head.getLong(0)
    val maxC = ev.filter(col("event_type") === "click")
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head.getLong(0)
    val wm = math.min(maxV - 3600L * 1000000, maxC - 7200L * 1000000)
    val mustEmit = unmatchedBatch.filter(_._2 + 1800L * 1000000 < wm)
    assert(mustEmit.subsetOf(nulls),
      s"views with provably-closed windows withheld: ${(mustEmit -- nulls).take(2)} " +
        s"(emitted ${nulls.size} of ${unmatchedBatch.size} unmatched)")
  }

  test("anomaly state machine: completeness gate, trailing-30 window, eviction") {
    import graft.streaming.StatefulAnomaly
    import graft.streaming.StatefulAnomaly.{AnomState, Ev => AEv}
    val b = StatefulAnomaly.BucketUs
    def tsOf(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    // 32 buckets: counts alternate 1/2 (variance in the trailing
    // window), bucket 31 is a spike of 40
    val evs = (0 until 31).flatMap(i =>
      Seq.fill(1 + i % 2)(AEv("x", tsOf(i * b)))) ++
      (0 until 40).map(_ => AEv("x", tsOf(31 * b)))
    // watermark midway: only buckets 0..29 complete → no verdicts yet
    // (bucket 30 is the first with 30 predecessors but is incomplete)
    val (out1, s1) = StatefulAnomaly.advance(evs,
      AnomState(Map.empty, Long.MinValue, 0L), wmUs = 30 * b)
    assert(out1.isEmpty && s1.emittedThrough == 29 * b)
    // watermark past everything: bucket 30 (n=1 vs mean 1.5, std 0.5 →
    // z=-1, no flag) and the spike bucket 31 (n=40 → z=77, flagged)
    val (out2, s2) = StatefulAnomaly.advance(Nil, s1, wmUs = 40 * b)
    assert(out2.map(_.ws_us) == Seq(30 * b, 31 * b), out2)
    assert(out2.map(_.is_anomaly) == Seq(0L, 1L), out2)
    assert(out2.last.n == 40 && out2.last.z > 50.0)
    // eviction keeps exactly the trailing 30 + counts the dropped
    assert(s2.counts.size == 30 && s2.dropped == 2)
  }

  test("streaming stateful anomaly == batch e09 on the complete-bucket prefix") {
    checkAnomalyMatchesBatch()
  }

  private def checkAnomalyMatchesBatch(): Unit = {
    import graft.streaming.StatefulAnomaly
    val streamed = graft.streaming.StreamingOps.drain(
      StatefulAnomaly.anomalyStream(spark, sf), "append", "graft_stateful_anomaly")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    assert(streamed.nonEmpty, "anomaly stream emitted nothing")
    // the final watermark: max event time minus the 1h delay; every
    // bucket ending at or before it must have been emitted
    val wmUs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts").cast("timestamp")))).head().getLong(0) -
      3600L * 1000000L
    val batch = EventOps.e09Anomaly(spark, sf)
      .select(unix_micros(col("ws").cast("timestamp")).as("ws_us"),
        col("event_type"), col("n"), col("z"), col("is_anomaly"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .filter(_._1 + StatefulAnomaly.BucketUs <= wmUs)
      .map { case (ws, et, n, z, a) => (et, ws, n, z, a) }
      .toSet
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} " +
        s"missing=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
  }

  /** Heap state is the first casualty on a real cluster — production
    * stateful queries run RocksDB-backed state. Both
    * flatMapGroupsWithState twins must produce batch-identical output
    * under the RocksDB provider too: state (de)serialization round-
    * trips through the store's binary format instead of living as JVM
    * objects, which is exactly where encoder mismatches would surface.
    */
  test("stateful sessions + anomaly match batch under the RocksDB state store") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      checkSessionsMatchBatch()
      checkAnomalyMatchesBatch()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch upsert sink: matches batch twin and replays idempotently") {
    import graft.streaming.StreamingOps
    val base = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val target = s"$base/target"
    val got = StreamingOps.runForeachBatchUpsert(spark, sf, target, s"$base/ckpt")
    // batch twin: same 6-hour tumbling aggregate over the same fixture
    val want = Tables.events(spark, sf)
      .groupBy(col("event_type"), window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total"))
      .select(col("event_type"), col("w.start").as("ws"), col("n"), col("total"))
    // the stream's ws lands as session-TZ timestamp, the batch twin's
    // as timestamp_ntz (both UTC here): normalize before comparing
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("ws").cast("timestamp_ntz").as("ws"),
        col("n"), col("total"))
      .orderBy("event_type", "ws").collect().map(_.toSeq).toSeq
    assert(canon(got) == canon(want))
    // idempotence: re-applying the same batch (a sink retry) must leave
    // the target byte-identical in content — dynamic overwrite rewrites
    // the same partitions with the same rows
    StreamingOps.upsertBatch(want, target)
    assert(canon(spark.read.parquet(target)) == canon(want))
    // and an update touching ONE partition must leave the others intact
    StreamingOps.upsertBatch(want.filter(col("event_type") === "click")
      .withColumn("n", col("n") + 1), target)
    val after = spark.read.parquet(target)
    assert(canon(after.filter(col("event_type") =!= "click")) ==
      canon(want.filter(col("event_type") =!= "click")))
    assert(canon(after.filter(col("event_type") === "click")) ==
      canon(want.filter(col("event_type") === "click")
        .withColumn("n", col("n") + 1)))
  }

  /** The data-loss class the upsert sink must exclude: update output
    * mode emits only the (type, window) rows a micro-batch changed, so
    * consecutive batches carry DISJOINT window sets. If the dynamic-
    * overwrite unit were coarser than the update key (event_type
    * alone), batch 2's write would replace the whole type partition
    * with just batch 2's windows — silently deleting batch 1's. Drive
    * two real micro-batches (maxFilesPerTrigger=1) whose windows don't
    * overlap and assert every window survives.
    */
  test("foreachBatch upsert: earlier windows survive later micro-batches") {
    import graft.streaming.StreamingOps
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_fb_mb")
    val watched = Files.createDirectory(base.resolve("watch"))
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
    def atHour(h: Long): Long = (baseUs + h * 3600000000L) * 1000L // nanos
    def writeFile(rows: Seq[(Long, Long, String)], name: String, mtimeMs: Long): Unit = {
      val staging = Files.createTempDirectory("graft_fb_stage")
      val df = spark.createDataFrame(
        rows.map { case (id, ts, et) =>
          org.apache.spark.sql.Row(id, ts, id, et, 1.0, "{}")
        }.asJava,
        StreamingOps.eventsSchema)
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file written"))
      val target = watched.resolve(name)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      assert(target.toFile.setLastModified(mtimeMs))
    }
    // batch 1: windows W[00,06) for both types
    writeFile(Seq((1L, atHour(1), "view"), (2L, atHour(2), "view"),
      (3L, atHour(1), "click")), "b1.parquet", 1000000L)
    // batch 2: window W[06,12) for view only — update mode emits ONLY
    // this window; the sink must not clobber batch 1's view window
    writeFile(Seq((4L, atHour(7), "view")), "b2.parquet", 2000000L)

    val got = StreamingOps.runForeachBatchUpsertFromDir(spark,
      watched.toString, s"$base/target", s"$base/ckpt")
      .select(col("event_type"),
        unix_micros(col("ws").cast("timestamp")).as("wus"), col("n"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1) - baseUs) / 3600000000L, r.getLong(2)))
      .toSet
    assert(got == Set(("view", 0L, 2L), ("click", 0L, 1L), ("view", 6L, 1L)),
      s"got $got")
  }

  /** VERDICT r7 #9: funnel state machine — pure-transition edges the
    * stream path can't isolate: out-of-order fold, strict-inequality
    * stage gates, cross-batch carryover.
    */
  test("funnel state machine: ordering, strict gates, carryover") {
    import graft.streaming.StatefulFunnel
    import graft.streaming.StatefulFunnel.{FEv, FunnelState}
    def ev(t: Long, ty: String) = FEv(7L, new java.sql.Timestamp(t), ty)
    // out-of-order arrival within a batch: the earlier view wins, the
    // click between the two views qualifies against the EARLier one
    val s1 = StatefulFunnel.advance(
      Seq(ev(3000, "view"), ev(2000, "click"), ev(1000, "view")), None)
    assert(s1 == FunnelState(Some(1000000L), Some(2000000L), None), s1)
    // strict gate: click at exactly t_view does not advance
    val s2 = StatefulFunnel.advance(
      Seq(ev(1000, "view"), ev(1000, "click")), None)
    assert(s2 == FunnelState(Some(1000000L), None, None), s2)
    // carryover: purchase in a later batch closes the chain; a second
    // earlier purchase cannot retro-lower a set stage
    val s3 = StatefulFunnel.advance(Seq(ev(5000, "purchase")), Some(s1))
    assert(s3 == FunnelState(Some(1000000L), Some(2000000L), Some(5000000L)), s3)
    val s4 = StatefulFunnel.advance(Seq(ev(4000, "purchase")), Some(s3))
    assert(s4 == s3, s4)
  }

  test("streaming funnel == batch e19 on the complete prefix") {
    import graft.streaming.StatefulFunnel
    val latest = graft.streaming.StreamingOps.drain(
      StatefulFunnel.funnelStream(spark, sf), "update", "graft_stateful_funnel")
      .groupBy(col("user_id"))
      .agg(max(col("t_view_us")).as("tv"), max(col("t_click_us")).as("tc"),
        max(col("t_purchase_us")).as("tp"))
      .agg(count(col("tv")).as("s1"), count(col("tc")).as("s2"),
        count(col("tp")).as("s3"))
      .collect()(0)
    val batch = EventOps.e19Funnel(spark, sf).collect()(0)
    assert((latest.getLong(0), latest.getLong(1), latest.getLong(2)) ==
      (batch.getLong(0), batch.getLong(1), batch.getLong(2)),
      s"streaming funnel ${latest} != batch ${batch}")
  }

  test("WeightedAvg aggregator matches sum(x*w)/sum(w)") {
    import spark.implicits._
    val ds = Tables.lineitem(spark, sf)
      .select(col("l_extendedprice"), col("l_quantity")).as[(Double, Double)]
    val typed = ds.select(WeightedAvg.toColumn).head()
    val ref = Tables.lineitem(spark, sf)
      .agg((sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity"))))
      .head().getDouble(0)
    assert(math.abs(typed - ref) < 1e-6 * math.abs(ref))
  }
}
