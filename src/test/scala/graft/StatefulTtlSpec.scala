package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.streaming.{StatefulFunnel, StatefulRetention, StreamingOps}
import java.nio.file.{Files, Path, StandardCopyOption}

/** Dormant-key event-time TTL for the stateful streaming operators
  * (VERDICT r10 "What's missing" #2): per-user state must be EVICTED
  * once the watermark passes the dormancy horizon, results must be
  * UNCHANGED when the horizon exceeds the data span, and a
  * post-eviction return must follow the documented fresh-start
  * contract — under both state-store providers.
  *
  * The harness drives a monitored directory one file per micro-batch
  * (pinned mtimes → deterministic batch order, the WatermarkSpec
  * recipe). Eviction is proven BEHAVIORALLY: with state intact a
  * returning user continues their funnel/cohort; with state evicted
  * the same event starts a fresh one — the two outcomes differ only
  * through the TTL.
  */
class StatefulTtlSpec extends AnyFunSuite with SparkSuite {
  private val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC (a Monday)
  private def atHourNs(h: Long): Long = (baseUs + h * 3600000000L) * 1000L
  private def atDayNs(d: Long): Long = (baseUs + d * 86400000000L) * 1000L
  private val Hour = 3600L * 1000
  private val Day = 24L * Hour

  /** One parquet FILE of (event_id, tsNanos, user_id, type) rows with a
    * pinned mtime — one micro-batch under maxFilesPerTrigger=1.
    */
  private def writeBatchFile(rows: Seq[(Long, Long, Long, String)],
      watched: Path, name: String, mtimeMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val staging = Files.createTempDirectory("graft_ttl_stage")
    val df = spark.createDataFrame(
      rows.map { case (id, ts, uid, et) => Row(id, ts, uid, et, 1.0, "{}") }
        .asJava,
      StreamingOps.eventsSchema)
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no part file written"))
    val target = watched.resolve(name)
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    assert(target.toFile.setLastModified(mtimeMs))
  }

  /** Four batches around a 24h funnel TTL: user 1 converts view→click,
    * goes dormant, the watermark passes their horizon (batch 3 carries
    * only user 3), and their purchase arrives AFTER eviction.
    */
  private def driveFunnel(ttlMs: Long, queryName: String): Seq[Row] = {
    val watched = Files.createTempDirectory("graft_ttl_funnel")
    writeBatchFile(Seq((1L, atHourNs(0), 1L, "view"),
      (2L, atHourNs(1), 1L, "click"),
      (3L, atHourNs(0), 2L, "view")), watched, "b1.parquet", 1000000L)
    // watermark after this batch: h59 — past u1's h1+24h horizon
    writeBatchFile(Seq((4L, atHourNs(60), 3L, "view")), watched,
      "b2.parquet", 2000000L)
    // u1 has NO data here, so the engine fires their timeout this batch
    writeBatchFile(Seq((5L, atHourNs(61), 3L, "view")), watched,
      "b3.parquet", 3000000L)
    // post-eviction return: with state intact this purchase would close
    // the funnel; evicted, it starts a fresh (view-less) one
    writeBatchFile(Seq((6L, atHourNs(62), 1L, "purchase")), watched,
      "b4.parquet", 4000000L)
    val q = StatefulFunnel.funnelOf(
      StreamingOps.eventsStream(spark, watched.toString,
        maxFilesPerTrigger = Some(1)), dormantTtlMs = ttlMs)
      .writeStream.outputMode("update").format("memory")
      .queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName).collect().toSeq
  }

  test("funnel: dormant user evicted at the horizon; post-eviction event starts fresh") {
    val rows = driveFunnel(24 * Hour, "graft_ttl_funnel_short")
    val u1 = rows.filter(_.getLong(0) == 1L)
    // the final timed-out snapshot re-emit plus the fresh restart row
    assert(u1.exists(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)),
      s"no fresh-restart row — state survived the TTL horizon: $u1")
    // the evicted funnel can never have closed: the purchase landed on
    // an empty state with no view/click to gate on
    assert(u1.forall(_.isNullAt(3)), s"purchase closed an evicted funnel: $u1")
  }

  test("funnel: horizon beyond the data span leaves results unchanged") {
    val rows = driveFunnel(365 * Day, "graft_ttl_funnel_long")
    val u1 = rows.filter(_.getLong(0) == 1L)
    // state intact: the same purchase closes the funnel
    assert(u1.exists(r => !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)),
      s"funnel did not close with state intact: $u1")
    assert(!u1.exists(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)),
      s"fresh-restart row under a horizon wider than the data: $u1")
  }

  /** Retention twin: user 1 cohorts at week 0, goes dormant past a 14d
    * TTL, returns at day 62. Evicted → re-cohorts at the return week
    * (a second offset-0 row); intact → offset 8 of the original cohort.
    */
  private def driveRetention(ttlMs: Long, queryName: String): Seq[(String, Int)] = {
    val watched = Files.createTempDirectory("graft_ttl_ret")
    writeBatchFile(Seq((1L, atDayNs(0), 1L, "view")), watched,
      "b1.parquet", 1000000L)
    writeBatchFile(Seq((2L, atDayNs(60), 3L, "view")), watched,
      "b2.parquet", 2000000L)
    writeBatchFile(Seq((3L, atDayNs(61), 3L, "view")), watched,
      "b3.parquet", 3000000L) // u1's timeout fires here
    writeBatchFile(Seq((4L, atDayNs(62), 1L, "view")), watched,
      "b4.parquet", 4000000L)
    val q = StatefulRetention.incrementsOf(
      StreamingOps.eventsStream(spark, watched.toString,
        maxFilesPerTrigger = Some(1)), dormantTtlMs = ttlMs)
      .writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(queryName).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1))).toSeq
  }

  private def checkRetentionEvicted(queryName: String): Unit = {
    val incs = driveRetention(14 * Day, queryName)
    // days 60/61/62 share the Monday 2024-02-29+... = 2024-03-01 week;
    // compute it the same way the operator does
    val wk2 = java.time.LocalDate.ofEpochDay(
      StatefulRetention.mondayOf(19723 + 60).toLong).toString
    assert(incs.sorted == Seq(("2024-01-01", 0), (wk2, 0), (wk2, 0)).sorted,
      s"expected eviction + re-cohort at $wk2, got $incs")
  }

  test("retention: dormant user evicted; return re-cohorts at the return week") {
    checkRetentionEvicted("graft_ttl_ret_short")
  }

  test("retention: eviction contract holds under the RocksDB state store") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try checkRetentionEvicted("graft_ttl_ret_short_rocks")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("retention: horizon beyond the data span leaves results unchanged") {
    val incs = driveRetention(365 * Day, "graft_ttl_ret_long")
    val wk2 = java.time.LocalDate.ofEpochDay(
      StatefulRetention.mondayOf(19723 + 60).toLong).toString
    // state intact: the day-62 return is offset 8 of the ORIGINAL cohort
    assert(incs.sorted == Seq(("2024-01-01", 0), (wk2, 0), ("2024-01-01", 8)).sorted,
      s"expected continued cohort (offset 8), got $incs")
  }
}
