package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.EventOps
import graft.streaming.{StatefulRetention, StreamingOps}
import graft.streaming.StatefulRetention.RetState

/** Streaming retention cohorts: pure-transition edges plus
  * streaming == batch e20 equivalence on the fixture.
  */
class StatefulRetentionSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("mondayOf truncates to ISO Monday") {
    // 2024-01-01 is a Monday: epoch day 19723
    assert(StatefulRetention.mondayOf(19723) == 19723)
    assert(StatefulRetention.mondayOf(19724) == 19723) // Tue
    assert(StatefulRetention.mondayOf(19729) == 19723) // Sun
    assert(StatefulRetention.mondayOf(19730) == 19730) // next Mon
    // 1970-01-01 was a Thursday -> its Monday is 1969-12-29 (day -3)
    assert(StatefulRetention.mondayOf(0) == -3)
  }

  test("retention state machine: cohort set-once, dedup, straggler drop") {
    // first batch: cohort = min week seen, offsets 0 and 2 emitted sorted
    val (s1, e1) = StatefulRetention.advance(Seq(114, 100, 100), None)
    assert(s1 == RetState(100, Set(0, 2)) && e1 == Seq(0, 2))
    // second batch: already-emitted offset 2 suppressed, offset 1 fresh
    val (s2, e2) = StatefulRetention.advance(Seq(114, 107), Some(s1))
    assert(s2 == RetState(100, Set(0, 1, 2)) && e2 == Seq(1))
    // straggler EARLIER than the established cohort is dropped, not
    // emitted as a negative offset, and does not re-cohort
    val (s3, e3) = StatefulRetention.advance(Seq(93), Some(s2))
    assert(s3.cohortDays == 100 && e3.isEmpty)
    // empty batch is a no-op
    val (s4, e4) = StatefulRetention.advance(Nil, Some(s3))
    assert(s4 == s3 && e4.isEmpty)
  }

  test("streaming retention matrix agrees with batch e20") {
    checkMatchesBatch("graft_stateful_retention")
  }

  /** Production stateful queries run RocksDB-backed state; the cohort
    * state must round-trip the store's binary format identically.
    */
  test("streaming retention matches batch under the RocksDB state store") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try checkMatchesBatch("graft_stateful_retention_rocks")
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch dynamic-partition upsert sink matches batch e20") {
    val base = java.nio.file.Files.createTempDirectory("graft_ret_upsert")
    val streamed = StatefulRetention.runForeachBatchUpsert(
      spark, sf, s"$base/target", s"$base/ckpt")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val batch = EventOps.e20RetentionCohorts(spark, sf)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(streamed == batch,
      s"missing=${(batch.keySet -- streamed.keySet).take(3)} " +
        s"extra=${(streamed.keySet -- batch.keySet).take(3)}")
  }

  private def checkMatchesBatch(queryName: String): Unit = {
    val streamed = StatefulRetention.withRetention(
      StatefulRetention.withLateRowCheckDisabled(spark)(StreamingOps.drain(
        StatefulRetention.retentionStream(spark, sf), "complete", queryName)))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(streamed.nonEmpty)
    val batch = EventOps.e20RetentionCohorts(spark, sf)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(streamed.keySet == batch.keySet,
      s"matrix keys differ: only-stream=${streamed.keySet -- batch.keySet} " +
        s"only-batch=${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (k, (n, size, ret)) =>
      val (bn, bsize, bret) = batch(k)
      assert(n == bn && size == bsize, s"$k counts: got ($n,$size) want ($bn,$bsize)")
      assert(math.abs(ret - bret) < 1e-12, s"$k retention")
    }
  }
}
