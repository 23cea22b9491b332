package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.Tables
import graft.streaming.StreamingOps
import java.nio.file.{Files, Path, StandardCopyOption}

/** The dual-unit event-time CONTRACT (VERDICT r10 next-round #3): the
  * events fixture has shipped `ts` in two physical shapes —
  * TIMESTAMP(NANOS) readable only as a raw long, and TIMESTAMP(MICROS)
  * arriving as a native timestamp. This suite writes the SAME events
  * in BOTH units and asserts `Tables.events` (batch) and
  * `StreamingOps.eventsStream` (streaming) produce bit-identical
  * event times and identical windowed aggregates over both — plus the
  * `tsTypeOverride` pin for a stream started over an EMPTY directory
  * that legacy files will land in. Coverage of both normalization
  * arms no longer depends on which other suites happen to synthesize
  * legacy files.
  */
class EventTimeUnitsSpec extends AnyFunSuite with SparkSuite {
  private val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
  // sub-second micros exercise precision below the second AND the
  // nanos→micros division; hours spread rows across two 6h windows
  private val eventsUs: Seq[(Long, Long, Long, String, Double)] =
    Seq(
      (1L, baseUs + 123456L, 10L, "view", 1.5),
      (2L, baseUs + 1L * 3600000000L + 999999L, 10L, "click", 2.0),
      (3L, baseUs + 5L * 3600000000L + 500000L, 11L, "view", 0.5),
      (4L, baseUs + 7L * 3600000000L + 1L, 11L, "purchase", 9.75),
      (5L, baseUs + 8L * 3600000000L, 12L, "view", 3.25))

  /** The same events materialized in the requested physical unit, as a
    * single `events.parquet` FILE inside a fresh directory.
    */
  private def materialize(legacyNanos: Boolean): Path = {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_units")
    val legacy = spark.createDataFrame(
      eventsUs.map { case (id, us, uid, et, v) =>
        Row(id, us * 1000L, uid, et, v, "{}")
      }.asJava,
      StreamingOps.eventsSchema)
    val df =
      if (legacyNanos) legacy
      else legacy.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    val staging = Files.createTempDirectory("graft_units_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no part file written"))
    Files.move(part, dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  private def batchTimes(dir: Path): Seq[(Long, Long)] =
    Tables.events(spark, dir.toString)
      .select(col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("batch: both physical units decode to bit-identical event times") {
    val legacy = batchTimes(materialize(legacyNanos = true))
    val micros = batchTimes(materialize(legacyNanos = false))
    val expected = eventsUs.map(e => (e._1, e._2)).sortBy(_._1)
    assert(legacy == expected, s"legacy arm skewed: $legacy")
    assert(micros == expected, s"micros arm skewed: $micros")
  }

  private def streamedWindows(dir: Path, queryName: String): Map[(Long, String), (Long, Double)] =
    StreamingOps.drain(StreamingOps.tumblingStream(spark, dir.toString),
      "complete", queryName)
      .select(unix_micros(col("ws").cast("timestamp")).as("wus"),
        col("event_type"), col("n"), col("total"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  test("streaming: both physical units produce identical windowed aggregates") {
    val legacy = streamedWindows(materialize(legacyNanos = true),
      "graft_units_legacy")
    val micros = streamedWindows(materialize(legacyNanos = false),
      "graft_units_micros")
    assert(legacy.nonEmpty && legacy == micros,
      s"arms diverge: legacy=$legacy micros=$micros")
    // and the windows are REAL 2024 event time, not a 1970 collapse
    // from dividing native micros by 1000
    assert(legacy.keys.forall(_._1 >= baseUs - 6L * 3600000000L),
      s"windows collapsed toward epoch: ${legacy.keys}")
  }

  test("empty-dir stream start: tsTypeOverride pins the legacy schema before files exist") {
    val watched = Files.createTempDirectory("graft_units_override")
    // at start the dir is EMPTY — the footer peek would fall back to
    // micros, silently skewing the legacy files that arrive later; the
    // override pins the long arm up front
    val q = StreamingOps.eventsStream(spark, watched.toString,
      tsTypeOverride = Some(LongType))
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_units_override").start()
    try {
      val src = materialize(legacyNanos = true)
      Files.move(src.resolve("events.parquet"),
        watched.resolve("events.parquet"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_units_override").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == eventsUs.map(e => (e._1, e._2)).sortBy(_._1),
      s"override arm skewed: $got")
  }
}
