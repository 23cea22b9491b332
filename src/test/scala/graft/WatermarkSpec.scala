package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** The watermark late-data contract, proven deterministically.
  *
  * Every other streaming test here feeds the fixture as ONE file =
  * one micro-batch, so the watermark never advances mid-stream and
  * its semantics are never exercised. This spec constructs a
  * two-micro-batch history (maxFilesPerTrigger=1 + explicit file
  * modification times) where batch 1 advances the watermark past a
  * window's end and batch 2 then delivers a row INTO that closed
  * window:
  *
  *  - the late row must be DROPPED — the closed window's emitted
  *    count never retro-updates (this is what lets the store evict
  *    the window's state: finite state on an unbounded stream);
  *  - windows the watermark never passes must be WITHHELD — append
  *    mode emits no partial results;
  *  - a batch control over the same rows shows the difference is
  *    exactly the late row, so the drop is the watermark's doing.
  */
class WatermarkSpec extends AnyFunSuite with SparkSuite {
  private val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
  private def atMin(m: Long): Long = (baseUs + m * 60000000L) * 1000L // nanos

  /** Write one parquet FILE (not directory) of events-schema rows into
    * the watched dir, with a pinned modification time so the file
    * source's oldest-first ordering is deterministic.
    */
  private def writeBatchFile(rows: Seq[(Long, Long)], watched: Path,
      name: String, mtimeMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val staging = Files.createTempDirectory("graft_wm_stage")
    val df = spark.createDataFrame(
      rows.map { case (id, tsNanos) =>
        Row(id, tsNanos, id, "view", 1.0, "{}")
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

  test("late rows into watermark-closed windows are dropped; open windows withheld") {
    val watched = Files.createTempDirectory("graft_wm_watch")
    // batch 1: two rows in W[00:00,00:10), one in W[00:10,00:20), and a
    // row at 00:30 that advances the watermark to 00:25 — closing both
    writeBatchFile(Seq((1L, atMin(1)), (2L, atMin(3)), (3L, atMin(12)),
      (4L, atMin(30))), watched, "b1.parquet", 1000000L)
    // batch 2: on-time row; W0/W1 state is evicted at THIS batch's
    // close. (Measured Spark nuance: a late row arriving in the same
    // micro-batch whose close evicts its window still merges — the
    // drop guarantee is one-sided, "data later than the threshold will
    // START getting dropped" — so the late probe must arrive a batch
    // after the eviction to test the steady-state contract.)
    writeBatchFile(Seq((7L, atMin(32))), watched, "b2.parquet", 2000000L)
    // batch 3: a LATE row at 00:05 (window evicted at watermark 00:25)
    // and a row at 00:50 that advances the watermark to 00:45 — closing
    // W[00:30,00:40) but never its own W[00:50,01:00)
    writeBatchFile(Seq((5L, atMin(5)), (6L, atMin(50))), watched,
      "b3.parquet", 3000000L)

    val q = StreamingOps.lateDataTumblingStream(spark, watched.toString)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_wm_sink")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // one file per trigger: the two files must NOT have collapsed into
    // a single batch, or the watermark never advanced between them and
    // the test proves nothing
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "expected the three files to arrive in separate micro-batches")

    val got = spark.table("graft_wm_sink")
      .select(unix_micros(col("ws").cast("timestamp")).as("wus"), col("n"))
      .collect()
      .map(r => ((r.getLong(0) - baseUs) / 60000000L, r.getLong(1)))
      .toSet
    // W0 counts 2 — NOT 3: the late row (id 5) was dropped, not merged
    // (and not re-emitted as a spurious second W0 row, which is what
    // append-mode correctness is really protecting).
    // W[00:50,01:00) is absent: the watermark never passed it, so
    // append withheld it. W[00:30,00:40) closed on batch 3's advance.
    assert(got == Set((0L, 2L), (10L, 1L), (30L, 2L)), s"got $got")

    // batch control over the SAME seven rows: W0 = 3 — the stream's
    // missing row is exactly the late one
    val batchCounts = spark.read.parquet(watched.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("ts"), "10 minutes").as("w")).count()
      .select(unix_micros(col("w.start").cast("timestamp")).as("wus"), col("count"))
      .collect()
      .map(r => ((r.getLong(0) - baseUs) / 60000000L, r.getLong(1)))
      .toSet
    assert(batchCounts == Set((0L, 3L), (10L, 1L), (30L, 2L), (50L, 1L)),
      s"batch control: $batchCounts")
  }
}
