package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{EventOps, Tables}
import graft.sinks.Sinks

/** VERDICT r4 #5: the layout every 100 TB event store actually uses —
  * the fact table written day-partitioned (`Sinks.writePartitioned`),
  * so a time-bounded headline query (e03 sessionization over a 3-day
  * window) prunes at the DIRECTORY level: the scan's PartitionFilters
  * carry the day predicate and untouched days are never read. Results
  * must equal the same logic over the flat table — layout is a
  * plan-only acceleration, so the spec pins both the plan and the
  * rows.
  */
class EventLayoutSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("e03 over day-partitioned events: PartitionFilters prune, rows unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_events_day").toString
    try {
      val events = Tables.events(spark, sf)
      Sinks.writePartitioned(
        events.withColumn("day", to_date(col("ts").cast("timestamp"))),
        tmp, Seq("day"))

      val window = (col("day") >= lit("2024-01-10")) &&
        (col("day") <= lit("2024-01-12"))
      val layout = spark.read.parquet(tmp).filter(window)
      val sessioned = EventOps.e03SessionsOf(layout.drop("day"))

      // the day predicate must reach the scan as a PARTITION filter
      // (directory pruning), not a post-scan data filter
      val scans = sessioned.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan parquet")).toSeq
      assert(scans.nonEmpty, "no parquet scan in the plan")
      assert(scans.exists(s => s.contains("PartitionFilters: [") &&
          s.contains("day#")),
        s"day predicate did not reach PartitionFilters:\n${scans.mkString("\n")}")

      // and the pruned file index must expose only the 3 selected
      // day directories to the scan
      // sparkPlan, not executedPlan: AQE wraps the latter into an
      // AdaptiveSparkPlan leaf that collect() cannot descend into
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scanExecs = sessioned.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scanExecs.nonEmpty, "expected a FileSourceScanExec in the spark plan")
      val partitions = scanExecs.head.selectedPartitions.partitionCount
      assert(partitions == 3,
        s"expected 3 pruned day partitions of 30, scanned $partitions")

      // identical rows vs the same window over the flat table
      val flat = EventOps.e03SessionsOf(
        events.filter(to_date(col("ts").cast("timestamp")).between(
          lit("2024-01-10"), lit("2024-01-12"))))
      val got = sessioned.collect().map(_.toSeq).toSet
      val want = flat.collect().map(_.toSeq).toSet
      assert(got == want,
        s"layout changed results: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
      assert(want.nonEmpty, "3-day window matched no sessions — vacuous")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
