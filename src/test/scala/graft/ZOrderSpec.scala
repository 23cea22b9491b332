package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.ops.Tables
import graft.sinks.Sinks

/** Z-order layout: multi-dimensional row-group skipping, MEASURED.
  *
  * SortSkipSpec proves one sorted dimension skips; this spec proves
  * the Morton-interleaved layout skips on EITHER of two dimensions —
  * the case a single-column sort cannot serve (its second dimension
  * is uniformly smeared across every row group, so nothing skips).
  * Three layouts of the same lineitem fixture, identical writer
  * settings, tiny row groups so the 60k-row fixture yields hundreds:
  *   z       — `Sinks.writeZOrdered(l_partkey, l_suppkey)`
  *   aSorted — `Sinks.writeSorted(l_partkey)` (the one-dim champion)
  *   control — unsorted
  * Assertions are on the parquet reader's surfaced-row metric, and
  * every layout must return identical results — layout is a read-cost
  * knob, never a semantics knob.
  */
class ZOrderSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  /** (result rows, rows the scan surfaced post group-skip) for a
    * shuffle-free filter query; asserts the predicate reached the
    * parquet reader.
    */
  private def scanRows(df: org.apache.spark.sql.DataFrame,
      pushedCol: String): (Long, Long) = {
    val rows = df.collect().length.toLong
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec found")
    assert(scans.head.metadata("PushedFilters").contains(pushedCol),
      s"predicate not pushed: ${scans.head.metadata("PushedFilters")}")
    (rows, scans.map(_.metrics("numOutputRows").value).sum)
  }

  test("z-order skips row groups on both dimensions; single sort on one") {
    val zDir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val aDir = java.nio.file.Files.createTempDirectory("graft_a").toString
    val uDir = java.nio.file.Files.createTempDirectory("graft_u").toString
    try {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
      val total = li.count()
      // ~8 KiB groups -> ~200-row skip quantum on the fixture; at
      // 100 TB the same layout keeps the 128 MiB default (grain
      // changes, mechanism doesn't)
      Sinks.writeZOrdered(li, zDir, "l_partkey", "l_suppkey",
        targetRowGroupBytes = 8L << 10)
      Sinks.writeSorted(li, aDir, Seq.empty, Seq("l_partkey"),
        targetRowGroupBytes = 8L << 10)
      li.repartition(4).write.mode("overwrite")
        .option("parquet.block.size", 8L << 10).parquet(uDir)

      def layout(dir: String) = spark.read.parquet(dir)
      val predA = col("l_partkey").between(100L, 120L)
      val predB = col("l_suppkey") === 7

      // dimension B (suppkey): the partkey-sorted layout smears
      // suppkey across all groups — z must beat it AND the control
      val (zbRows, zbRead) = scanRows(layout(zDir).filter(predB), "l_suppkey")
      val (abRows, abRead) = scanRows(layout(aDir).filter(predB), "l_suppkey")
      val (ubRows, ubRead) = scanRows(layout(uDir).filter(predB), "l_suppkey")
      assert(zbRows == ubRows && abRows == ubRows && zbRows > 0,
        s"layouts disagree on suppkey filter: $zbRows/$abRows/$ubRows")
      assert(ubRead >= total / 2,
        s"control surfaced $ubRead of $total — groups too coarse to prove skipping")
      assert(abRead >= total / 2,
        s"partkey-sorted layout unexpectedly skipped on suppkey ($abRead of $total)")
      assert(zbRead * 2 <= abRead,
        s"z-order read $zbRead vs single-sort $abRead on the second dimension — " +
          "interleaving bought nothing")

      // dimension A (partkey): the dedicated sort wins outright, but
      // z must still skip most groups vs the control
      val (zaRows, zaRead) = scanRows(layout(zDir).filter(predA), "l_partkey")
      val (aaRows, aaRead) = scanRows(layout(aDir).filter(predA), "l_partkey")
      val (uaRows, uaRead) = scanRows(layout(uDir).filter(predA), "l_partkey")
      assert(zaRows == uaRows && aaRows == uaRows && zaRows > 0,
        s"layouts disagree on partkey filter: $zaRows/$aaRows/$uaRows")
      assert(zaRead * 2 <= uaRead,
        s"z-order read $zaRead vs control $uaRead on the first dimension")
      assert(aaRead <= zaRead,
        s"dedicated sort ($aaRead) should be at least as tight as z ($zaRead)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(aDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(uDir))
    }
  }
}
