package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.ops.Tables
import graft.sinks.Sinks

/** VERDICT r7 #5: small-file compaction. Layout creation is covered by
  * EventLayoutSpec (partitioned), TransferSpec (bucketed) and
  * SortSkipSpec (sorted row groups); this spec covers the maintenance
  * op: a fragmented layout bin-packed to few files must (a) actually
  * shrink the file count, (b) return byte-identical query results, and
  * (c) keep the invariant its layout exists for — row-group skipping
  * for the sorted flavor, directory pruning for the partitioned one.
  */
class CompactionSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  /** Order-insensitive multiset fingerprint: count + sum of per-row
    * 64-bit hashes over all columns.
    */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(col): _*))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1))
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
  }

  test("compact merges a fragmented sorted layout and keeps row-group skipping") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_sorted").toString
    try {
      val events = Tables.events(spark, sf)
      // fragment: ~500-row files, tiny row groups
      Sinks.writeSorted(events, dir, Seq.empty, Seq("user_id"),
        targetRowGroupBytes = 8L << 10, maxRecordsPerFile = 500L)
      val fpBefore = fingerprint(spark.read.parquet(dir))
      val total = fpBefore._1

      val stats = Sinks.compact(spark, dir,
        sortCols = Seq("user_id"),
        targetFileBytes = 1L << 30,
        targetRowGroupBytes = 8L << 10)

      assert(stats.filesBefore >= 10,
        s"fixture not fragmented enough (${stats.filesBefore} files) — test is vacuous")
      assert(stats.filesAfter * 3 <= stats.filesBefore,
        s"compaction barely merged: ${stats.filesBefore} -> ${stats.filesAfter}")
      assert(fingerprint(spark.read.parquet(dir)) == fpBefore,
        "compaction changed query results")
      // the sorted invariant survives: a selective user predicate
      // still skips the bulk of the row groups via min/max stats
      val read = scanRows(spark.read.parquet(dir).filter(col("user_id") === 7L))
      assert(read <= total / 3,
        s"post-compaction scan surfaced $read of $total rows — sort clustering lost")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compact merges per-partition files and keeps directory pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    try {
      val events = Tables.events(spark, sf)
      Sinks.writePartitioned(events, dir, Seq("event_type"),
        maxRecordsPerFile = 200L)
      val fpBefore = fingerprint(spark.read.parquet(dir))

      val stats = Sinks.compact(spark, dir,
        partitionCols = Seq("event_type"),
        targetFileBytes = 1L << 30)

      assert(stats.filesBefore >= 10,
        s"fixture not fragmented enough (${stats.filesBefore} files) — test is vacuous")
      assert(stats.filesAfter * 3 <= stats.filesBefore,
        s"compaction barely merged: ${stats.filesBefore} -> ${stats.filesAfter}")
      assert(fingerprint(spark.read.parquet(dir)) == fpBefore,
        "compaction changed query results")
      // pruning: a partition predicate reads exactly the one compacted
      // file of its directory (inputFiles lists pre-pruning, so read
      // the scan's own numFiles metric)
      val sample = spark.read.parquet(dir)
        .select(col("event_type")).limit(1).collect()(0).getString(0)
      val pruned = spark.read.parquet(dir)
        .filter(col("event_type") === sample)
      pruned.collect()
      val nFilesRead = pruned.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
      assert(nFilesRead == 1,
        s"pruned scan read $nFilesRead files, expected the partition's single compacted file")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
