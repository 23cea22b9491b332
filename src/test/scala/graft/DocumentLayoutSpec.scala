package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Tables, TextOps}
import graft.sinks.Sinks

/** The documents-side counterpart of EventLayoutSpec: the text corpus
  * written lang-partitioned (`Sinks.writePartitioned`), so a
  * single-language text query prunes at the DIRECTORY level — at
  * 100 TB a per-language pipeline stage (the common shape: one model /
  * tokenizer / filter per language) reads 1/N of the corpus instead of
  * all of it. Layout is a plan-only acceleration: the spec pins the
  * plan (PartitionFilters + pruned directory count) AND the rows
  * (identical to the flat table).
  */
class DocumentLayoutSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("t01 over lang-partitioned documents: PartitionFilters prune, rows unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_docs_lang").toString
    try {
      val docs = Tables.documents(spark, sf)
      Sinks.writePartitioned(docs, tmp, Seq("lang"))
      val nLangs = docs.select(col("lang")).distinct().count()
      assert(nLangs >= 3, s"fixture has only $nLangs langs — vacuous layout test")

      val layout = spark.read.parquet(tmp).filter(col("lang") === "en")
      val stats = TextOps.t01Of(layout)

      // the lang predicate must reach the scan as a PARTITION filter
      // (directory pruning), not a post-scan data filter
      val scans = stats.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan parquet")).toSeq
      assert(scans.nonEmpty, "no parquet scan in the plan")
      assert(scans.exists(s => s.contains("PartitionFilters: [") &&
          s.contains("lang#")),
        s"lang predicate did not reach PartitionFilters:\n${scans.mkString("\n")}")

      // the pruned file index must expose exactly ONE lang directory
      // (sparkPlan, not executedPlan: AQE wraps the latter into an
      // AdaptiveSparkPlan leaf that collect() cannot descend into)
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scanExecs = stats.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scanExecs.nonEmpty, "expected a FileSourceScanExec in the spark plan")
      val partitions = scanExecs.head.selectedPartitions.partitionCount
      assert(partitions == 1,
        s"expected 1 pruned lang partition of $nLangs, scanned $partitions")

      // identical rows vs the same filter over the flat table
      val got = stats.collect().map(_.toSeq).toSet
      val want = TextOps.t01Of(docs.filter(col("lang") === "en"))
        .collect().map(_.toSeq).toSet
      assert(got == want,
        s"layout changed results: missing=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
      assert(want.nonEmpty, "lang filter matched no documents — vacuous")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
