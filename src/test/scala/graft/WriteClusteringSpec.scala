package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Declarative write clustering (`graft.write.clusterBy`): every
  * append range-clusters the new rows, so per-file min/max stats
  * prune selectively from the FIRST commit — a streaming/micro-append
  * table is skippable without an OPTIMIZE ZORDER pass, and
  * auto-compact restores the property across merged commits.
  */
class WriteClusteringSpec extends AnyFunSuite with SparkSuite {
  private def fresh(): String =
    Files.createTempDirectory("graft_wclu").resolve("t").toString

  test("clustered appends prune point lookups that unclustered ones cannot") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    // shuffled key order: without clustering every file spans ~the
    // whole key domain and nothing prunes
    def batch(seed: Int) = {
      val r = new scala.util.Random(seed)
      r.shuffle((0L until 4000L).toList)
        .map(k => (k, s"v$k")).toDF("k", "v").repartition(8)
    }
    val t = fresh()
    ManifestTable.create(spark, t, schema,
      props = Map(ManifestTable.WriteClusterByProp -> "k"))
    // tiny test rows: stop AQE folding the range exchange to one
    // partition so the per-file range separation is observable (a
    // production-sized append gets many size-based partitions)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      ManifestTable.append(spark, batch(1), t)
      ManifestTable.append(spark, batch(2), t)
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("k") === 1234L)
    assert(total >= 8, s"expected several files, got $total")
    assert(kept <= 2,
      s"clustered appends must prune a point lookup: kept $kept/$total")
    assert(ManifestTable.readWhere(spark, t, col("k") === 1234L)
      .count() == 2)
    // CONTROL: same data without the property keeps everything
    val t2 = fresh()
    ManifestTable.create(spark, t2, schema)
    ManifestTable.append(spark, batch(1), t2)
    val (kept2, total2) = ManifestTable.skippingReport(spark, t2,
      col("k") === 1234L)
    assert(kept2 == total2,
      s"unclustered shuffled appends cannot prune: $kept2/$total2")
  }

  test("auto-compact restores clustering across merged micro-commits") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = fresh()
    ManifestTable.create(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("v", StringType))),
      props = Map(
        ManifestTable.WriteClusterByProp -> "k",
        ManifestTable.AutoCompactProp -> "true",
        ManifestTable.AutoCompactMinFilesProp -> "6"))
    (0 until 10).foreach { b =>
      ManifestTable.append(spark,
        (0L until 200L).map(i => (b * 200L + i, s"v$b-$i"))
          .toDF("k", "v").repartition(2), t): Unit
    }
    val files = ManifestTable.currentFiles(spark, t)
    assert(files.size < 10, s"auto-compact must have run: ${files.size}")
    assert(ManifestTable.read(spark, t).count() == 2000)
    // the compacted files keep tight ranges: a point lookup prunes
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("k") === 777L)
    assert(kept < total,
      s"compacted clustered table must still prune: $kept/$total")
    assert(ManifestTable.readWhere(spark, t, col("k") === 777L)
      .count() == 1)
  }
}
