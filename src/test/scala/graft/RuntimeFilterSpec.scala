package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Tables
import graft.sinks.Sinks

/** Runtime filters — the stock-Spark levers that matter most at 100 TB
  * fact scale, demonstrated on the q05 star-join shape:
  *
  *  - dynamic partition pruning: with the fact laid out partitioned by
  *    a dim-joinable column (the Sinks.writePartitioned layout), a
  *    selective dim filter prunes fact PARTITIONS at runtime — the
  *    dominant cost of a star join is the fact scan, and DPP skips it
  *    at the directory level;
  *  - runtime bloom filters: for shuffle joins on non-partition keys,
  *    a bloom filter built from the filtered build side is pushed into
  *    the fact scan, dropping non-joining rows before the shuffle.
  *
  * Results must be identical with the features on or off — these are
  * plan-only accelerations, so only plan assertions can pin them.
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("dynamic partition pruning reaches the partitioned fact scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      Sinks.writePartitioned(li, s"$tmp/fact", Seq("ship_month"))
      val fact = spark.read.parquet(s"$tmp/fact")

      // calendar dim: every fact month with its quarter label. Written
      // to parquet so it is a real file relation — a driver-local dim
      // would be constant-folded at optimize time and no runtime
      // pruning would be left to demonstrate. The dim filter must be a
      // recognizable selective predicate (an equality, not a bare
      // boolean column): DPP's isLikelySelective gate ignores bare
      // attributes.
      val q1_96 = Seq("1996-01", "1996-02", "1996-03")
      fact.select(col("ship_month")).distinct()
        .withColumn("qtr", concat(substring(col("ship_month"), 1, 4), lit("-Q"),
          ceil(substring(col("ship_month"), 6, 2).cast("int") / 3)))
        .withColumnRenamed("ship_month", "m")
        .write.parquet(s"$tmp/dim")
      val dim = spark.read.parquet(s"$tmp/dim")

      val joined = fact.join(dim,
          fact("ship_month") === dim("m") && dim("qtr") === "1996-Q1")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("rev"))

      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("dynamicpruning"),
        s"fact scan carries no dynamic pruning filter:\n$planStr")

      // unchanged results vs the unpartitioned formulation
      val expected = li
        .filter(col("ship_month").isin(q1_96: _*))
        .agg(count(lit(1)),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"))
        .head()
      val got = joined.head()
      assert(got.getLong(0) == expected.getLong(0), "row count differs under DPP")
      assert(got.getDouble(1) == expected.getDouble(1), "revenue differs under DPP")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("runtime bloom filter injects into the shuffle-join fact side") {
    // force the shuffle-join regime (no broadcast): this is the
    // 100 TB case where neither side fits an executor and the bloom
    // filter is what keeps non-joining fact rows off the shuffle
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // fixture scans are far below the 10 GB production default
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      def query = {
        val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
        val o = Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
      }
      val withFilter = query
      val planStr = withFilter.queryExecution.optimizedPlan.toString
      assert(planStr.contains("bloom_filter") || planStr.contains("might_contain"),
        s"no runtime bloom filter in the optimized plan:\n$planStr")
      val got = withFilter.head()

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expected = query.head()
      assert(got == expected, s"bloom-filtered result $got != plain $expected")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }
}
