package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Scale, Tables}
import graft.sinks.Sinks

/** Scale-technique semantics: salted plans are result-equivalent to
  * their direct forms; partitioned sinks prune; bucketed tables join
  * without a shuffle.
  */
class ScaleSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("salted agg equals direct groupBy") {
    val direct = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 4))).cast("double").as("total"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = Scale.q39SaltedAgg(spark, sf).collect().toSeq
    assert(salted.map(_.toSeq) == direct.map(_.toSeq))
  }

  test("salted join equals direct join") {
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
      .orderBy("o_orderpriority").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = Scale.q40SaltedJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == direct)
  }

  test("partitioned sink lays out partition directories and prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/t"
    Sinks.writePartitioned(Tables.orders(spark, sf), dir, Seq("o_orderstatus"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("o_orderstatus="))
    assert(dirs.toSet == Set("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"))
    val plan = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"))
  }

  test("partitioning control: byKey count, coalesce narrowing, balance histogram") {
    import graft.ops.Partitioning
    val li = Tables.lineitem(spark, sf)
    val parted = Partitioning.byKey(li, 8, org.apache.spark.sql.functions.col("l_orderkey"))
    assert(parted.rdd.getNumPartitions == 8)
    assert(Partitioning.compact(parted, 2).rdd.getNumPartitions == 2)
    val hist = Partitioning.partitionHistogram(parted).collect()
    assert(hist.map(_.getLong(1)).sum == li.count())
    // hash partitioning on a high-cardinality key is near-balanced
    val counts = hist.map(_.getLong(1).toDouble)
    assert(counts.max / (counts.sum / counts.length) < 1.5)
  }

  test("grid-salted self-join: identical pair set, hot block split across cells") {
    import spark.implicits._
    // one hot block (400 rows -> quadratic risk) + one cold block
    val rows = ((1L to 400L).map(i => (i, "hot")) ++
      (1001L to 1010L).map(i => (i, "cold"))).toDF("id", "blk")
    val a = rows.select(col("id").as("id1"), col("blk"))
    val b = rows.select(col("id").as("id2"), col("blk"))
    val plain = a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val grid = Scale.gridSelfJoinPairs(a, b, Seq("blk"), "id1", "id2",
        rowsPerCell = 100)
      .select(least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
      .as[(Long, Long)].collect().toSet
    assert(grid == plain, "grid-salted pair set must equal the unsalted one")
    // split-ness: the hot block's 400 rows hash into 4 salts, so no
    // single (blk, salt) task key owns more than ~1/4 of the block
    val maxSalt = rows.filter(col("blk") === "hot")
      .withColumn("s", pmod(hash(col("id")), lit(4)))
      .groupBy("s").count().agg(max("count")).head().getLong(0)
    assert(maxSalt < 200, s"hot block not split: max salt group = $maxSalt")
  }

  test("d04/d05 grid-salted variants equal their unsalted forms") {
    // rowsPerCell=25 forces every fixture block to split; the default
    // call (2000) leaves them whole — results must be identical
    val d04Split = graft.ops.Dedup.d04NgramJaccard(spark, sf, rowsPerCell = 25)
      .collect().map(_.toSeq).toSeq
    val d04Whole = graft.ops.Dedup.d04NgramJaccard(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(d04Split == d04Whole)
    val d05Split = graft.ops.Dedup.d05EmbeddingNearDup(spark, sf, rowsPerCell = 25)
      .collect().map(_.toSeq).toSeq
    val d05Whole = graft.ops.Dedup.d05EmbeddingNearDup(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(d05Split == d05Whole)
  }

  test("AQE detects and splits a skewed join partition (skew=true in final plan)") {
    // 99% of fact rows collapse onto one join key; thresholds are
    // lowered so fixture-scale data crosses the skew bar (the same
    // mechanism fires untuned at production sizes). Broadcast is
    // disabled to force the shuffled join AQE governs.
    val sf01 = "/root/testdata/sf0.01"
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
      "spark.sql.files.maxPartitionBytes" ->
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
    try {
      import spark.implicits._
      // a skewed reduce partition is split by regrouping MAP-output
      // ranges — the single-file fixture scans as ONE map task (one
      // row group), leaving nothing to regroup, so give the join
      // shuffle a multi-task map stage via an upstream round-robin
      // repartition (at real scale the scan has thousands of mappers
      // and this is unnecessary)
      val fact = Tables.lineitem(spark, sf01).repartition(8)
        .withColumn("k", when(col("l_orderkey") % 100 < 99, 0L)
          .otherwise(col("l_orderkey")))
      // dim keys unique BY CONSTRUCTION (no dropDuplicates: an
      // aggregate between join and shuffle breaks the
      // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) pattern
      // OptimizeSkewedJoin rewrites)
      val dim = Tables.orders(spark, sf01)
        .filter(col("o_orderkey") % 100 >= 99)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
        .unionByName(Seq((0L, "HOT")).toDF("k", "o_orderpriority"))
      val joined = fact.join(dim, "k")
      // drive THIS QueryExecution's AdaptiveSparkPlanExec to its final
      // plan (count/write/foreach all spawn their own executions, whose
      // column pruning would also shrink the shuffle below the skew
      // threshold)
      val qe = joined.queryExecution
      qe.executedPlan.execute().count()
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to fire:\n${plan.take(3000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def dropTable(name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  test("bucketed tables join without a shuffle") {
    dropTable("orders_b")
    dropTable("lineitem_b")
    Sinks.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 4)
    Sinks.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "lineitem_b", "l_orderkey", 4)
    // the fixture dims are broadcast-size; disable auto-broadcast so
    // the plan shows what bucketing buys on two LARGE tables: a
    // sort-merge join with zero Exchange on either side
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
