package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Join-strategy hints and the caching surface — the remaining
  * physical-plan control knobs a user of the engine reaches for:
  * strategy hints override Catalyst's size-based choice per join, and
  * cache() materializes a reused subplan once (the reference's md.md
  * lists caching as a wished-for feature; here it is the built-in
  * columnar InMemoryRelation).
  */
class HintsAndCacheSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def joinPlan(hint: String): String = {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf).hint(hint)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .queryExecution.sparkPlan.toString
  }

  test("merge hint forces a sort-merge join") {
    assert(joinPlan("merge").contains("SortMergeJoin"))
  }

  test("shuffle_hash hint forces a shuffled hash join") {
    assert(joinPlan("shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("broadcast hint forces a broadcast hash join") {
    assert(joinPlan("broadcast").contains("BroadcastHashJoin"))
  }

  test("cache() materializes a reused subplan as InMemoryRelation") {
    val base = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .cache()
    try {
      base.count() // populate
      val plan = base.filter(col("n") > 0).queryExecution.executedPlan.toString
      // the consumer reads the cached relation (InMemoryRelation's
      // printout still DESCRIBES the original scan, so only assert the
      // positive)
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"expected cached scan:\n$plan")
    } finally base.unpersist()
  }
}
