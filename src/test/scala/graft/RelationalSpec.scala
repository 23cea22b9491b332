package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Spark-backed checks for operators without a SQL oracle, plus plan
  * shape assertions (broadcast where expected, pushdown reaching the
  * scan) — SURVEY.md §7.3 M4 discipline enforced early.
  */
class RelationalSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("q14 approx distinct is within 5% of exact") {
    val approx = Aggs.q14ApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val est = approx(k)
      assert(math.abs(est - n).toDouble / n < 0.05, s"$k: est=$est exact=$n")
    }
  }

  test("q52 approx percentiles are within 5% of exact q38 values") {
    // exact per-group percentiles hold per-group value maps; at
    // extreme cardinality the sketch is the 100 TB form — bound the
    // declared q52 operator column-by-column against the exact
    // q38 result the oracle gates
    val approx = Stats.q52ApproxPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = Stats.q38Percentiles(spark, sf).collect()
    assert(exact.nonEmpty)
    exact.foreach { r =>
      val a = approx(r.getString(0))
      Seq(1, 2, 3).foreach { i =>
        val e = r.getDouble(i)
        assert(math.abs(a(i - 1) - e) / e < 0.05,
          s"${r.getString(0)} col$i: approx=${a(i - 1)} exact=$e")
      }
    }
  }

  test("q05 star join plan broadcasts the dimension tables") {
    val plan = Joins.q05StarJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q01 plan pushes the shipdate filter into the parquet scan") {
    val plan = Relational.q01PricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q20 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = Aggs.q20TopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q11 as-of join: every event matches its user's latest visible order") {
    val out = Joins.q11AsofJoin(spark, sf).limit(50).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.isNullAt(3))) // all users have pre-2024 orders
  }
}
