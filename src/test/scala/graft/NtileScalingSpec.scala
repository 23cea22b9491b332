package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q25's cross-SF scaling contract (round 7) — the evidence that
  * closes the recurring "q25 is slower than r4" flag on structural
  * grounds rather than wall time (which BASELINE.md's interleaved A/B
  * shows is fixed stage overhead on this host class: ~1.6 s floor for
  * ALL variants including unchanged r5 code).
  *
  * The quantity that decides 100 TB viability for a window plan is the
  * max rows any SINGLE window partition feeds one task — wall time on
  * a 32-core box measures stage overhead instead. So the spec pins the
  * slope of that quantity across two orders of magnitude of data, for
  * the naive form (PARTITION BY c_nationkey over the fact: 25 fixed
  * keys forever) vs the two-phase decomposition actually shipped
  * (bucket-table prefix windows + per-(nation, $1-bucket) exact
  * window). Fixture measurements: naive 13 → 74 → 642 rows
  * (sf0.001/0.01/0.1 — linear in n, unbounded); two-phase
  * max(11 → 46 → 55, ties 1 → 2 → 3) — saturating at its constructive
  * cap (≤ ~55 occupied $200 buckets per nation, ≤ 200 $1 buckets per
  * $200 bucket, plus same-dollar ties), independent of corpus size.
  */
class NtileScalingSpec extends AnyFunSuite with SparkSuite {
  /** Max single-window-partition input rows for both forms, computed
    * from the same bucket expressions q25Of uses.
    */
  private def widths(sfDir: String): (Long, Long) = {
    val cust = graft.ops.Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("l2", floor(col("c_acctbal")))
      .withColumn("l1", floor(col("c_acctbal") / 200))
    def maxCount(df: org.apache.spark.sql.DataFrame, keys: String*): Long =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
    val naive = maxCount(cust, "c_nationkey")
    // the collapsed stats table the two-phase windows actually see
    val l2Counts = cust.groupBy(col("c_nationkey"), col("l1"), col("l2"))
      .agg(count(lit(1)).as("n2"))
    val wL2 = maxCount(l2Counts, "c_nationkey", "l1") // bucket-table prefix
    val wL1 = maxCount(
      l2Counts.select(col("c_nationkey"), col("l1")).distinct(),
      "c_nationkey")                                  // level-1 prefix
    val wIn = maxCount(cust, "c_nationkey", "l2")     // exact per-row window
    (naive, Seq(wL2, wL1, wIn).max)
  }

  test("two-phase max window partition saturates while naive grows linearly") {
    val (naiveS, twoS) = widths("/root/testdata/sf0.001")
    val (naiveL, twoL) = widths("/root/testdata/sf0.1")
    // naive slope: 100x data pushes >=20x more rows through one task
    // (measured 13 -> 642); nothing bounds it — this is the banned shape
    assert(naiveL.toDouble / naiveS >= 20.0,
      s"naive slope ${naiveL.toDouble / naiveS} unexpectedly flat")
    // two-phase slope: same 100x stays within its constructive cap
    // (measured 11 -> 55; the cap is occupied-$200-buckets per nation)
    assert(twoL.toDouble / twoS <= 8.0,
      s"two-phase slope ${twoL.toDouble / twoS} — cap broken?")
    assert(twoL <= 64,
      s"two-phase widest window partition $twoL exceeds its structural cap")
    // and at the large SF the decomposition is already an order of
    // magnitude below naive's single-task ceiling
    assert(naiveL >= 10 * twoL,
      s"two-phase ($twoL) not clearly below naive ($naiveL) at sf0.1")
  }
}
