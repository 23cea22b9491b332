package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** The s06 scale contract (round 7): the all-corpus kNN-graph build
  * must not carry a fixed-cardinality candidate key. Two defenses are
  * pinned here — growth-adaptive banding (planes-per-band scales with
  * log₂(n), keeping EXPECTED bucket size bounded) and the grid
  * governor on the banded self-join (a hot bucket splits across
  * cells² tasks instead of landing on one). GridPropertySpec proves
  * the governor's pair-set equivalence and per-cell bound generically;
  * this spec proves s06 actually rides it and that its result is
  * invariant under forced maximal splitting.
  */
class KnnGraphSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** The anti-cliff property itself: expected bucket size
    * n / 2^ppb(n) stays ≤ targetRows (32) until the clamp, across
    * nine orders of magnitude — the old fixed 2×4 banding fails this
    * from n ≈ 2¹⁰ onward.
    */
  test("s06 ppb scales with corpus size: expected bucket bounded until the clamp") {
    val ns = Seq(1L, 100L, 500L, 2000L, 100000L, 10000000L,
      1000000000L, 100000000000L)
    ns.foreach { n =>
      val p = Similarity.s06Ppb(n)
      assert(p >= 4 && p <= 20, s"ppb($n)=$p outside [4,20]")
      if (p < 20)
        assert((32L << p) >= n,
          s"ppb($n)=$p: expected bucket ${n / (1L << p)} exceeds target 32")
      if (p > 4)
        // minimality: one fewer plane would blow the target — ppb is
        // the smallest compliant split, not an over-shard
        assert((32L << (p - 1)) < n, s"ppb($n)=$p not minimal")
    }
    // monotone: more corpus never coarsens the banding
    assert(ns.map(Similarity.s06Ppb) == ns.map(Similarity.s06Ppb).sorted)
    // fixture anchors: the values the oracle derived this round
    assert(Similarity.s06Ppb(500L) == 4)   // sf0.001 / sf0.01
    assert(Similarity.s06Ppb(2000L) == 6)  // sf0.1
  }

  /** Forcing rowsPerCell far below the fixture's bucket sizes makes
    * the grid governor engage (Generate = the cell-replication
    * explode, the grid path's signature) — and the emitted graph must
    * be IDENTICAL to the default run's. This is the invariant the
    * oracle relies on: candidate generation is governed, never
    * changed, by the skew defense.
    */
  test("s06 result invariant under forced grid splitting; grid engages") {
    val default = Similarity.s06KnnJoin(spark, sf)
      .collect().map(_.toSeq).toSeq
    val forced = Similarity.s06KnnJoin(spark, sf, rowsPerCell = 8)
    assert(forced.queryExecution.executedPlan.toString.contains("Generate"),
      "rowsPerCell=8 on ~31-row buckets did not engage the grid")
    assert(forced.collect().map(_.toSeq).toSeq == default,
      "kNN graph changed under grid splitting")
    assert(default.nonEmpty)
  }
}
