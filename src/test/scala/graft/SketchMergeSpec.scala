package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Stats, Tables}

/** Mergeability of the two sketch aggregates (q14 HLL++, q52
  * approx-percentile) across partitionings — the property a real
  * cluster relies on: the same data split into 1, 4, or 32 partial
  * sketches and merged must yield the same answer.
  *
  * HLL++ register merge is a pointwise max — associative, commutative,
  * idempotent — so the estimate must be IDENTICAL whatever the
  * partitioning. Spark's approx_percentile (Greenwald-Khanna summary)
  * merge keeps the rank-error invariant but not bit-equality, so each
  * partitioning's estimate is instead held to the documented bound:
  * within 5% of the exact percentile (the same bound RelationalSpec
  * pins for the declared query).
  */
class SketchMergeSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  private val partitionings = Seq(1, 4, 32)

  test("q14 HLL++ estimate is identical at 1, 4, and 32 partitions") {
    val byParts = partitionings.map { n =>
      n -> Aggs.q14Of(Tables.lineitem(spark, sf).repartition(n))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val (_, ref) = byParts.head
    byParts.tail.foreach { case (n, m) =>
      assert(m == ref,
        s"HLL++ estimate changed under $n-partition merge: $m vs $ref")
    }
  }

  test("q14 HLL++ estimate is insensitive to row order within partitions") {
    // same sketch from a shuffled row order: register max is idempotent
    val base = Aggs.q14Of(Tables.lineitem(spark, sf).repartition(8))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reordered = Aggs.q14Of(
        Tables.lineitem(spark, sf).repartition(8)
          .sortWithinPartitions(col("l_partkey").desc))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reordered == base)
  }

  test("q52 approx percentiles stay within the 5% bound at every partitioning") {
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
        expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    partitionings.foreach { n =>
      val approx = Stats.q52Of(Tables.lineitem(spark, sf).repartition(n))
        .collect()
        .map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (flag, (m, p25, p75)) =>
        val (em, e25, e75) = exact(flag)
        def within(a: Double, e: Double, tag: String): Unit =
          assert(math.abs(a - e) <= 0.05 * math.abs(e),
            s"$tag for $flag at $n partitions: approx $a vs exact $e")
        within(m, em, "median_qty"); within(p25, e25, "p25_price")
        within(p75, e75, "p75_price")
      }
    }
  }

  /** VERDICT r7 #8: the Misra-Gries heavy-hitters aggregate. Retained
    * sets and estimates legitimately vary with partitioning; what must
    * hold at EVERY partitioning (i.e. through every partial→merge
    * shape) is the deterministic contract vs exact truth:
    * never-overshoot, undershoot within the self-reported bound, and
    * no term above the bound missing.
    */
  test("t19 Misra-Gries bound holds vs exact counts at 1, 4, and 32 partitions") {
    import graft.ops.TextOps
    val docs = Tables.documents(spark, sf)
    val exact = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
    val capacity = 64
    partitionings.foreach { p =>
      graft.functions.GraftFunctions.register(spark)
      val sk = docs.repartition(p)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("lang"))
        .agg(expr(s"graft_heavy_hitters(term, $capacity)").as("hh"))
        .select(col("lang"), col("hh.n"), col("hh.err"), col("hh.items"))
        .collect()
      assert(sk.nonEmpty)
      sk.foreach { row =>
        val lang = row.getString(0)
        val (n, err) = (row.getLong(1), row.getLong(2))
        val truth = exact(lang)
        assert(n == truth.values.sum, s"[$p/$lang] n=$n != ${truth.values.sum}")
        val items = row.getSeq[org.apache.spark.sql.Row](3)
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(items.size <= capacity)
        items.foreach { case (t, est) =>
          val tru = truth.getOrElse(t, 0L)
          assert(est <= tru, s"[$p/$lang] '$t' overshoots: est=$est > true=$tru")
          assert(tru - est <= err,
            s"[$p/$lang] '$t' undershoots past the bound: true=$tru est=$est err=$err")
        }
        val missed = truth.filter { case (t, c) => c > err && !items.contains(t) }
        assert(missed.isEmpty,
          s"[$p/$lang] heavy terms above err=$err missing: ${missed.take(3)}")
      }
    }
  }
}
