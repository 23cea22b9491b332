package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PipelineOps

/** Randomized (deterministically seeded) equivalence property for the
  * round-5 two-phase prefix-sum re-shapes: for ANY document set —
  * sparse/clustered doc_ids straddling bucket boundaries, single-doc
  * and empty languages, duplicate texts (equal qualities, doc_id
  * tiebreak), budgets that cut mid-band — p06's bucketed form and
  * p11's band-pruned form must equal the naive single-window
  * formulation row for row. This is the invariant the DuckDB oracles
  * check on the fixture; the property test fuzzes the edge shapes the
  * fixture doesn't contain.
  */
class PrefixSumPropertySpec extends AnyFunSuite with SparkSuite {
  private val rnd = new scala.util.Random(20260813L)

  private def randomDocs(n: Int) = {
    import spark.implicits._
    val langs = Seq("aa", "bb", "cc")
    // sparse, shuffled doc_ids across several bucket widths; duplicate
    // texts appear with probability ~1/3
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { _ =>
      val docId = rnd.nextLong().abs % 5000L
      val text =
        if (texts.nonEmpty && rnd.nextInt(3) == 0) texts(rnd.nextInt(texts.size))
        else {
          val t = (0 until 1 + rnd.nextInt(30))
            .map(_ => s"w${rnd.nextInt(8)}").mkString(" ")
          texts += t
          t
        }
      (docId, langs(rnd.nextInt(langs.size)), text)
    }.distinct.groupBy(_._1).map(_._2.head).toSeq // unique doc_ids
      .toDF("doc_id", "lang", "text")
  }

  test("p06 two-phase bucketed packing == naive per-lang running window") {
    (1 to 4).foreach { trial =>
      val docs = randomDocs(40 + rnd.nextInt(400))
      val budget = 20 + rnd.nextInt(200)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("doc_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = docs
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("off", sum(col("n_tok")).over(w) - col("n_tok"))
        .withColumn("bin", expr(s"off div $budget"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .collect().map(_.toSeq).toSet
      val twoPhase = PipelineOps.p06Of(docs, budget)
        .collect().map(_.toSeq).toSet
      assert(twoPhase == naive,
        s"trial $trial budget=$budget: missing=${(naive -- twoPhase).take(3)} " +
          s"extra=${(twoPhase -- naive).take(3)}")
    }
  }

  test("q25 two-level distributed rank == native ntile/percent_rank/cume_dist") {
    import graft.ops.Windows
    (1 to 4).foreach { trial =>
      import spark.implicits._
      // group sizes hit every N mod 4 class, including N=1 and N<4;
      // balances include negatives, exact $200 boundaries, and ties
      val n = 3 + rnd.nextInt(120)
      val cust = (0 until n).map { i =>
        val bal = Seq(
          rnd.nextInt(11000) - 1000.0,
          (rnd.nextInt(55) * 200).toDouble, // exact l1 boundary
          rnd.nextInt(20) / 2.0             // dense ties
        )(rnd.nextInt(3))
        (rnd.nextInt(5).toLong, i.toLong, bal)
      }.toDF("c_nationkey", "c_custkey", "c_acctbal")
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc_nulls_last, col("c_custkey").asc_nulls_last)
      val naive = cust
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          col("quartile"), col("pct_rank"), col("cume"))
        .collect().map(_.toSeq).toSet
      val twoLevel = Windows.q25Of(cust).collect().map(_.toSeq).toSet
      assert(twoLevel == naive,
        s"trial $trial n=$n: missing=${(naive -- twoLevel).take(3)} " +
          s"extra=${(twoLevel -- naive).take(3)}")
    }
  }

  test("p11 band-pruned budget selection == naive per-lang running window") {
    (1 to 4).foreach { trial =>
      val docs = randomDocs(40 + rnd.nextInt(400))
      val budget = 20 + rnd.nextInt(300)
      val nTok = size(col("toks")).cast("double")
      val nStop = size(filter(col("toks"),
        t => t.isInCollection(Seq("the", "a", "and", "of", "to")))).cast("double")
      val nDist = size(array_distinct(col("toks"))).cast("double")
      val lenFactor = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
      val quality = lit(0.4) * (nDist / nTok) + lit(0.4) * lenFactor +
        lit(0.2) * (nStop / nTok)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc_nulls_last, col("doc_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = docs
        .withColumn("toks", split(col("text"), " "))
        .withColumn("quality", quality)
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= budget)
        .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"),
          col("quality"))
        .collect().map(_.toSeq).toSet
      val twoPhase = PipelineOps.p11Of(docs, budget)
        .collect().map(_.toSeq).toSet
      assert(twoPhase == naive,
        s"trial $trial budget=$budget: missing=${(naive -- twoPhase).take(3)} " +
          s"extra=${(twoPhase -- naive).take(3)}")
    }
  }
}
