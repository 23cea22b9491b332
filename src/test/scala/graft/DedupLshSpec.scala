package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Tables}

/** d10 (LSH-blocked near-dup) recall gate: labels are fixture
  * luxuries, so the label-free banded-LSH blocking must find at least
  * as much of the brute-force ground truth as the label-blocked d05
  * does — otherwise it wouldn't be a production replacement.
  */
class DedupLshSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("banded-LSH blocking recall >= label blocking recall vs brute-force truth") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val a = e.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    // brute-force ground truth: every pair, no blocking
    val truth = a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", expr("graft_dot(v1, v2)") / (col("n1") * col("n2")))
      .filter(col("cosine") >= 0.30)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture has no near-dup pairs at 0.30 — test is vacuous")

    val byLabel = Dedup.d05EmbeddingNearDup(spark, sfDir)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val byLsh = Dedup.d10NearDupLsh(spark, sfDir)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet

    // both blockings only ever SUBSET the truth (they prune candidates,
    // never fabricate them — the cosine filter is identical)
    assert(byLabel.subsetOf(truth), s"label pairs outside truth: ${(byLabel -- truth).take(3)}")
    assert(byLsh.subsetOf(truth), s"lsh pairs outside truth: ${(byLsh -- truth).take(3)}")

    val recallLabel = byLabel.size.toDouble / truth.size
    val recallLsh = byLsh.size.toDouble / truth.size
    info(f"truth=${truth.size} label-recall=$recallLabel%.3f lsh-recall=$recallLsh%.3f")
    assert(recallLsh >= recallLabel,
      f"LSH blocking recall $recallLsh%.3f < label blocking recall $recallLabel%.3f")
  }

  /** VERDICT r4 #4: d04b's recall against exhaustive-d04 truth,
    * pinned. Both sides verify the SAME metric (distinct 3-gram
    * shingle-set Jaccard ≥ 0.5), so recall is exactly the
    * band-collision probability of the 8×2 split of the 16-hash
    * signature: 1-(1-s²)⁸ ≈ 0.90 at s = 0.5 and → 1 above it. The
    * fixture's true pairs all sit well above the threshold, so
    * realized recall pins at 1.0; the bands×rows tradeoff is the
    * knob (d02's 4×4 split of the same signature would collide at
    * only 1-(1-s⁴)⁴ ≈ 0.23 at s = 0.5 — the round-4 shape this spec
    * exists to prevent regressing to).
    */
  test("d04b candidate recall vs exhaustive d04 truth at the 0.5 threshold") {
    import spark.implicits._
    // truth restricted to d04's declared blocking (same lang + length
    // bucket); d04b proposes across blocks, so intersect before
    // scoring
    val truth = Dedup.d04NgramJaccard(spark, sfDir)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    assert(truth.size >= 5, s"fixture truth too small (${truth.size}) — vacuous")
    val verified = Dedup.d04bJaccardVerified(spark, sfDir)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val recall = (truth & verified).size.toDouble / truth.size
    info(f"d04-truth=${truth.size} d04b=${verified.size} recall=$recall%.3f")
    assert(recall == 1.0,
      f"d04b recall vs exhaustive truth regressed to $recall%.3f " +
        "(missed: " + (truth -- verified).take(3) + ") — check the bands×rows split")
  }

  /** VERDICT r7 #3: d13's incremental probe (stored band index + new
    * batch) against the full non-incremental recompute — a self-join
    * over corpus ∪ batch with the SAME 4×4 banding and the same 0.25
    * estimate threshold, restricted to corpus×batch pairs. Both paths
    * band identical signatures, so the incremental result must EQUAL
    * the full recompute (recall 1.0, no extras), and it must contain
    * the near-dups exact-hash d07 structurally misses (the ' revised
    * v2' re-crawls).
    */
  test("d13 incremental probe equals the full corpus∪batch recompute") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" revised v2")).as("text")))
    val union = docs.select(col("doc_id"), col("text")).unionByName(batch)
    val bands = Dedup.sigBands(spark, union)
    val full = bands.select(col("doc_id").as("id1"), col("sig").as("s1"),
        col("band"), col("band_key"))
      .join(bands.select(col("doc_id").as("id2"), col("sig").as("s2"),
          col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("id1") < lit(100000L) && col("id2") >= lit(100000L))
      .select(col("id2").as("batch_id"), col("id1").as("corpus_id"),
        (aggregate(zip_with(col("s1"), col("s2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x)
          .cast("double") / lit(16.0)).as("est"))
      .filter(col("est") >= 0.25)
      .select(col("batch_id"), col("corpus_id"))
      .as[(Long, Long)].collect().toSet
    assert(full.nonEmpty, "full recompute found no cross pairs — vacuous")

    val incr = Dedup.d13IncrementalNearDup(spark, sfDir)
      .select(col("batch_id"), col("corpus_id"))
      .as[(Long, Long)].collect().toSet
    info(s"full=${full.size} incremental=${incr.size}")
    assert(incr == full,
      s"incremental != full recompute; missed=${(full -- incr).take(3)} " +
        s"extra=${(incr -- full).take(3)}")
    // the batch's verbatim re-crawls self-match their corpus twin...
    assert(incr.exists { case (b, c) => b == c + 100000L },
      "no verbatim re-crawl matched its corpus twin")
    // ...and at least one EDITED re-crawl (exact-hash-invisible to
    // d07) is caught as a near-dup of its original
    assert(incr.exists { case (b, c) => b == c + 200000L },
      "no edited re-crawl matched its original — the near-dup case d13 exists for")
  }
}
