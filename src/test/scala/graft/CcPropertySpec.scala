package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Equivalence property for the log-rounds connected-components
  * labeler: `Dedup.ccTwoPhase` (alternating large-star/small-star)
  * must assign every node its component MINIMUM — checked against a
  * local union-find ground truth over random graphs, the adversarial
  * shapes the two-phase algorithm exists for (long chains), and the
  * degenerate ones (no edges, one giant clique, self-loops,
  * duplicated/reversed edge listings).
  */
class CcPropertySpec extends AnyFunSuite with SparkSuite {
  /** Union-find ground truth: component min per node. */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are minima because unions always point larger to smaller
    nodes.map(n => n -> find(n)).toMap
  }

  private def check(nodes: Seq[Long], edges: Seq[(Long, Long)], tag: String): Unit = {
    import spark.implicits._
    val nodesDf = nodes.toDF("doc_id")
    val edgesDf =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id1", "id2")
      else edges.toDF("id1", "id2")
    val got = Dedup.ccTwoPhase(nodesDf, edgesDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(nodes, edges)
    assert(got == want, s"$tag: two-phase labels differ from union-find; " +
      s"diff=${(got.toSet diff want.toSet).take(5)} / ${(want.toSet diff got.toSet).take(5)}")
  }

  test("two-phase CC == union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { trial =>
      val n = 20 + rnd.nextInt(60)
      val nodes = (0L until n.toLong).map(i => i * 7 + 3) // non-contiguous ids
      val m = rnd.nextInt(2 * n)
      val edges = (0 until m).map { _ =>
        (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n)))
      }
      check(nodes, edges, s"trial $trial (n=$n, m=$m)")
    }
  }

  test("two-phase CC collapses a long chain (the anti-min-label shape)") {
    // a 400-node path: min-label propagation needs ~400 rounds; the
    // star contraction must finish within the log² budget
    val nodes = (0L until 400L).map(i => 1000L - i) // descending ids
    val edges = nodes.sliding(2).map(s => (s(0), s(1))).toSeq
    check(nodes, edges, "chain")
  }

  test("two-phase CC handles degenerate graphs") {
    check(Seq(1L, 2L, 3L), Seq.empty, "no edges")
    check(Seq(5L), Seq((5L, 5L)), "self-loop only")
    val clique = (1L to 12L)
    check(clique, clique.flatMap(a => clique.map(b => (a, b))), "clique w/ self-loops")
    check(Seq(1L, 2L, 3L, 4L),
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L)), "dup + reversed edges")
  }

  test("two-phase CC reproduces the production min-label clusters on the fixture") {
    // same LSH edge set the d06 pipeline feeds its min-label loop:
    // labels from the two algorithms must agree cluster-for-cluster
    val sf = "/root/testdata/sf0.001"
    val d06 = graft.ops.Dedup.d06DedupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = graft.ops.Tables.documents(spark, sf).select(col("doc_id"))
    // reconstruct the edge set from the min-label result itself:
    // (member, cluster-min) pairs span exactly the same components
    val edges = d06.toSeq.filter { case (d, c) => d != c }
    import spark.implicits._
    val got = Dedup.ccTwoPhase(nodes,
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id1", "id2")
        else edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == d06, "two-phase labels differ from production min-label labels")
  }
}
