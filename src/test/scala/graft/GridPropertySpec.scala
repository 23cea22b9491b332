package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Scale

/** Randomized (deterministically seeded) equivalence property for the
  * grid-salted pair generator: for ANY block structure and ANY cell
  * cap — including cap=1, forced maximal splitting — the emitted pair
  * set equals the plain blocked self-join's. This is the invariant the
  * d04/d05 oracles rely on.
  */
class GridPropertySpec extends AnyFunSuite with SparkSuite {
  test("grid pair set == plain pair set over random block structures") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    (1 to 5).foreach { trial =>
      val nBlocks = 1 + rnd.nextInt(4)
      val rows = (0 until nBlocks).flatMap { b =>
        val size = rnd.nextInt(60) // empty blocks allowed
        (0 until size).map(_ => (rnd.nextLong().abs % 100000L, s"b$b"))
      }.distinct
      val df = rows.toDF("id", "blk")
      val a = df.select(col("id").as("id1"), col("blk"))
      val b = df.select(col("id").as("id2"), col("blk"))
      val plain = a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
      val cap = Seq(1, 3, 10)(rnd.nextInt(3))
      val grid = Scale.gridSelfJoinPairs(a, b, Seq("blk"), "id1", "id2",
          rowsPerCell = cap)
        .select(least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
        .as[(Long, Long)].collect().toSet
      assert(grid == plain,
        s"trial $trial (blocks=$nBlocks, cap=$cap): grid != plain; " +
          s"missing=${(plain -- grid).take(3)} extra=${(grid -- plain).take(3)}")
    }
  }

  /** The 100×-skew claim as a regression test: a one-hot block (the
    * real-corpus shape — one dominant language/label) must (a) engage
    * the grid, (b) cap per-cell pair work near rowsPerCell² instead of
    * the block's quadratic total, and (c) emit exactly the plain
    * join's pair set. Cell assignment here replays the operator's own
    * pmod(hash(id), cells) so the per-cell counts measured are the
    * ones its shuffle actually produces.
    */
  test("skew governor: one-hot block engages the grid, bounds per-cell work, same pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val ids = Iterator.continually(rnd.nextLong().abs % 1000000L)
      .distinct.take(255).toSeq
    val rows = ids.take(240).map(id => (id, "en")) ++
      ids.slice(240, 250).map((_, "fr")) ++ ids.slice(250, 255).map((_, "de"))
    val df = rows.toDF("id", "blk")
    val a = df.select(col("id").as("id1"), col("blk"))
    val b = df.select(col("id").as("id2"), col("blk"))
    val cap = 30
    val grid = Scale.gridSelfJoinPairs(a, b, Seq("blk"), "id1", "id2",
      rowsPerCell = cap, maxCells = 8)

    // (a) engaged: the grid path (and only it) replicates via explode
    assert(grid.queryExecution.executedPlan.toString.contains("Generate"),
      "grid did not engage on a 240-row block with cap 30")

    // (c) identical pair set
    val plain = a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .select(col("blk"), col("id1"), col("id2"))
    val plainSet = plain.as[(String, Long, Long)].collect().toSet
    val gridSet = grid
      .select(col("blk"), least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
      .as[(String, Long, Long)].collect().toSet
    assert(gridSet == plainSet,
      s"missing=${(plainSet -- gridSet).take(3)} extra=${(gridSet -- plainSet).take(3)}")

    // (b) per-cell pair work: en splits into ceil(240/30)=8 cells,
    // fr/de stay whole; replay the operator's cell assignment
    val perCell = plain
      .withColumn("cells", when(col("blk") === "en", lit(8)).otherwise(lit(1)))
      .withColumn("s1", pmod(hash(col("id1")), col("cells")))
      .withColumn("s2", pmod(hash(col("id2")), col("cells")))
      .groupBy(col("blk"), least(col("s1"), col("s2")), greatest(col("s1"), col("s2")))
      .count()
    val maxCell = perCell.agg(max(col("count"))).head().getLong(0)
    val hotBlockPairs = 240L * 239L / 2   // what ONE task owns without the grid
    assert(maxCell <= 2L * cap * cap,
      s"per-cell pair count $maxCell exceeds 2*cap^2 = ${2 * cap * cap}")
    assert(maxCell * 10 <= hotBlockPairs,
      s"grid gives <10x reduction: $maxCell vs $hotBlockPairs")
  }

  /** Census cardinality guard: a near-unique block key must not flood
    * the driver. The census is collected through limit(cap + 1), so at
    * most cap + 1 rows can ever reach the driver by construction; past
    * the cap the operator falls back to the plain join (no Generate)
    * with the pair set unchanged. Blocks here are sized to EXCEED
    * rowsPerCell, proving it is the census guard — not the skew
    * check — that picks the plain branch.
    */
  test("census guard: near-unique block key skips the census, same pairs, no grid") {
    import spark.implicits._
    // 50 blocks of 3 rows each: every block is over rowsPerCell=1, so
    // without the guard the grid would engage on all of them
    val rows = (0 until 150).map(i => (i.toLong, s"blk${i / 3}"))
    val df = rows.toDF("id", "blk")
    val a = df.select(col("id").as("id1"), col("blk"))
    val b = df.select(col("id").as("id2"), col("blk"))
    val guarded = Scale.gridSelfJoinPairs(a, b, Seq("blk"), "id1", "id2",
      rowsPerCell = 1, maxCells = 8, maxCensusBlocks = 10)
    assert(!guarded.queryExecution.executedPlan.toString.contains("Generate"),
      "guard tripped but the grid path (Generate) was still planned")
    val plainSet = a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
    val guardedSet = guarded
      .select(least(col("id1"), col("id2")), greatest(col("id1"), col("id2")))
      .as[(Long, Long)].collect().toSet
    assert(guardedSet == plainSet,
      s"missing=${(plainSet -- guardedSet).take(3)} extra=${(guardedSet -- plainSet).take(3)}")

    // and below the cap the grid still engages (guard is not always-plain)
    val ungated = Scale.gridSelfJoinPairs(a, b, Seq("blk"), "id1", "id2",
      rowsPerCell = 1, maxCells = 8, maxCensusBlocks = 1000)
    assert(ungated.queryExecution.executedPlan.toString.contains("Generate"),
      "with a roomy census cap the same input must take the grid path")
  }
}
