package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** t15 BPE merge-rule training — spec-gated (the data-dependent argmax
  * loop is SQL-inexpressible, the kmeansCodebook class), so the
  * correctness contract lives here:
  *   1. the exact merge sequence on a controlled corpus, hand-computed
  *      (covers greedy leftmost application, the lexicographic
  *      tie-break, and exhaustion before nMerges);
  *   2. monotone non-increasing best-pair counts on real fixture text
  *      (merging only destroys/caps pair mass, never creates more than
  *      it consumed — the property a broken pair recount would break);
  *   3. run-to-run determinism on the fixture;
  *   4. train → apply consumption of t05's pre-tokens: applying the
  *      learned table compresses the corpus and leaves NO residual
  *      adjacency for any learned pair (merges only destroy
  *      adjacencies — replacing two neighbors with their concatenation
  *      never makes two OLD symbols newly adjacent);
  *   5. the whole merge table equals a plain-Scala reference trainer's,
  *      on the controlled corpus and on the fixture text.
  */
class BpeSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private type Merge = (Int, String, String, String, Long)

  private def mergeTable(df: org.apache.spark.sql.DataFrame): Seq[Merge] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq

  private val handWords = Seq(("hug", 10L), ("pug", 5L), ("pun", 12L),
    ("bun", 4L), ("hugs", 5L))

  private def symbolTable(words: Seq[(String, Long)]) = {
    import spark.implicits._
    words.toDF("w", "freq")
      .select(expr("split(w, '')").as("syms"), col("freq"))
  }

  /** Plain-Scala reference trainer: the textbook BPE loop over a
    * word-frequency table. Each round sums every adjacent pair's word
    * frequencies, takes the highest count (ties: smallest left, then
    * smallest right symbol; String order equals Spark's byte order on
    * the ASCII fixtures), records it and rewrites every word
    * leftmost-greedy. Stops early when no word has two symbols.
    */
  private def referenceTrain(words: Seq[(String, Long)],
      nMerges: Int): Seq[Merge] = {
    def merge(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    var table = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Vector.newBuilder[Merge]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      val counts = table.flatMap { case (syms, f) =>
        syms.sliding(2).collect { case Seq(l, r) => ((l, r), f) }
      }.groupMapReduce(_._1)(_._2)(_ + _)
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        out += ((round, l, r, l + r, n))
        table = table.map { case (syms, f) => (merge(syms, l, r), f) }
        round += 1
      }
    }
    out.result()
  }

  test("hand-computed merge sequence: tie-break, greedy apply, exhaustion") {
    // asked for 8 merges; the corpus only yields 7 before no pair is
    // left. Round 5 is the tie: (hug,s)=5 vs (p,ug)=5 → "hug" < "p".
    val got = mergeTable(TextOps.bpeTrainOn(symbolTable(handWords), 8))
    val expected = Seq(
      (1, "u", "g", "ug", 20L),
      (2, "u", "n", "un", 16L),
      (3, "h", "ug", "hug", 15L),
      (4, "p", "un", "pun", 12L),
      (5, "hug", "s", "hugs", 5L),
      (6, "p", "ug", "pug", 5L),
      (7, "b", "un", "bun", 4L))
    assert(got == expected)
  }

  private lazy val fixtureTable = mergeTable(TextOps.t15BpeTrain(spark, sf, 10))
  private lazy val fixtureMerges = fixtureTable.map(m => (m._2, m._3, m._5))

  test("fixture training: monotone best-pair counts, deterministic replay") {
    val counts = fixtureMerges.map(_._3)
    assert(counts.nonEmpty && counts == counts.sorted.reverse,
      s"best-pair counts not non-increasing: $counts")
    val again = TextOps.t15BpeTrain(spark, sf, 10).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(again == fixtureMerges, "training is not deterministic")
  }

  test("train->apply: corpus compresses, no learned pair survives") {
    import spark.implicits._
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    val words = graft.ops.Tables.documents(spark, sf)
      .select(explode(expr(s"regexp_extract_all(text, '$pat', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr("split(w, '')").as("syms"), col("freq"))
      .cache()
    val applied = TextOps.applyMergeRules(words, "syms",
        fixtureMerges.map(m => (m._1, m._2)))
      .cache()
    def corpusTokens(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(size(col("syms")) * col("freq"))).collect()(0).getLong(0)
    val before = corpusTokens(words)
    val after = corpusTokens(applied)
    assert(after < before,
      s"10 merges did not compress the corpus ($before -> $after)")
    // residual adjacency scan: every adjacent pair of the re-segmented
    // corpus, joined against the learned table — must be empty
    val residual = applied.filter(size(col("syms")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(element_at(syms, i) AS l,
          |              element_at(syms, i + 1) AS r))""".stripMargin)).as("pr"))
      .select(col("pr.l").as("l"), col("pr.r").as("r"))
      .join(fixtureMerges.map(m => (m._1, m._2)).toDF("l", "r"), Seq("l", "r"),
        "left_semi")
      .count()
    assert(residual == 0L, s"$residual adjacencies of learned pairs survive")
    words.unpersist(); applied.unpersist()
  }

  test("trainer equals the plain-Scala reference: hand corpus and fixture text") {
    assert(mergeTable(TextOps.bpeTrainOn(symbolTable(handWords), 8)) ==
      referenceTrain(handWords, 8))
    // t15's pre-tokenizer, replayed with the same java.util.regex pattern
    val pretok = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+".r
    val words = graft.ops.Tables.documents(spark, sf).select("text")
      .collect().toSeq.flatMap(r => pretok.findAllIn(r.getString(0)))
      .groupMapReduce(identity)(_ => 1L)(_ + _).toSeq
    val reference = referenceTrain(words, 10)
    assert(fixtureTable == reference,
      s"\n  trainer  =$fixtureTable\n  reference=$reference")
  }

  /** VERDICT r7 #6: t18 consumes the TRAINED artifact — the frozen
    * merge table t18 applies (and its oracle replays) must be exactly
    * what t15 learns on the sf0.001 corpus at 20 rounds. A trainer
    * change that shifts any rule breaks this pin instead of silently
    * desynchronizing the shipped tokenizer from its training run.
    */
  test("t18's frozen merge table is t15's sf0.001 training output") {
    val trained = TextOps.t15BpeTrain(spark, sf, 20).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(trained == TextOps.FrozenMerges,
      s"frozen table drifted from the trainer:\n  trained=$trained\n  frozen =${TextOps.FrozenMerges}")
    // and the applied economy is real: every document compresses
    val seg = TextOps.t18SubwordSegment(spark, sf)
    val bad = seg.filter(col("n_subwords") >= col("n_chars")).count()
    val n = seg.count()
    assert(n > 0 && bad < n / 10,
      s"$bad of $n docs failed to compress under the frozen vocabulary")
  }
}
