package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable

/** SOUNDNESS property for generated-column partition-filter
  * derivation: for random timestamp corpora and random source-column
  * predicates, a pruned read must return EXACTLY the rows a full scan
  * filters — a derived bound that drops a matching file would be data
  * loss, and this is the adversarial check on the floor/bump/zone
  * arithmetic (strict bounds at unit boundaries, week truncation,
  * DIV on negatives).
  */
class GeneratedPruningPropertySpec extends AnyFunSuite with SparkSuite {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCat(): (String, String) = {
    val cat = s"gppcat${n.incrementAndGet()}"
    val wh = java.nio.file.Files.createTempDirectory("graft_gpp").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (cat, wh)
  }

  test("random timestamp predicates: pruned reads equal full-scan filters") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (ts TIMESTAMP, id BIGINT, " +
      "dt DATE GENERATED ALWAYS AS (to_date(ts)), " +
      "hr TIMESTAMP GENERATED ALWAYS AS (date_trunc('hour', ts)), " +
      "yr INT GENERATED ALWAYS AS (year(ts))) PARTITIONED BY (dt)")
    val rnd = new scala.util.Random(4242)
    val base = java.time.Instant.parse("2024-02-26T00:00:00Z")
    // 400 rows over ~6 days, including exact midnight/hour boundaries
    val rows = (0 until 400).map { i =>
      val micros =
        if (i % 25 == 0) (i / 25) * 86400L * 1000000L // exact midnights
        else if (i % 7 == 0) rnd.nextInt(144) * 3600000000L // exact hours
        else rnd.nextLong() % (6L * 86400 * 1000000L) match {
          case x if x < 0 => -x
          case x => x
        }
      (java.sql.Timestamp.from(base.plusNanos(micros * 1000L)), i.toLong)
    }
    rows.toDF("ts", "id").createOrReplaceTempView("gpp_seed")
    spark.sql(s"INSERT INTO $cat.db.t (ts, id) SELECT ts, id FROM gpp_seed")
    val t = s"$wh/db/t"
    val full = ManifestTable.read(spark, t)
    var prunedSomething = false
    (0 until 60).foreach { k =>
      val a = java.sql.Timestamp.from(
        base.plusSeconds(rnd.nextInt(6 * 86400).toLong))
      val b = java.sql.Timestamp.from(
        base.plusSeconds(rnd.nextInt(6 * 86400).toLong))
      val pred = (k % 6) match {
        case 0 => col("ts") >= lit(a)
        case 1 => col("ts") < lit(a)
        case 2 => col("ts") > lit(a) && col("ts") <= lit(b)
        case 3 => col("ts") === lit(a)
        case 4 => col("ts").isin(a, b)
        case _ => col("ts").between(lit(a), lit(b))
      }
      val want = full.filter(pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = ManifestTable.readWhere(spark, t, pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want,
        s"predicate #$k ($pred) lost/gained rows: got ${got.size}, " +
          s"want ${want.size}")
      val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
      if (kept < total) prunedSomething = true
    }
    assert(prunedSomething,
      "at least some random predicates must actually prune")
  }

  test("periodic extraction shapes (month/day/hour): bounded ranges derive exact OR-sets") {
    // VERDICT r19 #6: month()/day()/hour() are periodic, not
    // monotone — a two-sided ts range derives a bounded OR-set on the
    // extraction partition column; a one-sided bound derives nothing.
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.m (ts TIMESTAMP, id BIGINT, " +
      "mo INT GENERATED ALWAYS AS (month(ts)), " +
      "dom INT GENERATED ALWAYS AS (day(ts)), " +
      "hod INT GENERATED ALWAYS AS (hour(ts))) PARTITIONED BY (mo)")
    val rnd = new scala.util.Random(99)
    val base = java.time.Instant.parse("2023-11-15T00:00:00Z")
    // ~14 months of coverage, so month partitions wrap a year boundary
    val span = 425L * 86400
    val rows = (0 until 500).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(
        math.abs(rnd.nextLong()) % span)), i.toLong)
    }
    rows.toDF("ts", "id").createOrReplaceTempView("gpp_mo_seed")
    spark.sql(s"INSERT INTO $cat.db.m (ts, id) SELECT ts, id FROM gpp_mo_seed")
    val t = s"$wh/db/m"
    val full = ManifestTable.read(spark, t)
    var prunedSomething = false
    (0 until 60).foreach { k =>
      val s0 = math.abs(rnd.nextLong()) % span
      // mostly narrow windows (hours..weeks) so derivation has teeth;
      // some wide/degenerate ones to probe the fail-open paths
      val w = (k % 5) match {
        case 0 => 3600L + rnd.nextInt(86400)
        case 1 => 86400L * (1 + rnd.nextInt(20))
        case 2 => 86400L * (40 + rnd.nextInt(400))
        case 3 => 0L
        case _ => 3600L * rnd.nextInt(72)
      }
      val a = java.sql.Timestamp.from(base.plusSeconds(s0))
      val b = java.sql.Timestamp.from(base.plusSeconds(s0 + w))
      val pred = (k % 3) match {
        case 0 => col("ts") >= lit(a) && col("ts") <= lit(b)
        case 1 => col("ts") > lit(a) && col("ts") < lit(b)
        case _ => col("ts").between(lit(a), lit(b))
      }
      val want = full.filter(pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = ManifestTable.readWhere(spark, t, pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want,
        s"predicate #$k ($pred): got ${got.size}, want ${want.size}")
      val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
      if (kept < total) prunedSomething = true
    }
    assert(prunedSomething, "narrow ts windows must prune month partitions")
    // one-sided bound: periodic shape derives nothing, read stays exact
    val oneSided = col("ts") >=
      lit(java.sql.Timestamp.from(base.plusSeconds(span - 86400L * 30)))
    val w2 = full.filter(oneSided).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val g2 = ManifestTable.readWhere(spark, t, oneSided).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(g2 == w2, "one-sided ts bound must not corrupt a periodic derive")
  }

  test("DIV shape on signed longs: derived pruning stays exact") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.d (v BIGINT, id BIGINT, " +
      "bucket BIGINT GENERATED ALWAYS AS (v DIV 100)) " +
      "PARTITIONED BY (bucket)")
    val rnd = new scala.util.Random(77)
    // signed values straddling zero — truncating division's sign
    // behavior is exactly where a floor/trunc confusion would bite
    val rows = (0 until 300).map(i =>
      (rnd.nextInt(2000) - 1000L, i.toLong))
    rows.toDF("v", "id").createOrReplaceTempView("gpp_div_seed")
    spark.sql(s"INSERT INTO $cat.db.d (v, id) SELECT v, id FROM gpp_div_seed")
    val t = s"$wh/db/d"
    val full = ManifestTable.read(spark, t)
    (0 until 40).foreach { k =>
      val a = rnd.nextInt(2200) - 1100L
      val b = rnd.nextInt(2200) - 1100L
      val pred = (k % 4) match {
        case 0 => col("v") >= a
        case 1 => col("v") < a
        case 2 => col("v") > math.min(a, b) && col("v") <= math.max(a, b)
        case _ => col("v") === a
      }
      val want = full.filter(pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = ManifestTable.readWhere(spark, t, pred).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"predicate #$k ($pred): got ${got.size}, " +
        s"want ${want.size}")
    }
  }
}
