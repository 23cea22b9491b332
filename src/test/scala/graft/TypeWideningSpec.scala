package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Zero-rewrite type widening (VERDICT r14 #4): a wider incoming type
  * (int→long, float→double, decimal growth) evolves the recorded
  * schema in one zero-file commit; existing files keep their narrow
  * physical encoding and every read path casts up; time travel reads
  * each version under its own recorded schema; narrowing refuses.
  */
class TypeWideningSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_widen").resolve("t").toString

  private val cnum = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCatalog(): (String, String) = {
    val cat = s"lakew${cnum.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_widen_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def narrow(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i, i.toFloat / 2, BigDecimal(i) / 100))
      .toDF("i", "f", "d")
      .select(col("i"), col("f"),
        col("d").cast(DecimalType(10, 2)).as("d"))
  }

  private def wide(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, i.toDouble / 2, BigDecimal(i) / 100))
      .toDF("i", "f", "d")
      .select(col("i"), col("f"),
        col("d").cast(DecimalType(14, 2)).as("d"))
  }

  test("widened append: zero-file schema change, old files read cast-up, time travel per-version") {
    val t = freshTable()
    ManifestTable.write(spark, narrow(0, 10), t) // v1: int/float/dec(10,2)
    val filesV1 = ManifestTable.currentFiles(spark, t).toSet
    ManifestTable.append(spark, wide(10, 15), t) // v2: WIDENS in place
    // the widening commit rewrote nothing: v1's files are all still live
    assert(filesV1.subsetOf(ManifestTable.currentFiles(spark, t).toSet),
      "widening must not rewrite existing files")
    val r = ManifestTable.read(spark, t)
    assert(r.schema("i").dataType == LongType &&
      r.schema("f").dataType == DoubleType &&
      r.schema("d").dataType == DecimalType(14, 2),
      s"current read serves the WIDENED schema, got ${r.schema.simpleString}")
    // every value — old narrow files included — served widened, exact
    val got = r.orderBy("i").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getDecimal(2).toString))
    assert(got.length == 15 && got.head == ((0L, 0.0, "0.00")) &&
      got(9) == ((9L, 4.5, "0.09")) && got(14) == ((14L, 7.0, "0.14")),
      s"got: ${got.take(3).mkString} .. ${got.last}")
    // time travel: v1 reads under its OWN (narrow) recorded schema
    val v1 = ManifestTable.read(spark, t, version = 1)
    assert(v1.schema("i").dataType == IntegerType &&
      v1.schema("f").dataType == FloatType &&
      v1.schema("d").dataType == DecimalType(10, 2),
      s"v1 must keep its era's schema, got ${v1.schema.simpleString}")
    // a narrower-than-recorded append AFTER widening still lands (its
    // values read widened) — the routine upstream-drift direction
    ManifestTable.append(spark, narrow(15, 18), t) // v3
    val r3 = ManifestTable.read(spark, t)
    assert(r3.schema("i").dataType == LongType)
    assert(r3.count() == 18 &&
      r3.agg(sum("i")).head().getLong(0) == (0 until 18).sum)
    // stats skipping still prunes on the widened column: a long-typed
    // predicate over files whose stats were recorded as ints
    val (kept, total) = ManifestTable.skippingReport(spark, t, col("i") >= 15L)
    assert(kept < total,
      s"stats pruning must survive widening: kept $kept of $total")
    assert(ManifestTable.readWhere(spark, t, col("i") >= 15L).count() == 3)
  }

  test("widening refuses what it cannot prove lossless") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark, narrow(0, 5), t)
    // long → int (narrowing) refuses at ALTER
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.widenColumnType(spark, t, "i", ByteType))
    assert(e1.getMessage.contains("lossless"), s"got: $e1")
    // double → float narrowing refuses on append
    ManifestTable.widenColumnType(spark, t, "f", DoubleType)
    // incompatible type still refuses on append (string vs int)
    val bad = Seq(("x", 1.0, BigDecimal(1))).toDF("i", "f", "d")
      .select(col("i"), col("f"), col("d").cast(DecimalType(10, 2)).as("d"))
    assertThrows[IllegalArgumentException](
      ManifestTable.append(spark, bad, t))
    // decimal growth that shrinks integer digits refuses: dec(10,2) →
    // dec(10,4) loses 2 integer digits
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.widenColumnType(spark, t, "d", DecimalType(10, 4)))
    assert(e2.getMessage.contains("lossless"), s"got: $e2")
    // ...while growing both precision and scale together is fine
    ManifestTable.widenColumnType(spark, t, "d", DecimalType(14, 4))
    assert(ManifestTable.read(spark, t).schema("d").dataType ==
      DecimalType(14, 4))
  }

  test("SQL surface: ALTER COLUMN TYPE widens; scan/insert serve the wide type") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.w (id INT, v FLOAT)")
    spark.sql(s"INSERT INTO $cat.db.w VALUES (1, 1.5), (2, 2.5)")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN v TYPE DOUBLE")
    // the DSv2 scan serves the widened schema over the narrow files
    val r = spark.sql(s"SELECT id, v FROM $cat.db.w ORDER BY id")
    assert(r.schema("id").dataType == LongType &&
      r.schema("v").dataType == DoubleType,
      s"got ${r.schema.simpleString}")
    assert(r.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    // inserts in the widened type land
    spark.sql(s"INSERT INTO $cat.db.w VALUES (${Long.MaxValue}, 9.25)")
    assert(spark.sql(s"SELECT max(id) FROM $cat.db.w").head().getLong(0)
      == Long.MaxValue)
    // narrowing refuses from SQL too (Spark's analyzer vets AlterColumns
    // with canUpCast before the catalog even sees it)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.w ALTER COLUMN id TYPE INT"))
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString
    assert(msg.contains("lossless") ||
      msg.contains("NOT_SUPPORTED_CHANGE_COLUMN"), s"got: $e")
  }

  test("CDC and DV reads across a widening boundary type-align") {
    val t = freshTable()
    ManifestTable.write(spark, narrow(0, 10), t) // v1 narrow
    ManifestTable.enableChangeFeed(spark, t) // v2
    ManifestTable.append(spark, wide(10, 12), t) // v3: widens
    // merge-on-read DV delete touching the NARROW files
    ManifestTable.deleteVectors(spark, t, col("i") === 3L) // v4
    val r = ManifestTable.read(spark, t)
    assert(r.schema("i").dataType == LongType)
    assert(r.count() == 11 && r.filter(col("i") === 3L).count() == 0,
      "DV anti-join must hold through the widening cast")
    // copy-on-write update rewrites a narrow file under the wide schema
    ManifestTable.update(spark, t, col("i") === 4L,
      Map("f" -> lit(99.5))) // v5
    // the row CDF spans pre- and post-widening commits: the multiset
    // diffs (exceptAll) must type-align via the cast-to-base
    val ch = ManifestTable.rowChanges(spark, t, 2)
    assert(ch.schema("i").dataType == LongType)
    val byType = ch.groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L),
      s"2 appends + dv-delete + PAIRED update images: $byType")
  }
}
