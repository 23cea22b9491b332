package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** ROW TRACKING (VERDICT r19 missing #7): stable unique row ids in a
  * hidden physical column, surviving copy-on-write rewrites,
  * compaction and merge-on-read DML — the exact-CDC join key. Ids are
  * unique, not dense; rows from before tracking (or via writers that
  * bypass the synthesizing funnel) read null. Plain reads never see
  * the internal column.
  */
class RowTrackingSpec extends AnyFunSuite with SparkSuite {
  private def fresh(): String =
    Files.createTempDirectory("graft_rt").resolve("t").toString

  private def tracked(): String = {
    import spark.implicits._
    val t = fresh()
    ManifestTable.write(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "pay")
        .repartition(4), t)
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.RowTrackingProp -> "true"))
    t
  }

  private def ids(t: String): Map[Long, Long] =
    ManifestTable.readWithRowIds(spark, t).select("id", "_row_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap

  test("appends assign unique ids; pre-tracking rows read null; plain read hides the column") {
    import spark.implicits._
    val t = tracked() // 200 rows written BEFORE tracking was enabled
    ManifestTable.append(spark,
      (200L until 300L).map(i => (i, s"v$i")).toDF("id", "pay")
        .repartition(3), t)
    ManifestTable.append(spark,
      (300L until 350L).map(i => (i, s"v$i")).toDF("id", "pay"), t)
    val m = ids(t)
    assert(m.size == 350)
    val preEra = m.filter(_._1 < 200L).values
    assert(preEra.forall(_ == -1L), "pre-tracking rows must read null ids")
    val assigned = m.filter(_._1 >= 200L).values.toSeq
    assert(assigned.forall(_ >= 0L), "tracked appends must assign ids")
    assert(assigned.distinct.size == assigned.size, "ids must be unique")
    // the hidden column never surfaces on the plain read paths
    assert(!ManifestTable.read(spark, t).columns.contains("_graft_row_id"))
    assert(!ManifestTable.readWhere(spark, t, col("id") > 0L)
      .columns.contains("_graft_row_id"))
    assert(ManifestTable.read(spark, t).count() == 350)
  }

  test("ids survive copy-on-write UPDATE, DV delete and compaction") {
    import spark.implicits._
    val t = fresh()
    ManifestTable.create(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pay",
          org.apache.spark.sql.types.StringType))),
      props = Map(ManifestTable.RowTrackingProp -> "true"))
    ManifestTable.append(spark,
      (0L until 300L).map(i => (i, s"v$i")).toDF("id", "pay")
        .repartitionByRange(3, col("id")), t)
    val before = ids(t)
    assert(before.values.toSeq.distinct.size == 300)
    // copy-on-write UPDATE: rewritten rows KEEP their ids
    ManifestTable.update(spark, t, col("id") % 10 === 3L,
      Map("pay" -> concat(col("pay"), lit("_u"))))
    val afterU = ids(t)
    assert(afterU == before, "a CoW update must not change any row id")
    assert(ManifestTable.read(spark, t)
      .filter(col("pay").endsWith("_u")).count() == 30)
    // merge-on-read delete: survivors keep ids trivially
    ManifestTable.deleteVectors(spark, t, col("id") < 20L)
    val afterD = ids(t)
    assert(afterD == before.filter(_._1 >= 20L))
    // compaction (materializes the DVs, rewrites everything): ids ride
    ManifestTable.compact(spark, t)
    assert(ids(t) == afterD, "compaction must carry every row id")
    // MoR update post-images inherit the matched rows' ids
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.UpdateModeProp -> "merge-on-read"))
    ManifestTable.update(spark, t, col("id") === 25L,
      Map("pay" -> lit("mor")))
    assert(ids(t) == afterD, "a MoR update must preserve the row id " +
      "through the post-image append")
    assert(ManifestTable.readWithRowIds(spark, t)
      .filter(col("pay") === "mor").count() == 1)
  }

  test("MERGE inherits ids for matched keys, draws fresh for inserts (CoW and clause-MoR)") {
    import spark.implicits._
    val t = fresh()
    ManifestTable.create(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pay",
          org.apache.spark.sql.types.StringType))),
      props = Map(ManifestTable.RowTrackingProp -> "true"))
    ManifestTable.append(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "pay")
        .repartitionByRange(2, col("id")), t)
    val before = ids(t)
    // whole-row CoW upsert: keys 90..109 (20 matched, 10 new)
    ManifestTable.merge(spark,
      (90L until 110L).map(i => (i, s"m$i")).toDF("id", "pay"), t,
      Seq("id"))
    val after = ids(t)
    assert(after.size == 110)
    (0L until 110L).foreach { k =>
      if (k < 100L) assert(after(k) == before(k),
        s"matched/untouched key $k must keep its id")
      else assert(after(k) >= 0L && !before.values.toSet(after(k)),
        s"inserted key $k must draw a fresh id")
    }
    // clause MERGE, merge-on-read: UPDATE keeps the id through the
    // post-image, INSERT draws fresh
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.MergeModeProp -> "merge-on-read"))
    val src = Seq((5L, "U"), (500L, "I")).toDF("id", "op")
    ManifestTable.mergeClauses(spark, src, t, Seq("id" -> "id"),
      matched = Seq(ManifestTable.MatchedClause(
        Some(col("s.op") === "U"),
        Some(Map("pay" -> lit("upd"))))),
      notMatched = Seq(ManifestTable.NotMatchedClause(
        Some(col("s.op") === "I"),
        Map("id" -> col("s.id"), "pay" -> lit("ins")))))
    val after2 = ids(t)
    assert(after2.size == 111)
    assert(after2(5L) == after(5L),
      "a clause-MoR UPDATE must keep the row id through the post-image")
    assert(after2(500L) >= 0L && !after.values.toSet(after2(500L)))
    assert(ManifestTable.read(spark, t)
      .filter(col("id") === 5L).head().getString(1) == "upd")
  }

  test("compacting an EMPTY tracked table is a typed no-op (review regression)") {
    // the compact funnel reads through readFiles now — an empty
    // snapshot must still read TYPED or the rewrite refuses
    val t = fresh()
    ManifestTable.create(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      props = Map(ManifestTable.RowTrackingProp -> "true"))
    ManifestTable.compact(spark, t)
    assert(ManifestTable.read(spark, t).count() == 0)
    assert(ManifestTable.read(spark, t).columns.toSeq == Seq("id"))
  }

  test("file-level CDF surfaces hide the row-id column (review regression)") {
    import spark.implicits._
    val t = tracked()
    ManifestTable.append(spark,
      Seq((900L, "z")).toDF("id", "pay"), t)
    assert(!ManifestTable.readChanges(spark, t, 0).columns
      .contains("_graft_row_id"))
    var seen: Seq[String] = Seq.empty
    ManifestTable.consumeChanges(spark, t, "rtleak") { (df, _, _) =>
      seen = df.columns.toSeq
    }
    assert(!seen.contains("_graft_row_id"), seen.toString)
  }

  test("watermark monotone across commits; disabled tables untouched") {
    import spark.implicits._
    val t = tracked()
    ManifestTable.append(spark,
      Seq((1000L, "x")).toDF("id", "pay"), t)
    val w1 = ManifestTable.tableProperties(spark, t)
      .get("graft.identity._graft_row_id.next").map(_.toLong)
    assert(w1.exists(_ > 0L), s"watermark must advance: $w1")
    ManifestTable.append(spark,
      Seq((1001L, "y")).toDF("id", "pay"), t)
    val w2 = ManifestTable.tableProperties(spark, t)
      .get("graft.identity._graft_row_id.next").map(_.toLong)
    assert(w2.get > w1.get, "watermark must be monotone")
    // a table WITHOUT the property never grows the column
    val t2 = fresh()
    ManifestTable.write(spark,
      Seq((1L, "a")).toDF("id", "pay"), t2)
    assert(!ManifestTable.readWithRowIds(spark, t2).columns
      .contains("_graft_row_id"))
    assert(ManifestTable.readWithRowIds(spark, t2)
      .select("_row_id").head().isNullAt(0))
  }
}
