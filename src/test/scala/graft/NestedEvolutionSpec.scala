package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Nested-type schema evolution (VERDICT r17 #2): struct-field ADD /
  * RENAME / WIDEN as zero-file schema commits — old files keep their
  * bytes, reads conform the struct shape (null-fill / stamped
  * physical names / leaf widening), writes rename back to physical,
  * and each version time-travels under its own nested shape.
  */
class NestedEvolutionSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_nested").resolve("t").toString

  /** rows: (id, meta STRUCT<a BIGINT, b STRING>) */
  private def seed(t: String, n: Long = 40L): Unit = {
    import spark.implicits._
    val df = (0L until n).map(i => (i, i * 2, s"b$i")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta"))
    ManifestTable.write(spark, df.repartitionByRange(4, col("id")), t)
  }

  test("nested ADD: appends with an extra struct field null-fill old files") {
    import spark.implicits._
    val t = freshTable()
    seed(t) // v1: meta<a,b>
    val files1 = ManifestTable.currentFiles(spark, t)
    // append evolution: incoming struct carries meta.tag
    val more = (100L until 110L).map(i => (i, i * 2, s"b$i", s"t$i"))
      .toDF("id", "a", "b", "tag")
      .select(col("id"),
        struct(col("a"), col("b"), col("tag")).as("meta"))
    ManifestTable.append(spark, more, t) // v2
    assert(ManifestTable.currentFiles(spark, t).toSet
      .intersect(files1.toSet) == files1.toSet,
      "nested add must not rewrite the old files")
    val r = ManifestTable.read(spark, t)
    assert(r.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b", "tag"))
    assert(r.filter(col("id") < 100L && col("meta.tag").isNull)
      .count() == 40, "old rows read the new nested field as null")
    assert(r.filter(col("meta.tag").startsWith("t")).count() == 10)
    // time travel: v1 reads the original nested shape
    assert(ManifestTable.read(spark, t, version = 1)
      .schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b"))
    // DDL nested add (no data at all): meta.note appears null-filled
    ManifestTable.addNestedColumn(spark, t, Seq("meta", "note"), StringType)
    val r2 = ManifestTable.read(spark, t)
    assert(r2.filter(col("meta.note").isNotNull).count() == 0)
    assert(r2.count() == 50)
  }

  test("nested WIDEN: int leaf widens to long, old narrow files read wide") {
    import spark.implicits._
    val t = freshTable()
    val df = (0L until 40L).map(i => (i, i.toInt, s"b$i")).toDF("id", "a", "b")
      .select(col("id"),
        struct(col("a").cast(IntegerType).as("a"), col("b")).as("meta"))
    ManifestTable.write(spark, df.repartitionByRange(4, col("id")), t) // v1
    val files1 = ManifestTable.currentFiles(spark, t)
    // widen meta.a int -> long by DDL (zero files)
    ManifestTable.widenColumnTypePath(spark, t, Seq("meta", "a"), LongType)
    assert(ManifestTable.currentFiles(spark, t) == files1)
    val r = ManifestTable.read(spark, t)
    assert(r.schema("meta").dataType.asInstanceOf[StructType]("a")
      .dataType == LongType)
    assert(r.agg(sum(col("meta.a"))).head().getLong(0) ==
      (0L until 40L).sum)
    // appends with LONG values now land without a rewrite
    val more = Seq((100L, 5000000000L, "big"))
      .toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta"))
    ManifestTable.append(spark, more, t)
    assert(ManifestTable.read(spark, t)
      .filter(col("meta.a") > 4000000000L).count() == 1)
    // widening by APPEND evolution (no DDL): long incoming on an int
    // recorded leaf widens the recorded schema in place
    val t2 = freshTable()
    ManifestTable.write(spark, df, t2)
    ManifestTable.append(spark, more, t2)
    assert(ManifestTable.read(spark, t2)
      .schema("meta").dataType.asInstanceOf[StructType]("a")
      .dataType == LongType)
    assert(ManifestTable.read(spark, t2).count() == 41)
    // a genuine nested conflict still refuses before any commit
    val bad = Seq((200L, "oops", "x")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("meta"))
    val e = intercept[IllegalArgumentException](
      ManifestTable.append(spark, bad, t2))
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("nested RENAME: zero files, round-trips reads/writes, physical name on disk") {
    import spark.implicits._
    val t = freshTable()
    seed(t) // v1
    val files1 = ManifestTable.currentFiles(spark, t)
    val v = ManifestTable.renameColumnPath(spark, t, Seq("meta", "a"), "alpha")
    assert(v == 2L)
    assert(ManifestTable.currentFiles(spark, t) == files1,
      "a nested rename must not touch any data file")
    // read() and scan() serve the new nested name with the old data
    val r = ManifestTable.read(spark, t)
    assert(r.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("alpha", "b"))
    assert(r.agg(sum(col("meta.alpha"))).head().getLong(0) ==
      (0L until 40L).map(_ * 2).sum)
    assert(ManifestTable.scan(spark, t)
      .filter(col("meta.alpha") === 10L).count() == 1)
    // time travel: v1 still reads meta.a
    assert(ManifestTable.read(spark, t, version = 1)
      .schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b"))
    // appends use the LOGICAL name and write the PHYSICAL one
    val more = (100L until 105L).map(i => (i, i * 2, s"b$i"))
      .toDF("id", "alpha", "b")
      .select(col("id"), struct(col("alpha"), col("b")).as("meta"))
    ManifestTable.append(spark, more, t) // v3
    val all = ManifestTable.read(spark, t)
    assert(all.count() == 45)
    assert(all.filter(col("meta.alpha") === 208L).count() == 1)
    // the NEW file's raw parquet carries the stamped physical name `a`
    val newFiles = ManifestTable.currentFiles(spark, t)
      .filterNot(files1.contains)
    assert(newFiles.nonEmpty)
    val raw = spark.read.parquet(newFiles.map(f => s"$t/$f"): _*)
    // top-level physical names are mapping-stamped; find the struct col
    val rawMeta = raw.schema.fields
      .find(_.dataType.isInstanceOf[StructType]).get
    assert(rawMeta.dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b"),
      s"physical nested name must be stable, got ${raw.schema}")
    // NULL structs stay null through the conforming rebuild
    val withNull = Seq((200L, None: Option[(Long, String)]))
      .toDF("id", "meta")
    ManifestTable.append(spark, withNull
      .select(col("id"), col("meta").cast(
        ManifestTable.read(spark, t).schema("meta").dataType)), t)
    assert(ManifestTable.read(spark, t)
      .filter(col("meta").isNull).count() == 1)
    // resurrect guard: a new nested field named like the renamed-away
    // physical name refuses (it would read the old files' data)
    val e = intercept[IllegalArgumentException](
      ManifestTable.addNestedColumn(spark, t, Seq("meta", "a"), LongType))
    assert(e.getMessage.contains("physical name"), e.getMessage)
    // row-level ops keep working on the nested-mapped table
    ManifestTable.delete(spark, t, col("meta.alpha") === 0L): Unit
    assert(ManifestTable.read(spark, t).filter(col("id") === 0L)
      .count() == 0)
  }

  test("SQL ALTER TABLE addresses nested fields; unrelated projections stay pruned") {
    import spark.implicits._
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val cat = s"nest${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_nested_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (0L until 20L).map(i => (i, i.toInt, s"b$i")).toDF("id", "a", "b")
      .select(col("id"),
        struct(col("a").cast(IntegerType).as("a"), col("b")).as("meta"))
      .createOrReplaceTempView("nest_seed")
    spark.sql(s"CREATE TABLE $cat.db.t AS SELECT * FROM nest_seed")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (meta.tag STRING)")
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN meta.a TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN meta.b TO label")
    val got = spark.sql(s"SELECT id, meta.a AS a, meta.label AS l, " +
      s"meta.tag AS tag FROM $cat.db.t WHERE meta.a >= 15 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(got == (15L until 20L).map(i => (i, i, s"b$i", null)), s"got $got")
    // a projection that never touches meta must not read it: nested
    // evolution must not widen the scan (100 TB posture)
    val plan = spark.sql(s"SELECT id FROM $cat.db.t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("meta"),
      s"id-only projection must prune the struct entirely:\n$plan")
  }
}
