package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Column DEFAULT values (VERDICT r17 missing #6) through the DSv2
  * capability: CREATE/ALTER declare them, INSERT fills omitted
  * columns and the explicit DEFAULT keyword, and rows in files
  * written BEFORE a column existed read the EXISTS default the DDL
  * froze — on the native scan path (parquet reader) AND the
  * union/mapped read paths (per-branch fill).
  */
class DefaultColumnsSpec extends AnyFunSuite with SparkSuite {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCat(): String = {
    val cat = s"defcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_default").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    cat
  }

  test("CREATE TABLE with DEFAULT: inserts fill omitted columns and the keyword") {
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, " +
      "status STRING DEFAULT 'new', score INT DEFAULT 40 + 2)")
    spark.sql(s"INSERT INTO $cat.db.t (id) VALUES (1)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 'done', DEFAULT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, DEFAULT, 7)")
    val got = spark.sql(
      s"SELECT id, status, score FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, "new", 42), (2L, "done", 42),
      (3L, "new", 7)))
  }

  test("ADD COLUMN DEFAULT: zero files rewritten, old rows read the frozen default") {
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val files1 = ManifestTable.currentFiles(spark, s"$wh/db/t")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN tier STRING DEFAULT 'basic'")
    assert(ManifestTable.currentFiles(spark, s"$wh/db/t") == files1,
      "ADD COLUMN DEFAULT must be a zero-file commit")
    // native scan path (SQL): old rows read the default, not null
    val sqlGot = spark.sql(
      s"SELECT id, tier FROM $cat.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(sqlGot == Seq((1L, "basic"), (2L, "basic")), s"got $sqlGot")
    // union read path (ManifestTable.read): same answer
    val apiGot = ManifestTable.read(spark, s"$wh/db/t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(apiGot == Seq((1L, "basic"), (2L, "basic")), s"got $apiGot")
    // new inserts: CURRENT default for omitted, explicit value wins,
    // explicit NULL stays null (default is not a NOT NULL rewrite)
    spark.sql(s"INSERT INTO $cat.db.t (id) VALUES (3)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (4, 'gold')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (5, NULL)")
    val all = spark.sql(s"SELECT id, tier FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(all == Seq((1L, "basic"), (2L, "basic"), (3L, "basic"),
      (4L, "gold"), (5L, null)), s"got $all")
    // predicate reads skip-plan over the default column correctly
    assert(ManifestTable.readWhere(spark, s"$wh/db/t",
      col("tier") === "basic").count() == 3)
  }

  test("era-spanning rewrite freezes the EXISTS default into rewritten files") {
    // ADVICE r18 high: a rewrite that unions files from before and
    // after ADD COLUMN ... DEFAULT must not let unionByName null-fill
    // the default column for pre-default rows — the rewritten files
    // would physically hold NULL and the rows would permanently lose
    // their frozen default (auto-compact triggers this with no DML).
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2)") // era 1
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN tier STRING DEFAULT 'basic'")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'gold')") // era 2
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val path = s"$wh/db/t"
    // scoped compaction selects BOTH eras' files and rewrites them
    ManifestTable.compact(spark, path, where = Some(col("id") >= 1))
    val got = spark.sql(s"SELECT id, tier FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "basic"), (2L, "basic"), (3L, "gold")),
      s"post-compact rows must keep the frozen default, got $got")
    // and PHYSICALLY: the rewritten files carry 'basic', not null —
    // the default is frozen into the bytes, not re-served by a fill
    val files = ManifestTable.currentFiles(spark, path)
    val raw = spark.read.parquet(files.map(f => s"$path/$f"): _*)
    val nulls = raw.filter(col("tier").isNull).count()
    assert(nulls == 0,
      s"rewritten files must not hold physical NULLs for the default " +
        s"column ($nulls found)")
    // row-level DELETE spanning both eras keeps the survivors' default
    ManifestTable.delete(spark, path, col("id") === 2L)
    val after = spark.sql(s"SELECT id, tier FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after == Seq((1L, "basic"), (3L, "gold")), s"got $after")
  }

  test("replaceWhere matches pre-ALTER rows by their EXISTS default") {
    import spark.implicits._
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2)")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN tier STRING DEFAULT 'basic'")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'gold')")
    val path = s"${spark.conf.get(s"spark.sql.catalog.$cat.warehouse")}/db/t"
    // the 'basic' slice is rows 1 and 2, whose file has no tier column:
    // matching must read them with the frozen default, as every read does
    ManifestTable.replaceWhere(spark,
      Seq((10L, "basic")).toDF("id", "tier"), path, col("tier") === "basic")
    val got = ManifestTable.read(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "gold"), (10L, "basic")), s"got $got")
  }

  test("SET/DROP DEFAULT govern future inserts; frozen EXISTS default survives") {
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN v STRING DEFAULT 'v1'")
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN v SET DEFAULT 'v2'")
    spark.sql(s"INSERT INTO $cat.db.t (id) VALUES (2)")
    // row 1 predates the column: the FROZEN 'v1'; row 2 inserted
    // under the new current default 'v2'
    val got = spark.sql(s"SELECT id, v FROM $cat.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "v1"), (2L, "v2")), s"got $got")
    spark.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN v DROP DEFAULT")
    spark.sql(s"INSERT INTO $cat.db.t (id) VALUES (3)")
    val third = spark.sql(s"SELECT v FROM $cat.db.t WHERE id = 3").head()
    assert(third.isNullAt(0),
      "after DROP DEFAULT an omitted column inserts null")
  }

  test("defaults compose with column mapping: rename keeps serving them") {
    val cat = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMN grade STRING DEFAULT 'c'")
    // activating column mapping routes reads through the mapped path
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN grade TO rank")
    val got = spark.sql(s"SELECT id, rank FROM $cat.db.t").head()
    assert(got.getString(1) == "c",
      s"mapped read must serve the exists default, got $got")
    spark.sql(s"INSERT INTO $cat.db.t (id) VALUES (2)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE rank = 'c'")
      .head().getLong(0) == 2L)
  }
}
