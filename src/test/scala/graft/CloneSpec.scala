package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** SHALLOW CLONE (VERDICT r17 #3): zero-copy snapshot tables —
  * `cloneTable` / `CREATE TABLE t2 SHALLOW CLONE t1 [VERSION AS OF n]`.
  * The clone's v1 references the source's live files ABSOLUTELY (no
  * bytes move), both sides diverge freely afterwards, and the
  * source's vacuum honors the clone-protection marker instead of
  * reclaiming files only the clone still references.
  */
class CloneSpec extends AnyFunSuite with SparkSuite {
  private def fresh(name: String): String =
    Files.createTempDirectory("graft_clone").resolve(name).toString

  private def seed(t: String, n: Long = 40L): Unit = {
    import spark.implicits._
    val df = (0L until n).map(i => (i, i % 4, s"v$i")).toDF("id", "k", "v")
    ManifestTable.write(spark, df.repartitionByRange(4, col("id")), t)
  }

  private def localParquetCount(t: String): Int = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t)
    java.nio.file.Files.walk(root).iterator().asScala
      .count(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_manifests"))
  }

  test("clone reads identical with zero data copied; writes diverge both ways") {
    import spark.implicits._
    val src = fresh("src"); val cl = fresh("clone")
    seed(src)
    ManifestTable.cloneTable(spark, src, cl)
    // identical content, no local parquet bytes, absolute references
    assert(ManifestTable.read(spark, cl).orderBy("id").collect().toSeq ==
      ManifestTable.read(spark, src).orderBy("id").collect().toSeq)
    assert(localParquetCount(cl) == 0, "a SHALLOW clone must copy no data")
    val refs = ManifestTable.currentFiles(spark, cl)
    assert(refs.nonEmpty && refs.forall(_.startsWith("/")),
      s"clone references must be absolute, got ${refs.take(2)}")
    // divergence: append to the clone — source untouched
    ManifestTable.append(spark,
      Seq((100L, 9L, "c")).toDF("id", "k", "v"), cl)
    assert(ManifestTable.read(spark, cl).count() == 41)
    assert(ManifestTable.read(spark, src).count() == 40)
    // divergence: append to the source — clone pinned
    ManifestTable.append(spark,
      Seq((200L, 9L, "s")).toDF("id", "k", "v"), src)
    assert(ManifestTable.read(spark, cl).count() == 41)
    assert(ManifestTable.read(spark, src).count() == 41)
    // refusals: onto itself, onto an existing table
    intercept[IllegalArgumentException](
      ManifestTable.cloneTable(spark, src, src))
    intercept[IllegalArgumentException](
      ManifestTable.cloneTable(spark, src, cl))
  }

  test("VERSION AS OF pins the clone; row-level ops copy-on-write locally") {
    import spark.implicits._
    val src = fresh("src"); val cl = fresh("clone")
    seed(src) // v1: 40 rows
    ManifestTable.append(spark,
      Seq((100L, 9L, "late")).toDF("id", "k", "v"), src) // v2: 41
    ManifestTable.cloneTable(spark, src, cl, version = 1L)
    assert(ManifestTable.read(spark, cl).count() == 40,
      "clone at VERSION AS OF 1 must not see the v2 append")
    // CoW delete on the clone rewrites the hit ADOPTED file into the
    // clone's own data/ — the source keeps every byte
    val before = localParquetCount(src)
    ManifestTable.delete(spark, cl, col("id") === 3L): Unit
    assert(ManifestTable.read(spark, cl).count() == 39)
    assert(ManifestTable.read(spark, cl)
      .filter(col("id") === 3L).count() == 0)
    assert(localParquetCount(src) == before,
      "a clone's row-level op must never touch the source's files")
    assert(localParquetCount(cl) > 0,
      "the CoW rewrite lands under the clone's own root")
    assert(ManifestTable.read(spark, src, version = 1)
      .filter(col("id") === 3L).count() == 1)
    // skipping still works through absolute references: a point
    // lookup on the adopted stats prunes files
    assert(ManifestTable.readWhere(spark, cl, col("id") === 10L)
      .count() == 1)
  }

  test("source vacuum honors the clone marker; clone vacuum never touches the source") {
    import spark.implicits._
    val src = fresh("src"); val cl = fresh("clone")
    seed(src)
    ManifestTable.cloneTable(spark, src, cl)
    // source moves on: full overwrite makes the v1 files unreferenced
    // by every retained SOURCE version
    ManifestTable.write(spark,
      (0L until 10L).map(i => (i, 0L, "new")).toDF("id", "k", "v"), src)
    val report = ManifestTable.vacuumReport(spark, src,
      keepVersions = 1, graceMs = 0L)
    assert(report.filter(col("kind") === "data").count() == 0,
      "marker-protected files must not be slated for deletion")
    assert(report.filter(col("kind") === "clone-protected").count() > 0,
      "the dry run names what only clone markers keep alive")
    ManifestTable.vacuum(spark, src, keepVersions = 1, graceMs = 0L): Unit
    assert(ManifestTable.read(spark, cl).count() == 40,
      "source vacuum must not break the clone")
    assert(ManifestTable.read(spark, cl).orderBy("id")
      .select("v").as[String].head() == "v0")
    // the clone's own vacuum reclaims only under ITS root
    ManifestTable.append(spark,
      Seq((300L, 9L, "x")).toDF("id", "k", "v"), cl) // v2
    ManifestTable.vacuum(spark, cl, keepVersions = 1, graceMs = 0L): Unit
    assert(ManifestTable.read(spark, cl).count() == 41)
    assert(ManifestTable.read(spark, src).count() == 10)
    // dropping the marker releases the protection: next source vacuum
    // reclaims, and that is the operator's explicit call
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(
      new org.apache.hadoop.fs.Path(src, "_manifests/clones"))
    assert(markers.length == 1)
    fs.delete(markers.head.getPath, false): Unit
    assert(ManifestTable.vacuum(spark, src,
      keepVersions = 1, graceMs = 0L) > 0,
      "with the marker gone the adopted files become reclaimable")
  }

  test("chained clones: each referenced ROOT gets its own protection marker") {
    // ADVICE r18: a clone-of-clone adopts absolute paths into the
    // ORIGINAL root — releasing the intermediate clone's marker must
    // not let the original's vacuum reclaim files the second clone
    // still references.
    import spark.implicits._
    val a = fresh("a"); val b = fresh("b"); val c = fresh("c")
    seed(a)
    ManifestTable.cloneTable(spark, a, b)
    ManifestTable.cloneTable(spark, b, c) // adopts A-rooted absolutes
    val fs = new org.apache.hadoop.fs.Path(a).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val aMarkers = fs.listStatus(
      new org.apache.hadoop.fs.Path(a, "_manifests/clones"))
    assert(aMarkers.length == 2,
      s"the chained clone must record its own marker under the " +
        s"ORIGINAL root too, got ${aMarkers.length}")
    // release B entirely (the documented release step): drop B's
    // marker under A and delete B
    val bMarker = aMarkers.find { st =>
      val in = fs.open(st.getPath)
      val json = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      json.contains(new org.apache.hadoop.fs.Path(b).toUri.getPath)
    }.get
    fs.delete(bMarker.getPath, false): Unit
    fs.delete(new org.apache.hadoop.fs.Path(b), true): Unit
    // source moves on; vacuum with only C's marker left
    ManifestTable.write(spark,
      (0L until 5L).map(i => (i, 0L, "new")).toDF("id", "k", "v"), a)
    ManifestTable.vacuum(spark, a, keepVersions = 1, graceMs = 0L): Unit
    assert(ManifestTable.read(spark, c).count() == 40,
      "the original's vacuum must honor the chained clone's marker")
    assert(ManifestTable.read(spark, c).orderBy("id")
      .select("v").as[String].head() == "v0")
  }

  test("cloning a CONVERTED (adopted Hive-layout) source works end-to-end") {
    import spark.implicits._
    // a plain Hive-partitioned parquet dir, adopted in place, then
    // cloned: the clone's absolute references point at adopted
    // k=v/... files with no data/s marker — the other layout family
    val srcDir = Files.createTempDirectory("graft_clone_conv").toString
    (0L until 30L).map(i => (i, s"p${i % 3}", s"v$i")).toDF("id", "k", "v")
      .write.partitionBy("k").parquet(s"$srcDir/t")
    val src = s"$srcDir/t"
    ManifestTable.convertToGraft(spark, src): Unit
    val cl = fresh("clone")
    ManifestTable.cloneTable(spark, src, cl)
    assert(localParquetCount(cl) == 0)
    val r = ManifestTable.read(spark, cl)
    assert(r.count() == 30)
    // partition values resolve from the adopted paths through the
    // absolute references; pruning still applies
    assert(r.filter(col("k") === "p1").count() == 10)
    assert(ManifestTable.readWhere(spark, cl, col("id") === 7L)
      .select("v").head().getString(0) == "v7")
    // divergence: a CoW delete on the clone leaves the source intact
    ManifestTable.delete(spark, cl, col("id") < 3L): Unit
    assert(ManifestTable.read(spark, cl).count() == 27)
    assert(ManifestTable.read(spark, src).count() == 30)
  }

  test("clone carries deletion vectors and column mapping; SQL surface end-to-end") {
    import spark.implicits._
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val cat = s"clcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_clone_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (0L until 30L).map(i => (i, s"w$i")).toDF("id", "w")
      .createOrReplaceTempView("clone_seed")
    spark.sql(s"CREATE TABLE $cat.db.t AS SELECT * FROM clone_seed")
    // a rename activates column mapping; a DV delete leaves a sidecar
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN w TO word")
    ManifestTable.deleteVectors(spark, s"$wh/db/t",
      col("id") < 5L): Unit
    spark.sql(s"CREATE TABLE $cat.db.t2 SHALLOW CLONE $cat.db.t")
    val got = spark.sql(s"SELECT id, word FROM $cat.db.t2 ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got == (5L until 30L).map(i => (i, s"w$i")),
      "the clone reads through the source's DVs and mapping")
    // VERSION AS OF through SQL: v1 predates the rename → column `w`
    spark.sql(
      s"CREATE TABLE $cat.db.t1 SHALLOW CLONE $cat.db.t VERSION AS OF 1")
    assert(spark.sql(s"SELECT * FROM $cat.db.t1").columns.toSeq ==
      Seq("id", "w"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t1")
      .head().getLong(0) == 30L)
    // writes to the clone rename back through the inherited mapping
    spark.sql(s"INSERT INTO $cat.db.t2 VALUES (100, 'new')")
    assert(spark.sql(
      s"SELECT word FROM $cat.db.t2 WHERE id = 100").head().getString(0)
      == "new")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0)
      == 25L, "the source never sees the clone's insert")
  }
}
