package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** COPY INTO (VERDICT r17 #4): incremental exactly-once ingestion of
  * a growing landing directory — per-file watermarks ride the
  * manifest txn map, so the loaded-set is atomic with each data
  * commit: re-runs load nothing, new files load exactly once across a
  * crash-replay, modified landing files fail loudly.
  */
class CopyIntoSpec extends AnyFunSuite with SparkSuite {
  private def landFile(dir: String, name: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_copy_stage").toString
    ids.map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(dir, name)): Unit
  }

  test("re-runs load nothing; new files load exactly once; mutation refuses") {
    import spark.implicits._
    val land = Files.createTempDirectory("graft_land").toString
    val t = Files.createTempDirectory("graft_copy").resolve("t").toString
    ManifestTable.write(spark,
      Seq.empty[(Long, String)].toDF("id", "v"), t)
    landFile(land, "a.parquet", 0L until 10L)
    landFile(land, "b.parquet", 10L until 15L)
    val (v1, n1) = ManifestTable.copyInto(spark, t, land)
    assert(n1 == 2 && ManifestTable.read(spark, t).count() == 15)
    // idempotent re-run: nothing fresh, no commit
    val (v2, n2) = ManifestTable.copyInto(spark, t, land)
    assert(n2 == 0 && v2 == v1,
      "a re-run over an unchanged landing dir must be a no-op")
    assert(ManifestTable.read(spark, t).count() == 15)
    // the dir grows: only the new file loads
    landFile(land, "c.parquet", 100L until 103L)
    val (v3, n3) = ManifestTable.copyInto(spark, t, land)
    assert(n3 == 1 && v3 == v1 + 1)
    assert(ManifestTable.read(spark, t).count() == 18)
    assert(ManifestTable.read(spark, t)
      .agg(sum("id")).head().getLong(0) ==
      (0L until 15L).sum + (100L until 103L).sum)
    // a modified landing file is a loud error, not a stale skip
    java.nio.file.Files.delete(java.nio.file.Paths.get(land, "b.parquet"))
    landFile(land, "b.parquet", 10L until 17L)
    new java.io.File(land, "b.parquet")
      .setLastModified(System.currentTimeMillis() + 5000): Unit
    val e = intercept[IllegalStateException](
      ManifestTable.copyInto(spark, t, land))
    assert(e.getMessage.contains("changed since"), e.getMessage)
    // FORCE reloads everything listed — the documented escape hatch
    val (_, nf) = ManifestTable.copyInto(spark, t, land, force = true)
    assert(nf == 3)
    assert(ManifestTable.read(spark, t).count() == 18 + 10 + 7 + 3)
  }

  test("crash-replay window: watermarks and rows land in ONE commit") {
    import spark.implicits._
    val land = Files.createTempDirectory("graft_land2").toString
    val t = Files.createTempDirectory("graft_copy2").resolve("t").toString
    ManifestTable.write(spark,
      Seq.empty[(Long, String)].toDF("id", "v"), t)
    landFile(land, "a.parquet", 0L until 5L)
    ManifestTable.copyInto(spark, t, land): Unit
    // the committed manifest itself carries the per-file watermark —
    // a replay consults exactly the state the data commit wrote
    val txns = ManifestTable.streamTxns(spark, t)
    assert(txns.keys.count(_.startsWith("copyfile:")) == 1)
    // replay with MORE files present: only the new one loads (the
    // crash-replay shape — the orchestrator re-runs the whole step)
    landFile(land, "b.parquet", 5L until 9L)
    val (_, n) = ManifestTable.copyInto(spark, t, land)
    assert(n == 1)
    assert(ManifestTable.read(spark, t).as[(Long, String)]
      .collect().map(_._1).sorted.toSeq == (0L until 9L))
  }

  test("SQL statement end-to-end with CSV options and schema enforcement") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val cat = s"cpcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_copy_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v STRING)")
    val land = Files.createTempDirectory("graft_land3").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(land, "x.csv"),
      "id,v\n1,a\n2,b\n".getBytes): Unit
    val r1 = spark.sql(s"COPY INTO $cat.db.t FROM '$land' " +
      "FILEFORMAT = CSV FORMAT_OPTIONS ('header'='true', " +
      "'inferSchema'='true')").collect()
    assert(r1.head.getInt(1) == 1)
    assert(spark.sql(s"SELECT sum(id) FROM $cat.db.t").head().getLong(0)
      == 3L)
    // re-run via SQL: files_loaded = 0
    val r2 = spark.sql(s"COPY INTO $cat.db.t FROM '$land' " +
      "FILEFORMAT = CSV FORMAT_OPTIONS ('header'='true', " +
      "'inferSchema'='true')").collect()
    assert(r2.head.getInt(1) == 0)
    // an incompatible landing file refuses BEFORE committing
    java.nio.file.Files.write(
      java.nio.file.Paths.get(land, "bad.csv"),
      "id,v\noops,1\n".getBytes): Unit
    intercept[IllegalArgumentException](
      spark.sql(s"COPY INTO $cat.db.t FROM '$land' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header'='true', 'inferSchema'='true')"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0)
      == 2L, "a refused COPY INTO must leave the table untouched")
  }

  test("FORMAT_OPTIONS parse: ')' inside a value survives; malformed pairs refuse") {
    // ADVICE r18: the option-list regex stopped at the first ')' and
    // silently dropped malformed pairs — options silently ignored.
    val cat = s"cpopt${new java.util.Random().nextInt(100000)}"
    val wh = Files.createTempDirectory("graft_copy_opt").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v STRING)")
    val land = Files.createTempDirectory("graft_land_opt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(land, "x.csv"),
      "id;v\n1;a)b\n".getBytes): Unit
    // a ')' INSIDE a quoted option value must not truncate the list —
    // the sep option after it must still apply
    val r = spark.sql(s"COPY INTO $cat.db.t FROM '$land' " +
      "FILEFORMAT = CSV FORMAT_OPTIONS ('comment'=')', " +
      "'header'='true', 'sep'=';', 'inferSchema'='true')").collect()
    assert(r.head.getInt(1) == 1)
    assert(spark.sql(s"SELECT v FROM $cat.db.t").head().getString(0)
      == "a)b", "options after a parenthesized value must apply")
    // unparsable residue refuses loudly instead of dropping the option
    val e = intercept[IllegalArgumentException](
      spark.sql(s"COPY INTO $cat.db.t FROM '$land' FILEFORMAT = CSV " +
        "FORMAT_OPTIONS ('header'='true', sep=';')"))
    assert(e.getMessage.contains("unparsed text"), s"got: $e")
  }
}
