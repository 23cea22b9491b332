package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** IDENTITY and GENERATED columns (VERDICT r17 missing #6, the other
  * two thirds): the catalog encodes the specs (Spark's default bridge
  * drops them), and the write paths synthesize values — identity from
  * a per-column watermark advanced atomically with each commit
  * (unique, step-aligned, gapped — the Delta contract), generated
  * from the expression, with explicit values verified or refused.
  */
class IdentityGeneratedSpec extends AnyFunSuite with SparkSuite {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCat(): (String, String) = {
    val cat = s"idcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_identity").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (cat, wh)
  }

  test("GENERATED ALWAYS AS IDENTITY: unique step-aligned values across commits") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 " +
      "INCREMENT BY 10), v STRING)")
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('a'), ('b'), ('c')")
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('d'), ('e')")
    val rows = spark.sql(s"SELECT id, v FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 5)
    val ids = rows.map(_._1)
    assert(ids.distinct.length == 5, s"identity values must be unique: ${ids.toSeq}")
    assert(ids.forall(i => i >= 100 && (i - 100) % 10 == 0),
      s"values start at 100, step 10 (gaps allowed): ${ids.toSeq}")
    // the SECOND commit's values sit strictly past the first's
    val firstMax = rows.filter(r => Set("a", "b", "c")(r._2)).map(_._1).max
    assert(rows.filter(r => Set("d", "e")(r._2)).map(_._1)
      .forall(_ > firstMax),
      "the watermark must advance atomically with each commit")
    // GENERATED ALWAYS refuses explicit values
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.t VALUES (999, 'x')"))
    assert(e.getMessage.contains("GENERATED ALWAYS AS IDENTITY"),
      e.getMessage)
  }

  test("GENERATED BY DEFAULT: explicit values accepted, watermark jumps past them") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (500, 'explicit')")
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('auto')")
    val ids = spark.sql(s"SELECT id FROM $cat.db.t")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.contains(500L))
    val auto = ids.filterNot(_ == 500L)
    assert(auto.length == 1 && auto.head > 500L,
      s"generated value must not collide with the explicit 500: $ids")
  }

  test("renaming or dropping a generation input refuses at DDL time") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (a BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (a * 2), x STRING)")
    spark.sql(s"INSERT INTO $cat.db.t (a, x) VALUES (1, 'p')")
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN a TO alpha"))
    assert(e1.getMessage.contains("generated column"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN a"))
    assert(e2.getMessage.contains("generated column"), e2.getMessage)
    // an UNREFERENCED column still renames/drops freely
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN x TO y")
    assert(spark.sql(s"SELECT y FROM $cat.db.t").head().getString(0) == "p")
  }

  test("identity columns must be BIGINT (narrower types would overflow-wrap)") {
    val (cat, _) = freshCat()
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.bad (" +
        "id INT GENERATED ALWAYS AS IDENTITY, v STRING)"))
    assert(e.getMessage.contains("BIGINT"), e.getMessage)
  }

  test("negative step descends; API appends synthesize too") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 0 " +
      "INCREMENT BY -5), v STRING)")
    // API append WITHOUT the identity column: synthesized
    ManifestTable.append(spark,
      Seq("x", "y").toDF("v"), s"$wh/db/t"): Unit
    ManifestTable.append(spark,
      Seq("z").toDF("v"), s"$wh/db/t"): Unit
    val ids = spark.sql(s"SELECT id FROM $cat.db.t")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.length == 3)
    assert(ids.forall(i => i <= 0 && i % 5 == 0), s"$ids")
  }

  test("GENERATED ALWAYS AS (expr): computed, verified, and usable in predicates") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.g (a BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (a * 2 + 1), lab STRING)")
    spark.sql(s"INSERT INTO $cat.db.g (a, lab) VALUES (1, 'p'), (2, 'q')")
    // explicit CONSISTENT values pass; inconsistent refuse loudly
    spark.sql(s"INSERT INTO $cat.db.g VALUES (10, 21, 'ok')")
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.g VALUES (10, 99, 'bad')"))
    assert(e.getMessage.contains("generated value"), e.getMessage)
    val got = spark.sql(s"SELECT a, b FROM $cat.db.g ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 5L), (10L, 21L)), s"$got")
    // the refused insert left the table untouched
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.g").head().getLong(0)
      == 3L)
    // skipping stats work on the generated column like any other
    assert(ManifestTable.readWhere(spark, s"$wh/db/g",
      col("b") === 5L).count() == 1)
  }

  test("row-level ops: UPDATE regenerates dependents, MERGE preserves/draws identity") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, a BIGINT, " +
      "b BIGINT GENERATED ALWAYS AS (a * 2))")
    spark.sql(s"INSERT INTO $cat.db.t (k, a) VALUES (1, 10), (2, 20)")
    val idsBefore = spark.sql(s"SELECT k, id FROM $cat.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // UPDATE of a generation INPUT regenerates the dependent — a
    // stale b would silently lie
    spark.sql(s"UPDATE $cat.db.t SET a = 11 WHERE k = 1")
    val row1 = spark.sql(s"SELECT a, b, id FROM $cat.db.t WHERE k = 1")
      .head()
    assert(row1.getLong(0) == 11L && row1.getLong(1) == 22L,
      s"generated column must regenerate after UPDATE, got $row1")
    assert(row1.getLong(2) == idsBefore(1L),
      "UPDATE must not reassign the identity value")
    // SET of a generated or identity column refuses loudly
    val e1 = intercept[Exception](
      spark.sql(s"UPDATE $cat.db.t SET b = 99 WHERE k = 1"))
    assert(e1.getMessage.contains("GENERATED"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql(s"UPDATE $cat.db.t SET id = 99 WHERE k = 1"))
    assert(e2.getMessage.contains("IDENTITY"), e2.getMessage)
    // SQL MERGE: the matched row keeps its id and regenerates b; the
    // inserted row draws a fresh unique id and computes b
    spark.sql(s"CREATE TABLE $cat.db.src (k BIGINT, a BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.src VALUES (2, 200), (3, 300)")
    spark.sql(s"MERGE INTO $cat.db.t t USING $cat.db.src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET a = s.a " +
      "WHEN NOT MATCHED THEN INSERT (k, a) VALUES (s.k, s.a)")
    val after = spark.sql(s"SELECT k, a, b, id FROM $cat.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(after.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 11L, 22L), (2L, 200L, 400L), (3L, 300L, 600L)),
      s"got ${after.toSeq}")
    assert(after.find(_._1 == 2L).get._4 == idsBefore(2L),
      "MERGE UPDATE must keep the target row's identity")
    assert(after.map(_._4).distinct.length == 3,
      s"identity values must stay unique: ${after.map(_._4).toSeq}")
    // API whole-row upsert: same inherit-or-draw contract
    import spark.implicits._
    ManifestTable.merge(spark,
      Seq((1L, 1000L), (9L, 900L)).toDF("k", "a"), s"$wh/db/t",
      keyCols = Seq("k")): Unit
    val up = spark.sql(s"SELECT k, b, id FROM $cat.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(up.map(t => (t._1, t._2)).toSeq ==
      Seq((1L, 2000L), (2L, 400L), (3L, 600L), (9L, 1800L)), s"${up.toSeq}")
    assert(up.find(_._1 == 1L).get._3 == idsBefore(1L),
      "whole-row upsert must inherit the replaced row's identity")
    assert(up.map(_._3).distinct.length == 4, s"${up.map(_._3).toSeq}")
  }

  test("INSERT OVERWRITE and replaceWhere synthesize; staged-bytes paths refuse") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, " +
      "c BIGINT GENERATED ALWAYS AS (k + 1))")
    spark.sql(s"INSERT INTO $cat.db.t (k) VALUES (1), (2)")
    val burned = spark.sql(s"SELECT max(id) FROM $cat.db.t")
      .head().getLong(0)
    // INSERT OVERWRITE keeps the definition: replacement rows draw
    // fresh ids (past the burned watermark) and compute c
    spark.sql(s"INSERT OVERWRITE $cat.db.t (k) SELECT * FROM VALUES " +
      "(10L), (20L)")
    val rows = spark.sql(s"SELECT id, k, c FROM $cat.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(t => (t._2, t._3)).toSeq == Seq((10L, 11L), (20L, 21L)),
      s"${rows.toSeq}")
    assert(rows.map(_._1).distinct.length == 2 &&
      rows.forall(_._1 > burned),
      s"overwrite rows draw fresh ids past $burned: ${rows.map(_._1).toSeq}")
    // replaceWhere synthesizes for the replacement slice
    val repl = Seq(100L).toDF("k")
    ManifestTable.replaceWhere(spark, repl, s"$wh/db/t",
      org.apache.spark.sql.functions.col("k") >= 100L): Unit
    val got = spark.sql(s"SELECT k, c, id FROM $cat.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq((10L, 11L), (20L, 21L), (100L, 101L)), s"${got.toSeq}")
    assert(got.map(_._3).distinct.length == 3, s"${got.map(_._3).toSeq}")
    // dynamic partition overwrite cannot synthesize into staged bytes
    val e = intercept[Exception](
      Seq((5L, 50L)).toDF("k", "id")
        .writeTo(s"$cat.db.t").overwritePartitions())
    assert(e.getMessage.contains("GENERATED") ||
      e.getMessage.contains("IDENTITY") ||
      Option(e.getCause).exists(_.getMessage.contains("GENERATED")),
      e.toString)
  }

  test("RESTORE never regresses the identity watermark") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('a')") // v2
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('b')") // v3
    val burned = spark.sql(s"SELECT id FROM $cat.db.t")
      .collect().map(_.getLong(0)).toSet
    ManifestTable.restore(spark, s"$wh/db/t", 2L): Unit
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('c')")
    val ids = spark.sql(s"SELECT id, v FROM $cat.db.t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ids.length == 2 && ids.map(_._1).distinct.length == 2)
    val cId = ids.find(_._2 == "c").get._1
    assert(!burned.contains(cId) || !ids.exists(x =>
      x._2 == "a" && x._1 == cId),
      s"post-restore insert must not re-issue a burned id: $cId in $burned")
    assert(cId > burned.max,
      s"watermark must survive the restore: got $cId, burned $burned")
  }

  test("PARTITIONED BY a generated column: Hive layout + pruning from the derived value") {
    val (cat, wh) = freshCat()
    // the Delta generated-partition recipe: partition by a DERIVED
    // day so writers only supply ts — synthesis runs before the
    // partitioned write, so the Hive dirs carry the computed values
    spark.sql(s"CREATE TABLE $cat.db.t (ts BIGINT, v STRING, " +
      "day BIGINT GENERATED ALWAYS AS (ts DIV 86400)) " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.db.t (ts, v) VALUES " +
      "(1000, 'a'), (90000, 'b'), (200000, 'c')")
    val rows = spark.sql(s"SELECT ts, day FROM $cat.db.t ORDER BY ts")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1000L, 0L), (90000L, 1L), (200000L, 2L)), s"$rows")
    val files = ManifestTable.currentFiles(spark, s"$wh/db/t")
    assert(files.forall(_.contains("day=")),
      s"generated values must land as Hive partition dirs: $files")
    // a filter on the GENERATED column partition-prunes
    val (kept, total) = ManifestTable.skippingReport(spark, s"$wh/db/t",
      col("day") === 1L)
    assert(total == 3 && kept == 1,
      s"partition pruning on the generated column: $kept/$total")
  }

  test("filters on the SOURCE column derive generated-partition pruning") {
    // VERDICT r18 #2 (the Delta OptimizeGeneratedColumn half): users
    // filter on the timestamp they have, not the synthesized day —
    // the implied bound on the generated partition column must prune
    // WITHOUT the predicate ever naming it.
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (ts BIGINT, v STRING, " +
      "day BIGINT GENERATED ALWAYS AS (ts DIV 86400)) " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO $cat.db.t (ts, v) VALUES " +
      "(1000, 'a'), (90000, 'b'), (200000, 'c')")
    val t = s"$wh/db/t"
    // predicate mentions ONLY ts; day=1 is the only overlapping dir
    val pred = col("ts") >= 86400L && col("ts") < 172800L
    val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
    assert(total == 3 && kept == 1,
      s"ts filter must derive day pruning: $kept/$total")
    // rows unchanged — derivation is prune-only
    val got = ManifestTable.readWhere(spark, t, pred)
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("b"), s"got $got")
    // the native FileIndex path derives too (a plain .filter on the
    // scan — the SQL text route): one file planned, same rows
    import org.apache.spark.sql.execution.FileSourceScanExec
    val filtered = ManifestTable.scan(spark, t).filter(pred)
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    val planned = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.size).sum
    assert(planned == 1, s"native scan must plan 1 file, got $planned")
    assert(filtered.count() == 1)

    // calendar shape: dt DATE GENERATED ALWAYS AS (to_date(ev)) —
    // timestamp bounds map through the session zone onto the ISO
    // partition-dir strings
    spark.sql(s"CREATE TABLE $cat.db.t2 (ev TIMESTAMP, v STRING, " +
      "dt DATE GENERATED ALWAYS AS (to_date(ev))) PARTITIONED BY (dt)")
    spark.sql(s"INSERT INTO $cat.db.t2 (ev, v) VALUES " +
      "(TIMESTAMP'2024-03-01 10:00:00', 'a'), " +
      "(TIMESTAMP'2024-03-02 11:30:00', 'b'), " +
      "(TIMESTAMP'2024-03-03 23:59:59', 'c')")
    val t2 = s"$wh/db/t2"
    val tsPred = col("ev") >=
      lit(java.sql.Timestamp.valueOf("2024-03-02 00:30:00")) &&
      col("ev") < lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00"))
    val (k2, n2) = ManifestTable.skippingReport(spark, t2, tsPred)
    assert(n2 == 3 && k2 == 1,
      s"timestamp filter must derive dt pruning: $k2/$n2")
    assert(ManifestTable.readWhere(spark, t2, tsPred)
      .collect().map(_.getString(1)).toSeq == Seq("b"))
    // equality derives both bounds; a day-spanning range keeps both
    assert(ManifestTable.skippingReport(spark, t2, col("ev") ===
      lit(java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))._1 == 1)
    assert(ManifestTable.skippingReport(spark, t2, col("ev") >
      lit(java.sql.Timestamp.valueOf("2024-03-02 05:00:00")))._1 == 2)
    // IN lists derive an OR-of-bands conjunct on the generated column
    assert(ManifestTable.skippingReport(spark, t2, col("ev").isin(
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
      java.sql.Timestamp.valueOf("2024-03-03 23:59:59")))._1 == 2,
      "an IN list on the source must prune to its days")
    assert(ManifestTable.readWhere(spark, t2, col("ev").isin(
      java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
      java.sql.Timestamp.valueOf("2024-03-03 23:59:59")))
      .collect().map(_.getString(1)).sorted.toSeq == Seq("a", "c"))
  }

  test("SYNC IDENTITY recomputes the watermark; clone TIMESTAMP AS OF parses") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (" +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)")
    // explicit rows jump far past the watermark
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1000, 'x'), (2000, 'y')")
    spark.sql(s"ALTER TABLE $cat.db.t SYNC IDENTITY")
    spark.sql(s"INSERT INTO $cat.db.t (v) VALUES ('auto')")
    val ids = spark.sql(s"SELECT id FROM $cat.db.t")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.length == 3)
    assert(ids.filterNot(Set(1000L, 2000L)).head > 2000L,
      s"after SYNC IDENTITY the next value clears the explicit max: $ids")
    // TIMESTAMP AS OF clone resolves through the commit timeline
    val tsRow = ManifestTable.history(spark, s"$wh/db/t")
      .orderBy(col("version").desc).select("ts_millis").head()
    val ts = java.time.Instant.ofEpochMilli(tsRow.getLong(0)).toString
    spark.sql(s"CREATE TABLE $cat.db.t2 SHALLOW CLONE $cat.db.t " +
      s"TIMESTAMP AS OF '$ts'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t2").head().getLong(0)
      == 3L)
  }

  test("identity through streaming micro-batches stays unique") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.s (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
    (0 until 5).foreach { b =>
      ManifestTable.appendStreamBatch(spark,
        Seq(s"b$b-0", s"b$b-1").toDF("v"), s"$wh/db/s",
        batchId = b, txnAppId = "idstream"): Unit
    }
    // a replayed batch must not re-assign (exactly-once)
    ManifestTable.appendStreamBatch(spark,
      Seq("b4-0", "b4-1").toDF("v"), s"$wh/db/s",
      batchId = 4, txnAppId = "idstream"): Unit
    val ids = spark.sql(s"SELECT id FROM $cat.db.s")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length == 10 && ids.distinct.length == 10,
      s"10 unique ids across 5 micro-batches + 1 replay: $ids")
  }
}
