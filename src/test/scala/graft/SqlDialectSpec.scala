package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The Delta-dialect maintenance statements (GraftSqlParser via
  * injectParser): VACUUM / OPTIMIZE / DESCRIBE HISTORY|DETAIL /
  * RESTORE as first-class SQL, with untouched fallthrough for
  * everything else.
  */
class SqlDialectSpec extends AnyFunSuite with SparkSuite {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCatalog(): (String, String) = {
    val cat = s"dial${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_dialect").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (cat, wh)
  }

  test("CREATE TABLE ... CLUSTER BY: SQL text alone declares, prunes, round-trips") {
    // VERDICT r18 #6: the liquid-clustering DDL users type, mapped
    // onto graft.write.clusterBy — create → insert → prune from SQL
    // text alone, and SHOW CREATE TABLE round-trips the declaration.
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) " +
      "CLUSTER BY (k)")
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .exists(r => r.getString(0) == ManifestTable.WriteClusterByProp &&
        r.getString(1) == "k"),
      "CLUSTER BY must land on the write-clustering property")
    // shuffled inserts: only the declared clustering separates ranges
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try (1 to 2).foreach { seed =>
      val r = new scala.util.Random(seed)
      r.shuffle((0L until 4000L).toList)
        .map(k => (k, s"v$k"))
        .toDF("k", "v").repartition(8).createOrReplaceTempView("cb_seed")
      spark.sql(s"INSERT INTO $cat.db.t SELECT k, v FROM cb_seed")
    } finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.enabled")
    val t = s"$wh/db/t"
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("k") === 1234L)
    assert(total >= 8 && kept <= 2,
      s"SQL-declared clustering must prune a point lookup: $kept/$total")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k = 1234")
      .head().getLong(0) == 2L)
    // SHOW CREATE TABLE round-trips: the rendered text re-creates a
    // table with the same clustering declaration
    val sct = spark.sql(s"SHOW CREATE TABLE $cat.db.t").head().getString(0)
    assert(sct.contains("cluster_by(k)") || sct.contains("CLUSTER BY"),
      s"rendered DDL must carry the clustering: $sct")
    val rt = sct.replace(s"$cat.db.t", s"$cat.db.t2")
      .replaceAll("(?s)LOCATION '[^']*'\\s*", "")
    spark.sql(rt)
    assert(spark.sql(s"SHOW TBLPROPERTIES $cat.db.t2").collect()
      .exists(r => r.getString(0) == ManifestTable.WriteClusterByProp &&
        r.getString(1) == "k"), "round-trip must keep the clustering")
    // an agreeing TBLPROPERTIES spelling coexists; a conflicting one
    // refuses at CREATE
    spark.sql(s"CREATE TABLE $cat.db.t3 (k BIGINT) CLUSTER BY (k) " +
      s"TBLPROPERTIES ('${ManifestTable.WriteClusterByProp}' = 'k')")
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.t4 (k BIGINT, j BIGINT) " +
        s"CLUSTER BY (k) " +
        s"TBLPROPERTIES ('${ManifestTable.WriteClusterByProp}' = 'j')"))
    assert(e.getMessage.contains("conflicts"), s"got: $e")
    // ALTER TABLE ... CLUSTER BY re-declares; CLUSTER BY NONE unsets
    spark.sql(s"ALTER TABLE $cat.db.t3 CLUSTER BY (k)")
    spark.sql(s"ALTER TABLE $cat.db.t3 CLUSTER BY NONE")
    assert(!spark.sql(s"SHOW TBLPROPERTIES $cat.db.t3").collect()
      .exists(_.getString(0) == ManifestTable.WriteClusterByProp),
      "CLUSTER BY NONE must unset the property")
  }

  test("OPTIMIZE tail split is quote-aware: literals containing ZORDER stay predicates") {
    import org.apache.spark.sql.GraftSqlDialect
    import org.apache.spark.sql.GraftSqlDialect.GraftOptimizeCommand
    spark.sparkContext // ensure an active session exists
    def opt(sql: String): GraftOptimizeCommand =
      GraftSqlDialect.parse(sql, null).get
        .asInstanceOf[GraftOptimizeCommand]
    // a literal containing "ZORDER BY (" is NOT clustering columns
    val c1 = opt("OPTIMIZE a.b.t WHERE note = 'use ZORDER BY (x) ok'")
    assert(c1.where.contains("note = 'use ZORDER BY (x) ok'") &&
      c1.zorder.isEmpty, s"got $c1")
    // ... and a real ZORDER clause after such a literal still parses
    val c2 = opt("OPTIMIZE a.b.t WHERE note = 'ZORDER BY (x)' " +
      "ZORDER BY (id, tag)")
    assert(c2.where.contains("note = 'ZORDER BY (x)'") &&
      c2.zorder == Seq("id", "tag"), s"got $c2")
    // plain forms unchanged
    assert(opt("OPTIMIZE a.b.t") ==
      GraftOptimizeCommand("a.b.t", None, Seq.empty))
    assert(opt("OPTIMIZE a.b.t ZORDER BY (id)") ==
      GraftOptimizeCommand("a.b.t", None, Seq("id")))
    assert(opt("OPTIMIZE a.b.t WHERE id < 3") ==
      GraftOptimizeCommand("a.b.t", Some("id < 3"), Seq.empty))
    // a backquoted identifier containing ZORDER is not a clause either
    val c3 = opt("OPTIMIZE a.b.t WHERE `zorder by (q` = 1")
    assert(c3.where.contains("`zorder by (q` = 1") && c3.zorder.isEmpty)
    // backslash escapes (Spark's default literal escaping): \' must
    // not close the literal and leak its tail to top level (ADVICE r16)
    val c4 = opt("""OPTIMIZE a.b.t WHERE note = 'it\'s ZORDER BY (x)'""")
    assert(c4.where.contains("""note = 'it\'s ZORDER BY (x)'""") &&
      c4.zorder.isEmpty, s"got $c4")
    // ... while a real clause after an escaped literal still parses
    val c5 = opt("""OPTIMIZE a.b.t WHERE note = 'it\'s fine' """ +
      "ZORDER BY (id)")
    assert(c5.where.contains("""note = 'it\'s fine'""") &&
      c5.zorder == Seq("id"), s"got $c5")
    // doubled-quote escaping keeps working via close-then-reopen
    val c6 = opt("OPTIMIZE a.b.t WHERE note = 'it''s ZORDER BY (x)'")
    assert(c6.where.contains("note = 'it''s ZORDER BY (x)'") &&
      c6.zorder.isEmpty, s"got $c6")
    // in a backtick run the backslash is an ordinary char (identifiers
    // escape by doubling only): the run closes at the next backtick
    val c7 = opt("""OPTIMIZE a.b.t WHERE `a\` = 1 ZORDER BY (id)""")
    assert(c7.zorder == Seq("id"), s"got $c7")
    // under spark.sql.parser.escapedStringLiterals=true a backslash
    // is an ORDINARY char inside literals (Hive-style raw strings):
    // 'C:\' is a closed literal, and the ZORDER clause after it must
    // still parse instead of being swallowed (ADVICE r17)
    val prevEsc = spark.conf.getOption("spark.sql.parser.escapedStringLiterals")
    // direct parse() bypasses sql()'s withActive — pin THIS session so
    // the scanner reads the conf we set (restored in the finally)
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    try {
      spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
      val c8 = opt("""OPTIMIZE a.b.t WHERE path = 'C:\' ZORDER BY (id)""")
      assert(c8.where.contains("""path = 'C:\'""") &&
        c8.zorder == Seq("id"), s"got $c8")
      // doubled-quote escaping still works in raw mode
      val c9 = opt("OPTIMIZE a.b.t WHERE note = 'it''s ZORDER BY (x)'")
      assert(c9.zorder.isEmpty, s"got $c9")
    } finally {
      prevEsc match {
        case Some(v) =>
          spark.conf.set("spark.sql.parser.escapedStringLiterals", v)
        case None =>
          spark.conf.unset("spark.sql.parser.escapedStringLiterals")
      }
      prevActive match {
        case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
  }

  test("ALTER ... CONSTRAINT claims only graft-addressable tables") {
    import org.apache.spark.sql.GraftSqlDialect
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.alt (id BIGINT)")
    // direct parse() calls below bypass sql()'s withActive wrapper —
    // pin the catalog-bearing session as the active one, restored in
    // the finally
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    try {
    // graft catalog ref and quoted path: ours
    assert(GraftSqlDialect.parse(
      s"ALTER TABLE $cat.db.alt ADD CONSTRAINT c CHECK (id > 0)",
      null).nonEmpty)
    assert(GraftSqlDialect.parse(
      "ALTER TABLE '/tmp/some/t' ADD CONSTRAINT c CHECK (id > 0)",
      null).nonEmpty)
    // session catalog / unknown catalog / single-part names: Spark's
    // own constraint DDL, never hijacked (ADVICE r15 medium)
    assert(GraftSqlDialect.parse(
      "ALTER TABLE spark_catalog.db.t ADD CONSTRAINT c CHECK (id > 0)",
      null).isEmpty)
    assert(GraftSqlDialect.parse(
      "ALTER TABLE db.t DROP CONSTRAINT c", null).isEmpty)
    assert(GraftSqlDialect.parse(
      "ALTER TABLE t ADD CONSTRAINT c CHECK (id > 0)", null).isEmpty)
    // end-to-end: the graft spelling still lands on the graft table
    spark.sql(
      s"ALTER TABLE $cat.db.alt ADD CONSTRAINT pos CHECK (id > 0)")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.alt VALUES (-1)")
    }
    assert(e.getMessage.contains("pos"))
    } finally prevActive match {
      case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
      case None => org.apache.spark.sql.SparkSession.clearActiveSession()
    }
  }

  test("DESCRIBE HISTORY / DESCRIBE DETAIL statements") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.h (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.h SELECT id FROM range(10)")
    val hist = spark.sql(s"DESCRIBE HISTORY $cat.db.h")
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[String]("operation"))).toSeq
    assert(hist == Seq((1L, "create"), (2L, "append")), s"got $hist")
    val det = spark.sql(s"DESC DETAIL $cat.db.h").head()
    assert(det.getAs[String]("format") == "graft" &&
      det.getAs[Long]("num_rows") == 10L, s"got $det")
    // fallthrough: ordinary DESCRIBE still Spark's
    assert(spark.sql(s"DESCRIBE TABLE $cat.db.h").collect()
      .exists(_.getString(0) == "id"))
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
  }

  test("OPTIMIZE ... WHERE ... ZORDER BY compacts through the dialect") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.o (id BIGINT, x BIGINT, y BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.o " +
        s"SELECT id, id % 7, id % 11 FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val before = ManifestTable.currentFiles(spark, s"$wh/db/o").size
    val st = spark.sql(s"OPTIMIZE $cat.db.o ZORDER BY (x, y)").head()
    assert(st.getAs[Int]("files_before") == before)
    assert(st.getAs[Int]("files_after") <= before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.o")
      .head().getLong(0) == 400L, "compaction must not change rows")
    // scoped form parses and runs
    spark.sql(s"INSERT INTO $cat.db.o SELECT id, 0, 0 FROM range(5)")
    spark.sql(s"OPTIMIZE $cat.db.o WHERE x = 0").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.o")
      .head().getLong(0) == 405L)
  }

  test("VACUUM statement: DRY RUN lists, RETAIN clauses map, FORCE overrides") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.v (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.v SELECT id FROM range(10)")
    spark.sql(s"INSERT INTO $cat.db.v SELECT id FROM range(10, 20)")
    spark.sql(s"OPTIMIZE $cat.db.v").collect() // old files leave snapshot
    // DRY RUN: lists, deletes nothing (RETAIN 0 HOURS = grace 0)
    val report = spark.sql(
      s"VACUUM $cat.db.v RETAIN 0 HOURS DRY RUN").collect()
    assert(report.exists(_.getString(0) == "data"),
      s"dry run must list the replaced files: ${report.mkString}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.v")
      .head().getLong(0) == 20L)
    // a lagging consumer guards the real run; FORCE overrides
    ManifestTable.write(spark, spark.range(5).toDF("id"),
      s"$wh/db/g")
    ManifestTable.consumeChanges(spark, s"$wh/db/g", "lag") {
      (_, _, _) => () }
    (0 until 3).foreach(i => ManifestTable.append(spark,
      spark.range(i, i + 1).toDF("id"), s"$wh/db/g"))
    val e = intercept[IllegalStateException](spark.sql(
      s"VACUUM '$wh/db/g' RETAIN 0 HOURS").collect())
    assert(e.getMessage.contains("lag"))
    val forced = spark.sql(
      s"VACUUM '$wh/db/g' RETAIN 0 HOURS FORCE").head().getInt(0)
    assert(forced >= 0)
    // RETAIN n VERSIONS maps to the retention window (1 = current
    // only, so the pre-compaction files go)
    val deleted = spark.sql(
      s"VACUUM $cat.db.v RETAIN 1 VERSIONS RETAIN 0 HOURS")
      .head().getInt(0)
    assert(deleted > 0, "the pre-compaction files must be reclaimed")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.v")
      .head().getLong(0) == 20L)
  }

  test("CONVERT TO GRAFT adopts a parquet dir in place") {
    val (cat, wh) = freshCatalog()
    import spark.implicits._
    // a PLAIN partitioned parquet dir inside the warehouse — no
    // manifest, written by someone else entirely
    (0L until 60L).map(i => (i, s"s${i % 3}"))
      .toDF("id", "shard").write.partitionBy("shard")
      .parquet(s"$wh/db/legacy")
    val v = spark.sql(s"CONVERT TO GRAFT $cat.db.legacy")
      .head().getLong(0)
    assert(v == 1L)
    // the adopted table serves every surface: name-addressed SQL ...
    assert(spark.sql(s"SELECT sum(id) FROM $cat.db.legacy")
      .head().getLong(0) == (0L until 60L).sum)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.legacy WHERE shard = 's1'")
      .head().getLong(0) == 20L)
    // ... appends land as standard snapshot commits alongside ...
    spark.sql(s"INSERT INTO $cat.db.legacy VALUES (100, 's0')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.legacy")
      .head().getLong(0) == 61L)
    // ... statistics were collected at convert (exact metadata count)
    assert(ManifestTable.rowCount(spark, s"$wh/db/legacy") == 61L,
      "converted files must carry exact stats")
    // ... history shows the adoption; time travel reads v1
    val ops = spark.sql(s"DESCRIBE HISTORY $cat.db.legacy")
      .collect().map(_.getAs[String]("operation")).toSeq
    assert(ops == Seq("convert", "append"), s"got $ops")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.legacy VERSION AS OF 1")
      .head().getLong(0) == 60L)
    // re-converting refuses; an empty dir refuses
    assertThrows[Exception](
      spark.sql(s"CONVERT TO GRAFT $cat.db.legacy").collect())
    // a dynamic overwrite replaces exactly the adopted partition's
    // rows (fragment parsing is layout-agnostic)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql(s"INSERT OVERWRITE $cat.db.legacy VALUES (7L, 's1')")
    } finally prev match {
      case Some(x) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", x)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(spark.sql(s"SELECT count(*), sum(id) FROM $cat.db.legacy " +
      "WHERE shard = 's1'").head().toSeq == Seq(1L, 7L),
      "the adopted s1 partition must be fully replaced")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.legacy")
      .head().getLong(0) == 42L, "other partitions ride through")
  }

  test("GENERATE symlink_format_manifest exports the snapshot for foreign readers") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.s (id BIGINT, shard STRING) " +
      "PARTITIONED BY (shard)")
    spark.sql(s"INSERT INTO $cat.db.s " +
      "SELECT id, concat('s', id % 2) FROM range(0, 20)")
    val n = spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE $cat.db.s")
      .head().getInt(0)
    assert(n == 2, "one manifest per partition")
    // the listing IS the snapshot: reading exactly the listed files
    // reproduces the table (what Trino/Presto/Hive consume)
    def listed(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$wh/db/s/_symlink_format_manifest"))
        .iterator().asScala
        .filter(p => p.getFileName.toString == "manifest")
        .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
        .toSeq
    }
    val files = listed()
    assert(files.forall(_.endsWith(".parquet")) && files.nonEmpty)
    assert(spark.read.parquet(files.map(_.stripPrefix("file:")): _*)
      .count() == 20L)
    // a rewrite then regeneration: stale entries vanish
    spark.sql(s"CALL $cat.system.compact(table => 'db.s')")
    spark.sql(s"GENERATE symlink_format_manifest FOR TABLE $cat.db.s")
    val after = listed()
    assert(after.toSet.intersect(files.toSet).isEmpty,
      "regeneration must list only the compacted files")
    assert(spark.read.parquet(after.map(_.stripPrefix("file:")): _*)
      .count() == 20L)
    // DV-bearing snapshots refuse (a listing cannot express row deletes)
    spark.sql(s"INSERT INTO $cat.db.s VALUES (100, 's0')")
    ManifestTable.deleteVectors(spark, s"$wh/db/s",
      col("id") === 100L)
    val e = intercept[Exception](spark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE $cat.db.s").collect())
    assert(e.getMessage.contains("deletion vectors"), s"got $e")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT spellings") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.c (id BIGINT, n BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.c VALUES (1, 5)")
    // declaring validates EXISTING rows: a violated constraint refuses
    val bad = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.c ADD CONSTRAINT big CHECK (n > 100)"))
    assert(bad.getMessage.contains("big"), s"got $bad")
    // a satisfiable one lands and gates every subsequent write
    spark.sql(s"ALTER TABLE $cat.db.c ADD CONSTRAINT pos CHECK (n >= 0)")
    val viol = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.db.c VALUES (2, -1)"))
    assert(viol.getMessage.contains("pos"), s"got $viol")
    // DROP retires the check; missing names refuse unless IF EXISTS
    spark.sql(s"ALTER TABLE $cat.db.c DROP CONSTRAINT pos")
    spark.sql(s"INSERT INTO $cat.db.c VALUES (2, -1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c")
      .head().getLong(0) == 2L)
    assertThrows[Exception](spark.sql(
      s"ALTER TABLE $cat.db.c DROP CONSTRAINT nope"))
    spark.sql(s"ALTER TABLE $cat.db.c DROP CONSTRAINT IF EXISTS nope")
    // every other ALTER form is still Spark's
    spark.sql(s"ALTER TABLE $cat.db.c ADD COLUMNS (tag STRING)")
    assert(spark.table(s"$cat.db.c").schema.fieldNames.contains("tag"))
  }

  test("RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.r (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.r SELECT id FROM range(3)") // v2
    spark.sql(s"INSERT OVERWRITE $cat.db.r VALUES (99)") // v3: bad
    val out = spark.sql(
      s"RESTORE TABLE $cat.db.r TO VERSION AS OF 2").head()
    assert(out.getLong(0) == 2L && out.getLong(1) == 4L, s"got $out")
    assert(spark.sql(s"SELECT sum(id) FROM $cat.db.r")
      .head().getLong(0) == 3L)
    // timestamp form: restore to the wall-clock of v2
    val ts = spark.sql(s"DESCRIBE HISTORY $cat.db.r")
      .filter(col("version") === 2L).head().getAs[Long]("ts_millis")
    val tsStr = java.time.Instant.ofEpochMilli(ts)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace("T", " ")
    spark.sql(s"INSERT OVERWRITE $cat.db.r VALUES (55)")
    spark.sql(s"RESTORE $cat.db.r TO TIMESTAMP AS OF '$tsStr'").collect()
    assert(spark.sql(s"SELECT sum(id) FROM $cat.db.r")
      .head().getLong(0) == 3L)
    // a malformed RESTORE names the spelling instead of Spark's
    // unknown-statement error
    val bad = intercept[Exception](
      spark.sql(s"RESTORE $cat.db.r VERSION 2"))
    assert(bad.getMessage.contains("TO VERSION AS OF"), s"got $bad")
  }
}
