package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Concurrent ROW-LEVEL writers racing the same files (VERDICT r13
  * next-round #3): the optimistic commit protocol re-resolves and
  * re-runs narrowing after a lost CAS — these specs pin that the
  * recomputation is SERIALIZABLE on overlapping files, not merely
  * retried: no lost update, no resurrected row, and a persistent
  * conflicter surfaces the explicit race error with the table left
  * consistent. Interleavings are DETERMINISTIC via the test-only
  * pre-commit hook ([[ManifestTable.preCommitHook]]): a complete
  * competing commit runs inside the victim writer's compute→publish
  * window — the exact window a wall-clock race would hit, with no
  * sleeps or luck.
  */
class WriterRaceSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_race").resolve("t").toString

  /** 100 rows [0,100) in 5 range-localized files of 20 ids each. */
  private def rangedTable(): String = {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 100).map(i => (i.toLong, "base", i % 3))
      .toDF("id", "tag", "bucket")
    ManifestTable.write(spark, df.repartitionByRange(5, col("id")), t)
    t
  }

  private def withHook(hook: (String, String) => Unit)(body: => Unit): Unit = {
    ManifestTable.preCommitHook = hook
    try body finally ManifestTable.preCommitHook = (_, _) => ()
  }

  test("delete ∥ merge overlapping the same file: serializable recomputation") {
    import spark.implicits._
    val t = rangedTable() // v1
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    withHook { (table, target) =>
      // fire exactly once, inside the DELETE's compute→publish window
      // for THIS table's v2 manifest: a merge fully commits first,
      // updating id=5 (the same [0,20) file the delete will rewrite)
      // and inserting id=200
      if (table.endsWith(t) && target.startsWith("v") &&
        armed.getAndSet(false)) {
        ManifestTable.merge(spark,
          Seq((5L, "MERGED", 9), (200L, "NEW", 9))
            .toDF("id", "tag", "bucket"), t, Seq("id")): Unit
      }
    } {
      ManifestTable.delete(spark, t, col("id") < 20L): Unit
    }
    // serial outcome merge-then-delete: merge landed v2, the delete's
    // lost CAS re-resolved v2 (merge's REWRITTEN file) and committed v3
    assert(ManifestTable.currentVersion(spark, t) == 3L)
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 81L, "100 + 1 merge-insert - 20 deleted")
    assert(r.filter(col("id") < 20L).count() == 0,
      "no row of the deleted band survives — including the one the " +
        "concurrent merge rewrote into a NEW file")
    assert(r.filter(col("id") === 200L && col("tag") === "NEW").count() == 1,
      "the merge's insert is not lost")
    assert(r.filter(col("tag") === "MERGED").count() == 0,
      "the merged row inside the deleted band dies with the band")
    // both commits carry their audit identity
    val ops = ManifestTable.history(spark, t).orderBy("version")
      .collect().map(_.getAs[String]("operation")).toSeq
    assert(ops == Seq("write", "merge", "delete"))
  }

  test("copy-on-write delete ∥ deletion-vector delete on the same file: no resurrection") {
    val t = rangedTable() // v1
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    withHook { (table, target) =>
      // inside the CoW delete's window: a merge-on-read delete commits
      // a DV on the SAME [0,20) file (id=7)
      if (table.endsWith(t) && target.startsWith("v") &&
        armed.getAndSet(false)) {
        ManifestTable.deleteVectors(spark, t, col("id") === 7L): Unit
      }
    } {
      ManifestTable.delete(spark, t,
        col("id") >= 10L && col("id") < 20L): Unit
    }
    assert(ManifestTable.currentVersion(spark, t) == 3L)
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 89L, "100 - 1 DV-deleted - 10 CoW-deleted")
    assert(r.filter(col("id") === 7L).count() == 0,
      "the CoW rewrite of the DV-bearing file must NOT resurrect the " +
        "DV-deleted row (retry re-resolves the DVs too)")
    assert(r.filter(col("id") >= 10L && col("id") < 20L).count() == 0)
    assert(r.filter(col("id") < 7L).count() == 7,
      "untouched rows of the contested file all survive exactly once")
    // the rewrite materialized/superseded the file's DVs; rowCount
    // stays metadata-exact either way
    assert(ManifestTable.rowCount(spark, t) == 89L)
  }

  test("every row-level entry point retries past an append in its publish window") {
    import spark.implicits._
    import ManifestTable.MatchedClause
    def row5(tag: String) = Seq((5L, tag, 0)).toDF("id", "tag", "bucket")
    val id5 = col("id") === 5L
    val set = Map("tag" -> lit("op"))
    // (entry point, op, does it delete id 5 (else it retags it "op"))
    val cases: Seq[(String, String => Unit, Boolean)] = Seq(
      ("delete", t => ManifestTable.delete(spark, t, id5), true),
      ("deleteWhere", t => ManifestTable.deleteWhere(spark, t, _ => id5), true),
      ("deleteVectors", t => ManifestTable.deleteVectors(spark, t, id5), true),
      ("update", t => ManifestTable.update(spark, t, id5, set), false),
      ("updateVectors", t => ManifestTable.updateVectors(spark, t, id5, set),
        false),
      ("updateWhere", t => ManifestTable.updateWhere(spark, t, _ => id5, set),
        false),
      ("merge", t => ManifestTable.merge(spark, row5("op"), t, Seq("id")),
        false),
      ("mergeVectors", t => ManifestTable.mergeVectors(spark, row5("op"), t,
        Seq("id")), false),
      ("mergeClauses", t => ManifestTable.mergeClauses(spark, row5("op"), t,
        Seq("id" -> "id"), matched = Seq(MatchedClause(None,
          Some(Map("tag" -> col("s.tag")))))), false),
      ("replaceWhere", t => ManifestTable.replaceWhere(spark, row5("op"), t,
        id5), false))
    cases.foreach { case (name, op, deletes) =>
      val t = rangedTable() // v1
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      withHook { (table, target) =>
        // one append commits v2 inside the op's compute→publish window
        if (table.endsWith(t) && target.startsWith("v") &&
          armed.getAndSet(false)) {
          ManifestTable.append(spark, Seq((500L, "raced", 7))
            .toDF("id", "tag", "bucket"), t): Unit
        }
      }(op(t))
      assert(!armed.get(), s"$name: the competing append never ran")
      assert(ManifestTable.currentVersion(spark, t) == 3L, name)
      val r = ManifestTable.read(spark, t)
      assert(r.count() == (if (deletes) 100L else 101L), name)
      assert(r.filter(col("id") === 500L && col("tag") === "raced")
        .count() == 1, s"$name: the raced append is lost")
      val tags = r.filter(id5).select("tag").collect().map(_.getString(0))
      assert(tags.toSeq == (if (deletes) Seq.empty else Seq("op")),
        s"$name: the op's own effect is lost: ${tags.toSeq}")
    }
  }

  test("every non-row-level writer keeps its attempt budget against an append in its publish window") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.util.IdentityColumn
    import org.apache.spark.sql.types._
    def rows(id: Long, tag: String): DataFrame =
      Seq((id, tag, 0)).toDF("id", "tag", "bucket")
    def withMeta(df: DataFrame): DataFrame =
      df.withColumn("meta", struct(col("bucket").as("b")))
    // v1: 100 rows in 5 files, with a struct column for nested DDL
    def table(): String = {
      val t = freshTable()
      ManifestTable.write(spark, withMeta((0 until 100)
        .map(i => (i.toLong, "base", i % 3)).toDF("id", "tag", "bucket"))
        .repartitionByRange(5, col("id")), t)
      t
    }
    def parquetDir(df: DataFrame): String = {
      val d = freshTable()
      df.write.parquet(d)
      d
    }
    def files(dir: String): Seq[java.nio.file.Path] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    def txns(t: String) = ManifestTable.streamTxns(spark, t)
    lazy val cloneSource = table()
    lazy val landing = parquetDir(rows(700L, "copied"))
    // (writer, its history operation, whether it retries a lost race,
    // the table it runs on, the op, its own effect after the retry).
    // A retry must work from the new snapshot: the checks catch a
    // compaction that drops the raced row and an analyze that leaves
    // the raced file unsketched
    final case class Case(name: String, operation: String, retries: Boolean,
        setup: () => String, op: String => Unit,
        effect: String => Boolean = _ => true)
    def single(name: String, op: String => Unit, setup: () => String = () => table()) =
      Case(name, "", retries = false, setup, op)
    val cases: Seq[Case] = Seq(
      Case("updateProperties", "set-properties", retries = true, () => table(),
        t => ManifestTable.updateProperties(spark, t, Map("k" -> "v")),
        t => ManifestTable.tableProperties(spark, t).get("k").contains("v")),
      Case("compact", "compact", retries = true, () => table(),
        t => ManifestTable.compact(spark, t)),
      Case("compact where", "compact", retries = true, () => table(),
        t => ManifestTable.compact(spark, t, where = Some(col("id") < 40L))),
      Case("analyze", "analyze", retries = true, () => table(),
        t => ManifestTable.analyze(spark, t, Seq("id"), histogramBins = 0),
        // the raced file was sketched too: nothing is left to analyze
        t => ManifestTable.analyze(spark, t, Seq("id"), histogramBins = 0) ==
          ManifestTable.currentVersion(spark, t)),
      Case("appendStreamBatch", "streaming-append", retries = true, () => table(),
        t => ManifestTable.appendStreamBatch(spark, withMeta(rows(600L, "s")),
          t, 1L, "app"),
        t => txns(t).get("app").contains(1L) &&
          ManifestTable.read(spark, t).filter(col("id") === 600L).count() == 1),
      Case("commitStreamedFiles", "streaming-append", retries = true, () => table(),
        { t =>
          val dir = s"$t/data/s90-staged"
          withMeta(rows(601L, "s")).write.parquet(dir)
          ManifestTable.commitStreamedFiles(spark, t,
            files(dir).map(f => s"data/s90-staged/${f.getFileName}"), 1L, "app",
            withMeta(rows(601L, "s")).schema)
        },
        t => txns(t).get("app").contains(1L) &&
          ManifestTable.read(spark, t).filter(col("id") === 601L).count() == 1),
      Case("consumeChanges", "consumer-offset", retries = true, () => table(),
        t => ManifestTable.consumeChanges(spark, t, "c")((df, _, _) =>
          df.count(): Unit),
        t => txns(t).get("consumer:c").contains(1L)),
      Case("consumeRowChanges", "consumer-offset", retries = true, () => table(),
        t => ManifestTable.consumeRowChanges(spark, t, "c")((df, _, _) =>
          df.count(): Unit),
        t => txns(t).get("rowconsumer:c").contains(1L)),
      single("write", t => ManifestTable.write(spark, rows(1L, "w"), t)),
      single("replaceDefinition", t => ManifestTable.replaceDefinition(spark,
        t, rows(1L, "r").schema, Seq.empty, Map.empty, None)),
      single("append", t => ManifestTable.append(spark, rows(1L, "a"), t)),
      single("copyInto", t => ManifestTable.copyInto(spark, t, landing)),
      single("syncIdentity", t => ManifestTable.syncIdentity(spark, t), { () =>
        val t = freshTable()
        val md = new MetadataBuilder()
          .putLong(IdentityColumn.IDENTITY_INFO_START, 1L)
          .putLong(IdentityColumn.IDENTITY_INFO_STEP, 1L)
          .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, true)
          .build()
        ManifestTable.create(spark, t, StructType(Seq(
          StructField("id", LongType, nullable = true, md),
          StructField("tag", StringType), StructField("bucket", IntegerType))))
        ManifestTable.append(spark, rows(100L, "x"), t)
        // a stale watermark for sync to repair
        ManifestTable.setProperty(spark, t, "graft.identity.id.next", "1")
        t
      }),
      single("renameColumn", t => ManifestTable.renameColumn(spark, t, "tag", "label")),
      single("dropColumn", t => ManifestTable.dropColumn(spark, t, "bucket")),
      single("addColumns", t => ManifestTable.addColumns(spark, t,
        StructType(Seq(StructField("extra", StringType))))),
      single("widenColumnType", t => ManifestTable.widenColumnType(spark, t,
        "bucket", LongType)),
      single("setColumnDefault", t => ManifestTable.setColumnDefault(spark, t,
        "tag", Some("'d'"))),
      single("addNestedColumn", t => ManifestTable.addNestedColumn(spark, t,
        Seq("meta", "c"), StringType)),
      single("truncate", t => ManifestTable.truncate(spark, t)),
      single("restore", t => ManifestTable.restore(spark, t, 1L), { () =>
        val t = table()
        ManifestTable.setProperty(spark, t, "k", "v")
        t
      }),
      single("create", t => ManifestTable.create(spark, t, rows(1L, "c").schema),
        () => freshTable()),
      single("convertToGraft", t => ManifestTable.convertToGraft(spark, t),
        () => parquetDir(rows(1L, "p"))),
      single("convertDeltaToGraft", t => ManifestTable.convertDeltaToGraft(spark, t), { () =>
        val df = rows(1L, "d")
        val t = parquetDir(df)
        def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        val lines = Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          """{"metaData":{"id":"race","format":{"provider":"parquet"},""" +
            s""""schemaString":${q(df.schema.json)},"partitionColumns":[],""" +
            """"configuration":{}}}""") ++ files(t).map(f =>
          s"""{"add":{"path":${q(f.getFileName.toString)},"partitionValues":{},""" +
            s""""size":${Files.size(f)},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""")
        val log = java.nio.file.Paths.get(t, "_delta_log")
        Files.createDirectories(log)
        Files.write(log.resolve("0" * 20 + ".json"),
          lines.mkString("\n").getBytes("UTF-8"))
        t
      }),
      single("cloneTable", t => ManifestTable.cloneTable(spark, cloneSource, t),
        () => freshTable()))
    cases.foreach { c =>
      val t = c.setup()
      val v0 = ManifestTable.currentVersion(spark, t)
      val before = if (v0 == 0) 0L else ManifestTable.read(spark, t).count()
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val run = () => withHook { (table, target) =>
        // one append commits inside the op's compute→publish window
        if (table.endsWith(t) && target.startsWith("v") &&
          armed.getAndSet(false)) {
          ManifestTable.append(spark, rows(500L, "raced"), t): Unit
        }
      }(c.op(t))
      if (!c.retries) {
        val e = intercept[java.io.IOException](run())
        assert(e.getMessage.contains("lost the race"), s"${c.name}: $e")
      } else run()
      assert(!armed.get(), s"${c.name}: the competing append never ran")
      val ops = ManifestTable.history(spark, t).collect()
        .map(r => r.getAs[Long]("version") -> r.getAs[String]("operation")).toMap
      val r = ManifestTable.read(spark, t)
      assert(r.filter(col("id") === 500L && col("tag") === "raced").count() == 1,
        s"${c.name}: the raced append is lost")
      if (c.retries) {
        assert(ManifestTable.currentVersion(spark, t) == v0 + 2, c.name)
        assert(ops(v0 + 1) == "append" && ops(v0 + 2) == c.operation,
          s"${c.name}: ${ops.toSeq.sorted}")
        assert(c.effect(t), s"${c.name}: the op's own effect is lost")
      } else {
        // the op published nothing: the competitor's commit is the head
        assert(ManifestTable.currentVersion(spark, t) == v0 + 1, c.name)
        assert(ops(v0 + 1) == "append", s"${c.name}: ${ops.toSeq.sorted}")
        assert(r.count() == before + 1, c.name)
      }
    }
  }

  test("a persistent conflicter exhausts retries: explicit race error, table consistent") {
    import spark.implicits._
    val t = rangedTable() // v1
    val fired = new java.util.concurrent.atomic.AtomicLong(0)
    val e = intercept[java.io.IOException] {
      withHook { (table, target) =>
        // steal EVERY version the delete tries to publish (appends are
        // guarded against recursion by the hook thread re-entering with
        // a v-target it itself is publishing — match only the victim's)
        if (table.endsWith(t) && target.startsWith("v") &&
          fired.incrementAndGet() % 2 == 1) {
          ManifestTable.append(spark,
            Seq((1000L + fired.get(), "squatter", 0))
              .toDF("id", "tag", "bucket"), t): Unit
        }
      } {
        ManifestTable.delete(spark, t, col("id") < 20L): Unit
      }
    }
    assert(e.getMessage.contains("lost the race"),
      s"retry exhaustion must surface the explicit conflict error: $e")
    // atomicity: the failed delete left NOTHING — only the squatting
    // appends landed, and every original row is still present
    val r = ManifestTable.read(spark, t)
    assert(r.filter(col("id") < 20L).count() == 20,
      "a delete that lost every race must not half-apply")
    assert(r.filter(col("tag") === "squatter").count() == 5,
      "one interleaved append per lost attempt (maxAttempts = 5)")
  }
}
