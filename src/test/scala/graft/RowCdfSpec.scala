package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The row-level change feed (`_change_type`): per-commit
  * classification across appends, DV deletes, copy-on-write rewrites,
  * overwrites/truncates and compactions, plus the exactly-once
  * row-level consumer that makes rewrites non-fatal.
  */
class RowCdfSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_rowcdf").resolve("t").toString

  private def changeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getString(2), r.getLong(3))).toSet

  test("per-commit change rows: append/DV/update/delete/compact/truncate") {
    import spark.implicits._
    val t = freshTable()
    val d0 = (0L until 20L).map(i => (i, i * 10)).toDF("id", "qty")
    ManifestTable.write(spark,
      d0.repartitionByRange(4, col("id")), t) // v1: 20 inserts
    ManifestTable.deleteVectors(spark, t, col("id") === 3L) // v2: 1 DV delete
    ManifestTable.update(spark, t,
      col("id") === 5L, Map("qty" -> lit(999L))) // v3: delete(5,50)+insert(5,999)
    ManifestTable.delete(spark, t, col("id") < 2L) // v4: 2 deletes
    ManifestTable.append(spark,
      Seq((20L, 200L), (21L, 210L)).toDF("id", "qty"), t) // v5: 2 inserts
    ManifestTable.compact(spark, t) // v6: dataChange=false → nothing
    val all = ManifestTable.rowChanges(spark, t, 0)
    val got = changeSet(all)
    val want: Set[(Long, Long, String, Long)] =
      (0L until 20L).map(i => (i, i * 10, "insert", 1L)).toSet ++ Set(
        (3L, 30L, "delete", 2L),
        (5L, 50L, "delete", 3L), (5L, 999L, "insert", 3L),
        (0L, 0L, "delete", 4L), (1L, 10L, "delete", 4L),
        (20L, 200L, "insert", 5L), (21L, 210L, "insert", 5L))
    assert(got == want, s"row changes:\n${(got -- want)} extra\n${(want -- got)} missing")
    // range-scoped read: only (2, 4] — the DV delete and the update
    val mid = changeSet(ManifestTable.rowChanges(spark, t, 2, 4))
    assert(mid == Set((5L, 50L, "delete", 3L), (5L, 999L, "insert", 3L),
      (0L, 0L, "delete", 4L), (1L, 10L, "delete", 4L)))
    // replaying the feed reconstructs the table: inserts minus deletes
    val net = all.groupBy("id", "qty").agg(
      sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
      .filter(col("n") =!= 0)
    assert(net.count() == ManifestTable.read(spark, t).count(),
      "accumulated changes must reconstruct the live row multiset")
    // truncate = every surviving row deleted
    ManifestTable.truncate(spark, t) // v7
    val trunc = changeSet(ManifestTable.rowChanges(spark, t, 6, 7))
    assert(trunc.forall(_._3 == "delete") && trunc.size == 19,
      s"truncate must delete the 19 survivors: ${trunc.size}")
  }

  test("feed-off MoR update/merge: the diff walk emits hidden rows AND post-images") {
    import spark.implicits._
    // a merge-on-read commit carries DVs AND fresh files in ONE delta;
    // the feed-less rowChanges walk must emit both halves
    val t = freshTable()
    ManifestTable.write(spark,
      (0L until 10L).map(i => (i, i * 10)).toDF("id", "qty"), t) // v1
    ManifestTable.updateVectors(spark, t, col("id") === 5L,
      Map("qty" -> lit(999L))) // v2: DV(5,50) + append(5,999)
    val ch = changeSet(ManifestTable.rowChanges(spark, t, 1))
    assert(ch == Set((5L, 50L, "delete", 2L), (5L, 999L, "insert", 2L)),
      s"got $ch")
    ManifestTable.mergeVectors(spark,
      Seq((7L, 700L), (20L, 200L)).toDF("id", "qty"), t, Seq("id")) // v3
    val ch3 = changeSet(ManifestTable.rowChanges(spark, t, 2))
    assert(ch3 == Set((7L, 70L, "delete", 3L), (7L, 700L, "insert", 3L),
      (20L, 200L, "insert", 3L)), s"got $ch3")
  }

  test("enableChangeFeed: commits persist change files; rowChanges prefers them; vacuum sweeps orphans") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      (0L until 20L).map(i => (i, i * 10)).toDF("id", "qty")
        .repartitionByRange(4, col("id")), t) // v1
    ManifestTable.enableChangeFeed(spark, t) // v2 (property commit)
    assert(ManifestTable.tableProperties(spark, t)
      .get(ManifestTable.ChangeFeedProp).contains("true"))
    // property survives unrelated commits (sticky channel)
    ManifestTable.append(spark, Seq((20L, 200L)).toDF("id", "qty"), t) // v3
    assert(ManifestTable.tableProperties(spark, t)
      .get(ManifestTable.ChangeFeedProp).contains("true"))
    ManifestTable.delete(spark, t, col("id") === 4L) // v4: change files
    ManifestTable.update(spark, t, col("id") === 6L,
      Map("qty" -> lit(999L))) // v5
    ManifestTable.deleteVectors(spark, t, col("id") === 8L) // v6
    ManifestTable.merge(spark, Seq((9L, 900L), (30L, 300L)).toDF("id", "qty"),
      t, Seq("id")) // v7
    // every rewrite commit recorded its change dir
    val changeDirs = new java.io.File(s"$t/changes").listFiles()
    assert(changeDirs != null && changeDirs.length == 4,
      s"4 rewrite commits → 4 change dirs, got ${changeDirs.length}")
    // rowChanges over the feed (served from the recorded files) equals
    // the expected multiset
    val got = changeSet(ManifestTable.rowChanges(spark, t, 3))
    // the UPDATE commit records PAIRED pre/post images (Delta CDF)
    val want = Set(
      (4L, 40L, "delete", 4L),
      (6L, 60L, "update_preimage", 5L),
      (6L, 999L, "update_postimage", 5L),
      (8L, 80L, "delete", 6L),
      (9L, 90L, "delete", 7L), (9L, 900L, "insert", 7L),
      (30L, 300L, "insert", 7L))
    assert(got == want, s"extra ${got -- want}; missing ${want -- got}")
    // vacuum keeps referenced change dirs, sweeps orphans
    val orphan = new java.io.File(s"$t/changes/c99-orphan")
    orphan.mkdirs()
    ManifestTable.vacuum(spark, t, keepVersions = 10, graceMs = 0L)
    assert(!orphan.exists, "orphaned change dir must be swept")
    assert(changeSet(ManifestTable.rowChanges(spark, t, 3)) == want,
      "referenced change dirs survive vacuum")
  }

  test("CDC mergeClauses persists its clause-exact change rows") {
    import graft.sinks.ManifestTable.{MatchedClause, NotMatchedClause}
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      (0L until 10L).map(i => (i, i)).toDF("id", "qty"), t)
    ManifestTable.enableChangeFeed(spark, t)
    ManifestTable.mergeClauses(spark,
      Seq((2L, "D", 0L), (3L, "U", 77L), (50L, "I", 5L))
        .toDF("id", "op", "v"), t, Seq("id" -> "id"),
      matched = Seq(
        MatchedClause(Some(col("s.op") === "D"), None),
        MatchedClause(Some(col("s.op") === "U"),
          Some(Map("qty" -> col("s.v"))))),
      notMatched = Seq(NotMatchedClause(Some(col("s.op") === "I"),
        Map("id" -> col("s.id"), "qty" -> col("s.v")))))
    val v = ManifestTable.currentVersion(spark, t)
    val got = changeSet(ManifestTable.rowChanges(spark, t, v - 1, v))
    assert(got == Set(
      (2L, 2L, "delete", v), (3L, 3L, "delete", v),
      (3L, 77L, "insert", v), (50L, 5L, "insert", v)), s"got $got")
  }

  test("consumeRowChanges: rewrites deliver rows instead of failing; exactly-once cursor") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      (0L until 10L).map(i => (i, i)).toDF("id", "qty")
        .repartitionByRange(2, col("id")), t)
    // bootstrap: the current snapshot as one all-insert delivery
    var rows = Set.empty[(Long, String)]
    def drain(): Long = ManifestTable.consumeRowChanges(spark, t, "c") {
      (d, _, _) => rows = d.select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    drain()
    assert(rows.size == 10 && rows.forall(_._2 == "insert"))
    // a caught-up FILE-level consumer exists before the rewrite...
    ManifestTable.consumeChanges(spark, t, "filelevel") { (_, _, _) => () }
    ManifestTable.delete(spark, t, col("id") === 4L)
    // ...and throws on the rewrite range, while the row-level consumer
    // delivers the exact change rows
    assertThrows[IllegalStateException](
      ManifestTable.consumeChanges(spark, t, "filelevel") { (_, _, _) => () })
    drain()
    assert(rows == Set((4L, "delete")),
      s"the rewrite must surface as its exact delete row: $rows")
    // caught up: no redelivery (cursor advanced transactionally), and
    // an idle poll must not append an offset commit either — the poll
    // would otherwise chase its own offset commits, growing the log on
    // every idle trigger forever
    rows = Set.empty
    drain()
    val vIdle = ManifestTable.currentVersion(spark, t)
    drain(); drain()
    assert(rows.isEmpty, "a caught-up consumer must receive nothing")
    assert(ManifestTable.currentVersion(spark, t) == vIdle,
      "idle polls must not commit anything")
    // mixed range: DV delete + append in one poll
    ManifestTable.deleteVectors(spark, t, col("id") === 7L)
    ManifestTable.append(spark, Seq((100L, 1L)).toDF("id", "qty"), t)
    drain()
    assert(rows == Set((7L, "delete"), (100L, "insert")), s"got $rows")
  }
}
