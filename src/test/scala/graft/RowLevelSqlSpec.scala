package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** SQL UPDATE and MERGE INTO on graft catalog tables — the injected
  * GraftRowLevelRule rewriting the resolved V2 commands onto
  * ManifestTable.update/merge.
  */
class RowLevelSqlSpec extends AnyFunSuite with SparkSuite {
  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def freshCatalog(): (String, String) = {
    val cat = s"rlsql${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_rlsql").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (cat, wh)
  }

  test("UPDATE ... SET ... WHERE runs the copy-on-write update") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    (0L until 100L).map(i => (i, s"tag${i % 3}", i))
      .toDF("id", "tag", "score").createOrReplaceTempView("rl_src")
    spark.sql(s"CREATE TABLE $cat.db.u AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(5, id) */ id, tag, score FROM rl_src")
    val before = ManifestTable.currentFiles(spark, s"$wh/db/u")
    spark.sql(
      s"UPDATE $cat.db.u SET tag = 'HOT', score = score + 100 WHERE id >= 90")
    // narrowness survives the SQL path: only the [80,100) file rewrote
    val after = ManifestTable.currentFiles(spark, s"$wh/db/u")
    assert(after.toSet.intersect(before.toSet).size == 4,
      "SQL UPDATE must rewrite only the overlapping file")
    val hot = spark.sql(
      s"SELECT id, score FROM $cat.db.u WHERE tag = 'HOT' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hot == (90L until 100L).map(i => (i, i + 100)))
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.db.u").head().getLong(0) == 100)
    // unconditional UPDATE touches every row
    spark.sql(s"UPDATE $cat.db.u SET score = 0")
    assert(spark.sql(s"SELECT sum(score) AS s FROM $cat.db.u").head().getLong(0) == 0)
  }

  test("MERGE INTO ... UPDATE SET * / INSERT * runs the keyed upsert") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    (0L until 10L).map(i => (i, s"old$i")).toDF("id", "tag")
      .createOrReplaceTempView("rl_target")
    spark.sql(s"CREATE TABLE $cat.db.m AS SELECT id, tag FROM rl_target")
    (5L until 15L).map(i => (i, s"new$i")).toDF("id", "tag")
      .createOrReplaceTempView("rl_updates")
    spark.sql(
      s"""MERGE INTO $cat.db.m t USING rl_updates s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql(s"SELECT id, tag FROM $cat.db.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == (0L until 5L).map(i => (i, s"old$i")) ++
      (5L until 15L).map(i => (i, s"new$i")),
      s"matched rows replaced, new keys inserted, rest untouched: $rows")
  }

  test("CDC MERGE: conditional update/delete, column-list insert, not-matched-by-source") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    (0L until 20L).map(i => (i, s"tag${i % 3}", i * 10))
      .toDF("id", "tag", "qty").createOrReplaceTempView("cdc_tgt")
    spark.sql(s"CREATE TABLE $cat.db.c AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, tag, qty FROM cdc_tgt")
    val before = ManifestTable.currentFiles(spark, s"$wh/db/c")
    Seq((2L, "U", 999L), (4L, "D", 0L), (6L, "X", 7L), (100L, "I", 5L))
      .toDF("id", "op", "qty").createOrReplaceTempView("cdc_src")
    // the full CDC statement: conditional clauses, first-match order,
    // a SET mixing both sides, a column-list INSERT, and BOTH
    // by-source actions
    spark.sql(
      s"""MERGE INTO $cat.db.c t USING cdc_src s ON t.id = s.id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET qty = t.qty + s.qty
         |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (id, qty) VALUES (s.id, s.qty)
         |WHEN NOT MATCHED BY SOURCE AND t.id = 0 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 18 THEN UPDATE SET qty = -1
         |""".stripMargin)
    val rows = spark.sql(
      s"SELECT id, tag, qty FROM $cat.db.c ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    val expect =
      (1L until 20L).filter(_ != 4L).map { i =>
        val qty =
          if (i == 2L) 20L + 999L // matched U: t.qty + s.qty
          else if (i >= 18L) -1L // by-source update
          else i * 10 // untouched (incl. id 6: op X matches no clause)
        (i, s"tag${i % 3}", qty)
      } :+ ((100L, null, 5L)) // inserted with tag unassigned → null
    assert(rows == expect, s"CDC merge result:\n$rows\nvs\n$expect")
    // narrowness survives: ids live in 4 range files (0-4, 5-9, 10-14,
    // 15-19); only the files with actual changes (first and last)
    // rewrote — the op-X match and untouched ranges kept their files
    val after = ManifestTable.currentFiles(spark, s"$wh/db/c")
    assert(after.toSet.intersect(before.toSet).size == 2,
      s"only the changed files may rewrite: kept ${
        after.toSet.intersect(before.toSet).size} of ${before.size}")
    // duplicate source keys refuse (SQL MERGE cardinality contract)
    Seq((2L, "U", 1L), (2L, "D", 2L)).toDF("id", "op", "qty")
      .createOrReplaceTempView("cdc_dup")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.db.c t USING cdc_dup s ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString("; ")
      .contains("duplicate"), s"got: $e")
  }

  test("DELETE WHERE k IN (subquery): row-identity rewrite, narrow and exact") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    (0L until 100L).map(i => (i, i % 7)).toDF("id", "grp")
      .createOrReplaceTempView("rl_d1")
    spark.sql(s"CREATE TABLE $cat.db.ds AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(5, id) */ id, grp FROM rl_d1")
    val before = ManifestTable.currentFiles(spark, s"$wh/db/ds")
    // uncorrelated IN over another frame
    Seq(1L, 3L, 98L).toDF("k").createOrReplaceTempView("rl_kill")
    spark.sql(s"DELETE FROM $cat.db.ds WHERE id IN (SELECT k FROM rl_kill)")
    val ids = spark.sql(s"SELECT id FROM $cat.db.ds ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == (0L until 100L).filterNot(Set(1L, 3L, 98L)),
      s"got ${ids.size} rows")
    // narrowness: only the files containing ids 1,3 ([0,20)) and 98
    // ([80,100)) rewrote — the middle three ride through
    val after = ManifestTable.currentFiles(spark, s"$wh/db/ds")
    assert(after.toSet.intersect(before.toSet).size == 3,
      s"only matched files rewrite:\n$before\n$after")
    // NOT IN (null-aware anti join semantics) and a correlated NOT
    // EXISTS both route through the same rewrite
    spark.sql(s"DELETE FROM $cat.db.ds WHERE id NOT IN " +
      "(SELECT id FROM rl_d1 WHERE id < 90)")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.db.ds")
      .head().getLong(0) == 88) // {0..89} minus the deleted {1,3}
    // untranslatable subquery-free conjunct (no sources.Filter form):
    // claimed by the rewrite instead of the SupportsDelete refusal
    spark.sql(s"DELETE FROM $cat.db.ds WHERE length(CAST(id AS STRING)) = 1 AND grp = 0")
    val left = spark.sql(s"SELECT id FROM $cat.db.ds WHERE id < 10 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(2L, 4L, 5L, 6L, 8L, 9L), s"got $left")
  }

  test("UPDATE WHERE EXISTS (correlated): matched rows by identity, one subquery draw") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    (0L until 60L).map(i => (i, s"g${i % 3}", 0L)).toDF("id", "grp", "hits")
      .createOrReplaceTempView("rl_u1")
    spark.sql(s"CREATE TABLE $cat.db.us AS " +
      "SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, grp, hits FROM rl_u1")
    Seq("g1").toDF("g").createOrReplaceTempView("rl_hot")
    spark.sql(s"UPDATE $cat.db.us u SET hits = hits + 1 " +
      "WHERE EXISTS (SELECT 1 FROM rl_hot h WHERE h.g = u.grp) AND id < 30")
    val got = spark.sql(
      s"SELECT id FROM $cat.db.us WHERE hits = 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 30L).filter(i => i % 3 == 1), s"got $got")
    assert(spark.sql(s"SELECT sum(hits) AS s FROM $cat.db.us")
      .head().getLong(0) == 10)
  }

  test("MERGE with extra ON conjuncts: pair-level match, insert and by-source fire") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    // target: ids 0..9, score = id
    (0L until 10L).map(i => (i, i)).toDF("id", "score")
      .createOrReplaceTempView("rl_m1")
    spark.sql(s"CREATE TABLE $cat.db.ms AS SELECT id, score FROM rl_m1")
    // source: ids 5..14, flag = id % 2 (extra conjunct passes on even)
    (5L until 15L).map(i => (i, i % 2)).toDF("id", "flag")
      .createOrReplaceTempView("rl_m2")
    spark.sql(
      s"""MERGE INTO $cat.db.ms t USING rl_m2 s
         |ON t.id = s.id AND s.flag = 0
         |WHEN MATCHED THEN UPDATE SET score = t.score + 100
         |WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, -1)
         |WHEN NOT MATCHED BY SOURCE AND t.id < 2 THEN DELETE
         |""".stripMargin)
    val rows = spark.sql(s"SELECT id, score FROM $cat.db.ms ORDER BY id, score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ids 0,1: no source key, by-source DELETE (id < 2) → gone
    // ids 2..4: no source key, by-source cond false → untouched
    // ids 6,8 (even, in source): matched → +100
    // ids 5,7,9 (odd, in source): extra fails → target untouched AND
    //   the source row INSERTS a (-1) duplicate (full-ON not matched)
    // ids 10..14 (source only): inserts, score -1
    val expect =
      Seq((2L, 2L), (3L, 3L), (4L, 4L)) ++
        Seq((5L, -1L), (5L, 5L)) ++ Seq((6L, 106L)) ++
        Seq((7L, -1L), (7L, 7L)) ++ Seq((8L, 108L)) ++
        Seq((9L, -1L), (9L, 9L)) ++
        (10L until 15L).map(i => (i, -1L))
    assert(rows == expect.sortBy(identity), s"got $rows")
  }

  test("unsupported shapes refuse loudly, table untouched") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .createOrReplaceTempView("rl_t3")
    spark.sql(s"CREATE TABLE $cat.db.r AS SELECT id, tag FROM rl_t3")
    def messageOf(body: => Unit): String = {
      val e = intercept[Exception](body)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString("; ")
    }
    // MERGE with a non-equi ON condition (no key equality to join on)
    assert(messageOf(spark.sql(
      s"""MERGE INTO $cat.db.r t USING rl_t3 s ON t.id > s.id
         |WHEN MATCHED THEN DELETE""".stripMargin))
      .contains("ManifestTable.merge"))
    // UPDATE with a subquery in a SET VALUE (conditions may carry
    // subqueries since the row-identity rewrite; values stay
    // row-local)
    assert(messageOf(spark.sql(
      s"UPDATE $cat.db.r SET tag = (SELECT max(tag) FROM rl_t3) " +
        s"WHERE id = 1"))
      .contains("subquery-free values"))
    assert(spark.sql(s"SELECT * FROM $cat.db.r WHERE tag IN ('a','b')")
      .count() == 2, "refused commands must leave the table untouched")
  }
}
