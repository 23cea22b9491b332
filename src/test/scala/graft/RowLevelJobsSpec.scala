package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, current_date, lit}
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The Spark jobs one row-level commit runs, op by op, on a small
  * table. Each row-level commit finds its hit files with one narrow
  * pass; a small deletion vector's sidecar is written by the driver, so
  * a merge-on-read delete by a deterministic predicate costs its pass
  * and nothing else. A merge checks a local source's keys on the driver
  * and a file source's in one narrow pass, and finds the touched rows
  * by the key set: its pass and its write, plus the key pass and the
  * read's own schema job for a parquet source. A source with more keys
  * than the driver holds takes the aggregate guard and the semi- and
  * anti-joins, with no key pass when its row count shows it over the
  * bound first: a parquet source's from its footers, a range's from
  * its plan. A condition builder
  * (`deleteWhere`, and SQL DELETE with a condition filter pushdown cannot
  * translate) costs what a predicate does when a second read finds the
  * same rows, and a merge-on-read update re-reads its touched rows
  * instead of pinning them. A current-time condition finds other rows
  * on each read, so its matched ids are pinned: the pin, and the
  * broadcast of the ids to every read that joins them. A count that
  * grows means an action came back; one that shrinks for a current-time
  * condition means a pin went missing.
  */
class RowLevelJobsSpec extends AnyFunSuite with SparkSuite {
  /** 100 rows in 5 range-localized files: file k holds ids [20k, 20k+20).
    * The table sits at `<dir>/db/t`, so a catalog over `<dir>` names it. */
  private def table(mode: Option[String]): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_jobs").resolve("db/t").toString
    ManifestTable.write(spark, (0 until 100).map(i => (i.toLong, s"t${i % 7}"))
      .toDF("id", "tag").repartitionByRange(5, col("id")), t)
    mode.foreach(m => ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.DeleteModeProp -> m, ManifestTable.UpdateModeProp -> m,
      ManifestTable.MergeModeProp -> m)))
    t
  }

  private def source = {
    import spark.implicits._
    Seq((15L, "m"), (55L, "m"), (200L, "n")).toDF("id", "tag")
  }

  /** A source as a parquet file: the benchmark's merge source. */
  private def parquet(df: org.apache.spark.sql.DataFrame): String = {
    val f = Files.createTempDirectory("graft_jobs").resolve("src").toString
    df.write.parquet(f)
    f
  }

  private lazy val sourceFile: String = parquet(source)

  private val catalogs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `t` by its SQL name, through a fresh graft catalog over `<dir>`. */
  private def sqlName(t: String): String = {
    val cat = s"jobs${catalogs.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new java.io.File(t).getParentFile.getParent)
    s"$cat.db.t"
  }

  /** One more key than the driver holds, 20 of them in the table: its
    * footers count the rows, and the aggregate guard runs with no key
    * pass. */
  private lazy val overFile: String = parquet(spark.range(
    80L, 81L + ManifestTable.DriverKeyBound).select(col("id"), lit("o").as("tag")))

  private val ops: Seq[(String, String => Unit)] = Seq(
    "delete" -> (t => ManifestTable.delete(spark, t, col("id") < 30L): Unit),
    "deleteWhere" -> (t => ManifestTable.deleteWhere(spark, t,
      f => f("id") < 30L): Unit),
    // filter pushdown cannot translate `%`: the rule sends it to deleteWhere
    "sqlDelete" -> (t => spark.sql(
      s"DELETE FROM ${sqlName(t)} WHERE id % 16 = 3"): Unit),
    "update" -> (t => ManifestTable.update(spark, t, col("id") >= 90L,
      Map("tag" -> lit("u"))): Unit),
    // a current-time condition matches other rows on each read: pinned
    "deleteNow" -> (t => ManifestTable.delete(spark, t, col("id") < 30L &&
      current_date() > lit("2000-01-01").cast("date")): Unit),
    "updateNow" -> (t => ManifestTable.update(spark, t, col("id") >= 90L &&
      current_date() > lit("2000-01-01").cast("date"),
      Map("tag" -> lit("u"))): Unit),
    "merge" -> (t => ManifestTable.merge(spark, source, t, Seq("id")): Unit),
    // the read's own schema job is counted, as the benchmark counts it
    "mergeParquet" -> (t => ManifestTable.merge(spark,
      spark.read.parquet(sourceFile), t, Seq("id")): Unit),
    // int source keys against the table's long keys: the same key set
    "mergeWidened" -> (t => ManifestTable.merge(spark,
      source.select(col("id").cast("int").as("id"), col("tag")), t, Seq("id")): Unit),
    "mergeOverBound" -> (t => ManifestTable.merge(spark,
      spark.read.parquet(overFile), t, Seq("id")): Unit),
    // a range's row count puts it over the bound before any pass
    "mergeOverRange" -> (t => ManifestTable.merge(spark, spark.range(
      80L, 81L + ManifestTable.DriverKeyBound).select(col("id"), lit("o").as("tag")),
      t, Seq("id")): Unit))

  /** Jobs of each op on a fresh table in `mode`, and the rows after it. */
  private def run(mode: Option[String],
      op: String => Unit): (Int, Seq[(Long, String)]) = {
    import spark.implicits._
    val t = table(mode)
    val jobs = jobsDuring(op(t))
    (jobs, ManifestTable.read(spark, t).as[(Long, String)].collect().sorted.toSeq)
  }

  test("jobs per row-level commit in both modes: API ops, deleteWhere, SQL DELETE") {
    // written before any count
    assert(Seq(sourceFile, overFile).forall(new java.io.File(_).isDirectory))
    val cow = ops.map { case (n, op) => n -> run(None, op) }
    val mor = ops.map { case (n, op) => n -> run(Some("merge-on-read"), op) }
    // both modes commit the same rows
    cow.zip(mor).foreach { case ((n, (_, a)), (_, (_, b))) =>
      assert(a == b, s"$n: copy-on-write and merge-on-read rows differ")
    }
    val rows = cow.toMap
    assert(rows("deleteWhere")._2 == rows("delete")._2,
      "deleteWhere and delete rows differ")
    assert(rows("deleteNow")._2 == rows("delete")._2, "deleteNow and delete rows differ")
    assert(rows("updateNow")._2 == rows("update")._2, "updateNow and update rows differ")
    assert(rows("sqlDelete")._2.map(_._1) == (0L until 100L).filter(_ % 16 != 3),
      "SQL DELETE rows differ")
    val counts = (cow.map { case (n, (j, _)) => s"$n/cow" -> j } ++
      mor.map { case (n, (j, _)) => s"$n/mor" -> j }).toMap
    assert(counts == Map(
      "delete/cow" -> 2, "deleteWhere/cow" -> 2, "sqlDelete/cow" -> 2,
      "update/cow" -> 2, "deleteNow/cow" -> 4, "updateNow/cow" -> 4,
      "merge/cow" -> 2,
      "mergeParquet/cow" -> 4, "mergeWidened/cow" -> 2,
      "mergeOverBound/cow" -> 8, "mergeOverRange/cow" -> 7,
      "delete/mor" -> 1, "deleteWhere/mor" -> 1, "sqlDelete/mor" -> 1,
      "update/mor" -> 2, "deleteNow/mor" -> 2, "updateNow/mor" -> 4,
      "merge/mor" -> 2,
      "mergeParquet/mor" -> 4, "mergeWidened/mor" -> 2,
      "mergeOverBound/mor" -> 7, "mergeOverRange/mor" -> 6), counts)
  }
}
