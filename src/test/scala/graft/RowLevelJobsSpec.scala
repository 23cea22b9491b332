package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The Spark jobs one row-level commit runs, op by op, on a small
  * table. Each row-level commit finds its hit files with one narrow
  * pass; a small deletion vector's sidecar is written by the driver, so
  * a merge-on-read delete costs its pin and its pass and nothing else.
  * A count that grows means an action came back.
  */
class RowLevelJobsSpec extends AnyFunSuite with SparkSuite {
  /** 100 rows in 5 range-localized files: file k holds ids [20k, 20k+20). */
  private def table(mode: Option[String]): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_jobs").resolve("t").toString
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

  private val ops: Seq[(String, String => Unit)] = Seq(
    "delete" -> (t => ManifestTable.delete(spark, t, col("id") < 30L): Unit),
    "update" -> (t => ManifestTable.update(spark, t, col("id") >= 90L,
      Map("tag" -> lit("u"))): Unit),
    "merge" -> (t => ManifestTable.merge(spark, source, t, Seq("id")): Unit))

  /** Jobs of each op on a fresh table in `mode`, and the rows after it. */
  private def run(mode: Option[String],
      op: String => Unit): (Int, Seq[(Long, String)]) = {
    import spark.implicits._
    val t = table(mode)
    val jobs = jobsDuring(op(t))
    (jobs, ManifestTable.read(spark, t).as[(Long, String)].collect().sorted.toSeq)
  }

  test("jobs per row-level commit: API delete, update and merge in both modes, deleteWhere on read") {
    val cow = ops.map { case (n, op) => n -> run(None, op) }
    val mor = ops.map { case (n, op) => n -> run(Some("merge-on-read"), op) }
    // both modes commit the same rows
    cow.zip(mor).foreach { case ((n, (_, a)), (_, (_, b))) =>
      assert(a == b, s"$n: copy-on-write and merge-on-read rows differ")
    }
    val (whereJobs, whereRows) = run(Some("merge-on-read"), t =>
      ManifestTable.deleteWhere(spark, t, f => f("id") < 30L): Unit)
    assert(whereRows == cow.head._2._2, "deleteWhere and delete rows differ")
    val counts = (cow.map { case (n, (j, _)) => s"$n/cow" -> j } ++
      mor.map { case (n, (j, _)) => s"$n/mor" -> j } :+
      ("deleteWhere/mor" -> whereJobs)).toMap
    assert(counts == Map(
      "delete/cow" -> 2, "update/cow" -> 2, "merge/cow" -> 7,
      "delete/mor" -> 2, "update/mor" -> 3, "merge/mor" -> 7,
      "deleteWhere/mor" -> 2), counts)
  }
}
