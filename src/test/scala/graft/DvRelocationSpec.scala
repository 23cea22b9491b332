package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.sinks.ManifestTable
import java.nio.file.{Files, Path, Paths}

/** A deletion vector names each deleted row by its file as the manifest
  * writes it, so merge-on-read `delete`, `update` and `merge` read the
  * same rows under a table root that URL-encoding changes (a space, `=`
  * and `%`) and after the table dir moves to a plain root: for a native
  * table and a converted flat one, through both sidecar writers (the
  * driver's at the default `spark.graft.dv.inlineThreshold`, Spark's at
  * `0`).
  */
class DvRelocationSpec extends AnyFunSuite with SparkSuite {
  private val Threshold = "spark.graft.dv.inlineThreshold"
  private val AwkwardRoot = "k=a b%z"

  private def under[A](threshold: Option[String])(body: => A): A = {
    threshold.foreach(spark.conf.set(Threshold, _))
    try body finally spark.conf.unset(Threshold)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** 400 rows in 4 files. */
  private def base: DataFrame = {
    import spark.implicits._
    (0 until 400).map(i => (i.toLong, s"t${i % 7}")).toDF("id", "tag")
      .repartitionByRange(4, col("id"))
  }

  /** The rows after [[ops]]: ids ending in 3 deleted, ids ending in 5
    * tagged `u`, ids 7, 17, … 97 tagged `m` and 1000, 1001 inserted.
    */
  private val expected: Seq[String] =
    ((0L until 400L).filterNot(_ % 10 == 3).map { i =>
      val tag = if (i % 10 == 5) "u" else if (i % 10 == 7 && i < 100) "m"
        else s"t${i % 7}"
      s"[$i,$tag]"
    } ++ Seq("[1000,m]", "[1001,m]")).sorted

  /** Merge-on-read delete, update and upsert on table `t`. */
  private def ops(t: String): Unit = {
    import spark.implicits._
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.DeleteModeProp -> "merge-on-read",
      ManifestTable.UpdateModeProp -> "merge-on-read",
      ManifestTable.MergeModeProp -> "merge-on-read"))
    ManifestTable.delete(spark, t, col("id") % 10 === 3L)
    ManifestTable.update(spark, t, col("id") % 10 === 5L, Map("tag" -> lit("u")))
    ManifestTable.merge(spark, ((7L until 100L by 10L) ++ Seq(1000L, 1001L))
      .map(i => (i, "m")).toDF("id", "tag"), t, Seq("id"))
  }

  private def copyTree(from: String): String = {
    val to = Files.createTempDirectory("graft_dvmove").resolve("plain")
    Files.walk(Paths.get(from)).forEach { p: Path =>
      Files.copy(p, to.resolve(Paths.get(from).relativize(p).toString)): Unit
    }
    to.toString
  }

  private def awkwardRoot(): String =
    Files.createTempDirectory("graft_dvmove").resolve(AwkwardRoot).toString

  private def check(t: String): Unit = {
    assert(ManifestTable.hasDeletionVectors(spark, t))
    assert(rows(ManifestTable.read(spark, t)) == expected)
    assert(rows(ManifestTable.scan(spark, t)) == expected)
    val moved = copyTree(t)
    assert(rows(ManifestTable.read(spark, moved)) == expected)
    assert(rows(ManifestTable.scan(spark, moved)) == expected)
  }

  test("shallow clones read inherited vectors and their own under both readers") {
    // a clone names its files by absolute path, under this `k=…` root
    val src = awkwardRoot()
    ManifestTable.write(spark, base, src)
    ops(src)
    def fresh(name: String) =
      Files.createTempDirectory("graft_dvmove").resolve(name).toString
    val clone = fresh("clone")
    ManifestTable.cloneTable(spark, src, clone)
    // the clone's own vector, on files it names by absolute path
    ManifestTable.delete(spark, clone, col("id") % 10 === 9L)
    val chained = fresh("chained")
    ManifestTable.cloneTable(spark, clone, chained)
    val want = expected.filterNot(_.drop(1).takeWhile(_ != ',').toLong % 10 == 9)
    for (threshold <- Seq(None, Some("0"))) under(threshold) {
      assert(rows(ManifestTable.read(spark, src)) == expected)
      assert(rows(ManifestTable.read(spark, clone)) == want)
      assert(rows(ManifestTable.read(spark, chained)) == want)
    }
  }

  test("a filter on _metadata.graft_file selects its file and never prunes by column stats") {
    import spark.implicits._
    // a data column, then a partition column, that shares the field's name
    for (part <- Seq("p", "graft_file")) {
      val t = awkwardRoot()
      ManifestTable.write(spark, (0 until 60).map(i => (i.toLong, s"z${i % 2}", i % 2))
        .toDF("id", "graft_file", "p").repartitionByRange(3, col("id")), t,
        partitionCols = Seq(part))
      val stats = ManifestTable.fileStats(spark, t)
      val scan = ManifestTable.scan(spark, t)
      ManifestTable.currentFiles(spark, t).foreach { f =>
        assert(scan.filter(col("_metadata.graft_file") === f).count() ==
          stats(f).rows, f)
      }
      assert(scan.filter(col("_metadata.graft_file").isNotNull).count() == 60)
    }
  }

  for ((path, threshold) <- Seq("driver" -> None, "Spark" -> Some("0"))) {
    test(s"native table under an encoded root reads the same rows after a move ($path-written vectors)") {
      under(threshold) {
        val t = awkwardRoot()
        ManifestTable.write(spark, base, t)
        ops(t)
        check(t)
      }
    }

    test(s"converted flat table under an encoded root reads the same rows after a move ($path-written vectors)") {
      under(threshold) {
        val t = awkwardRoot()
        base.write.parquet(t)
        ManifestTable.convertToGraft(spark, t)
        ops(t)
        check(t)
      }
    }
  }
}
