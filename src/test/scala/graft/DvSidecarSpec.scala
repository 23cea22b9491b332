package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.sinks.ManifestTable
import java.nio.file.{Files, Path, Paths}

/** Both ways a deletion-vector sidecar is written: by the driver for a
  * vector within `spark.graft.dv.inlineThreshold` positions, by Spark
  * from the pinned rows above it. Either sidecar reads the same through
  * the inline filter, the anti-join and the row change feed.
  */
class DvSidecarSpec extends AnyFunSuite with SparkSuite {
  private val Threshold = "spark.graft.dv.inlineThreshold"

  /** 100 rows in 5 range-localized files under merge-on-read deletes
    * and updates; a delete of 8 rows, then an update of 13, each
    * hitting four files.
    */
  private def vectored(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_dvside").resolve("t").toString
    ManifestTable.write(spark, (0 until 100).map(i => (i.toLong, s"t${i % 7}"))
      .toDF("id", "tag").repartitionByRange(5, col("id")), t)
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.DeleteModeProp -> "merge-on-read",
      ManifestTable.UpdateModeProp -> "merge-on-read"))
    ManifestTable.delete(spark, t, col("id") % 9 === 0L && col("id") < 70L)
    ManifestTable.update(spark, t, col("id") % 5 === 1L && col("id") > 30L,
      Map("tag" -> lit("u")))
    t
  }

  private def under[A](threshold: Option[String])(body: => A): A = {
    threshold.foreach(spark.conf.set(Threshold, _))
    try body finally spark.conf.unset(Threshold)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The files of each sidecar dir under `t`, by dir name order. */
  private def sidecars(t: String): Seq[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(t, "deletes")).iterator().asScala.toSeq
    dirs.sortBy(d => d.getFileName.toString.drop(1).takeWhile(_ != '-').toInt)
      .map(d => Files.list(d).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq.sorted)
  }

  private def copyTree(from: String): String = {
    val to = Files.createTempDirectory("graft_dvside").resolve("t")
    Files.walk(Paths.get(from)).forEach { p: Path =>
      Files.copy(p, to.resolve(Paths.get(from).relativize(p).toString)): Unit
    }
    to.toString
  }

  test("small vectors are driver-written; threshold 1 takes the Spark write and reads the same rows") {
    val small = vectored()
    val large = under(Some("1"))(vectored())
    // Spark leaves a _SUCCESS marker beside its part files; the driver
    // writes one parquet file
    assert(sidecars(small).map(_.count(_.endsWith(".parquet"))) == Seq(1, 1))
    assert(sidecars(small).forall(!_.contains("_SUCCESS")), sidecars(small))
    assert(sidecars(large).forall(_.contains("_SUCCESS")), sidecars(large))
    val expected = rows(ManifestTable.read(spark, small))
    assert(expected == (0L until 100L).filterNot(i => i % 9 == 0 && i < 70)
      .map(i => s"[$i,${if (i % 5 == 1 && i > 30) "u" else s"t${i % 7}"}]").sorted)
    // the threshold-1 table reads through the anti-join, and through the
    // inline filter (the driver reading Spark's sidecar) at the default
    assert(under(Some("1"))(rows(ManifestTable.read(spark, large))) == expected)
    assert(rows(ManifestTable.read(spark, large)) == expected)
    assert(rows(ManifestTable.scan(spark, large)) == expected)
  }

  test("the anti-join and a fresh driver read serve a driver-written sidecar") {
    val t = vectored()
    val expected = rows(ManifestTable.read(spark, t))
    // threshold 0: no inlining, dvEntries reads the driver's file
    assert(under(Some("0"))(rows(ManifestTable.read(spark, t))) == expected)
    assert(under(Some("0"))(rows(ManifestTable.scan(spark, t))) == expected)
    // a copy's sidecar dirs were never memoized: the inline filter reads
    // the driver-written files back with the parquet reader
    assert(rows(ManifestTable.read(spark, copyTree(t))) == expected)
  }

  test("rowChanges over a driver-written sidecar matches the Spark-written one") {
    val small = vectored()
    val large = under(Some("1"))(vectored())
    val changes = rows(ManifestTable.rowChanges(spark, small, 1L))
    assert(changes.count(_.contains(",delete,")) == 8 + 13, changes)
    assert(changes.count(_.contains(",insert,")) == 13, changes)
    assert(rows(ManifestTable.rowChanges(spark, large, 1L)) == changes)
  }
}
