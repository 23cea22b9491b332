package graft

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The local NIO filesystem under the `countfs:` scheme, recording the
  * path of every directory it lists. Every listing entry point
  * (`listStatus`, `listLocatedStatus`, `listFiles`, globbing) reaches
  * the raw `listStatus`, so that is where it counts.
  */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  setWriteChecksum(false)
  setVerifyChecksum(false)
}

object CountingFs {
  val Scheme = "countfs"

  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The dirs listed since the last [[reset]], as local paths. */
  def dirs: Seq[String] = listed.toArray(Array.empty[String]).toSeq
  def reset(): Unit = listed.clear()

  class Raw extends graft.hadoop.NioRawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
    override def listStatus(f: Path): Array[FileStatus] = {
      listed.add(f.toUri.getPath)
      super.listStatus(f)
    }
  }
}

/** Lake reads plan from the manifest alone: every committed file
  * records its rows and bytes, so `read`, `scan`, `readWhere`, time
  * travel and a catalog `SELECT` list no data directory — on a native
  * table (`data/s…`) and on a converted flat one (files directly under
  * the root). The spec reads through [[CountingFs]], registered for its
  * scheme on the shared session's Hadoop conf. A data file that is gone
  * fails the read, named in the error, and never reads as fewer rows.
  */
class ManifestListingSpec extends AnyFunSuite with SparkSuite {
  private val implKey = s"fs.${CountingFs.Scheme}.impl"

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set(implKey,
      classOf[CountingFs].getName)
  }

  override protected def afterAll(): Unit =
    try spark.sparkContext.hadoopConfiguration.unset(implKey)
    finally super.afterAll()

  /** A fresh local dir, and its name under the counting scheme. */
  private def fresh(name: String): (String, String) = {
    val local = Files.createTempDirectory("graft_listing").resolve(name).toString
    (local, s"${CountingFs.Scheme}://$local")
  }

  private def rows(n: Int, from: Int = 0): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"t${i % 5}")).toDF("id", "tag")
  }

  /** The dirs listed while `body` runs that are the table root `local`
    * or below it, other than its log `_manifests`.
    */
  private def dataListings(local: String)(body: => Unit): Seq[String] = {
    CountingFs.reset()
    body
    CountingFs.dirs.distinct.filter(d => (d == local ||
      d.startsWith(local + "/")) && !d.startsWith(local + "/_manifests"))
  }

  /** Every read surface of `t` (rooted at `local`) returns `n` rows at
    * the head and `n1` at version 1, listing no data dir.
    */
  private def readsList(local: String, t: String, n: Long, n1: Long,
      sqlName: Option[String]): Unit = {
    val listed = dataListings(local) {
      assert(ManifestTable.read(spark, t).collect().length == n)
      assert(ManifestTable.scan(spark, t).collect().length == n)
      assert(ManifestTable.scan(spark, t).filter(col("id") < 5L).count() == 5)
      assert(ManifestTable.readWhere(spark, t, col("id") < 5L)
        .collect().length == 5)
      assert(ManifestTable.read(spark, t, version = 1).collect().length == n1)
      sqlName.foreach(name =>
        assert(spark.sql(s"SELECT * FROM $name").collect().length == n))
    }
    assert(listed.isEmpty, s"reads of $t listed data dirs: $listed")
  }

  test("read, scan, readWhere, time travel and a catalog SELECT list no data dir") {
    // a native table in a catalog warehouse, partitioned and appended to
    val (wh, whUri) = fresh("wh")
    val t = s"$whUri/db/t"
    ManifestTable.write(spark, rows(40).withColumn("b", col("id") % 2), t,
      partitionCols = Seq("b"))
    ManifestTable.append(spark, rows(20, from = 40).withColumn("b", col("id") % 2), t)
    assert(ManifestTable.currentFiles(spark, t).forall(_.startsWith("data/s")))
    spark.conf.set("spark.sql.catalog.listing", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.listing.warehouse", whUri)
    readsList(s"$wh/db/t", t, 60, 40, Some("listing.db.t"))
    // a converted flat table: its files sit directly under the root
    val (flat, flatUri) = fresh("flat")
    rows(30).coalesce(3).write.parquet(flatUri)
    ManifestTable.convertToGraft(spark, flatUri)
    ManifestTable.append(spark, rows(10, from = 30), flatUri)
    assert(ManifestTable.currentFiles(spark, flatUri).exists(!_.contains("/")))
    readsList(flat, flatUri, 40, 30, None)
  }

  test("a missing data file fails the read, named in the error") {
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles", "false") ==
      "false", "a session that skips missing files would read fewer rows")
    for (converted <- Seq(false, true)) {
      val (local, t) = fresh("gone")
      if (converted) {
        rows(30).coalesce(3).write.parquet(t)
        ManifestTable.convertToGraft(spark, t)
      } else ManifestTable.write(spark, rows(30).coalesce(3), t)
      val gone = ManifestTable.currentFiles(spark, t).head
      assert(new java.io.File(local, gone).delete())
      Seq[() => Any](() => ManifestTable.read(spark, t).collect(),
        () => ManifestTable.read(spark, t).count(),
        () => ManifestTable.scan(spark, t).collect()).foreach { op =>
        val e = intercept[Exception](op())
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(c => String.valueOf(c.getMessage)).toSeq
        assert(chain.exists(_.contains(gone.split("/").last)),
          s"the missing $gone is not named: ${chain.mkString(" <- ")}")
      }
    }
  }

  test("a shallow clone of a converted table under a key=value root reads no root partition") {
    // flat and Hive-partitioned sources whose root is itself `k=…`: the
    // clone names their files by absolute path, and only the segments
    // below the source root are partitions
    val flat = Files.createTempDirectory("graft_listing").resolve("k=a b%z").toString
    val hive = Files.createTempDirectory("graft_listing").resolve("k=1").toString
    rows(20).coalesce(2).write.parquet(flat)
    rows(20).withColumn("p", col("id") % 2).write.partitionBy("p").parquet(hive)
    for ((src, cols) <- Seq(flat -> Seq("id", "tag"), hive -> Seq("id", "tag", "p"))) {
      ManifestTable.convertToGraft(spark, src)
      val clone = Files.createTempDirectory("graft_listing").resolve("c").toString
      ManifestTable.cloneTable(spark, src, clone)
      for (t <- Seq(src, clone); df <- Seq(ManifestTable.read(spark, t),
          ManifestTable.scan(spark, t))) {
        assert(df.columns.toSeq == cols, s"$t read columns ${df.columns.toSeq}")
        assert(df.collect().map(_.toString).sorted.toSeq ==
          ManifestTable.read(spark, src).collect().map(_.toString).sorted.toSeq)
      }
    }
  }
}
