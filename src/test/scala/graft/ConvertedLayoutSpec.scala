package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** A CONVERTED table's files live in the adopted flat-or-Hive layout,
  * not under `data/sN` snapshot dirs — every read/rewrite surface must
  * be layout-agnostic (ADVICE r15 high: the former snapshot grouping
  * turned adopted `k=v/file.parquet` paths into file-as-basePath
  * errors or silently dropped partition columns).
  */
class ConvertedLayoutSpec extends AnyFunSuite with SparkSuite {
  private def freshDir(): String =
    Files.createTempDirectory("graft_convert").resolve("t").toString

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"doc$i", Seq("en", "de", "fr")(i % 3)))
      .toDF("id", "body", "lang")
  }

  test("read keeps Hive partition columns on an adopted layout") {
    val t = freshDir()
    corpus(90).write.partitionBy("lang").parquet(t)
    ManifestTable.convertToGraft(spark, t)
    val got = ManifestTable.read(spark, t)
    // partition column resolvable AND populated (not null-filled)
    assert(got.where(col("lang").isNull).count() == 0)
    assert(got.groupBy("lang").count().count() == 3)
    assert(got.count() == 90)
    // flat (unpartitioned) adoption reads too
    val t2 = freshDir()
    corpus(40).write.parquet(t2)
    ManifestTable.convertToGraft(spark, t2)
    assert(ManifestTable.read(spark, t2).count() == 40)
  }

  test("row-level ops and compaction work on adopted files") {
    val t = freshDir()
    corpus(90).write.partitionBy("lang").parquet(t)
    ManifestTable.convertToGraft(spark, t)
    // copy-on-write delete sources adopted files
    ManifestTable.delete(spark, t, col("id") % 10 === 0)
    assert(ManifestTable.read(spark, t).count() == 81)
    // merge-on-read: deletion vectors keyed by the layout-agnostic
    // rel identity, against a mix of adopted + rewritten files
    ManifestTable.deleteVectors(spark, t, col("id") % 9 === 0)
    val after = ManifestTable.read(spark, t)
    // ids 0..89: 9 %10-hits, 10 %9-hits, overlap {0} → 18 removed
    assert(after.count() == 72)
    assert(after.where(col("id") % 9 === 0).count() == 0)
    // compaction relocates everything into a native snapshot dir;
    // census unchanged
    ManifestTable.compact(spark, t)
    assert(ManifestTable.read(spark, t).count() == 72)
    assert(ManifestTable.read(spark, t)
      .where(col("lang").isNull).count() == 0)
  }

  test("manifest fmt newer than supported refuses read AND write") {
    val t = freshDir()
    ManifestTable.write(spark, corpus(10), t)
    assert(ManifestTable.read(spark, t).count() == 10)
    // a future library wrote fmt 3 on top of this log
    val head = java.nio.file.Paths.get(t, "_manifests",
      "v000000000002.json")
    java.nio.file.Files.write(head,
      """{"fmt":3,"version":2,"files":["data/s2-x/f.parquet"]}"""
        .getBytes("UTF-8"))
    val eRead = intercept[java.io.IOException] {
      ManifestTable.read(spark, t).count()
    }
    assert(eRead.getMessage.contains("newer than this library supports"))
    // a commit onto the too-new log must refuse too (the writer parses
    // the head before publishing)
    val eWrite = intercept[java.io.IOException] {
      ManifestTable.append(spark, corpus(5), t)
    }
    assert(eWrite.getMessage.contains("upgrade the graft library"))
    // nothing was committed past the foreign head
    java.nio.file.Files.delete(head)
    assert(ManifestTable.read(spark, t).count() == 10)
  }

  test("convert stats via the distributed path match the driver pool exactly") {
    val t1 = freshDir()
    corpus(120).write.partitionBy("lang").parquet(t1)
    // byte-identical twin directory → identical rel paths, so the two
    // collection paths are comparable key-for-key
    val t2 = freshDir()
    val src = java.nio.file.Paths.get(t1)
    val dst = java.nio.file.Paths.get(t2)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q): Unit
      else java.nio.file.Files.copy(p, q): Unit
    }
    ManifestTable.convertToGraft(spark, t1) // driver footer pool
    spark.conf.set("spark.graft.manifest.distributedParseThreshold", "0")
    try ManifestTable.convertToGraft(spark, t2) // forced Spark job
    finally spark.conf.unset(
      "spark.graft.manifest.distributedParseThreshold")
    val s1 = ManifestTable.fileStats(spark, t1)
    val s2 = ManifestTable.fileStats(spark, t2)
    assert(s1.nonEmpty && s1 == s2)
  }

  test("symlink manifest export: parallel writer, listing per partition") {
    val t = freshDir()
    corpus(90).write.partitionBy("lang").parquet(t)
    ManifestTable.convertToGraft(spark, t)
    val n = ManifestTable.generateSymlinkManifest(spark, t)
    assert(n == 3)
    Seq("en", "de", "fr").foreach { l =>
      val listing = java.nio.file.Paths.get(
        t, "_symlink_format_manifest", s"lang=$l", "manifest")
      val lines = java.nio.file.Files.readAllLines(listing)
      assert(!lines.isEmpty)
      // a foreign reader resolves exactly this partition's live bytes
      val uris = scala.jdk.CollectionConverters
        .ListHasAsScala(lines).asScala.toSeq
      assert(uris.forall(_.contains(s"lang=$l")))
      assert(spark.read.parquet(uris: _*).count() == 30)
    }
  }

  test("convert refuses free-form (non key=value) subdirectories") {
    val t = freshDir()
    corpus(20).write.parquet(s"$t/nested/deeper")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.convertToGraft(spark, t)
    }
    assert(e.getMessage.contains("flat or Hive-partitioned"))
  }
}
