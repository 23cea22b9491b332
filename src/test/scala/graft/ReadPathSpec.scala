package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The snapshot read path: every `ManifestTable` read is one parquet
  * relation over the recorded schema, so building a read plans without
  * a Spark job, and one relation serves every kind of schema evolution
  * the lake records (defaults, widening, column mapping, Hive
  * partitions, row ids, deletion vectors).
  */
class ReadPathSpec extends AnyFunSuite with SparkSuite {
  private def fresh(): String =
    Files.createTempDirectory("graft_readpath").resolve("t").toString

  test("building read, time travel, readWhere and readChanges runs no Spark job") {
    import spark.implicits._
    val t = fresh()
    // three snapshot directories, no deletion vectors
    ManifestTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), t)
    ManifestTable.append(spark, Seq((3L, "c")).toDF("id", "tag"), t)
    ManifestTable.append(spark, Seq((4L, "d")).toDF("id", "tag"), t)
    var frames = Seq.empty[DataFrame]
    val jobs = jobsDuring {
      frames = Seq(
        ManifestTable.read(spark, t),
        ManifestTable.read(spark, t, 2L),
        ManifestTable.readWhere(spark, t, col("id") >= 2L),
        ManifestTable.readChanges(spark, t, 1L))
    }
    assert(jobs == 0, s"building the reads ran $jobs Spark job(s)")
    def ids(df: DataFrame) = df.select("id").as[Long].collect().sorted.toSeq
    assert(frames.map(ids) == Seq(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L),
      Seq(2L, 3L, 4L), Seq(3L, 4L)))
  }

  test("one relation serves defaults, widening, mapping, Hive partitions, row ids and DVs") {
    import spark.implicits._
    val t = fresh()
    val narrow = StructType(Seq(
      StructField("id", LongType), StructField("w1", ByteType),
      StructField("w2", ShortType), StructField("w3", IntegerType),
      StructField("f", FloatType), StructField("dec", DecimalType(5, 2)),
      StructField("name", StringType), StructField("junk", StringType),
      StructField("pi", IntegerType), StructField("pd", DateType),
      StructField("ps", StringType)))
    ManifestTable.create(spark, t, narrow, Seq("pi", "pd", "ps"),
      Map(ManifestTable.RowTrackingProp -> "true"))
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def dec(s: String) = new java.math.BigDecimal(s)
    // snapshot dir 1: the narrow types
    ManifestTable.append(spark, spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 1.toByte, 10.toShort, 100, 1.5f, dec("1.25"), "n1", "j", 1, d1, "a"),
        Row(2L, 2.toByte, 20.toShort, 200, 2.5f, dec("2.50"), "n2", "j", 1, d1, "a"),
        Row(3L, 3.toByte, 30.toShort, 300, 3.5f, dec("3.75"), "n3", "j", 2, d2, "b"),
        Row(4L, 4.toByte, 40.toShort, 400, 4.5f, dec("4.00"), "n4", "j", 2, d2, "b")),
      narrow), t)
    val vNarrow = ManifestTable.currentVersion(spark, t)
    // every widening graft allows, each a zero-file commit
    ManifestTable.widenColumnType(spark, t, "w1", ShortType)
    ManifestTable.widenColumnType(spark, t, "w2", IntegerType)
    ManifestTable.widenColumnType(spark, t, "w3", LongType)
    ManifestTable.widenColumnType(spark, t, "f", DoubleType)
    ManifestTable.widenColumnType(spark, t, "dec", DecimalType(10, 2))
    val wide = StructType(narrow.fields.map {
      case f if f.name == "w1" => f.copy(dataType = ShortType)
      case f if f.name == "w2" => f.copy(dataType = IntegerType)
      case f if f.name == "w3" => f.copy(dataType = LongType)
      case f if f.name == "f" => f.copy(dataType = DoubleType)
      case f if f.name == "dec" => f.copy(dataType = DecimalType(10, 2))
      case f => f
    })
    // snapshot dir 2: the wide types
    ManifestTable.append(spark, spark.createDataFrame(
      java.util.Arrays.asList(
        Row(5L, 500.toShort, 50000, 5000000000L, 5.25d, dec("12345.67"), "n5", "j", 1, d2, "b")),
      wide), t)
    // ADD COLUMN with a DEFAULT: older files read the frozen default
    val defaulted = new MetadataBuilder()
      .putString("EXISTS_DEFAULT", "'basic'")
      .putString("CURRENT_DEFAULT", "'basic'").build()
    ManifestTable.addColumns(spark, t,
      StructType(Seq(StructField("tier", StringType, nullable = true, defaulted))))
    // snapshot dir 3: explicit tier values, one of them NULL
    ManifestTable.append(spark, spark.createDataFrame(
      java.util.Arrays.asList(
        Row(6L, 6.toShort, 60, 600L, 6.0d, dec("6.00"), "n6", "j", 2, d1, "a", "gold"),
        Row(7L, 7.toShort, 70, 700L, 7.0d, dec("7.00"), "n7", "j", 2, d1, "a", null)),
      wide.add("tier", StringType)), t)
    // column mapping: rename and drop touch no file
    ManifestTable.renameColumn(spark, t, "name", "label")
    ManifestTable.dropColumn(spark, t, "junk")
    val logical = StructType(Seq(
      StructField("id", LongType), StructField("w1", ShortType),
      StructField("w2", IntegerType), StructField("w3", LongType),
      StructField("f", DoubleType), StructField("dec", DecimalType(10, 2)),
      StructField("label", StringType), StructField("pi", IntegerType),
      StructField("pd", DateType), StructField("ps", StringType),
      StructField("tier", StringType)))
    // snapshot dir 4: written under the logical names
    ManifestTable.append(spark, spark.createDataFrame(
      java.util.Arrays.asList(
        Row(8L, 8.toShort, 80, 800L, 8.0d, dec("8.00"), "n8", 1, d1, "a", "silver")),
      logical), t)
    // a deletion vector hides id 2
    ManifestTable.deleteVectors(spark, t, col("id") === 2L)

    val cols = logical.fieldNames.toSeq
    def rowsOf(df: DataFrame): Seq[Row] =
      df.select(cols.map(col): _*).orderBy("id").collect().toSeq
    val all = Seq(
      Row(1L, 1.toShort, 10, 100L, 1.5d, dec("1.25"), "n1", 1, d1, "a", "basic"),
      Row(3L, 3.toShort, 30, 300L, 3.5d, dec("3.75"), "n3", 2, d2, "b", "basic"),
      Row(4L, 4.toShort, 40, 400L, 4.5d, dec("4.00"), "n4", 2, d2, "b", "basic"),
      Row(5L, 500.toShort, 50000, 5000000000L, 5.25d, dec("12345.67"), "n5", 1, d2, "b", "basic"),
      Row(6L, 6.toShort, 60, 600L, 6.0d, dec("6.00"), "n6", 2, d1, "a", "gold"),
      Row(7L, 7.toShort, 70, 700L, 7.0d, dec("7.00"), "n7", 2, d1, "a", null),
      Row(8L, 8.toShort, 80, 800L, 8.0d, dec("8.00"), "n8", 1, d1, "a", "silver"))
    def typesOf(df: DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    def check(df: DataFrame, want: Seq[Row], what: String): Unit = {
      assert(df.columns.toSet == cols.toSet, s"$what columns: ${df.columns.mkString(",")}")
      assert(cols.forall(c => typesOf(df)(c) == logical(c).dataType),
        s"$what types: ${df.schema.simpleString}")
      assert(df.schema.fields.forall(_.metadata == Metadata.empty),
        s"$what serves recorded metadata")
      assert(rowsOf(df) == want, s"$what rows: ${rowsOf(df)}")
    }

    check(ManifestTable.read(spark, t), all, "read")
    check(ManifestTable.scan(spark, t), all, "scan")
    check(ManifestTable.readWhere(spark, t,
      col("tier") === "basic" && col("pd") === lit(d2)),
      all.filter(r => r.getLong(0) >= 3L && r.getLong(0) <= 5L), "readWhere")
    check(ManifestTable.readWhere(spark, t, col("label") === "n8" && col("pi") === 1),
      all.filter(_.getLong(0) == 8L), "readWhere on a renamed column")

    // time travel serves the era's names and narrow types
    val old = ManifestTable.read(spark, t, vNarrow)
    assert(old.columns.toSet == narrow.fieldNames.toSet)
    assert(narrow.fields.forall(f => typesOf(old)(f.name) == f.dataType),
      s"time travel types: ${old.schema.simpleString}")
    assert(old.select("id", "w1", "dec", "name", "pd").orderBy("id").collect().toSeq ==
      Seq(Row(1L, 1.toByte, dec("1.25"), "n1", d1), Row(2L, 2.toByte, dec("2.50"), "n2", d1),
        Row(3L, 3.toByte, dec("3.75"), "n3", d2), Row(4L, 4.toByte, dec("4.00"), "n4", d2)))

    // row ids: drawn for every row (tracking was on from create), unique
    def rowIds(): Map[Long, Long] =
      ManifestTable.readWithRowIds(spark, t).select("id", "_row_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val ids0 = rowIds()
    assert(ids0.keySet == all.map(_.getLong(0)).toSet)
    assert(ids0.values.forall(_ >= 0L) && ids0.values.toSet.size == ids0.size,
      s"row ids: $ids0")

    // copy-on-write delete: survivors keep values, defaults and row ids
    ManifestTable.delete(spark, t, col("id") === 4L)
    val afterDelete = all.filterNot(_.getLong(0) == 4L)
    check(ManifestTable.read(spark, t), afterDelete, "read after delete")
    assert(rowIds() == ids0 - 4L, "row ids after the copy-on-write delete")

    // compaction materializes defaults, widening and the DV; nothing moves
    ManifestTable.compact(spark, t)
    check(ManifestTable.read(spark, t), afterDelete, "read after compact")
    assert(rowIds() == ids0 - 4L, "row ids after compaction")
  }

  test("an append to a bloom-indexed table reads its new files without footer inference") {
    import spark.implicits._
    val t = fresh()
    val rows = (0 until 40).map(i => (i.toLong, s"k$i", i % 2))
    // bloom filters declared on a data column AND on the partition
    // column; the partition column lives in the paths, so it gets none.
    // All columns nullable: no NOT NULL check adds jobs of its own
    ManifestTable.create(spark, t, StructType(Seq(StructField("id", LongType),
      StructField("key", StringType), StructField("part", IntegerType))),
      Seq("part"), Map(ManifestTable.BloomColumnsProp -> "key,part"))
    val jobs = jobsDuring {
      ManifestTable.append(spark, rows.toDF("id", "key", "part"), t): Unit
    }
    // the write, the bloom aggregation's two stages and the read-back of
    // the sidecar's (file, column) pairs; a footer-inference read of the
    // new files would add one more
    assert(jobs == 4, s"jobs of one bloom-indexed append: $jobs")
    val stats = ManifestTable.fileStats(spark, t)
    assert(stats.nonEmpty && stats.values.forall(_.bloom.keySet == Set("key")),
      stats.values.map(_.bloom))
    assert(ManifestTable.readWhere(spark, t, col("key") === "k7")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
  }
}
