package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Declared NOT NULL is a WRITE-TIME contract (the Delta nullability
  * discipline — VERDICT r15 next-round #3): a column recorded
  * non-nullable rejects null rows on every row-introducing commit,
  * and a violated write aborts with the table untouched.
  */
class NotNullSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_notnull").resolve("t").toString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tag", StringType, nullable = true)))

  private def frame(rows: (java.lang.Long, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(
        StructField("id", LongType, nullable = true),
        StructField("tag", StringType, nullable = true))))
  }

  test("append rejects null rows in a NOT NULL column; abort leaves table untouched") {
    val t = freshTable()
    ManifestTable.create(spark, t, schema)
    ManifestTable.append(spark, frame((1L, "a"), (2L, "b")), t)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, frame((3L, "c"), (null, "d")), t)
    }
    assert(e.getMessage.contains("__not_null_id"))
    assert(ManifestTable.currentVersion(spark, t) == 2)
    assert(ManifestTable.read(spark, t).count() == 2)
    // a nullable INCOMING schema with no null ROWS is fine
    ManifestTable.append(spark, frame((3L, "c")), t)
    assert(ManifestTable.read(spark, t).count() == 3)
  }

  test("a NOT NULL column missing from the incoming frame refuses") {
    val t = freshTable()
    ManifestTable.create(spark, t, schema)
    import spark.implicits._
    val noId = Seq(("x"), ("y")).toDF("tag")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, noId, t)
    }
    assert(e.getMessage.contains("missing from the frame"))
    assert(ManifestTable.read(spark, t).count() == 0)
  }

  test("UPDATE cannot set a NOT NULL column to null") {
    val t = freshTable()
    ManifestTable.create(spark, t, schema)
    ManifestTable.append(spark, frame((1L, "a"), (2L, "b")), t)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.update(spark, t, col("tag") === "a",
        Map("id" -> lit(null).cast("long")))
    }
    assert(e.getMessage.contains("__not_null_id"))
    assert(ManifestTable.read(spark, t)
      .where(col("id").isNull).count() == 0)
  }

  test("data-derived schemas record nullable: toDF non-nullability is no contract") {
    val t = freshTable()
    import spark.implicits._
    // Scala toDF marks primitive columns non-nullable — an encoding
    // fact; the recorded schema must not turn it into NOT NULL (the
    // Delta ImplicitMetadataOperation discipline)
    ManifestTable.write(spark, Seq((1L, "a")).toDF("id", "tag"), t)
    ManifestTable.append(spark, frame((null, "b")), t)
    assert(ManifestTable.read(spark, t)
      .where(col("id").isNull).count() == 1)
    // merge with null keys stays legal on such tables
    ManifestTable.merge(spark, frame((2L, "c"), (null, "d")), t,
      keyCols = Seq("id"))
    assert(ManifestTable.read(spark, t).count() == 4)
  }

  test("SQL surface: CREATE TABLE ... NOT NULL survives INSERT OVERWRITE") {
    val cat = "nncat1"
    val wh = Files.createTempDirectory("graft_nn_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT NOT NULL, tag STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a')")
    // a DATA replace, not a schema replace: the nullability contract
    // survives the overwrite commit
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES (2, 'b')")
    assert(spark.sql(s"SELECT id FROM $cat.db.t").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, frame((null, "c")), s"$wh/db/t")
    }
    assert(e.getMessage.contains("__not_null_id"))
    // SQL null insert refuses too (Spark's own analysis check or the
    // manifest write-time contract — either way, loudly)
    intercept[Exception] {
      spark.sql(
        s"INSERT INTO $cat.db.t VALUES (CAST(NULL AS BIGINT), 'x')")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0)
      == 1L)
  }

  test("merge and replaceWhere reject null key rows") {
    val t = freshTable()
    ManifestTable.create(spark, t, schema)
    ManifestTable.append(spark, frame((1L, "a")), t)
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, frame((2L, "b"), (null, "c")), t,
        keyCols = Seq("tag"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.replaceWhere(spark, frame((null, "a")), t,
        col("tag") === "a")
    }
    assert(ManifestTable.read(spark, t).count() == 1)
  }
}
