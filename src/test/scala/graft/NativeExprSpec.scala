package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, PortableHash}

/** Native Catalyst expressions must be value-identical to the
  * composable built-in forms they replace (that equivalence is what
  * keeps the DuckDB oracle valid), in BOTH codegen and interpreted
  * paths.
  */
class NativeExprSpec extends AnyFunSuite with SparkSuite {
  private def withCodegen[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", on.toString)
    spark.conf.set("spark.sql.codegen.factoryMode",
      if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try f finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("graft_md5_32 equals conv(substring(md5, 1, 8), 16, 10)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq("hello", "", "a b c", "ünïcode ≠ ascii", "x" * 1000).toDF("s")
    Seq(true, false).foreach { cg =>
      withCodegen(cg) {
        val rows = df.select(
          PortableHash.tokenHash32(col("s")).as("fast"),
          conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("ref")).collect()
        rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"codegen=$cg"))
      }
    }
  }

  test("graft_dot equals aggregate(zip_with(...)) fold") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.5, -2.25, 3.0), Seq(0.5, 4.0, -1.25)))
      .toDF("a", "b")
    Seq(true, false).foreach { cg =>
      withCodegen(cg) {
        val r = df.select(
          expr("graft_dot(a, b)").as("fast"),
          aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x).as("ref")).head()
        assert(r.getDouble(0) == r.getDouble(1), s"codegen=$cg")
      }
    }
  }

  test("graft_minhash equals 16 array_min(transform(...)) columns") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(Seq(17L, 123456789L, 42L, 2147483646L)).toDF("sh")
    val refCols = (0 until PortableHash.MinhashK).map { i =>
      array_min(transform(col("sh"), s => PortableHash.perm(i)(s)))
    }
    Seq(true, false).foreach { cg =>
      withCodegen(cg) {
        val r = df.select(expr("graft_minhash(sh)").as("fast"), array(refCols: _*).as("ref")).head()
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"codegen=$cg")
      }
    }
  }

  test("graft_minhash of empty array is null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val r = Seq(Seq.empty[Long]).toDF("sh").select(expr("graft_minhash(sh)")).head()
    assert(r.isNullAt(0))
  }

  test("graft_intersect_size equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq("a"), Seq("b")),
      (Seq[String](), Seq("a")),
      (Seq("x", "y"), Seq("x", "y"))).toDF("a", "b")
    Seq(true, false).foreach { cg =>
      withCodegen(cg) {
        val rows = df.select(
          expr("graft_intersect_size(a, b)").as("fast"),
          size(array_intersect(col("a"), col("b"))).as("ref")).collect()
        rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"codegen=$cg"))
      }
    }
  }
}
