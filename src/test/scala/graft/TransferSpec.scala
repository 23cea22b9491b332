package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.ingest.Ingest
import graft.transfer.Transfer

/** Spark-backed Tier-P semantics: rename symmetry/asymmetry, sink
  * casts, parquet round-trip with overwrite/append (SURVEY.md §5.5 —
  * parquet stands in for the offline JDBC sinks).
  */
class TransferSpec extends AnyFunSuite with SparkSuite {
  private def dirtyDf = {
    import spark.implicits._
    Seq(("ann", 5L, true), ("bob", 7L, false))
      .toDF("Автор Отзыва?", "N-(Stars)", "OK $Flag")
  }

  test("sanitizeColumns cleans every column") {
    assert(Ingest.sanitizeColumns(dirtyDf).columns.toSeq ==
      Seq("автор_отзыва", "n_stars", "ok_flag"))
  }

  test("renameSanitized sanitizes mapping keys first (PostgresDatabase.py:123 rule)") {
    val out = Ingest.renameSanitized(dirtyDf, Map("Автор Отзыва?" -> "author", "N-(Stars)" -> "stars"))
    assert(out.columns.toSeq == Seq("author", "stars", "ok_flag"))
  }

  test("renameRaw does NOT sanitize (PG→CH asymmetry, ClickHouseDatabase.py:122)") {
    val out = Ingest.renameRaw(dirtyDf, Map("Автор Отзыва?" -> "author"))
    assert(out.columns.toSeq == Seq("author", "N-(Stars)", "OK $Flag"))
  }

  test("transfer plan applies CH sink cast bool→byte") {
    val out = Transfer.plan(dirtyDf, Map("OK $Flag" -> "ok"), Transfer.RawRename, sinkCast = true)
    assert(out.schema("ok").dataType == ByteType)
  }

  test("transfer round-trip: overwrite then append to parquet sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_transfer").toString + "/t"
    Transfer.runToParquet(dirtyDf, Map.empty, Transfer.SanitizeKeys, dir, overwrite = true)
    Transfer.runToParquet(dirtyDf, Map.empty, Transfer.SanitizeKeys, dir, overwrite = false)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4)
    assert(back.columns.sorted.toSeq == Seq("n_stars", "ok_flag", "автор_отзыва"))
    Transfer.runToParquet(dirtyDf, Map.empty, Transfer.SanitizeKeys, dir, overwrite = true)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("castColumns casts named columns, passes others through") {
    import org.apache.spark.sql.types._
    val out = Ingest.castColumns(dirtyDf, Map("N-(Stars)" -> DoubleType))
    assert(out.schema("N-(Stars)").dataType == DoubleType)
    assert(out.schema("OK $Flag").dataType == BooleanType)
    assert(out.count() == 2)
  }

  test("JdbcSpec emits partitioned-read and batched-write options") {
    val spec = graft.transfer.Transfer.JdbcSpec(
      "jdbc:postgresql://h/db", "t", Some("id"), 16, 5000, Some("s"))
    assert(spec.readOptions("numPartitions") == "16")
    assert(spec.readOptions("partitionColumn") == "id")
    assert(spec.writeOptions("batchsize") == "5000")
  }

  test("defaultTableName pipeline rule") {
    assert(Ingest.defaultTableName("wildberries_reviews.xlsx") == "wildberries_reviews")
  }

  /** Real JDBC wire execution — the round-1/2 "config-only" gap: the
    * Spark classpath ships embedded Derby, so the transfer path runs
    * against an actual database here (same `runToJdbc` call a cluster
    * points at PG/CH): overwrite = DROP+CREATE parity, append = insert
    * parity, then a JDBC read back through `readJdbc`.
    */
  test("JDBC round-trip against embedded Derby: overwrite, append, read back") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    val spec = Transfer.JdbcSpec(s"jdbc:derby:$dbDir/db;create=true", "reviews")
    Transfer.runToJdbc(dirtyDf, Map("Автор Отзыва?" -> "author"),
      Transfer.SanitizeKeys, spec, overwrite = true)
    Transfer.runToJdbc(dirtyDf, Map("Автор Отзыва?" -> "author"),
      Transfer.SanitizeKeys, spec, overwrite = false)
    val back = Transfer.readJdbc(spark, spec)
    assert(back.columns.sorted.toSeq == Seq("author", "n_stars", "ok_flag"))
    assert(back.count() == 4)
    val authors = back.select("author").collect().map(_.getString(0)).sorted.toSeq
    assert(authors == Seq("ann", "ann", "bob", "bob"))
    // overwrite drops + recreates (the reference's destructive PG path)
    Transfer.runToJdbc(dirtyDf, Map.empty, Transfer.SanitizeKeys, spec, overwrite = true)
    assert(Transfer.readJdbc(spark, spec).count() == 2)
  }
}
