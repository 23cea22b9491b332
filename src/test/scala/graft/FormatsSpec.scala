package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.ops.Tables

/** File-format coverage (SURVEY.md §2.2 formats row): CSV with header
  * + schema inference (the reference's Excel-ingest stand-in) and JSON
  * lines, round-tripped against the parquet source of truth.
  */
class FormatsSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("CSV round-trip with header + inferSchema preserves values and types") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/nation"
    val src = Tables.nation(spark, sf)
    src.write.option("header", "true").csv(dir)
    val back = Ingest.readCsv(spark, dir)
    assert(back.schema("n_nationkey").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("JSON-lines round-trip preserves values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString + "/customer"
    val src = Tables.customer(spark, sf)
    src.write.json(dir)
    val back = spark.read.json(dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int"),
        col("c_acctbal"), col("c_mktsegment"))
    val a = src.orderBy("c_custkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("c_custkey").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("ORC round-trip preserves values/types and pushes filters to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString + "/orders"
    val src = Tables.orders(spark, sf)
    src.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    val a = src.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(a == b)
    // the columnar ORC reader must receive both the predicate and the
    // 2-column projection — same pushdown contract as the parquet scans
    val q = back.filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,100000.0)]"), scan)
    assert(scan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      scan)
  }

  test("dirty CSV headers sanitize through the ingest pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirty").toString + "/r"
    import spark.implicits._
    Seq(("ann", 5)).toDF("Автор Отзыва?", "N-(Stars)")
      .write.option("header", "true").csv(dir)
    val ingested = Ingest.sanitizeColumns(Ingest.readCsv(spark, dir))
    assert(ingested.columns.toSeq == Seq("автор_отзыва", "n_stars"))
  }

  /** Malformed-row policy — the ingest decision every 100 TB CSV/JSON
    * load makes once and lives with: PERMISSIVE quarantines the raw
    * line in _corrupt_record (load everything, audit the residue),
    * DROPMALFORMED silently sheds, FAILFAST aborts the job. All three
    * must behave as declared — an engine that quietly coerces garbage
    * corrupts the corpus downstream.
    */
  test("corrupt CSV rows: quarantine / drop / fail contracts") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val f = new java.io.PrintWriter(s"$dir/data.csv")
    f.println("id,qty"); f.println("1,10"); f.println("2,not_a_number")
    f.println("3,30"); f.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$dir/data.csv").cache() // cache: corrupt-column reads need the full row
    assert(permissive.count() == 3)
    val bad = permissive.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getString(2) == "2,not_a_number",
      s"quarantine missed: ${bad.mkString}")
    assert(permissive.filter(col("qty").isNull).count() == 1)
    permissive.unpersist()

    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("header", "true").option("mode", "DROPMALFORMED")
      .csv(s"$dir/data.csv")
    // collect, not count(): the count-only fast path parses no columns,
    // so no row can be judged malformed and all 3 would be "counted"
    val kept = dropped.collect()
    assert(kept.length == 2 && kept.map(_.getLong(1)).sum == 40,
      s"DROPMALFORMED kept ${kept.mkString(";")}")

    val failing = intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("header", "true").option("mode", "FAILFAST")
        .csv(s"$dir/data.csv").collect()
    }
    // the malformed-record error arrives wrapped in FAILED_READ_FILE —
    // assert on the cause chain, not the outer envelope
    val chain = Iterator.iterate(failing: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.toLowerCase.contains("malformed"), chain)
  }

  /** Schema evolution on append — a corpus written over months gains
    * columns; readers must see the union schema with nulls for files
    * written before the column existed (`mergeSchema`), and the
    * default fast path (first-file schema) must stay the default.
    */
  test("parquet mergeSchema unions evolved schemas across appends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
      .write.mode("append").parquet(dir)
    Seq((3L, "fr", 0.9)).toDF("doc_id", "lang", "quality")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "quality"))
    assert(merged.count() == 3)
    assert(merged.filter(col("quality").isNull).count() == 2,
      "pre-evolution rows must surface null for the new column")
    assert(merged.filter(col("quality") > 0.5).select(col("doc_id"))
      .head.getLong(0) == 3L)
  }
}
