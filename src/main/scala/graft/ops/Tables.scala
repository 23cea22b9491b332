package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Each table is one parquet directory/file under the scale-factor dir.
  * Reads are lazy DataFrame scans — Catalyst pushes projections and
  * predicates into the parquet reader, so callers should NOT pre-select
  * or cache here; each query composes its own minimal scan.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical shapes across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * only accepts as a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (the sessions keep
    * that conf; it is inert on non-nanos files) — and the current
    * TIMESTAMP(MICROS), which arrives as a native timestamp. Branch on
    * the arriving type and normalize both to microsecond TIMESTAMP_NTZ
    * so every downstream operator sees identical values either way
    * (DuckDB reads the same file at micros precision, so oracle
    * comparisons line up). The batch event queries apply their kernels
    * (`EventOps.e01TumblingOf`, `EventOps.e06SessionWindowOf`) to this
    * frame; their streams apply the same kernels to
    * `StreamingOps.eventsStream`, the same guard for streams.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
