package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the (private[sql]) Column ⇄ Expression conversions so
  * graft's native Catalyst expressions compose as Columns without a
  * function-registry round-trip. Standard technique for Spark
  * extension libraries shipping custom expressions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** V2 Column[] → StructType with DEFAULT metadata encoded — the
    * (private[sql]) CatalogV2Util bridge GraftCatalog's Column-variant
    * createTable needs before enriching with generation/identity
    * metadata (which the default bridge drops).
    */
  def v2ColumnsToStructType(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(columns)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → catalyst conversion (ColumnNodeToExpressionConverter).
    * ExpressionUtils.expression wraps lazily, which is fine inside a
    * normal plan (the analyzer converts it) but leaks non-serializable
    * internal column nodes when the expression is stored in a CUSTOM
    * logical node — e.g. a `.desc_nulls_last` sort column must become a
    * catalyst SortOrder here, not at analysis time.
    */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** A task-shippable accessor for the driver's Hadoop configuration,
    * via the (private[spark]) SerializableConfiguration wrapper — the
    * standard recipe every connector uses to rebuild file readers on
    * executors. Exposed as a Function0 so graft code never names the
    * private type.
    */
  def confAccessor(conf: org.apache.hadoop.conf.Configuration)
      : () => org.apache.hadoop.conf.Configuration = {
    val ser = new org.apache.spark.util.SerializableConfiguration(conf)
    () => ser.value
  }

  /** ONE action over `df`: `f` runs on each partition's rows and its
    * results come back one per partition — `df.rdd.mapPartitions(...)
    * .collect()` without the row deserializer, tracked as a SQL
    * execution named `name` (the private[sql] `Dataset.withAction`
    * recipe), so listeners and plan dumps see it like a collect. `f`
    * gets the partition count; rows may be reused buffers, so it must
    * copy what it keeps.
    */
  def collectPartitions[T: scala.reflect.ClassTag](df: DataFrame,
      name: String)(f: (Int, Iterator[catalyst.InternalRow]) => T): Array[T] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.executedPlan.execute()
      val n = rdd.getNumPartitions
      rdd.mapPartitions(rows => Iterator.single(f(n, rows))).collect()
    }
  }

  /** Build a DataFrame from a custom logical plan (the private[sql]
    * Dataset.ofRows) — how extension libraries surface custom
    * LogicalPlan operators behind a plain DataFrame API.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The micro-batch Dataset a V1 streaming Sink's `addBatch`
    * receives is bound to the stream's IncrementalExecution — calling
    * `.write` on it creates a new QueryExecution and is refused
    * (CALL_ON_STREAMING_DATASET_UNSUPPORTED). This re-wraps the SAME
    * batch rows (the incremental execution's RDD behind a LogicalRDD)
    * as an ordinary batch DataFrame — the Delta-sink recipe; the plan
    * executes once when the sink writes it.
    */
  def batchDataFrame(data: Dataset[Row]): DataFrame = {
    val cds = data.asInstanceOf[classic.Dataset[Row]]
    val cs = cds.sparkSession
    classic.Dataset.ofRows(cs,
      execution.LogicalRDD(cds.queryExecution.analyzed.output,
        cds.queryExecution.toRdd)(cs))
  }

  /** Flip a V1 source `getBatch` plan (its `isStreaming = true` file
    * relations) back to a batch-executable frame — spec-harness use:
    * direct-driving a streaming Source's offset protocol and
    * collecting each batch without the engine.
    */
  def unstream(data: Dataset[Row]): DataFrame = {
    val cds = data.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(cds.sparkSession,
      cds.queryExecution.logical.transform {
        case lr: execution.datasources.LogicalRelation =>
          lr.copy(isStreaming = false)
      })
  }

  /** Look up a registered catalog plugin by name (the private[sql]
    * catalogManager) — how the `table_changes` TVF resolves a
    * `cat.ns.t` argument to the catalog that owns it.
    */
  def catalogPlugin(spark: SparkSession,
      name: String): connector.catalog.CatalogPlugin =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
      .catalog(name)

  /** Idempotently add a planner strategy to a live session (the
    * config-time path is GraftExtensions.injectPlannerStrategy; this
    * covers sessions built without the extension config, mirroring
    * GraftFunctions.register).
    */
  def ensureStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
  }
}
