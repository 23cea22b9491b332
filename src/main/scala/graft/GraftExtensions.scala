package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{DotProductDouble, Md5Hash32, MinhashSignature, SortedIntersectSize}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions for any session built with
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * — the deployment path on a shared cluster, where users reach
  * `graft_dot` / `graft_minhash` / `graft_intersect_size` /
  * `graft_md5_32` from plain SQL without touching the Scala API.
  * [[GraftSession]] builds every spec and dev session this way.
  * Query builders still self-register the scalar functions via
  * GraftFunctions.register, so those need no extension in library use;
  * the `table_changes` TVF (query p34) and the SQL rules do.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.IntersectSizeRewrite)
    // categorical-skew broadcast selection from ANALYZE top-K stats
    // (string columns have no histogram channel in stock CBO). Pre-CBO
    // slot, NOT an operator-optimization rule: the pattern needs the
    // pushed-down DataSourceV2ScanRelation, which only exists after
    // the "Early Filter and Projection Push-Down" batch
    ext.injectPreCBORule(_ => graft.plans.TopKBroadcastHint)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // SQL UPDATE / MERGE INTO on graft catalog tables (the Delta-style
    // command rewrite over ManifestTable.update/merge)
    ext.injectResolutionRule(_ => new org.apache.spark.sql.GraftRowLevelRule)
    // DV-capable SQL reads: SELECT over a deletion-vector-bearing
    // catalog table plans as the native scan's anti-join instead of
    // hitting the readerFeatures refusal
    ext.injectResolutionRule(_ => new org.apache.spark.sql.GraftDvReadRule)
    // readStream.table("lake.ns.t"): route the V2 streaming relation
    // to the engine's V1 source (the dsv1-behind-dsv2 fallback slot)
    ext.injectResolutionRule(_ => new org.apache.spark.sql.GraftNamedStreamRule)
    // SQL views over graft catalogs: Spark ships the ViewCatalog API
    // but no analyzer wiring (ResolveSessionCatalog post-hoc throws
    // MISSING_CATALOG_ABILITY.VIEWS) — this rule claims the view
    // commands/reads for catalogs that implement it (the Iceberg
    // extension shape)
    ext.injectResolutionRule(_ => new org.apache.spark.sql.GraftViewRule)
    // the Delta-dialect maintenance statements (VACUUM / OPTIMIZE /
    // DESCRIBE HISTORY|DETAIL / RESTORE) — unrecognized text falls
    // through to Spark's parser untouched
    ext.injectParser((_, delegate) =>
      new org.apache.spark.sql.GraftSqlParser(delegate))
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductDouble].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProductDouble(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_intersect_size"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SortedIntersectSize(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinhashSignature(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_32"),
      new ExpressionInfo(classOf[Md5Hash32].getName, "graft_md5_32"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Md5Hash32(exprs.head)))
    // CDC from SQL text (VERDICT r13 next-round #6): the Delta-style
    // table-valued function serving the row-level change feed —
    //   SELECT * FROM table_changes('lake.ns.t', 2, 5)
    // resolves the table through its catalog (or takes a table path
    // directly) and plans ManifestTable.rowChanges(from, to] inline.
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "table_changes"),
      TableChangesFunction.plan _))
  }
}

/** Builder for the `table_changes(table, from[, to])` TVF: arguments
  * must be foldable (they parameterize PLANNING — the function decides
  * which commit ranges to read before any row flows). `table` is
  * either a `cat.ns.t` name whose catalog is a [[catalog.GraftCatalog]]
  * or a filesystem path to the manifest table. Bounds follow the DELTA
  * `table_changes` contract (ADVICE r14): `from` and `to` are both
  * INCLUSIVE versions — the changes of the `from` commit itself are
  * delivered (the underlying [[graft.sinks.ManifestTable.rowChanges]]
  * is exclusive-from, so `from` translates to `from - 1`). Timestamp
  * bounds parse like SQL CAST (date-only and ISO forms accepted) in
  * the SESSION time zone; a `from` timestamp delivers every commit
  * stamped at-or-after it (clamped to the log start when earlier than
  * every retained commit), a `to` timestamp the commits at-or-before
  * it.
  */
private[graft] object TableChangesFunction {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def scalar(e: Expression, what: String): Any = {
    require(e.foldable, s"table_changes: $what must be a literal, got $e")
    e.eval()
  }

  /** A range bound resolved to the EXCLUSIVE-from / inclusive-to
    * version `rowChanges` wants: integer versions translate
    * `from → from - 1` (inclusive surface); timestamp strings resolve
    * through the session-zone parser — strictly-before for `from`
    * (inclusive at-or-after delivery), at-or-before for `to`.
    */
  private def boundOf(e: Expression, what: String, path: String,
      isFrom: Boolean): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    scalar(e, what) match {
      case i: Int => if (isFrom) math.max(0L, i.toLong - 1L) else i.toLong
      case l: Long => if (isFrom) math.max(0L, l - 1L) else l
      case s: Short => if (isFrom) math.max(0L, s.toLong - 1L) else s.toLong
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val millis =
          graft.sinks.ManifestTable.parseTimestampMillis(spark, s.toString)
        if (isFrom)
          graft.sinks.ManifestTable.versionStrictlyBefore(spark, path, millis)
        else
          graft.sinks.ManifestTable.versionAtTimestamp(spark, path, millis)
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be an integer version or a " +
          s"timestamp string, got $other")
    }
  }

  def plan(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 2 || exprs.size == 3,
      s"table_changes(table, from[, to]) takes 2 or 3 arguments, " +
        s"got ${exprs.size}")
    val spark = org.apache.spark.sql.SparkSession.active
    val tableArg = String.valueOf(scalar(exprs(0), "table"))
    val path =
      if (tableArg.contains("/")) tableArg
      else {
        val segs = tableArg.split("\\.")
        require(segs.length >= 2,
          s"table_changes: table must be 'cat.ns.t' or a path, got '$tableArg'")
        org.apache.spark.sql.GraftColumnBridge
          .catalogPlugin(spark, segs.head) match {
          case g: graft.catalog.GraftCatalog =>
            g.procTablePath(segs.tail.mkString("."))
          case other => throw new IllegalArgumentException(
            s"table_changes: catalog '${segs.head}' is not a graft " +
              s"catalog (got ${other.getClass.getName})")
        }
      }
    val from = boundOf(exprs(1), "from", path, isFrom = true)
    val to =
      if (exprs.size > 2) boundOf(exprs(2), "to", path, isFrom = false)
      else -1L
    graft.sinks.ManifestTable.rowChanges(spark, path, from, to)
      .queryExecution.analyzed
  }
}
