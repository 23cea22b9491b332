package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import graft.sinks.ManifestTable

/** ANALYZE histograms → CBO selectivity (VERDICT r18 #8): on a SKEWED
  * column, min/max linear interpolation wildly over-estimates a range
  * filter (99% of the range holds 0.2% of the rows), so the planner
  * sort-merge-joins; the analyze-committed equi-height histogram puts
  * the mass where it is, the filtered side estimates tiny, and the
  * SAME query broadcast-joins. The spec pins exactly that flip.
  */
class CboHistogramSpec extends AnyFunSuite with SparkSuite {
  test("a skewed-range filter flips SMJ to broadcast once the histogram lands") {
    import spark.implicits._
    val cat = "cbocat"
    val wh = java.nio.file.Files.createTempDirectory("graft_cbo").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // fact: 40k rows; x = 0 for 99.75% of rows, the rest spread to 1e6
    // — a linear (max-v)/(max-min) estimate of x > 1000 says ~99.9%
    (0L until 40000L).map(i =>
      (i, if (i % 400 == 0) (i / 400 + 1) * 10000L else 0L, i % 97))
      .toDF("id", "x", "k").createOrReplaceTempView("cbo_fact_seed")
    spark.sql(s"CREATE TABLE $cat.db.fact AS SELECT * FROM cbo_fact_seed")
    // dim: incompressible labels so its on-disk size exceeds the
    // broadcast threshold — the dim side never broadcasts on its own
    spark.range(20000).selectExpr("id % 97 AS k",
      "md5(cast(id as string)) AS label",
      "md5(cast(id + 1 as string)) AS label2",
      "md5(cast(id + 2 as string)) AS label3")
      .createOrReplaceTempView("cbo_dim_seed")
    spark.sql(s"CREATE TABLE $cat.db.dim AS SELECT * FROM cbo_dim_seed")

    def joinPlan() = spark.sql(
      s"""SELECT f.id, d.label FROM $cat.db.fact f
         |JOIN $cat.db.dim d ON f.k = d.k
         |WHERE f.x > 1000""".stripMargin).queryExecution.sparkPlan
    def kinds(p: org.apache.spark.sql.execution.SparkPlan)
        : (Int, Int) = (
      p.collect { case b: BroadcastHashJoinExec => b }.size,
      p.collect { case s: SortMergeJoinExec => s }.size)

    val conf = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString)
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // BEFORE analyze: min/max alone → linear interpolation keeps
      // ~all rows → the filtered fact side looks big → sort-merge
      val (bhj0, smj0) = kinds(joinPlan())
      assert(smj0 == 1 && bhj0 == 0,
        s"without a histogram the skewed filter must look big: " +
          s"bhj=$bhj0 smj=$smj0")
      // ANALYZE commits sketches + equi-height histograms
      ManifestTable.analyze(spark, s"$wh/db/fact")
      assert(ManifestTable.tableProperties(spark, s"$wh/db/fact")
        .contains(ManifestTable.HistogramPropPrefix + "x"),
        "analyze must commit the x histogram")
      val (bhj1, smj1) = kinds(joinPlan())
      assert(bhj1 == 1 && smj1 == 0,
        s"with the histogram the tiny true selectivity must flip the " +
          s"join to broadcast: bhj=$bhj1 smj=$smj1")
      // and the answer itself is identical either way
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.fact f JOIN " +
        s"$cat.db.dim d ON f.k = d.k WHERE f.x > 1000").head().getLong(0)
        == spark.table(s"$cat.db.fact").filter("x > 1000")
          .join(spark.table(s"$cat.db.dim"), "k").count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a skewed STRING equality flips SMJ to broadcast once the top-K lands (VERDICT r19 #5)") {
    val cat = "cbocat3"
    val wh = java.nio.file.Files.createTempDirectory("graft_cbo3").toString
    // the DevTopKPlan fixture: lang = 'zz' is 40 of 40k fact rows, but
    // an ndv-only selectivity says ~1/3 of the table
    DevTopKPlan.createFixture(spark, cat, wh)

    def joinPlan() =
      spark.sql(DevTopKPlan.joinSql(cat, "zz")).queryExecution.sparkPlan
    def kinds(p: org.apache.spark.sql.execution.SparkPlan)
        : (Int, Int) = (
      p.collect { case b: BroadcastHashJoinExec => b }.size,
      p.collect { case s: SortMergeJoinExec => s }.size)

    val conf = DevTopKPlan.Conf
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // BEFORE analyze: string equality estimates 1/ndv — a third of
      // the fact looks like it survives → sort-merge
      val (bhj0, smj0) = kinds(joinPlan())
      assert(smj0 == 1 && bhj0 == 0,
        s"without top-K stats the rare-string filter must look big: " +
          s"bhj=$bhj0 smj=$smj0")
      ManifestTable.analyze(spark, s"$wh/db/sfact")
      val props = ManifestTable.tableProperties(spark, s"$wh/db/sfact")
      assert(props.contains(ManifestTable.TopKPropPrefix + "lang"),
        s"analyze must commit the lang top-K, got ${props.keys}")
      // the dominant term carries its exact count
      val (_, err, kept) = ManifestTable.parseTopK(
        props(ManifestTable.TopKPropPrefix + "lang")).get
      assert(kept.get("en").exists(_ > 39000L), s"kept=$kept")
      assert(err < 1000L, s"err=$err")
      // AFTER: the provably-tiny 'zz' side broadcast-joins
      val (bhj1, smj1) = kinds(joinPlan())
      assert(bhj1 == 1 && smj1 == 0,
        s"with the top-K the rare-string side must broadcast: " +
          s"bhj=$bhj1 smj=$smj1")
      // the HEAVY value must NOT be force-broadcast
      val heavy =
        spark.sql(DevTopKPlan.joinSql(cat, "en")).queryExecution.sparkPlan
      assert(kinds(heavy)._1 == 0,
        "the dominant value must keep the stock (non-broadcast) plan")
      // answers are identical either way
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.sfact f JOIN " +
        s"$cat.db.sdim d ON f.k = d.k WHERE f.lang = 'zz'").head().getLong(0)
        == spark.table(s"$cat.db.sfact").filter("lang = 'zz'")
          .join(spark.table(s"$cat.db.sdim"), "k").count())

      // the POST-PUSHDOWN branch specifically (VERDICT r21 #7): by the
      // Pre-CBO slot the filter sits over the pushed
      // DataSourceV2ScanRelation, so the rule can only have priced the
      // side through GraftStatsScan.sizeHint — pin that shape in the
      // optimized plan, that the hint is populated, and that
      // RE-APPLYING the rule to the hint-stripped post-pushdown tree
      // re-derives the broadcast (the branch fires on its own)
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint}
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      val optimized =
        spark.sql(DevTopKPlan.joinSql(cat, "zz")).queryExecution.optimizedPlan
      val statsScans = optimized.collect {
        case Filter(_, rel: DataSourceV2ScanRelation) => rel.scan
      }.collect { case g: org.apache.spark.sql.GraftTableV2.GraftStatsScan => g }
      assert(statsScans.nonEmpty,
        s"the filtered side must be a pushed graft stats scan:\n$optimized")
      assert(statsScans.head.sizeHint.exists(_._2 == 40000L),
        s"the pushed scan must carry the snapshot (bytes, rows) hint: " +
          s"${statsScans.head.sizeHint}")
      val joins = optimized.collect { case jn: Join => jn }
      assert(joins.exists(_.hint != JoinHint.NONE),
        s"the optimized join must carry the broadcast hint:\n$optimized")
      val stripped = optimized.transform {
        case jn: Join => jn.copy(hint = JoinHint.NONE)
      }
      val rehinted = graft.plans.TopKBroadcastHint(stripped)
      assert(rehinted.collect { case jn: Join => jn }
        .exists(_.hint != JoinHint.NONE),
        "re-applying TopKBroadcastHint to the hint-stripped " +
          s"post-pushdown tree must re-derive the broadcast:\n$rehinted")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("re-analyze of unchanged data commits nothing; histograms refresh on change") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cbo2")
      .resolve("t").toString
    ManifestTable.write(spark,
      (0L until 1000L).map(i => (i, i % 10)).toDF("id", "b"), t)
    val v1 = ManifestTable.analyze(spark, t)
    assert(ManifestTable.tableProperties(spark, t)
      .contains(ManifestTable.HistogramPropPrefix + "id"))
    // identical data → identical sketches and histograms → no commit
    assert(ManifestTable.analyze(spark, t) == v1,
      "re-analyze of unchanged data must be a no-op")
    // new data shifts the distribution → the histogram refreshes
    ManifestTable.append(spark,
      (5000L until 6000L).map(i => (i, i % 10)).toDF("id", "b"), t)
    val before = ManifestTable.tableProperties(spark, t)(
      ManifestTable.HistogramPropPrefix + "id")
    ManifestTable.analyze(spark, t): Unit
    val after = ManifestTable.tableProperties(spark, t)(
      ManifestTable.HistogramPropPrefix + "id")
    assert(before != after, "appended data must refresh the histogram")
  }
}
