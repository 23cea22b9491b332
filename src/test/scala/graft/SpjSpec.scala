package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Storage-partitioned joins (VERDICT r19 #2): two graft tables
  * Hive-partitioned on the same key report KeyGroupedPartitioning
  * through the DSv2 scan, so a join on that key plans with ZERO
  * shuffle exchanges under the standard
  * `spark.sql.sources.v2.bucketing.enabled` opt-in — and the default
  * (conf off) plan stays byte-identical to before.
  */
class SpjSpec extends AnyFunSuite with SparkSuite {
  test("co-partitioned graft tables join with zero shuffle exchanges") {
    import spark.implicits._
    val cat = "spjcat"
    val wh = java.nio.file.Files.createTempDirectory("graft_spj").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (0L until 4000L).map(i => (i, i % 5, s"a$i"))
      .toDF("id", "k", "pay").createOrReplaceTempView("spj_a_seed")
    (0L until 3000L).map(i => (i, i % 5, s"b$i"))
      .toDF("id", "k", "pay").createOrReplaceTempView("spj_b_seed")
    spark.sql(s"CREATE TABLE $cat.db.a (id BIGINT, pay STRING, k BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"CREATE TABLE $cat.db.b (id BIGINT, pay STRING, k BIGINT) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO $cat.db.a SELECT id, pay, k FROM spj_a_seed")
    spark.sql(s"INSERT INTO $cat.db.b SELECT id, pay, k FROM spj_b_seed")

    def q() = spark.sql(
      s"""SELECT a.k, count(*) AS n
         |FROM $cat.db.a a JOIN $cat.db.b b ON a.k = b.k
         |GROUP BY a.k ORDER BY a.k""".stripMargin)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }.size

    val conf = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      // several splits per side — a single-partition scan would make
      // the control exchange-free for the wrong reason
      "spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }

    // CONTROL first: bucketing explicitly OFF (it defaults ON in
    // Spark 4) — the join exchanges both sides (broadcast disabled,
    // AQE off for a deterministic inspectable plan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val defaultShuffles = shuffles(q())
    assert(defaultShuffles >= 2,
      s"without SPJ the join must exchange: $defaultShuffles")
    val want = q().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = q()
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, "SPJ must not change results")
      // the join itself runs shuffle-free: both sides arrive
      // key-grouped from storage. (The final ORDER BY may still
      // range-exchange — count only exchanges BELOW the join.)
      val plan = df.queryExecution.executedPlan
      val j = plan.collectFirst { case jn: SortMergeJoinExec => jn }
      assert(j.isDefined, s"expected a sort-merge join:\n$plan")
      val below = j.get.collect { case s: ShuffleExchangeExec => s }.size
      assert(below == 0,
        s"SPJ join inputs must be exchange-free:\n${j.get}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
