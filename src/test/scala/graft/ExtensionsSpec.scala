package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.classic

/** GraftExtensions must expose the native functions to plain SQL — the
  * shared-cluster deployment path is
  * `spark.sql.extensions=graft.GraftExtensions` at session build, which
  * is how the specs' shared session is built.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {
  test("injected functions resolve and evaluate from plain SQL") {
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
    assert(dot == 11.0)
    val h = spark.sql("SELECT graft_md5_32('hello') AS h").head().getLong(0)
    assert(h == 0x5d41402aL) // first 4 bytes of md5('hello')
    val isz = spark.sql(
      "SELECT graft_intersect_size(array('a','b','c'), array('b','c','d')) AS s")
      .head().getInt(0)
    assert(isz == 2)
    val sig = spark.sql("SELECT graft_minhash(array(17L, 42L)) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == graft.functions.PortableHash.MinhashK)
  }

  test("extension wires the TopKPerKey planner strategy (config-time path)") {
    val planner = spark.asInstanceOf[classic.SparkSession].sessionState.planner
    assert(planner.extraPlanningStrategies
      .contains(graft.plans.TopKPerKeyStrategy))
  }

  test("IntersectSizeRewrite rule replaces size(array_intersect) with the merge kernel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a real scan source — literals would be constant-folded away
    def query = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        size(array_intersect(split(col("text"), " "),
          split(concat_ws(" ", col("lang"), col("source")), " "))).as("n"))
      .orderBy("doc_id")
    val ruleOff = "spark.sql.optimizer.excludedRules"
    spark.conf.set(ruleOff, graft.plans.IntersectSizeRewrite.ruleName)
    val reference =
      try {
        val off = query
        assert(!off.queryExecution.optimizedPlan.toString.contains("graft_intersect_size"))
        off.collect().map(_.getInt(1)).toSeq
      } finally spark.conf.unset(ruleOff)
    val df = query
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_intersect_size"))
    assert(df.collect().map(_.getInt(1)).toSeq == reference)
    // non-eligible types (nullable elements) stay on the built-in path
    val nn = Seq((Seq(Some("a"), None), Seq(Some("a")))).toDF("a", "b")
      .select(size(array_intersect(col("a"), col("b"))).as("n"))
    assert(!nn.queryExecution.optimizedPlan.toString.contains("graft_intersect_size"))
    assert(nn.head().getInt(0) == 1)
  }
}
