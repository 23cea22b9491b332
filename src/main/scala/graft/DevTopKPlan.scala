package graft

import org.apache.spark.sql.SparkSession

/** Dev-only: dump the plan flip TopKBroadcastHint's POST-PUSHDOWN
  * branch produces (VERDICT r21 next-round #7) — a skewed-string
  * catalog table joined on a rare-value filter, explained BEFORE and
  * AFTER `ManifestTable.analyze` commits the top-K sketch. The
  * "after" plan must show a BroadcastHashJoin where the "before" plan
  * sort-merges, with the filtered side a pushed DSv2 stats scan.
  * `CboHistogramSpec` pins the same flip on the same fixture
  * ([[createFixture]], [[Conf]], [[joinSql]]).
  *
  * Usage: runMain graft.DevTopKPlan <scratchDir>
  */
object DevTopKPlan {
  /** The settings the flip is shown under: CBO on, AQE off (the static
    * plan is the one compared) and a 256 KB broadcast threshold.
    */
  val Conf: Seq[(String, String)] = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString)

  /** Register catalog `cat` over warehouse `wh` and create `db.sfact`
    * and `db.sdim` in it. The fact has 40k rows; `lang` is 'en' for
    * ~99.6%, 'de' for 100 rows and 'zz' for 40, so an ndv-only
    * estimate of `lang = 'zz'` says a third of the table survives. The
    * dim has 20k rows over the fact's 97 join keys, too wide to
    * broadcast on its own.
    */
  def createFixture(spark: SparkSession, cat: String, wh: String): Unit = {
    import spark.implicits._
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    (0L until 40000L).map { i =>
      val lang = if (i % 1000 == 0) "zz" else if (i % 400 == 1) "de" else "en"
      (i, lang, i % 97)
    }.toDF("id", "lang", "k").createOrReplaceTempView(s"${cat}_sfact_seed")
    spark.sql(s"CREATE TABLE $cat.db.sfact AS SELECT * FROM ${cat}_sfact_seed")
    spark.range(20000).selectExpr("id % 97 AS k",
      "md5(cast(id as string)) AS label",
      "md5(cast(id + 1 as string)) AS label2",
      "md5(cast(id + 2 as string)) AS label3")
      .createOrReplaceTempView(s"${cat}_sdim_seed")
    spark.sql(s"CREATE TABLE $cat.db.sdim AS SELECT * FROM ${cat}_sdim_seed")
  }

  /** The fact-dim join filtered to one `lang` value. */
  def joinSql(cat: String, lang: String): String =
    s"""SELECT f.id, d.label FROM $cat.db.sfact f
       |JOIN $cat.db.sdim d ON f.k = d.k
       |WHERE f.lang = '$lang'""".stripMargin

  def main(args: Array[String]): Unit = {
    val wh = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_topk").toString
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cat = "topkcat"
    Conf.foreach { case (k, v) => spark.conf.set(k, v) }
    createFixture(spark, cat, wh)
    def q = spark.sql(joinSql(cat, "zz"))
    println("===== topk_broadcast BEFORE analyze =====")
    q.explain("formatted")
    graft.sinks.ManifestTable.analyze(spark, s"$wh/db/sfact")
    println("===== topk_broadcast AFTER analyze =====")
    q.explain("formatted")
    spark.stop()
  }
}
