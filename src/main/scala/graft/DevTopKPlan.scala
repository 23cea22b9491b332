package graft

/** Dev-only: dump the plan flip TopKBroadcastHint's POST-PUSHDOWN
  * branch produces (VERDICT r21 next-round #7) — a skewed-string
  * catalog table joined on a rare-value filter, explained BEFORE and
  * AFTER `ManifestTable.analyze` commits the top-K sketch. The
  * "after" plan must show a BroadcastHashJoin where the "before" plan
  * sort-merges, with the filtered side a pushed DSv2 stats scan.
  *
  * Usage: runMain graft.DevTopKPlan <scratchDir>
  */
object DevTopKPlan {
  def main(args: Array[String]): Unit = {
    val wh = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_topk").toString
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cat = "topkcat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (256 * 1024).toString)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // the CboHistogramSpec fixture: lang = 'en' ~99.6%, 'zz' 40 rows
    (0L until 40000L).map { i =>
      val lang = if (i % 1000 == 0) "zz" else if (i % 400 == 1) "de" else "en"
      (i, lang, i % 97)
    }.toDF("id", "lang", "k").createOrReplaceTempView("topk_seed")
    spark.sql(s"CREATE TABLE $cat.db.sfact AS SELECT * FROM topk_seed")
    spark.range(20000).selectExpr("id % 97 AS k",
      "md5(cast(id as string)) AS label")
      .createOrReplaceTempView("topk_dim_seed")
    spark.sql(s"CREATE TABLE $cat.db.sdim AS SELECT * FROM topk_dim_seed")
    def q = spark.sql(
      s"""SELECT f.id, d.label FROM $cat.db.sfact f
         |JOIN $cat.db.sdim d ON f.k = d.k
         |WHERE f.lang = 'zz'""".stripMargin)
    println("===== topk_broadcast BEFORE analyze =====")
    q.explain("formatted")
    graft.sinks.ManifestTable.analyze(spark, s"$wh/db/sfact")
    println("===== topk_broadcast AFTER analyze =====")
    q.explain("formatted")
    spark.stop()
  }
}
