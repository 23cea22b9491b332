package graft

/** Dev smoke: drives SparkEntry.entry the way the driver's t1 gate does
  * (rows > 0 on sf0.001) and prints the plan for eyeballing.
  */
object DevSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.filter(SparkEntry.queries.contains).foreach { name =>
      println(s"=== PLAN $name ===")
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
