package graft

/** Dev-only: print the executed plan of named queries (after AQE
  * re-planning where it applies, via `explain("formatted")` on the
  * unexecuted frame) — the `.explain`-and-iterate loop SURVEY §7.5
  * prescribes, without editing test code.
  *
  * Usage: runMain graft.DevExplain <sfDir> <query> [query...]
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DevExplain <sfDir> <query> [query...]")
    val sf = args(0)
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
