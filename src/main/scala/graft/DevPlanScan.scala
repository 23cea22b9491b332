package graft

import scala.util.control.NonFatal

/** Dev-only: construct every declared query and report which (if any)
  * fail analysis — used to localize plan-audit failures.
  */
object DevPlanScan {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, sf).queryExecution.sparkPlan
        println(s"PLAN_OK $name")
      } catch {
        case NonFatal(e) =>
          println(s"PLAN_FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage.take(150)}")
      }
    }
    spark.stop()
  }
}
