package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sinks.ManifestTable

/** Dumps the optimized plan of every action the row-level lake ops run:
  * p52 (merge-on-read delete, update and clause merge with the change
  * feed on) and a copy-on-write delete and update of a 5-file table.
  * Expression ids, temp paths and uuids are masked, so dumps of two
  * builds diff cleanly.
  *
  *   sbt "Test/runMain graft.RowLevelPlanDump <sfDir> <outDir>"
  *
  * writes `<outDir>/p52_mor_row_ops.txt` and `<outDir>/cow_delete_update.txt`.
  */
object RowLevelPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(s"== $f ==\n${qe.optimizedPlan.treeString}"): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def capture(name: String)(body: => Unit): Unit = {
      body
      // listener events arrive asynchronously: wait until they stop
      var n = -1
      while (n != seen.size) { n = seen.size; Thread.sleep(2000) }
      val text = seen.toArray.map(_.toString).mkString("\n")
        .replaceAll("#\\d+L?", "#")
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
        .replaceAll("/tmp/[^,\\]\\s)]*", "<tmp>")
        .replaceAll("local-\\d+", "<app>")
      seen.clear()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"$name.txt"),
        text.getBytes("UTF-8")): Unit
    }
    capture("p52_mor_row_ops") {
      ops.PipelineOps.p52MorRowOps(spark, sfDir).collect(): Unit
    }
    capture("cow_delete_update") {
      import spark.implicits._
      val t = java.nio.file.Files.createTempDirectory("graft_plans")
        .resolve("t").toString
      ManifestTable.write(spark, (0 until 100).map(i => (i.toLong, s"t${i % 7}"))
        .toDF("id", "tag").repartitionByRange(5, col("id")), t)
      ManifestTable.delete(spark, t, col("id") < 30L)
      ManifestTable.update(spark, t, col("id") >= 90L, Map("tag" -> lit("u")))
    }
    spark.stop()
  }
}
