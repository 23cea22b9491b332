package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sinks.ManifestTable

/** Dumps the optimized plan of every action the row-level lake ops run:
  * p52 (merge-on-read delete, update and clause merge with the change
  * feed on), a copy-on-write delete and update of a 5-file table, a
  * copy-on-write and a merge-on-read upsert ([[ManifestTable.merge]])
  * into such a table, and
  * the snapshot reads of a table with three snapshot directories and a
  * deletion vector (a read, a copy-on-write delete and the
  * auto-compaction its next append triggers). It also dumps the event
  * analytics that share a kernel with a stream: the optimized plans of
  * e01 and e06 and the analyzed plans of the unstarted streams
  * (tumbling, session window, the foreachBatch upsert aggregate over a
  * watched directory, the inner and left-outer view→click joins and
  * e23's dedup).
  * Expression ids, temp and fixture paths, broadcast ids, session
  * hashes and uuids are masked, so dumps of two builds differ only
  * where the plans do.
  *
  *   sbt "Test/runMain graft.RowLevelPlanDump <sfDir> <outDir>"
  *
  * writes `<outDir>/p52_mor_row_ops.txt`, `<outDir>/cow_delete_update.txt`,
  * `<outDir>/merge_upsert.txt`, `<outDir>/snapshot_reads.txt` and
  * `<outDir>/streaming.txt`.
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
    // listener events arrive asynchronously: wait until they stop
    def settle(): Unit = {
      var n = -1
      while (n != seen.size) { n = seen.size; Thread.sleep(2000) }
    }
    def write(name: String, plans: String): Unit = {
      val text = plans
        .replace(sfDir, "<sf>")
        .replaceAll("#\\d+L?", "#")
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")
        .replaceAll("/tmp/[^,\\]\\s)]*", "<tmp>")
        .replaceAll("Broadcast\\(\\d+\\)", "Broadcast(<id>)")
        .replaceAll("local-\\d+", "<app>")
        .replaceAll("SparkSession@[0-9a-f]+", "SparkSession@<hash>")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"$name.txt"),
        text.getBytes("UTF-8")): Unit
    }
    def capture(name: String)(body: => Unit): Unit = {
      body
      settle()
      write(name, seen.toArray.map(_.toString).mkString("\n"))
      seen.clear()
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
    capture("merge_upsert") {
      import spark.implicits._
      val source = Seq((15L, "m"), (55L, "m"), (200L, "n")).toDF("id", "tag")
      Seq("copy-on-write", "merge-on-read").foreach { mode =>
        val t = java.nio.file.Files.createTempDirectory("graft_plans")
          .resolve("t").toString
        ManifestTable.write(spark, (0 until 100).map(i => (i.toLong, s"t${i % 7}"))
          .toDF("id", "tag").repartitionByRange(5, col("id")), t)
        ManifestTable.updateProperties(spark, t,
          Map(ManifestTable.MergeModeProp -> mode))
        ManifestTable.merge(spark, source, t, Seq("id"))
      }
    }
    import spark.implicits._
    val rt = java.nio.file.Files.createTempDirectory("graft_plans")
      .resolve("r").toString
    def rows(from: Long) = (from until from + 20).map(i => (i, s"t${i % 3}"))
      .toDF("id", "tag").repartition(2)
    ManifestTable.write(spark, rows(0), rt)
    ManifestTable.append(spark, rows(20), rt)
    ManifestTable.append(spark, rows(40), rt)
    ManifestTable.deleteVectors(spark, rt, col("id") === 5L)
    ManifestTable.updateProperties(spark, rt, Map(
      ManifestTable.AutoCompactProp -> "true",
      ManifestTable.AutoCompactMinFilesProp -> "8"))
    settle()
    seen.clear() // the set-up commits' plans
    capture("snapshot_reads") {
      ManifestTable.read(spark, rt).collect(): Unit
      ManifestTable.delete(spark, rt, col("id") === 25L)
      ManifestTable.append(spark, rows(60), rt) // 8 small files: compacts
    }
    import graft.streaming.StreamingOps
    val watch = java.nio.file.Files.createTempDirectory("graft_plans")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"),
      watch.resolve("events.parquet"))
    write("streaming", Seq(
      "e01_tumbling_window" -> ops.EventOps.e01Tumbling(spark, sfDir),
      "e06_session_window" -> ops.EventOps.e06SessionWindow(spark, sfDir),
      "tumblingStream" -> StreamingOps.tumblingStream(spark, sfDir),
      "sessionWindowStream" -> StreamingOps.sessionWindowStream(spark, sfDir),
      "runForeachBatchUpsertFromDir aggregate" -> StreamingOps.tumblingOf(
        StreamingOps.eventsStream(spark, watch.toString, maxFilesPerTrigger = Some(1))),
      "streamStreamJoin" -> StreamingOps.streamStreamJoin(spark, sfDir),
      "streamStreamLeftJoin" -> StreamingOps.streamStreamLeftJoin(spark, sfDir),
      "e23_streaming_dedup stream" -> StreamingOps.e23Stream(spark, sfDir)
    ).map { case (n, df) =>
      // a stream refuses to optimize before it starts: dump its analyzed plan
      val qe = df.queryExecution
      s"== $n ==\n${(if (df.isStreaming) qe.analyzed else qe.optimizedPlan).treeString}"
    }.mkString("\n"))
    spark.stop()
  }
}
