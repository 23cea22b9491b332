package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Dev-only: run named queries once (noop sink, Bench methodology)
  * with a job listener attached, printing every Spark job's wall time
  * and call site — the "which sub-job of this multi-commit lifecycle
  * is expensive" view the UI would give (guide §7.1) without the UI.
  *
  * Usage: runMain graft.DevProfile <sfDir> <query> [query...]
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DevProfile <sfDir> <query> [query...]")
    val sf = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    final case class Job(id: Int, desc: String, site: String,
        start: Long, var end: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
          jobs(js.jobId) = Job(js.jobId,
            Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""),
            site, js.time)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
    }
    // warm up the session like Bench does
    spark.read.parquet(s"$sf/region.parquet").count()
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      // one discarded warm rep (codegen/JIT), then the measured rep
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(s"===== $name wall=${"%.3f".format(wall)}s =====")
      val snap = jobs.synchronized(jobs.values.toVector)
      val total = snap.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      snap.foreach { j =>
        val d = math.max(0L, j.end - j.start) / 1e3
        println(f"job ${j.id}%4d ${d}%8.3fs  ${j.site}%-40s ${j.desc.take(80)}")
      }
      println(f"sum-of-jobs ${total}%.3f s over ${snap.size} jobs " +
        f"(gaps = driver-side work: ${wall - total}%.3f s)")
    }
    spark.stop()
  }
}
