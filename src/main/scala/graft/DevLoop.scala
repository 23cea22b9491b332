package graft

/** Dev-only: run a named query in a loop (noop sink) so a profiler /
  * jstack sampler can attach. Usage: DevLoop <sfDir> <query> [n]
  */
object DevLoop {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val n = if (args.length > 2) args(2).toInt else 30
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(args(1))
    (0 until n).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      println(f"LOOP $i done ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    spark.stop()
  }
}
