package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.StreamingOps

/** Analytics-extension behavior that the SQL oracle can't cover:
  * streaming/batch agreement, the mapPartitions decode stub, LSH
  * recall vs brute force, minhash estimate sanity.
  */
class AnalyticsSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("streaming tumbling windows agree with the batch formulation") {
    val streamed = StreamingOps.drain(StreamingOps.tumblingStream(spark, sf),
      "complete", "graft_stream_tumbling")
      .withColumn("ws", col("ws").cast("timestamp_ntz"))
      .orderBy("ws", "event_type").collect().toSeq
    val batch = EventOps.e01Tumbling(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toSeq) == batch.map(_.toSeq))
  }

  private def fixtureEvents = StreamingOps.eventsStream(spark, sf,
    globFilter = Some("events.parquet"))

  test("drain rethrows a failed batch and leaves no active query") {
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("drain-boom") else id }
    val e = intercept[Exception] {
      StreamingOps.drain(fixtureEvents.select(boom(col("event_id"))),
        "append", "graft_drain_failed")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(x => Option(x.getMessage)).mkString("\n")
    assert(messages.contains("drain-boom"), messages)
    assert(spark.streams.active.isEmpty)
  }

  /** A failed batch ends its query by itself; a caller interrupted while
    * it waits does not, so this is the case where `drain` must stop it.
    */
  test("drain stops its query when the waiting caller is interrupted") {
    val slow = udf { (id: Long) => Thread.sleep(20); id }
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try StreamingOps.drain(fixtureEvents.select(slow(col("event_id"))),
        "append", "graft_drain_interrupted")
      catch { case e: Throwable => thrown.set(e) })
    try {
      caller.start()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (spark.streams.active.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(spark.streams.active.nonEmpty, "the stream never started")
      Thread.sleep(500) // into processAllAvailable
      caller.interrupt()
      caller.join(60000)
      assert(!caller.isAlive && thrown.get != null, "drain did not rethrow")
      assert(spark.streams.active.isEmpty, "the interrupted query is still running")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("streaming dedup equals batch distinct on the same key") {
    val q = StreamingOps.dedupStream(spark, sf).writeStream
      .outputMode("append").format("memory").queryName("graft_stream_dedup").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_stream_dedup")
      .select("user_id", "event_type").distinct().count()
    val batch = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(streamed == batch)
  }

  test("stream-static join enrichment equals the batch join") {
    val q = StreamingOps.enrichedStream(spark, sf).writeStream
      .outputMode("complete").format("memory").queryName("graft_stream_enrich").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("graft_stream_enrich")
      .orderBy("c_mktsegment").collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total"))
      .orderBy("c_mktsegment").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("d12 merges overlapping duplicated shingles into one maximal span") {
    import spark.implicits._
    // two docs share a 12-token paragraph; doc 3 is all-unique filler.
    // The suffix-run answer is ONE 12-token span per sharing doc — not
    // eight overlapping 5-token shingles — and nothing for doc 3.
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $para u4 u5", "en", "src", 0L),
      (2L, s"v1 $para v2 v3 v4 v5", "en", "src", 0L),
      (3L, (1 to 20).map(i => s"w$i").mkString(" "), "en", "src", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("d12").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = Dedup.d12SubstringRuns(spark, dir).collect()
    assert(spans.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // doc 1: paragraph at token 4..15; doc 2: at 2..13
    assert(spans.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1L, 4, 15), (2L, 2, 13)))
    spans.foreach { r =>
      assert(r.getInt(3) == 12)
      assert(r.getString(4) == para)
    }
  }

  test("m02 media decode: parsed GIMG features match source bytes") {
    val out = Multimodal.m02MediaDecode(spark, sf).collect()
    assert(out.length == 500)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.take(20).foreach { r =>
      val bytes = docs(r.getLong(0)).getBytes("UTF-8").map(_ & 0xff)
      assert(r.getInt(1) == 16)                                 // width
      assert(r.getInt(4) == bytes.length)                       // n_data
      assert(r.getInt(3) == r.getInt(1) * r.getInt(2))          // n_pixels
      assert(r.getLong(5) == bytes.map(_.toLong).sum)           // px_sum
      assert(r.getLong(6) == bytes.zipWithIndex                 // px_wsum
        .map { case (v, i) => (i + 1).toLong * v }.sum)
      assert(r.getString(10) == "gimg-v1")
    }
  }

  test("LSH knn is a subset-ranking of brute-force scores (same bucket ⇒ same cosine)") {
    val brute = Similarity.s01KnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.s02KnnLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    // every LSH result that also appears in brute-force top-k has the
    // identical cosine (same scoring arithmetic)
    lsh.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(c == r.getDouble(3))
      }
    }
  }

  test("minhash estimate correlates with exact jaccard on candidate pairs") {
    val est = Dedup.d02MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty)
    // the band threshold (4 bands of 4) admits pairs with est >= 0.25;
    // all estimates are valid probabilities
    est.values.foreach(v => assert(v >= 0.25 && v <= 1.0))
  }

  test("exact dedup halves the double-crawl") {
    val out = Dedup.d01ExactDedup(spark, sf).collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(1) == 2)) // every doc seen in both crawls
    assert(out.forall(_.getString(2) == "a")) // crawl 'a' survives
  }

  test("e08 gap fill manufactures the missing buckets (sparse scale)") {
    // sf0.001 events are sparse enough to leave real holes — the
    // oracle gate at sf0.01 happens to be dense, so pin the fill
    // behavior here: 121 zero-filled buckets in a 598-bucket grid
    val out = EventOps.e08GapFill(spark, sf).collect()
    assert(out.length == 598)
    assert(out.count(_.getLong(2) == 0L) == 121)
  }
}
