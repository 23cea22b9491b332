package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** The `format("graft")` streaming source: version-offset admission,
  * exactly-once across restarts from checkpoint, idle triggers,
  * compaction skipping, and the rewrite failure contract.
  */
class ManifestStreamSpec extends AnyFunSuite with SparkSuite {
  private def freshRoot(): String =
    Files.createTempDirectory("graft_stream").toString

  private def df(lo: Int, hi: Int, tag: String) = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  /** Drain the source via foreachBatch (the checkpoint-recoverable
    * sink — the memory sink refuses recovery); returns the collected
    * "id:tag" rows of THIS run.
    */
  private def runToCompletion(table: String, ckpt: String,
      maxVersions: Option[Int] = None): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var reader = spark.readStream.format("graft").option("path", table)
    maxVersions.foreach(v =>
      reader = reader.option("maxVersionsPerTrigger", v.toString))
    val q = reader.load().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
        }: Unit
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    buf.toSeq
  }

  test("tail = snapshot + appends; per-version batches; census equals one-shot") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t)
    ManifestTable.append(spark, df(10, 14, "b"), t)
    ManifestTable.append(spark, df(14, 16, "c"), t)
    val got = runToCompletion(t, s"$root/ckpt", maxVersions = Some(1)).sorted
    val want = ManifestTable.read(spark, t)
      .collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").toSeq.sorted
    assert(got == want, "stream-to-completion must equal the one-shot read")
    assert(got.size == 16)
  }

  test("restart from checkpoint mid-log resumes exactly once; idle trigger emits nothing") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t)
    // first run drains the log to v1 and checkpoints the offset
    assert(runToCompletion(t, s"$root/ckpt").size == 10)
    // appends land while no stream is running
    ManifestTable.append(spark, df(10, 14, "b"), t)
    ManifestTable.append(spark, df(14, 16, "c"), t)
    // restart from the SAME checkpoint: only the appended versions play
    val got = runToCompletion(t, s"$root/ckpt").sorted
    assert(got.size == 6 && got.count(_.endsWith(":b")) == 4 &&
      got.count(_.endsWith(":c")) == 2,
      s"restart must deliver exactly the unseen versions: $got")
    // caught up + idle: a third run emits nothing
    assert(runToCompletion(t, s"$root/ckpt").isEmpty,
      "idle trigger must emit nothing")
  }

  test("rate-limited FRESH stream snapshots at the current version (historical rewrite invisible)") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t)
    ManifestTable.append(spark, df(10, 14, "b"), t)
    ManifestTable.delete(spark, t, col("id") < 3L) // historical rewrite (v3)
    ManifestTable.append(spark, df(14, 16, "c"), t)
    // Delta initial-snapshot semantics (ADVICE r12): the first batch of
    // a fresh rate-limited stream is the FULL snapshot at the current
    // version — replaying the log commit-by-commit from v1 would hit
    // the historical rewrite and wedge the stream permanently (and a
    // restart from a fresh checkpoint would wedge identically).
    val got = runToCompletion(t, s"$root/ckpt", maxVersions = Some(1)).sorted
    val want = ManifestTable.read(spark, t)
      .collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").toSeq.sorted
    assert(got == want,
      s"fresh rate-limited stream must deliver the current snapshot: $got")
    // the rate limit still applies to post-snapshot increments
    ManifestTable.append(spark, df(16, 18, "d"), t)
    ManifestTable.append(spark, df(18, 20, "e"), t)
    val inc = runToCompletion(t, s"$root/ckpt", maxVersions = Some(1)).sorted
    assert(inc.size == 4 && inc.count(_.endsWith(":d")) == 2 &&
      inc.count(_.endsWith(":e")) == 2,
      s"post-snapshot appends must still play: $inc")
  }

  test("compaction commits are skipped; a delete fails the stream loudly") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t)
    assert(runToCompletion(t, s"$root/ckpt").size == 10)
    ManifestTable.append(spark, df(10, 14, "b"), t)
    ManifestTable.compact(spark, t)
    ManifestTable.append(spark, df(14, 16, "c"), t)
    assert(runToCompletion(t, s"$root/ckpt").size == 6,
      "compaction in the range must not redeliver the table")
    // a rewrite the stream cannot express fails the query loudly
    ManifestTable.delete(spark, t, col("id") < 3L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToCompletion(t, s"$root/ckpt")
    }
    def causes(x: Throwable): Seq[Throwable] =
      if (x == null) Seq.empty else x +: causes(x.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("rewrite commit"))),
      s"expected the rewrite-range failure, got: $e")
  }

  test("exactly-once graft-to-graft pipeline: source feeds streamInto sink") {
    val root = freshRoot()
    val src = s"$root/src"
    val dst = s"$root/dst"
    ManifestTable.write(spark, df(0, 10, "a"), src)
    ManifestTable.append(spark, df(10, 16, "b"), src)
    val stream = spark.readStream.format("graft")
      .option("path", src).option("maxVersionsPerTrigger", "1").load()
    val q = ManifestTable.streamInto(
      stream.withColumn("tag", upper(col("tag"))), dst, s"$root/ckpt")
    try q.processAllAvailable()
    finally q.stop()
    val got = ManifestTable.read(spark, dst).orderBy("id")
      .collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").toSeq
    assert(got == (0 until 10).map(i => s"$i:A") ++
      (10 until 16).map(i => s"$i:B"),
      s"two-table streaming pipeline must be exactly-once: $got")
  }

  test("startingTimestamp resolves to a version and tails after it") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t) // v1: history
    Thread.sleep(40) // distinct commit mtimes (ms granularity)
    val cut = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(40)
    ManifestTable.append(spark, df(10, 13, "b"), t) // v2: after the cut
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("graft")
      .option("path", t).option("startingTimestamp", cut.toString).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
        }: Unit
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    assert(buf.sorted == Seq("10:b", "11:b", "12:b"),
      s"the cut falls after v1: only v2 plays, no backfill: $buf")
    // both knobs together refuse (source creation runs on the stream
    // thread — the error surfaces when the query is driven)
    val q2 = spark.readStream.format("graft")
      .option("path", t).option("startingVersion", "1")
      .option("startingTimestamp", cut.toString).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
      .start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString.contains("not both"),
      s"got: $e")
  }

  test("startingTimestamp: equal-stamped commit included; early timestamp clamps to snapshot") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t) // v1
    Thread.sleep(40)
    ManifestTable.append(spark, df(10, 13, "b"), t) // v2
    Thread.sleep(40)
    ManifestTable.append(spark, df(13, 15, "c"), t) // v3
    // a commit stamped EXACTLY at the given timestamp is delivered
    // (the Delta at-or-after contract — ADVICE r14: the equal-stamped
    // commit used to be skipped). v2's recorded in-commit instant:
    val ts2 = new java.sql.Timestamp(
      ManifestTable.history(spark, t).filter(col("version") === 2)
        .head().getAs[Long]("ts_millis")).toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(opts: Map[String, String], ckpt: String): Seq[String] = {
      buf.clear()
      var reader = spark.readStream.format("graft").option("path", t)
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
          }: Unit
        }.start()
      try q.processAllAvailable()
      finally q.stop()
      buf.toSeq.sorted
    }
    val atTs = drain(Map("startingTimestamp" -> ts2), s"$root/ckpt_at")
    assert(atTs == ((10 until 13).map(i => s"$i:b") ++
      (13 until 15).map(i => s"$i:c")).sorted,
      s"commit stamped at the timestamp must be INCLUDED: $atTs")
    // a timestamp before the earliest retained commit clamps to the
    // full initial snapshot instead of throwing (ADVICE r14); ISO
    // date-only form exercises the flexible parser
    val early = drain(Map("startingTimestamp" -> "1970-01-01"),
      s"$root/ckpt_early")
    assert(early.size == 15 && early.contains("0:a"),
      s"pre-history timestamp must clamp to the full snapshot: $early")
  }

  test("startingVersion tails only commits after it (no historical backfill)") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t) // v1: history
    ManifestTable.append(spark, df(10, 12, "b"), t) // v2: history
    // tail from v2: the 10+2 historical rows must NOT be delivered
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(): Seq[String] = {
      val q = spark.readStream.format("graft")
        .option("path", t).option("startingVersion", "2").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
          }: Unit
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      buf.toSeq
    }
    assert(run().isEmpty, "nothing after startingVersion yet")
    ManifestTable.append(spark, df(12, 15, "c"), t) // v3: tailed
    val got = run().sorted
    assert(got == Seq("12:c", "13:c", "14:c"),
      s"only post-startingVersion appends play: $got")
  }

  test("rate-limited restart does not redeliver committed versions") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 4, "a"), t)
    ManifestTable.append(spark, df(4, 6, "b"), t)
    ManifestTable.append(spark, df(6, 8, "c"), t)
    // drain fully at one version per trigger, THEN restart: the new
    // source instance's in-memory admission floor starts at 0, and
    // without the commit hook the first getOffset would offer v1 —
    // below the checkpointed v3 — and versions 2..3 would replay
    assert(runToCompletion(t, s"$root/ckpt", maxVersions = Some(1)).size == 8)
    assert(runToCompletion(t, s"$root/ckpt", maxVersions = Some(1)).isEmpty,
      "caught-up rate-limited restart must deliver nothing")
    ManifestTable.append(spark, df(8, 9, "d"), t)
    val got = runToCompletion(t, s"$root/ckpt", maxVersions = Some(1))
    assert(got == Seq("8:d"),
      s"only the new version plays after a rate-limited restart: $got")
  }

  test("two sink queries into one table keep distinct watermarks (no swallowed batches)") {
    val root = freshRoot()
    val dst = s"$root/dst"
    val srcA = s"$root/srcA"
    val srcB = s"$root/srcB"
    ManifestTable.write(spark, df(0, 5, "a"), srcA)
    ManifestTable.write(spark, df(100, 103, "b"), srcB)
    def drive(src: String, ckpt: String): Unit = {
      val q = spark.readStream.format("graft").option("path", src).load()
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    drive(srcA, s"$root/ckptA") // commits its batch 0 under app A
    // query B also starts at batchId 0 — with a table-scoped app id
    // the watermark from A would swallow B's first batch entirely
    drive(srcB, s"$root/ckptB")
    assert(ManifestTable.read(spark, dst).count() == 8,
      "each query's batches land under its own watermark")
  }

  test("writeStream.format(\"graft\") sink: exactly-once appends into the log") {
    val root = freshRoot()
    val src = s"$root/src"
    val dst = s"$root/dst"
    ManifestTable.write(spark, df(0, 10, "a"), src)
    ManifestTable.append(spark, df(10, 16, "b"), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("path", src).option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    run()
    assert(ManifestTable.read(spark, dst).count() == 16)
    // restart with no new input: nothing re-lands (batch-id watermark)
    run()
    assert(ManifestTable.read(spark, dst).count() == 16,
      "restart must not duplicate batches")
    ManifestTable.append(spark, df(16, 18, "c"), src)
    run()
    val got = ManifestTable.read(spark, dst).orderBy("id")
      .collect().map(r => s"${r.getLong(0)}:${r.getString(1)}").toSeq
    assert(got.size == 18 && got.count(_.endsWith(":c")) == 2,
      s"graft-to-graft through format sink is exactly-once: $got")
    // non-append output modes refuse loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("path", src).load()
        .groupBy("tag").count()
        .writeStream.format("graft").outputMode("complete")
        .option("path", s"$root/dst2")
        .option("checkpointLocation", s"$root/ckpt2").start()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString.contains("append-only"))
  }

  test("readChangeFeed: the stream serves row-level changes across rewrites") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 10, "a"), t) // v1
    ManifestTable.enableChangeFeed(spark, t) // v2
    def runCdc(ckpt: String): Seq[(Long, String, String)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      val q = spark.readStream.format("graft")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select("id", "tag", "_change_type").collect()
              .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          }: Unit
        }.start()
      try q.processAllAvailable()
      finally q.stop()
      buf.toSeq
    }
    // initial snapshot: every current row as an insert
    val snap = runCdc(s"$root/ck")
    assert(snap.size == 10 && snap.forall(_._3 == "insert"))
    // a CoW delete, a DV delete, an update and an append — all while
    // no stream runs; the restart must deliver their exact row effects
    ManifestTable.delete(spark, t, col("id") === 3L) // v3
    ManifestTable.deleteVectors(spark, t, col("id") === 7L) // v4
    ManifestTable.update(spark, t, col("id") === 5L,
      Map("tag" -> lit("upd"))) // v5
    ManifestTable.append(spark, df(10, 12, "b"), t) // v6
    val got = runCdc(s"$root/ck").toSet
    // the update arrives PAIRED (update_preimage/update_postimage —
    // the Delta CDF contract), not as a delete+insert diff
    assert(got == Set(
      (3L, "a", "delete"), (7L, "a", "delete"),
      (5L, "a", "update_preimage"), (5L, "upd", "update_postimage"),
      (10L, "b", "insert"), (11L, "b", "insert")),
      s"CDC stream must carry the exact row effects: $got")
    // a replaceWhere (atomic slice swap) streams its recorded change
    // rows like every other rewrite kind
    ManifestTable.replaceWhere(spark,
      Seq((10L, "r"), (13L, "r")).toDF("id", "tag"), t,
      col("id") >= 10L) // v7: deletes 10,11; inserts 10,13
    val rw = runCdc(s"$root/ck").toSet
    assert(rw == Set(
      (10L, "b", "delete"), (11L, "b", "delete"),
      (10L, "r", "insert"), (13L, "r", "insert")),
      s"replaceWhere must stream exact slice-swap effects: $rw")
    // the plain additions stream still fails on the same rewrite range
    // (its contract is unchanged)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runToCompletion(t, s"$root/ck_plain_post")
      ManifestTable.delete(spark, t, col("id") === 1L)
      runToCompletion(t, s"$root/ck_plain_post")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString.contains("rewrite commit"))
    // ...while the CDC stream keeps going through it
    assert(runCdc(s"$root/ck").toSet == Set((1L, "a", "delete")))
    // a rewrite from BEFORE the feed was enabled cannot be served: a
    // fresh CDC stream starting mid-log at it fails with the remedy
    val t2 = s"$root/t2"
    ManifestTable.write(spark, df(0, 5, "x"), t2)
    ManifestTable.delete(spark, t2, col("id") === 0L) // no change files
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft")
        .option("path", t2).option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ck2")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.count(): Unit
        }.start()
      try q.processAllAvailable()
      finally q.stop()
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString
      .contains("enableChangeFeed"), s"got: $e2")
  }

  test("readChangeFeed on a partitioned table binds columns correctly") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    // recorded order (id, tag, qty) differs from the scan's declared
    // data-then-partition order (id, qty, tag) — the engine binds the
    // batch POSITIONALLY, so a recorded-order CDC batch would swap
    // columns
    ManifestTable.write(spark,
      (0L until 12L).map(i => (i, s"t${i % 2}", i * 10))
        .toDF("id", "tag", "qty"),
      t, partitionCols = Seq("tag"))
    ManifestTable.enableChangeFeed(spark, t)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    def drain(ckpt: String): Unit = {
      val q = spark.readStream.format("graft")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select("id", "tag", "qty", "_change_type").collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                r.getString(3)))
          }: Unit
        }.start()
      try q.processAllAvailable()
      finally q.stop()
    }
    drain(s"$root/ck")
    assert(buf.size == 12 &&
      buf.forall { case (id, tag, qty, ct) =>
        tag == s"t${id % 2}" && qty == id * 10 && ct == "insert" },
      s"snapshot columns must bind by name, not swap: ${buf.take(3)}")
    buf.clear()
    ManifestTable.delete(spark, t, col("id") === 4L) // change files
    ManifestTable.append(spark,
      Seq((20L, "t0", 200L)).toDF("id", "tag", "qty"), t)
    drain(s"$root/ck")
    assert(buf.toSet == Set((4L, "t0", 40L, "delete"),
      (20L, "t0", 200L, "insert")),
      s"rewrite + append batches must bind correctly: $buf")
  }

  test("one batch spanning an add-column commit null-fills older files") {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 4, "a"), t) // v1
    // drain v1, checkpointing the offset BEFORE the evolution
    assert(runToCompletion(t, s"$root/ckpt").size == 4)
    ManifestTable.append(spark, df(4, 7, "b"), t) // v2: pre-evolution files
    ManifestTable.addColumns(spark, t,
      StructType(Seq(StructField("score", DoubleType)))) // v3: zero files
    ManifestTable.append(spark,
      Seq((7L, "c", 1.5), (8L, "c", 2.5)).toDF("id", "tag", "score"), t) // v4
    // restart with NO rate limit: the admitted range (v1, v4] spans the
    // add-column commit, so ONE batch unions pre- and post-evolution
    // files — older files must surface the new column as null, newer
    // ones their values (the recorded schema at the range END governs)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Option[Double])]
    val q = spark.readStream.format("graft").option("path", t).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.columns.toSeq == Seq("id", "tag", "score"),
          s"mid-range evolution batch schema: ${b.columns.toSeq}")
        buf.synchronized {
          buf ++= b.collect().map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }: Unit
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    val got = buf.sortBy(_._1)
    assert(got.map(_._1) == Seq(4L, 5L, 6L, 7L, 8L))
    assert(got.filter(_._2 == "b").forall(_._3.isEmpty),
      s"pre-evolution rows must null-fill the new column: $got")
    assert(got.filter(_._2 == "c").flatMap(_._3) == Seq(1.5, 2.5),
      s"post-evolution rows must carry their values: $got")
  }

  test("one batch spanning a rename commit (column mapping) serves logical names") {
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, df(0, 3, "a"), t) // v1
    assert(runToCompletion(t, s"$root/ckpt").size == 3)
    ManifestTable.append(spark, df(3, 5, "b"), t) // v2: files store "tag"
    ManifestTable.renameColumn(spark, t, "tag", "label") // v3: zero files
    ManifestTable.append(spark, df(5, 6, "c")
      .withColumnRenamed("tag", "label"), t) // v4: files ALSO store "tag" physically
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft").option("path", t).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.columns.toSeq == Seq("id", "label"),
          s"mapped batch must serve LOGICAL names: ${b.columns.toSeq}")
        buf.synchronized {
          buf ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        }: Unit
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    assert(buf.sortBy(_._1) ==
      Seq((3L, "b"), (4L, "b"), (5L, "c")),
      s"rename mid-range must not drop or misname rows: ${buf.sortBy(_._1)}")
  }

  // ---- file/byte-granular admission (VERDICT r14 #7) ----

  /** Drive the SOURCE directly (deterministic offsets, no engine
    * scheduling): one getOffset/getBatch/commit round per entry —
    * returns (offset json, ids delivered) per batch.
    */
  private def driveSource(src: graft.streaming.GraftManifestSource,
      from: Option[org.apache.spark.sql.execution.streaming.Offset] = None)
      : Seq[(String, Seq[Long])] = {
    val out = Seq.newBuilder[(String, Seq[Long])]
    var start = from
    // the engine's recovery contract: committed offsets are replayed
    // through commit() before any getOffset
    from.foreach(src.commit)
    var o = src.getOffset
    while (o.nonEmpty) {
      val b = src.getBatch(start, o.get)
      val ids = org.apache.spark.sql.GraftColumnBridge.unstream(b)
        .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
      out += o.get.json -> ids
      src.commit(o.get)
      start = o
      o = src.getOffset
    }
    out.result()
  }

  private def sourceFor(t: String, maxFiles: Option[Long],
      maxBytes: Option[Long] = None): graft.streaming.GraftManifestSource =
    new graft.streaming.GraftManifestSource(spark, t,
      ManifestTable.scan(spark, t).schema,
      maxVersionsPerTrigger = None, startingVersion = 0L,
      changeFeed = false, maxFilesPerTrigger = maxFiles,
      maxBytesPerTrigger = maxBytes)

  test("maxFilesPerTrigger splits the snapshot AND versions; no loss, no dupes") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    // snapshot = 4 + 2 = 6 files; then a 3-file and a 1-file append
    ManifestTable.write(spark,
      (0L until 8L).toDF("id").repartition(4), t)
    ManifestTable.append(spark,
      (8L until 12L).toDF("id").repartition(2), t)
    val batches = driveSource(sourceFor(t, maxFiles = Some(4)))
    // snapshot (6 files at v2): 4-file mid offset, then the boundary
    assert(batches.map(_._1).take(2) ==
      Seq("""{"v":2,"i":4,"s":1}""", "2"),
      s"snapshot must split at file granularity: ${batches.map(_._1)}")
    assert(batches.size == 2)
    assert(batches.flatMap(_._2).sorted == (0L until 12L),
      "split delivery must be exactly-once")
    // post-snapshot appends: a version larger than the limit splits
    ManifestTable.append(spark,
      (12L until 24L).toDF("id").repartition(6), t) // v3: 6 files
    ManifestTable.append(spark,
      (24L until 26L).toDF("id"), t) // v4
    val more = driveSource(sourceFor(t, maxFiles = Some(4)),
      from = Some(graft.streaming.GraftVersionOffset(2L)))
    assert(more.map(_._1).head == """{"v":3,"i":4,"s":0}""",
      s"a big append must split mid-version: ${more.map(_._1)}")
    assert(more.flatMap(_._2).sorted == (12L until 26L),
      s"mid-version continuation must lose and duplicate nothing")
  }

  test("restart mid-version resumes from the exact file position") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, (0L until 4L).toDF("id").repartition(1), t)
    val src1 = sourceFor(t, maxFiles = Some(2))
    // deliver the snapshot, then TWO files into v2, then "crash"
    val o1 = src1.getOffset.get // boundary(1): the one-file snapshot
    assert(o1.json == "1")
    src1.getBatch(None, o1); src1.commit(o1)
    ManifestTable.append(spark,
      (4L until 16L).toDF("id").repartition(6), t) // v2: 6 files
    val o2 = src1.getOffset.get
    assert(o2.json == """{"v":2,"i":2,"s":0}""")
    val got1 = org.apache.spark.sql.GraftColumnBridge.unstream(
      src1.getBatch(Some(o1), o2)).select(col("id"))
      .collect().map(_.getLong(0)).toSeq
    src1.commit(o2)
    // recovery: a FRESH source instance told only the committed offset
    val src2 = sourceFor(t, maxFiles = Some(2))
    src2.commit(org.apache.spark.sql.execution.streaming.SerializedOffset(
      o2.json)) // the engine's restart contract
    val rest = driveSource(src2, from = Some(o2))
    assert(rest.map(_._1) ==
      Seq("""{"v":2,"i":4,"s":0}""", "2"),
      s"restart must continue from file index 2 of v2: ${rest.map(_._1)}")
    assert((got1 ++ rest.flatMap(_._2)).sorted == (4L until 16L),
      "the version's files must arrive exactly once across the restart")
  }

  test("maxBytesPerTrigger bounds batches but always admits one file") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark,
      (0L until 9L).toDF("id").repartition(3), t)
    // 1 byte < any parquet file: one file per trigger, three triggers
    val batches = driveSource(sourceFor(t, maxFiles = None,
      maxBytes = Some(1L)))
    assert(batches.size == 3,
      s"1-byte budget must admit exactly one file per trigger: " +
        s"${batches.map(_._1)}")
    assert(batches.flatMap(_._2).sorted == (0L until 9L))
  }

  test("file limits refuse readChangeFeed; engine path delivers split batches") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark,
      (0L until 12L).toDF("id").repartition(4), t)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("path", t)
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "2")
        .load().writeStream
        .option("checkpointLocation", s"$root/ckpt_refuse")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("maxVersionsPerTrigger")),
      s"expected the CDC rate-limit refusal, got $e")
    // end-to-end through the engine: 4 snapshot files, 2 per trigger
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft")
      .option("path", t)
      .option("maxFilesPerTrigger", "2")
      .load().writeStream
      .option("checkpointLocation", s"$root/ckpt_split")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.synchronized { counts += b.count() }: Unit
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    assert(counts.size == 2 && counts.sum == 12L,
      s"4 files at 2 per trigger = two engine batches: $counts")
  }

  test("Trigger.AvailableNow drains rate-limited to the head, stops, resumes exactly") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot()
    val t = s"$root/t"
    import spark.implicits._
    ManifestTable.write(spark,
      (0L until 6L).toDF("id").repartition(3), t) // 3 files
    ManifestTable.append(spark,
      (6L until 10L).toDF("id").repartition(2), t) // 2 files
    def drain(ckpt: String, poisonBatch: Option[Int] = None)
        : (Seq[Long], Int) = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = spark.readStream.format("graft").option("path", t)
        .option("maxFilesPerTrigger", "2")
        .load().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = batches.incrementAndGet()
          if (poisonBatch.contains(n))
            throw new RuntimeException("poison: die mid-drain")
          rows.synchronized {
            rows ++= b.collect().map(_.getLong(0))
          }: Unit
        }
        .start()
      // the drain-then-stop contract: the query terminates ON ITS OWN
      // at the latched head — no stop() call here
      try assert(q.awaitTermination(120000),
        "AvailableNow must terminate at the head")
      catch { case _: Exception if poisonBatch.nonEmpty => q.stop() }
      (rows.toSeq, batches.get())
    }
    // 5 files at 2 per trigger: 3 rate-limited batches, then stop
    val (rows1, n1) = drain(s"$root/ckpt_an")
    assert(rows1.sorted == (0L until 10L), s"complete drain: $rows1")
    assert(n1 == 3, s"admission holds under AvailableNow: $n1 batches")
    // appends AFTER the drain: a second AvailableNow run delivers
    // exactly the delta, then stops again
    ManifestTable.append(spark, (10L until 12L).toDF("id"), t)
    val (rows2, _) = drain(s"$root/ckpt_an")
    assert(rows2.sorted == (10L until 12L), s"delta only: $rows2")
    // mid-drain kill: first batch commits, the second poisons the
    // query; the restart resumes from the checkpoint — no loss, no
    // redelivery across the two runs
    ManifestTable.append(spark,
      (12L until 18L).toDF("id").repartition(3), t)
    val (rowsA, _) = drain(s"$root/ckpt_an2", poisonBatch = Some(2))
    val (rowsB, _) = drain(s"$root/ckpt_an2")
    assert((rowsA ++ rowsB).sorted == (0L until 18L),
      s"exactly-once across the kill: ${rowsA.size}+${rowsB.size}")
  }

  test("AvailableNow latch pins the fresh-stream snapshot: a commit racing " +
      "the latch neither bypasses admission nor leaks past the cap") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark,
      (0L until 8L).toDF("id").repartition(4), t) // snapshot: 4 files @ v1
    val src = sourceFor(t, maxFiles = Some(2))
    // latch the head (the engine's prepareForTriggerAvailableNow),
    // THEN land a commit before the first offer — the ADVICE r16 race
    src.prepareForTriggerAvailableNow()
    ManifestTable.append(spark,
      (8L until 10L).toDF("id").repartition(2), t) // v2, after the latch
    val batches = driveSource(src)
    // the snapshot must still split at file granularity AT THE CAP
    // version — not collapse into one clamped boundary batch
    assert(batches.map(_._1) == Seq("""{"v":1,"i":2,"s":1}""", "1"),
      s"snapshot must pin at the latched cap and stay rate-limited: " +
        s"${batches.map(_._1)}")
    assert(batches.flatMap(_._2).sorted == (0L until 8L),
      "post-latch commits belong to the next run")
    // the next run (fresh latch) delivers exactly the raced-in delta
    val src2 = sourceFor(t, maxFiles = Some(2))
    src2.prepareForTriggerAvailableNow()
    val more = driveSource(src2,
      from = Some(graft.streaming.GraftVersionOffset(1L)))
    assert(more.flatMap(_._2).sorted == (8L until 10L),
      s"the raced commit arrives exactly once next run: $more")
  }

  test("format(\"graft\") batch read time travel: versionAsOf / timestampAsOf") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, (0L until 5L).toDF("id"), t) // v1
    ManifestTable.append(spark, (5L until 9L).toDF("id"), t) // v2
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(t).count() == 5)
    assert(spark.read.format("graft").load(t).count() == 9)
    val ts = ManifestTable.history(spark, t)
      .filter(col("version") === 1L).head()
      .getAs[Long]("ts_millis")
    val tsStr = java.time.Instant.ofEpochMilli(ts)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      .replace("T", " ")
    assert(spark.read.format("graft").option("timestampAsOf", tsStr)
      .load(t).count() == 5)
    assertThrows[Exception](spark.read.format("graft")
      .option("versionAsOf", "1").option("timestampAsOf", tsStr)
      .load(t).count())
  }

  test("batch read through format(\"graft\") is the native pruning scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark,
      (0 until 100).map(_.toLong).toDF("id")
        .repartitionByRange(5, col("id")), t)
    val q = spark.read.format("graft").load(t).filter(col("id") < 20L)
    assert(q.count() == 20)
    val s = q.queryExecution.sparkPlan.collect {
      case x: FileSourceScanExec => x }.head
    val planned = s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
    assert(planned == 1, s"stats pruning must ride the batch format: $planned")
  }

  test("format(\"graft\") reads an unmapped table with a DEFAULT column and a decimal partition") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    ManifestTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .withColumn("p", lit("1.50").cast("decimal(5,2)")), t,
      partitionCols = Seq("p"))
    val defaulted = new MetadataBuilder()
      .putString("EXISTS_DEFAULT", "'basic'")
      .putString("CURRENT_DEFAULT", "'basic'").build()
    ManifestTable.addColumns(spark, t, StructType(Seq(
      StructField("tier", StringType, nullable = true, defaulted))))
    ManifestTable.append(spark, Seq((3L, "c", "gold")).toDF("id", "tag", "tier")
      .withColumn("p", lit("2.25").cast("decimal(5,2)")), t)
    // no deletion vectors, no column mapping: the bare relation
    val got = spark.read.format("graft").load(t)
    assert(got.select("id", "tier").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "basic"), (2L, "basic"), (3L, "gold")))
    assert(got.select("p").as[String].collect().sorted.toSeq ==
      Seq("1.50", "1.50", "2.25"))
  }
}
