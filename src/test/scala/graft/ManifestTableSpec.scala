package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Manifest-committed table: snapshot isolation, append, compaction,
  * vacuum, and the commit CAS.
  */
class ManifestTableSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_manifest").resolve("t").toString

  private def df(n: Int, tag: String) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, tag, i % 3)).toDF("id", "tag", "bucket")
  }

  test("write/read round-trip; overwrite bumps version; old snapshot readable") {
    val t = freshTable()
    val v1 = ManifestTable.write(spark, df(100, "a"), t)
    assert(v1 == 1L)
    assert(ManifestTable.read(spark, t).count() == 100)
    val v2 = ManifestTable.write(spark, df(40, "b"), t)
    assert(v2 == 2L)
    // current = new snapshot; the superseded snapshot is STILL fully
    // readable by version — its files were never touched by the commit
    assert(ManifestTable.read(spark, t).count() == 40)
    assert(ManifestTable.read(spark, t, version = 1).count() == 100)
    assert(ManifestTable.read(spark, t)
      .select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("commits record file sizes; maintenance sizing needs zero filesystem calls") {
    val t = freshTable()
    ManifestTable.write(spark, df(100, "a").repartition(3), t)
    val files = ManifestTable.currentFiles(spark, t)
    val stats = ManifestTable.fileStats(spark, t)
    assert(files.forall(f => stats.get(f).exists(_.bytes > 0)),
      "every committed file must carry its on-disk size in the manifest")
    // no filesystem at all: the sizing is the recorded stats (the old
    // compact loop was O(files) serial getFileStatus — VERDICT r12)
    val sum = ManifestTable.snapshotBytes(files, stats)
    val real = files.map(f => new java.io.File(t, f).length).sum
    assert(sum == real, s"stats-backed bytes $sum != on-disk $real")
    // compact consumes the recorded sizes end-to-end
    val cs = ManifestTable.compact(spark, t)
    assert(cs.totalBytes == real)
  }

  test("analyze sketches are mergeable: per-file HLL unions track true distincts") {
    import spark.implicits._
    val t = freshTable()
    val data = (0 until 4000).map(i => (i.toLong, s"k${i % 123}"))
      .toDF("id", "k")
    ManifestTable.write(spark, data.repartition(4), t)
    ManifestTable.analyze(spark, t)
    val stats = ManifestTable.fileStats(spark, t)
    val sketches = stats.values.flatMap(_.ndv.get("k")).toSeq
    assert(sketches.size == stats.size, "every file must carry a k sketch")
    // the union across ALL files estimates the global distinct count
    val full = ManifestTable.ndvEstimate(sketches).get
    assert(full >= 117 && full <= 129, s"123 true distincts, union said $full")
    // mergeability: any subset's union is a valid estimate bounded by
    // the full union (+ sketch error) — the property that lets a
    // pruned scan report its own cardinality without re-scanning
    val partial = ManifestTable.ndvEstimate(sketches.take(2)).get
    assert(partial <= full * 1.05 && partial > 0)
    // id is near-unique: the union tracks 4000 within sketch error
    val idEst = ManifestTable.ndvEstimate(
      stats.values.flatMap(_.ndv.get("id")).toSeq).get
    assert(idEst >= 3800 && idEst <= 4200, s"4000 ids, union said $idEst")
    // the metadata-only files census needs zero filesystem calls when
    // sizes are recorded (stats-backed branch) and stays consistent
    val rep = ManifestTable.filesReport(spark, t)
    assert(rep.count() == stats.size &&
      rep.agg(org.apache.spark.sql.functions.sum("rows")).head().getLong(0)
        == 4000L)
  }

  test("append commits old-files + new-files") {
    val t = freshTable()
    ManifestTable.write(spark, df(30, "a"), t)
    val v = ManifestTable.append(spark, df(12, "b"), t)
    assert(v == 2L)
    val got = ManifestTable.read(spark, t).groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 30L, "b" -> 12L))
  }

  test("partitioned layout survives: partition column readable, pruning path intact") {
    val t = freshTable()
    ManifestTable.write(spark, df(90, "a"), t, partitionCols = Seq("bucket"))
    val r = ManifestTable.read(spark, t)
    assert(r.columns.toSet == Set("id", "tag", "bucket"))
    val filtered = r.filter(col("bucket") === 1)
    assert(filtered.count() == 30)
    // the bucket predicate must reach the scan as a PARTITION filter
    // and the pruned file index must expose exactly one bucket dir —
    // the manifest's explicit file list does not defeat pruning
    val scans = filtered.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(s => s.contains("PartitionFilters: [") &&
        s.contains("bucket#")),
      s"bucket predicate did not reach PartitionFilters:\n${scans.mkString("\n")}")
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scanExecs = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scanExecs.nonEmpty, "expected a FileSourceScanExec")
    assert(scanExecs.head.relation.location.listFiles(
        scanExecs.head.partitionFilters, scanExecs.head.dataFilters).size == 1,
      "expected exactly one surviving bucket partition after pruning")
  }

  test("compact reduces file count, preserves rows byte-identically") {
    val t = freshTable()
    // many small files: one per id via repartition
    ManifestTable.write(spark, df(60, "a").repartition(20), t)
    val filesBefore = ManifestTable.currentFiles(spark, t).size
    assert(filesBefore >= 20)
    val stats = ManifestTable.compact(spark, t)
    assert(stats.filesBefore == filesBefore)
    assert(stats.filesAfter < filesBefore)
    val got = ManifestTable.read(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == (0 until 60).map(i => (i.toLong, "a", i % 3)))
  }

  test("vacuum removes superseded files; current snapshot intact") {
    val t = freshTable()
    ManifestTable.write(spark, df(50, "a"), t)
    ManifestTable.write(spark, df(20, "b"), t)
    // graceMs = 0: no concurrent writer in the test — the default is
    // a 1h in-flight-writer grace that would skip everything here
    val removed = ManifestTable.vacuum(spark, t, graceMs = 0L)
    assert(removed > 0)
    assert(ManifestTable.read(spark, t).count() == 20)
    // the superseded manifest is gone too
    assertThrows[Exception](ManifestTable.read(spark, t, version = 1))
  }

  test("readChanges returns exactly the rows appended in the version range") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t)  // v1
    ManifestTable.append(spark, df(4, "b"), t)  // v2
    ManifestTable.append(spark, df(2, "c"), t)  // v3
    // (v1, v3]: both appended slices, never the base snapshot
    val d13 = ManifestTable.readChanges(spark, t, fromVersion = 1)
    assert(d13.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("b" -> 4L, "c" -> 2L))
    // (v2, v3]: only the last slice
    val d23 = ManifestTable.readChanges(spark, t, fromVersion = 2, toVersion = 3)
    assert(d23.select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("c"))
    // (v3, v3]: empty, schema intact
    val d33 = ManifestTable.readChanges(spark, t, fromVersion = 3)
    assert(d33.count() == 0 && d33.columns.toSet == Set("id", "tag", "bucket"))
    // from 0 = everything
    assert(ManifestTable.readChanges(spark, t, fromVersion = 0).count() == 16)
  }

  test("vacuum keepVersions retains a time-travel window") {
    val t = freshTable()
    ManifestTable.write(spark, df(50, "a"), t) // v1
    ManifestTable.write(spark, df(20, "b"), t) // v2
    ManifestTable.write(spark, df(9, "c"), t)  // v3
    val removed = ManifestTable.vacuum(spark, t, keepVersions = 2, graceMs = 0L)
    assert(removed > 0) // v1's files reclaimed
    // both retained versions still read in full
    assert(ManifestTable.read(spark, t, version = 2).count() == 20)
    assert(ManifestTable.read(spark, t).count() == 9)
    assertThrows[Exception](ManifestTable.read(spark, t, version = 1))
  }

  test("add-column schema evolution: old snapshots surface the new column as null") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t)
    ManifestTable.append(spark,
      df(5, "b").withColumn("score", col("id") * 2.0), t)
    val r = ManifestTable.read(spark, t)
    assert(r.columns.contains("score"))
    assert(r.filter(col("score").isNull).count() == 10)
    assert(r.filter(col("score").isNotNull).count() == 5)
  }

  test("MERGE schema evolution: a wider source evolves the table in the upsert") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      (0L until 10L).map(i => (i, s"t${i % 2}")).toDF("id", "tag")
        .repartitionByRange(2, col("id")), t)
    // the source carries a NEW column and updates half the keys
    val src = (5L until 15L).map(i => (i, "up", i * 1.5))
      .toDF("id", "tag", "score")
    ManifestTable.merge(spark, src, t, Seq("id"))
    val r = ManifestTable.read(spark, t)
    assert(r.columns.toSeq.sorted == Seq("id", "score", "tag"),
      "merge must evolve the schema for the new source column")
    assert(r.count() == 15)
    assert(r.filter(col("score").isNull).count() == 5,
      "untouched rows read the evolved column as null")
    assert(r.filter(col("id") === 7L).head().getAs[String]("tag") == "up")
    // widening through merge: a LONG source over an INT column
    val t2 = freshTable()
    ManifestTable.write(spark,
      (0 until 5).map(i => (i, i)).toDF("id", "n"), t2)
    ManifestTable.merge(spark,
      Seq((3, 5000000000L), (9, 1L)).toDF("id", "n"), t2, Seq("id"))
    val r2 = ManifestTable.read(spark, t2)
    assert(r2.schema("n").dataType ==
      org.apache.spark.sql.types.LongType,
      "merge must widen int -> long")
    assert(r2.filter(col("id") === 3).head().getAs[Long]("n")
      == 5000000000L)
    assert(r2.count() == 6)
  }

  test("exactly-once streaming append: replayed micro-batches fold in once") {
    import java.nio.file.StandardCopyOption
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingOps
    val base = Files.createTempDirectory("graft_mt_stream")
    val watched = Files.createDirectory(base.resolve("watch"))
    val table = base.resolve("table").toString
    // two event files -> two micro-batches (maxFilesPerTrigger=1)
    def writeFile(ids: Range, name: String, mtimeMs: Long): Unit = {
      val staging = Files.createTempDirectory("graft_mt_stage")
      val d = spark.createDataFrame(
        ids.map(i => org.apache.spark.sql.Row(
          i.toLong, i.toLong * 1000000000L, i.toLong, "view", 1.0, "{}")).asJava,
        StreamingOps.eventsSchema)
      d.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file"))
      val target = watched.resolve(name)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      assert(target.toFile.setLastModified(mtimeMs))
    }
    writeFile(0 until 20, "b1.parquet", 1000000L)
    writeFile(20 until 30, "b2.parquet", 2000000L)
    val q = ManifestTable.streamInto(
      StreamingOps.eventsStream(spark, watched.toString,
        maxFilesPerTrigger = Some(1)),
      table, base.resolve("ckpt").toString, txnAppId = "q1")
    try q.processAllAvailable()
    finally q.stop()
    assert(ManifestTable.read(spark, table).count() == 30)
    assert(ManifestTable.lastStreamBatchId(spark, table, "q1").contains(1L))
    // replay of an already-committed batch id is a no-op (the crash-
    // between-write-and-checkpoint case)
    val vBefore = ManifestTable.currentVersion(spark, table)
    import spark.implicits._
    val replay = (0 until 20).map(_.toLong).toDF("event_id")
    assert(ManifestTable.appendStreamBatch(
      spark, replay, table, batchId = 1L, txnAppId = "q1") == vBefore)
    assert(ManifestTable.read(spark, table).count() == 30)
    // the NEXT batch id still commits
    val v = ManifestTable.appendStreamBatch(
      spark, df(3, "x"), table, batchId = 2L, txnAppId = "q1")
    assert(v == vBefore + 1)
    assert(ManifestTable.lastStreamBatchId(spark, table, "q1").contains(2L))
    // a DIFFERENT query's batch 0 is NOT swallowed by q1's watermark
    val v2 = ManifestTable.appendStreamBatch(
      spark, df(5, "y"), table, batchId = 0L, txnAppId = "q2")
    assert(v2 == v + 1)
    assert(ManifestTable.lastStreamBatchId(spark, table, "q2").contains(0L))
    assert(ManifestTable.lastStreamBatchId(spark, table, "q1").contains(2L))
  }

  test("partition values with commas and quotes survive the manifest round-trip") {
    import spark.implicits._
    val t = freshTable()
    val d = Seq((1L, "en,US"), (2L, "de\"x"), (3L, "plain"))
      .toDF("id", "lang")
    ManifestTable.write(spark, d, t, partitionCols = Seq("lang"))
    ManifestTable.append(spark, Seq((4L, "en,US")).toDF("id", "lang"), t)
    val got = ManifestTable.read(spark, t).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en,US" -> 2L, "de\"x" -> 1L, "plain" -> 1L), got)
    // vacuum must not misparse the list into garbage paths and delete
    // live data
    ManifestTable.vacuum(spark, t, graceMs = 0L)
    assert(ManifestTable.read(spark, t).count() == 4)
  }

  test("URI-shaped txn app ids (colons) round-trip; pre-format-2 manifests are refused") {
    val t = freshTable()
    // colons in the app id — streamInto's default is a checkpoint URI
    val app = "file:/tmp/ckpt:q1"
    ManifestTable.appendStreamBatch(spark, df(6, "a"), t, batchId = 0L,
      txnAppId = app)
    ManifestTable.appendStreamBatch(spark, df(3, "b"), t, batchId = 1L,
      txnAppId = app)
    assert(ManifestTable.lastStreamBatchId(spark, t, app).contains(1L))
    val v = ManifestTable.currentVersion(spark, t)
    assert(ManifestTable.appendStreamBatch(spark, df(3, "b"), t,
      batchId = 1L, txnAppId = app) == v) // replay no-op
    assert(ManifestTable.read(spark, t).count() == 9)

    // a pre-format-2 manifest (no "fmt" marker, a single streamBatchId)
    // is refused with the version named, by readers and writers alike
    val t2 = freshTable()
    ManifestTable.write(spark, df(5, "a"), t2)
    val fs = new org.apache.hadoop.fs.Path(t2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ManifestTable.currentFiles(spark, t2)
      .map("\"" + _ + "\"").mkString(",")
    val legacy = new org.apache.hadoop.fs.Path(t2, "_manifests/v000000000002.json")
    val out = fs.create(legacy, false)
    out.write(s"""{"version":2,"files":[$files],"streamBatchId":7}"""
      .getBytes("UTF-8")); out.close()
    Seq[() => Any](() => ManifestTable.read(spark, t2),
      () => ManifestTable.lastStreamBatchId(spark, t2),
      () => ManifestTable.appendStreamBatch(spark, df(2, "x"), t2,
        batchId = 7L)).foreach { op =>
      val e = intercept[java.io.IOException](op())
      assert(e.getMessage.contains("manifest v2 has no format marker"),
        e.getMessage)
    }
  }

  test("a format-2 manifest without a recorded schema is refused") {
    val t = freshTable()
    ManifestTable.write(spark, df(5, "a"), t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = ManifestTable.currentFiles(spark, t)
      .map("\"" + _ + "\"").mkString(",")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(t, "_manifests/v000000000002.json"), false)
    out.write(s"""{"fmt":2,"version":2,"files":[$files]}""".getBytes("UTF-8"))
    out.close()
    val e = intercept[java.io.IOException](ManifestTable.read(spark, t))
    assert(e.getMessage.contains("manifest v2 records no schema"), e.getMessage)
    // the versions before it still read
    assert(ManifestTable.read(spark, t, version = 1).count() == 5)
  }

  test("a manifest whose data file records no rows and bytes is refused") {
    val t = freshTable()
    ManifestTable.write(spark, df(5, "a"), t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = ManifestTable.currentFiles(spark, t).head
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def writeV(v: Int, stats: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(t,
        f"_manifests/v$v%012d.json"), false)
      val node = mapper.createObjectNode()
      node.put("fmt", 2).put("version", v).put("schema", schema)
      node.putArray("files").add(file)
      node.set[com.fasterxml.jackson.databind.JsonNode]("stats",
        mapper.readTree(stats))
      out.write(node.toString.getBytes("UTF-8")); out.close()
    }
    // a hand-written manifest: no stats entry at all, then rows
    // without bytes; every reader refuses it with the version named
    writeV(2, "{}")
    val e = intercept[java.io.IOException](ManifestTable.read(spark, t))
    assert(e.getMessage.contains(
      s"manifest v2 records no rows and bytes for data file $file"), e.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(t, "_manifests/v000000000002.json"),
      false)
    writeV(2, s"""{"$file":{"rows":5}}""")
    val e2 = intercept[java.io.IOException](ManifestTable.scan(spark, t))
    assert(e2.getMessage.contains("manifest v2 records no rows and bytes"),
      e2.getMessage)
    // the versions before it still read
    assert(ManifestTable.read(spark, t, version = 1).count() == 5)
  }

  test("stream watermark survives batch commits: replay after compact is a no-op") {
    val t = freshTable()
    ManifestTable.appendStreamBatch(spark, df(8, "a"), t, batchId = 0L)
    ManifestTable.appendStreamBatch(spark, df(4, "b"), t, batchId = 1L)
    assert(ManifestTable.lastStreamBatchId(spark, t).contains(1L))
    ManifestTable.compact(spark, t)
    assert(ManifestTable.lastStreamBatchId(spark, t).contains(1L),
      "compact dropped the streaming idempotence watermark")
    val v = ManifestTable.currentVersion(spark, t)
    assert(ManifestTable.appendStreamBatch(spark, df(4, "b"), t, batchId = 1L) == v)
    assert(ManifestTable.read(spark, t).count() == 12)
  }

  test("delta log: 50 appends commit O(delta) manifests, resolve through checkpoints") {
    val t = freshTable()
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.write(spark, df(4, "base").coalesce(1), t) // v1 (replace)
    (1 to 50).foreach { i =>
      ManifestTable.append(spark, df(2, s"a$i").coalesce(1), t)
    }
    assert(ManifestTable.currentVersion(spark, t) == 51L)
    // per-commit manifest bytes are O(files added), NOT O(total files):
    // every append added exactly one data file, so every delta manifest
    // is the same few hundred bytes — the last must not be larger than
    // 2x the first (the old full-list format grew linearly to ~50x)
    def manifestLen(v: Long): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(t, f"_manifests/v$v%012d.json")).getLen
    val first = manifestLen(2)
    val last = manifestLen(51)
    assert(last <= 2 * first,
      s"append manifest grew with table size: v2=$first bytes, v51=$last bytes")
    // checkpoints materialized on the interval (default 10)
    val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_manifests"))
      .map(_.getPath.getName).filter(n => n.startsWith("c") && n.endsWith(".json"))
      .map(_.drop(1).stripSuffix(".json").toLong).sorted.toSeq
    assert(ckpts.nonEmpty && ckpts.forall(_ % 10 == 0), ckpts)
    // reads resolve the full table through checkpoint + delta suffix
    assert(ManifestTable.read(spark, t).count() == 4 + 50 * 2)
    assert(ManifestTable.currentFiles(spark, t).size == 51)
    // time travel to a mid-log version (between checkpoints) is exact
    assert(ManifestTable.read(spark, t, version = 27).count() == 4 + 26 * 2)
    // CDF across a checkpoint boundary returns exactly the delta rows
    assert(ManifestTable.readChanges(spark, t, fromVersion = 8, toVersion = 13)
      .count() == 5 * 2)
    // vacuum to a delta-committed floor: the floor gets a materialized
    // checkpoint so every retained version resolves without the
    // deleted prefix. In an append-only history every old file is
    // still referenced by the current version — vacuum must delete
    // ZERO data files even while pruning the log
    assert(ManifestTable.vacuum(spark, t, keepVersions = 5, graceMs = 0L) == 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(t, "_manifests/c000000000047.json")))
    assert(ManifestTable.read(spark, t, version = 47).count() == 4 + 46 * 2)
    assert(ManifestTable.read(spark, t).count() == 4 + 50 * 2)
    assertThrows[Exception](ManifestTable.read(spark, t, version = 46))
  }

  test("exactly-once survives compaction racing live appends") {
    val t = freshTable()
    ManifestTable.appendStreamBatch(spark, df(10, "b0"), t, batchId = 0L)
    @volatile var appendErr: Throwable = null
    val appender = new Thread(() => {
      try (1 to 6).foreach { i =>
        ManifestTable.appendStreamBatch(spark, df(5, s"b$i"), t,
          batchId = i.toLong)
        Thread.sleep(20)
      } catch { case e: Throwable => appendErr = e }
    })
    appender.start()
    // maintenance racing the live stream: compact's optimistic retry
    // must either fold a concurrent append into the rewrite or lose
    // its CAS and re-read — never silently drop the append's rows or
    // its txn watermark
    ManifestTable.compact(spark, t, maxAttempts = 20)
    ManifestTable.compact(spark, t, maxAttempts = 20)
    appender.join()
    assert(appendErr == null, s"append thread failed: $appendErr")
    ManifestTable.compact(spark, t, maxAttempts = 20)
    // no loss, no duplication, watermark intact
    assert(ManifestTable.read(spark, t).count() == 10 + 6 * 5)
    assert(ManifestTable.lastStreamBatchId(spark, t).contains(6L))
    // every batch id replays as a no-op against the compacted table
    val v = ManifestTable.currentVersion(spark, t)
    (0 to 6).foreach { i =>
      assert(ManifestTable.appendStreamBatch(spark, df(1, "replay"), t,
        batchId = i.toLong) == v, s"batch $i replayed as a real commit")
    }
    assert(ManifestTable.read(spark, t).count() == 10 + 6 * 5)
  }

  test("local-FS commit publish is hard-link create-exclusive (cross-process CAS)") {
    // the manifest file must be a real file whose creation raced
    // through createLink: committing the same version again fails even
    // without the same-JVM monitor's help (simulated by a direct
    // nio-level probe against the committed name)
    val t = freshTable()
    ManifestTable.write(spark, df(3, "a"), t)
    val target = java.nio.file.Paths.get(t, "_manifests", "v000000000001.json")
    assert(java.nio.file.Files.isRegularFile(target))
    val probe = java.nio.file.Files.createTempFile("graft_cas", ".json")
    try assertThrows[java.nio.file.FileAlreadyExistsException](
      java.nio.file.Files.createLink(target, probe))
    finally java.nio.file.Files.delete(probe)
    // and no staged temp survives a committed write
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(t, "_manifests"))
      .forall(!_.getPath.getName.contains(".tmp-")))
  }

  test("parquet-ref base: a 12k-file log resolves without one inline JSON tree") {
    val t = freshTable()
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.sinks.DataSkipping.{ColStats, FileStats}
    // synthetic full-list base of 12 000 files with per-file stats —
    // resolution is pure metadata (no data file is ever opened), so
    // the files need not exist; this is the million-file shape scaled
    // to test time (VERDICT r12 "What's missing" #1)
    val files = (0 until 12000).map(i => f"data/s1-x/part-$i%05d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> FileStats(2L,
        Map("id" -> ColStats(Some(2L * i), Some(2L * i + 1), Some(0L))),
        1000L)
    }.toMap
    spark.conf.set("spark.graft.manifest.refThreshold", "1000")
    val schemaJson = {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField("id", LongType), StructField("tag", StringType),
        StructField("bucket", IntegerType))).json
    }
    assert(ManifestTable.commitFullList(spark, fs, p, 1L, files,
      Map("app" -> 7L), stats, Seq.empty, schemaJson),
      "the >threshold full-list commit must succeed")
    // the committed head is a TINY pointer, not a 12k-entry tree
    val head = scala.io.Source.fromFile(
      s"$t/_manifests/v000000000001.json").mkString
    assert(head.contains("\"filesRef\"") && head.length < 2000,
      s"head must be a pointer (got ${head.length} bytes)")
    // resolution loads the sidecar: files, stats, txns all intact
    val t0 = System.nanoTime()
    val resolved = ManifestTable.currentFiles(spark, t)
    val sidecarMs = (System.nanoTime() - t0) / 1000000
    assert(resolved.size == 12000 && resolved == files.sorted)
    assert(ManifestTable.fileStats(spark, t).size == 12000)
    // the DISTRIBUTED parse path (a 10^7-file base would cross the
    // threshold naturally; force it here) resolves identically — the
    // per-row stat/dv JSON work runs in the Spark job, the driver
    // only builds maps from typed rows
    spark.conf.set("spark.graft.manifest.distributedParseThreshold", "0")
    val tD = System.nanoTime()
    try {
      assert(ManifestTable.currentFiles(spark, t) == resolved)
      assert(ManifestTable.fileStats(spark, t).size == 12000)
      assert(ManifestTable.rowCount(spark, t) == 24000L)
    } finally spark.conf.unset(
      "spark.graft.manifest.distributedParseThreshold")
    val distMs = (System.nanoTime() - tD) / 1000000
    info(s"12k-file distributed-parse resolution: $distMs ms")
    assert(ManifestTable.rowCount(spark, t) == 24000L,
      "metadata row count must survive the sidecar round-trip")
    assert(ManifestTable.columnBounds(spark, t, "id")
      .contains((0L, 23999L)), "column bounds must survive")
    assert(ManifestTable.streamTxns(spark, t) == Map("app" -> 7L),
      "txn watermarks stay in the inline head")
    val h = ManifestTable.history(spark, t).head()
    assert(h.getString(1) == "replace" && h.getInt(2) == 12000 &&
      h.getLong(4) == 24000L,
      s"history answers from the pointer head without a sidecar load: $h")
    // deltas stack on a pointer base like on any other
    import spark.implicits._
    ManifestTable.append(spark,
      Seq((1L, "x", 0)).toDF("id", "tag", "bucket"), t)
    assert(ManifestTable.currentFiles(spark, t).size == 12001)
    // reference timing: the same list forced INLINE (threshold high)
    val t2dir = freshTable()
    val p2 = new org.apache.hadoop.fs.Path(t2dir)
    spark.conf.set("spark.graft.manifest.refThreshold", "100000")
    try {
      assert(ManifestTable.commitFullList(spark, fs, p2, 1L, files,
        Map.empty, stats, Seq.empty, schemaJson))
      val t1 = System.nanoTime()
      assert(ManifestTable.currentFiles(spark, t2dir).size == 12000)
      val inlineMs = (System.nanoTime() - t1) / 1000000
      info(s"12k-file base resolution: sidecar ${sidecarMs} ms, " +
        s"inline JSON ${inlineMs} ms")
    } finally spark.conf.unset("spark.graft.manifest.refThreshold")
  }

  test("life cycle on sidecar bases (threshold=1): write/DV/checkpoint/compact") {
    spark.conf.set("spark.graft.manifest.refThreshold", "1")
    spark.conf.set("spark.graft.manifest.checkpointInterval", "2")
    try {
      val t = freshTable()
      import spark.implicits._
      val d0 = (0 until 100).map(i => (i.toLong, s"tag${i % 7}"))
        .toDF("id", "tag")
      ManifestTable.write(spark,
        d0.repartitionByRange(5, col("id")), t) // v1: sidecar replace
      val head = scala.io.Source.fromFile(
        s"$t/_manifests/v000000000001.json").mkString
      assert(head.contains("\"filesRef\""), "5 files > threshold 1 → pointer")
      ManifestTable.append(spark,
        Seq((100L, "x"), (101L, "y")).toDF("id", "tag"), t) // v2 + checkpoint
      ManifestTable.deleteVectors(spark, t, col("id") === 50L) // v3
      ManifestTable.append(spark,
        Seq((102L, "z")).toDF("id", "tag"), t) // v4 + checkpoint (with DVs)
      assert(new java.io.File(s"$t/_manifests/c000000000004.json").exists,
        "interval checkpoint must exist")
      // the v4 checkpoint is itself a sidecar base carrying the DV —
      // resolution from it must keep the delete applied
      assert(ManifestTable.read(spark, t).count() == 102L)
      assert(ManifestTable.rowCount(spark, t) == 102L)
      assert(ManifestTable.scan(spark, t)
        .filter(col("id") >= 49L && col("id") <= 51L)
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(49L, 51L))
      // CoW delete + compact through sidecar bases
      ManifestTable.delete(spark, t, col("id") < 10L) // v5
      val cs = ManifestTable.compact(spark, t) // v6: sidecar replace
      assert(cs.filesBefore > cs.filesAfter || cs.filesAfter >= 1)
      assert(ManifestTable.read(spark, t).count() == 92L)
      // incremental consumers classify sidecar compacts by the head
      var delivered = -1L
      ManifestTable.consumeChanges(spark, t, "c1") { (d, _, _) =>
        delivered = d.count() }
      assert(delivered == 92L, "initial snapshot through sidecar bases")
      ManifestTable.append(spark, Seq((200L, "w")).toDF("id", "tag"), t)
      ManifestTable.consumeChanges(spark, t, "c1") { (d, _, _) =>
        delivered = d.count() }
      assert(delivered == 1L, "append-only increment after a sidecar base")
      // vacuum sweeps orphaned sidecars but keeps the referenced ones
      ManifestTable.vacuum(spark, t, keepVersions = 1, graceMs = 0L)
      assert(ManifestTable.read(spark, t).count() == 93L,
        "current snapshot intact after vacuum")
    } finally {
      spark.conf.unset("spark.graft.manifest.refThreshold")
      spark.conf.unset("spark.graft.manifest.checkpointInterval")
    }
  }

  test("table properties survive sidecar (Ref) bases and checkpoints") {
    spark.conf.set("spark.graft.manifest.refThreshold", "1")
    spark.conf.set("spark.graft.manifest.checkpointInterval", "2")
    try {
      val t = freshTable()
      ManifestTable.write(spark, df(30, "a").repartition(3), t) // v1: Ref
      ManifestTable.setProperty(spark, t, "graft.owner.team", "corpus") // v2
      // through appends (+ interval checkpoint), a compact (Ref
      // replace) and a rewrite, the sticky channel keeps the value
      ManifestTable.append(spark, df(5, "b"), t) // v3
      ManifestTable.compact(spark, t) // v4: sidecar replace
      ManifestTable.delete(spark, t, col("id") === 1L) // v5
      ManifestTable.append(spark, df(2, "c"), t) // v6 + checkpoint
      assert(ManifestTable.tableProperties(spark, t)
        .get("graft.owner.team").contains("corpus"),
        "props must ride every commit kind, including pointer bases")
      // updating the value is one zero-file commit
      ManifestTable.setProperty(spark, t, "graft.owner.team", "ml")
      assert(ManifestTable.tableProperties(spark, t)("graft.owner.team") == "ml")
    } finally {
      spark.conf.unset("spark.graft.manifest.refThreshold")
      spark.conf.unset("spark.graft.manifest.checkpointInterval")
    }
  }

  test("commit CAS: a second writer racing the same version loses cleanly") {
    val t = freshTable()
    val v1files = {
      ManifestTable.write(spark, df(10, "a"), t)
      ManifestTable.currentFiles(spark, t)
    }
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two writers race the SAME next version: exactly one commit wins,
    // the loser's rename fails and its staged file is cleaned up
    val schemaJson = ManifestTable.tableSchema(spark, t).get.json
    val v1stats = ManifestTable.fileStats(spark, t)
    assert(ManifestTable.commitManifest(fs, p, 2L, v1files, schemaJson,
      stats = v1stats))
    assert(!ManifestTable.commitManifest(fs, p, 2L, Seq.empty, schemaJson))
    assert(ManifestTable.currentFiles(spark, t, version = 2) == v1files)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(p, "_manifests"))
      .forall(!_.getPath.getName.contains(".tmp-")), "staged file leaked")
    // a loser's orphaned snapshot dir is reclaimed by vacuum after the
    // next successful commit
    ManifestTable.write(spark, df(7, "c"), t)
    assert(ManifestTable.vacuum(spark, t, graceMs = 0L) > 0)
    assert(ManifestTable.read(spark, t).count() == 7)
  }

  test("consumeChanges: exactly-once delivery across polls, crash replay, independent consumers") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t) // v1
    var seen = Vector.empty[String]
    def drain(): Long = ManifestTable.consumeChanges(spark, t, "c1") {
      (d, _, _) => seen ++= d.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
    }
    drain()
    assert(seen.size == 10, "first consume delivers the full snapshot")
    drain()
    assert(seen.size == 10, "caught-up consume delivers nothing")
    ManifestTable.append(spark, df(4, "b"), t)
    ManifestTable.append(spark, df(2, "c"), t)
    drain()
    assert(seen.size == 16 && seen.count(_.endsWith(":b")) == 4 &&
      seen.count(_.endsWith(":c")) == 2)
    // crash BETWEEN delivery and offset commit: deliver throws → the
    // position does not advance → the next poll redelivers, once
    ManifestTable.append(spark, df(3, "d"), t)
    assertThrows[RuntimeException](
      ManifestTable.consumeChanges(spark, t, "c1") { (_, _, _) =>
        throw new RuntimeException("sink crash")
      })
    drain()
    assert(seen.count(_.endsWith(":d")) == 3, "crashed range redelivered exactly once")
    drain()
    assert(seen.size == 19, "no duplicate after recovery")
    // an independent consumer id starts from scratch
    var other = 0L
    ManifestTable.consumeChanges(spark, t, "c2") { (d, from, to) =>
      other = d.count(); assert(from == 0L)
    }
    assert(other == 19L)
    // consumer offsets ride the txn map without disturbing stream apps
    assert(ManifestTable.streamTxns(spark, t).keySet ==
      Set("consumer:c1", "consumer:c2"))
  }

  test("consumeChanges skips compactions (dataChange=false): no redelivery") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t)
    var seen = Vector.empty[String]
    def drain(): Long = ManifestTable.consumeChanges(spark, t, "cc") {
      (d, _, _) => seen ++= d.collect().map(r => s"${r.getLong(0)}:${r.getString(1)}")
    }
    drain()
    assert(seen.size == 10)
    // a compaction between polls rewrites every surviving file — the
    // old difference-based walk would redeliver all 14 rows as "new"
    ManifestTable.append(spark, df(4, "b"), t)
    ManifestTable.compact(spark, t)
    ManifestTable.append(spark, df(2, "c"), t)
    drain()
    assert(seen.size == 16, s"compaction must not redeliver: ${seen.size}")
    assert(seen.count(_.endsWith(":b")) == 4 && seen.count(_.endsWith(":c")) == 2)
    drain()
    assert(seen.size == 16, "caught up after the mixed range")
  }

  test("full-resync after truncate delivers the EMPTY replace and advances") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t)
    ManifestTable.consumeChanges(spark, t, "ct") { (_, _, _) => () }
    ManifestTable.truncate(spark, t)
    // "the table is now empty" IS the change: the resync delivery must
    // fire with zero rows and the offset must advance — skipping it
    // would leave the consumer holding truncated rows forever
    var calls = 0
    var delivered = -1L
    ManifestTable.consumeChanges(spark, t, "ct",
      onRewrite = ManifestTable.ConsumeFullResync) { (d, _, _) =>
      calls += 1; delivered = d.count()
    }
    assert(calls == 1 && delivered == 0L,
      s"empty replace must be delivered: calls=$calls rows=$delivered")
    // and the consumer is genuinely caught up (no error, no delivery)
    ManifestTable.consumeChanges(spark, t, "ct") { (_, _, _) =>
      fail("caught-up consumer must not be called") }
  }

  test("a consumer behind a vacuumed log prefix fails with re-sync guidance") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t) // v1
    ManifestTable.consumeChanges(spark, t, "cv") { (_, _, _) => () } // offset v1 (commit v2)
    ManifestTable.append(spark, df(4, "b"), t) // v3
    ManifestTable.compact(spark, t) // v4: v3's files leave the snapshot
    ManifestTable.append(spark, df(2, "c"), t) // v5
    // retention outruns the consumer: the safety rail REFUSES first
    // (VERDICT r14 #8) — only force = true reproduces the orphaning
    val guarded = intercept[IllegalStateException](
      ManifestTable.vacuum(spark, t, keepVersions = 2, graceMs = 0L))
    assert(guarded.getMessage.contains("'cv'") &&
      guarded.getMessage.contains("force"),
      s"expected the consumer guard naming 'cv', got: $guarded")
    // the consumer SURVIVES a guarded (refused) vacuum: nothing was
    // deleted, its next poll still works
    ManifestTable.append(spark, df(1, "still"), t)
    var survived = 0L
    ManifestTable.consumeChanges(spark, t, "cv2") { (d, _, _) =>
      survived = d.count() }
    assert(survived > 0L, "a refused vacuum must leave the log intact")
    // force: vacuum reclaims an add-file only together with the
    // manifest naming it, so the lagging consumer's walk hits the
    // unreadable v3 manifest and throws the LOG-PREFIX guidance (the
    // AnalysisException belt in consumeChanges only covers a vacuum
    // racing the poll itself)
    ManifestTable.vacuum(spark, t, keepVersions = 2, graceMs = 0L,
      force = true)
    val e = intercept[java.io.IOException](
      ManifestTable.consumeChanges(spark, t, "cv") { (_, _, _) => () })
    assert(e.getMessage.contains("re-sync"),
      s"expected the guided retention error, got: $e")
  }

  test("vacuumReport is a true dry run: exact listing, nothing deleted") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t) // v1
    ManifestTable.append(spark, df(4, "b"), t) // v2
    ManifestTable.compact(spark, t) // v3: v1+v2 files leave the snapshot
    ManifestTable.consumeChanges(spark, t, "lag") { (_, _, _) => () }
    ManifestTable.append(spark, df(2, "c"), t)
    ManifestTable.append(spark, df(2, "d"), t)
    val (fs, p) = (new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(t))
    def census(): Int = fs.listStatus(new org.apache.hadoop.fs.Path(p,
      "_manifests")).length +
      ManifestTable.currentFiles(spark, t).size
    val before = census()
    val report = ManifestTable.vacuumReport(spark, t,
      keepVersions = 1, graceMs = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(census() == before, "a dry run must not delete anything")
    assert(ManifestTable.read(spark, t).count() == 18L)
    val kinds = report.map(_._1).toSet
    assert(kinds.contains("data") && kinds.contains("manifest"),
      s"the report must list stale data files and log prefix: $kinds")
    assert(report.exists(_._1 == "orphaned-consumer"),
      s"the lagging consumer must be reported, not thrown: $report")
    assert(report.filter(_._1 == "data").forall(_._2.startsWith("data/")),
      s"paths are table-relative: $report")
    // the real run (force past the reported consumer) deletes exactly
    // the reported data files
    val deleted = ManifestTable.vacuum(spark, t, keepVersions = 1,
      graceMs = 0L, force = true)
    assert(deleted == report.count(_._1 == "data"),
      s"dry run promised ${report.count(_._1 == "data")}, " +
        s"real run deleted $deleted")
    assert(ManifestTable.read(spark, t).count() == 18L,
      "vacuum never touches the live snapshot")
  }

  test("consumeChanges on a rewrite range: fail loudly, or full resync by policy") {
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t)
    var n = 0L
    ManifestTable.consumeChanges(spark, t, "cr") { (d, _, _) => n = d.count() }
    assert(n == 10L)
    // a row-level delete cannot be expressed as file-level additions
    ManifestTable.append(spark, df(4, "b"), t)
    ManifestTable.delete(spark, t, col("tag") === "a" && col("id") < 5L)
    val e = intercept[IllegalStateException](
      ManifestTable.consumeChanges(spark, t, "cr") { (_, _, _) => () })
    assert(e.getMessage.contains("rewrite"))
    // the explicit resync policy redelivers the complete current state
    var resync = 0L
    ManifestTable.consumeChanges(spark, t, "cr",
      onRewrite = ManifestTable.ConsumeFullResync) {
      (d, _, _) => resync = d.count()
    }
    assert(resync == 9L, s"full resync must deliver the live snapshot: $resync")
    // and the consumer is caught up afterwards
    ManifestTable.consumeChanges(spark, t, "cr") { (_, _, _) =>
      fail("caught-up consumer must not be called") }
  }

  test("every commit kind stamps its operation in the audit channel (history)") {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val t = freshTable()
    ManifestTable.write(spark, df(30, "a").repartition(2), t) // v1
    ManifestTable.append(spark, df(5, "b"), t) // v2
    ManifestTable.appendStreamBatch(spark, df(2, "s"), t, batchId = 3L) // v3
    ManifestTable.setProperty(spark, t, "k", "v") // v4
    ManifestTable.deleteVectors(spark, t,
      col("id") === 0L && col("tag") === "a") // v5
    ManifestTable.delete(spark, t,
      col("id") === 1L && col("tag") === "a") // v6
    ManifestTable.update(spark, t,
      col("id") === 2L && col("tag") === "a", Map("bucket" -> lit(9))) // v7
    ManifestTable.merge(spark, df(3, "m"), t, Seq("id", "tag")) // v8
    ManifestTable.analyze(spark, t) // v9
    ManifestTable.addColumns(spark, t,
      StructType(Seq(StructField("score", DoubleType)))) // v10
    ManifestTable.compact(spark, t) // v11
    ManifestTable.restore(spark, t, 2L) // v12
    ManifestTable.truncate(spark, t) // v13
    val h = ManifestTable.history(spark, t).orderBy("version")
      .select("version", "operation", "op_params")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Map(1L -> "write", 2L -> "append",
      3L -> "streaming-append", 4L -> "set-properties",
      5L -> "delete-vectors", 6L -> "delete", 7L -> "update",
      8L -> "merge", 9L -> "analyze", 10L -> "add-columns",
      11L -> "compact", 12L -> "restore", 13L -> "truncate")
    assert(h == expected, s"got: ${h.toSeq.sortBy(_._1)}")
    // parameters ride along: the delete records its predicate, the
    // restore its target version, and every commit the engine marker
    val byV = ManifestTable.history(spark, t)
      .collect().map(r => r.getAs[Long]("version") ->
        r.getAs[String]("op_params")).toMap
    assert(byV(6L).contains("predicate") && byV(6L).contains("engine"))
    assert(byV(12L).contains("\"toVersion\":\"2\""), s"got: ${byV(12L)}")
    assert(byV(3L).contains("\"batchId\":\"3\""))
    // audit survives checkpoint/sidecar resolution: history reads the
    // COMMIT manifests, never a checkpoint's copy
    assert(ManifestTable.read(spark, t).count() == 0)
  }

  test("CHECK constraints gate every row-introducing commit path") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark, df(10, "a"), t) // v1 (no constraints yet)
    ManifestTable.setProperty(spark, t,
      s"${ManifestTable.ConstraintPropPrefix}pos", "id >= 0")
    ManifestTable.setProperty(spark, t,
      s"${ManifestTable.ConstraintPropPrefix}tagged", "tag IS NOT NULL")
    // conforming rows flow through every path
    ManifestTable.append(spark, df(5, "b"), t)
    assert(ManifestTable.read(spark, t).count() == 15)
    def bad(n: Long, tag: String) =
      Seq((n, tag, 0)).toDF("id", "tag", "bucket")
    // batch append
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.append(spark, bad(-1L, "x"), t))
    assert(e1.getMessage.contains("pos"), s"got: $e1")
    // a NULL predicate result is a violation too (CHECK semantics:
    // must be provably true)
    assertThrows[IllegalArgumentException](
      ManifestTable.append(spark, bad(1L, null), t))
    // streaming append
    assertThrows[IllegalArgumentException](
      ManifestTable.appendStreamBatch(spark, bad(-5L, "s"), t, batchId = 99L))
    // overwrite
    assertThrows[IllegalArgumentException](
      ManifestTable.write(spark, bad(-9L, "w"), t))
    // UPDATE rewriting a row INTO violation
    assertThrows[IllegalArgumentException](
      ManifestTable.update(spark, t, col("id") === 2L,
        Map("id" -> lit(-7L))))
    // MERGE with a violating source row
    assertThrows[IllegalArgumentException](
      ManifestTable.merge(spark, bad(-3L, "m"), t, Seq("id")))
    // CDC MERGE whose SET violates
    assertThrows[IllegalArgumentException](
      ManifestTable.mergeClauses(spark, bad(3L, "src"), t,
        Seq("id" -> "id"),
        matched = Seq(ManifestTable.MatchedClause(None,
          Some(Map("tag" -> lit(null.asInstanceOf[String])))))))
    // every abort left the table byte-identical
    assert(ManifestTable.read(spark, t).count() == 15)
    assert(ManifestTable.read(spark, t).filter(col("id") < 0L).count() == 0)
    assert(ManifestTable.read(spark, t).filter(col("tag").isNull).count() == 0)
    // UNSET retires the check
    ManifestTable.unsetProperty(spark, t,
      s"${ManifestTable.ConstraintPropPrefix}pos")
    ManifestTable.append(spark, bad(-1L, "ok"), t)
    assert(ManifestTable.read(spark, t).count() == 16)
  }

  test("non-deterministic caller frames: the checked evaluation IS the written one") {
    import org.apache.spark.sql.DataFrame
    // Every evaluation of this frame yields strictly larger v values
    // (a shared counter ticks per row), so a constraint `v <= n` PASSES
    // on the frame's first evaluation and VIOLATES on any later one —
    // the exact breach shape the localCheckpoint pin must rule out
    // (ADVICE r14): without the pin, the counting check would see
    // evaluation #1 and the write would land evaluation #2's rows.
    val next = udf(() => ManifestTableSpec.evalCounter.incrementAndGet())
      .asNondeterministic()
    def shifty(n: Int): DataFrame =
      spark.range(n).select(col("id"), next().as("v"))
    def vs(t: String): Seq[Long] =
      ManifestTable.read(spark, t).select("v").collect()
        .map(_.getLong(0)).toSeq.sorted
    val check = s"${ManifestTable.ConstraintPropPrefix}cap"

    // streaming append
    val t1 = freshTable()
    ManifestTable.create(spark, t1, shifty(1).schema)
    ManifestTable.setProperty(spark, t1, check, "v <= 100")
    ManifestTableSpec.evalCounter.set(0L)
    ManifestTable.appendStreamBatch(spark, shifty(100), t1, batchId = 1L)
    assert(vs(t1) == (1L to 100L),
      "streaming append must write the SAME evaluation the check saw")

    // replaceWhere: slice check + constraint check + write + CDC must
    // all see one evaluation
    val t2 = freshTable()
    ManifestTable.create(spark, t2, shifty(1).schema)
    ManifestTable.setProperty(spark, t2, check, "v <= 100")
    ManifestTable.enableChangeFeed(spark, t2)
    ManifestTableSpec.evalCounter.set(0L)
    val v2 = ManifestTable.replaceWhere(spark, shifty(100), t2, col("id") >= 0L)
    assert(vs(t2) == (1L to 100L),
      "replaceWhere must write the SAME evaluation the slice/constraint checks saw")
    val cdcVs = ManifestTable.rowChanges(spark, t2, v2 - 1, v2)
      .filter(col(ManifestTable.ChangeTypeCol) === "insert")
      .select("v").collect().map(_.getLong(0)).toSeq.sorted
    assert(cdcVs == (1L to 100L),
      "the change feed must record the WRITTEN rows, not a fresh evaluation")

    // merge: key scan + constraint check + write see one source evaluation
    val t3 = freshTable()
    import spark.implicits._
    ManifestTable.write(spark,
      (0L until 50L).map(i => (i, 0L)).toDF("id", "v"), t3)
    ManifestTable.setProperty(spark, t3, check, "v <= 100")
    ManifestTableSpec.evalCounter.set(0L)
    ManifestTable.merge(spark, shifty(100), t3, Seq("id"))
    assert(vs(t3) == (1L to 100L),
      "merge must upsert the SAME source evaluation its checks saw")
  }

  test("non-deterministic row-level predicates: the change feed records the rows that changed") {
    import spark.implicits._
    // each evaluation of a row flips its pick, so a second read of the
    // table matches the other half: only one evaluation may decide
    val flip = udf((id: Long) => ManifestTableSpec.flip(id)).asNondeterministic()
    def table(mode: Option[String]): String = {
      val t = freshTable()
      ManifestTable.write(spark, (0L until 1000L).map(i => (i, "a"))
        .toDF("id", "tag").repartitionByRange(5, col("id")), t)
      mode.foreach(m => ManifestTable.updateProperties(spark, t, Map(
        ManifestTable.DeleteModeProp -> m, ManifestTable.UpdateModeProp -> m)))
      ManifestTable.enableChangeFeed(spark, t)
      t
    }
    def ids(rows: org.apache.spark.sql.DataFrame): Set[Long] =
      rows.select("id").as[Long].collect().toSet
    def changed(t: String, v: Long, kind: String): Set[Long] =
      ids(ManifestTable.rowChanges(spark, t, v - 1, v)
        .filter(col(ManifestTable.ChangeTypeCol) === kind))
    for (mode <- Seq(None, Some("merge-on-read"))) {
      val name = mode.getOrElse("copy-on-write")
      val d = table(mode)
      ManifestTableSpec.resetFlips()
      val vd = ManifestTable.delete(spark, d, flip(col("id")))
      val left = (0L until 1000L).toSet -- ids(ManifestTable.read(spark, d))
      assert(left.size == 500, s"$name delete removed ${left.size} rows")
      assert(changed(d, vd, "delete") == left,
        s"$name delete: the feed's deletes are not the rows that left")

      val u = table(mode)
      ManifestTableSpec.resetFlips()
      val vu = ManifestTable.update(spark, u, flip(col("id")),
        Map("tag" -> lit("u")))
      val set = ids(ManifestTable.read(spark, u).filter(col("tag") === "u"))
      assert(set.size == 500, s"$name update changed ${set.size} rows")
      Seq("update_preimage", "update_postimage").foreach(kind =>
        assert(changed(u, vu, kind) == set,
          s"$name update: the feed's $kind rows are not the rows that changed"))
    }
  }

  test("current-time row-level predicates: every read sees the rows of one instant") {
    import spark.implicits._
    // a retention condition: Spark fixes current_timestamp() once per
    // query, and the rows sit one per millisecond from a day ago on, so
    // rows cross the boundary between any two reads of the table
    val n = 120000L
    val old = col("ts") < current_timestamp() - expr("INTERVAL 1 DAY")
    def table(mode: Option[String]): String = {
      val t = freshTable()
      val base = (System.currentTimeMillis() - 86400000L) * 1000L
      ManifestTable.write(spark, spark.range(n).select(col("id"),
        timestamp_micros(lit(base) + col("id") * 1000L).as("ts"),
        lit("a").as("tag")).repartitionByRange(5, col("id")), t)
      mode.foreach(m => ManifestTable.updateProperties(spark, t, Map(
        ManifestTable.DeleteModeProp -> m, ManifestTable.UpdateModeProp -> m)))
      ManifestTable.enableChangeFeed(spark, t)
      t
    }
    def ids(rows: org.apache.spark.sql.DataFrame): Seq[Long] =
      rows.select("id").as[Long].collect().toSeq
    def changed(t: String, v: Long, kind: String): Set[Long] =
      ids(ManifestTable.rowChanges(spark, t, v - 1, v)
        .filter(col(ManifestTable.ChangeTypeCol) === kind)).toSet
    for (mode <- Seq(None, Some("merge-on-read"))) {
      val name = mode.getOrElse("copy-on-write")
      val d = table(mode)
      val vd = ManifestTable.delete(spark, d, old)
      val left = (0L until n).toSet -- ids(ManifestTable.read(spark, d))
      assert(left.nonEmpty && left.size < n, s"$name delete removed ${left.size} rows")
      assert(changed(d, vd, "delete") == left,
        s"$name delete: the feed's deletes are not the rows that left")

      val u = table(mode)
      val vu = ManifestTable.update(spark, u, old, Map("tag" -> lit("u")))
      val after = ids(ManifestTable.read(spark, u))
      assert(after.size == n && after.distinct.size == n,
        s"$name update: ${after.size - after.distinct.size} rows appear twice")
      val set = ids(ManifestTable.read(spark, u).filter(col("tag") === "u")).toSet
      assert(set.nonEmpty && set.size < n, s"$name update changed ${set.size} rows")
      Seq("update_preimage", "update_postimage").foreach(kind =>
        assert(changed(u, vu, kind) == set,
          s"$name update: the feed's $kind rows are not the rows that changed"))
    }
  }

  test("batch txnAppId/txnVersion: retried appends and overwrites fold in once") {
    import spark.implicits._
    val t = freshTable()
    val d1 = (0L until 10L).toDF("id")
    val v1 = ManifestTable.append(spark, d1, t, txn = Some(("job", 1L)))
    // exact replay: no-op, current version handed back
    assert(ManifestTable.append(spark, d1, t, txn = Some(("job", 1L))) == v1)
    // stale watermark replays are no-ops too (monotone contract)
    assert(ManifestTable.append(spark, d1, t, txn = Some(("job", 0L))) == v1)
    assert(ManifestTable.read(spark, t).count() == 10)
    // the next step advances normally
    val v2 = ManifestTable.append(spark, (10L until 15L).toDF("id"), t,
      txn = Some(("job", 2L)))
    assert(v2 == v1 + 1 && ManifestTable.read(spark, t).count() == 15)
    // a different app id keeps its own watermark
    ManifestTable.append(spark, (15L until 18L).toDF("id"), t,
      txn = Some(("other", 1L))): Unit
    assert(ManifestTable.read(spark, t).count() == 18)
    // write (replace) rides the same map: a replayed overwrite cannot
    // clobber the state a completed step left behind
    val v4 = ManifestTable.write(spark, (0L until 4L).toDF("id"), t,
      txn = Some(("job", 3L)))
    assert(ManifestTable.read(spark, t).count() == 4)
    assert(ManifestTable.write(spark, (100L until 200L).toDF("id"), t,
      txn = Some(("job", 3L))) == v4)
    assert(ManifestTable.read(spark, t).count() == 4,
      "a replayed replace must leave the table untouched")
    // untagged writes never consult watermarks
    ManifestTable.append(spark, (4L until 6L).toDF("id"), t): Unit
    assert(ManifestTable.read(spark, t).count() == 6)
  }

  test("external re-evaluating leaves pin: guards and write see ONE JDBC draw") {
    // A JDBC relation re-executes its query on every evaluation. This
    // Derby function ticks a shared in-JVM counter PER ROW, so each
    // evaluation of the same expression-DETERMINISTIC Spark plan draws
    // the next run of values — exactly the external-mutable-state
    // hazard of ADVICE r16: on a contract-free table the old lazy path
    // let replaceWhere's slice check admit draw #1 and the write
    // commit draw #2 — rows outside the declared slice the guard
    // never saw.
    val dbDir =
      java.nio.file.Files.createTempDirectory("graft_derby_pin").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE FUNCTION TICK() RETURNS BIGINT " +
        "LANGUAGE JAVA PARAMETER STYLE JAVA NOT DETERMINISTIC NO SQL " +
        "EXTERNAL NAME 'graft.ManifestTableSpec.derbyTick'"): Unit
      st.execute("CREATE TABLE base (id BIGINT)"): Unit
      (0L until 20L).foreach(i =>
        st.execute(s"INSERT INTO base VALUES ($i)"): Unit)
    } finally conn.close()
    def jdbcDraw(q: String) = spark.read.format("jdbc")
      .option("url", url).option("query", q).load()

    // replaceWhere: the committed rows must satisfy the slice the
    // membership check admitted — one pinned draw end to end
    val src = jdbcDraw("SELECT id, TICK() AS v FROM base")
    assert(src.queryExecution.analyzed.deterministic,
      "the hazard is precisely an expression-deterministic plan")
    ManifestTableSpec.derbyTicker.set(0L)
    val t = freshTable()
    ManifestTable.create(spark, t, src.schema) // no constraints, no CDF
    ManifestTable.replaceWhere(spark, src, t, col("v") <= 20L): Unit
    val got = ManifestTable.read(spark, t).select("v")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == (1L to 20L),
      s"replaceWhere must commit the SAME draw its slice check admitted: $got")

    // merge with VOLATILE KEYS: the key-set/hit narrowing and the
    // actual upsert join must consume one draw — otherwise the scan
    // narrows on draw #1's keys while the join matches draw #2's
    val t2 = freshTable()
    import spark.implicits._
    ManifestTable.write(spark,
      (1L to 20L).map(i => (i, 0L)).toDF("id", "flag"), t2)
    ManifestTableSpec.derbyTicker.set(0L)
    ManifestTable.merge(spark,
      jdbcDraw("SELECT TICK() AS id, 1 AS flag FROM base")
        .select(col("id"), col("flag").cast("long")),
      t2, Seq("id")): Unit
    val after = ManifestTable.read(spark, t2)
      .select("id", "flag").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.keySet == (1L to 20L).toSet,
      s"merge must join the draw its narrowing scans saw: ${after.keySet}")
    assert(after.values.forall(_ == 1L),
      "every target key must take the matched update, none left stale")
  }

  test("re-evaluating leaves INSIDE subquery expressions pin too") {
    // ADVICE r17 medium: collectLeaves() does not descend into
    // IN/EXISTS/scalar-subquery plans, so a deterministic local frame
    // filtered by `id IN (SELECT ... FROM jdbc)` escaped the pin —
    // the subquery re-executes per evaluation, so the slice check and
    // the write could admit DIFFERENT row sets.
    val dbDir =
      java.nio.file.Files.createTempDirectory("graft_derby_subq").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE FUNCTION TICK() RETURNS BIGINT " +
        "LANGUAGE JAVA PARAMETER STYLE JAVA NOT DETERMINISTIC NO SQL " +
        "EXTERNAL NAME 'graft.ManifestTableSpec.derbyTick'"): Unit
      st.execute("CREATE TABLE base (id BIGINT)"): Unit
      (0L until 20L).foreach(i =>
        st.execute(s"INSERT INTO base VALUES ($i)"): Unit)
    } finally conn.close()
    import spark.implicits._
    // each evaluation of the subquery draws the NEXT 20 ticker values:
    // eval #1 admits ids 1..20, eval #2 would admit 21..40
    spark.read.format("jdbc").option("url", url)
      .option("query", "SELECT TICK() AS k FROM base").load()
      .createOrReplaceTempView("volatile_keys")
    (1L to 40L).toDF("id").createOrReplaceTempView("forty_ids")
    val src = spark.sql(
      "SELECT id FROM forty_ids WHERE id IN (SELECT k FROM volatile_keys)")
    assert(src.queryExecution.analyzed.deterministic,
      "the hazard is precisely an expression-deterministic outer plan")
    ManifestTableSpec.derbyTicker.set(0L)
    val t = freshTable()
    ManifestTable.create(spark, t, src.schema) // no constraints, no CDF
    ManifestTable.replaceWhere(spark, src, t, col("id") <= 20L): Unit
    val got = ManifestTable.read(spark, t).select("id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == (1L to 20L),
      s"the committed rows must be the draw the slice check admitted: $got")
  }

  test("in-commit timestamps: time travel survives a copy that resets mtimes") {
    val t = freshTable()
    ManifestTable.write(spark, df(5, "a"), t) // v1
    Thread.sleep(30)
    ManifestTable.append(spark, df(3, "b"), t) // v2
    Thread.sleep(30)
    ManifestTable.append(spark, df(2, "c"), t) // v3
    val times = ManifestTable.history(spark, t).orderBy("version")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ts_millis")).toMap
    // recorded timestamps are STRICTLY monotone by construction
    assert(times(1) < times(2) && times(2) < times(3), s"got $times")
    assert(ManifestTable.versionAtTimestamp(spark, t, times(2)) == 2L)
    // COPY the table (fresh mtimes everywhere — the rsync/backup
    // scenario): commit times answer from the LOG, not the filesystem
    val dst = freshTable()
    val src = java.nio.file.Paths.get(t)
    java.nio.file.Files.walk(src).forEach { f =>
      val to = java.nio.file.Paths.get(dst).resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to): Unit
      else java.nio.file.Files.copy(f, to): Unit // mtime = NOW
    }
    val copiedTimes = ManifestTable.history(spark, dst).orderBy("version")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ts_millis")).toMap
    assert(copiedTimes == times,
      s"copied-table commit times must equal the original's: $copiedTimes")
    assert(ManifestTable.versionAtTimestamp(spark, dst, times(2)) == 2L,
      "TIMESTAMP AS OF on the copy resolves the ORIGINAL commit times")
    assert(ManifestTable.read(spark, dst, version = 2).count() == 8)
  }

  test("restore re-publishes a version: content, DVs, schema, props; txns stay current") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark, df(100, "a").repartition(4), t) // v1
    ManifestTable.setProperty(spark, t, "team", "ml") // v2
    ManifestTable.deleteVectors(spark, t, col("id") < 10L) // v3: DV-bearing
    ManifestTable.appendStreamBatch(spark, df(5, "s"), t, batchId = 7L) // v4
    assert(ManifestTable.read(spark, t).count() == 95)
    val good = ManifestTable.currentVersion(spark, t)
    assert(good == 4L)
    // the bad commits: a property flip and a destructive overwrite
    ManifestTable.setProperty(spark, t, "team", "oops") // v5
    ManifestTable.write(spark, df(1, "bad"), t) // v6
    assert(ManifestTable.read(spark, t).count() == 1)
    val rv = ManifestTable.restore(spark, t, good)
    assert(rv == 7L, "restore is one more commit, the log is preserved")
    // content: exactly v4's — the DV deletes still apply (the restore
    // manifest re-carries the deletion vectors, not just the files)
    val back = ManifestTable.read(spark, t)
    assert(back.count() == 95)
    assert(back.filter(col("id") < 10L && col("tag") === "a").count() == 0,
      "restored deletion vectors must still suppress their rows")
    assert(ManifestTable.hasDeletionVectors(spark, t))
    // metadata: properties roll back WITH the version (Delta RESTORE
    // restores table metadata)...
    assert(ManifestTable.tableProperties(spark, t).get("team").contains("ml"))
    // ...but txn watermarks do NOT: they are monotone idempotence
    // state — a replayed micro-batch must still be recognized
    assert(ManifestTable.lastStreamBatchId(spark, t).contains(7L))
    ManifestTable.appendStreamBatch(spark, df(999, "replay"), t, batchId = 7L)
    assert(ManifestTable.read(spark, t).count() == 95,
      "a replayed batch id must stay deduplicated across a restore")
    // every old version is still readable; history shows the rollback
    assert(ManifestTable.read(spark, t, version = 6).count() == 1)
    val kinds = ManifestTable.history(spark, t).orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kinds.last == (7L, "replace"))
    // restoring the current version is a no-op, not a commit
    assert(ManifestTable.restore(spark, t, 7L) == 7L)
    assert(ManifestTable.currentVersion(spark, t) == 7L)
    // a restore can itself be restored away (back to the bad state)
    assert(ManifestTable.restore(spark, t, 6L) == 8L)
    assert(ManifestTable.read(spark, t).count() == 1)
  }

  test("restore refuses when the target's files were vacuumed; table unchanged") {
    val t = freshTable()
    ManifestTable.write(spark, df(50, "a"), t) // v1
    ManifestTable.write(spark, df(20, "b"), t) // v2: supersedes v1's files
    ManifestTable.vacuum(spark, t, keepVersions = 1, graceMs = 0L)
    val e = intercept[IllegalStateException](ManifestTable.restore(spark, t, 1L))
    assert(e.getMessage.contains("vacuum"), s"got: $e")
    assert(ManifestTable.currentVersion(spark, t) == 2L,
      "a refused restore must not commit anything")
    assert(ManifestTable.read(spark, t).count() == 20)
    // out-of-range versions refuse with the latest named
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.restore(spark, t, 99L))
    assert(e2.getMessage.contains("latest"))
  }

  test("restore is a replace base: no interval checkpoint at its version") {
    spark.conf.set("spark.graft.manifest.checkpointInterval", "2")
    try {
      val t = freshTable()
      ManifestTable.write(spark, df(10, "a"), t) // v1
      ManifestTable.append(spark, df(5, "b"), t) // v2: delta + checkpoint
      ManifestTable.append(spark, df(5, "c"), t) // v3
      assert(new java.io.File(s"$t/_manifests/c000000000002.json").exists,
        "the delta at v2 is checkpointed")
      assert(ManifestTable.restore(spark, t, 1L) == 4L)
      assert(!new java.io.File(s"$t/_manifests/c000000000004.json").exists,
        "a restore's replace manifest is its own base; a checkpoint " +
          "would copy the whole file list again")
      assert(ManifestTable.read(spark, t).count() == 10L)
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
  }

  test("row-level CDF across a restore commit is the net rollback diff") {
    val t = freshTable()
    ManifestTable.write(spark, df(20, "good"), t) // v1
    ManifestTable.write(spark, df(3, "bad"), t) // v2: the bad overwrite
    ManifestTable.restore(spark, t, 1L) // v3
    // (v2, v3]: the restore undoes the overwrite — net effect is
    // deleting the bad rows and re-inserting the good ones (computed
    // by snapshot diff: a restore has no precomputed change files)
    val ch = ManifestTable.rowChanges(spark, t, 2L, 3L)
      .groupBy("_change_type", "tag").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(ch == Set(("delete", "bad", 3L), ("insert", "good", 20L)),
      s"got: $ch")
    // and over the whole history the feed still nets to the live state
    val net = ManifestTable.rowChanges(spark, t, 0L)
      .groupBy("tag").agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(net == Map("good" -> 20L, "bad" -> 0L))
  }
}

/** Shared mutable state for the non-determinism pin spec: a counter the
  * test UDF ticks per evaluated row, making every evaluation of the
  * same frame observably different (local mode: tasks share the JVM).
  */
object ManifestTableSpec {
  val evalCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private val flips = scala.collection.mutable.HashMap.empty[Long, Int]

  /** Counts the evaluations of each id: an even id is picked on its odd
    * evaluations, an odd id on its even ones. */
  def flip(id: Long): Boolean = flips.synchronized {
    val n = flips.getOrElse(id, 0) + 1
    flips(id) = n
    (n + id) % 2 == 1
  }

  def resetFlips(): Unit = flips.synchronized(flips.clear())

  /** Backs an embedded-Derby SQL FUNCTION (same JVM): ticks once per
    * ROW the server evaluates, so every re-execution of a JDBC query
    * observably draws the next run of values while the SPARK plan
    * stays expression-deterministic — the external-mutable-state leaf
    * shape of ADVICE r16.
    */
  val derbyTicker = new java.util.concurrent.atomic.AtomicLong(0L)
  def derbyTick(): Long = derbyTicker.incrementAndGet()
}
