package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Read-only Delta-log adoption (VERDICT r19 #1): a hand-built
  * `_delta_log` (the public delta.io format — JSON commits, optional
  * checkpoint.parquet base, `_last_checkpoint` pointer) resolves to
  * the live file set, adopts in place as a graft v1 manifest with
  * live footer-derived skipping stats, and the adopted table is a
  * first-class citizen (reads, DML, skipping). Unsupported reader
  * semantics refuse loudly.
  */
class DeltaAdoptSpec extends AnyFunSuite with SparkSuite {
  private val mapper = new ObjectMapper()

  private def fresh(): String =
    Files.createTempDirectory("graft_delta").resolve("t").toString

  private def writeCommit(table: String, v: Long,
      lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(table, "_delta_log")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(f"$v%020d.json"),
      lines.mkString("\n").getBytes("UTF-8")): Unit
  }

  private def protocolLine(features: Seq[String] = Seq.empty): String = {
    val n = mapper.createObjectNode()
    val p = n.putObject("protocol")
    p.put("minReaderVersion", if (features.isEmpty) 1 else 3)
    p.put("minWriterVersion", if (features.isEmpty) 2 else 7)
    if (features.nonEmpty) {
      val a = p.putArray("readerFeatures")
      features.foreach(a.add)
    }
    mapper.writeValueAsString(n)
  }

  private def metaLine(schema: StructType, parts: Seq[String],
      config: Map[String, String] = Map.empty): String = {
    val n = mapper.createObjectNode()
    val m = n.putObject("metaData")
    m.put("id", "11111111-2222-3333-4444-555555555555")
    val f = m.putObject("format")
    f.put("provider", "parquet")
    m.put("schemaString", schema.json)
    val a = m.putArray("partitionColumns")
    parts.foreach(a.add)
    val c = m.putObject("configuration")
    config.foreach { case (k, v) => c.put(k, v): Unit }
    mapper.writeValueAsString(n)
  }

  private def addLine(path: String, pvals: Map[String, String],
      size: Long = 1L, dv: Boolean = false): String = {
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", path)
    val pv = a.putObject("partitionValues")
    pvals.foreach { case (k, v) => pv.put(k, v): Unit }
    a.put("size", size)
    a.put("modificationTime", 1700000000000L)
    a.put("dataChange", true)
    if (dv) {
      val d = a.putObject("deletionVector")
      d.put("storageType", "u")
      d.put("pathOrInlineDv", "abcd")
      d.put("offset", 1)
      d.put("sizeInBytes", 40)
      d.put("cardinality", 3L): Unit
    }
    mapper.writeValueAsString(n)
  }

  private def removeLine(path: String): String = {
    val n = mapper.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", 1700000001000L)
    r.put("dataChange", true)
    mapper.writeValueAsString(n)
  }

  /** Relative data-file paths under `table`, sorted. */
  private def dataFiles(table: String): Seq[String] = {
    val root = java.nio.file.Paths.get(table)
    val out = Seq.newBuilder[String]
    val stream = java.nio.file.Files.walk(root)
    try stream.forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".parquet") && !rel.startsWith("_delta_log"))
        out += rel
    } finally stream.close()
    out.result().sorted
  }

  private def pvalsOf(rel: String): Map[String, String] =
    rel.split("/").dropRight(1).filter(_.contains("="))
      .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap

  private val schema2 = StructType(Seq(
    StructField("id", LongType), StructField("x", LongType),
    StructField("cat", StringType)))

  test("JSON-commit Delta log adopts in place; removes honored; skipping live") {
    import spark.implicits._
    val t = fresh()
    // era 1: two Hive partitions, one file each
    (0L until 100L).map(i => (i, i * 10, if (i < 50) "a" else "b"))
      .toDF("id", "x", "cat").repartition(1)
      .write.partitionBy("cat").parquet(t)
    val era1 = dataFiles(t)
    assert(era1.size == 2, s"era1: $era1")
    writeCommit(t, 0, Seq(protocolLine(), metaLine(schema2, Seq("cat"))) ++
      era1.map(f => addLine(f, pvalsOf(f))))
    // era 2: more rows land, and the cat=a era-1 file is REMOVED
    (100L until 160L).map(i => (i, i * 10, "c"))
      .toDF("id", "x", "cat").repartition(1)
      .write.mode("append").partitionBy("cat").parquet(t)
    val era2 = dataFiles(t).diff(era1)
    assert(era2.size == 1, s"era2: $era2")
    val removed = era1.find(_.startsWith("cat=a")).get
    writeCommit(t, 1,
      era2.map(f => addLine(f, pvalsOf(f))) :+ removeLine(removed))

    // auto-detect: the generic CONVERT entry point routes via the log
    val v = ManifestTable.convertToGraft(spark, t)
    assert(v == 1L)
    val got = ManifestTable.read(spark, t)
    // live rows: ids 50..159 (the cat=a file holding 0..49 is removed)
    assert(got.count() == 110)
    assert(got.agg(min("id"), max("id")).head() == Row(50L, 159L))
    assert(got.select("cat").distinct().collect().map(_.getString(0))
      .sorted.toSeq == Seq("b", "c"))
    // the history names the operation and the resolved delta version
    val h = ManifestTable.history(spark, t).filter(col("version") === 1)
      .head()
    assert(h.getString(8) == "convert-delta", h.toString)
    // skipping stats are LIVE: a selective id predicate prunes files
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("id") < 60L)
    assert(total == 2 && kept == 1, s"kept=$kept total=$total")
    // partition pruning from the Hive layout
    val (keptP, _) = ManifestTable.skippingReport(spark, t,
      col("cat") === "c")
    assert(keptP == 1)
    // post-adopt lifecycle: a graft append and a DV delete both work
    ManifestTable.append(spark,
      Seq((1000L, 1L, "a")).toDF("id", "x", "cat"), t)
    ManifestTable.deleteVectors(spark, t, col("id") === 55L)
    assert(ManifestTable.read(spark, t).count() == 110)
    assert(!ManifestTable.read(spark, t).collect()
      .exists(_.getLong(0) == 55L))
  }

  test("checkpoint base + _last_checkpoint resolve without the pruned JSON prefix") {
    import spark.implicits._
    val t = fresh()
    (0L until 40L).map(i => (i, i, "a")).toDF("id", "x", "cat")
      .repartition(1).write.partitionBy("cat").parquet(t)
    val era1 = dataFiles(t)
    (40L until 80L).map(i => (i, i, "b")).toDF("id", "x", "cat")
      .repartition(1).write.mode("append").partitionBy("cat").parquet(t)
    val era2 = dataFiles(t).diff(era1)
    // checkpoint at v1 carries protocol + metaData + the two live adds
    val ckptSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType))))))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(1, 2), null, null, null))
    rows.add(Row(null, Row("id-1", schema2.json,
      Seq("cat"), Map.empty[String, String]), null, null))
    (era1 ++ era2).foreach { f =>
      rows.add(Row(null, null,
        Row(f, pvalsOf(f), 1L, true), null))
    }
    val ckptTmp = Files.createTempDirectory("graft_ckpt")
      .resolve("out").toString
    spark.createDataFrame(rows, ckptSchema).repartition(1)
      .write.parquet(ckptTmp)
    val part = new java.io.File(ckptTmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    java.nio.file.Files.createDirectories(logDir)
    java.nio.file.Files.copy(part.toPath,
      logDir.resolve(f"${1L}%020d.checkpoint.parquet"))
    java.nio.file.Files.write(logDir.resolve("_last_checkpoint"),
      s"""{"version":1,"size":${rows.size}}""".getBytes("UTF-8"))
    // post-checkpoint JSON commit: add a third era, remove an era-1 file
    (80L until 100L).map(i => (i, i, "c")).toDF("id", "x", "cat")
      .repartition(1).write.mode("append").partitionBy("cat").parquet(t)
    val era3 = dataFiles(t).diff(era1 ++ era2)
    writeCommit(t, 2,
      era3.map(f => addLine(f, pvalsOf(f))) :+ removeLine(era1.head))
    // NOTE: no 0.json/1.json exist at all — exactly the shape of a
    // log whose JSON prefix was retention-pruned after checkpointing
    ManifestTable.convertDeltaToGraft(spark, t)
    val got = ManifestTable.read(spark, t)
    assert(got.count() == 60)
    assert(got.agg(min("id"), max("id")).head() == Row(40L, 99L))
  }

  test("torn logs refuse; a stale _last_checkpoint falls back to JSON replay") {
    import spark.implicits._
    // gap in the JSON chain (0 and 2 present, 1 missing) → refuse
    val t1 = fresh()
    Seq((1L, 1L, "a")).toDF("id", "x", "cat")
      .repartition(1).write.partitionBy("cat").parquet(t1)
    val f1 = dataFiles(t1)
    writeCommit(t1, 0, Seq(protocolLine(), metaLine(schema2, Seq("cat"))) ++
      f1.map(f => addLine(f, pvalsOf(f))))
    writeCommit(t1, 2, f1.map(f => addLine(f, pvalsOf(f))))
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.convertDeltaToGraft(spark, t1))
    assert(e1.getMessage.contains("gaps"))
    // _last_checkpoint names a checkpoint that never landed, but the
    // full JSON chain exists → resolve via replay, not a refusal
    val t2 = fresh()
    Seq((1L, 1L, "a"), (2L, 2L, "b")).toDF("id", "x", "cat")
      .repartition(1).write.partitionBy("cat").parquet(t2)
    val f2 = dataFiles(t2)
    writeCommit(t2, 0, Seq(protocolLine(), metaLine(schema2, Seq("cat"))) ++
      f2.map(f => addLine(f, pvalsOf(f))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t2, "_delta_log", "_last_checkpoint"),
      """{"version":0,"size":3}""".getBytes("UTF-8"))
    ManifestTable.convertDeltaToGraft(spark, t2)
    assert(ManifestTable.read(spark, t2).count() == 2)
    // a multi-part checkpoint MISSING a part is never used as a base:
    // with no JSON chain either, resolution refuses
    val t3 = fresh()
    Seq((1L, 1L, "a")).toDF("id", "x", "cat")
      .repartition(1).write.partitionBy("cat").parquet(t3)
    val log3 = java.nio.file.Paths.get(t3, "_delta_log")
    java.nio.file.Files.createDirectories(log3)
    // fabricate part 1-of-3 and 3-of-3 only (any parquet body works —
    // completeness is checked BEFORE reading)
    Seq("0000000001", "0000000003").foreach { part =>
      java.nio.file.Files.write(log3.resolve(
        f"${5L}%020d.checkpoint.$part.0000000003.parquet"),
        Array[Byte](1, 2, 3))
    }
    val e3 = intercept[IllegalArgumentException](
      ManifestTable.convertDeltaToGraft(spark, t3))
    assert(e3.getMessage.contains("no complete checkpoint"),
      e3.getMessage)
  }

  test("unsupported reader semantics refuse loudly") {
    import spark.implicits._
    def seeded(): (String, Seq[String]) = {
      val t = fresh()
      Seq((1L, 1L, "a")).toDF("id", "x", "cat")
        .repartition(1).write.partitionBy("cat").parquet(t)
      (t, dataFiles(t))
    }
    // a live add carrying a deletion vector
    val (t1, f1) = seeded()
    writeCommit(t1, 0, Seq(protocolLine(), metaLine(schema2, Seq("cat"))) ++
      f1.map(f => addLine(f, pvalsOf(f), dv = true)))
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.convertDeltaToGraft(spark, t1))
    assert(e1.getMessage.contains("deletion vector"))
    // column mapping
    val (t2, f2) = seeded()
    writeCommit(t2, 0, Seq(protocolLine(),
      metaLine(schema2, Seq("cat"),
        Map("delta.columnMapping.mode" -> "name"))) ++
      f2.map(f => addLine(f, pvalsOf(f))))
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.convertDeltaToGraft(spark, t2))
    assert(e2.getMessage.contains("columnMapping"))
    // an unknown reader feature
    val (t3, f3) = seeded()
    writeCommit(t3, 0, Seq(protocolLine(Seq("deletionVectors")),
      metaLine(schema2, Seq("cat"))) ++
      f3.map(f => addLine(f, pvalsOf(f))))
    val e3 = intercept[IllegalArgumentException](
      ManifestTable.convertDeltaToGraft(spark, t3))
    assert(e3.getMessage.contains("deletionVectors"))
    // a tolerable reader feature passes
    val (t4, f4) = seeded()
    writeCommit(t4, 0, Seq(protocolLine(Seq("timestampNtz")),
      metaLine(schema2, Seq("cat"))) ++
      f4.map(f => addLine(f, pvalsOf(f))))
    ManifestTable.convertDeltaToGraft(spark, t4)
    assert(ManifestTable.read(spark, t4).count() == 1)
  }
}
