package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Read-only Iceberg adoption: hand-built Hadoop-layout metadata
  * (vN.metadata.json + version-hint + manifest-list/manifest Avro,
  * the public iceberg.apache.org spec) resolves to the live file set
  * and adopts in place as a graft v1 manifest. Deleted entries are
  * honored; v2 delete files, non-identity transforms and field-id
  * renames refuse loudly.
  */
class IcebergAdoptSpec extends AnyFunSuite with SparkSuite {
  private def fresh(): String =
    Files.createTempDirectory("graft_ice").resolve("t").toString

  private val manifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"data_file","type":{"type":"record","name":"data_file",
      |"fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"}]}}]}""".stripMargin)

  private val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"content","type":"int"}]}""".stripMargin)

  private def writeAvro(path: java.io.File, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path)
    try records.foreach(w.append) finally w.close()
  }

  private def entry(status: Int, path: String, content: Int = 0,
      format: String = "parquet"): GenericRecord = {
    val df = new GenericData.Record(
      manifestSchema.getField("data_file").schema())
    df.put("content", content)
    df.put("file_path", path)
    df.put("file_format", format)
    df.put("record_count", 1L)
    val e = new GenericData.Record(manifestSchema)
    e.put("status", status)
    e.put("data_file", df)
    e
  }

  private def listEntry(path: String, content: Int = 0): GenericRecord = {
    val e = new GenericData.Record(listSchema)
    e.put("manifest_path", path)
    e.put("manifest_length", 1L)
    e.put("content", content)
    e
  }

  /** Relative data-file paths under `table`, sorted. */
  private def dataFiles(table: String): Seq[String] = {
    val root = java.nio.file.Paths.get(table)
    val out = Seq.newBuilder[String]
    val stream = java.nio.file.Files.walk(root)
    try stream.forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.endsWith(".parquet") && !rel.startsWith("metadata"))
        out += rel
    } finally stream.close()
    out.result().sorted
  }

  private def schemaJson(fields: Seq[(String, String, Int)]): String = {
    val fs = fields.map { case (n, t, id) =>
      s"""{"id":$id,"name":"$n","required":false,"type":"$t"}"""
    }.mkString(",")
    s"""{"schema-id":0,"type":"struct","fields":[$fs]}"""
  }

  private def writeMetadata(table: String, snapshotId: Long,
      manifestListRel: String,
      transform: String = "identity",
      extraField: Option[String] = None): Unit = {
    val metaDir = java.nio.file.Paths.get(table, "metadata")
    java.nio.file.Files.createDirectories(metaDir)
    val fields = Seq(("id", "long", 1), ("x", "long", 2),
      ("cat", "string", 3)) ++
      extraField.map(n => (n, "string", 4)).toSeq
    val meta =
      s"""{"format-version":2,"table-uuid":"t-0001","location":"$table",
         |"current-schema-id":0,"schemas":[${schemaJson(fields)}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[
         |{"name":"cat","transform":"$transform","source-id":3,"field-id":1000}]}],
         |"current-snapshot-id":$snapshotId,
         |"snapshots":[{"snapshot-id":$snapshotId,
         |"timestamp-ms":1700000000000,
         |"manifest-list":"$manifestListRel"}]}""".stripMargin
    java.nio.file.Files.write(metaDir.resolve("v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(metaDir.resolve("version-hint.text"),
      "1".getBytes("UTF-8")): Unit
  }

  /** Build a 4-partition table whose metadata marks `cat=d` DELETED. */
  private def seeded(): String = {
    import spark.implicits._
    val t = fresh()
    (0L until 80L).map(i =>
      (i, i * 10, Seq("a", "b", "c", "d")(((i % 4).toInt))))
      .toDF("id", "x", "cat").repartition(1)
      .write.partitionBy("cat").parquet(s"$t/data")
    val files = dataFiles(t)
    assert(files.size == 4, files.toString)
    val (dead, live) = files.partition(_.startsWith("data/cat=d"))
    val metaDir = java.nio.file.Paths.get(t, "metadata")
    java.nio.file.Files.createDirectories(metaDir)
    writeAvro(metaDir.resolve("m1.avro").toFile, manifestSchema,
      live.map(f => entry(1, f)) ++ dead.map(f => entry(2, f)))
    writeAvro(metaDir.resolve("snap-99.avro").toFile, listSchema,
      Seq(listEntry("metadata/m1.avro")))
    writeMetadata(t, 99L, "metadata/snap-99.avro")
    t
  }

  test("Iceberg metadata resolves; deleted entries honored; adopted table is first-class") {
    import spark.implicits._
    val t = seeded()
    val v = ManifestTable.convertToGraft(spark, t) // auto-detected
    assert(v == 1L)
    val got = ManifestTable.read(spark, t)
    // cat=d (ids ≡ 3 mod 4) was deleted in the metadata
    assert(got.count() == 60)
    assert(got.select("cat").distinct().collect().map(_.getString(0))
      .sorted.toSeq == Seq("a", "b", "c"))
    val h = ManifestTable.history(spark, t).filter(col("version") === 1)
      .head()
    assert(h.getString(8) == "convert-iceberg", h.toString)
    // live skipping stats + partition pruning from the Hive fragments
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("cat") === "b")
    assert(total == 3 && kept == 1, s"kept=$kept total=$total")
    val (keptR, _) = ManifestTable.skippingReport(spark, t,
      col("id") < 2L)
    assert(keptR <= 2, s"id range must prune: kept=$keptR")
    // post-adoption lifecycle: append and DV delete work in place
    ManifestTable.append(spark,
      Seq((1000L, 0L, "a")).toDF("id", "x", "cat"), t)
    ManifestTable.deleteVectors(spark, t, col("id") === 5L)
    assert(ManifestTable.read(spark, t).count() == 60)
    assert(!ManifestTable.read(spark, t).collect()
      .exists(_.getLong(0) == 5L))
  }

  test("v2 delete files, non-identity transforms and renames refuse loudly") {
    import spark.implicits._
    // delete MANIFEST in the list (content = 1)
    val t1 = seeded()
    val meta1 = java.nio.file.Paths.get(t1, "metadata")
    writeAvro(meta1.resolve("snap-99.avro").toFile, listSchema,
      Seq(listEntry("metadata/m1.avro"), listEntry("metadata/m1.avro", 1)))
    val e1 = intercept[IllegalArgumentException](
      ManifestTable.convertIcebergToGraft(spark, t1))
    assert(e1.getMessage.contains("DELETE manifests"))
    // row-level delete FILE entry (data_file.content = 1)
    val t2 = seeded()
    val meta2 = java.nio.file.Paths.get(t2, "metadata")
    writeAvro(meta2.resolve("m1.avro").toFile, manifestSchema,
      dataFiles(t2).filterNot(_.startsWith("data/cat=d"))
        .map(f => entry(1, f)) :+ entry(1, "data/del-0.parquet", 1))
    val e2 = intercept[IllegalArgumentException](
      ManifestTable.convertIcebergToGraft(spark, t2))
    assert(e2.getMessage.contains("DELETE file"))
    // bucket transform
    val t3 = seeded()
    writeMetadata(t3, 99L, "metadata/snap-99.avro",
      transform = "bucket[4]")
    val e3 = intercept[IllegalArgumentException](
      ManifestTable.convertIcebergToGraft(spark, t3))
    assert(e3.getMessage.contains("bucket[4]"))
    // schema column missing from the physical footer (a rename)
    val t4 = seeded()
    writeMetadata(t4, 99L, "metadata/snap-99.avro",
      extraField = Some("renamed_col"))
    val e4 = intercept[IllegalArgumentException](
      ManifestTable.convertIcebergToGraft(spark, t4))
    assert(e4.getMessage.contains("renamed_col"))
  }
}
