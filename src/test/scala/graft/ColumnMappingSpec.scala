package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Name-based column mapping (the Delta columnMapping=name mode):
  * RENAME and DROP as zero-file schema commits — data files keep
  * their physical columns forever, every read path projects
  * physical → logical, time travel reads each version under its own
  * names, and a re-added name never resurrects dropped data.
  */
class ColumnMappingSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_colmap").resolve("t").toString

  private def seed(t: String): Unit = {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"tag${i % 5}", i * 2))
      .toDF("id", "tag", "qty")
    ManifestTable.write(spark, df.repartitionByRange(4, col("id")), t)
  }

  test("rename: zero files touched, old data reads under the new name, time travel keeps the old") {
    val t = freshTable()
    seed(t) // v1
    val before = ManifestTable.currentFiles(spark, t)
    val v = ManifestTable.renameColumn(spark, t, "qty", "amount") // v2
    assert(v == 2L)
    assert(ManifestTable.currentFiles(spark, t) == before,
      "a rename must not touch any data file")
    // read() and scan() serve the new name with the old data
    val r = ManifestTable.read(spark, t)
    assert(r.schema.fieldNames.toSeq == Seq("id", "tag", "amount"))
    assert(r.agg(sum("amount")).head().getLong(0) == (0L until 100L).map(_ * 2).sum)
    assert(ManifestTable.scan(spark, t).filter(col("amount") > 150L)
      .count() == (0L until 100L).count(_ * 2 > 150))
    // predicate reads prune + filter on the LOGICAL name
    assert(ManifestTable.readWhere(spark, t, col("amount") === 10L)
      .head().getLong(0) == 5L)
    val (kept, total) = ManifestTable.skippingReport(spark, t, col("id") < 10L)
    assert(kept < total, "stats pruning must survive the mapping")
    // time travel: v1 still reads under the OLD name
    assert(ManifestTable.read(spark, t, version = 1)
      .schema.fieldNames.toSeq == Seq("id", "tag", "qty"))
    // metadata answers follow the logical name
    assert(ManifestTable.columnBounds(spark, t, "amount").contains((0L, 198L)))
  }

  test("appends, row-level ops and CDF work on the renamed table") {
    import spark.implicits._
    val t = freshTable()
    seed(t)
    ManifestTable.renameColumn(spark, t, "qty", "amount")
    // append with the NEW logical name lands in the physical column
    ManifestTable.append(spark,
      Seq((100L, "tagX", 999L)).toDF("id", "tag", "amount"), t)
    assert(ManifestTable.read(spark, t).filter(col("id") === 100L)
      .head().getLong(2) == 999L)
    // appending with the OLD name is now a schema violation (new column)
    // — it would silently fork the data otherwise; enforceSchema adds
    // it as evolution, so the old name becomes a NEW independent column
    // (exactly Delta's behavior). Just assert update/delete/merge work:
    ManifestTable.update(spark, t, col("amount") === 999L,
      Map("amount" -> lit(1000L)))
    assert(ManifestTable.read(spark, t).filter(col("id") === 100L)
      .head().getLong(2) == 1000L)
    ManifestTable.delete(spark, t, col("amount") === 1000L)
    assert(ManifestTable.read(spark, t).count() == 100L)
    ManifestTable.deleteVectors(spark, t, col("amount") === 0L) // id 0
    assert(ManifestTable.read(spark, t).count() == 99L)
    ManifestTable.merge(spark,
      Seq((1L, "tagM", 5000L)).toDF("id", "tag", "amount"), t, Seq("id"))
    assert(ManifestTable.read(spark, t).filter(col("id") === 1L)
      .head().getLong(2) == 5000L)
    // row-level CDF reports under the CURRENT logical names
    val changes = ManifestTable.rowChanges(spark, t, 0)
    assert(changes.columns.take(3).toSeq == Seq("id", "tag", "amount"))
    assert(changes.filter(col("_change_type") === "delete" &&
      col("amount") === 0L).count() == 1L, "the DV delete row surfaces")
  }

  test("drop: column gone from every read, files untouched, re-add does not resurrect") {
    import spark.implicits._
    val t = freshTable()
    seed(t)
    val before = ManifestTable.currentFiles(spark, t)
    ManifestTable.dropColumn(spark, t, "tag") // v2
    assert(ManifestTable.currentFiles(spark, t) == before,
      "a drop must not touch any data file")
    assert(ManifestTable.read(spark, t).schema.fieldNames.toSeq ==
      Seq("id", "qty"))
    assert(ManifestTable.scan(spark, t).columns.toSeq == Seq("id", "qty"))
    // time travel still sees the column
    assert(ManifestTable.read(spark, t, version = 1)
      .schema.fieldNames.contains("tag"))
    // re-adding 'tag' yields NULLS, not the dropped data (fresh
    // physical name)
    ManifestTable.addColumns(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType))))
    val r = ManifestTable.read(spark, t)
    assert(r.schema.fieldNames.toSeq == Seq("id", "qty", "tag"))
    assert(r.filter(col("tag").isNotNull).count() == 0,
      "a re-added column must not resurrect dropped data")
    // and new appends fill it
    ManifestTable.append(spark,
      Seq((200L, 1L, "fresh")).toDF("id", "qty", "tag"), t)
    assert(ManifestTable.read(spark, t).filter(col("tag") === "fresh")
      .count() == 1L)
  }

  test("SQL: ALTER TABLE RENAME/DROP COLUMN; extensions session reads the mapped table") {
    val t = freshTable()
    seed(t)
    val wh = new java.io.File(t).getParent
    val cat = "cmap"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN qty TO amount")
    // the extension session reads through the mapping-aware native scan
    assert(spark.sql(s"SELECT sum(amount) AS s FROM $cat.t").head().getLong(0)
      == (0L until 100L).map(_ * 2).sum)
    assert(spark.sql(s"SELECT id FROM $cat.t WHERE amount = 10").head()
      .getLong(0) == 5L)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN tag")
    assert(spark.sql(s"SELECT * FROM $cat.t").columns.toSeq ==
      Seq("id", "amount"))
    // INSERT through the catalog writes the physical column correctly
    spark.sql(s"INSERT INTO $cat.t VALUES (500, 777)")
    assert(spark.sql(s"SELECT amount FROM $cat.t WHERE id = 500").head()
      .getLong(0) == 777L)
    // a session WITHOUT the extension refuses rather than misread
    val bare = bareSession()
    bare.conf.set(s"spark.sql.catalog.${cat}2", "graft.catalog.GraftCatalog")
    bare.conf.set(s"spark.sql.catalog.${cat}2.warehouse", wh)
    val e = intercept[Exception](
      bare.sql(s"SELECT * FROM ${cat}2.t").collect())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("column mapping")), s"got: $e")
  }

  test("streaming source serves logical names over a mapped table") {
    import spark.implicits._
    val t = freshTable()
    seed(t)
    ManifestTable.renameColumn(spark, t, "qty", "amount")
    ManifestTable.append(spark,
      Seq((100L, "z", 1L)).toDF("id", "tag", "amount"), t)
    val ckpt = Files.createTempDirectory("graft_colmap_ck").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft").option("path", t).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select("amount").collect().map(_.getLong(0))
        }: Unit
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    assert(buf.sorted == ((0L until 100L).map(_ * 2) :+ 1L).sorted,
      s"stream must serve the logical column: ${buf.size} rows")
  }
}
