package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{ManifestTable, Sinks}
import java.nio.file.Files

/** File-level data skipping + row-level delete/merge on manifest
  * tables: stats collection, range pruning (MEASURED file counts, not
  * just result equality), copy-on-write rewrite narrowness, and the
  * fail-open contract for files whose column ranges are unknown.
  */
class ManifestSkippingSpec extends AnyFunSuite with SparkSuite {
  private def freshTable(): String =
    Files.createTempDirectory("graft_skip").resolve("t").toString

  /** Commit `t`'s live files again as its next version, each with its
    * rows and bytes but no column ranges (the foreign-writer shape):
    * every range unknown.
    */
  private def forgetRanges(t: String): Unit = {
    import org.apache.hadoop.fs.Path
    val s = ManifestTable.snapshot(spark, t)
    val p = new Path(t)
    assert(ManifestTable.commitManifest(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      s.version + 1, s.files, s.schema.json,
      stats = s.stats.map { case (f, st) => f -> st.copy(cols = Map.empty) },
      parts = s.parts))
  }

  /** 100 rows in 5 range-localized files: file k holds ids [20k, 20k+20). */
  private def rangedTable(): String = {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 100).map(i => (i.toLong, s"tag${i % 7}", i % 3))
      .toDF("id", "tag", "bucket")
    ManifestTable.write(spark, df.repartitionByRange(5, col("id")), t)
    t
  }

  test("footer stats are recorded: exact min/max/nulls per file") {
    import spark.implicits._
    val t = freshTable()
    val df = Seq((1L, "alpha"), (9L, "zeta"), (4L, null: String))
      .toDF("id", "name").coalesce(1)
    ManifestTable.write(spark, df, t)
    val stats = ManifestTable.fileStats(spark, t)
    assert(stats.size == 1)
    val fst = stats.values.head
    assert(fst.rows == 3)
    assert(fst.cols("id").min.contains(1L) && fst.cols("id").max.contains(9L))
    assert(fst.cols("id").nulls.contains(0L))
    assert(fst.cols("name").min.contains("alpha"))
    assert(fst.cols("name").max.contains("zeta"))
    assert(fst.cols("name").nulls.contains(1L))
  }

  test("range predicate scans only overlapping files; result matches full scan") {
    val t = rangedTable()
    val pred = col("id") >= 25L && col("id") < 45L
    val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
    assert(total == 5, s"expected 5 range files, got $total")
    assert(kept == 2, s"ids 25-44 live in exactly files [20,40) and [40,60): $kept")
    val viaSkip = ManifestTable.readWhere(spark, t, pred)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val viaFull = ManifestTable.read(spark, t).filter(pred)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(viaSkip == viaFull && viaSkip == (25L until 45L))
  }

  test("equality and IN prune to single files; impossible predicate scans zero") {
    val t = rangedTable()
    assert(ManifestTable.skippingReport(spark, t, col("id") === 57L)._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      col("id").isin(3L, 99L))._1 == 2)
    val (kept0, _) = ManifestTable.skippingReport(spark, t, col("id") > 1000L)
    assert(kept0 == 0)
    // zero-file read still returns a schema-correct empty frame
    val empty = ManifestTable.readWhere(spark, t, col("id") > 1000L)
    assert(empty.columns.toSeq == Seq("id", "tag", "bucket"))
    assert(empty.count() == 0)
  }

  test("decimal statistics prune range, equality and IN predicates") {
    import spark.implicits._
    // 100 prices in 5 range-localized files: file k holds
    // [20k + 0.25, 20k + 19.25] — DECIMAL(12,2), stored by parquet as
    // unscaled int64; the manifest must decode them to exact bounds
    val t = freshTable()
    val df = (0 until 100).map(i => (i.toLong, BigDecimal(i) + 0.25))
      .toDF("id", "price")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"))
    ManifestTable.write(spark, df.repartitionByRange(5, col("price")), t)
    val stats = ManifestTable.fileStats(spark, t)
    assert(stats.size == 5)
    // bounds survive the manifest JSON round-trip as exact decimals
    val mins = stats.values.flatMap(_.cols("price").min).toSeq
    assert(mins.contains(BigDecimal("0.25")), s"got $mins")
    assert(stats.values.flatMap(_.cols("price").max).toSeq
      .contains(BigDecimal("99.25")))
    // the money-column range shape: [25.00, 45.00) overlaps exactly
    // the [20,40) and [40,60) files
    val pred = col("price") >= lit(BigDecimal("25.00")) &&
      col("price") < lit(BigDecimal("45.00"))
    val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
    assert(total == 5 && kept == 2, s"decimal range must prune: $kept/$total")
    val viaSkip = ManifestTable.readWhere(spark, t, pred)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(viaSkip == (25L until 45L), s"got $viaSkip")
    // equality and IN prune to single files; integer and double
    // literals compare numerically against the decimal bounds too
    assert(ManifestTable.skippingReport(spark, t,
      col("price") === lit(BigDecimal("57.25")))._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      col("price").isin(BigDecimal("3.25"), BigDecimal("99.25")))._1 == 2)
    assert(ManifestTable.skippingReport(spark, t, col("price") > 1000)._1 == 0)
    assert(ManifestTable.skippingReport(spark, t, col("price") < 10.0)._1 == 1)
    // columnBounds: exact decimal extremes, metadata-only
    val bounds = ManifestTable.columnBounds(spark, t, "price")
    assert(bounds.contains((BigDecimal("0.25"), BigDecimal("99.25"))),
      s"got $bounds")
  }

  test("nested struct leaves prune; repeated-group leaves never do") {
    import spark.implicits._
    // 100 rows in 5 range-localized files; the range key lives INSIDE
    // a struct — `meta.price` must prune exactly like a top-level
    // column (footer stats record under the dotted path)
    val t = freshTable()
    val df = (0 until 100).map(i =>
      (i.toLong, (i.toLong * 10, s"tag${i % 7}"), Seq(i.toLong, 999L)))
      .toDF("id", "meta", "arr")
      .selectExpr("id",
        "named_struct('price', meta._1, 'tag', meta._2) AS meta", "arr")
    ManifestTable.write(spark, df.repartitionByRange(5, col("id")), t)
    val stats = ManifestTable.fileStats(spark, t)
    assert(stats.values.exists(_.cols.contains("meta.price")),
      s"nested leaf stats must record: ${stats.values.head.cols.keySet}")
    assert(!stats.values.exists(_.cols.keys.exists(_.startsWith("arr"))),
      "array-element stats must be excluded (they describe elements)")
    // range predicate on the nested leaf: ids 25-44 → 2 of 5 files
    val pred = col("meta.price") >= 250L && col("meta.price") < 450L
    val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
    assert(total == 5 && kept == 2, s"nested range must prune: $kept/$total")
    assert(ManifestTable.readWhere(spark, t, pred)
      .orderBy("id").collect().map(_.getLong(0)).toSeq == (25L until 45L))
    // the native FileIndex path: resolved GetStructField filters prune
    import org.apache.spark.sql.execution.FileSourceScanExec
    val filtered = ManifestTable.scan(spark, t).filter(pred)
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    val planned = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.size).sum
    assert(planned == 2, s"native scan must plan 2 files, got $planned")
    assert(filtered.count() == 20)
    // equality + impossible band on the nested leaf
    assert(ManifestTable.skippingReport(spark, t,
      col("meta.price") === 570L)._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      col("meta.price") > 99999L)._1 == 0)
  }

  test("string stats prune; disjunctions keep the union of sides") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 60).map(i =>
      (i.toLong, if (i < 30) s"a_$i" else s"z_$i")).toDF("id", "name")
    ManifestTable.write(spark, df.repartitionByRange(2, col("name")), t)
    assert(ManifestTable.skippingReport(spark, t, col("name") === "a_7")._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      col("name").startsWith("z_"))._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      col("name") === "a_7" || col("name") === "z_33")._1 == 2)
    // conjunction with an unprunable leaf still prunes via the other
    assert(ManifestTable.skippingReport(spark, t,
      col("name") === "a_7" && length(col("name")) > 2)._1 == 1)
  }

  test("partition-dir values prune like data stats; nulls fail open correctly") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "part")
    ManifestTable.write(spark, df, t, partitionCols = Seq("part"))
    val (kept, total) = ManifestTable.skippingReport(spark, t, col("part") === 1)
    assert(kept < total, s"partition predicate should prune: $kept/$total")
    assert(ManifestTable.readWhere(spark, t, col("part") === 1).count() == 10)
    // IsNull on a never-null id: every file knows nulls == 0 → scan zero
    assert(ManifestTable.skippingReport(spark, t, col("id").isNull)._1 == 0)
    assert(ManifestTable.readWhere(spark, t, col("id").isNull).count() == 0)
  }

  test("range-less files (hand-committed manifest) are never pruned") {
    val t = rangedTable()
    // v2 re-lists the same files with rows and bytes but no ranges:
    // pruning must keep everything
    forgetRanges(t)
    val (kept, total) = ManifestTable.skippingReport(spark, t, col("id") === 57L)
    assert(kept == total && total == 5)
    assert(ManifestTable.readWhere(spark, t, col("id") === 57L).count() == 1)
  }

  test("delete rewrites only the files containing matches; time travel intact") {
    val t = rangedTable()
    val before = ManifestTable.currentFiles(spark, t)
    val v = ManifestTable.delete(spark, t, col("id") < 20L) // exactly file 1
    assert(v == 2L)
    val after = ManifestTable.currentFiles(spark, t)
    // 4 of 5 files survive BY IDENTITY — copy-on-write touched only the hit
    assert(after.toSet.intersect(before.toSet).size == 4)
    assert(ManifestTable.read(spark, t).count() == 80)
    assert(ManifestTable.read(spark, t).agg(min("id")).head.getLong(0) == 20L)
    // the deleted rows still exist at v1 (snapshot isolation)
    assert(ManifestTable.read(spark, t, version = 1).count() == 100)
    // a predicate matching nothing commits nothing
    assert(ManifestTable.delete(spark, t, col("id") > 1000L) == 2L)
  }

  test("delete keeps rows where the predicate is null (SQL DELETE semantics)") {
    import spark.implicits._
    val t = freshTable()
    val df = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null: java.lang.Long),
      (3L, java.lang.Long.valueOf(50L))).toDF("id", "v").coalesce(1)
    ManifestTable.write(spark, df, t)
    ManifestTable.delete(spark, t, col("v") > 10L)
    val ids = ManifestTable.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L), "null-predicate row must survive a delete")
  }

  test("merge upserts: updates replace in-place files, inserts append, rest untouched") {
    import spark.implicits._
    val t = rangedTable()
    val before = ManifestTable.currentFiles(spark, t)
    // update two rows in file [40,60) and insert two new keys
    val source = Seq(
      (41L, "UPDATED", 9), (55L, "UPDATED", 9),
      (200L, "NEW", 9), (201L, "NEW", 9)
    ).toDF("id", "tag", "bucket")
    val v = ManifestTable.merge(spark, source, t, Seq("id"))
    assert(v == 2L)
    val after = ManifestTable.currentFiles(spark, t)
    // only the [40,60) file was rewritten: 4 originals survive by identity
    assert(after.toSet.intersect(before.toSet).size == 4)
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 102)
    assert(r.filter(col("tag") === "UPDATED").count() == 2)
    assert(r.filter(col("id") === 41L).head.getString(1) == "UPDATED")
    assert(r.filter(col("id") === 200L).count() == 1)
    // untouched row in the rewritten file survived
    assert(r.filter(col("id") === 42L).head.getString(1) == "tag0")
    // old snapshot still shows pre-merge state
    assert(ManifestTable.read(spark, t, version = 1)
      .filter(col("tag") === "UPDATED").count() == 0)
  }

  test("delete + append + checkpoint resolution compose; vacuum reclaims removed files") {
    import spark.implicits._
    val t = rangedTable()
    ManifestTable.delete(spark, t, col("id") < 20L) // v2: remove f1
    val extra = (300 until 310).map(i => (i.toLong, "x", 0))
      .toDF("id", "tag", "bucket").coalesce(1)
    ManifestTable.append(spark, extra, t) // v3
    assert(ManifestTable.read(spark, t).count() == 90)
    // force a checkpoint and read through it
    spark.conf.set("spark.graft.manifest.checkpointInterval", "1")
    try {
      ManifestTable.append(spark, extra.withColumn("id", col("id") + 100), t) // v4 + checkpoint
      assert(ManifestTable.read(spark, t).count() == 100)
      val (kept, _) = ManifestTable.skippingReport(spark, t, col("id") >= 300L)
      assert(kept <= 2, s"post-checkpoint stats must still prune, kept=$kept")
    } finally spark.conf.unset("spark.graft.manifest.checkpointInterval")
    val removed = ManifestTable.vacuum(spark, t, graceMs = 0L)
    assert(removed > 0, "the delete-removed file must be reclaimed")
    assert(ManifestTable.read(spark, t).count() == 100)
  }

  test("z-order clustered compaction makes EITHER dimension prunable") {
    import spark.implicits._
    val t = freshTable()
    // shuffled 64×64 grid: a random layout gives every file the full
    // range of both dims — nothing prunable
    val rnd = new scala.util.Random(7)
    val pts = rnd.shuffle(
      (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
        .toVector)
    ManifestTable.write(spark, pts.toDF("x", "y").repartition(8), t)
    val predX = col("x") === 5L
    val predY = col("y") === 60L
    assert(ManifestTable.skippingReport(spark, t, predX)._1 == 8,
      "random layout must be unprunable")
    // small byte target → ≥4 z-range files (quadrant structure needs
    // at least the 4-way split before BOTH dims become prunable)
    ManifestTable.compact(spark, t, targetFileBytes = 3072,
      clusterBy = Seq(Sinks.zOrderKey(col("x"), col("y"))))
    val (kx, tx) = ManifestTable.skippingReport(spark, t, predX)
    val (ky, ty) = ManifestTable.skippingReport(spark, t, predY)
    assert(kx < tx, s"x predicate must prune after z-order: $kx/$tx")
    assert(ky < ty, s"y predicate must prune after z-order: $ky/$ty")
    // and the clustered rewrite lost nothing
    assert(ManifestTable.read(spark, t).count() == 64 * 64)
    assert(ManifestTable.readWhere(spark, t, predX).count() == 64)
    assert(ManifestTable.readWhere(spark, t, predY).count() == 64)
  }

  test("negated predicates prune soundly through the NNF rewrite") {
    import spark.implicits._
    val t = rangedTable()
    // NOT(id < 20) == id >= 20: exactly the first file drops
    assert(ManifestTable.skippingReport(spark, t, !(col("id") < 20L))._1 == 4)
    // De Morgan: NOT(20 <= id < 80) == id < 20 OR id >= 80: edge files
    assert(ManifestTable.skippingReport(spark, t,
      !(col("id") >= 20L && col("id") < 80L))._1 == 2)
    assert(ManifestTable.readWhere(spark, t,
      !(col("id") >= 20L && col("id") < 80L)).count() == 40)
    // != on a constant file proves emptiness; unsupported negations fail open
    val c = freshTable()
    ManifestTable.write(spark, Seq.fill(5)(7L).toDF("v").coalesce(1), c)
    assert(ManifestTable.skippingReport(spark, c, col("v") =!= 7L)._1 == 0)
    assert(ManifestTable.skippingReport(spark, c, col("v") =!= 8L)._1 == 1)
    assert(ManifestTable.skippingReport(spark, t,
      !col("tag").startsWith("tag"))._1 == 5, "no sound inversion → keep all")
  }

  test("write-time expectations: fail aborts untouched, drop records its audit count") {
    import spark.implicits._
    import ManifestTable.Expectation
    val t = freshTable()
    val df = Seq((1L, 50L), (2L, 5L), (3L, 200L), (4L, 8L)).toDF("id", "chars")
    // a violated FAIL contract aborts before any commit
    val ex = intercept[IllegalArgumentException](
      ManifestTable.write(spark, df, t, expectations = Seq(
        Expectation("long_enough", col("chars") >= 10L))))
    assert(ex.getMessage.contains("long_enough") && ex.getMessage.contains("2 rows"))
    assert(ManifestTable.currentVersion(spark, t) == 0L, "no commit on abort")
    // DROP quarantines violators and records the count in the manifest
    ManifestTable.write(spark, df, t, expectations = Seq(
      Expectation("id_present", col("id").isNotNull),
      Expectation("long_enough", col("chars") >= 10L, Expectation.Drop)))
    assert(ManifestTable.read(spark, t).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val q = ManifestTable.history(spark, t).orderBy("version")
      .collect().last.getString(6)
    assert(q.contains("\"long_enough\":2") && q.contains("\"id_present\":0"),
      s"quality audit missing from manifest: $q")
    // a NULL predicate counts as a violation (contract semantics)
    val t2 = freshTable()
    val withNull = Seq((1L, java.lang.Long.valueOf(50L)),
      (2L, null: java.lang.Long)).toDF("id", "chars")
    ManifestTable.write(spark, withNull, t2, expectations = Seq(
      Expectation("long_enough", col("chars") >= 10L, Expectation.Drop)))
    assert(ManifestTable.read(spark, t2).count() == 1)
  }

  test("timestamp and date statistics prune range predicates") {
    import spark.implicits._
    val t = freshTable()
    // 4 range-localized files over 96 hourly timestamps + their dates
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val rows = (0 until 96).map { h =>
      val inst = base.plusSeconds(h * 3600L)
      // derive the DATE in UTC explicitly: new java.sql.Date(millis)
      // renders in the JVM's zone and would shift the calendar day on
      // a non-UTC machine, breaking the assertions below
      (h.toLong, java.sql.Timestamp.from(inst), java.sql.Date.valueOf(
        java.time.LocalDate.ofInstant(inst, java.time.ZoneOffset.UTC)))
    }
    // stats require TIMESTAMP(MICROS) on disk (INT96 carries no
    // comparable footer statistics — DataSkipping skips it by design)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try ManifestTable.write(spark, rows.toDF("id", "ts", "d")
      .repartitionByRange(4, col("ts")), t)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val cut = java.sql.Timestamp.from(base.plusSeconds(30L * 3600))
    val (kept, total) = ManifestTable.skippingReport(spark, t,
      col("ts") < lit(cut))
    assert(total == 4 && kept == 2, s"ts range must prune: $kept/$total")
    assert(ManifestTable.readWhere(spark, t, col("ts") < lit(cut)).count() == 30)
    // DATE stats (int32 days) against a date literal
    val dcut = java.sql.Date.valueOf("2024-03-02")
    val (kd, _) = ManifestTable.skippingReport(spark, t, col("d") < lit(dcut))
    assert(kd < total, s"date predicate must prune: $kd/$total")
    assert(ManifestTable.readWhere(spark, t, col("d") < lit(dcut)).count() == 24)
  }

  test("delete retries through a concurrent append without losing either") {
    import spark.implicits._
    val t = rangedTable()
    // an append races the delete's read-rewrite-commit window; the
    // delete must lose the version CAS and retry against the advanced
    // state, keeping BOTH effects
    val appender = new Thread(() => {
      // append THROWS when it loses the version CAS (the documented
      // optimistic contract: re-read and retry is the caller's loop) —
      // the racing thread must retry like a real caller or the test
      // flakes whenever the delete wins the contested version
      var done = false
      while (!done)
        try {
          ManifestTable.append(spark,
            (500 until 520).map(i => (i.toLong, "late", 0))
              .toDF("id", "tag", "bucket").coalesce(1), t)
          done = true
        } catch { case _: java.io.IOException => () } // lost the race
    })
    appender.start()
    ManifestTable.delete(spark, t, col("id") < 20L)
    appender.join()
    val r = ManifestTable.read(spark, t)
    assert(r.filter(col("id") < 20L).count() == 0, "delete effect lost")
    assert(r.filter(col("tag") === "late").count() == 20, "append effect lost")
    assert(r.count() == 100)
  }

  test("metadata-only columnBounds: exact extremes, absent when unknowable") {
    import spark.implicits._
    val t = rangedTable()
    assert(ManifestTable.columnBounds(spark, t, "id").contains((0L, 99L)))
    assert(ManifestTable.columnBounds(spark, t, "tag")
      .contains(("tag0", "tag6")))
    assert(ManifestTable.columnBounds(spark, t, "no_such_col").isEmpty)
    // all-null files contribute no bound; a fully-null column is None
    val t2 = freshTable()
    ManifestTable.write(spark,
      Seq((1L, null: java.lang.Long), (2L, null: java.lang.Long))
        .toDF("id", "v").coalesce(1), t2)
    assert(ManifestTable.columnBounds(spark, t2, "v").isEmpty)
    assert(ManifestTable.columnBounds(spark, t2, "id").contains((1L, 2L)))
    // a file with an unknown range makes the answer absent, never wrong
    forgetRanges(t)
    assert(ManifestTable.columnBounds(spark, t, "id").isEmpty)
  }

  test("columnBounds on numeric partition columns are typed, not lexicographic") {
    import spark.implicits._
    val t = freshTable()
    // 13 partition values 0..12: a lexicographic merge of the dir
    // strings would answer ("0", "9") — the typed answer is (0, 12)
    val df = (0 until 130).map(i => (i.toLong, i % 13)).toDF("id", "part")
    ManifestTable.write(spark, df, t, partitionCols = Seq("part"))
    assert(ManifestTable.columnBounds(spark, t, "part").contains((0L, 12L)))
    assert(ManifestTable.columnBounds(spark, t, "id").contains((0L, 129L)))
    // a STRING partition column stays lexicographic (which IS exact)
    val t2 = freshTable()
    ManifestTable.write(spark,
      Seq((1L, "apple"), (2L, "zebra")).toDF("id", "cat"), t2,
      partitionCols = Seq("cat"))
    assert(ManifestTable.columnBounds(spark, t2, "cat")
      .contains(("apple", "zebra")))
  }

  test("write() replaces the partition layout like it replaces the schema") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "part"), t,
      partitionCols = Seq("part"))
    // full replace with a frame that LACKS the partition column and no
    // partitionCols: legal (un-partitions the table), must not throw
    ManifestTable.write(spark,
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "name"), t)
    val scan = ManifestTable.scan(spark, t)
    assert(scan.columns.toSet == Set("id", "name"))
    assert(scan.count() == 10)
    // appends now follow the NEW (flat) recorded layout
    ManifestTable.append(spark,
      Seq((100L, "x")).toDF("id", "name").coalesce(1), t)
    assert(ManifestTable.read(spark, t).count() == 11)
    assert(ManifestTable.currentFiles(spark, t).forall(!_.contains("=")),
      "append after an un-partitioning replace must be flat")
  }

  test("history and metadata-only rowCount reflect the commit log") {
    import spark.implicits._
    val t = rangedTable()                                    // v1 replace
    ManifestTable.delete(spark, t, col("id") < 20L)          // v2 rewrite
    ManifestTable.append(spark,
      Seq((500L, "n", 0)).toDF("id", "tag", "bucket").coalesce(1), t) // v3
    val h = ManifestTable.history(spark, t).orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getLong(4)))
    assert(h.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, "replace"), (2L, "rewrite"), (3L, "append")))
    assert(h(0)._5 == 100L && h(1)._4 == 1 && h(2)._5 == 1L)
    // exact count from metadata alone == the scanned count
    assert(ManifestTable.rowCount(spark, t) == 81L)
    assert(ManifestTable.read(spark, t).count() == 81L)
    assert(ManifestTable.rowCount(spark, t, version = 1) == 100L)
  }

  test("native FileIndex scan: a plain .filter prunes files at scan planning") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = rangedTable()
    val df = ManifestTable.scan(spark, t)
    val pred = col("id") >= 25L && col("id") < 45L
    val filtered = df.filter(pred)
    // correctness first
    assert(filtered.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (25L until 45L))
    // then the scan itself: Catalyst pushed the predicate into ONE
    // FileSourceScan whose index kept only the 2 overlapping files
    val scans = filtered.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, "native scan must plan as a single FileScan")
    val planned = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.size).sum
    assert(planned == 2, s"expected 2 files after index pruning, got $planned")
    // and the predicate still reaches parquet for row-group pruning
    assert(scans.head.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      s"missing parquet pushdown: ${scans.head.metadata("PushedFilters")}")
    // unfiltered scan sees everything
    assert(ManifestTable.scan(spark, t).count() == 100)
  }

  test("native scan of a partitioned table: typed partition columns, joint pruning") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    val df = (0 until 90).map(i => (i.toLong, i % 3)).toDF("id", "part")
    ManifestTable.write(spark,
      df.repartitionByRange(3, col("id")), t, partitionCols = Seq("part"))
    val scan = ManifestTable.scan(spark, t)
    assert(scan.schema("part").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(scan.filter(col("part") === 1).count() == 30)
    // partition predicate AND data-range predicate prune jointly
    val q = scan.filter(col("part") === 1 && col("id") < 30L)
    assert(q.count() == 10)
    val s = q.queryExecution.sparkPlan.collect {
      case x: FileSourceScanExec => x }.head
    val planned = s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
    val total = ManifestTable.currentFiles(spark, t).size
    assert(planned < total,
      s"joint partition+stats pruning must drop files: $planned/$total")
  }

  test("schema-on-commit: type conflicts abort before commit; add-column evolves") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      Seq((1L, "a")).toDF("id", "tag").coalesce(1), t)
    assert(ManifestTable.tableSchema(spark, t).map(_.fieldNames.toSeq)
      .contains(Seq("id", "tag")))
    // same column, different type: the append must throw, naming the
    // column, and leave the table untouched
    val ex = intercept[IllegalArgumentException](
      ManifestTable.append(spark,
        Seq(("2", "b")).toDF("id", "tag").coalesce(1), t))
    assert(ex.getMessage.contains("'id'"))
    assert(ManifestTable.currentVersion(spark, t) == 1L)
    assert(ManifestTable.read(spark, t).count() == 1)
    // add-column evolution: accepted AND recorded
    ManifestTable.append(spark,
      Seq((3L, "c", 0.5)).toDF("id", "tag", "score").coalesce(1), t)
    assert(ManifestTable.tableSchema(spark, t).map(_.fieldNames.toSeq)
      .contains(Seq("id", "tag", "score")))
    // merge enforces the same contract
    val ex2 = intercept[IllegalArgumentException](
      ManifestTable.merge(spark,
        Seq(("3", "x", 0.9)).toDF("id", "tag", "score"), t, Seq("id")))
    assert(ex2.getMessage.contains("'id'"))
    // a type CHANGE is a rewrite: write() replaces the recorded schema
    ManifestTable.write(spark,
      Seq(("k1", "z")).toDF("id", "tag").coalesce(1), t)
    assert(ManifestTable.tableSchema(spark, t).map(_.apply("id").dataType.sql)
      .contains("STRING"))
  }

  test("native scan reads the recorded schema (no footer merge) and stays correct") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1), t)
    ManifestTable.append(spark,
      Seq((3L, "c", 7.5)).toDF("id", "tag", "score").coalesce(1), t)
    val scan = ManifestTable.scan(spark, t)
    assert(scan.schema.fieldNames.toSeq == Seq("id", "tag", "score"),
      "scan schema must equal the recorded (evolved) schema in order")
    assert(scan.filter(col("score").isNotNull).count() == 1)
  }

  test("partition filters on the native scan are EXACT, not best-effort") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "part")
    ManifestTable.write(spark, df, t, partitionCols = Seq("part"))
    val scan = ManifestTable.scan(spark, t)
    // a shape the stats walk cannot prove (modulus): Catalyst removes
    // the partition-only predicate from the post-scan Filter, so the
    // index MUST evaluate it exactly or wrong rows come back
    assert(scan.filter(pmod(col("part"), lit(2)) === 0).count() == 20)
    assert(scan.filter(pmod(col("part"), lit(2)) === 0)
      .select("part").distinct().collect().map(_.getInt(0)).toSet == Set(0, 2))
    // files with no column ranges (partition ranges included) still
    // partition-filter exactly
    val t2 = freshTable()
    ManifestTable.write(spark, df, t2, partitionCols = Seq("part"))
    forgetRanges(t2)
    assert(ManifestTable.fileStats(spark, t2).values.forall(_.cols.isEmpty))
    assert(ManifestTable.scan(spark, t2).filter(col("part") === 1).count() == 10)
  }

  test("append without partitionCols inherits the recorded physical layout") {
    import spark.implicits._
    val t = freshTable()
    val df = (0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "part")
    ManifestTable.write(spark, df, t, partitionCols = Seq("part"))
    // the caller omits partitionCols: the sticky layout must be
    // PHYSICAL too, or the manifest metadata contradicts the paths
    // and scan() reads the appended rows' partition column as null
    ManifestTable.append(spark,
      (100 until 106).map(i => (i.toLong, i % 3)).toDF("id", "part"), t)
    val appended = ManifestTable.currentFiles(spark, t)
      .filter(_.startsWith("data/s2-"))
    assert(appended.nonEmpty && appended.forall(_.contains("part=")),
      s"appended files must keep the hive layout: $appended")
    val scanned = ManifestTable.scan(spark, t).filter(col("id") >= 100L)
    assert(scanned.count() == 6)
    assert(scanned.filter(col("part").isNull).count() == 0,
      "appended rows lost their partition values")
  }

  test("dynamic partition pruning composes with the native scan") {
    import spark.implicits._
    val t = freshTable()
    val fact = (0 until 1000).map(i => (i.toLong, i % 10)).toDF("id", "part")
    ManifestTable.write(spark, fact, t, partitionCols = Seq("part"))
    // the dim must be a FILE relation: DPP's planner heuristics skip
    // in-memory LocalRelations (probed empirically — the control
    // experiment with a LocalRelation dim never plans the subquery)
    val dimDir = Files.createTempDirectory("graft_dpp_dim").resolve("d").toString
    (0 until 10).map(i => (i, if (i < 2) "x" else "y"))
      .toDF("part", "flag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
    try {
      val q = ManifestTable.scan(spark, t)
        .join(broadcast(dim.filter(col("flag") === "x")), Seq("part"))
      assert(q.count() == 200)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected a DPP subquery on the native scan:\n${plan.take(2000)}")
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    }
  }

  test("native scan surfaces add-column evolution as nulls") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1), t)
    ManifestTable.append(spark,
      Seq((3L, "c", 7.5)).toDF("id", "tag", "score").coalesce(1), t)
    val scan = ManifestTable.scan(spark, t)
    assert(scan.columns.toSet == Set("id", "tag", "score"))
    val rows = scan.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(2).getDouble(2) == 7.5)
  }

  test("3-dimensional z-order clustering makes every dimension prunable") {
    import spark.implicits._
    val t = freshTable()
    // shuffled 16³ grid: no dimension has locality before clustering
    val rnd = new scala.util.Random(11)
    val pts = rnd.shuffle((for {
      x <- 0 until 16; y <- 0 until 16; z <- 0 until 16
    } yield (x.toLong, y.toLong, z.toLong)).toVector)
    ManifestTable.write(spark, pts.toDF("x", "y", "z").repartition(8), t)
    assert(ManifestTable.skippingReport(spark, t, col("x") === 3L)._1 == 8)
    // force exactly EIGHT output files (byte target = ceil(total/8)):
    // the lowest-interleaved dimension (x) only becomes prunable on
    // octant-aligned z-range splits — a byte-derived 6-way split leaves
    // every file spanning the full x range (observed under suite-wide
    // compression variance), which is the layout truth, not a bug
    val hp = new org.apache.hadoop.fs.Path(t)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = ManifestTable.currentFiles(spark, t)
      .map(f => hfs.getFileStatus(new org.apache.hadoop.fs.Path(hp, f)).getLen)
      .sum
    ManifestTable.compact(spark, t, targetFileBytes = (totalBytes + 7) / 8,
      clusterBy = Seq(Sinks.zOrderKey3(col("x"), col("y"), col("z"))))
    for (c <- Seq("x", "y", "z")) {
      val (k, n) = ManifestTable.skippingReport(spark, t, col(c) === 3L)
      assert(k < n, s"$c must prune after 3-d z-order: $k/$n")
      assert(ManifestTable.readWhere(spark, t, col(c) === 3L).count() == 256)
    }
    assert(ManifestTable.read(spark, t).count() == 4096)
  }

  test("at scale: 120k rows / 30 files — skipping ratios, delta sizes, narrow rewrites") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    // 120k rows in 24 range-localized files (ids [0, 120000), 5k/file),
    // then a 30k-row append as 6 more — a non-toy file census
    // (VERDICT r11 next-round #8): ratio claims below are measured,
    // not asserted on 5-file toys.
    val base = spark.range(0L, 120000L).toDF("id")
      .withColumn("bucket", (col("id") % 97).cast("int"))
      .withColumn("payload", concat(lit("row-"), col("id")))
    ManifestTable.write(spark, base.repartitionByRange(24, col("id")), t)
    val extra = spark.range(120000L, 150000L).toDF("id")
      .withColumn("bucket", (col("id") % 97).cast("int"))
      .withColumn("payload", concat(lit("row-"), col("id")))
    ManifestTable.append(spark, extra.repartitionByRange(6, col("id")), t)
    assert(ManifestTable.currentFiles(spark, t).size == 30)
    // the append committed an O(batch) delta: 6 adds, zero removes
    val h = ManifestTable.history(spark, t)
      .filter(col("version") === 2).head()
    assert(h.getString(1) == "append" && h.getInt(2) == 6 && h.getInt(3) == 0)
    // a one-file band keeps ≤2 of 30 files: ≥93% of the census skipped
    val pred = col("id") >= 50000L && col("id") < 52000L
    val (kept, total) = ManifestTable.skippingReport(spark, t, pred)
    assert(total == 30 && kept <= 2,
      s"expected >= 93% skipped at 30 files, kept $kept/$total")
    assert(ManifestTable.readWhere(spark, t, pred).count() == 2000)
    // the native scan plans the same narrow file set
    val q = ManifestTable.scan(spark, t).filter(pred)
    val s = q.queryExecution.sparkPlan.collect {
      case x: FileSourceScanExec => x }.head
    val planned = s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
    assert(planned == kept, s"scan planned $planned, skipping kept $kept")
    // DV point-band delete: zero of the 30 files rewritten, count exact
    ManifestTable.deleteVectors(spark, t,
      col("id") >= 70000L && col("id") < 70100L)
    assert(ManifestTable.currentFiles(spark, t).size == 30)
    assert(ManifestTable.rowCount(spark, t) == 149900L)
    // a 100-key merge bounded to one file's range rewrites ≤2 of 30
    val before = ManifestTable.currentFiles(spark, t).toSet
    val src = spark.range(30000L, 30100L).toDF("id")
      .withColumn("bucket", lit(999))
      .withColumn("payload", lit("merged"))
    ManifestTable.merge(spark, src, t, Seq("id"))
    val after = ManifestTable.currentFiles(spark, t).toSet
    assert(before.intersect(after).size >= 28,
      s"bounded merge must rewrite <= 2 of 30 files, kept ${before.intersect(after).size}")
    assert(ManifestTable.read(spark, t).count() == 149900L)
    assert(ManifestTable.read(spark, t)
      .filter(col("payload") === "merged").count() == 100)
  }

  test("at scale: CDC mergeClauses rewrites only the clause-affected files") {
    import graft.sinks.ManifestTable.{BySourceClause, MatchedClause, NotMatchedClause}
    import spark.implicits._
    val t = freshTable()
    // 120k rows in 24 range-localized files (5k ids per file)
    val base = spark.range(0L, 120000L).toDF("id")
      .withColumn("bucket", (col("id") % 97).cast("int"))
      .withColumn("payload", concat(lit("row-"), col("id")))
    ManifestTable.write(spark, base.repartitionByRange(24, col("id")), t)
    val before = ManifestTable.currentFiles(spark, t).toSet
    assert(before.size == 24)
    val statsBefore = ManifestTable.fileStats(spark, t)
    // CDC feed: one 100-key band (delete evens, update odds) plus 50
    // brand-new keys to insert
    val src = spark.range(30000L, 30100L).toDF("id")
      .withColumn("op", when(col("id") % 2 === 0, "D").otherwise("U"))
      .unionByName(spark.range(200000L, 200050L).toDF("id")
        .withColumn("op", lit("I")))
    ManifestTable.mergeClauses(spark, src, t, Seq("id" -> "id"),
      matched = Seq(
        MatchedClause(Some(col("s.op") === "D"), None),
        MatchedClause(None, Some(Map("bucket" -> lit(777))))),
      notMatched = Seq(NotMatchedClause(Some(col("s.op") === "I"),
        Map("id" -> col("s.id"), "bucket" -> lit(1),
          "payload" -> lit("ins")))),
      // a stats-prunable by-source band: zero source keys live there,
      // so every row in it updates
      bySource = Seq(BySourceClause(
        Some(col("t.id") >= 110000L && col("t.id") < 112000L),
        Some(Map("bucket" -> lit(-1))))))
    // EXACTLY the files whose id-range overlaps a clause band may be
    // rewritten — computed from the manifest's own per-file stats
    // rather than assumed (repartitionByRange samples its boundaries
    // with an RDD-id-dependent seed, so a band can straddle two files
    // depending on what ran before in the shared session; the
    // narrowing contract is layout-relative, not "exactly 2")
    def overlaps(f: String, lo: Long, hi: Long): Boolean = {
      val cs = statsBefore(f).cols("id")
      val mn = cs.min.get.asInstanceOf[Long]
      val mx = cs.max.get.asInstanceOf[Long]
      mx >= lo && mn < hi
    }
    val affected = before.filter(f =>
      overlaps(f, 30000L, 30100L) || overlaps(f, 110000L, 112000L))
    assert(affected.nonEmpty && affected.size <= 4,
      s"the two clause bands span at most 2 files each: $affected")
    val after = ManifestTable.currentFiles(spark, t).toSet
    assert(before.intersect(after) == before -- affected,
      s"CDC merge must rewrite exactly the ${affected.size} " +
        s"band-overlapping files, kept ${before.intersect(after).size} of 24")
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 120000L, "50 deletes + 50 inserts balance")
    assert(r.filter(col("bucket") === 777).count() == 50L,
      "matched updates (odd band keys)")
    assert(r.filter(col("bucket") === -1).count() == 2000L,
      "by-source band updated in full")
    assert(r.filter(col("payload") === "ins").count() == 50L,
      "conditional inserts landed")
    assert(r.filter(col("id") >= 30000L && col("id") < 30100L)
      .count() == 50L, "matched deletes removed the even band keys")
  }

  test("startsWith pruning survives astral-plane bounds (byte-prefix compare)") {
    import spark.implicits._
    val t = freshTable()
    // max begins with an astral char: UTF-16 take(1) would split the
    // surrogate pair into 0x3F and wrongly prune the 'a' prefix below
    ManifestTable.write(spark,
      Seq((1L, "apple"), (2L, "🍏x")).toDF("id", "s").coalesce(1), t)
    val hit = ManifestTable.readWhere(spark, t, col("s").startsWith("a"))
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("apple"),
      "file containing a matching row must not be pruned")
    // and a genuinely impossible prefix still prunes: every row is
    // >= "apple", and "Z" sorts below the min's first byte
    val (kept, total) =
      ManifestTable.skippingReport(spark, t, col("s").startsWith("Z"))
    assert(total == 1 && kept == 0,
      s"prefix below the file's min must prune: $kept/$total")
    assert(ManifestTable.readWhere(spark, t, col("s").startsWith("Z"))
      .count() == 0)
  }

  test("columnBounds on date/timestamp/boolean partition columns are typed") {
    import spark.implicits._
    val t = freshTable()
    val df = Seq(
      (1L, java.sql.Date.valueOf("2026-01-03"),
        java.sql.Timestamp.valueOf("2026-01-03 06:30:00"), true),
      (2L, java.sql.Date.valueOf("2025-12-30"),
        java.sql.Timestamp.valueOf("2025-12-30 23:59:59"), false))
      .toDF("id", "dt", "ts", "ok")
    ManifestTable.write(spark, df, t, partitionCols = Seq("dt", "ts", "ok"))
    // exact-or-absent: the bound must be the Catalyst-canonical scalar
    // (days / micros / boolean), never the raw partition-dir string
    val dt = ManifestTable.columnBounds(spark, t, "dt")
    assert(dt.contains((
      java.time.LocalDate.parse("2025-12-30").toEpochDay,
      java.time.LocalDate.parse("2026-01-03").toEpochDay)), s"got $dt")
    val tsLo = java.time.Instant.parse("2025-12-30T23:59:59Z")
    val tsHi = java.time.Instant.parse("2026-01-03T06:30:00Z")
    val ts = ManifestTable.columnBounds(spark, t, "ts")
    assert(ts.contains((tsLo.getEpochSecond * 1000000L,
      tsHi.getEpochSecond * 1000000L)), s"got $ts")
    assert(ManifestTable.columnBounds(spark, t, "ok")
      .contains((false, true)))
  }

  test("native scan types a date partition column and prunes on it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = freshTable()
    val df = (0 until 30).map(i =>
      (i.toLong, java.sql.Date.valueOf(s"2026-08-${10 + i % 3}")))
      .toDF("id", "dt")
    ManifestTable.write(spark, df, t, partitionCols = Seq("dt"))
    val scan = ManifestTable.scan(spark, t)
    assert(scan.schema("dt").dataType ==
      org.apache.spark.sql.types.DateType,
      "recorded DateType must survive into the native scan schema")
    // both read paths agree on the schema (ADVICE r11)
    assert(ManifestTable.read(spark, t).schema("dt").dataType ==
      scan.schema("dt").dataType)
    val q = scan.filter(col("dt") === lit(java.sql.Date.valueOf("2026-08-11")))
    assert(q.count() == 10)
    val s = q.queryExecution.sparkPlan.collect {
      case x: FileSourceScanExec => x }.head
    val planned = s.relation.location
      .listFiles(s.partitionFilters, s.dataFilters).map(_.files.size).sum
    val total = ManifestTable.currentFiles(spark, t).size
    assert(planned < total,
      s"typed date partition predicate must prune files: $planned/$total")
  }

  test("merge rejects duplicate non-null source keys; null keys may repeat") {
    import spark.implicits._
    val t = freshTable()
    ManifestTable.write(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), t)
    val dup = Seq((5L, "x"), (5L, "y")).toDF("id", "tag")
    val e = intercept[IllegalArgumentException](
      ManifestTable.merge(spark, dup, t, Seq("id")))
    assert(e.getMessage.contains("duplicate"))
    assert(ManifestTable.read(spark, t).count() == 2, "table untouched")
    // null keys never match a target row: repeating them is legal SQL
    val nulls = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"),
      (Option(7L), "z")).toDF("id", "tag")
    ManifestTable.merge(spark, nulls, t, Seq("id"))
    assert(ManifestTable.read(spark, t).count() == 5)
  }

  test("merge key guard: driver key set, key pass and aggregate agree") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.StringType
    // rows the key set and the key pass see: a local source, a parquet one
    def viaParquet(df: DataFrame): DataFrame = {
      val f = Files.createTempDirectory("graft_guard").resolve("s").toString
      df.write.parquet(f)
      spark.read.parquet(f)
    }
    // more non-null keys than the driver holds, none of them in a target
    def filler(like: DataFrame, keys: Seq[String]): DataFrame =
      spark.range(ManifestTable.DriverKeyBound + 1L).select(like.schema.fields.map(f =>
        (if (!keys.contains(f.name)) lit(null)
          else if (f.dataType == StringType) concat(lit("~"), col("id"))
          else col("id") + 1000000L).cast(f.dataType).as(f.name)): _*)
    // the table's rows after the merge, or the merge's error
    def merged(target: DataFrame, source: DataFrame,
        keys: Seq[String]): Either[String, Seq[String]] = {
      val t = freshTable()
      ManifestTable.write(spark, target, t)
      try {
        ManifestTable.merge(spark, source, t, keys)
        Right(ManifestTable.read(spark, t).collect().map(_.toString).sorted.toSeq)
      } catch {
        case e: IllegalArgumentException =>
          assert(ManifestTable.read(spark, t).count() == target.count(), "table untouched")
          Left(e.getMessage)
      }
    }
    val cases: Seq[(String, DataFrame, DataFrame, Seq[String], Boolean)] = Seq(
      ("duplicate keys", Seq((1L, "a"), (2L, "b")).toDF("id", "tag"),
        Seq((5L, "x"), (5L, "y"), (1L, "z")).toDF("id", "tag"), Seq("id"), true),
      ("repeated partially-null composite keys",
        Seq((Option(1L), Option("x"), "t1"), (Option(2L), None, "t2"))
          .toDF("a", "b", "v"),
        Seq((Option(1L), Option("x"), "s1"), (None, Option("y"), "s2"),
          (None, Option("y"), "s3"), (Option(2L), None, "s4"),
          (Option(2L), None, "s5")).toDF("a", "b", "v"), Seq("a", "b"), true),
      ("an all-null key column", Seq((1L, Option("x"), "t1")).toDF("a", "b", "v"),
        Seq((1L, Option.empty[String], "s1"), (1L, None, "s2"))
          .toDF("a", "b", "v"), Seq("a", "b"), true),
      ("string keys", Seq(("a", 1), ("b", 2)).toDF("k", "v"),
        Seq(("b", 20), ("c", 30)).toDF("k", "v"), Seq("k"), true),
      ("double keys -0.0 and 0.0", Seq((1.0, "t")).toDF("k", "v"),
        Seq((0.0, "p"), (-0.0, "n")).toDF("k", "v"), Seq("k"), false),
      // the key set widens the source's int keys to the table's longs
      ("int keys into long keys", Seq((1L, 2L, "t1"), (2L, 2L, "t2")).toDF("a", "b", "v"),
        Seq((2, 2L, "s2"), (3, 2L, "s3")).toDF("a", "b", "v"), Seq("a", "b"), true))
    val expected = Map(
      "repeated partially-null composite keys" -> 6L,
      "an all-null key column" -> 3L,
      "string keys" -> 3L,
      "int keys into long keys" -> 3L)
    cases.foreach { case (name, target, source, keys, driver) =>
      val over = source.unionByName(filler(source, keys))
      def keysOf(df: DataFrame) = ManifestTable.sourceKeys(df.select(keys.map(col): _*))
      assert(keysOf(source).isDefined == driver, name)
      assert(keysOf(over).isEmpty, s"$name: over the bound")
      val local = merged(target, source, keys)
      val pass = merged(target, viaParquet(source), keys)
      val agg = merged(target, over, keys)
      assert(local == pass, s"$name: key set and key pass differ")
      (local, agg) match {
        case (Left(a), Left(b)) =>
          Seq(a, b).foreach(m => assert(m.contains(
            s"merge source has duplicate values of key (${keys.mkString(", ")})"), m))
          assert(expected.get(name).isEmpty, s"$name: rejected")
        case (Right(a), Right(b)) =>
          val fill = filler(source, keys).collect().map(_.toString).toSet
          assert(a == b.filterNot(fill), s"$name: key set and aggregate rows differ")
          assert(expected.get(name).contains(a.size.toLong), s"$name: ${a.mkString(" ")}")
        case _ => fail(s"$name: key set $local, aggregate $agg")
      }
    }
  }

  test("composite-key merge prunes files from per-column source bounds") {
    import spark.implicits._
    val t = rangedTable() // 5 files, file k holds ids [20k, 20k+20)
    val before = ManifestTable.currentFiles(spark, t)
    // both keys bounded: id ∈ [85, 99] confines matches to the last file
    val source = Seq((85L, "U", 1), (99L, "U", 0)).toDF("id", "tag", "bucket")
    ManifestTable.merge(spark, source, t, Seq("id", "bucket"))
    val after = ManifestTable.currentFiles(spark, t)
    assert(after.toSet.intersect(before.toSet).size == 4,
      "multi-column key merge must rewrite only the range-overlapping file")
    assert(ManifestTable.read(spark, t).count() == 100)
    assert(ManifestTable.read(spark, t)
      .filter(col("tag") === "U").count() == 2)
  }

  test("update rewrites only the files containing matches; types enforced") {
    import spark.implicits._
    val t = rangedTable()
    val before = ManifestTable.currentFiles(spark, t)
    // matches confined to [80, 100): only the last file rewrites
    ManifestTable.update(spark, t,
      col("id") >= 90L, Map("tag" -> lit("HOT")))
    val after = ManifestTable.currentFiles(spark, t)
    assert(after.toSet.intersect(before.toSet).size == 4,
      "update must rewrite only the range-overlapping file")
    assert(ManifestTable.read(spark, t).count() == 100)
    assert(ManifestTable.read(spark, t)
      .filter(col("tag") === "HOT").count() == 10)
    // non-matching rows in the rewritten file pass through untouched
    assert(ManifestTable.read(spark, t)
      .filter(col("id") >= 80L && col("id") < 90L && col("tag") =!= "HOT")
      .count() == 10)
    // no match: version does not advance
    val v = ManifestTable.currentVersion(spark, t)
    assert(ManifestTable.update(spark, t, col("id") > 1000L,
      Map("tag" -> lit("X"))) == v)
    // a type-changing SET aborts before any commit
    assertThrows[IllegalArgumentException](
      ManifestTable.update(spark, t, col("id") === 1L,
        Map("id" -> lit("not-a-long"))))
    // an unknown SET column aborts loudly
    assertThrows[IllegalArgumentException](
      ManifestTable.update(spark, t, col("id") === 1L,
        Map("nope" -> lit(1))))
    assert(ManifestTable.currentVersion(spark, t) == v, "aborts left no commit")
    // NULL-predicate rows are untouched (SQL UPDATE semantics)
    val tn = freshTable()
    ManifestTable.write(spark,
      Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("id", "tag"), tn)
    ManifestTable.update(spark, tn, col("id") === 1L,
      Map("tag" -> lit("u")))
    assert(ManifestTable.read(spark, tn).orderBy("tag")
      .collect().map(_.getString(1)).toSeq == Seq("b", "u"))
  }

  test("merge prunes candidate files by source key range") {
    import spark.implicits._
    val t = rangedTable()
    // keys confined to [80, 100): only the last file can hold matches.
    // Verify narrowness observably: all files but one survive by identity.
    val before = ManifestTable.currentFiles(spark, t)
    val source = Seq((85L, "U", 1), (99L, "U", 1)).toDF("id", "tag", "bucket")
    ManifestTable.merge(spark, source, t, Seq("id"))
    val after = ManifestTable.currentFiles(spark, t)
    assert(after.toSet.intersect(before.toSet).size == 4)
    assert(ManifestTable.read(spark, t).count() == 100)
    assert(ManifestTable.read(spark, t)
      .filter(col("tag") === "U").count() == 2)
  }

  test("bloom filters prune point lookups that range statistics cannot") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // a HASHED key: every file's min/max spans ~the whole key domain,
    // so range pruning keeps all files — exactly the shape the bloom
    // tier exists for (VERDICT r13 next-round #5)
    def corpus(n: Int) = spark.range(n).toDF("seq")
      .withColumn("key", md5(col("seq").cast("string")))
      .select(col("seq"), col("key"))
    val schema = StructType(Seq(
      StructField("seq", LongType), StructField("key", StringType)))
    spark.conf.set("spark.graft.bloom.expectedItems", "5000")
    try {
      // WITH the declared bloom column (set at CREATE like any sticky
      // property; SQL: TBLPROPERTIES ('graft.bloom.columns'='key'))
      val t = freshTable()
      ManifestTable.create(spark, t, schema,
        props = Map(ManifestTable.BloomColumnsProp -> "key"))
      ManifestTable.append(spark, corpus(20000).repartition(20), t)
      val probe = ManifestTable.read(spark, t)
        .filter(col("seq") === 12345L).head().getString(1)
      val (kept, total) = ManifestTable.skippingReport(spark, t,
        col("key") === probe)
      assert(total == 20)
      assert(kept <= 2, s"bloom must prune >=90% of files, kept $kept/$total")
      // results identical to the unpruned scan
      val viaSkip = ManifestTable.readWhere(spark, t, col("key") === probe)
        .collect().map(_.getLong(0)).toSeq
      assert(viaSkip == Seq(12345L))
      // an absent key prunes (almost) everything and returns nothing
      val (keptAbsent, _) = ManifestTable.skippingReport(spark, t,
        col("key") === "definitely-not-a-md5-value")
      assert(keptAbsent <= 1, s"absent key kept $keptAbsent")
      assert(ManifestTable.readWhere(spark, t,
        col("key") === "definitely-not-a-md5-value").count() == 0)
      // IN-lists prune to the union of their members' files
      val probe2 = ManifestTable.read(spark, t)
        .filter(col("seq") === 777L).head().getString(1)
      val (keptIn, _) = ManifestTable.skippingReport(spark, t,
        col("key").isin(probe, probe2))
      assert(keptIn <= 4, s"IN-list kept $keptIn")
      assert(ManifestTable.readWhere(spark, t,
        col("key").isin(probe, probe2)).count() == 2)
      // disjunctions must NOT bloom-prune (a disjunct proves nothing)
      assert(ManifestTable.readWhere(spark, t,
        col("key") === probe || col("seq") === 1L).count() == 2)
      // compaction rebuilds filters (sticky property): still prunes
      ManifestTable.compact(spark, t, targetFileBytes = 64L << 10)
      val (keptC, totalC) = ManifestTable.skippingReport(spark, t,
        col("key") === probe)
      assert(totalC > 1 && keptC < totalC,
        s"post-compact bloom pruning: $keptC/$totalC")
      assert(ManifestTable.readWhere(spark, t, col("key") === probe)
        .collect().map(_.getLong(0)).toSeq == Seq(12345L))
      // WITHOUT the property: same data, zero bloom pruning
      val t2 = freshTable()
      ManifestTable.write(spark, corpus(20000).repartition(20), t2)
      val (kept2, total2) = ManifestTable.skippingReport(spark, t2,
        col("key") === probe)
      assert(total2 == 20 && kept2 == 20,
        s"no declared bloom columns -> range-only keeps all: $kept2/$total2")
      // the NATIVE COMPOSABLE SCAN prunes through the same tier: a
      // plain .filter on the relation reaches the FileIndex as pushed
      // conjuncts, and the bloom lookup runs at PLANNING time
      import org.apache.spark.sql.execution.FileSourceScanExec
      val q = ManifestTable.scan(spark, t).filter(col("key") === probe)
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(12345L))
      val scanExec = q.queryExecution.sparkPlan.collect {
        case x: FileSourceScanExec => x }.head
      val planned = scanExec.relation.location
        .listFiles(scanExec.partitionFilters, scanExec.dataFilters)
        .map(_.files.size).sum
      assert(planned < totalC,
        s"the SQL-composable scan must bloom-prune at planning: " +
          s"$planned of $totalC (post-compact files)")
    } finally spark.conf.unset("spark.graft.bloom.expectedItems")
  }

  test("bloom pruning on DECIMAL and DATE keys; typed literal rendering") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // DECIMAL point lookup (VERDICT r17 #6): hashed-order decimal key
    // so ranges never prune; the probe literal renders through the
    // same string cast the build side used
    val t = freshTable()
    val schema = StructType(Seq(
      StructField("seq", LongType),
      StructField("amount", DecimalType(12, 2)),
      StructField("d", DateType)))
    ManifestTable.create(spark, t, schema,
      props = Map(ManifestTable.BloomColumnsProp -> "amount,d"))
    val df = spark.range(4000).toDF("seq")
      .withColumn("amount", (conv(substring(md5(col("seq")
        .cast("string")), 1, 7), 16, 10).cast("long") / 100.0)
        .cast(DecimalType(12, 2)))
      .withColumn("d", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        pmod(conv(substring(md5(col("seq").cast("string")), 8, 5), 16, 10)
          .cast("int"), lit(36500))))
    ManifestTable.append(spark, df.repartition(16), t)
    val probe = ManifestTable.read(spark, t)
      .filter(col("seq") === 1234L).head()
    val amt = probe.getDecimal(1)
    val (keptD, totalD) = ManifestTable.skippingReport(spark, t,
      col("amount") === amt)
    assert(totalD == 16)
    assert(keptD <= 3, s"decimal bloom must prune, kept $keptD/$totalD")
    assert(ManifestTable.readWhere(spark, t, col("amount") === amt)
      .collect().map(_.getLong(0)).toSeq == Seq(1234L))
    // DATE equality: the literal is an Int of epoch-days at runtime —
    // it must render as the build side's ISO string, or prune nothing;
    // rendering it as the raw integer would FALSELY prune live files
    val dt = probe.getDate(2)
    assert(ManifestTable.readWhere(spark, t, col("d") === dt)
      .filter(col("seq") === 1234L).count() == 1,
      "a DATE point lookup must never lose rows to bloom pruning")
    val (keptDt, _) = ManifestTable.skippingReport(spark, t,
      col("d") === dt)
    assert(keptDt <= 8, s"date bloom should prune too, kept $keptDt/16")
    // TIMESTAMP point lookups prune through the CANONICAL UTC-micros
    // rendering (VERDICT r18 #4): the build inserts unix_micros, the
    // probe renders the literal's internal micros — zone-independent
    // on both sides, so a probe from a DIFFERENT session zone than
    // the build neither loses rows (false negative) nor stops pruning
    val t2 = freshTable()
    ManifestTable.create(spark, t2, StructType(Seq(
      StructField("seq", LongType), StructField("ts", TimestampType))),
      props = Map(ManifestTable.BloomColumnsProp -> "ts"))
    // hashed-order timestamps so ranges never prune — bloom territory
    val df2 = spark.range(4000).toDF("seq")
      .withColumn("ts", timestamp_seconds(
        conv(substring(md5(col("seq").cast("string")), 1, 7), 16, 10)
          .cast("long")))
    ManifestTable.append(spark, df2.repartition(16), t2)
    val tsProbe = ManifestTable.read(spark, t2)
      .filter(col("seq") === 42L).head().getTimestamp(1)
    val (keptTs, totalTs) = ManifestTable.skippingReport(spark, t2,
      col("ts") === tsProbe)
    assert(totalTs == 16)
    assert(keptTs <= 3, s"timestamp bloom must prune, kept $keptTs/$totalTs")
    assert(ManifestTable.readWhere(spark, t2, col("ts") === tsProbe)
      .collect().map(_.getLong(0)).toSeq == Seq(42L))
    // cross-zone probe: a different session zone must stay exact
    // (the r18 gap was precisely a zone-dependent rendering here)
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try {
      assert(ManifestTable.readWhere(spark, t2, col("ts") === tsProbe)
        .collect().map(_.getLong(0)).toSeq == Seq(42L),
        "a cross-zone timestamp probe must never lose rows")
      val (keptZ, _) = ManifestTable.skippingReport(spark, t2,
        col("ts") === tsProbe)
      assert(keptZ <= 3, s"cross-zone probe must still prune: $keptZ/16")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("replaceWhere: atomic predicate-scoped overwrite, narrow rewrite") {
    import spark.implicits._
    val t = rangedTable() // 100 rows [0,100) in 5 range files of 20
    val before = ManifestTable.currentFiles(spark, t).toSet
    // recompute the [20,40) slice: 10 replacement rows, one commit
    val repl = (20 until 30).map(i => (i.toLong, "R", 9))
      .toDF("id", "tag", "bucket")
    val cond = col("id") >= 20L && col("id") < 40L
    val v = ManifestTable.replaceWhere(spark, repl, t, cond)
    assert(v == 2L)
    val after = ManifestTable.currentFiles(spark, t).toSet
    assert(before.intersect(after).size == 4,
      "only the [20,40) file may be rewritten")
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 90, "100 - 20 replaced + 10 new")
    assert(r.filter(cond).count() == 10)
    assert(r.filter(col("tag") === "R").count() == 10)
    assert(r.filter(col("id") >= 30L && col("id") < 40L).count() == 0,
      "the whole declared slice is replaced, not just colliding ids")
    // ATOMICITY is the point: no intermediate slice-missing version
    // exists — v1 is intact, v2 is the complete swap
    assert(ManifestTable.read(spark, t, version = 1).count() == 100)
    assert(ManifestTable.history(spark, t).orderBy("version").collect()
      .last.getAs[String]("operation") == "replace-where")
    // rows OUTSIDE the declared slice refuse the whole commit
    val e = intercept[IllegalArgumentException](
      ManifestTable.replaceWhere(spark,
        Seq((55L, "X", 0)).toDF("id", "tag", "bucket"), t, cond))
    assert(e.getMessage.contains("declared slice"), s"got: $e")
    assert(ManifestTable.read(spark, t).count() == 90, "refusal = no commit")
    // CDC: the replaced slice arrives as exact deletes + inserts
    ManifestTable.enableChangeFeed(spark, t)
    val vBefore = ManifestTable.currentVersion(spark, t)
    ManifestTable.replaceWhere(spark,
      Seq((95L, "R2", 1)).toDF("id", "tag", "bucket"), t,
      col("id") >= 90L)
    val ch = ManifestTable.rowChanges(spark, t, vBefore)
      .groupBy("_change_type").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ch == Map("delete" -> 10L, "insert" -> 1L), s"got: $ch")
    // empty slice + empty input commits nothing
    val cur = ManifestTable.currentVersion(spark, t)
    assert(ManifestTable.replaceWhere(spark,
      repl.filter(col("id") > 9999L), t, col("id") > 9999L) == cur)
  }

  test("scoped compact (OPTIMIZE WHERE): only matching files rewrite; consumers skip it") {
    import spark.implicits._
    val t = freshTable()
    // partitioned corpus: en gets 6 small files, de 2
    val df = ((0 until 60).map(i => (i.toLong, "en")) ++
      (60 until 80).map(i => (i.toLong, "de")))
      .toDF("id", "lang")
    ManifestTable.write(spark,
      df.repartition(8, col("id")), t, partitionCols = Seq("lang"))
    val before = ManifestTable.currentFiles(spark, t)
    val deBefore = before.filter(_.contains("lang=de")).toSet
    assert(before.count(_.contains("lang=en")) >= 2)
    // a consumer is caught up pre-compaction
    var delivered = -1L
    ManifestTable.consumeChanges(spark, t, "sc") { (d, _, _) =>
      delivered = d.count() }
    assert(delivered == 80)
    // scoped compact: ONLY the en partition's files rewrite
    val st = ManifestTable.compact(spark, t,
      where = Some(col("lang") === "en"))
    val after = ManifestTable.currentFiles(spark, t)
    assert(after.filter(_.contains("lang=de")).toSet == deBefore,
      "out-of-scope files survive BY IDENTITY")
    assert(after.count(_.contains("lang=en")) <
      before.count(_.contains("lang=en")),
      s"in-scope files bin-pack: ${after.size} of ${before.size}")
    assert(st.filesAfter < st.filesBefore)
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 80 && r.filter(col("lang") === "en").count() == 60,
      "scoped compaction is a pure reorganization")
    // dataChange=false: the caught-up consumer sees NOTHING to deliver
    ManifestTable.consumeChanges(spark, t, "sc") { (_, _, _) =>
      fail("a scoped compaction must not redeliver rows") }
    // DV materialization rides the scoped rewrite like the full one
    ManifestTable.deleteVectors(spark, t,
      col("id") < 5L && col("lang") === "en")
    assert(ManifestTable.rowCount(spark, t) == 75L)
    ManifestTable.compact(spark, t, where = Some(col("lang") === "en"))
    assert(!ManifestTable.hasDeletionVectors(spark, t),
      "in-scope DVs materialize through the scoped rewrite")
    assert(ManifestTable.read(spark, t).count() == 75)
    // an already-compact selection (one clean file) commits nothing
    ManifestTable.compact(spark, t, where = Some(col("lang") === "de"))
    assert(ManifestTable.currentFiles(spark, t)
      .count(_.contains("lang=de")) == 1)
    val v = ManifestTable.currentVersion(spark, t)
    ManifestTable.compact(spark, t, where = Some(col("lang") === "de"))
    assert(ManifestTable.currentVersion(spark, t) == v,
      "one clean file in scope = nothing to do, no commit")
  }

  test("vacuum sweeps unreferenced bloom sidecars, keeps referenced ones") {
    import spark.implicits._
    val t = freshTable()
    spark.conf.set("spark.graft.bloom.expectedItems", "2000")
    try {
      ManifestTable.create(spark, t,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.StringType))),
        props = Map(ManifestTable.BloomColumnsProp -> "key"))
      def corpus(lo: Long, hi: Long) = spark.range(lo, hi).toDF("seq")
        .withColumn("key", md5(col("seq").cast("string")))
      ManifestTable.append(spark, corpus(0, 1000).repartition(4), t) // v2
      // overwrite: new files, NEW bloom dir; v2's becomes garbage once
      // v2 leaves retention
      ManifestTable.write(spark, corpus(1000, 3000).repartition(4), t) // v3
      val bloomRoot = new java.io.File(t, "blooms")
      assert(bloomRoot.listFiles().length == 2,
        "append + overwrite each wrote a bloom sidecar dir")
      ManifestTable.vacuum(spark, t, keepVersions = 1, graceMs = 0L)
      assert(bloomRoot.listFiles().length == 1,
        "the superseded commit's bloom dir is swept; the live one stays")
      // the surviving filters still serve lookups
      val probe = ManifestTable.read(spark, t)
        .filter(col("seq") === 2048L).head().getString(1)
      val (kept, total) = ManifestTable.skippingReport(spark, t,
        col("key") === probe)
      assert(total == 4 && kept <= 2, s"post-vacuum bloom prune: $kept/$total")
      assert(ManifestTable.readWhere(spark, t, col("key") === probe)
        .head().getLong(0) == 2048L)
    } finally spark.conf.unset("spark.graft.bloom.expectedItems")
  }
}
