package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable
import java.nio.file.Files

/** Post-commit AUTO-COMPACT (VERDICT r17 #5): with the table property
  * set, append-shaped commits bin-pack accumulated small files inline
  * (dataChange = false), so streaming/micro-append workloads keep a
  * bounded live-file count without an OPTIMIZE operator in the loop.
  */
class AutoCompactSpec extends AnyFunSuite with SparkSuite {
  private def fresh(): String =
    Files.createTempDirectory("graft_autoc").resolve("t").toString

  test("micro-appends keep a bounded file count; rows and history stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = fresh()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    ManifestTable.create(spark, t, schema, props = Map(
      ManifestTable.AutoCompactProp -> "true",
      ManifestTable.AutoCompactMinFilesProp -> "6"))
    // 20 tiny appends of 2 files each: without auto-compact the table
    // would end at 40 live files
    (0 until 20).foreach { k =>
      ManifestTable.append(spark,
        (0L until 10L).map(i => (k * 10L + i, s"v$k-$i"))
          .toDF("id", "v").repartition(2), t): Unit
    }
    val files = ManifestTable.currentFiles(spark, t)
    assert(files.size < 10,
      s"auto-compact must bound the live file count, got ${files.size}")
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 200)
    assert(r.agg(sum("id")).head().getLong(0) == (0L until 200L).sum)
    // the compactions are dataChange = false commits named in history
    val hist = ManifestTable.history(spark, t)
    assert(hist.filter(col("operation") === "auto-compact").count() >= 1)
    // CONTROL: same workload without the property accretes files
    val t2 = fresh()
    ManifestTable.create(spark, t2, schema)
    (0 until 20).foreach { k =>
      ManifestTable.append(spark,
        (0L until 10L).map(i => (k * 10L + i, s"v$k-$i"))
          .toDF("id", "v").repartition(2), t2): Unit
    }
    assert(ManifestTable.currentFiles(spark, t2).size == 40)
  }

  test("DV-ratio trigger self-heals a heavily-shadowed table (VERDICT r19 #4)") {
    import spark.implicits._
    val t = fresh()
    // two comfortable files, no small-file pressure at all — only the
    // shadowed-row fraction can trip the compactor
    ManifestTable.write(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), t)
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.AutoCompactProp -> "true",
      ManifestTable.AutoCompactMinFilesProp -> "64", // small-file path idle
      ManifestTable.AutoCompactMaxDvRatioProp -> "0.3"))
    // first DV delete shadows 25% of file 0 — under the threshold,
    // vectors must survive
    ManifestTable.deleteVectors(spark, t, col("id") < 50L)
    assert(ManifestTable.hasDeletionVectors(spark, t),
      "25% shadowed must stay merge-on-read")
    assert(ManifestTable.read(spark, t).count() == 350)
    // second delete pushes file 0 past 30% shadowed — the commit that
    // crosses the threshold materializes it inline
    ManifestTable.deleteVectors(spark, t, col("id") >= 50L && col("id") < 90L)
    assert(!ManifestTable.hasDeletionVectors(spark, t),
      "crossing maxDvRatio must materialize the shadowed file")
    val hist = ManifestTable.history(spark, t)
    assert(hist.filter(col("operation") === "auto-compact").count() == 1)
    // zero row loss, exact content
    val got = ManifestTable.read(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (90L until 400L))
    // the untouched file was not rewritten: only file 0 was selected
    assert(ManifestTable.rowCount(spark, t) == 310L)
    // CONTROL: without the property the same workload keeps its DVs
    val t2 = fresh()
    ManifestTable.write(spark,
      (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), t2)
    ManifestTable.updateProperties(spark, t2, Map(
      ManifestTable.AutoCompactProp -> "true",
      ManifestTable.AutoCompactMinFilesProp -> "64"))
    ManifestTable.deleteVectors(spark, t2, col("id") < 90L)
    assert(ManifestTable.hasDeletionVectors(spark, t2),
      "without maxDvRatio the DV path must not self-compact")
  }

  test("a lost auto-compact race is silent; the next commit picks the work up") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = fresh()
    // accumulate small files FIRST, enable the property after — the
    // trigger append is then the deterministic first compaction
    ManifestTable.create(spark, t, StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    (0 until 3).foreach { k =>
      ManifestTable.append(spark,
        (0L until 4L).map(i => (k * 4L + i, s"v$k-$i"))
          .toDF("id", "v").repartition(2), t): Unit
    }
    ManifestTable.updateProperties(spark, t, Map(
      ManifestTable.AutoCompactProp -> "true",
      ManifestTable.AutoCompactMinFilesProp -> "4"), Seq.empty): Unit
    val v = ManifestTable.currentVersion(spark, t)
    // the trigger append commits v+1; its auto-compact targets v+2 —
    // a COMPETING append lands v+2 first, so the compact must lose
    // the CAS SILENTLY (the triggering append already committed;
    // cleanup defers to a later commit's own post-commit check)
    val compactTarget = f"v${v + 2}%012d.json"
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    ManifestTable.preCommitHook = { (path, target) =>
      if (path == new org.apache.hadoop.fs.Path(t).toString &&
        target == compactTarget && raced.compareAndSet(false, true))
        ManifestTable.append(spark,
          Seq((100L, "racer")).toDF("id", "v"), t): Unit
    }
    try {
      ManifestTable.append(spark,
        Seq((99L, "trigger")).toDF("id", "v"), t): Unit
    } finally ManifestTable.preCommitHook = (_, _) => ()
    assert(raced.get, "the interleaving hook must have fired")
    val r = ManifestTable.read(spark, t)
    assert(r.count() == 14, "both the trigger and the racer landed")
    assert(r.filter(col("v") === "racer").count() == 1)
    assert(r.filter(col("v") === "trigger").count() == 1)
    // the racer's own post-commit check compacted (it saw >= 4 small
    // files); either way the table must be consistent and bounded
    assert(ManifestTable.currentFiles(spark, t).size <= 10)
    val hist = ManifestTable.history(spark, t)
    assert(hist.filter(col("operation") === "auto-compact").count() >= 1,
      "a compaction eventually lands despite the lost race")
  }

  test("change consumers skip the auto-compact commit; partitions survive") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = fresh()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("k", StringType)))
    ManifestTable.create(spark, t, schema, partitionCols = Seq("k"),
      props = Map(
        ManifestTable.AutoCompactProp -> "true",
        ManifestTable.AutoCompactMinFilesProp -> "4",
        ManifestTable.ChangeFeedProp -> "true"))
    (0 until 8).foreach { n =>
      ManifestTable.append(spark,
        Seq((n.toLong, s"p${n % 2}")).toDF("id", "k"), t): Unit
    }
    // row-level CDF across the whole history must deliver each row
    // exactly once — the dataChange=false compactions contribute no
    // change rows
    val changes = ManifestTable.rowChanges(spark, t, 1L,
      ManifestTable.currentVersion(spark, t))
    assert(changes.filter(col(ManifestTable.ChangeTypeCol) === "insert")
      .count() == 8)
    // the partition layout survives the rewrite (Hive dirs, pruning)
    val r = ManifestTable.read(spark, t)
    assert(r.filter(col("k") === "p0").count() == 4)
    assert(ManifestTable.currentFiles(spark, t)
      .filter(_.contains("k=")).nonEmpty)
  }
}
