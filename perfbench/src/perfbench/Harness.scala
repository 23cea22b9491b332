package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DataType

import graft.ingest.Ingest
import graft.sinks.ManifestTable
import graft.types.TypeMap

/** The benchmark's JVM side. `run.py` writes a spec (workload, seeded
  * operation list, directories, run length) and reads back the raw
  * measurements this writes; all arithmetic on them is done in Python.
  *
  * One client thread runs the operations as a closed loop. Pass 0 is the
  * cold pass; warm passes follow until `seconds` have been used. Timed
  * passes send every output to Spark's noop sink. After them, an untimed
  * verification pass runs the operations once more and writes every
  * output to parquet for the output check. With tracing on, listeners are
  * attached on half of the warm passes, so one run gives both the
  * per-layer spans and the tracing overhead.
  *
  * Usage: Harness <spec.json> <out.json>
  */
object Harness {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(id: Int, name: String, kind: String, args: Map[String, Any])

  final class Ctx(val spark: SparkSession, val spec: Map[String, Any]) {
    val data: String = spec("data").toString
    val work: String = spec("work").toString
    val verifyDir: String = spec("verify").toString
    var pass = 0
    var verifying = false
    // lake state of the current pass: table path, SQL name, versions
    var table = ""
    var sqlName = ""
    val versionAfter = mutable.Map.empty[Int, Long]
    val commitVersion = mutable.Map.empty[Int, Long]
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.hadoop.NioLocalFs")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.scratchDir", s"$work/graft-scratch")
      .config("spark.sql.catalog.lake", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$work/lake")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Registers the workload's fixture tables (`<name>.parquet` paths) as
    * views, then runs a tiny warm-up query on the first, as `graft.Bench`
    * does on region. */
  def registerFixture(spark: SparkSession, tables: Seq[String]): Unit = {
    val names = tables.map(t => new File(t).getName.stripSuffix(".parquet"))
    tables.zip(names).foreach { case (t, n) =>
      spark.read.parquet(t).createOrReplaceTempView(n) }
    spark.table(names.head).count()
  }

  /** `graft.Bench`'s fixed-cost calibration kernel: identical work on
    * every call, so its time tracks the host rather than the engine. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 8)
      .selectExpr("bit_xor(xxhash64(id)) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def load(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Live heap: the least heap in use after full collections 100 ms apart,
    * repeated until one frees less than 1 MB (at most ten). What Spark
    * releases only after a collection (ContextCleaner) or once its queues
    * drain does not count; on a busy host that takes more rounds. */
  private def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var least = math.min(prev, used())
    var rounds = 2
    while (rounds < 10 && prev - least >= 1.0) {
      prev = least
      least = math.min(least, used())
      rounds += 1
    }
    least
  }

  private def fsStats(): Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map("bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Sends an operation's output to the pass's sink: parquet files the
    * output check reads on the verification pass, Spark's noop sink on
    * the timed passes. */
  private def sink(c: Ctx, op: Op, df: DataFrame): Unit =
    if (c.verifying) df.write.mode("overwrite").parquet(s"${c.verifyDir}/${op.id}")
    else df.write.format("noop").mode("overwrite").save()

  // ---- lake_lifecycle -------------------------------------------------

  /** The reference's ETL path: read an exported file, sanitize and rename
    * its columns, cast them to the target types (checked against the
    * DDL type map). */
  private def etl(c: Ctx, a: Map[String, Any]): DataFrame = {
    val rename = a("rename").asInstanceOf[Map[String, String]]
    val casts = a("casts").asInstanceOf[Map[String, String]]
      .map { case (k, v) => k -> DataType.fromDDL(v) }
    val typed = Ingest.castColumns(
      Ingest.renameSanitized(c.spark.read.parquet(a("path").toString), rename), casts)
    require(casts.forall { case (n, t) =>
      TypeMap.toPostgres(typed.schema(n).dataType) == TypeMap.toPostgres(t) },
      s"ETL cast produced ${typed.schema.simpleString}")
    typed.repartition(a("files").asInstanceOf[Int])
  }

  private def tail(c: Ctx, op: Op): Long = {
    val q = c.spark.readStream.format("graft").option("path", c.table).load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"${c.work}/tail-ckpt-${c.pass}")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (c.verifying) b.write.mode("append").parquet(s"${c.verifyDir}/${op.id}")
        else b.write.format("noop").mode("overwrite").save()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.map(_.numInputRows).sum
  }

  /** Runs one lake operation: the public call into graft.sinks (or SQL
    * through graft.catalog). Returns the rows to send to the sink, if the
    * operation reads, and the rows streamed, if it tails. */
  private def runLake(c: Ctx, op: Op): (Option[DataFrame], Long) = {
    val spark = c.spark
    val a = op.args
    def via = a.getOrElse("via", "api").toString
    def pred = a.getOrElse("pred", "true").toString
    def set = a.getOrElse("set", Map.empty).asInstanceOf[Map[String, String]]
    def commit(v: Long): Unit = c.commitVersion(op.id) = v
    var out: Option[DataFrame] = None
    var rows = -1L
    op.kind match {
      case "create" =>
        commit(ManifestTable.create(spark, c.table, etl(c, a).schema,
          props = a("props").asInstanceOf[Map[String, String]]))
      case "append" =>
        commit(ManifestTable.append(spark, etl(c, a), c.table))
      case "props" =>
        commit(ManifestTable.updateProperties(spark, c.table,
          a("props").asInstanceOf[Map[String, String]]))
      case "delete" =>
        if (via == "sql") spark.sql(s"DELETE FROM ${c.sqlName} WHERE $pred")
        else commit(ManifestTable.delete(spark, c.table, expr(pred)))
      case "update" =>
        if (via == "sql") spark.sql(s"UPDATE ${c.sqlName} SET " +
          set.map { case (k, v) => s"$k = $v" }.mkString(", ") + s" WHERE $pred")
        else commit(ManifestTable.update(spark, c.table, expr(pred),
          set.map { case (k, v) => k -> expr(v) }))
      case "merge" =>
        val key = a("key").asInstanceOf[Seq[String]]
        val src = spark.read.parquet(a("path").toString)
        if (via == "sql") {
          src.createOrReplaceTempView("perfbench_merge_src")
          spark.sql(
            s"""MERGE INTO ${c.sqlName} t USING perfbench_merge_src s
               |ON ${key.map(k => s"t.$k = s.$k").mkString(" AND ")}
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        } else commit(ManifestTable.merge(spark, src, c.table, key))
      case "read" =>
        out = Some(if (a.contains("pred")) ManifestTable.readWhere(spark, c.table, expr(pred))
          else ManifestTable.read(spark, c.table))
      case "time_travel" =>
        out = Some(ManifestTable.read(spark, c.table,
          c.versionAfter(a("at_op").asInstanceOf[Int])))
      case "changes" =>
        out = Some(ManifestTable.readChanges(spark, c.table,
          c.versionAfter(a("after_op").asInstanceOf[Int]),
          c.commitVersion(a("to_op").asInstanceOf[Int])))
      case "tail" =>
        rows = tail(c, op)
      case "vacuum" =>
        ManifestTable.vacuum(spark, c.table, keepVersions = 1, graceMs = 0L)
      case other => throw new IllegalArgumentException(s"unknown lake op $other")
    }
    c.versionAfter(op.id) = ManifestTable.currentVersion(spark, c.table)
    (out, rows)
  }

  /** Relative paths of every file under the table. */
  private def listTable(c: Ctx): Seq[String] = {
    val root = new File(c.table).toPath
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(root.relativize(f.toPath).toString)
    walk(new File(c.table))
  }

  // ---- passes ----------------------------------------------------------

  private def opsOf(spec: Map[String, Any]): Seq[Op] =
    spec("ops").asInstanceOf[Seq[Map[String, Any]]].map { m =>
      Op(m("id").asInstanceOf[Int], m("name").toString, m("kind").toString,
        m.getOrElse("args", Map.empty).asInstanceOf[Map[String, Any]])
    }

  private def runPass(c: Ctx, ops: Seq[Op], lake: Boolean,
      tracer: Option[Tracer]): Map[String, Any] = {
    val spark = c.spark
    if (lake) {
      c.table = s"${c.work}/lake/bench/t${c.pass}"
      c.sqlName = s"lake.bench.t${c.pass}"
      c.versionAfter.clear()
      c.commitVersion.clear()
    }
    val seen = mutable.Set.empty[String]
    val fs0 = fsStats()
    val records = ops.map { op =>
      tracer.foreach(_.op = op.id)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var build = 0.0
      var rows = -1L
      val error = try {
        if (lake) {
          val (out, streamed) = runLake(c, op)
          build = (System.nanoTime() - t0) / 1e9
          out.foreach(sink(c, op, _))
          rows = streamed
        } else {
          val df = graft.SparkEntry.queries(op.name)(spark,
            op.args.getOrElse("data", c.data).toString)
          build = (System.nanoTime() - t0) / 1e9
          sink(c, op, df)
        }
        ""
      } catch { case NonFatal(e) =>
        s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      // outside the op's wall time, traced passes only: drain the listener
      // bus, list the files the table holds after the op and the files a
      // skipping read kept / had
      tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
      if (lake && tracer.isDefined) seen ++= listTable(c)
      val (scanned, total) =
        if (tracer.isEmpty || op.kind != "read" || !op.args.contains("pred")) (0, 0)
        else try ManifestTable.skippingReport(spark, c.table, expr(op.args("pred").toString))
        catch { case NonFatal(_) => (0, 0) }
      Map("id" -> op.id, "name" -> op.name, "kind" -> op.kind, "wall_s" -> wall,
        "build_s" -> build, "start_ms" -> start, "end_ms" -> end,
        "error" -> error, "rows" -> rows,
        "commit_version" -> c.commitVersion.getOrElse(op.id, -1L),
        "version_after" -> c.versionAfter.getOrElse(op.id, -1L),
        "files_scanned" -> scanned, "files_total" -> total)
    }
    // the pass's wall time is its ops' wall times, so the traced passes'
    // probes between ops do not count in it
    val wall = records.map(_("wall_s").asInstanceOf[Double]).sum
    val fs1 = fsStats()
    tracer.foreach(_.op = -1)
    val lakeInfo: Map[String, Any] = if (!lake) Map.empty else {
      Map("table_bytes" -> dirBytes(new File(c.table)),
        "live_files" -> (try ManifestTable.currentFiles(spark, c.table).size
          catch { case NonFatal(_) => -1 }),
        // checkpoint files are _manifests/c<version>.json
        "checkpoints_seen" -> seen.count(_.matches("_manifests/c\\d+\\.json")),
        "files_seen" -> seen.size,
        "schema_memo" -> schemaMemoSize())
    }
    Map("pass" -> c.pass, "verify" -> c.verifying, "traced" -> tracer.isDefined,
      "wall_s" -> wall, "ops" -> records,
      "fs" -> fs1.map { case (k, v) => k -> (v - fs0(k)) }) ++ lakeInfo ++
      (if (c.verifying) Map.empty else Map("heap_after_gc_mb" -> heapAfterGcMb()))
  }

  /** Entries in ManifestTable's private inferred-schema memo (cleared
    * when it passes 1024). */
  private def schemaMemoSize(): Int =
    try {
      val f = ManifestTable.getClass.getDeclaredField("inferredSchemaMemo")
      f.setAccessible(true)
      f.get(ManifestTable).asInstanceOf[java.util.Map[_, _]].size
    } catch { case NonFatal(_) => -1 }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") {
      mapper.writeValue(new File(args(1)), graft.SparkEntry.oracleSql)
      return
    }
    val spec = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val cores = spec("cores").asInstanceOf[Int]
    val work = spec("work").toString
    val seconds = spec("seconds").toString.toDouble
    val traced = spec("trace").asInstanceOf[Boolean]
    val lake = spec("workload") == "lake_lifecycle"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: from JVM start until the session is ready and the fixture
    // registered
    val spark = session(cores, work)
    registerFixture(spark, spec("tables").asInstanceOf[Seq[String]])
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val c = new Ctx(spark, spec)
    val ops = opsOf(spec)
    val host0 = Map("load" -> load(), "calibration_s" -> calibrate(spark))
    val compile0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum

    val tracer = new Tracer
    def attach(on: Boolean): Option[Tracer] =
      if (!on) None else {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        Some(tracer)
      }
    def detach(t: Option[Tracer]): Unit = t.foreach { tr =>
      spark.sparkContext.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    passes += runPass(c, ops, lake, None)
    // Warm passes until `seconds` are used. A traced run traces them in
    // the order untraced, traced, traced, untraced, so that pass times
    // still falling as the JIT compiles cancel in the tracing overhead.
    val minWarm = if (traced) 4 else 1
    val window0 = System.nanoTime()
    var warm = 0
    def nextPass(): Unit = {
      if (lake) deleteTree(new File(c.table))
      c.pass += 1
    }
    while (warm < minWarm || (System.nanoTime() - window0) / 1e9 < seconds) {
      nextPass()
      val t = attach(traced && Set(1, 2)(warm % 4))
      passes += runPass(c, ops, lake, t)
      detach(t)
      warm += 1
    }
    val compileS = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      - compile0) / 1e3
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3

    val host1 = Map("load" -> load(), "calibration_s" -> calibrate(spark))

    // untimed verification pass (a lake pass starts on a fresh table)
    nextPass()
    c.verifying = true
    passes += runPass(c, ops, lake, None)

    val out = Map(
      "workload" -> spec("workload"), "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "setup_s" -> setupS, "host_start" -> host0, "host_end" -> host1,
      "jvm" -> Map("compile_s" -> compileS, "gc_s" -> gcS),
      "passes" -> passes.toSeq,
      "trace" -> (if (traced) Map("jobs" -> tracer.jobs.toSeq,
        "stages" -> tracer.stages.toSeq, "plans" -> tracer.plans.toSeq) else Map.empty)
    )
    mapper.writeValue(new File(args(1)), out)
    spark.stop()
  }
}
