package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.EventOps

/** Structured Streaming surface (SURVEY.md §2.2 streaming row), a thin
  * layer over the batch event analytics: readStream over the events
  * parquet, a watermark, then the batch query's own kernel —
  * [[EventOps.e01TumblingOf]] for [[tumblingStream]] and the
  * foreachBatch upserts, [[EventOps.e06SessionWindowOf]] for
  * [[sessionWindowStream]]. The stream-only analytics are kernels here:
  * the view→click interval join ([[streamStreamJoin]],
  * [[streamStreamLeftJoin]], e22) and within-watermark key dedup
  * ([[dedupStream]], e23).
  *
  * [[drain]] runs a finite stream to completion into a memory sink
  * (`processAllAvailable`); tests and the e-block queries drive the
  * fixture through it. Swap the source for Kafka/files-on-arrival and
  * the sink for a real table and the query is production Structured
  * Streaming with watermark-bounded state.
  */
object StreamingOps {

  /** The events schema parameterized by how `ts` arrives. Fixtures have
    * shipped `ts` in two physical shapes: TIMESTAMP(NANOS), which the
    * vectorized reader only accepts as a long (`nanosAsLong`), and the
    * current TIMESTAMP(MICROS), which arrives as a native timestamp.
    * Streams must DECLARE their schema (no inference), so the declared
    * type has to match what is on disk — declaring long over a micros
    * file is not an error but silently wrong event times: the raw
    * micros get divided by 1000 and every window lands in January 1970.
    */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Legacy nanos-as-long shape; test harnesses that synthesize their
    * own event files write this shape (ids/times as raw longs).
    */
  def eventsSchema: StructType = eventsSchema(LongType)

  /** Peek at the parquet footers in `dir` (batch read, metadata only)
    * to learn how `ts` arrives there — the streaming twin of the
    * defensive branch in [[graft.ops.Tables.events]]. Falls back to
    * micros-timestamp (the current fixture shape) if the dir is empty,
    * which only matters for a stream started before any file exists.
    */
  private def tsArrivalType(spark: SparkSession, dir: String,
      globFilter: Option[String]): DataType =
    try {
      val r = globFilter.foldLeft(spark.read)((b, g) =>
        b.option("pathGlobFilter", g))
      r.parquet(dir).schema("ts").dataType
    } catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }

  /** Schema-adaptive streaming events source: declares the schema the
    * files actually have and normalizes `ts` to a session-tz timestamp
    * either way. Every streaming entry point reads through here so a
    * fixture re-materialization with a different timestamp physical
    * type cannot silently skew the event-time layer again.
    *
    * The peek binds the schema AT START: a stream started over an
    * EMPTY directory gets the micros fallback, so a producer that will
    * drop legacy nanos-as-long files into a watched dir after start
    * must pin the type via `tsTypeOverride` (e.g. `Some(LongType)`) —
    * streams cannot change schema mid-query.
    */
  def eventsStream(spark: SparkSession, dir: String,
      globFilter: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      tsTypeOverride: Option[DataType] = None): DataFrame = {
    val tsType = tsTypeOverride.getOrElse(tsArrivalType(spark, dir, globFilter))
    var reader = spark.readStream.schema(eventsSchema(tsType))
    globFilter.foreach(g => reader = reader.option("pathGlobFilter", g))
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    val df = reader.parquet(dir)
    tsType match {
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** The fixture's events as a stream: the file-stream source monitors
    * directories and the fixture is a single file, so this monitors the
    * sf dir filtered to the events file.
    */
  private[streaming] def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir, globFilter = Some("events.parquet"))

  /** Runs a finite stream to completion into the memory sink `name`
    * under output `mode` and returns the sink's table. The query is
    * stopped whether or not a batch fails; a failure is rethrown.
    */
  def drain(stream: Dataset[_], mode: String, name: String): DataFrame = {
    val q = stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    stream.sparkSession.table(name)
  }

  /** Streaming tumbling 6-hour windows with a 1-hour watermark: e01's
    * kernel over the fixture stream. Late data beyond the watermark is
    * dropped; state is bounded by (windows in watermark horizon) ×
    * |types|.
    */
  def tumblingStream(spark: SparkSession, sfDir: String): DataFrame =
    tumblingOf(eventStream(spark, sfDir))

  /** [[EventOps.e01TumblingOf]] over an events stream under the 1-hour
    * watermark.
    */
  private[graft] def tumblingOf(events: DataFrame): DataFrame =
    EventOps.e01TumblingOf(events.withWatermark("ts", "1 hour"))

  /** Streaming deduplication on a business key — the streaming twin of
    * exact dedup (d01). `dropDuplicatesWithinWatermark`, NOT plain
    * `dropDuplicates`: with the event-time column absent from the
    * dedup keys, plain dropDuplicates never expires its seen-keys
    * state (the watermark only evicts keys whose event-time column is
    * part of the key set), which at 100 TB/day is an unbounded state
    * store. The within-watermark variant guarantees dedup of events
    * arriving within the watermark delay of each other and expires
    * each key's state afterward — finite state by construction, the
    * semantics a streaming ingest dedup actually wants.
    */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeys(eventStream(spark, sfDir).withWatermark("ts", "1 hour"))

  /** The within-watermark dedup kernel on (user_id, event_type). */
  private def dedupKeys(events: DataFrame): DataFrame =
    events.dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-static join: the event stream enriched against the static
    * customer dimension (user_id = c_custkey). The static side is
    * re-planned per micro-batch and broadcast when small — the
    * standard streaming-enrichment shape; no state is kept because
    * the static side is not a stream.
    */
  def enrichedStream(spark: SparkSession, sfDir: String): DataFrame = {
    val customers = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    eventStream(spark, sfDir)
      .join(customers, col("user_id") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total"))
  }

  /** Streaming native session windows (`session_window`, 30-minute
    * gap): e06's kernel over the fixture stream — the third
    * sessionization variant alongside the batch gap pattern (e03) and
    * the flatMapGroupsWithState machine (StatefulSessions). Append mode
    * + watermark: a session is emitted once the watermark passes its
    * close, so state is bounded by the watermark horizon — the form
    * that survives an unbounded stream.
    */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame =
    EventOps.e06SessionWindowOf(eventStream(spark, sfDir).withWatermark("ts", "1 hour"))

  /** Stream-stream interval join: views joined to the same user's
    * clicks within the following 30 minutes. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, so each side's buffered state is droppable once the
    * other side's watermark passes — the only join shape that runs
    * forever on unbounded streams. The shuffle key is user_id; the
    * time band is evaluated within the partition.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    viewClickJoin(spark, sfDir, "inner")

  /** Stream-stream LEFT OUTER interval join — the attribution shape
    * that must also emit (view, NO-click): an unmatched view row is
    * held in state until the GLOBAL watermark (min of both inputs'
    * watermarks) passes its join-window end — only then can the engine
    * PROVE no matching click will arrive — and is then emitted with
    * nulls on the click side. On an unbounded stream this is the only
    * sound "no conversion" signal; on a finite replay the views whose
    * windows the final watermark never passes are legitimately
    * withheld (StatefulSpec asserts exactly that boundary behavior).
    */
  def streamStreamLeftJoin(spark: SparkSession, sfDir: String): DataFrame =
    viewClickJoin(spark, sfDir, "leftOuter")

  /** The view→click interval join kernel of [[streamStreamJoin]] and
    * [[streamStreamLeftJoin]]: views under a 1-hour watermark, clicks
    * under a 2-hour one, joined as `joinType`.
    */
  private def viewClickJoin(spark: SparkSession, sfDir: String,
      joinType: String): DataFrame = {
    def side(eventType: String, delay: String, p: String) = eventStream(spark, sfDir)
      .filter(col("event_type") === eventType)
      .withWatermark("ts", delay)
      .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"),
        col("event_id").as(s"${p}_event"))
    side("view", "1 hour", "v").join(side("click", "2 hours", "c"), expr(
      "v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"),
      joinType)
      .select(col("v_user").as("user_id"), col("v_ts"), col("c_ts"),
        col("v_event"), col("c_event"))
  }

  /** Batch twin of [[streamStreamJoin]] over the same fixture. */
  def viewClickJoinBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.ops.Tables.events(spark, sfDir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
    views.join(clicks, expr(
      "v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 30 minutes"))
      .select(col("v_user").as("user_id"), col("v_ts"), col("c_ts"),
        col("v_event"), col("c_event"))
  }

  private val invocations = new java.util.concurrent.atomic.AtomicLong(0)

  /** `prefix` made unique per invocation: the e-block queries' sink
    * names and scratch dirs must not collide across bench reps.
    */
  private def unique(prefix: String): String =
    s"${prefix}_${invocations.incrementAndGet()}"

  /** e22: the watermarked STREAM-STREAM INTERVAL JOIN run as a
    * first-class (oracle-gated) query — views joined to the same
    * user's clicks within the following 30 minutes, driven over the
    * fixture to completion through the memory sink. On the complete
    * stream the join must emit exactly the batch interval join, so the
    * DuckDB twin is a plain self-join with the same time band — a hash
    * match proves the streaming state machine (two watermarks, both
    * time bounds, append-mode emission) loses and invents nothing.
    */
  def e22StreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    drain(streamStreamJoin(spark, sfDir), "append", unique("graft_e22_ssjoin"))
      .orderBy(col("user_id").asc_nulls_last, col("v_ts").asc_nulls_last,
        col("c_ts").asc_nulls_last, col("v_event").asc_nulls_last,
        col("c_event").asc_nulls_last)

  val e22Sql: String =
    """SELECT v.user_id, v.ts AS v_ts, c.ts AS c_ts,
      |  v.event_id AS v_event, c.event_id AS c_event
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      |WHERE v.event_type = 'view' AND c.event_type = 'click'
      |ORDER BY 1 ASC NULLS LAST, 2 ASC NULLS LAST, 3 ASC NULLS LAST,
      |  4 ASC NULLS LAST, 5 ASC NULLS LAST""".stripMargin

  /** e23: STREAMING DEDUPLICATION as a first-class query — the
    * key-projected twin of [[dedupStream]]: watermark +
    * `dropDuplicatesWithinWatermark` over (user_id, event_type), then
    * the payload is projected AWAY so the emitted set is exactly the
    * distinct key pairs (which survivor row wins per key is
    * nondeterministic; the key set is not). The DuckDB twin is
    * SELECT DISTINCT — a hash match proves the streaming state emitted
    * every key exactly once. The within-watermark variant keeps the
    * seen-keys state FINITE (keys expire once the watermark passes
    * their horizon) — the only dedup shape that survives an unbounded
    * 100 TB/day stream.
    *
    * The dedup horizon here EXCEEDS the fixture's time span (the
    * within-watermark contract only guarantees dedup of events within
    * the delay of each other — with a 1 h delay and multi-batch
    * delivery, a key recurring hours apart would legally re-emit and
    * diverge from the global-DISTINCT oracle; a ≥ span horizon makes
    * the emitted set equal SELECT DISTINCT under ANY batching).
    * [[dedupStream]] keeps the production-shaped 1 h horizon.
    */
  def e23StreamingDedup(spark: SparkSession, sfDir: String): DataFrame =
    drain(e23Stream(spark, sfDir), "append", unique("graft_e23_dedup"))
      .orderBy(col("user_id").asc_nulls_last, col("event_type").asc_nulls_last)

  /** e23's stream, unstarted. */
  private[graft] def e23Stream(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeys(eventStream(spark, sfDir).withWatermark("ts", "365 days"))
      .select(col("user_id"), col("event_type"))

  val e23Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY 1 ASC NULLS LAST, 2 ASC NULLS LAST""".stripMargin

  /** e24: TAILING A MANIFEST TABLE AS A STREAM — the corpus committed
    * as an initial snapshot plus two appends (three log versions),
    * then `spark.readStream.format("graft")` drives the table's delta
    * log to completion with `maxVersionsPerTrigger = 1`: the first
    * micro-batch is the v1 snapshot, each later batch is exactly one
    * append's files (offsets ARE log versions — restart-from-
    * checkpoint and idle-trigger behavior pinned in
    * ManifestStreamSpec). The union of batches must reconstruct the
    * corpus exactly once: the oracle is the one-shot census, so a
    * hash match proves the source admitted every version once and
    * nothing twice. At 100 TB each trigger does O(appended files)
    * work — the downstream job the CDF consumer (p25) polls for,
    * expressed as a first-class Structured Streaming source.
    */
  def e24ManifestTail(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.{ManifestTable, Sinks}
    val docs = graft.ops.Tables.documents(spark, sfDir)
    val root = Sinks.sessionScratchPath(spark,
      unique("e24_tail_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_")))
    val table = s"$root/table"
    ManifestTable.write(spark,
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), table)
    ManifestTable.append(spark,
      docs.filter(pmod(col("doc_id"), lit(3)) === 1), table)
    ManifestTable.append(spark,
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), table)
    collectBatches(spark.readStream.format("graft")
      .option("path", table)
      .option("maxVersionsPerTrigger", "1")
      .load(), s"$root/ckpt")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  /** The stream must reconstruct the corpus — same census as p17. */
  val e24Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin

  /** e25: the ROW-LEVEL CDC STREAM — the change feed enabled on a
    * manifest table, the table driven through a rewrite-heavy life
    * cycle (copy-on-write delete, update, merge-on-read DV delete,
    * append), and
    * `readStream.format("graft").option("readChangeFeed", "true")`
    * tailing from `startingVersion` past the bulk load: every rewrite
    * delivers its EXACT row effects from the change files the commit
    * recorded (`_change_type` delete/insert — a plain additions
    * stream fails on the very first of these commits), one version
    * per trigger. The accumulated feed's census must hash-match the
    * DuckDB set-algebra reconstruction — the p32 row-CDF contract
    * served through the streaming front end, end to end.
    */
  def e25CdcStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.{ManifestTable, Sinks}
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = Sinks.sessionScratchPath(spark,
      unique("e25_cdc_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_")))
    val table = s"$root/table"
    ManifestTable.write(spark, // v1: bulk load (not streamed)
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .repartitionByRange(8, col("doc_id")), table)
    ManifestTable.enableChangeFeed(spark, table) // v2
    ManifestTable.delete(spark, table, // v3: CoW delete
      pmod(col("doc_id"), lit(10)) === 0)
    ManifestTable.update(spark, table, // v4: CoW update
      pmod(col("doc_id"), lit(10)) === 2,
      Map("n_chars" -> (col("n_chars") + 500)))
    ManifestTable.deleteVectors(spark, table, // v5: DV delete
      pmod(col("doc_id"), lit(10)) === 4)
    ManifestTable.append(spark, // v6: append
      docs.filter(pmod(col("doc_id"), lit(2)) === 1 &&
        pmod(col("doc_id"), lit(5)) === 0), table)
    collectBatches(spark.readStream.format("graft")
      .option("path", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2") // tail the churn, skip the load
      .option("maxVersionsPerTrigger", "1")
      .load(), s"$root/ckpt")
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy(col("_change_type").asc, col("lang").asc_nulls_last)
  }

  /** DuckDB reconstruction of the streamed change feed — the UPDATE
    * commit streams PAIRED update_preimage/update_postimage rows (the
    * Delta CDF contract, VERDICT r18 #5).
    */
  val e25Sql: String =
    """WITH evens AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |feed AS (
      |  SELECT 'delete' AS _change_type, lang, n_chars
      |  FROM evens WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', lang, n_chars
      |  FROM evens WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'update_postimage', lang, n_chars + 500
      |  FROM evens WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'delete', lang, n_chars FROM evens WHERE doc_id % 10 = 4
      |  UNION ALL
      |  SELECT 'insert', lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 5 = 0)
      |SELECT _change_type, lang, count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM feed GROUP BY 1, 2
      |ORDER BY _change_type ASC, lang ASC NULLS LAST""".stripMargin

  /** Drains a finite stream through `foreachBatch` and returns the
    * union of its batches. Each batch is pinned with `localCheckpoint`:
    * the union is read after the stream stops, and the pins keep that
    * read one job.
    */
  private def collectBatches(stream: DataFrame, checkpointDir: String): DataFrame = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.synchronized { batches += b.localCheckpoint() }: Unit
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    batches.reduce(_.unionByName(_))
  }

  /** e26: the NAME-BASED streaming pipeline (VERDICT r14 #3) — a
    * production pipeline addresses tables by CATALOG NAME, not
    * warehouse path. Two graft catalog tables; the source loaded in
    * two commits, then `spark.readStream.table("cat.corpus.src")`
    * (the injected [[org.apache.spark.sql.GraftNamedStreamRule]]
    * routing the V2 relation to the engine's V1 source) streams
    * through a derived-column transform into
    * `writeStream.toTable("cat.corpus.dst")` — the REAL V2
    * `StreamingWrite` staging partitioned parquet executor-side and
    * publishing each epoch with the per-query batch watermark
    * (exactly-once). A third commit lands mid-stream and is delivered
    * incrementally. The destination's census must hash-match DuckDB's
    * direct reconstruction — name-addressed streaming, both
    * directions, end to end.
    */
  def e26NamedPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.Sinks
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = invocations.incrementAndGet()
    val cat = s"e26lake$inv"
    val root = Sinks.sessionScratchPath(spark,
      "e26_named_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$root/wh")
    docs.createOrReplaceTempView("e26_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.src " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
    spark.sql(s"CREATE TABLE $cat.corpus.dst " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT, bkt BIGINT) " +
      "PARTITIONED BY (bkt)")
    spark.sql(s"INSERT INTO $cat.corpus.src " +
      "SELECT * FROM e26_docs WHERE doc_id % 3 = 0")
    spark.sql(s"INSERT INTO $cat.corpus.src " +
      "SELECT * FROM e26_docs WHERE doc_id % 3 = 1")
    val q = spark.readStream.table(s"$cat.corpus.src")
      .withColumn("bkt", pmod(col("doc_id"), lit(4)))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .toTable(s"$cat.corpus.dst")
    try {
      q.processAllAvailable() // snapshot batch: the two loaded slices
      spark.sql(s"INSERT INTO $cat.corpus.src " +
        "SELECT * FROM e26_docs WHERE doc_id % 3 = 2")
      q.processAllAvailable() // incremental batch: the third slice
    } finally q.stop()
    spark.sql(
      s"""SELECT lang, bkt, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.dst
         |GROUP BY lang, bkt
         |ORDER BY lang ASC NULLS LAST, bkt ASC""".stripMargin)
  }

  /** The streamed destination must reconstruct the corpus exactly. */
  val e26Sql: String =
    """SELECT lang, doc_id % 4 AS bkt, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |GROUP BY lang, doc_id % 4
      |ORDER BY lang ASC NULLS LAST, bkt ASC""".stripMargin

  /** foreachBatch upsert body: DYNAMIC partition overwrite keyed by
    * the FULL aggregate key, by default the tumbling aggregate's
    * (event_type, ws). The overwrite unit must equal the update key:
    * update output mode emits only the rows a micro-batch changed, so
    * a coarser partitioning (event_type alone)
    * would replace a whole type's directory with just that batch's
    * changed windows, silently deleting every previously-committed
    * window of the type. With one directory per (type, window) a
    * replayed batch rewrites exactly the aggregates it carries and
    * nothing else — idempotent retries AND no cross-window clobbering,
    * the exactly-once recipe for sinks without transactional MERGE.
    * Partition count stays bounded: |types| × (windows per retention
    * horizon), the same cardinality the streaming state itself holds.
    */
  def upsertBatch(batch: DataFrame, targetDir: String,
      keys: Seq[String] = Seq("event_type", "ws")): Unit =
    batch.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(keys: _*)
      .parquet(targetDir)

  /** Drains an update-mode aggregate stream through [[upsertBatch]] on
    * its aggregate `keys` and reads the target back.
    */
  private[streaming] def drainUpserts(agg: DataFrame, keys: Seq[String],
      targetDir: String, checkpointDir: String): DataFrame = {
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) => upsertBatch(b, targetDir, keys) }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    agg.sparkSession.read.parquet(targetDir)
  }

  /** [[tumblingStream]] → foreachBatch idempotent upsert into a
    * partitioned table: update output mode emits only the (window ×
    * type) rows each micro-batch changed; [[upsertBatch]] merges them
    * by overwriting the touched (event_type, ws) partitions. The
    * composition is the standard exactly-once sink pattern: source
    * offsets + checkpoint give at-least-once batch delivery, and the
    * idempotent write collapses replays.
    */
  def runForeachBatchUpsert(spark: SparkSession, sfDir: String,
      targetDir: String, checkpointDir: String): DataFrame =
    drainUpserts(tumblingStream(spark, sfDir), Seq("event_type", "ws"),
      targetDir, checkpointDir)

  /** Multi-micro-batch drive of the same aggregate→upsert pipeline over
    * a MONITORED directory (one file per trigger). This is the shape a
    * production deployment actually runs — update mode emits only the
    * (type, window) rows each batch changed, so the sink sees DISJOINT
    * window sets across batches; [[upsertBatch]]'s per-(type, window)
    * overwrite must leave earlier batches' windows untouched. The spec
    * drives ≥2 batches and asserts exactly that (the bug class this
    * guards: a coarser partitionBy would make batch N delete batch
    * N-1's windows of the same type).
    */
  def runForeachBatchUpsertFromDir(spark: SparkSession, watchDir: String,
      targetDir: String, checkpointDir: String): DataFrame =
    drainUpserts(tumblingOf(eventsStream(spark, watchDir, maxFilesPerTrigger = Some(1))),
      Seq("event_type", "ws"), targetDir, checkpointDir)

  /** Watermark-semantics probe stream: 10-minute tumbling counts with
    * a 5-minute watermark over a MONITORED DIRECTORY (any parquet file
    * that appears becomes input), append mode. Drive it with
    * `maxFilesPerTrigger=1` and per-file modification times and each
    * file is one micro-batch in a deterministic order — the harness
    * `WatermarkSpec` uses to prove the late-data contract: a row whose
    * window the watermark already closed is DROPPED (its count never
    * retro-updates), and a window the watermark never passes is
    * WITHHELD (append emits no partial result). These are the
    * semantics that make streaming aggregation state finite at scale —
    * asserted, not assumed.
    */
  def lateDataTumblingStream(spark: SparkSession, watchDir: String): DataFrame =
    eventsStream(spark, watchDir, maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
}
