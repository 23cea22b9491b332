package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Training-data pipeline primitives (north-star extension): the
  * operations a 100 TB corpus build needs between raw ingest and
  * tokenized shards — reproducible sampling, train/val/test splits,
  * and context-window sequence packing.
  *
  * Every sampler here is HASH-based, not rand()-based: membership is a
  * pure function of the row key, so the sample is identical across
  * engines, re-runs, partitionings, and retries — the property that
  * makes a 100 TB sample reproducible and lets the DuckDB oracle
  * replay it exactly. `TABLESAMPLE`/`df.sample` trade that away for
  * speed (per-partition RNG), which is the wrong trade for corpus
  * builds.
  */
object PipelineOps {

  /** p03: deterministic 10 % uniform sample of orders — portable
    * md5-derived bucket in [0, 100). One narrow filter, no shuffle;
    * the filter pushes to the scan boundary (post-scan, pre-project).
    */
  def p03HashSample(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.orders(spark, sfDir)
      .filter(PortableHash.tokenHash32(col("o_orderkey").cast("string")) % 100 < 10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc_nulls_last)
  }

  val p03Sql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |WHERE ${PortableHash.tokenHash32Sql("CAST(o_orderkey AS VARCHAR)")} % 100 < 10
       |ORDER BY o_orderkey ASC NULLS LAST""".stripMargin

  /** p04: stratified sampling — per-stratum rates (the corpus-balance
    * knob: upsample rare languages / downsample boilerplate). Same
    * hash-bucket membership, rate chosen per segment; output is the
    * per-stratum (total, sampled) audit an operator actually checks.
    */
  def p04StratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val rate = when(col("c_mktsegment") === "AUTOMOBILE", 50)
      .when(col("c_mktsegment") === "BUILDING", 20)
      .otherwise(10)
    Tables.customer(spark, sfDir)
      .withColumn("in_sample",
        PortableHash.tokenHash32(col("c_custkey").cast("string")) % 100 < rate)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("in_sample"), 1)).as("n_sampled"))
      .orderBy(col("c_mktsegment").asc_nulls_last)
  }

  val p04Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(c_custkey AS VARCHAR)")
    s"""SELECT c_mktsegment, count(*) AS n_total,
       |  count(CASE WHEN $h % 100 <
       |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 50
       |         WHEN c_mktsegment = 'BUILDING' THEN 20
       |         ELSE 10 END THEN 1 END) AS n_sampled
       |FROM customer GROUP BY c_mktsegment
       |ORDER BY c_mktsegment ASC NULLS LAST""".stripMargin
  }

  /** p05: train/val/test split (80/10/10) over documents — hash-bucket
    * assignment so a document's split never changes as the corpus
    * grows (contamination control). Output is the per-(lang, split)
    * census.
    */
  def p05TrainSplit(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val bucket = PortableHash.tokenHash32(col("doc_id").cast("string")) % 100
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang").asc_nulls_last, col("split").asc_nulls_last)
  }

  val p05Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""SELECT lang,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM documents GROUP BY 1, 2
       |ORDER BY lang ASC NULLS LAST, split ASC NULLS LAST""".stripMargin
  }

  /** doc_ids per p06 prefix bucket: per-(lang, bucket) work is ≤ this
    * by pigeonhole (doc_id div is monotone), while bucket COUNT grows
    * with the corpus — the cardinality shape a distributed prefix sum
    * needs. The offset table holds one row per occupied (lang,
    * bucket): ~N/256 buckets × interleaved langs, i.e. ~2e7 rows at
    * 1e9 docs — past the ~1e8-doc point where that stops being
    * broadcast-friendly, widen the bucket or swap the broadcast for a
    * plain shuffle join on (lang, bkt); the two-phase math is
    * unchanged either way.
    */
  private val PackBucket = 256

  /** p06: sequence packing — assign documents (in stable doc_id order,
    * per lang) to fixed token-budget bins by their running START
    * offset: bin = floor((cumsum − n) / budget); a doc whose start
    * falls in a bin belongs to it (documents are never split). Output
    * is the per-bin manifest a shard writer consumes.
    *
    * The running offset is a TWO-PHASE distributed prefix sum, never a
    * per-lang window over the fact table (lang has ~5 values — a
    * single-key window is one task per language at scale): (1) bucket
    * docs by doc_id range and collapse the fact table to per-(lang,
    * bucket) token partials; (2) prefix-sum the tiny bucket table per
    * lang (sub-fact-sized window input); (3) broadcast the bucket
    * start offsets back and run the exact window only WITHIN each
    * (lang, bucket) — a partition key whose cardinality grows with the
    * data and whose per-partition size is bounded by the bucket width.
    * Long addition is exact, so the result is bit-identical to the
    * single-window form the oracle states.
    */
  def p06SequencePacking(spark: SparkSession, sfDir: String,
      budget: Int = 4096): DataFrame =
    p06Of(Tables.documents(spark, sfDir), budget)

  /** p06 over an arbitrary documents frame — the entry point the
    * prefix-sum equivalence property test drives with random inputs.
    */
  def p06Of(docs: DataFrame, budget: Int): DataFrame = {
    val base = docs
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("bkt", expr(s"doc_id div $PackBucket"))
      .select(col("lang"), col("bkt"), col("doc_id"), col("n_tok"))
    val wPrefix = Window.partitionBy(col("lang"))
      .orderBy(col("bkt").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("bkt_off", sum(col("btok")).over(wPrefix) - col("btok"))
      .select(col("lang"), col("bkt"), col("bkt_off"))
    val wIn = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("doc_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("off", col("bkt_off") + sum(col("n_tok")).over(wIn) - col("n_tok"))
      .withColumn("bin", expr(s"off div $budget"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang").asc_nulls_last, col("bin").asc_nulls_last)
  }

  /** p07: the end-to-end corpus build — the composition the individual
    * primitives exist for: double-crawl union → exact dedup (keep the
    * lexicographically first copy per content hash) → quality gate
    * (minimum token count) → hash-bucket split assignment → per-
    * (lang, split) census. Three shuffles total (dedup hash, census
    * group, presentation sort); every stage is the scale-shape used by
    * its standalone operator (d01, t01, p05).
    */
  def p07CorpusBuild(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sfDir)
    val crawls = docs.withColumn("crawl", lit("a"))
      .unionByName(docs.withColumn("crawl", lit("b")))
    val wDedup = Window.partitionBy(md5(col("text")))
      .orderBy(col("crawl").asc_nulls_last, col("doc_id").asc_nulls_last)
    val kept = crawls
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .filter(col("n_tok") >= 30)
    val bucket = PortableHash.tokenHash32(col("doc_id").cast("string")) % 100
    kept
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("lang").asc_nulls_last, col("split").asc_nulls_last)
  }

  val p07Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH crawls AS (
       |  SELECT 'a' AS crawl, doc_id, text, lang FROM documents
       |  UNION ALL SELECT 'b', doc_id, text, lang FROM documents),
       |d AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(text)
       |    ORDER BY crawl ASC NULLS LAST, doc_id ASC NULLS LAST) AS rn
       |  FROM crawls),
       |k AS (
       |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
       |  FROM d WHERE rn = 1),
       |q AS (SELECT * FROM k WHERE n_tok >= 30)
       |SELECT lang,
       |  CASE WHEN $h % 100 < 80 THEN 'train'
       |       WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
       |FROM q GROUP BY 1, 2
       |ORDER BY lang ASC NULLS LAST, split ASC NULLS LAST""".stripMargin
  }

  val p06Sql: String =
    """WITH t AS (
      |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |o AS (
      |  SELECT lang, doc_id, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ASC NULLS LAST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS off
      |  FROM t)
      |SELECT lang, off // 4096 AS bin, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM o GROUP BY 1, 2
      |ORDER BY lang ASC NULLS LAST, bin ASC NULLS LAST""".stripMargin

  /** p08: quality-weighted (importance) sampling — the corpus-balance
    * step after scoring: each document's ACCEPTANCE RATE is
    * proportional to its t02 quality score (rate = quality·80 %,
    * per-row, not per-stratum like p04). Membership stays a pure
    * portable hash of doc_id against floor(quality·8000) in a
    * [0, 10000) bucket space, so the sample is reproducible under
    * retries/growth AND the acceptance threshold is bit-exact on both
    * engines (the quality expression is t02's fixed-form double).
    * Per-row filter, no shuffle.
    */
  def p08QualitySample(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val nTok = size(col("toks")).cast("double")
    val nStop = size(filter(col("toks"),
      t => t.isInCollection(Seq("the", "a", "and", "of", "to")))).cast("double")
    val nDist = size(array_distinct(col("toks"))).cast("double")
    val lenFactor = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    val quality = lit(0.4) * (nDist / nTok) + lit(0.4) * lenFactor +
      lit(0.2) * (nStop / nTok)
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("quality", quality)
      .filter(PortableHash.tokenHash32(col("doc_id").cast("string")) % 10000 <
        floor(col("quality") * lit(8000.0)).cast("bigint"))
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val p08Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) AS n_stop,
       |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
       |    CAST(len(toks) AS DOUBLE) AS n_tok,
       |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_factor
       |  FROM t),
       |q AS (
       |  SELECT doc_id, lang,
       |    0.4 * (n_dist / n_tok) + 0.4 * len_factor + 0.2 * (n_stop / n_tok) AS quality
       |  FROM m)
       |SELECT doc_id, lang, quality FROM q
       |WHERE $h % 10000 < CAST(floor(quality * 8000.0) AS BIGINT)
       |ORDER BY doc_id ASC NULLS LAST""".stripMargin
  }

  private val ChunkW = 32 // context-window tokens per chunk
  private val ChunkS = 24 // stride (W - S = 8 tokens of overlap)

  /** p09: document chunking with overlap — the retrieval/packing
    * primitive that turns documents into fixed-width context windows:
    * W-token chunks every S tokens (trailing W−S tokens repeat into
    * the next chunk so no boundary context is lost). Chunk count is
    * derived with integer arithmetic (1 + ceil((n−W)/S) via int
    * division — no float rounding at the seam), then one generator
    * expands chunk indices and a slice projects each window. Per-row
    * generate + slice, no shuffle except the presentation sort; at
    * 100 TB chunking is embarrassingly parallel and output size is
    * input × ~W/S.
    */
  def p09ChunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tok", size(col("tk")))
      .withColumn("n_chunks",
        when(col("n_tok") <= ChunkW, lit(1)).otherwise(
          expr(s"(n_tok - $ChunkW + ${ChunkS - 1}) div $ChunkS") + 1))
      .select(col("doc_id"), col("lang"), col("tk"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("chunk", slice(col("tk"),
        (col("chunk_idx") * ChunkS + 1).cast("int"), lit(ChunkW)))
      .select(col("doc_id"), col("lang"), col("chunk_idx"),
        size(col("chunk")).as("n_chunk_tok"),
        array_join(col("chunk"), " ").as("chunk_text"))
      // generator output feeds a global sort: checkpoint so the range
      // sampler re-reads 5 scalar columns, not the re-run generator
      .localCheckpoint(false)
      .orderBy(col("doc_id").asc_nulls_last, col("chunk_idx").asc_nulls_last)

  val p09Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, tk,
       |    unnest(range(0, CASE WHEN n_tok <= $ChunkW THEN 1
       |      ELSE (n_tok - $ChunkW + ${ChunkS - 1}) // $ChunkS + 1 END)) AS chunk_idx
       |  FROM t)
       |SELECT doc_id, lang, chunk_idx,
       |  len(tk[chunk_idx * $ChunkS + 1 : chunk_idx * $ChunkS + $ChunkW]) AS n_chunk_tok,
       |  list_aggregate(tk[chunk_idx * $ChunkS + 1 : chunk_idx * $ChunkS + $ChunkW],
       |    'string_agg', ' ') AS chunk_text
       |FROM c
       |ORDER BY doc_id ASC NULLS LAST, chunk_idx ASC NULLS LAST""".stripMargin

  /** p10: temperature-tempered domain mixing — the corpus-composition
    * step: rebalance per-domain (language) mass toward the rare
    * domains by sampling domain d at rate min(1, t·√(max_n/n_d)) — the
    * α = 0.5 temperature reweighting, expressed WITHOUT cross-domain
    * sums so every arithmetic step (cast, divide, sqrt, multiply,
    * least, floor) is a single correctly-rounded IEEE op on both
    * engines. √ is exact IEEE (never pow(x, 0.5), which isn't).
    * Membership is the portable doc_id hash against an integer
    * threshold — reproducible under retries, repartitioning, and
    * growth, and bit-replayable by the oracle. The domain-rate table
    * is one tiny aggregate broadcast against the corpus: no extra
    * shuffle at 100 TB beyond the audit's own group-by.
    */
  def p10TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    val maxN = counts.agg(max(col("n_total")).as("max_n"))
    val rates = counts.crossJoin(broadcast(maxN))
      .withColumn("rate", least(lit(1.0),
        lit(0.5) * sqrt(col("max_n").cast("double") / col("n_total").cast("double"))))
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("kept",
        PortableHash.tokenHash32(col("doc_id").cast("string")) % 1000000 <
          floor(col("rate") * lit(1000000.0)).cast("bigint"))
      .groupBy(col("lang"))
      .agg(max(col("n_total")).as("n_total"),
        count(when(col("kept"), 1)).as("n_kept"),
        max(col("rate")).as("rate"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p10Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH c AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
       |m AS (SELECT max(n_total) AS max_n FROM c),
       |r AS (
       |  SELECT lang, n_total,
       |    least(CAST(1.0 AS DOUBLE), CAST(0.5 AS DOUBLE) *
       |      sqrt(CAST(max_n AS DOUBLE) / CAST(n_total AS DOUBLE))) AS rate
       |  FROM c CROSS JOIN m)
       |SELECT d.lang, max(r.n_total) AS n_total,
       |  count(CASE WHEN $h % 1000000 <
       |    CAST(floor(r.rate * CAST(1000000.0 AS DOUBLE)) AS BIGINT) THEN 1 END) AS n_kept,
       |  max(r.rate) AS rate
       |FROM documents d JOIN r USING (lang)
       |GROUP BY d.lang
       |ORDER BY d.lang ASC NULLS LAST""".stripMargin
  }

  /** p12: decontaminated train split — d09 DETECTS train/test leakage;
    * this is the pipeline step that acts on it: train documents
    * sharing ANY 5-token shingle with a test document are dropped, and
    * the output is the per-lang audit (train total, contaminated,
    * clean, surviving tokens) a corpus build reports. Scale shape:
    * shingles travel as 8-byte xxhash64 keys through one distinct and
    * one equi-join shuffle (never strings); the contaminated-id set —
    * bounded by the train-doc count, typically far smaller — comes
    * back to the fact table as a join the optimizer can broadcast.
    * Same hash-bucket split as p05/d09, so membership is reproducible
    * under re-runs and growth.
    */
  def p12DecontaminatedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val bucket = PortableHash.tokenHash32(col("doc_id").cast("string")) % 100
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tk", split(col("text"), " "))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val sh = docs
      .select(col("doc_id"), col("split"), explode(Dedup.shingles5).as("shingle"))
      .select(col("doc_id"), col("split"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    val testSh = sh.filter(col("split") === "test").select(col("sh")).distinct()
    val contaminated = sh.filter(col("split") === "train")
      .join(testSh, "sh")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1))
    docs.filter(col("split") === "train")
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
        count(col("hit")).as("n_contaminated"),
        count(when(col("hit").isNull, 1)).as("n_clean"),
        sum(when(col("hit").isNull, size(col("tk")))).as("clean_tokens"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p12Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tk,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM documents),
       |s AS (
       |  SELECT DISTINCT doc_id, split,
       |    unnest(CASE WHEN len(tk) >= 5
       |      THEN list_transform(range(1, len(tk) - 3),
       |        i -> list_aggregate(tk[i:i+4], 'string_agg', ' '))
       |      ELSE [] END) AS shingle
       |  FROM t),
       |test_sh AS (SELECT DISTINCT shingle FROM s WHERE split = 'test'),
       |bad AS (
       |  SELECT DISTINCT s.doc_id FROM s JOIN test_sh USING (shingle)
       |  WHERE s.split = 'train')
       |SELECT t.lang, count(*) AS n_train,
       |  count(bad.doc_id) AS n_contaminated,
       |  count(CASE WHEN bad.doc_id IS NULL THEN 1 END) AS n_clean,
       |  CAST(sum(CASE WHEN bad.doc_id IS NULL THEN len(tk) END) AS BIGINT) AS clean_tokens
       |FROM t LEFT JOIN bad USING (doc_id)
       |WHERE t.split = 'train'
       |GROUP BY t.lang
       |ORDER BY t.lang ASC NULLS LAST""".stripMargin
  }

  /** p13: epoch-based upsampling — p10's complement: rare domains are
    * balanced UP to the largest domain's mass by repeating documents
    * (the "epochs per source" knob of real data mixtures), capped at
    * 4 epochs per the standard repeat-tolerance rule. Each doc gets
    * floor(r) full copies plus one more iff its portable hash lands
    * under the fractional remainder — so the replicated corpus is
    * reproducible under retries/growth and the oracle can replay it
    * bit-for-bit. The rate table is one tiny broadcast; replication is
    * a per-row generator (output size = input × effective epochs, the
    * op's actual product); the audit census is one partial-aggregated
    * count shuffle.
    */
  def p13EpochMix(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val maxN = counts.agg(max(col("n")).as("target"))
    val rates = counts.crossJoin(broadcast(maxN))
      .withColumn("r", least(lit(4.0),
        col("target").cast("double") / col("n").cast("double")))
      .withColumn("fullv", floor(col("r")).cast("long"))
      .withColumn("ft",
        floor((col("r") - floor(col("r"))) * lit(1000000.0)).cast("long"))
      .select(col("lang"), col("fullv"), col("ft"))
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("copies", col("fullv") +
        when(PortableHash.tokenHash32(col("doc_id").cast("string")) % 1000000
          < col("ft"), 1L).otherwise(0L))
      .select(col("lang"), col("doc_id"),
        explode(sequence(lit(1L), col("copies"))).as("epoch"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_copies"),
        max(col("epoch")).as("max_epochs"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p13Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |m AS (SELECT max(n) AS target FROM c),
       |r AS (
       |  SELECT lang,
       |    least(CAST(4.0 AS DOUBLE), CAST(target AS DOUBLE) / CAST(n AS DOUBLE)) AS r
       |  FROM c CROSS JOIN m),
       |r2 AS (
       |  SELECT lang, CAST(floor(r) AS BIGINT) AS fullv,
       |    CAST(floor((r - floor(r)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS ft
       |  FROM r),
       |d AS (
       |  SELECT d.lang, d.doc_id,
       |    r2.fullv + (CASE WHEN $h % 1000000 < r2.ft THEN 1 ELSE 0 END) AS copies
       |  FROM documents d JOIN r2 USING (lang)),
       |e AS (
       |  SELECT lang, doc_id, unnest(range(1, copies + 1)) AS epoch FROM d)
       |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_copies,
       |  CAST(max(epoch) AS BIGINT) AS max_epochs
       |FROM e GROUP BY lang
       |ORDER BY lang ASC NULLS LAST""".stripMargin
  }

  /** p14: curriculum ordering — the deterministic training order a
    * curriculum-learning run consumes: documents are staged into
    * quality phases (clean/easy material first) by FIXED score
    * thresholds — no global ntile, so no single-task window at any
    * scale — and shuffled within each phase by the portable 32-bit
    * hash (reproducible across retries and cluster sizes, and
    * domain-interleaving by construction since the hash ignores lang/
    * source clumping). (phase, order_key, doc_id) is a total order:
    * a trainer reads the output in that order, no further sort state
    * needed. Entirely per-row — the only shuffle is the presentation
    * sort.
    */
  def p14CurriculumOrder(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => t.isInCollection(Seq("the", "a", "and", "of", "to")))).cast("double")
    val nDist = size(array_distinct(toks)).cast("double")
    val lenFactor = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    val quality = lit(0.4) * (nDist / nTok) + lit(0.4) * lenFactor +
      lit(0.2) * (nStop / nTok)
    Tables.documents(spark, sfDir)
      .withColumn("quality", quality)
      .withColumn("phase",
        when(col("quality") >= 0.8, 1)
          .when(col("quality") >= 0.6, 2)
          .when(col("quality") >= 0.4, 3)
          .otherwise(4))
      .withColumn("order_key",
        PortableHash.tokenHash32(col("doc_id").cast("string")))
      .select(col("phase"), col("order_key"), col("doc_id"),
        col("lang"), col("quality"))
      .orderBy(col("phase").asc_nulls_last, col("order_key").asc_nulls_last,
        col("doc_id").asc_nulls_last)
  }

  val p14Sql: String = {
    val h = PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |q AS (
       |  SELECT doc_id, lang,
       |    0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |    + 0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
       |    + 0.2 * (CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
       |             / CAST(len(toks) AS DOUBLE)) AS quality
       |  FROM t)
       |SELECT
       |  CAST(CASE WHEN quality >= 0.8 THEN 1 WHEN quality >= 0.6 THEN 2
       |            WHEN quality >= 0.4 THEN 3 ELSE 4 END AS INT) AS phase,
       |  $h AS order_key,
       |  doc_id, lang, quality
       |FROM q
       |ORDER BY phase ASC NULLS LAST, order_key ASC NULLS LAST, doc_id ASC NULLS LAST""".stripMargin
  }

  /** p11's token budget — one constant interpolated into BOTH the
    * Scala plan and the oracle SQL, so they cannot silently diverge.
    */
  private val P11Budget = 5000

  /** quality bands for p11's pre-prune: floor(quality·32). Band order
    * refines quality order (equal qualities land in the same band), so
    * whole low bands can be discarded before any per-row ordering.
    */
  private val P11Bands = 32

  /** p11: token-budget corpus selection — the data-selection step when
    * compute, not data, is the constraint: per language, admit
    * documents in descending quality order until the token budget is
    * spent (greedy selection, the standard practical policy). Quality
    * is t02/p08's fixed-form double — identical on both engines, so
    * the admission order and the cut line are bit-reproducible.
    *
    * The greedy cut does NOT need a running sum over the whole corpus
    * (lang has ~5 values — a per-lang window over the fact table is
    * one task per language at scale). Two-phase: (1) collapse the fact
    * table to per-(lang, quality-band) token partials and prefix-sum
    * that tiny table in descending band order; (2) keep only bands
    * whose START offset is inside the budget — every row of a later
    * band has cum_tok > budget by construction, so dropping them
    * cannot change the answer; (3) broadcast the surviving (lang,
    * band) keys back as a semi-filter and run the exact window over
    * the pruned remainder, whose size is bounded by budget tokens plus
    * one boundary band (corpus/32) — sub-fact-sized regardless of
    * corpus growth. Because every dropped row follows every kept row
    * in (quality desc, doc_id) order, the running sum over kept rows
    * IS the global running sum on those rows: the output is
    * bit-identical to the single-window form the oracle states.
    */
  def p11TokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    p11Of(Tables.documents(spark, sfDir), P11Budget)

  /** p11 over an arbitrary documents frame and budget — the entry
    * point the prefix-sum equivalence property test drives with random
    * inputs (the declared query stays on the oracle-shared constant).
    */
  def p11Of(docs: DataFrame, budget: Int): DataFrame = {
    val nTok = size(col("toks")).cast("double")
    val nStop = size(filter(col("toks"),
      t => t.isInCollection(Seq("the", "a", "and", "of", "to")))).cast("double")
    val nDist = size(array_distinct(col("toks"))).cast("double")
    val lenFactor = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    val quality = lit(0.4) * (nDist / nTok) + lit(0.4) * lenFactor +
      lit(0.2) * (nStop / nTok)
    val scored = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("quality", quality)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("band", floor(col("quality") * P11Bands).cast("int"))
      .select(col("lang"), col("band"), col("doc_id"), col("n_tok"), col("quality"))
    val wBand = Window.partitionBy(col("lang"))
      .orderBy(col("band").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptBands = scored.groupBy(col("lang"), col("band"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("band_start", sum(col("btok")).over(wBand) - col("btok"))
      .filter(col("band_start") < budget)
      .select(col("lang"), col("band"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc_nulls_last, col("doc_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(keptBands), Seq("lang", "band"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"), col("quality"))
      .orderBy(col("lang").asc_nulls_last, col("doc_id").asc_nulls_last)
  }

  val p11Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
      |m AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
      |    CAST(len(toks) AS DOUBLE) AS n_tok_d,
      |    CAST(len(toks) AS BIGINT) AS n_tok,
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_factor
      |  FROM t),
      |q AS (
      |  SELECT doc_id, lang, n_tok,
      |    0.4 * (n_dist / n_tok_d) + 0.4 * len_factor + 0.2 * (n_stop / n_tok_d) AS quality
      |  FROM m),
      |c AS (
      |  SELECT lang, doc_id, n_tok, quality,
      |    CAST(sum(n_tok) OVER (PARTITION BY lang
      |      ORDER BY quality DESC NULLS LAST, doc_id ASC NULLS LAST
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      |  FROM q)
      |SELECT lang, doc_id, n_tok, cum_tok, quality FROM c
      |WHERE cum_tok <= $P11Budget
      |ORDER BY lang ASC NULLS LAST, doc_id ASC NULLS LAST""".stripMargin

  /** p15: consistent per-stratum k-sample — the k docs with the
    * SMALLEST portable hash per language. Unlike rate-based p03/p04
    * (whose sample size drifts with stratum size), this pins exactly k
    * per stratum, and the hash order makes it CONSISTENT under corpus
    * growth: adding docs can only displace the largest-hash member,
    * never reshuffle the rest — the property that lets eval sets stay
    * stable across ingest runs. Runs on the native
    * [[graft.plans.TopKPerKey]] operator: O(k) state per stratum in
    * the partial phase, only ≤ k·partitions survivor rows shuffle —
    * the window-rank oracle formulation would sort every stratum.
    */
  def p15StratumSample(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("h", PortableHash.tokenHash32(col("doc_id").cast("string")))
    graft.plans.TopKPerKey.topKPerKey(docs,
        keyCols = Seq(col("lang")),
        orderCols = Seq(col("h").asc_nulls_last, col("doc_id").asc_nulls_last),
        k = 20)
      .select(col("lang"), col("doc_id"), col("h"))
      .orderBy(col("lang").asc_nulls_last, col("h").asc_nulls_last,
        col("doc_id").asc_nulls_last)
  }

  val p15Sql: String =
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |    ${PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, h,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY h ASC, doc_id ASC) AS rn
       |  FROM h)
       |SELECT lang, doc_id, h FROM r WHERE rn <= 20
       |ORDER BY lang ASC NULLS LAST, h ASC NULLS LAST, doc_id ASC NULLS LAST""".stripMargin

  /** p16: shard manifest — the artifact a dataset RELEASE ships: docs
    * assigned to fixed shards by portable hash, one manifest row per
    * shard carrying row count, byte mass, id range, and an
    * ORDER-INDEPENDENT content checksum (bit_xor of the portable
    * 32-bit content hash — xor commutes, so the checksum is identical
    * under any partitioning/merge order, the property that lets two
    * independently-written replicas be compared shard-by-shard without
    * re-reading payloads). One hash shuffle on the shard key; text
    * never moves — only its 8-byte hash does.
    */
  def p16ShardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, sfDir)
      .select(
        (PortableHash.tokenHash32(col("doc_id").cast("string")) % 8).as("shard"),
        col("doc_id"), col("n_chars"),
        PortableHash.tokenHash32(col("text")).as("ch"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        expr("bit_xor(ch)").as("content_checksum"))
      .orderBy(col("shard").asc_nulls_last)
  }

  val p16Sql: String =
    s"""WITH h AS (
       |  SELECT ${PortableHash.tokenHash32Sql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
       |    doc_id, n_chars,
       |    ${PortableHash.tokenHash32Sql("text")} AS ch
       |  FROM documents)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |  bit_xor(ch) AS content_checksum
       |FROM h GROUP BY shard
       |ORDER BY shard ASC NULLS LAST""".stripMargin

  /** p17: manifest-table round-trip — the corpus driven through the
    * FULL [[graft.sinks.ManifestTable]] commit protocol (initial
    * snapshot of the even half partitioned by lang → APPEND of the odd
    * half → COMPACT, three manifest versions) and read back through
    * the current manifest for a per-lang census. The oracle is the
    * same census on the source table directly, so a hash match proves
    * every row survived write/append/compact exactly once — the
    * oracle-gated twin of ManifestTableSpec's mechanism tests. The
    * table dir is session-unique scratch (two concurrent sessions
    * must not race each other's versions) and reclaimed at JVM exit.
    */
  def p17ManifestRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p17_manifest_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_"))
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0), table, Seq("lang"))
    // =!= 0, not === 1: Spark's % returns -1 for negative ids, which
    // would silently fall out of BOTH halves under === 1
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 =!= 0), table, Seq("lang"))
    graft.sinks.ManifestTable.compact(spark, table, Seq("lang"))
    graft.sinks.ManifestTable.read(spark, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p17Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p18Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p18: incremental aggregate maintenance — the materialized-view
    * refresh every 100 TB ETL runs instead of recomputing: an additive
    * per-lang census is kept as a [[graft.sinks.ManifestTable]] and
    * each arriving delta is folded in as
    * `merge = (state ∪ agg(delta)) regrouped` — work is delta-sized
    * plus AGG-sized (the state table has |lang| rows; the corpus is
    * never rescanned), and every refresh is a manifest version, so MV
    * state is auditable and rollback is `read(version = n-1)`. The
    * query drives two refreshes (even half, then odd half) and returns
    * the final state; the oracle computes the same census over the
    * whole table in one shot, so a hash match proves
    * fold(fold(∅, Δ₁), Δ₂) == agg(Δ₁ ∪ Δ₂) — the additivity contract.
    * State tables are per-invocation scratch (refresh mutates state,
    * so bench reps must not share one) reclaimed at JVM exit.
    */
  def p18IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p18_aggstate_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p18Invocation.incrementAndGet())
    def censusOf(d: DataFrame): DataFrame =
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    def refresh(delta: DataFrame): Unit = {
      val deltaAgg = censusOf(delta)
      val merged =
        if (graft.sinks.ManifestTable.currentVersion(spark, table) == 0) deltaAgg
        else graft.sinks.ManifestTable.read(spark, table)
          .unionByName(deltaAgg)
          .groupBy(col("lang"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("total_chars")).as("total_chars"))
      graft.sinks.ManifestTable.write(spark, merged, table): Unit
    }
    refresh(docs.filter(col("doc_id") % 2 === 0))
    refresh(docs.filter(col("doc_id") % 2 =!= 0))
    graft.sinks.ManifestTable.read(spark, table)
      .orderBy(col("lang").asc_nulls_last)
  }

  val p18Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p19Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p19: the manifest-table MAINTENANCE LOOP — the lifecycle a
    * production lake table actually lives (VERDICT r10 next-round #4):
    * a Structured Streaming ingest drives the corpus in as THREE
    * micro-batches through [[graft.sinks.ManifestTable.streamInto]]
    * (exactly-once foreachBatch sink, one delta commit per batch),
    * then the maintenance pass runs: `compact` (bin-pack into a fresh
    * replace snapshot), a post-compact REPLAY of an already-folded
    * micro-batch (the crash-recovery case — the per-txn-app watermark
    * preserved across the batch rewrite must swallow it; a double
    * count fails the oracle), and `vacuum(keepVersions = 1)`
    * reclaiming every superseded snapshot and log entry. The census
    * read back through the final manifest is oracle-checked against
    * the source table directly, so a hash match proves every document
    * survived ingest → compact → replay → vacuum exactly once.
    * Scratch is per-invocation (the loop mutates table state; bench
    * reps must not share one) and reclaimed at JVM exit.
    */
  def p19ManifestMaintenance(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sfDir)
    val root = graft.sinks.Sinks.sessionScratchPath(spark,
      "p19_maint_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p19Invocation.incrementAndGet())
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val watch = new Path(root, "watch")
    fs.mkdirs(watch)
    // stage the corpus as three single-file drops with pinned mtimes —
    // three deterministic micro-batches under maxFilesPerTrigger=1
    (0 until 3).foreach { i =>
      val stage = new Path(root, s"stage$i")
      docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = fs.listStatus(stage).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
      val dst = new Path(watch, s"chunk$i.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, 1000000L * (i + 1), -1)
    }
    val table = s"$root/table"
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    val q = graft.sinks.ManifestTable.streamInto(stream, table,
      s"$root/ckpt", Seq("lang"), txnAppId = "p19")
    try q.processAllAvailable()
    finally q.stop()
    graft.sinks.ManifestTable.compact(spark, table, Seq("lang"))
    // crash-recovery replay AFTER the rewrite: batch 0 is already
    // folded in, so this must be a no-op — the watermark survives
    // compaction or the census double-counts a third of the corpus
    graft.sinks.ManifestTable.appendStreamBatch(spark,
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), table,
      batchId = 0L, txnAppId = "p19", partitionCols = Seq("lang"))
    graft.sinks.ManifestTable.vacuum(spark, table, keepVersions = 1,
      graceMs = 0L)
    graft.sinks.ManifestTable.read(spark, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  /** Same census as p17 — the maintenance loop must be invisible to
    * the data.
    */
  val p19Sql: String = p17Sql

  /** Census shared by the manifest p-queries: per-lang counts, char
    * totals and id extremes — sensitive to any lost, duplicated or
    * corrupted row.
    */
  private def langCensus(df: DataFrame): DataFrame = df
    .groupBy(col("lang"))
    .agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      min(col("doc_id")).as("min_doc_id"),
      max(col("doc_id")).as("max_doc_id"))
    .orderBy(col("lang").asc_nulls_last)

  /** Two-value driver agg (the bounded, legitimate collect class):
    * min/max of one long column — the shared "derive a deterministic
    * threshold from the data" idiom of the manifest p-queries.
    */
  private def longBounds(df: DataFrame, c: String): (Long, Long) = {
    val r = df.agg(min(col(c)).as("mn"), max(col(c)).as("mx")).head()
    (r.getLong(0), r.getLong(1))
  }

  private def docIdBounds(docs: DataFrame): (Long, Long) =
    longBounds(docs, "doc_id")

  private val p20Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p20: FILE-LEVEL DATA SKIPPING through the manifest statistics —
    * the corpus committed as range-localized files (repartitionByRange
    * on doc_id gives every file a tight id range; each commit records
    * footer min/max per file in its manifest), then a selective range
    * read through [[graft.sinks.ManifestTable.readWhere]]: the
    * bottom-decile id predicate resolves against the manifest ranges
    * and SCANS ONLY the overlapping files — at 100 TB the difference
    * between a metadata walk + a few files and a full-table scan. The
    * oracle filters the source table directly, so a hash match proves
    * pruning dropped no qualifying row; ManifestSkippingSpec pins the
    * files-actually-skipped counts. Scratch is per-invocation.
    */
  def p20StatsSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p20_skip_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p20Invocation.incrementAndGet())
    val (mn, mx) = docIdBounds(docs)
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 =!= 0)
        .repartitionByRange(8, col("doc_id")), table)
    val cut = mn + (mx - mn) / 10
    langCensus(graft.sinks.ManifestTable.readWhere(spark, table,
      col("doc_id") <= cut))
  }

  val p20Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE doc_id <= (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) // 10
      |                 FROM documents)
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p21Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p21: row-level MERGE (upsert) on a manifest table, copy-on-write
    * at file granularity — the CDC-apply primitive at lake scale. The
    * even half of the corpus is committed range-localized; the merge
    * source carries UPDATES (every doc_id % 4 == 0 row with n_chars
    * bumped by 1000 — whole-row replacement) and INSERTS (the odd
    * half). [[graft.sinks.ManifestTable.merge]] prunes to the files
    * whose key ranges overlap the source, rewrites only the files that
    * actually hold matched keys, lands the source as fresh files, and
    * commits one add+remove delta. The oracle computes the expected
    * final state from the source table in one expression, so a hash
    * match proves update/insert/untouched rows all landed exactly
    * once. Scratch is per-invocation (merge mutates table state).
    */
  def p21ManifestMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p21_merge_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p21Invocation.incrementAndGet())
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    val updates = docs.filter(col("doc_id") % 4 === 0)
      .withColumn("n_chars", col("n_chars") + 1000)
    val inserts = docs.filter(col("doc_id") % 2 =!= 0)
    val src = updates.unionByName(inserts)
    // the same logical upsert split across BOTH physical strategies —
    // copy-on-write for one key half, MERGE-ON-READ (DV sidecar +
    // source appends, zero rewrites) for the other — so one oracle
    // hash gates that they agree exactly
    graft.sinks.ManifestTable.merge(spark,
      src.filter(col("doc_id") % 8 < 4), table, Seq("doc_id"))
    graft.sinks.ManifestTable.mergeVectors(spark,
      src.filter(col("doc_id") % 8 >= 4), table, Seq("doc_id"))
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  val p21Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000
      |                ELSE n_chars END) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents GROUP BY lang
      |ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p22Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p22: row-level DELETE on a manifest table, copy-on-write — GDPR
    * erasure / retention pruning as a lake operation. The corpus is
    * committed range-localized, then the bottom QUINTILE of ids is
    * deleted: manifest statistics prune to the files whose ranges
    * overlap the predicate, only the files actually containing
    * matching rows are rewritten without them, and the commit is one
    * add+remove delta — the files above the cut are never read,
    * rewritten, or mentioned. The oracle keeps exactly the complement
    * rows, so a hash match proves the delete removed everything it
    * should and nothing it should not. Scratch is per-invocation.
    */
  def p22ManifestDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p22_delete_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p22Invocation.incrementAndGet())
    val (mn, mx) = docIdBounds(docs)
    graft.sinks.ManifestTable.write(spark,
      docs.repartitionByRange(8, col("doc_id")), table)
    val cut = mn + (mx - mn) / 5
    graft.sinks.ManifestTable.delete(spark, table, col("doc_id") < cut)
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  val p22Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE doc_id >= (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) // 5
      |                 FROM documents)
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p23Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p23: the CATALYST-NATIVE manifest scan
    * ([[graft.sinks.ManifestTable.scan]] — a custom FileIndex inside a
    * standard parquet relation, the TahoeFileIndex architecture) as an
    * end-to-end query: the corpus committed range-localized across two
    * commits, then a PLAIN `.filter` over the scan — no special read
    * API — which Catalyst pushes into the FileIndex, pruning to the
    * files overlapping the middle-quintile id band at scan-planning
    * time (and on into parquet row-group pruning). The oracle filters
    * the source table directly, so a hash match proves scan-level
    * pruning plus schema/partition plumbing drop and invent nothing;
    * ManifestSkippingSpec pins the planned-file counts and the
    * PushedFilters line. Scratch is per-invocation.
    */
  def p23NativeScan(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p23_scan_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p23Invocation.incrementAndGet())
    val (mn, mx) = docIdBounds(docs)
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 =!= 0)
        .repartitionByRange(8, col("doc_id")), table)
    val lo = mn + (mx - mn) / 5
    val hi = mn + 2 * ((mx - mn) / 5)
    langCensus(graft.sinks.ManifestTable.scan(spark, table)
      .filter(col("doc_id") >= lo && col("doc_id") < hi))
  }

  val p23Sql: String =
    """WITH b AS (SELECT min(doc_id) AS mn,
      |  (max(doc_id) - min(doc_id)) // 5 AS q FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents, b
      |WHERE doc_id >= mn + q AND doc_id < mn + 2 * q
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p24Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p24: WRITE-TIME DATA CONTRACTS (the lake-pipeline expectations
    * pattern) — the corpus committed through
    * [[graft.sinks.ManifestTable.Expectation]]s: a `fail` contract
    * that holds (non-null ids — any violation would abort the commit
    * with the table untouched) and a `drop` contract that quarantines
    * the short-document tail (n_chars below the bottom-quartile cut),
    * with the dropped count recorded in the committed manifest
    * (ManifestSkippingSpec pins the audit trail via `history()`).
    * The census read back covers exactly the surviving rows; the
    * oracle applies the same threshold to the source table, so a hash
    * match proves the contract dropped precisely the violating rows.
    */
  def p24WriteExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.ManifestTable.Expectation
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p24_expect_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p24Invocation.incrementAndGet())
    val (mn, mx) = longBounds(docs, "n_chars")
    val cut = mn + (mx - mn) / 4
    graft.sinks.ManifestTable.write(spark, docs, table,
      expectations = Seq(
        Expectation("id_present", col("doc_id").isNotNull),
        Expectation("min_chars", col("n_chars") >= cut, Expectation.Drop)))
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  private val p25Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p25: the exactly-once CDF CONSUMER driven end-to-end — a
    * downstream job tailing a manifest table through
    * [[graft.sinks.ManifestTable.consumeChanges]]: initial snapshot
    * (write of the even half) consumed as the first delivery, an
    * append (odd half) consumed as a delta-sized second delivery, and
    * a third caught-up poll that must deliver NOTHING (the recorded
    * offset — committed transactionally in the table log — already
    * covers the range; a redelivery would double-count the census and
    * fail the hash). The union of deliveries must be exactly the
    * corpus: the oracle computes the one-shot census, so a hash match
    * proves each row was delivered exactly once across polls.
    * Scratch is per-invocation (consumption advances table state).
    */
  def p25CdfConsume(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p25_consume_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p25Invocation.incrementAndGet())
    var acc: DataFrame = null
    def drain(): Unit =
      graft.sinks.ManifestTable.consumeChanges(spark, table, "p25") {
        (d, _, _) => acc = if (acc == null) d else acc.unionByName(d)
      }: Unit
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0), table)
    drain() // initial snapshot delivery
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 =!= 0), table)
    drain() // delta delivery
    drain() // caught up: must be a no-op or the census double-counts
    langCensus(acc)
  }

  /** Same census as p17 — exactly-once consumption must reconstruct
    * the corpus.
    */
  val p25Sql: String = p17Sql

  private val p27Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p27: row-level DELETE as DELETION VECTORS (merge-on-read) — the
    * same bottom-quintile erasure as p22, but the commit is a parquet
    * sidecar of (file, row-index) pairs plus an O(touched files)
    * manifest delta: ZERO data files are rewritten
    * (DeletionVectorSpec pins file identity), and every read path
    * anti-joins the sidecar so the rows vanish logically. This is the
    * frequent-churn complement of copy-on-write: a point delete in a
    * 1 GB file commits kilobytes, and compaction later materializes
    * the vectors in one pass. The oracle keeps exactly the complement
    * rows — the same oracle as p22, so a hash match proves
    * merge-on-read and copy-on-write implement the SAME logical
    * delete. Scratch is per-invocation.
    */
  def p27DvDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p27_dv_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p27Invocation.incrementAndGet())
    val (mn, mx) = docIdBounds(docs)
    graft.sinks.ManifestTable.write(spark,
      docs.repartitionByRange(8, col("doc_id")), table)
    val cut = mn + (mx - mn) / 5
    graft.sinks.ManifestTable.deleteVectors(spark, table,
      col("doc_id") < cut)
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  /** Merge-on-read and copy-on-write must agree — same oracle as p22. */
  val p27Sql: String = p22Sql

  private val p28Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p28: row-level UPDATE, copy-on-write — the third member of the
    * row-level family (p21 merge, p22/p27 delete): the corpus is
    * committed range-localized, then every `doc_id % 4 == 0` row gets
    * `n_chars` bumped by 1000 IN PLACE via
    * [[graft.sinks.ManifestTable.update]] — stats prune to candidate
    * files, only files actually holding matching rows are rewritten
    * with the SET applied (non-matching rows in those files pass
    * through untouched), one add+remove delta commit. Logically this
    * is exactly p21's update half applied to the whole corpus, so the
    * oracle is p21's expression — a hash match proves UPDATE and
    * MERGE implement the same write semantics through different
    * rewrite paths. Scratch is per-invocation.
    */
  def p28Update(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p28_update_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p28Invocation.incrementAndGet())
    graft.sinks.ManifestTable.write(spark,
      docs.repartitionByRange(8, col("doc_id")), table)
    // the same logical bump split across BOTH physical strategies —
    // copy-on-write on one half of the matched set, merge-on-read
    // (deletion vectors + post-image appends, VERDICT r18 #3) on the
    // other — so one oracle hash gates that they agree exactly
    graft.sinks.ManifestTable.update(spark, table,
      col("doc_id") % 8 === 0,
      Map("n_chars" -> (col("n_chars") + 1000)))
    graft.sinks.ManifestTable.updateVectors(spark, table,
      col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0,
      Map("n_chars" -> (col("n_chars") + 1000)))
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  /** UPDATE-in-place and MERGE-as-update must agree — same oracle as
    * p21.
    */
  val p28Sql: String = p21Sql

  private val p29Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p29: SQL `UPDATE` TEXT end-to-end — p28's in-place bump issued as
    * the statement `UPDATE ... SET n_chars = n_chars + 1000 WHERE
    * doc_id % 4 = 0` against a registered catalog table: the injected
    * resolution rule rewrites the resolved V2 command onto
    * [[graft.sinks.ManifestTable.update]], so the SQL text gets the
    * same stats-pruned narrow rewrite (RowLevelSqlSpec pins file
    * identity through the SQL path). The oracle is p28's (= p21's)
    * expression — a hash match proves the SQL statement, the
    * programmatic update and the merge-as-update path share one write
    * semantics. Catalog name/warehouse per-invocation.
    */
  def p29SqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val inv = p29Invocation.incrementAndGet()
    val cat = s"p29lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p29_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    docs.createOrReplaceTempView("p29_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs AS
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */
         |  doc_id, lang, n_chars FROM p29_docs""".stripMargin)
    spark.sql(
      s"UPDATE $cat.corpus.docs SET n_chars = n_chars + 1000 " +
        "WHERE doc_id % 4 = 0")
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  /** The SQL text and the programmatic update must agree — p28's
    * (= p21's) oracle.
    */
  val p29Sql: String = p21Sql

  private val p30Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p30: SQL `MERGE INTO` TEXT end-to-end — p21's upsert issued as
    * the canonical whole-row statement (`WHEN MATCHED THEN UPDATE SET
    * * WHEN NOT MATCHED THEN INSERT *` on the doc_id key) against a
    * catalog table holding the even half: the rule maps it onto
    * [[graft.sinks.ManifestTable.merge]] (key-range pruned,
    * duplicate-key guarded). Same oracle as p21 — the SQL text and
    * the programmatic merge must produce identical tables.
    */
  def p30SqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val inv = p30Invocation.incrementAndGet()
    val cat = s"p30lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p30_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    docs.createOrReplaceTempView("p30_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs AS
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */
         |  doc_id, lang, n_chars FROM p30_docs
         |WHERE doc_id % 2 = 0""".stripMargin)
    spark.sql(
      s"""MERGE INTO $cat.corpus.docs t
         |USING (SELECT doc_id, lang, n_chars + 1000 AS n_chars
         |       FROM p30_docs WHERE doc_id % 4 = 0
         |       UNION ALL
         |       SELECT doc_id, lang, n_chars
         |       FROM p30_docs WHERE doc_id % 2 != 0) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  /** The SQL text and the programmatic merge must agree — p21's
    * oracle.
    */
  val p30Sql: String = p21Sql

  private val p31Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p31: the CDC MERGE statement — the text every Delta/Iceberg CDC
    * pipeline writes (`WHEN MATCHED AND op='D' THEN DELETE`,
    * conditional partial `UPDATE SET`, column-list `INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE`), against a catalog table holding
    * the even half of the corpus. The change feed updates `doc_id%6=2`
    * (+1000 chars), deletes `doc_id%6=0`, inserts the odd
    * `doc_id%3=0` docs; rows untouched by the feed with
    * `doc_id%10=4` are zeroed by the by-source clause. The resolution
    * rule maps the statement onto
    * [[graft.sinks.ManifestTable.mergeClauses]] (key-range + by-source
    * stats pruning, first-match clause order, duplicate-key guard,
    * O(changed files) rewrite). The oracle reconstructs the final
    * table with a join + set algebra, so a hash match proves every
    * clause's semantics end-to-end.
    */
  def p31SqlMergeCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val inv = p31Invocation.incrementAndGet()
    val cat = s"p31lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p31_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    docs.createOrReplaceTempView("p31_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs AS
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */
         |  doc_id, lang, n_chars FROM p31_docs
         |WHERE doc_id % 2 = 0""".stripMargin)
    spark.sql(
      s"""MERGE INTO $cat.corpus.docs t
         |USING (SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'U' AS op
         |       FROM p31_docs WHERE doc_id % 6 = 2
         |       UNION ALL
         |       SELECT doc_id, lang, n_chars, 'D' AS op
         |       FROM p31_docs WHERE doc_id % 6 = 0
         |       UNION ALL
         |       SELECT doc_id, lang, n_chars, 'I' AS op
         |       FROM p31_docs WHERE doc_id % 2 = 1 AND doc_id % 3 = 0) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
         |WHEN NOT MATCHED AND s.op = 'I' THEN
         |  INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars)
         |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 10 = 4 THEN
         |  UPDATE SET n_chars = 0""".stripMargin)
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  /** DuckDB reconstruction of the CDC merge: matched rows keep/take
    * the feed's value or die by op, by-source rows zero on the
    * condition, inserts are the feed's unmatched 'I' rows.
    */
  val p31Sql: String =
    """WITH tgt AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |cdc AS (
      |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'U' AS op
      |  FROM documents WHERE doc_id % 6 = 2
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'D' AS op
      |  FROM documents WHERE doc_id % 6 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 'I' AS op
      |  FROM documents WHERE doc_id % 2 = 1 AND doc_id % 3 = 0),
      |merged AS (
      |  SELECT t.doc_id, t.lang,
      |    CASE WHEN c.op IS NOT NULL THEN c.n_chars
      |         WHEN t.doc_id % 10 = 4 THEN 0
      |         ELSE t.n_chars END AS n_chars
      |  FROM tgt t LEFT JOIN cdc c ON t.doc_id = c.doc_id
      |  WHERE c.op IS NULL OR c.op <> 'D'
      |  UNION ALL
      |  SELECT c.doc_id, c.lang, c.n_chars
      |  FROM cdc c LEFT JOIN tgt t ON c.doc_id = t.doc_id
      |  WHERE t.doc_id IS NULL AND c.op = 'I')
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM merged GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p32Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p32: the ROW-LEVEL change feed — a lake table driven through the
    * full row-churn life cycle (bulk load, merge-on-read DV delete,
    * copy-on-write update, append) and then read back as change ROWS
    * via [[graft.sinks.ManifestTable.rowChanges]]: inserts for
    * appends, exact DV rows as deletes, and the update as
    * delete(pre-image) + insert(post-image) from the `exceptAll`
    * file diff — the `_change_type` contract downstream CDC consumers
    * need once rewrites exist (file-level CDF either fails or
    * full-resyncs there). The oracle reconstructs the accumulated
    * change log with set algebra over the source table, so a hash
    * match proves per-commit classification AND the pre/post images
    * row-exactly.
    */
  def p32RowCdf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p32Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p32_cdf_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    // v1: bulk load of the even half, range-localized
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    // v2: enable the row change feed — updates from here on record
    // PAIRED update_preimage/update_postimage change rows (the Delta
    // CDF contract, VERDICT r18 #5) instead of a delete+insert diff
    graft.sinks.ManifestTable.enableChangeFeed(spark, table)
    // v3: merge-on-read point deletes (no file rewritten)
    graft.sinks.ManifestTable.deleteVectors(spark, table,
      col("doc_id") % 10 === 0)
    // v4: copy-on-write update (narrow rewrite, materializes DVs on
    // the touched files)
    graft.sinks.ManifestTable.update(spark, table,
      col("doc_id") % 10 === 2,
      Map("n_chars" -> (col("n_chars") + 500)))
    // v5: append the odd %5 docs
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0), table)
    graft.sinks.ManifestTable.rowChanges(spark, table, 0)
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum("n_chars").cast("bigint").as("total_chars"))
      .orderBy(col("_change_type").asc, col("lang").asc_nulls_last)
  }

  /** DuckDB reconstruction of the accumulated row-level change log —
    * the UPDATE commit pins the PAIRED pre/post image tags.
    */
  val p32Sql: String =
    """WITH evens AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |changes AS (
      |  SELECT 'insert' AS _change_type, lang, n_chars FROM evens
      |  UNION ALL
      |  SELECT 'delete', lang, n_chars FROM evens WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', lang, n_chars FROM evens
      |  WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'update_postimage', lang, n_chars + 500 FROM evens
      |  WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'insert', lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 5 = 0)
      |SELECT _change_type, lang, count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM changes GROUP BY 1, 2
      |ORDER BY _change_type ASC, lang ASC NULLS LAST""".stripMargin

  private val p26Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p26: the SQL CATALOG surface — the corpus driven through a
    * registered [[graft.catalog.GraftCatalog]] with PURE SQL TEXT, no
    * Scala API in the data path: `CREATE TABLE ... AS SELECT` commits
    * the even half range-localized, `INSERT INTO ... SELECT` appends
    * the odd half through the same manifest protocol (schema
    * enforcement, per-file statistics), and the final `SELECT` with a
    * bottom-decile predicate reads back through the DSv2 scan, whose
    * FileIndex prunes non-overlapping files from the manifest
    * statistics at planning time (CatalogSpec pins the planned-file
    * count). The oracle filters the source table directly, so a hash
    * match proves the whole name-addressed path — create, append,
    * prune, scan — drops and invents nothing. Catalog name and
    * warehouse are per-invocation (catalog instances are cached by
    * name; a reused name would pin the first invocation's warehouse).
    */
  def p26SqlCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val inv = p26Invocation.incrementAndGet()
    val cat = s"p26lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p26_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val (mn, mx) = docIdBounds(docs)
    docs.createOrReplaceTempView("p26_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs AS
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */ doc_id, lang, n_chars
         |FROM p26_docs WHERE doc_id % 2 = 0""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.corpus.docs
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */ doc_id, lang, n_chars
         |FROM p26_docs WHERE doc_id % 2 != 0""".stripMargin)
    val cut = mn + (mx - mn) / 10
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |WHERE doc_id <= $cut
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  /** Same bottom-decile census as p20 — the catalog surface must be
    * invisible to the data.
    */
  val p26Sql: String = p20Sql

  val p24Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE n_chars >= (SELECT min(n_chars) + (max(n_chars) - min(n_chars)) // 4
      |                  FROM documents)
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p33Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p33: RESTORE as the rollback path (VERDICT r13 next-round #2),
    * driven END-TO-END through SQL text — CTAS loads the even half
    * through a registered catalog, `INSERT INTO` appends the odd-%5
    * slice, a bad `INSERT OVERWRITE` clobbers the table, and
    * `CALL cat.system.restore(...)` re-publishes the good version's
    * file list as the new head (log preserved; zero data rewritten —
    * restore re-points at the still-immutable files). The final
    * census reads the restored table; the oracle computes the GOOD
    * state directly from the source, so a hash match proves the
    * rollback recovered every row and invented none. The bad commit's
    * content (one wrong row) can appear in the result only if restore
    * failed — there is no overlap between the good and bad states.
    */
  def p33Restore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val inv = p33Invocation.incrementAndGet()
    val cat = s"p33lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p33_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p33_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs AS
         |SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */ doc_id, lang, n_chars
         |FROM p33_docs WHERE doc_id % 2 = 0""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.corpus.docs
         |SELECT doc_id, lang, n_chars
         |FROM p33_docs WHERE doc_id % 2 = 1 AND doc_id % 5 = 0""".stripMargin)
    val table = s"$wh/corpus/docs"
    val vGood = graft.sinks.ManifestTable.currentVersion(spark, table)
    // the bad commit: an overwrite that wipes the corpus
    spark.sql(
      s"INSERT OVERWRITE $cat.corpus.docs VALUES (CAST(-1 AS BIGINT), 'xx', 0)")
    spark.sql(
      s"CALL $cat.system.restore(table => 'corpus.docs', version => $vGood)")
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  /** The good pre-overwrite state, computed directly from the source. */
  val p33Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |WHERE doc_id % 2 = 0 OR (doc_id % 2 = 1 AND doc_id % 5 = 0)
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p34Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p34: the row-level change feed read from SQL TEXT via the
    * `table_changes(table, from[, to])` table-valued function
    * (VERDICT r13 next-round #6) — the SAME four-commit protocol as
    * p32 (bulk load, merge-on-read DV delete, copy-on-write update,
    * append), but with the change feed ENABLED, so the rewrites
    * persist commit-time change files and the TVF serves the
    * precomputed rows; the shared oracle (p32Sql) proves the SQL path
    * hash-equal to the programmatic `rowChanges`. The TVF arguments
    * are literals because they parameterize planning: the function
    * resolves which commit ranges to read before any row flows. The
    * TVF is injected by [[graft.GraftExtensions]], so p34 needs a
    * session built with it.
    */
  def p34TableChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p34Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p34_cdf_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    graft.sinks.ManifestTable.enableChangeFeed(spark, table)
    graft.sinks.ManifestTable.deleteVectors(spark, table,
      col("doc_id") % 10 === 0)
    graft.sinks.ManifestTable.update(spark, table,
      col("doc_id") % 10 === 2,
      Map("n_chars" -> (col("n_chars") + 500)))
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0), table)
    spark.sql(
      s"""SELECT _change_type, lang, count(*) AS n_rows,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM table_changes('$table', 0)
         |GROUP BY _change_type, lang
         |ORDER BY _change_type ASC, lang ASC NULLS LAST""".stripMargin)
  }

  /** Identical protocol to p32 → identical oracle. */
  val p34Sql: String = p32Sql

  private val p35Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p35: BLOOM-FILTER point lookup (VERDICT r13 next-round #5) — the
    * interactive query a lake serves constantly ("show me document X")
    * on a layout range statistics cannot prune: the corpus is HASH
    * repartitioned, so every file's doc_id min/max spans ~the whole
    * domain. The table declares `graft.bloom.columns=doc_id` at CREATE
    * (a sticky property — the SQL form is TBLPROPERTIES), commits
    * build one filter per file per declared column as a `blooms/`
    * parquet sidecar, and `readWhere` consults them for the IN-list:
    * files whose filter proves none of the three probe keys present
    * are dropped before any data I/O (no false negatives → sound;
    * ManifestSkippingSpec pins the measured ≥90% prune). The oracle
    * filters the source directly — a hash match proves bloom pruning
    * dropped nothing it shouldn't.
    */
  def p35BloomLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p35Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p35_bloom_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    graft.sinks.ManifestTable.create(spark, table, docs.schema,
      props = Map(
        graft.sinks.ManifestTable.BloomColumnsProp -> "doc_id"))
    graft.sinks.ManifestTable.append(spark, docs.repartition(16), table)
    val (mn, mx) = docIdBounds(docs)
    val probes = Seq(mn, mn + (mx - mn) / 2, mx).distinct
    graft.sinks.ManifestTable.readWhere(spark, table,
      col("doc_id").isin(probes: _*))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  val p35Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id = (SELECT min(doc_id) FROM documents)
      |   OR doc_id = (SELECT min(doc_id) +
      |        (max(doc_id) - min(doc_id)) // 2 FROM documents)
      |   OR doc_id = (SELECT max(doc_id) FROM documents)
      |ORDER BY doc_id""".stripMargin

  private val p36Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p36: `replaceWhere` — the ATOMIC BACKFILL primitive a training-
    * data pipeline runs daily ("recompute this slice and swap it in"):
    * one commit deletes every row of the bottom-half doc_id slice and
    * inserts its recomputed replacement (all parities, +1000 chars),
    * with the Delta contract that every incoming row must satisfy the
    * condition. Copy-on-write narrowing rewrites only the slice-
    * overlapping files (the corpus is range-localized on doc_id, so
    * ~half the files survive BY IDENTITY — ManifestSkippingSpec pins
    * that); no reader can observe the slice missing, because there is
    * no intermediate delete-only version. The oracle reconstructs the
    * swap with set algebra.
    */
  def p36ReplaceWhere(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p36Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p36_rw_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    val (mn, mx) = docIdBounds(docs)
    val cut = mn + (mx - mn) / 2
    graft.sinks.ManifestTable.replaceWhere(spark,
      docs.filter(col("doc_id") <= cut)
        .withColumn("n_chars", col("n_chars") + 1000),
      table, col("doc_id") <= cut)
    graft.sinks.ManifestTable.read(spark, table)
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_chars").cast("bigint")
          .as("total_chars"),
        org.apache.spark.sql.functions.min("doc_id").as("min_doc_id"),
        org.apache.spark.sql.functions.max("doc_id").as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p36Sql: String =
    """WITH cut AS (SELECT min(doc_id) +
      |  (max(doc_id) - min(doc_id)) // 2 AS c FROM documents),
      |swapped AS (
      |  SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents
      |  WHERE doc_id <= (SELECT c FROM cut)
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND doc_id > (SELECT c FROM cut))
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM swapped
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin
  private val p37Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p37: DYNAMIC PARTITION OVERWRITE (VERDICT r14 next-round #2) —
    * the everyday backfill form: "overwrite whatever partitions this
    * batch touches". Driven end-to-end through SQL text on a
    * registered catalog: CTAS loads the corpus partitioned by
    * `bkt = doc_id % 4`, then under
    * `partitionOverwriteMode=dynamic` one `INSERT OVERWRITE` carries a
    * recomputed batch touching ONLY partitions 0 and 1 (the
    * `doc_id % 10 < 5` half of them, +1000 chars) — those two
    * partitions are atomically replaced in a
    * single commit (the V2 `BatchWrite` → `commitDynamicOverwrite`
    * swap) while partitions 2 and 3 ride through file-identical
    * (CatalogSpec pins the byte-identity; at 100 TB the commit is
    * O(files in touched partitions), never O(table)). The oracle
    * reconstructs the swap with set algebra, so a hash match proves
    * the replace hit exactly the declared partitions: a row wrongly
    * surviving in bkt 0/1 or wrongly dropped from bkt 2/3 would shift
    * the census.
    */
  def p37DynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val inv = p37Invocation.incrementAndGet()
    val cat = s"p37lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p37_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p37_docs")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(
      s"""CREATE TABLE $cat.corpus.docs
         |(doc_id BIGINT, lang STRING, n_chars BIGINT, bkt BIGINT)
         |PARTITIONED BY (bkt)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.corpus.docs
         |SELECT doc_id, lang, n_chars, doc_id % 4 AS bkt
         |FROM p37_docs""".stripMargin)
    val prev =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // the backfill batch: recomputed rows for partitions 0 and 1 only
      // — and only the doc_id%10<5 SUBSET of them, so a hash match
      // proves full replacement (the %10>=5 originals of bkt 0/1 must
      // vanish), not a merge
      spark.sql(
        s"""INSERT OVERWRITE $cat.corpus.docs
           |SELECT doc_id, lang, n_chars + 1000, doc_id % 4 AS bkt
           |FROM p37_docs WHERE doc_id % 4 <= 1 AND doc_id % 10 < 5""".stripMargin)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  val p37Sql: String =
    """WITH swapped AS (
      |  SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM documents
      |  WHERE doc_id % 4 <= 1 AND doc_id % 10 < 5
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 4 > 1)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM swapped
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p38Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p38: zero-rewrite TYPE WIDENING (VERDICT r14 #4) — the
    * upstream-drift protocol a long-lived ingestion table hits: the
    * table is created in a NARROW era (doc_id / n_chars as INT — the
    * values fit), `ALTER COLUMN n_chars TYPE BIGINT` widens one column
    * by DDL, then the upstream feed drifts to BIGINT frames and an
    * append carrying a row only representable in the wide type
    * (doc_id, n_chars > int range) widens doc_id in the SAME zero-file
    * way — no existing file rewritten, the narrow files read cast-up.
    * The final aggregate must match DuckDB over the logical union:
    * long-served values over int-encoded parquet, exact. At 100 TB a
    * widening is one schema commit, never a table rewrite.
    */
  def p38TypeWidening(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p38Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p38_widen_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    // v1: the narrow era
    graft.sinks.ManifestTable.write(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("int").as("doc_id"), col("lang"),
          col("n_chars").cast("int").as("n_chars"))
        .repartitionByRange(4, col("doc_id")), table)
    // DDL widening of one column
    graft.sinks.ManifestTable.widenColumnType(spark, table, "n_chars",
      org.apache.spark.sql.types.LongType)
    // upstream drift: a BIGINT frame whose extra row needs the wide
    // type — widens doc_id via schema enforcement, zero files touched
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 1).unionByName(
        spark.range(1).select(lit(3000000000L).as("doc_id"),
          lit("zz").as("lang"), lit(4000000000L).as("n_chars"))), table)
    graft.sinks.ManifestTable.read(spark, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("total_chars"),
        max("doc_id").as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  val p38Sql: String =
    """WITH widened AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  UNION ALL
      |  SELECT 3000000000, 'zz', 4000000000)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(doc_id) AS max_doc_id
      |FROM widened
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p39Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p39: CONVERT TO GRAFT — adopt a pre-existing Hive-partitioned
    * parquet directory as a manifest table IN PLACE (zero data
    * movement, one metadata commit; the Delta `CONVERT TO DELTA`
    * recipe) and prove the adopted table is a first-class citizen:
    * name-addressed SQL reads it, an ordinary INSERT commits a
    * standard snapshot alongside the adopted layout, and the census
    * over both eras hash-matches DuckDB over the raw data. At 100 TB
    * this is the onboarding path: the bytes never move, only footer
    * statistics are read.
    */
  def p39Convert(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p39Invocation.incrementAndGet()
    val cat = s"p39lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p39_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // someone else's plain partitioned parquet, inside the warehouse
    docs.filter(col("doc_id") % 2 === 0)
      .write.partitionBy("lang").parquet(s"$wh/corpus/docs")
    docs.createOrReplaceTempView("p39_docs")
    spark.sql(s"CONVERT TO GRAFT $cat.corpus.docs").collect()
    // the recorded schema is discovery order: data cols then lang
    spark.sql(s"INSERT INTO $cat.corpus.docs " +
      "SELECT doc_id, n_chars, lang FROM p39_docs WHERE doc_id % 2 = 1")
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM $cat.corpus.docs
         |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin)
  }

  val p39Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  private val p40Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p40: the FULL row-level surface on a CONVERTED table — p39
    * proved adoption + scan + append; this drives the operations a
    * real migration runs NEXT, all against files that live in the
    * adopted Hive layout rather than `data/sN` snapshot dirs (ADVICE
    * r15 high: the read/rewrite funnel must not assume the native
    * layout). A plain `partitionBy("lang")` parquet dir holding the
    * even documents is adopted in place, then: a copy-on-write DELETE
    * removes `doc_id % 10 == 0` (stats-prune → hit-scan → narrow
    * rewrite, sources adopted files), an UPDATE bumps `n_chars` by
    * 1000 where `doc_id % 7 == 0` (rewrites adopted files with the
    * SET applied), an append commits the odd documents as a native
    * snapshot alongside, and a merge-on-read DELETE via deletion
    * vectors removes `doc_id % 9 == 0` across BOTH eras — so the
    * final census reads adopted files, rewritten files and native
    * files under one manifest with the DV anti-join keyed by the
    * layout-agnostic rel-path identity. Hash-exact vs DuckDB
    * replaying the same edits relationally.
    */
  def p40ConvertedLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p40_conv_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p40Invocation.incrementAndGet())
    // someone else's plain Hive-partitioned parquet, adopted in place
    docs.filter(col("doc_id") % 2 === 0)
      .write.partitionBy("lang").parquet(table)
    graft.sinks.ManifestTable.convertToGraft(spark, table)
    graft.sinks.ManifestTable.delete(spark, table,
      col("doc_id") % 10 === 0)
    graft.sinks.ManifestTable.update(spark, table,
      col("doc_id") % 7 === 0,
      Map("n_chars" -> (col("n_chars") + 1000)))
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 1), table)
    graft.sinks.ManifestTable.deleteVectors(spark, table,
      col("doc_id") % 9 === 0)
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  private val p41Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p41: SQL VIEWS over the graft catalog — a persisted view is
    * created with an UNQUALIFIED table reference from inside the
    * catalog's namespace (capture-time context), the session then
    * moves away, more rows land in the base table, and the census
    * SELECTs THROUGH the view plus a view-over-view — proving (a) the
    * view tracks the live table, (b) unqualified names resolve where
    * the view was DEFINED, not where it is read, and (c) nested
    * expansion. The oracle is the same census phrased relationally
    * over the raw documents. Views are metadata-only (one JSON
    * document under `_views/`) — at 100 TB a view costs nothing until
    * read, and then exactly its query's plan.
    */
  def p41View(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p41Invocation.incrementAndGet()
    val cat = s"p41lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p41_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    docs.filter(col("doc_id") % 3 =!= 0).createOrReplaceTempView("p41_seed")
    spark.sql(s"CREATE TABLE $cat.corpus.docs " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
    spark.sql(s"INSERT INTO $cat.corpus.docs SELECT * FROM p41_seed")
    // capture-time context: defined with an UNQUALIFIED base name
    spark.sql(s"USE $cat.corpus")
    try spark.sql(
      """CREATE VIEW long_docs AS
        |SELECT doc_id, lang, n_chars FROM docs WHERE n_chars >= 200"""
        .stripMargin)
    finally spark.sql("USE spark_catalog.default")
    // the view tracks the table: the remaining third lands AFTER
    docs.filter(col("doc_id") % 3 === 0)
      .createOrReplaceTempView("p41_rest")
    spark.sql(s"INSERT INTO $cat.corpus.docs SELECT * FROM p41_rest")
    // view-over-view: census through both expansions
    spark.sql(s"CREATE VIEW $cat.corpus.long_census AS " +
      s"SELECT lang, count(*) AS n_docs, " +
      s"CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      s"min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id " +
      s"FROM $cat.corpus.long_docs GROUP BY lang")
    spark.sql(s"SELECT * FROM $cat.corpus.long_census " +
      "ORDER BY lang ASC NULLS LAST")
  }

  private val p42Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shared lifecycle scaffolding for the row-level-SQL queries
    * (p42–p44): a fresh graft catalog + a `docs` table seeded with
    * the documents census columns, range-laid-out on doc_id so the
    * row-level narrowing has multiple files to prove itself against.
    */
  private def rowLevelLake(spark: SparkSession, sfDir: String,
      tag: String): String = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"${tag}lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      s"${tag}_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView(s"${tag}_seed")
    spark.sql(s"CREATE TABLE $cat.db.docs AS " +
      s"SELECT /*+ REPARTITION_BY_RANGE(8, doc_id) */ * FROM ${tag}_seed")
    cat
  }

  private def rowLevelCensus(spark: SparkSession, cat: String): DataFrame =
    spark.sql(s"SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "count(DISTINCT doc_id) AS n_ids, " +
      "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
      s"FROM $cat.db.docs GROUP BY lang ORDER BY lang ASC NULLS LAST")

  /** p42: SQL `DELETE FROM t WHERE k IN (SELECT ...)` — the first
    * row-level statement a user types past the canonical upsert
    * (VERDICT r17 #1). The IN-subquery exceeds the V2 filter-pushdown
    * surface, so the resolution rule routes it through the
    * condition-builder delete ([[graft.sinks.ManifestTable.deleteWhere]]):
    * the subquery reads a plain parquet file, so a re-read finds the
    * same rows and each read re-evaluates the condition instead of
    * pinning the matched row ids; only files CONTAINING matches
    * rewrite. The oracle is the same census with the delete phrased
    * as NOT IN.
    */
  def p42SqlDeleteSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = rowLevelLake(spark, sfDir, "p42")
    spark.sql(s"DELETE FROM $cat.db.docs WHERE doc_id IN " +
      s"(SELECT doc_id FROM p42_seed WHERE n_chars < 150)")
    rowLevelCensus(spark, cat)
  }

  val p42Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT doc_id) AS n_ids,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE n_chars < 150)
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** p43: SQL `UPDATE ... WHERE EXISTS (correlated subquery) AND
    * <plain conjunct>` — the correlated half of VERDICT r17 #1. The
    * EXISTS re-roots onto the identity-tagged scan (outer references
    * re-bound by name), the subquery-free conjunct still stats-prunes
    * candidates, and each read re-evaluates the condition: every leaf
    * is a plain parquet file, so no row ids are pinned
    * ([[graft.sinks.ManifestTable.updateWhere]]).
    */
  def p43SqlUpdateExists(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = rowLevelLake(spark, sfDir, "p43")
    spark.sql("SELECT lang FROM p43_seed GROUP BY lang " +
      "HAVING count(*) >= 70").createOrReplaceTempView("p43_boost")
    spark.sql(s"UPDATE $cat.db.docs d SET n_chars = n_chars + 500 " +
      "WHERE EXISTS (SELECT 1 FROM p43_boost b WHERE b.lang = d.lang) " +
      "AND n_chars < 400")
    rowLevelCensus(spark, cat)
  }

  val p43Sql: String =
    """WITH boost AS (
      |  SELECT lang FROM documents GROUP BY lang HAVING count(*) >= 70)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN lang IN (SELECT lang FROM boost)
      |    AND n_chars < 400 THEN n_chars + 500 ELSE n_chars END)
      |    AS BIGINT) AS total_chars,
      |  count(DISTINCT doc_id) AS n_ids,
      |  min(CASE WHEN lang IN (SELECT lang FROM boost) AND n_chars < 400
      |    THEN n_chars + 500 ELSE n_chars END) AS min_chars,
      |  max(CASE WHEN lang IN (SELECT lang FROM boost) AND n_chars < 400
      |    THEN n_chars + 500 ELSE n_chars END) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** p44: `MERGE INTO ... ON t.k = s.k AND <extra conjunct>` — the
    * non-canonical ON shape (VERDICT r17 #1). The extra conjunct is
    * the PAIR-level match condition: a key-equal pair failing it is
    * NOT matched, so the source row INSERTs (here: a duplicate-id
    * tombstone row) and the target row falls to the BY SOURCE delete
    * — exactly the SQL contract, all three clause families in one
    * statement. The join itself still shuffles on the key only.
    */
  def p44SqlMergeExtraOn(spark: SparkSession, sfDir: String): DataFrame = {
    val cat = rowLevelLake(spark, sfDir, "p44")
    spark.sql("SELECT doc_id, lang, n_chars + 37 AS n_chars " +
      "FROM p44_seed WHERE doc_id % 5 = 0")
      .createOrReplaceTempView("p44_src")
    spark.sql(
      s"""MERGE INTO $cat.db.docs t USING p44_src s
         |ON t.doc_id = s.doc_id AND s.n_chars % 2 = 0
         |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1000
         |WHEN NOT MATCHED THEN
         |  INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, -s.n_chars)
         |WHEN NOT MATCHED BY SOURCE AND t.n_chars > 500 THEN DELETE
         |""".stripMargin)
    rowLevelCensus(spark, cat)
  }

  val p44Sql: String =
    """WITH src AS (
      |  SELECT doc_id, lang, n_chars + 37 AS n_chars
      |  FROM documents WHERE doc_id % 5 = 0),
      |tgt AS (SELECT doc_id, lang, n_chars FROM documents),
      |matched AS (
      |  SELECT t.doc_id FROM tgt t
      |  JOIN src s ON t.doc_id = s.doc_id AND s.n_chars % 2 = 0),
      |kept AS (
      |  SELECT t.doc_id, t.lang,
      |    CASE WHEN t.doc_id IN (SELECT doc_id FROM matched)
      |      THEN t.n_chars + 1000 ELSE t.n_chars END AS n_chars
      |  FROM tgt t
      |  WHERE t.doc_id IN (SELECT doc_id FROM matched)
      |    OR NOT (t.n_chars > 500)),
      |ins AS (
      |  SELECT s.doc_id, s.lang, -s.n_chars AS n_chars FROM src s
      |  WHERE NOT EXISTS (SELECT 1 FROM tgt t
      |    WHERE t.doc_id = s.doc_id AND s.n_chars % 2 = 0)),
      |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT doc_id) AS n_ids,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM merged GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** p45: NESTED-TYPE SCHEMA EVOLUTION as zero-file commits (VERDICT
    * r17 #2) — a table created with a struct<len INT, lang STRING>
    * column takes a nested ADD (`meta.grade`), a nested WIDEN
    * (`meta.len` INT→BIGINT) and a nested RENAME (`meta.lang` →
    * `language`) through SQL ALTER TABLE, then ingests the second
    * half of the corpus under the evolved shape with values that only
    * fit the widened leaf. The census reads THROUGH the evolution:
    * old files null-fill the added field, read their narrow bytes
    * widened, and serve the renamed field from its stamped physical
    * name. The oracle phrases the same lifecycle as a flat union.
    */
  def p45NestedEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p45lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p45_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p45_seed")
    spark.sql(s"CREATE TABLE $cat.db.docs AS " +
      "SELECT doc_id, named_struct('len', CAST(n_chars AS INT), " +
      "'lang', lang) AS meta FROM p45_seed WHERE doc_id % 2 = 0")
    spark.sql(s"ALTER TABLE $cat.db.docs ADD COLUMNS (meta.grade STRING)")
    spark.sql(s"ALTER TABLE $cat.db.docs ALTER COLUMN meta.len TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.db.docs RENAME COLUMN meta.lang TO language")
    spark.sql(s"INSERT INTO $cat.db.docs " +
      "SELECT doc_id, named_struct(" +
      "'len', CAST(n_chars AS BIGINT) + 1000000000000, " +
      "'language', lang, " +
      "'grade', CASE WHEN n_chars >= 200 THEN 'long' ELSE 'short' END" +
      ") AS meta FROM p45_seed WHERE doc_id % 2 = 1")
    spark.sql(s"SELECT meta.language AS lang, count(*) AS n_docs, " +
      "CAST(sum(meta.len) AS BIGINT) AS total_len, " +
      "count(meta.grade) AS n_graded, min(meta.len) AS min_len " +
      s"FROM $cat.db.docs GROUP BY meta.language " +
      "ORDER BY lang ASC NULLS LAST")
  }

  val p45Sql: String =
    """WITH unioned AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
      |    lang AS language, NULL AS grade
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(n_chars AS BIGINT) + 1000000000000,
      |    lang, CASE WHEN n_chars >= 200 THEN 'long' ELSE 'short' END
      |  FROM documents WHERE doc_id % 2 = 1)
      |SELECT language AS lang, count(*) AS n_docs,
      |  CAST(sum(len) AS BIGINT) AS total_len,
      |  count(grade) AS n_graded, min(len) AS min_len
      |FROM unioned GROUP BY language ORDER BY lang ASC NULLS LAST"""
      .stripMargin

  /** p46: SHALLOW CLONE lifecycle (VERDICT r17 #3) — a documents lake
    * table is cloned zero-copy (`CREATE TABLE ... SHALLOW CLONE`), the
    * clone alone takes a DELETE (copy-on-write against ADOPTED files)
    * and an INSERT, and the census then compares source vs clone per
    * language: the source must still see every original row (full
    * isolation), the clone the edited set. The oracle phrases both
    * sides from the base table directly.
    */
  def p46ShallowClone(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p46lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p46_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p46_seed")
    spark.sql(s"CREATE TABLE $cat.db.src AS SELECT * FROM p46_seed")
    spark.sql(s"CREATE TABLE $cat.db.dev SHALLOW CLONE $cat.db.src")
    spark.sql(s"DELETE FROM $cat.db.dev WHERE n_chars < 100")
    spark.sql(s"INSERT INTO $cat.db.dev " +
      "SELECT doc_id + 1000000, lang, n_chars + 10000 " +
      "FROM p46_seed WHERE n_chars >= 500")
    spark.sql(
      s"""SELECT s.lang,
         |  s.n_docs AS src_docs, s.total_chars AS src_chars,
         |  coalesce(d.n_docs, 0) AS dev_docs,
         |  coalesce(d.total_chars, 0) AS dev_chars
         |FROM (SELECT lang, count(*) AS n_docs,
         |        CAST(sum(n_chars) AS BIGINT) AS total_chars
         |      FROM $cat.db.src GROUP BY lang) s
         |LEFT JOIN (SELECT lang, count(*) AS n_docs,
         |        CAST(sum(n_chars) AS BIGINT) AS total_chars
         |      FROM $cat.db.dev GROUP BY lang) d
         |  ON s.lang <=> d.lang
         |ORDER BY s.lang ASC NULLS LAST""".stripMargin)
  }

  val p46Sql: String =
    """WITH dev AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 100
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, n_chars + 10000
      |  FROM documents WHERE n_chars >= 500),
      |s AS (SELECT lang, count(*) AS n_docs,
      |        CAST(sum(n_chars) AS BIGINT) AS total_chars
      |      FROM documents GROUP BY lang),
      |d AS (SELECT lang, count(*) AS n_docs,
      |        CAST(sum(n_chars) AS BIGINT) AS total_chars
      |      FROM dev GROUP BY lang)
      |SELECT s.lang, s.n_docs AS src_docs, s.total_chars AS src_chars,
      |  coalesce(d.n_docs, 0) AS dev_docs,
      |  coalesce(d.total_chars, 0) AS dev_chars
      |FROM s LEFT JOIN d ON s.lang IS NOT DISTINCT FROM d.lang
      |ORDER BY s.lang ASC NULLS LAST""".stripMargin

  /** p47: COPY INTO lifecycle (VERDICT r17 #4) — a landing directory
    * is drained incrementally: the first half of the corpus lands and
    * loads, a re-run loads NOTHING (per-file watermarks in the
    * manifest txn map), the second half arrives as new files and
    * loads exactly once. The census is hash-exact against the full
    * corpus — any duplicate or dropped file breaks it.
    */
  def p47CopyInto(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p47lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p47_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    val land = graft.sinks.Sinks.sessionScratchPath(spark,
      "p47_land_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
    val seed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("bigint").as("n_chars"))
    seed.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(land)
    spark.sql(s"COPY INTO $cat.db.docs FROM '$land'")
    spark.sql(s"COPY INTO $cat.db.docs FROM '$land'") // no-op re-run
    seed.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(land) // the dir grows
    spark.sql(s"COPY INTO $cat.db.docs FROM '$land'")
    spark.sql(s"SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "count(DISTINCT doc_id) AS n_distinct " +
      s"FROM $cat.db.docs GROUP BY lang ORDER BY lang ASC NULLS LAST")
  }

  val p47Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT doc_id) AS n_distinct
      |FROM documents GROUP BY lang ORDER BY lang ASC NULLS LAST"""
      .stripMargin

  /** p48: column DEFAULTs end-to-end (VERDICT r17 missing #6) — half
    * the corpus lands, `ALTER TABLE ADD COLUMN source STRING DEFAULT
    * 'archive'` freezes an existence default over it (zero files
    * rewritten), the second half inserts under a CHANGED current
    * default ('fresh'), and a third slice inserts an explicit value.
    * The census groups by the default-served column: pre-existing
    * rows MUST read the frozen 'archive', later inserts the current
    * 'fresh' — a null or a swap breaks the hash.
    */
  def p48DefaultColumns(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p48lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p48_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p48_seed")
    spark.sql(s"CREATE TABLE $cat.db.docs " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.docs " +
      "SELECT doc_id, lang, n_chars FROM p48_seed WHERE doc_id % 3 = 0")
    spark.sql(s"ALTER TABLE $cat.db.docs " +
      "ADD COLUMN source STRING DEFAULT 'archive'")
    spark.sql(s"ALTER TABLE $cat.db.docs " +
      "ALTER COLUMN source SET DEFAULT 'fresh'")
    spark.sql(s"INSERT INTO $cat.db.docs (doc_id, lang, n_chars) " +
      "SELECT doc_id, lang, n_chars FROM p48_seed WHERE doc_id % 3 = 1")
    spark.sql(s"INSERT INTO $cat.db.docs " +
      "SELECT doc_id, lang, n_chars, 'manual' FROM p48_seed " +
      "WHERE doc_id % 3 = 2")
    spark.sql(s"SELECT source, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "count(DISTINCT lang) AS n_langs " +
      s"FROM $cat.db.docs GROUP BY source ORDER BY source")
  }

  val p48Sql: String =
    """WITH tagged AS (
      |  SELECT n_chars, lang, 'archive' AS source FROM documents
      |  WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT n_chars, lang, 'fresh' FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT n_chars, lang, 'manual' FROM documents WHERE doc_id % 3 = 2)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT lang) AS n_langs
      |FROM tagged GROUP BY source ORDER BY source""".stripMargin

  /** p49: GENERATED + IDENTITY columns (VERDICT r17 missing #6) — the
    * docs table declares a surrogate key `row_id GENERATED ALWAYS AS
    * IDENTITY` and a derived `size_class GENERATED ALWAYS AS (...)`;
    * two separate INSERT waves land without either column. The census
    * groups by the GENERATED class (deterministic, so hash-exact) and
    * proves the identity column assigned a distinct value to every
    * row (`n_ids` = count — any collision breaks the hash).
    */
  def p49GeneratedIdentity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p49lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p49_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("p49_seed")
    spark.sql(s"CREATE TABLE $cat.db.docs (" +
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "doc_id BIGINT, lang STRING, n_chars BIGINT, " +
      "size_class STRING GENERATED ALWAYS AS (" +
      "CASE WHEN n_chars >= 500 THEN 'large' " +
      "WHEN n_chars >= 150 THEN 'medium' ELSE 'small' END))")
    spark.sql(s"INSERT INTO $cat.db.docs (doc_id, lang, n_chars) " +
      "SELECT doc_id, lang, n_chars FROM p49_seed WHERE doc_id % 2 = 0")
    spark.sql(s"INSERT INTO $cat.db.docs (doc_id, lang, n_chars) " +
      "SELECT doc_id, lang, n_chars FROM p49_seed WHERE doc_id % 2 = 1")
    spark.sql(s"SELECT size_class, count(*) AS n_docs, " +
      "count(DISTINCT row_id) AS n_ids, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars " +
      s"FROM $cat.db.docs GROUP BY size_class ORDER BY size_class")
  }

  val p49Sql: String =
    """SELECT CASE WHEN n_chars >= 500 THEN 'large'
      |  WHEN n_chars >= 150 THEN 'medium' ELSE 'small' END AS size_class,
      |  count(*) AS n_docs, count(*) AS n_ids,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1 ORDER BY size_class""".stripMargin

  /** p50: AUTO-COMPACT + WRITE CLUSTERING lifecycle — a table
    * declaring `graft.write.clusterBy` and `graft.autoCompact.*`
    * takes ten small INSERT waves; the post-commit compactions
    * (dataChange = false bin-packs) and the per-write clustering
    * exchanges must be PURE reorganizations: the census is hash-exact
    * against the raw corpus — any lost or duplicated row under the
    * rewrite machinery breaks it.
    */
  def p50AutoCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p50lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p50_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) TBLPROPERTIES (" +
      "'graft.write.clusterBy' = 'doc_id', " +
      "'graft.autoCompact.enabled' = 'true', " +
      "'graft.autoCompact.minFiles' = '6')")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("bigint").as("n_chars"))
      .createOrReplaceTempView("p50_seed")
    (0 until 10).foreach { k =>
      spark.sql(s"INSERT INTO $cat.db.docs " +
        s"SELECT doc_id, lang, n_chars FROM p50_seed WHERE doc_id % 10 = $k")
    }
    spark.sql(s"SELECT lang, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "count(DISTINCT doc_id) AS n_distinct, " +
      "CAST(min(doc_id) AS BIGINT) AS min_id, " +
      "CAST(max(doc_id) AS BIGINT) AS max_id " +
      s"FROM $cat.db.docs GROUP BY lang ORDER BY lang ASC NULLS LAST")
  }

  val p50Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  count(DISTINCT doc_id) AS n_distinct,
      |  CAST(min(doc_id) AS BIGINT) AS min_id,
      |  CAST(max(doc_id) AS BIGINT) AS max_id
      |FROM documents GROUP BY lang ORDER BY lang ASC NULLS LAST"""
      .stripMargin

  val p41Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM documents WHERE n_chars >= 200
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  val p40Sql: String =
    """WITH edited AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
      |      AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM edited WHERE doc_id % 9 <> 0
      |GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** p51: DECIMAL data skipping end-to-end (VERDICT r18 #1) — a
    * money-typed `DECIMAL(14,2)` column, price-clustered on write
    * (`graft.write.clusterBy`) so every file covers a tight decimal
    * range, then a selective range predicate served through the
    * native catalog scan: the manifest's decimal footer statistics
    * (parquet stores the unscaled integer exactly; bounds decode to
    * BigDecimal) prune the non-overlapping files before any row is
    * read — the dominant fact-table filter shape at 100 TB. The
    * decimal is derived from the double price via `floor(x*100)/100`
    * (exact in both engines — no rounding-tie dependence) and the
    * aggregates return exact integer CENTS, so the DuckDB comparison
    * never rides decimal-rendering or tie-rounding details.
    */
  def p51DecimalSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val inv = p42Invocation.incrementAndGet()
    val cat = s"p51lake$inv"
    val wh = graft.sinks.Sinks.sessionScratchPath(spark,
      "p51_wh_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // the liquid-clustering DDL spelling (round 19): CLUSTER BY maps
    // onto the write-clustering property, so the oracle hash also
    // gates the DDL round-trip end to end
    spark.sql(s"CREATE TABLE $cat.db.prices " +
      "(ok BIGINT, flag STRING, price DECIMAL(14,2)) " +
      "CLUSTER BY (price)")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("ok"), col("l_returnflag").as("flag"),
        expr("CAST(floor(l_extendedprice * 100) / 100 AS DECIMAL(14,2))")
          .as("price"))
      .createOrReplaceTempView("p51_seed")
    spark.sql(
      s"INSERT INTO $cat.db.prices SELECT ok, flag, price FROM p51_seed")
    spark.sql(s"SELECT flag, count(*) AS n_rows, " +
      "CAST(sum(price) * 100 AS BIGINT) AS sum_cents, " +
      "CAST(min(price) * 100 AS BIGINT) AS min_cents, " +
      "CAST(max(price) * 100 AS BIGINT) AS max_cents " +
      s"FROM $cat.db.prices WHERE price >= 900.00 AND price < 1500.00 " +
      "GROUP BY flag ORDER BY flag ASC NULLS LAST")
  }

  private val p52Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p52: the MERGE-ON-READ DML family end-to-end — delete, update
    * and clause MERGE all routed through deletion vectors by the
    * mode properties (zero file rewrites; each commit = one DV
    * sidecar + post-image appends), with the row change feed on, so
    * the accumulated CDF census pins every physical path AND the
    * paired update tags at once. The DuckDB oracle reconstructs the
    * exact change log; a hash match proves the DV-backed lifecycle
    * produced precisely the row effects the copy-on-write one would.
    */
  def p52MorRowOps(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    import graft.sinks.ManifestTable
    import graft.sinks.ManifestTable.{MatchedClause, NotMatchedClause}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val inv = p52Invocation.incrementAndGet()
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p52_mor_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + inv)
    ManifestTable.write(spark, // v1: bulk load, range-localized
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(8, col("doc_id")), table)
    ManifestTable.updateProperties(spark, table, Map( // v2
      ManifestTable.DeleteModeProp -> "merge-on-read",
      ManifestTable.UpdateModeProp -> "merge-on-read",
      ManifestTable.MergeModeProp -> "merge-on-read",
      ManifestTable.ChangeFeedProp -> "true"))
    // v3: MoR delete (DV sidecar, no rewrite)
    ManifestTable.delete(spark, table, col("doc_id") % 10 === 0)
    // v4: MoR update (DV + post-image append, paired CDF tags)
    ManifestTable.update(spark, table, col("doc_id") % 10 === 2,
      Map("n_chars" -> (col("n_chars") + 500)))
    // v5: MoR clause merge — DELETE, conditional UPDATE, INSERT
    val src = docs.filter(
      (col("doc_id") % 2 === 0 &&
        (col("doc_id") % 10 === 4 || col("doc_id") % 10 === 6)) ||
        (col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0))
      .withColumn("op", when(col("doc_id") % 10 === 4, "D")
        .when(col("doc_id") % 10 === 6, "U").otherwise("I"))
    ManifestTable.mergeClauses(spark, src, table, Seq("doc_id" -> "doc_id"),
      matched = Seq(
        MatchedClause(Some(col("s.op") === "D"), None),
        MatchedClause(Some(col("s.op") === "U"),
          Some(Map("n_chars" -> (col("t.n_chars") + 100))))),
      notMatched = Seq(NotMatchedClause(Some(col("s.op") === "I"),
        Map("doc_id" -> col("s.doc_id"), "lang" -> col("s.lang"),
          "n_chars" -> col("s.n_chars")))))
    ManifestTable.rowChanges(spark, table, 0)
      .groupBy(col("_change_type"), col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum("n_chars").cast("bigint").as("total_chars"))
      .orderBy(col("_change_type").asc, col("lang").asc_nulls_last)
  }

  private val p53Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p53: READ-ONLY DELTA TABLE ADOPTION (VERDICT r19 #1 — the #1
    * interop ask of any new engine: real lake estates are Delta, and
    * in-place adoption queries them without copying a byte). The query
    * hand-builds a genuine minimal Delta table — Hive-layout parquet
    * plus a `_delta_log` in the public delta.io commit format (commit
    * 0: protocol + metaData + adds; commit 1: more adds + a REMOVE of
    * the whole `lang=en` even slice) — adopts it through the generic
    * `convertToGraft` entry point (which auto-detects the log), lands
    * a post-adoption graft append on top, and runs the language census
    * over the mixed adopted+native snapshot. Hash-exact vs DuckDB
    * replaying the same add/remove/append set relationally — proving
    * the log resolution (removes honored), the layout adoption, and
    * the first-class post-adopt write path at once.
    */
  def p53DeltaAdopt(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p53_delta_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p53Invocation.incrementAndGet())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def listFiles(): Seq[String] = {
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
    def addLine(rel: String): String = {
      val n = mapper.createObjectNode()
      val a = n.putObject("add")
      a.put("path", rel)
      val pv = a.putObject("partitionValues")
      pv.put("lang", rel.split("/").head.split("=", 2)(1))
      a.put("size", 1L)
      a.put("modificationTime", 1700000000000L)
      a.put("dataChange", true)
      mapper.writeValueAsString(n)
    }
    def commit(v: Long, lines: Seq[String]): Unit = {
      val dir = java.nio.file.Paths.get(table, "_delta_log")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(f"$v%020d.json"),
        lines.mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8)): Unit
    }
    // the foreign engine's table: even docs, one file per lang dir
    docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).write.partitionBy("lang").parquet(table)
    val era1 = listFiles()
    val head = {
      val n = mapper.createObjectNode()
      val p = n.putObject("protocol")
      p.put("minReaderVersion", 1)
      p.put("minWriterVersion", 2)
      val m2 = mapper.createObjectNode()
      val md = m2.putObject("metaData")
      md.put("id", "0f5c3e86-6f1e-4d41-9d9e-000000000053")
      md.putObject("format").put("provider", "parquet")
      md.put("schemaString", docs.schema.json)
      md.putArray("partitionColumns").add("lang")
      md.putObject("configuration")
      Seq(mapper.writeValueAsString(n), mapper.writeValueAsString(m2))
    }
    commit(0, head ++ era1.map(addLine))
    // commit 1: the odd docs land; the even `lang=en` file is removed
    docs.filter(col("doc_id") % 2 === 1)
      .repartition(1).write.mode("append").partitionBy("lang").parquet(table)
    val era2 = listFiles().diff(era1)
    val removedRel = era1.find(_.startsWith("lang=en/")).get
    val rm = {
      val n = mapper.createObjectNode()
      val r = n.putObject("remove")
      r.put("path", removedRel)
      r.put("deletionTimestamp", 1700000001000L)
      r.put("dataChange", true)
      mapper.writeValueAsString(n)
    }
    commit(1, era2.map(addLine) :+ rm)
    // adopt via the GENERIC entry point — it must detect the log
    graft.sinks.ManifestTable.convertToGraft(spark, table)
    // post-adoption native append: partial restoration of the slice
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 0 && col("lang") === "en" &&
        col("doc_id") % 3 === 0), table)
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  private val p54Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p54: ROW TRACKING end-to-end (VERDICT r19 missing #7) — stable
    * row ids as the exact-CDC join key. The even documents land in a
    * tracked table; a copy-on-write UPDATE bumps `n_chars` by 500 on
    * the `doc_id % 10 == 2` slice (rewriting whole files), a
    * merge-on-read DELETE removes `doc_id % 10 == 0` via deletion
    * vectors, and a COMPACT rewrites everything while materializing
    * the vectors. The query then joins the PRE snapshot (time travel)
    * with the POST snapshot ON `_row_id` — no business key — and
    * aggregates the per-language survivor count and the summed
    * `n_chars` delta. The ids themselves are nondeterministic
    * (partitioning-dependent), but the PAIRING is exact, so the
    * census hash-matches DuckDB replaying the edits relationally —
    * which fails if any rewrite loses or reassigns a single id.
    */
  def p54RowTracking(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sinks.ManifestTable
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p54_rt_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p54Invocation.incrementAndGet())
    ManifestTable.create(spark, table,
      docs.schema, props = Map(ManifestTable.RowTrackingProp -> "true"))
    ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")), table)
    val vPre = ManifestTable.currentVersion(spark, table)
    ManifestTable.update(spark, table, col("doc_id") % 10 === 2,
      Map("n_chars" -> (col("n_chars") + 500)))
    ManifestTable.deleteVectors(spark, table, col("doc_id") % 10 === 0)
    ManifestTable.compact(spark, table)
    val pre = ManifestTable.readWithRowIds(spark, table, vPre)
      .select(col("_row_id"), col("n_chars").as("pre_chars"))
    val post = ManifestTable.readWithRowIds(spark, table)
    post.join(pre, "_row_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars") - col("pre_chars")).cast("bigint")
          .as("chars_delta"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("lang").asc_nulls_last)
  }

  private val p55Invocation = new java.util.concurrent.atomic.AtomicLong(0)

  /** p55: READ-ONLY ICEBERG TABLE ADOPTION — the sibling of p53 for
    * the other open format. The query hand-builds a genuine minimal
    * Iceberg Hadoop-layout table (Hive-partitioned parquet under
    * `data/`, plus `metadata/v1.metadata.json` + `version-hint.text`
    * + manifest-list/manifest Avro in the public iceberg.apache.org
    * spec — written with the plain Avro library), whose manifest
    * marks the whole even `lang='de'` file DELETED; adopts it through
    * the generic `convertToGraft` entry point (auto-detected), lands
    * a post-adoption graft append of the odd `de` docs, and censuses
    * the mixed snapshot. Hash-exact vs DuckDB replaying the same
    * add/delete/append set — gating the metadata resolution (deleted
    * entries honored), the `data/`-prefixed Hive layout adoption, and
    * the first-class post-adopt write path.
    */
  def p55IcebergAdopt(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val table = graft.sinks.Sinks.sessionScratchPath(spark,
      "p55_ice_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_") +
        "_" + p55Invocation.incrementAndGet())
    docs.filter(col("doc_id") % 2 === 0)
      .repartition(1).write.partitionBy("lang").parquet(s"$table/data")
    val root = java.nio.file.Paths.get(table)
    val files = {
      val out = Seq.newBuilder[String]
      val stream = java.nio.file.Files.walk(root)
      try stream.forEach { p =>
        val rel = root.relativize(p).toString
        if (rel.endsWith(".parquet") && !rel.startsWith("metadata"))
          out += rel
      } finally stream.close()
      out.result().sorted
    }
    val manifestSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"data_file",
        |"fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"record_count","type":"long"}]}}]}""".stripMargin)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"content","type":"int"}]}""".stripMargin)
    def writeAvro(path: java.io.File, schema: Schema,
        records: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, path)
      try records.foreach(w.append) finally w.close()
    }
    val metaDir = root.resolve("metadata")
    java.nio.file.Files.createDirectories(metaDir)
    writeAvro(metaDir.resolve("m1.avro").toFile, manifestSchema,
      files.map { f =>
        val df = new GenericData.Record(
          manifestSchema.getField("data_file").schema())
        df.put("content", 0)
        df.put("file_path", f)
        df.put("file_format", "parquet")
        df.put("record_count", 1L)
        val e = new GenericData.Record(manifestSchema)
        // the even `de` slice is DELETED in the adopted snapshot
        e.put("status", if (f.startsWith("data/lang=de/")) 2 else 1)
        e.put("data_file", df)
        e: GenericRecord
      })
    writeAvro(metaDir.resolve("snap-1.avro").toFile, listSchema, Seq {
      val e = new GenericData.Record(listSchema)
      e.put("manifest_path", "metadata/m1.avro")
      e.put("manifest_length", 1L)
      e.put("content", 0)
      e: GenericRecord
    })
    val meta =
      s"""{"format-version":2,"table-uuid":"p55-0001","location":"$table",
         |"current-schema-id":0,"schemas":[{"schema-id":0,"type":"struct",
         |"fields":[
         |{"id":1,"name":"doc_id","required":false,"type":"long"},
         |{"id":2,"name":"lang","required":false,"type":"string"},
         |{"id":3,"name":"n_chars","required":false,"type":"long"}]}],
         |"default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[
         |{"name":"lang","transform":"identity","source-id":2,"field-id":1000}]}],
         |"current-snapshot-id":1,"snapshots":[{"snapshot-id":1,
         |"timestamp-ms":1700000000000,
         |"manifest-list":"metadata/snap-1.avro"}]}""".stripMargin
    java.nio.file.Files.write(metaDir.resolve("v1.metadata.json"),
      meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(metaDir.resolve("version-hint.text"),
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.sinks.ManifestTable.convertToGraft(spark, table)
    graft.sinks.ManifestTable.append(spark,
      docs.filter(col("doc_id") % 2 === 1 && col("lang") === "de"), table)
    langCensus(graft.sinks.ManifestTable.read(spark, table))
  }

  /** DuckDB replay of the Iceberg add/delete set plus the append. */
  val p55Sql: String =
    """WITH live AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND lang <> 'de'
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 1 AND lang = 'de')
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM live GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** DuckDB replay of the tracked-table edit set. */
  val p54Sql: String =
    """WITH evens AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |survivors AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 10 = 2 THEN 500 ELSE 0 END AS delta
      |  FROM evens WHERE doc_id % 10 <> 0)
      |SELECT lang, count(*) AS n_rows,
      |  CAST(sum(delta) AS BIGINT) AS chars_delta,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM survivors GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** DuckDB replay of the Delta add/remove set plus the graft append. */
  val p53Sql: String =
    """WITH live AS (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND lang <> 'en'
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 0 AND lang = 'en' AND doc_id % 3 = 0)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM live GROUP BY lang ORDER BY lang ASC NULLS LAST""".stripMargin

  /** DuckDB reconstruction of the DV-backed change log. */
  val p52Sql: String =
    """WITH evens AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |changes AS (
      |  SELECT 'insert' AS _change_type, lang, n_chars FROM evens
      |  UNION ALL
      |  SELECT 'delete', lang, n_chars FROM evens WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', lang, n_chars FROM evens
      |  WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'update_postimage', lang, n_chars + 500 FROM evens
      |  WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT 'delete', lang, n_chars FROM evens WHERE doc_id % 10 = 4
      |  UNION ALL
      |  SELECT 'update_preimage', lang, n_chars FROM evens
      |  WHERE doc_id % 10 = 6
      |  UNION ALL
      |  SELECT 'update_postimage', lang, n_chars + 100 FROM evens
      |  WHERE doc_id % 10 = 6
      |  UNION ALL
      |  SELECT 'insert', lang, n_chars FROM documents
      |  WHERE doc_id % 2 = 1 AND doc_id % 5 = 0)
      |SELECT _change_type, lang, count(*) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM changes GROUP BY 1, 2
      |ORDER BY _change_type ASC, lang ASC NULLS LAST""".stripMargin

  val p51Sql: String =
    """WITH src AS (SELECT l_returnflag AS flag,
      |    CAST(floor(l_extendedprice * 100) / 100 AS DECIMAL(14,2)) AS price
      |  FROM lineitem)
      |SELECT flag, count(*) AS n_rows,
      |  CAST(sum(price) * 100 AS BIGINT) AS sum_cents,
      |  CAST(min(price) * 100 AS BIGINT) AS min_cents,
      |  CAST(max(price) * 100 AS BIGINT) AS max_cents
      |FROM src WHERE price >= 900.00 AND price < 1500.00
      |GROUP BY flag ORDER BY flag ASC NULLS LAST""".stripMargin
}
