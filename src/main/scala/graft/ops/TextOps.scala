package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Text-analysis operators over `documents` (north-star extension:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting). Everything is built-in expressions over a
  * tokenized column — per-row, embarrassingly parallel, no shuffle
  * except the final presentation sort.
  */
object TextOps {

  private def tokens: Column = split(col("text"), " ")

  /** Token statistics: counts, distinct counts, exact average token
    * length (integer sum ÷ count in double — same value both engines).
    */
  def t01TokenStats(spark: SparkSession, sfDir: String): DataFrame =
    t01Of(Tables.documents(spark, sfDir))

  /** t01 over an arbitrary documents frame — the entry point the
    * partitioned-layout spec drives against a lang-partitioned store.
    */
  def t01Of(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", tokens)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        (aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(col("toks")).cast("double")).as("avg_token_len"),
        length(col("text")).as("n_chars_measured"))
      .orderBy(col("doc_id").asc_nulls_last)

  val t01Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |  CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '), t -> length(t))), (a, x) -> a + x) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
      |  length(text) AS n_chars_measured
      |FROM documents ORDER BY doc_id ASC NULLS LAST""".stripMargin

  private val Stopwords = Seq("the", "a", "and", "of", "to")

  /** Quality scoring: stopword ratio, lexical diversity, length factor,
    * combined into one fixed-form double expression (identical
    * operation order on both engines ⇒ bit-identical score).
    */
  def t02QualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).withColumn("toks", tokens)
    val nTok = size(col("toks")).cast("double")
    val nStop = size(filter(col("toks"), t => t.isInCollection(Stopwords))).cast("double")
    val nDist = size(array_distinct(col("toks"))).cast("double")
    val lenFactor = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    d.select(
        col("doc_id"),
        (nStop / nTok).as("stopword_ratio"),
        (nDist / nTok).as("diversity"),
        lenFactor.as("len_factor"),
        (lit(0.4) * (nDist / nTok) + lit(0.4) * lenFactor +
          lit(0.2) * (nStop / nTok)).as("quality"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val t02Sql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE) AS n_stop,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_dist,
      |    CAST(len(toks) AS DOUBLE) AS n_tok,
      |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_factor
      |  FROM t)
      |SELECT doc_id,
      |  n_stop / n_tok AS stopword_ratio,
      |  n_dist / n_tok AS diversity,
      |  len_factor,
      |  0.4 * (n_dist / n_tok) + 0.4 * len_factor + 0.2 * (n_stop / n_tok) AS quality
      |FROM m ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** Language-ID by marker-token counts (n-gram heuristic): count
    * language-specific function words, argmax with a fixed priority
    * order. The fixture text is synthetic, so the interesting property
    * is the deterministic classifier plumbing, not linguistic accuracy.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "la", "y"),
    "fr" -> Seq("le", "les", "et"))

  def t03LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).withColumn("toks", tokens)
    val scored = Markers.foldLeft(d) { case (df, (lang, ws)) =>
      df.withColumn(s"s_$lang",
        size(filter(col("toks"), t => t.isInCollection(ws))))
    }
    val best =
      when(col("s_en") > 0, "en")
        .when(col("s_de") > 0 && col("s_de") > col("s_en"), "de")
        .when(col("s_es") > 0 && col("s_es") > col("s_en") && col("s_es") > col("s_de"), "es")
        .when(col("s_fr") > 0 && col("s_fr") > col("s_en") && col("s_fr") > col("s_de") &&
          col("s_fr") > col("s_es"), "fr")
        .otherwise("und")
    scored.select(
        col("doc_id"), col("lang").as("labeled_lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"),
        best.as("predicted"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val t03Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(toks, x -> x IN ('the', 'and', 'of'))) AS s_en,
      |    len(list_filter(toks, x -> x IN ('der', 'und', 'die'))) AS s_de,
      |    len(list_filter(toks, x -> x IN ('el', 'la', 'y'))) AS s_es,
      |    len(list_filter(toks, x -> x IN ('le', 'les', 'et'))) AS s_fr
      |  FROM t)
      |SELECT doc_id, lang AS labeled_lang, s_en, s_de, s_es, s_fr,
      |  CASE WHEN s_en > 0 THEN 'en'
      |       WHEN s_de > 0 AND s_de > s_en THEN 'de'
      |       WHEN s_es > 0 AND s_es > s_en AND s_es > s_de THEN 'es'
      |       WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
      |       ELSE 'und' END AS predicted
      |FROM s ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** Edit-distance fuzzy matching: near-identical part names within a
    * (brand, first-word) block, scored by Levenshtein distance — the
    * classic fuzzy-dedup shape: cheap equality blocking first, the
    * O(len²) distance only inside blocks.
    */
  def t06EditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).select(
      col("p_partkey"), col("p_brand"),
      split(col("p_name"), " ").getItem(0).as("w0"), col("p_name"))
    val a = p.select(col("p_partkey").as("id1"), col("p_brand"),
      col("w0"), col("p_name").as("name1"))
    val b = p.select(col("p_partkey").as("id2"), col("p_brand"),
      col("w0"), col("p_name").as("name2"))
    a.join(b, Seq("p_brand", "w0"))
      .filter(col("id1") < col("id2"))
      // deliberately the UNBOUNDED form: the threshold variant
      // (levenshtein(a, b, 8), tried round 22) was measured 2x SLOWER
      // on this fixture — p_name is ~30 chars, so the banded DP's
      // per-call bookkeeping costs more than the 900-cell full matrix
      // it avoids; the bound only pays off on long strings
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= 8)
      .select(col("id1"), col("id2"), col("p_brand"), col("dist"))
      // single-stage broadcast pair join: checkpoint the scalar pair
      // output so the sort's range sampling doesn't re-run the O(len²)
      // distance kernel (same rationale as d04/d05)
      .localCheckpoint(false)
      .orderBy(col("id1").asc_nulls_last, col("id2").asc_nulls_last)
  }

  val t06Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_brand, string_split(p_name, ' ')[1] AS w0, p_name
      |  FROM part)
      |SELECT a.p_partkey AS id1, b.p_partkey AS id2, a.p_brand,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.w0 = b.w0
      |  AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 8
      |ORDER BY id1 ASC NULLS LAST, id2 ASC NULLS LAST""".stripMargin

  /** Document fingerprint: polynomial rolling hash over the token
    * stream (base 131 mod 2^31-1, tokens hashed by portable md5-32).
    * Order-sensitive by construction — reordered tokens change the
    * fingerprint, unlike a bag-of-words hash.
    */
  def t04Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", tokens)
      .select(
        col("doc_id"),
        aggregate(
          transform(tokens, t => PortableHash.tokenHash32(t) % lit(PortableHash.P)),
          lit(0L),
          (acc, x) => (acc * lit(PortableHash.B) + x) % lit(PortableHash.P))
          .as("fingerprint"),
        size(col("toks")).as("n_tokens"))
      .orderBy(col("doc_id").asc_nulls_last)

  /** BPE-ish subword tokenization (GPT-2-style pre-tokenizer shape:
    * space-prefixed letter runs, digit runs, punctuation runs — no
    * lookaheads, so the pattern means the same thing to Java regex and
    * RE2). Counts whole-word vs subword token inflation per document.
    */
  def t05SubwordTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    Tables.documents(spark, sfDir)
      .withColumn("bpe", expr(s"regexp_extract_all(text, '$pat', 0)"))
      .select(
        col("doc_id"),
        size(tokens).as("n_whitespace_tokens"),
        size(col("bpe")).as("n_bpe_tokens"),
        (size(col("bpe")).cast("double") / size(tokens).cast("double"))
          .as("inflation"),
        element_at(col("bpe"), 1).as("first_tok"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val t05Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_whitespace_tokens,
      |  len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS n_bpe_tokens,
      |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS DOUBLE)
      |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS inflation,
      |  regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')[1] AS first_tok
      |FROM documents ORDER BY doc_id ASC NULLS LAST""".stripMargin

  val t04Sql: String =
    s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        t -> ${PortableHash.tokenHash32Sql("t")} % ${PortableHash.P})),
       |    (acc, x) -> (acc * ${PortableHash.B} + x) % ${PortableHash.P}) AS fingerprint,
       |  len(string_split(text, ' ')) AS n_tokens
       |FROM documents ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t07: PII redaction — regex scrub of emails/phone numbers, the
    * pre-training hygiene pass. The fixture text carries no PII, so
    * deterministic synthetic contact strings (derived from doc_id) are
    * APPENDED first, then redacted — which also pins both engines'
    * regex semantics against each other. Per-row, no shuffle.
    */
  private val EmailRe = "[a-z0-9]+@[a-z.]+"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  def t07Redaction(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("text2", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        regexp_count(col("text2"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text2"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .orderBy(col("doc_id").asc_nulls_last)

  val t07Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@mail.example or +1-555-'
      |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text2, '[a-z0-9]+@[a-z.]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  regexp_replace(regexp_replace(text2, '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
      |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |FROM t ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t08: corpus bigram statistics — top 15 bigrams per language. The
    * bigram list is built per row with zip_with over two shifted
    * slices (no self-join), then one count shuffle with map-side
    * partial aggregation.
    *
    * Production shuffle shape: the count aggregation and the
    * candidate cut run on (lang, xxhash64(bigram)) — 8-byte keys, not
    * strings. The candidate cut uses `rank()` on the count alone
    * (ties kept), which is a strict superset of the final
    * (n, bigram)-ordered top 15: a row whose count-only rank exceeds
    * 15 has ≥ 15 rows with strictly larger n and can never enter the
    * final cut. Strings are joined back only for that candidate set
    * (broadcast against a second map-side explode), and the final
    * row_number with the string tiebreak runs on survivors only.
    */
  def t08Bigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = tokens
    val exploded = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(zip_with(
        slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val wByCount = org.apache.spark.sql.expressions.Window.partitionBy(col("c_lang"))
      .orderBy(col("n").desc_nulls_last)
    // fresh alias (c_lang) so the candidate side never shares attribute
    // ids with the re-exploded string side it joins back to
    val cands = exploded
      .select(col("lang").as("c_lang"), xxhash64(col("bigram")).as("bh"))
      .groupBy(col("c_lang"), col("bh"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", rank().over(wByCount))
      .filter(col("rk") <= 15)
      .drop("rk")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("n").desc_nulls_last, col("bigram").asc_nulls_last)
    exploded
      .join(broadcast(cands),
        col("lang") === col("c_lang") &&
          xxhash64(col("bigram")) === col("bh"))
      .select(col("lang"), col("bigram"), col("n"))
      .distinct()
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 15)
      .select(col("lang"), col("rnk"), col("bigram"), col("n"))
      .orderBy(col("lang").asc_nulls_last, col("rnk").asc_nulls_last)
  }

  val t08Sql: String =
    """WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
      |bg AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
      |  FROM t),
      |cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, bigram, n,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY n DESC NULLS LAST, bigram ASC NULLS LAST) AS INT) AS rnk
      |  FROM cnt)
      |SELECT lang, rnk, bigram, n FROM r WHERE rnk <= 15
      |ORDER BY lang ASC NULLS LAST, rnk ASC NULLS LAST""".stripMargin

  /** t09: TF-IDF-style term weighting (rational idf = N/df — no
    * transcendental log, so the score is bit-exact across engines):
    * top 3 terms for the first 100 docs. Two count shuffles (per-doc
    * tf, corpus df) + one broadcast of the single-row corpus size —
    * the classic two-phase term-weighting plan; df comes from the
    * FULL corpus while the output is restricted per query.
    *
    * Production shuffle shape: both count shuffles (per-doc tf,
    * corpus df) key on xxhash64(token) — the vocabulary is wide and
    * heavy-tailed, so 8-byte keys beat strings on shuffle bytes and
    * comparator cost. Token strings rejoin only for the per-doc
    * top-3 candidate set (rank() on score with ties kept — a superset
    * of the final (score, tok)-ordered cut, same argument as t08),
    * from a map-side re-explode of just the output docs.
    */
  def t09Tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("tok"))
    val tf = ex.select(col("doc_id"), xxhash64(col("tok")).as("th"))
      .groupBy(col("doc_id"), col("th")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("th")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val wByScore = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc_nulls_last)
    val cands = tf.filter(col("doc_id") < 100)
      .join(dfreq, Seq("th"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs").cast("double")
        / col("df").cast("double"))
      .withColumn("rk", rank().over(wByScore))
      .filter(col("rk") <= 3)
      .drop("rk", "n_docs")
    val names = ex.filter(col("doc_id") < 100)
      .select(col("doc_id"), xxhash64(col("tok")).as("th"), col("tok"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc_nulls_last, col("tok").asc_nulls_last)
    cands.join(names, Seq("doc_id", "th"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id").asc_nulls_last, col("rnk").asc_nulls_last)
  }

  val t09Sql: String =
    """WITH ex AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM ex GROUP BY 1, 2),
      |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
      |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
      |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
      |  WHERE tf.doc_id < 100),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC NULLS LAST, tok ASC NULLS LAST) AS INT) AS rnk
      |  FROM scored)
      |SELECT doc_id, rnk, tok, tf, df, score FROM r WHERE rnk <= 3
      |ORDER BY doc_id ASC NULLS LAST, rnk ASC NULLS LAST""".stripMargin

  /** t10: text normalization — the pre-tokenization cleanup pass
    * (casefold, strip non-alphanumerics, collapse whitespace, trim).
    * The fixture text is already clean, so — as with t07 — the input
    * is deterministically DE-normalized first (uppercased prefix,
    * injected punctuation/space runs derived from doc_id), which pins
    * both engines' regex + casefold semantics against each other.
    * Per-row, no shuffle.
    */
  def t10Normalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("messy", concat(
        upper(substring(col("text"), 1, 10)),
        expr("substring(text, 11)"),
        lit("  ...End #"), col("doc_id").cast("string")))
      .select(
        col("doc_id"),
        length(col("messy")).as("len_before"),
        trim(regexp_replace(regexp_replace(lower(col("messy")),
          "[^a-z0-9 ]", ""), " +", " ")).as("norm"))
      .withColumn("len_after", length(col("norm")))
      .orderBy(col("doc_id").asc_nulls_last)

  val t10Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    upper(substr(text, 1, 10)) || substr(text, 11)
      |      || '  ...End #' || CAST(doc_id AS VARCHAR) AS messy
      |  FROM documents)
      |SELECT doc_id, length(messy) AS len_before,
      |  trim(regexp_replace(regexp_replace(lower(messy),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm,
      |  length(trim(regexp_replace(regexp_replace(lower(messy),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS len_after
      |FROM m ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t11: intra-document repetition scoring — the Gopher-style quality
    * rule: the fraction of a document's 3-gram occurrences that are
    * duplicates. Spam/templated docs score high and get filtered before
    * training. The fixture text is repetition-free, so a spam phrase is
    * deterministically injected (doc_id % 4 copies) to exercise the
    * boundary in both engines. Pure per-row array work — no shuffle;
    * the ratio is rational (int diff / int count, one double division)
    * so it is bit-exact across engines.
    */
  def t11Repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("messy", trim(concat(col("text"), lit(" "),
        expr("repeat('buy now click here ', CAST(doc_id % 4 AS INT))"))))
      .withColumn("tk", split(col("messy"), " "))
      .withColumn("tri", expr(
        "CASE WHEN size(tk) >= 3 THEN transform(sequence(1, size(tk) - 2), " +
          "i -> array_join(slice(tk, i, 3), ' ')) ELSE slice(tk, 1, 0) END"))
      .select(
        col("doc_id"),
        size(col("tri")).as("n_tri"),
        size(array_distinct(col("tri"))).as("n_uniq"),
        when(size(col("tri")) > 0,
          (size(col("tri")) - size(array_distinct(col("tri")))).cast("double")
            / size(col("tri")).cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
      .withColumn("is_repetitive",
        when(col("dup_frac") >= 0.05, 1L).otherwise(0L))
      .orderBy(col("doc_id").asc_nulls_last)

  val t11Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    trim(text || ' ' || repeat('buy now click here ', CAST(doc_id % 4 AS INT))) AS messy
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(messy, ' ') AS tk FROM m),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) >= 3
      |      THEN list_transform(range(1, len(tk) - 1),
      |        i -> list_aggregate(tk[i:i+2], 'string_agg', ' '))
      |      ELSE [] END AS tri
      |  FROM t)
      |SELECT doc_id,
      |  CAST(len(tri) AS BIGINT) AS n_tri,
      |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_uniq,
      |  CASE WHEN len(tri) > 0
      |    THEN CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE)
      |    ELSE CAST(0.0 AS DOUBLE) END AS dup_frac,
      |  CASE WHEN (CASE WHEN len(tri) > 0
      |    THEN CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE)
      |    ELSE CAST(0.0 AS DOUBLE) END) >= 0.05 THEN 1 ELSE 0 END AS is_repetitive
      |FROM g ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t12: vocabulary richness — the lexical-diversity quality signal
    * (low type/token ratio ⇒ templated or spammy text; high hapax
    * fraction ⇒ natural prose): per-document type count, token count,
    * hapax (frequency-1) count, and the two rational ratios. Shaped as
    * explode → (doc, token) count → per-doc aggregate: the shuffle
    * keys on (doc_id, token), so at 100 TB word-frequency skew spreads
    * across reducers by construction (no per-row O(n²) array
    * counting). Ratios are single double divisions of exact ints —
    * bit-equal on both engines.
    */
  def t12VocabRichness(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("doc_id"), col("n_tok"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tok").cast("double")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_frac"))
      .orderBy(col("doc_id").asc_nulls_last)

  val t12Sql: String =
    """WITH pt AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  GROUP BY doc_id, tok),
      |a AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_types,
      |    count(CASE WHEN c = 1 THEN 1 END) AS n_hapax
      |  FROM pt GROUP BY doc_id)
      |SELECT doc_id, n_tok, n_types, n_hapax,
      |  CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ttr,
      |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_frac
      |FROM a ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t13: bigram language-model score — the corpus-statistical quality
    * signal (a perplexity proxy): per document, the mean conditional
    * bigram probability C(w₁w₂)/C(w₁·) under the corpus's own MLE
    * bigram model. Fluent/templated text scores high; shuffled or
    * out-of-domain text scores low. Kept log-free on purpose: every
    * per-row value is ONE IEEE division of exact integer counts, and
    * the per-document mean folds those values in explicit position
    * order (sorted struct array, left fold) — bit-identical on both
    * engines, where a log/exp round-trip would be at the mercy of
    * libm. Scale shape: bigrams travel as 8-byte xxhash64 keys through
    * two count shuffles and one fact-side equi-join; the per-doc
    * collapse is a hash aggregate whose state is one bounded array per
    * document.
    */
  def t13NgramLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.documents(spark, sfDir)
      .withColumn("tk", tokens)
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), col("lang"),
        posexplode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))"))
          .as(Seq("pos", "b")))
      .select(col("doc_id"), col("lang"), col("pos"),
        xxhash64(col("b.w1")).as("h1"), xxhash64(col("b.w1"), col("b.w2")).as("h12"))
    // ONE counting pass over the exploded fact: bigram counts first,
    // then prefix counts as a rollup of the (distinct-bigram-sized)
    // count table — C(w1·) = Σ_w2 C(w1w2) — instead of a second
    // fact-table aggregation; the model join then attaches both counts
    // keyed on the bigram hash
    val cBg = bg.groupBy(col("h1"), col("h12")).agg(count(lit(1)).as("c12"))
    val cPre = cBg.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
    bg.join(cBg.join(cPre, Seq("h1")), Seq("h1", "h12"))
      .withColumn("r", col("c12").cast("double") / col("c1").cast("double"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        collect_list(struct(col("pos"), col("r"))).as("lst"))
      .withColumn("sum_r", aggregate(
        transform(sort_array(col("lst")), x => x.getField("r")),
        lit(0.0), (a, x) => a + x))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        (col("sum_r") / col("n_bigrams").cast("double")).as("lm_score"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val t13Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, lang, i AS pos, tk[i] AS w1, tk[i+1] AS w2
      |  FROM t, unnest(range(1, len(tk))) AS u(i)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      |j AS (
      |  SELECT bg.doc_id, bg.lang, bg.pos,
      |    CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS r
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
      |s AS (
      |  SELECT doc_id, lang, count(*) AS n_bigrams,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(list_sort(list({'pos': pos, 'r': r})), x -> x.r)),
      |      (a, b) -> a + b) AS sum_r
      |  FROM j GROUP BY 1, 2)
      |SELECT doc_id, lang, n_bigrams, sum_r / n_bigrams AS lm_score
      |FROM s ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t14: collocation extraction — per-language bigram association
    * strength as LOG-FREE lift, `n_ab·T / (n_a·n_b)` (the monotone
    * core of PMI without the libm `log` whose last-ulp rounding
    * differs across engines; ranking by lift IS ranking by PMI).
    * Three count aggregates (unigrams, bigrams, per-lang totals) —
    * all hashed-key shuffles whose key spaces are vocabulary-sized,
    * which by Heaps' law grows sublinearly in the corpus: at 100 TB
    * the counts tables stay small enough that both attribute joins
    * broadcast, so no fact-sized rows move after the explode. The
    * lift arithmetic is a fixed-shape IEEE expression over exact
    * integer counts (casts, two multiplies, one divide — identical
    * bit pattern on both engines); counts never multiply as int64, so
    * there is no overflow cliff at real corpus sizes.
    */
  def t14Collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = tokens
    val docs = Tables.documents(spark, sfDir)
    val uni = docs.select(col("lang"), explode(tk).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cu"))
    val bi = docs.select(col("lang"), explode(zip_with(
        slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
        slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (a, b) => struct(a.as("ta"), b.as("tb")))).as("bg"))
      .select(col("lang"), col("bg.ta").as("ta"), col("bg.tb").as("tb"))
      .groupBy(col("lang"), col("ta"), col("tb")).agg(count(lit(1)).as("n"))
    val tot = uni.groupBy(col("lang")).agg(sum(col("cu")).as("t_tokens"))
    bi.filter(col("n") >= 5)
      .join(broadcast(uni.select(col("lang").as("la"), col("tok").as("toka"),
        col("cu").as("n_a"))), col("lang") === col("la") && col("ta") === col("toka"))
      .join(broadcast(uni.select(col("lang").as("lb"), col("tok").as("tokb"),
        col("cu").as("n_b"))), col("lang") === col("lb") && col("tb") === col("tokb"))
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("ta"), col("tb"), col("n"), col("n_a"), col("n_b"),
        (col("n").cast("double") * col("t_tokens").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("lang").asc_nulls_last, col("lift").desc_nulls_last,
        col("ta").asc_nulls_last, col("tb").asc_nulls_last)
  }

  val t14Sql: String =
    """WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
      |uni AS (SELECT lang, unnest(tk) AS tok FROM t),
      |cu AS (SELECT lang, tok, count(*) AS cu FROM uni GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(cu) AS BIGINT) AS t_tokens FROM cu GROUP BY 1),
      |bg AS (
      |  SELECT lang,
      |    unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i+1]])) AS pr
      |  FROM t),
      |cb AS (SELECT lang, pr[1] AS ta, pr[2] AS tb, count(*) AS n
      |       FROM bg GROUP BY 1, 2, 3)
      |SELECT cb.lang, ta, tb, n, a.cu AS n_a, b.cu AS n_b,
      |  CAST(n AS DOUBLE) * CAST(t_tokens AS DOUBLE) /
      |    (CAST(a.cu AS DOUBLE) * CAST(b.cu AS DOUBLE)) AS lift
      |FROM cb
      |JOIN cu a ON cb.lang = a.lang AND ta = a.tok
      |JOIN cu b ON cb.lang = b.lang AND tb = b.tok
      |JOIN tot ON cb.lang = tot.lang
      |WHERE n >= 5
      |ORDER BY cb.lang ASC NULLS LAST, lift DESC NULLS LAST,
      |  ta ASC NULLS LAST, tb ASC NULLS LAST""".stripMargin

  /** t15: BPE merge-rule TRAINING — the tokenizer vocab-build step
    * every LLM corpus pipeline runs before t05-style application
    * (Sennrich et al., "Neural Machine Translation of Rare Words with
    * Subword Units", 2016). Each round merges the corpus-wide
    * highest-frequency adjacent symbol pair (ties broken
    * lexicographically — fully deterministic) and records the rule.
    *
    * Scale shape — the reason BPE training is feasible at 100 TB even
    * though it is iterative: the corpus is touched ONCE (t05's
    * pre-tokenizer regex → explode → word-frequency collapse); every
    * training round then runs on the word-frequency table, whose size
    * is the VOCABULARY (Heaps' law: ~√corpus), not the corpus. Per
    * round: one vocabulary-sized pair-count shuffle, one limit(1)
    * scalar collect for the argmax decision (bounded driver traffic by
    * construction — the grid-census pattern), and a codegen'd
    * left-fold that rewrites each word's bounded-length symbol array
    * in place (leftmost-greedy, the standard application order). The
    * driver loop is control flow only; a lazy localCheckpoint per
    * round stops the fold expressions from nesting nMerges deep in
    * one plan (the kmeansCodebook / d06 lineage-cut pattern).
    *
    * SQL-inexpressible for the oracle (the loop's data-dependent
    * argmax feeds the next round's plan — same class as
    * kmeansCodebook), so the driver records a rows-only check and the
    * contract lives in BpeSpec: hand-computed merge sequence on a
    * controlled corpus, monotone non-increasing best-pair counts,
    * run-to-run determinism, no residual merged pair after
    * application, and train→apply consumption of t05's pre-tokens.
    */
  def t15BpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    t15BpeTrain(spark, sfDir, 20)

  def t15BpeTrain(spark: SparkSession, sfDir: String, nMerges: Int): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    val words = Tables.documents(spark, sfDir)
      .select(explode(expr(s"regexp_extract_all(text, '$pat', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(expr("split(w, '')").as("syms"), col("freq"))
    bpeTrainOn(words, nMerges)
  }

  /** Training core over an arbitrary (syms: array<string>, freq: long)
    * word table — the entry point BpeSpec drives with controlled
    * frequencies.
    */
  private[graft] def bpeTrainOn(words0: DataFrame, nMerges: Int): DataFrame = {
    val spark = words0.sparkSession
    import spark.implicits._
    // per-round lineage cut stays a localCheckpoint: a persist()-based
    // variant (tried round 22) runs one fewer job per round but does
    // NOT cut the logical plan — every round's InMemoryRelation embeds
    // the previous round's whole cached AQE plan, and the per-
    // execution plan-string rendering grows super-linearly until the
    // driver spends minutes inside generateTreeString. The checkpoint
    // truncates to a flat ExistingRDD, keeping every round's plan
    // constant-size.
    var words = words0.localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      round += 1
      val top = words
        .filter(size(col("syms")) >= 2)
        // pair emission stays in whole-stage codegen (§4): explode a
        // plain index sequence and read the two symbols with
        // element_at, instead of building an interpreted
        // transform(..., struct(...)) array per row
        .select(col("freq"), col("syms"),
          explode(expr("sequence(1, size(syms) - 1)")).as("i"))
        .select(col("freq"),
          expr("element_at(syms, i)").as("l"),
          expr("element_at(syms, i + 1)").as("r"))
        .groupBy(col("l"), col("r"))
        .agg(sum(col("freq")).as("pair_n"))
        .orderBy(col("pair_n").desc_nulls_last,
          col("l").asc_nulls_last, col("r").asc_nulls_last)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, l + r, n))
        words = words
          .select(applyMerge(col("syms"), l, r).as("syms"), col("freq"))
          .localCheckpoint(false)
      }
    }
    merges.toSeq.toDF("merge_rank", "left", "right", "merged", "pair_n")
      .orderBy(col("merge_rank").asc_nulls_last)
  }

  /** Leftmost-greedy single-merge rewrite of a symbol array: fold each
    * symbol onto the accumulator, fusing when the accumulator's tail
    * is `l` and the incoming symbol is `r` ("aaa" under (a,a) →
    * [aa, a], never [a, aa]). Merge symbols are Column literals, not
    * spliced SQL — token text can contain any character.
    */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      array(element_at(syms, 1)),
      (acc, s) =>
        when(element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))

  /** Rank-ordered application of a learned merge table to the symbol
    * array column `c` — the train → apply path: pre-tokens re-segment
    * under the learned vocabulary. One projection per rule, each
    * reading the previous rule's output attribute: applyMerge uses its
    * input ~3×, so nesting the rules in one expression would build a
    * 3ⁿ-node tree.
    */
  private[graft] def applyMergeRules(df: DataFrame, c: String,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df) { case (d, (l, r)) =>
      d.withColumn(c, applyMerge(col(c), l, r))
    }

  /** The FROZEN production merge table: t15's deterministic training
    * output on the sf0.001 corpus (20 rounds, rank order) — the
    * tokenizer artifact a pipeline trains once and ships everywhere.
    * BpeSpec pins this list equal to a fresh t15 run, so it cannot
    * drift from the trainer silently.
    */
  private[graft] val FrozenMerges: Seq[(String, String)] = Seq(
    " " -> "s", "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w",
    "l" -> "u", "a" -> "r", "p" -> "ar", " " -> "a", " " -> "v",
    "a" -> "s", " " -> "c", "m" -> "er", "a" -> "t", " " -> "f",
    " " -> "t", " " -> "b", "a" -> "n", "c" -> "an", "lu" -> "m")

  /** t18: train→apply subword segmentation — the consumption side of
    * t15 exposed as a query. Each document is pre-tokenized with
    * t05's regex, every pre-token's character sequence is re-segmented
    * under [[FrozenMerges]] by rank-ordered leftmost-greedy rewrites
    * (the standard BPE application order), and the per-document
    * subword economy is emitted: pre-token count, raw symbol count,
    * post-merge subword count, and the compression ratio the learned
    * vocabulary buys.
    *
    * Scale shape — t15's Heaps'-law trick applied to the APPLY side:
    * segmentation is a pure function of the pre-token string, so the
    * 20-rule fold runs once per DISTINCT pre-token (vocabulary-sized,
    * ~√corpus), never per occurrence (measured 25.7 s → sub-second at
    * sf0.1 when the fold moved off the occurrence stream). The
    * corpus-sized work is one (doc, word) count collapse; the segmented
    * vocabulary broadcasts back onto it and the per-document economy
    * is a weighted sum. Inside the vocabulary pass the rules apply
    * through [[applyMergeRules]], one projection per rule (one
    * 3²⁰-node expression measured OOM in the optimizer);
    * CollapseProject leaves those multi-use non-cheap producers
    * alone. The oracle replays the identical fold as a recursive-CTE
    * state machine over the same distinct vocabulary (DuckDB 1.0 has
    * no list-accumulator reduce), so the driver gate stays hash-exact.
    */
  def t18SubwordSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    val wc = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(text, '$pat', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
    val vocab0 = wc.select(col("w")).distinct()
      .select(col("w"), expr("split(w, '')").as("cur"))
    val vocab = applyMergeRules(vocab0, "cur", FrozenMerges)
      .select(col("w"), length(col("w")).cast("long").as("nc"),
        size(col("cur")).cast("long").as("ns"))
    wc.join(broadcast(vocab), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_pretok"),
        sum(col("n") * col("nc")).as("n_chars"),
        sum(col("n") * col("ns")).as("n_subwords"))
      .select(col("doc_id"), col("n_pretok"), col("n_chars"),
        col("n_subwords"),
        (col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("compression"))
      .orderBy(col("doc_id").asc_nulls_last)
  }

  val t18Sql: String = {
    val mergeRows = FrozenMerges.zipWithIndex.map { case ((l, r), i) =>
      s"(${i + 1}, '${l.replace("'", "''")}', '${r.replace("'", "''")}')"
    }.mkString(", ")
    val n = FrozenMerges.size
    s"""WITH RECURSIVE merges(mrank, ml, mr) AS (
       |  VALUES $mergeRows),
       |wc AS (
       |  SELECT doc_id, w, count(*) AS n FROM (
       |    SELECT doc_id,
       |      unnest(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS w
       |    FROM documents)
       |  GROUP BY doc_id, w),
       |tsy AS (
       |  SELECT w, string_split(w, '') AS syms FROM (SELECT DISTINCT w FROM wc)),
       |step(w, mrank, acc, rest) AS (
       |  SELECT w, 1, [syms[1]], syms[2:]
       |  FROM tsy
       |  UNION ALL
       |  SELECT s.w,
       |    CASE WHEN len(s.rest) > 0 THEN s.mrank ELSE s.mrank + 1 END,
       |    CASE WHEN len(s.rest) > 0 THEN
       |      CASE WHEN s.acc[-1] = m.ml AND s.rest[1] = m.mr
       |        THEN s.acc[:len(s.acc) - 1] || [m.ml || m.mr]
       |        ELSE s.acc || [s.rest[1]] END
       |      ELSE [s.acc[1]] END,
       |    CASE WHEN len(s.rest) > 0 THEN s.rest[2:] ELSE s.acc[2:] END
       |  FROM step s JOIN merges m ON m.mrank = s.mrank
       |  WHERE len(s.rest) > 0 OR s.mrank < $n),
       |seg AS (
       |  SELECT w, CAST(len(acc) AS BIGINT) AS ns
       |  FROM step WHERE mrank = $n AND len(rest) = 0)
       |SELECT doc_id,
       |  CAST(sum(n) AS BIGINT) AS n_pretok,
       |  CAST(sum(n * length(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(n * ns) AS BIGINT) AS n_subwords,
       |  CAST(sum(n * length(w)) AS DOUBLE) / CAST(sum(n * ns) AS DOUBLE)
       |    AS compression
       |FROM wc JOIN seg USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id ASC NULLS LAST""".stripMargin
  }

  /** t19: approximate per-language heavy-hitter terms — the vocabulary
    * census t01 does exactly, re-done as a bounded-memory sketch for
    * the 100 TB regime where even the Heaps'-law vocabulary is too
    * wide to shuffle: the Misra-Gries `TypedImperativeAggregate`
    * ([[graft.functions.MisraGriesAgg]]) holds ≤ `capacity` counters
    * per partition, ships only those buffers through the partial→final
    * merge, and carries its own deterministic error bound
    * (err = (N − Σ est)/(capacity+1); any term above err is guaranteed
    * present; estimates never overshoot). Estimates are
    * partitioning-dependent (inherent to MG), so like q14/q52 the
    * driver records a rows-only check and the contract lives in
    * SketchMergeSpec: the bound above is asserted against exact t01
    * truth at 1, 4 and 32 partitions.
    */
  def t19HeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    t19Of(Tables.documents(spark, sfDir), 64)

  /** t19 over an arbitrary documents frame — the property-spec entry.
    * Output is deliberately FLAT (one row per retained top-10 term,
    * ranked): the driver's rows-only check sorts and hashes a pandas
    * frame, and a nested array<struct> column is unsortable there
    * (round-8 artifact recorded a TypeError instead of a row count).
    * Flat (lang, rank, term, est) rows are also the more queryable
    * shape — downstream joins/filters need no lateral explode.
    */
  private[graft] def t19Of(docs: DataFrame, capacity: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("lang"), explode(tokens).as("term"))
      .groupBy(col("lang"))
      .agg(expr(s"graft_heavy_hitters(term, $capacity)").as("hh"))
      .select(col("lang"), col("hh.n").as("n_tokens"),
        col("hh.err").as("err_bound"),
        // _outer: a lang with tokens but zero retained heavy hitters
        // keeps its (n_tokens, err_bound) row with null term/rank
        // rather than vanishing from the census
        posexplode_outer(expr("slice(hh.items, 1, 10)")).as(Seq("pos", "item")))
      .select(col("lang"), col("n_tokens"), col("err_bound"),
        (col("pos") + 1).cast("int").as("rank"),
        col("item.term").as("term"), col("item.est").as("est_count"))
      .orderBy(col("lang").asc_nulls_last, col("rank").asc)
  }

  /** t16: character-diversity quality score — Simpson's index
    * 1 − Σ p_c² over each document's character distribution, the
    * log-free stand-in for character entropy (same detection power for
    * the repetitive/degenerate text a quality gate drops — "aaaa…"
    * scores ~0 — without Shannon's log₂, whose libm rounding differs
    * across engines; Σ n_c² / N² is integer-exact in both, one IEEE
    * division at the end). Complements t02's length/punct ratios and
    * t11's token-level repetition at the character level. Scale: one
    * (doc, char)-keyed count shuffle (the t12 shape); the per-doc
    * collapse then runs over alphabet-bounded rows (≤ ~100/doc).
    */
  def t16CharDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      // Non-empty guard: Spark's split("") yields [""] on empty text
      // while DuckDB's string_split yields []; excluding empty docs on
      // both sides keeps the oracle parity off that edge entirely.
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_chars_counted"),
        sum(col("n") * col("n")).as("sum_sq"))
      .select(col("doc_id"), col("n_chars_counted"),
        (lit(1.0) - col("sum_sq").cast("double") /
          (col("n_chars_counted") * col("n_chars_counted")).cast("double"))
          .as("simpson"))
      .orderBy(col("doc_id").asc_nulls_last)

  val t16Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
      |  WHERE length(text) > 0),
      |cc AS (
      |  SELECT doc_id, ch, count(*) AS n FROM ch GROUP BY doc_id, ch),
      |agg AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_counted,
      |    CAST(sum(n * n) AS BIGINT) AS sum_sq
      |  FROM cc GROUP BY doc_id)
      |SELECT doc_id, n_chars_counted,
      |  1.0 - CAST(sum_sq AS DOUBLE)
      |    / CAST(n_chars_counted * n_chars_counted AS DOUBLE) AS simpson
      |FROM agg
      |ORDER BY doc_id ASC NULLS LAST""".stripMargin

  /** t17: term burstiness (Church–Gale) — per (lang, term), collection
    * frequency over document frequency: cf/df ≈ 1 marks terms that
    * appear once wherever they appear (function-word behavior), while
    * high cf/df marks "bursty" content terms that repeat heavily
    * inside the documents that use them. The statistic drives
    * stopword discovery and keyword weighting at corpus scale and
    * complements t09's tf-idf (df alone) with the within-doc
    * concentration axis.
    *
    * Scale shape: one explode + ONE vocabulary-sized aggregate — cf
    * and exact df come from the same (lang, term) group (Catalyst
    * plans the count-distinct Expand with partial aggregation, q61's
    * pattern), so the fact-sized token stream shuffles once. Output
    * is vocabulary-sized (Heaps' law keeps it far under the corpus).
    * Burstiness is a single IEEE division of exact counts.
    */
  def t17TermBurstiness(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), explode(tokens).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 5)
      .select(col("lang"), col("term"), col("cf"), col("df"),
        (col("cf").cast("double") / col("df").cast("double")).as("burstiness"))
      .orderBy(col("lang").asc_nulls_last, col("burstiness").desc_nulls_last,
        col("term").asc_nulls_last)

  val t17Sql: String =
    """WITH tok AS (
      |  SELECT lang, doc_id, tok AS term
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)),
      |s AS (
      |  SELECT lang, term, count(*) AS cf, count(DISTINCT doc_id) AS df
      |  FROM tok GROUP BY lang, term HAVING count(DISTINCT doc_id) >= 5)
      |SELECT lang, term, cf, df,
      |  CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness
      |FROM s ORDER BY lang ASC NULLS LAST, burstiness DESC NULLS LAST,
      |  term ASC NULLS LAST""".stripMargin

  /** t20: DOCUMENT CHUNKING — the fixed-window/overlap split every
    * training-data and RAG pipeline runs before tokenization or
    * embedding: window 120 chars, stride 90 (30-char overlap so no
    * boundary context is lost), last window covers the tail (shorter,
    * never empty), a document shorter than one window is one chunk.
    * Chunk count per doc is closed-form (`1 + ceil(max(len-W,0)/S)`),
    * so the whole operator is one `sequence` + `explode` + two
    * `substring`s — pure codegen'd expressions, zero UDFs, zero
    * shuffles until the output sort: at 100 TB it chunks in the scan
    * stage at I/O speed, and the stride arithmetic is the same
    * integer math on any engine (oracle pins every chunk's md5, not
    * just counts).
    */
  def t20DocChunking(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, s) = (120, 90)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0L, CAST((greatest(length(text) - $w, 0) + ${s - 1}) " +
          s"div $s AS BIGINT))")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"length(substring(text, CAST(chunk_idx * $s + 1 AS INT), $w))")
          .as("chunk_chars"),
        expr(s"md5(substring(text, CAST(chunk_idx * $s + 1 AS INT), $w))")
          .as("chunk_md5"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
  }

  /** DuckDB mirror: identical stride arithmetic, per-chunk md5. */
  val t20Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, text,
      |    unnest(range(0,
      |      ((greatest(length(text) - 120, 0) + 89) // 90) + 1)) AS chunk_idx
      |  FROM documents)
      |SELECT doc_id, chunk_idx,
      |  length(substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120))
      |    AS chunk_chars,
      |  md5(substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120))
      |    AS chunk_md5
      |FROM ch ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin
}
