package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, Tuning, VerifiedQuery}
import graft.functions.{Text, cents}

/** LLM-training-data pipeline operators over `documents` and `events`
  * (north-star surface beyond the reference, SURVEY §2.10/§7.1): text
  * statistics, quality scoring, language-ID, token counting, exact dedup,
  * fingerprint near-dedup, token-set Jaccard, and gap-based sessionization.
  *
  * Scale design: every text operator is a per-row scalar (narrow, codegen'd,
  * no shuffle); dedup is one hash-agg shuffle on the digest; sessionization
  * is one shuffle on user_id with per-partition window evaluation. The
  * LSH-bucketed near-dup and ANN operators live in [[Similarity]] (not
  * SQL-expressible — scalatest-verified).
  */
object LlmData {

  // ---------------------------------------------------------- text analysis

  /** Per-document token/char/punctuation statistics: whitespace tokens,
    * BPE-ish regex tokens, punctuation marks, mean token length. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      length($"text").as("n_chars"),
      Text.tokenCount($"text").as("n_tokens"),
      Text.regexTokenCount($"text").as("n_regex_tokens"),
      Text.punctCount($"text").as("n_punct"),
      (Text.tokenCharSum($"text") * lit(1.0) / Text.tokenCount($"text")).as("mean_token_len"))
  }

  private val textStatsSql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_regex_tokens,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
      |  list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
      |    / len(string_split_regex(trim(text), '\s+')) AS mean_token_len
      |FROM documents""".stripMargin

  /** The composite-quality column over a `text` column — shared by
    * [[qualityScore]] (per-doc emission) and [[sourceCap]] (rank-based
    * curation) so both rank by the identical IEEE expression. */
  /** The engine's quality-tier stopword list (shared by [[qualityCol]] and
    * [[qualityScore]]'s component columns so both read the SAME fused
    * stats pass). */
  private[graft] val qualityStops = Seq("the", "a", "of", "and", "to", "in", "is")

  /** One fused [[Text.tokenStats]] pass feeding every quality signal
    * (r18; the composed occurrenceCount/tokenCount/tokenCharSum stack was
    * 4–6 interpreted higher-order passes per row — guide §4). Returns
    * [n_stops, n_tokens, char_sum, n_punct, n_chars]. */
  private[graft] def qualityStats(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Text.tokenStats(text, Seq(qualityStops))

  private[graft] def qualityCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    qualityColFromStats(qualityStats(text))

  /** The composite formula over a precomputed [[qualityStats]] column —
    * identical IEEE expression tree (long counts cast to double produce
    * the same doubles the old int counts did), so every consumer's quality
    * value is bit-identical to the composed form; the fuzz property and
    * the oracle hash gate both pin it. */
  private[graft] def qualityColFromStats(st: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stops = element_at(st, 1)
    val nTok = element_at(st, 2)
    val charSum = element_at(st, 3)
    val nPunct = element_at(st, 4)
    val nChars = element_at(st, 5)
    val stopRatio = stops * lit(1.0) / nTok
    val punctRatio = nPunct * lit(1.0) / nChars
    val meanLen = charSum * lit(1.0) / nTok
    val lenOk = when(nChars.between(100, 100000), lit(1.0)).otherwise(lit(0.0))
    val meanLenOk = when(meanLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    stopRatio * lit(0.4) + (lit(1.0) - punctRatio) * lit(0.2) +
      lenOk * lit(0.2) + meanLenOk * lit(0.2)
  }

  /** The INLINE DuckDB form of [[qualityCol]] (one expression over a raw
    * `text` column) — shared with [[Similarity]]'s survivorship oracle so
    * a weight/stopword change to [[qualityCol]] cannot silently diverge
    * between oracles; [[qualityScoreSql]] is the same formula in its
    * CTE-factored form. Addition order matches qualityCol exactly
    * (left-assoc) — the argmax compares these doubles bit-for-bit. */
  private[graft] val qualityInlineSql: String =
    """len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |        x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |      / len(string_split_regex(trim(text), '\s+')) * 0.4
      |    + (1.0 - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text)) * 0.2
      |    + (CASE WHEN length(text) BETWEEN 100 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.2
      |    + (CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |          x -> length(x))) * 1.0
      |        / len(string_split_regex(trim(text), '\s+')) BETWEEN 2.0 AND 12.0
      |      THEN 1.0 ELSE 0.0 END) * 0.2""".stripMargin

  /** Composite quality score from deterministic signals: stopword ratio,
    * punctuation density, mean token length band, length band — the
    * standard cheap pre-filter tier of a training-data pipeline. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // every component reads the ONE fused stats pass (subexpression
    // elimination collapses the repeated graft_token_stats in codegen)
    val st = qualityStats($"text")
    val nTok = element_at(st, 2)
    val stopRatio = element_at(st, 1) * lit(1.0) / nTok
    val punctRatio = element_at(st, 4) * lit(1.0) / element_at(st, 5)
    val meanLen = element_at(st, 3) * lit(1.0) / nTok
    val lenOk = when(element_at(st, 5).between(100, 100000), lit(1.0)).otherwise(lit(0.0))
    val meanLenOk = when(meanLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    Tables.documents(spark, dir).select(
      $"doc_id",
      stopRatio.as("stop_ratio"),
      punctRatio.as("punct_ratio"),
      lenOk.as("len_ok"),
      meanLenOk.as("mean_len_ok"),
      qualityColFromStats(st).as("quality"))
  }

  private val qualityScoreSql =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks,
      |    string_split_regex(trim(text), '\s+') AS rawtoks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |      / len(rawtoks) AS stop_ratio,
      |    len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text) AS punct_ratio,
      |    CAST(CASE WHEN length(text) BETWEEN 100 AND 100000 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS len_ok,
      |    CAST(CASE WHEN list_sum(list_transform(rawtoks, x -> length(x))) * 1.0 / len(rawtoks)
      |              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS mean_len_ok
      |  FROM t)
      |SELECT doc_id, stop_ratio, punct_ratio, len_ok, mean_len_ok,
      |  stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2 + len_ok * 0.2 + mean_len_ok * 0.2 AS quality
      |FROM s""".stripMargin

  /** Per-source document cap — the "no domain dominates the mix" curation
    * rule every web-scale corpus applies (cap pages per domain before
    * training): keep the top-K documents of each source by composite
    * quality, deterministic doc_id tie-break. One `row_number` window on
    * source — a single shuffle whose partitions are per-source, the same
    * shape at any corpus size; K bounds the kept set, not the scan. Emits
    * per-source totals, kept counts, kept-id sums and the kept quality
    * range so a single mis-ranked document hash-fails. */
  def sourceCap(spark: SparkSession, dir: String, k: Int = 40): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", qualityCol($"text").as("quality"))
      .withColumn("rk", row_number().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"rk" <= k, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" <= k, $"doc_id").otherwise(0L)).as("kept_id_sum"),
        min(when($"rk" <= k, $"quality")).as("min_kept_quality"),
        max($"quality").as("max_quality"))
  }

  private val sourceCapSql =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks,
      |    string_split_regex(trim(text), '\s+') AS rawtoks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, source,
      |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |        / len(rawtoks) * 0.4
      |      + (1.0 - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text)) * 0.2
      |      + CAST(CASE WHEN length(text) BETWEEN 100 AND 100000 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2
      |      + CAST(CASE WHEN list_sum(list_transform(rawtoks, x -> length(x))) * 1.0 / len(rawtoks)
      |              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2 AS quality
      |  FROM t
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
      |  FROM s
      |)
      |SELECT source, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rk <= 40 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
      |  MIN(CASE WHEN rk <= 40 THEN quality END) AS min_kept_quality,
      |  MAX(quality) AS max_quality
      |FROM r GROUP BY 1""".stripMargin

  /** Token-budget curation — [[sourceCap]]'s sibling with the budget in
    * TOKENS instead of documents (the contract a mixture recipe actually
    * states: "at most N tokens per source"): per source, documents are
    * taken in (quality desc, doc_id) order while the RUNNING token total
    * stays within budget. One cumulative-sum row window per source + one
    * hash agg — same single-shuffle shape as sourceCap; the quality
    * ordering doubles are oracle-matched (q_quality_score), so the
    * cumulative cut is engine-identical. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 1000L): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", qualityCol($"text").as("quality"),
        Text.tokenCount($"text").cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
        sum($"n_tok").as("total_tokens"),
        sum(when($"cum" <= budget, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"cum" <= budget, $"n_tok").otherwise(0L)).as("kept_tokens"),
        sum(when($"cum" <= budget, $"doc_id").otherwise(0L)).as("kept_id_sum"))
  }

  private val tokenBudgetSql =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS toks,
      |    string_split_regex(trim(text), '\s+') AS rawtoks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, source,
      |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |        / len(rawtoks) * 0.4
      |      + (1.0 - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text)) * 0.2
      |      + CAST(CASE WHEN length(text) BETWEEN 100 AND 100000 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2
      |      + CAST(CASE WHEN list_sum(list_transform(rawtoks, x -> length(x))) * 1.0 / len(rawtoks)
      |              BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2 AS quality,
      |    CAST(len(rawtoks) AS BIGINT) AS n_tok
      |  FROM t
      |), r AS (
      |  SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM s
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN cum <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN cum <= 1000 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  CAST(SUM(CASE WHEN cum <= 1000 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
      |FROM r GROUP BY 1""".stripMargin

  /** Language-ID confusion matrix: the marker-occurrence heuristic's
    * prediction vs the labeled `lang`, aggregated. (The synthetic corpus
    * draws text from one vocabulary regardless of label, so the matrix
    * mostly demonstrates the computation, not accuracy.) */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"lang", Text.langPredict($"text").as("pred"))
      .groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
  }

  private val langIdSql = {
    val score = Text.langMarkers.map { case (l, ws) =>
      val dict = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> list_contains($dict, x))) AS s_$l"
    }.mkString(",\n      |    ")
    s"""WITH s AS (
      |  SELECT lang,
      |    $score
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |       WHEN s_fr >= s_es THEN 'fr'
      |       ELSE 'es' END AS pred,
      |  COUNT(*) AS n
      |FROM s GROUP BY 1, 2""".stripMargin
  }

  /** Corpus vocabulary via the generator path: explode the token arrays
    * (one shuffle to the count agg, TakeOrdered for the top-k) — the
    * canonical distributed word count. */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(Text.tokensLower($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  private val wordCountSql =
    """SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  // ----------------------------------------------------------------- dedup

  /** Exact deduplication: group by md5(text), keep the smallest doc_id per
    * digest. One hash-agg shuffle on the digest — the canonical exact-dedup
    * shape at any scale. Emits kept ids with their duplicate counts. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text").as("digest"))
      .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .select($"kept_doc_id", $"n_copies")
  }

  private val exactDedupSql =
    """SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Fingerprint near-dedup tier: md5 over normalized text (lowercased,
    * punctuation-stripped, whitespace-collapsed) so trivial formatting
    * variants collide without any pairwise work. */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(Text.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("kept_doc_id"), count(lit(1)).as("n_variants"))
      .select($"kept_doc_id", $"n_variants")
  }

  private val fingerprintDedupSql =
    """SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_variants
      |FROM documents
      |GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))""".stripMargin

  /** Incremental-ingest dedup — the shape a production corpus actually
    * runs: a new batch arrives and must be deduplicated (a) within itself
    * and (b) against the fingerprint store of everything already ingested.
    * The batch/corpus split is the deterministic [[Etl.hashBucket]] (last
    * 30% of buckets = incoming), so the oracle reproduces it exactly.
    * Each incoming doc gets a status: `dup_within` (a lower doc_id in the
    * batch shares its fingerprint), `dup_corpus` (fingerprint already
    * ingested), or `kept`. One window over fp + one left join against the
    * distinct corpus-fingerprint frame — at 100 TB that store is a
    * bucketed table on fp, making the join shuffle-free on the store side
    * and the daily increment the only side that moves. Emits per-status
    * counts + id sums so any misclassified document hash-fails. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", Text.fingerprint($"text").as("fp"))
    val incoming = docs.filter(Etl.hashBucket($"doc_id") >= 70)
    val corpusFps = docs.filter(Etl.hashBucket($"doc_id") < 70)
      .select($"fp").distinct().withColumn("in_corpus", lit(1))
    incoming
      .withColumn("min_id", min($"doc_id").over(Window.partitionBy($"fp")))
      .join(corpusFps, Seq("fp"), "left")
      .withColumn("status",
        when($"doc_id" =!= $"min_id", lit("dup_within"))
          .when($"in_corpus".isNotNull, lit("dup_corpus"))
          .otherwise(lit("kept")))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
  }

  private val incrementalDedupSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
      |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 100 AS bucket
      |  FROM documents
      |), inc AS (
      |  SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS min_id
      |  FROM d WHERE bucket >= 70
      |), ex AS (
      |  SELECT DISTINCT fp FROM d WHERE bucket < 70
      |)
      |SELECT CASE WHEN doc_id <> min_id THEN 'dup_within'
      |            WHEN fp IN (SELECT fp FROM ex) THEN 'dup_corpus'
      |            ELSE 'kept' END AS status,
      |  COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM inc GROUP BY 1""".stripMargin

  /** Token-set Jaccard similarity between adjacent doc_ids (a bounded,
    * deterministic candidate set — the pairwise scorer that LSH bucketing
    * feeds at scale; see [[Similarity.minhashDedup]] for the bucketed path).
    */
  def jaccardSim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", array_distinct(Text.tokensLower($"text")).as("toks"))
    val a = docs.as("a")
    val b = docs.as("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect($"a.toks", $"b.toks")) * lit(1.0) /
          (size($"a.toks") + size($"b.toks") - size(array_intersect($"a.toks", $"b.toks"))))
          .as("jaccard"))
  }

  private val jaccardSimSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_filter(a.toks, x -> list_contains(b.toks, x))) * 1.0
      |    / (len(a.toks) + len(b.toks) - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1""".stripMargin

  /** Rolling-hash document fingerprints: full-document Rabin–Karp hash plus
    * the winnowing-style minimum 8-gram hash (the overlap-detection
    * primitive — shared substrings ⇒ shared minimum with high
    * probability). Pure integer column math, fully oracled. */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // hash the NORMALIZED text in a separate projection — the k-gram lambda
    // re-evaluates its input per window (same trap as shingling).
    // spread: the per-row winnowing math dominates, and a one-file scan
    // plans a single task (a scan that already fills the cores passes
    // through untouched).
    Tuning.spread(Tables.documents(spark, dir))
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .select($"doc_id",
        Text.rollingHash($"norm").as("roll_hash"),
        Text.winnowFingerprintNative($"norm", 8).as("winnow_fp"))
  }

  private val rollingFingerprintSql =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN length(norm) = 0 THEN 7
      |       ELSE list_reduce(
      |         list_prepend(CAST(7 AS BIGINT),
      |           list_transform(regexp_extract_all(norm, '.'), c -> CAST(ord(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 2147483647) END AS roll_hash,
      |  CASE WHEN length(norm) < 8 THEN NULL
      |       ELSE list_min(list_transform(range(1, length(norm) - 6),
      |         i -> list_reduce(
      |           list_prepend(CAST(7 AS BIGINT),
      |             list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |               c -> CAST(ord(c) AS BIGINT))),
      |           (a, b) -> (a * 31 + b) % 2147483647))) END AS winnow_fp
      |FROM n""".stripMargin

  /** Within-document repetition ratio (the Gopher-style quality rule):
    * 1 − distinct/total character-8-grams — templated or looping text
    * duplicates its own k-grams. Per-row scalar over the native k-gram
    * hashes; emits the docs above the repetition threshold with their
    * ratios. */
  def repetition(spark: SparkSession, dir: String,
                 minRatio: Double = 0.12): DataFrame = {
    import spark.implicits._
    // fused native [n_grams, n_distinct] (r17): the filter only needs the
    // two counts — no gram array or distinct copy is materialized per row
    // (bit-identical to size/size(array_distinct) over kgramHashesNative;
    // NativeExprPropertySpec pins it)
    Tuning.spread(Tables.documents(spark, dir))
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      .select($"doc_id", Text.kgramStatsNative($"norm", 8).as("gs"))
      .select($"doc_id",
        element_at($"gs", 1).as("n_grams"),
        element_at($"gs", 2).as("n_distinct"))
      .withColumn("rep_ratio", lit(1.0) - $"n_distinct" * lit(1.0) / $"n_grams")
      .filter($"rep_ratio" >= minRatio)
  }

  private val repetitionSql =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, list_transform(range(1, length(norm) - 6),
      |    i -> list_reduce(
      |      list_prepend(CAST(7 AS BIGINT),
      |        list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |          c -> CAST(ord(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647)) AS grams
      |  FROM n WHERE length(norm) >= 8
      |)
      |SELECT doc_id, n_grams, n_distinct, 1.0 - n_distinct * 1.0 / n_grams AS rep_ratio
      |FROM (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |             CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct
      |      FROM g)
      |WHERE 1.0 - n_distinct * 1.0 / n_grams >= 0.12""".stripMargin

  // --------------------------------------------------------- decontamination

  /** Benchmark decontamination — the standard "is my training corpus
    * contaminated with eval data?" check: character-8-gram hash overlap
    * between each corpus document and a benchmark set (here the docs with
    * doc_id < `benchmarkIds`, standing in for an eval suite). Emits, per
    * contaminated corpus doc, how many distinct grams it shares and with
    * how many benchmark docs.
    *
    * Contamination is judged by the FRACTION of the doc's own distinct
    * grams found anywhere in the benchmark union — an eval dup shares
    * nearly all of them. (The synthetic corpus's tiny vocabulary gives a
    * 0.6–0.7 background fraction; 0.85 isolates the genuine planted
    * eval-dups. On a real corpus the background sits near zero and the
    * same threshold applies with far more margin.)
    *
    * Scale shape: the benchmark side is small by construction (eval suites
    * are tiny vs a corpus) and its parquet scan prunes on `doc_id <
    * benchmarkIds`, so it broadcasts; the corpus grams are streamed ONCE
    * through a broadcast LEFT join and a single per-doc hash aggregation
    * computes totals, shared counts, and touched-benchmark-doc counts
    * together — no data-sized cache, no second corpus scan. Never
    * all-pairs, never a driver collect. */
  def decontaminate(spark: SparkSession, dir: String,
                    benchmarkIds: Long = 20, minFrac: Double = 0.85): DataFrame = {
    import spark.implicits._
    // minFrac > 0 is load-bearing for the inner-join restructure below: a
    // doc with ZERO shared grams has share_frac 0 and can never clear the
    // threshold, so dropping its gram rows at the join (instead of
    // carrying them through a LEFT join to aggregate nulls) cannot change
    // the result. At minFrac <= 0 the two shapes would differ.
    require(minFrac > 0, s"decontaminate requires minFrac > 0, got $minFrac")
    def grams(df: DataFrame): DataFrame = df
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      .select($"doc_id", explode(array_distinct(Text.kgramHashesNative($"norm", 8))).as("g"))
    val docs = Tables.documents(spark, dir)
    val bench = grams(docs.filter($"doc_id" < benchmarkIds))
      .select($"doc_id".as("bench_id"), $"g")
    // r17 restructure (guide §2.3 — shuffle fewer bytes): the per-doc gram
    // TOTAL is just the size of the per-row distinct gram array, so compute
    // it as a scalar BEFORE the explode and carry it through the grouping
    // key instead of a third count_distinct. That (a) turns the old
    // 3-projection Expand (one per distinct aggregate) into 2 and (b) lets
    // the join go INNER — on a real corpus the benchmark-matched fraction
    // is near zero, so the aggregation's input shrinks from every corpus
    // gram to the matched grams only. Grams are distinct per doc before
    // the join, so count_distinct(g) == the old left-join total and the
    // matched-side counts are unchanged; the oracle hash pins equality.
    val corpus = Tuning.spread(docs.filter($"doc_id" >= benchmarkIds))
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      .select($"doc_id", array_distinct(Text.kgramHashesNative($"norm", 8)).as("gs"))
      .select($"doc_id", size($"gs").cast("long").as("n_grams"), explode($"gs").as("g"))
    corpus.join(broadcast(bench), Seq("g"))
      .groupBy($"doc_id", $"n_grams")
      .agg(
        count_distinct($"g").as("n_shared_grams"),
        count_distinct($"bench_id").as("n_bench_docs"))
      .withColumn("share_frac", $"n_shared_grams" * lit(1.0) / $"n_grams")
      .filter($"share_frac" >= minFrac)
      .select($"doc_id", $"n_shared_grams", $"n_bench_docs", $"n_grams", $"share_frac")
  }

  private val decontaminateSql =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(norm) - 6),
      |    i -> list_reduce(
      |      list_prepend(CAST(7 AS BIGINT),
      |        list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |          c -> CAST(ord(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647)))) AS gram
      |  FROM n WHERE length(norm) >= 8
      |)
      |, tot AS (
      |  SELECT doc_id, COUNT(*) AS n_grams FROM g WHERE doc_id >= 20 GROUP BY doc_id
      |), s AS (
      |  SELECT c.doc_id,
      |    COUNT(DISTINCT c.gram) AS n_shared_grams,
      |    COUNT(DISTINCT b.doc_id) AS n_bench_docs
      |  FROM g c JOIN g b ON c.gram = b.gram
      |  WHERE c.doc_id >= 20 AND b.doc_id < 20
      |  GROUP BY c.doc_id)
      |SELECT doc_id, n_shared_grams, n_bench_docs, n_grams,
      |  n_shared_grams * 1.0 / n_grams AS share_frac
      |FROM s JOIN tot USING (doc_id)
      |WHERE n_shared_grams * 1.0 / n_grams >= 0.85""".stripMargin

  // ------------------------------------------------- end-to-end prep pipeline

  /** The flagship LLM-data-prep composition, one query: exact-dedup the
    * corpus on the normalized fingerprint (keep the min doc_id per
    * fingerprint), drop deterministic-minhash near-dups, keep documents
    * whose quality score clears 0.5, and report per-source corpus stats.
    * Every stage is an already-oracled operator ([[fingerprintDedup]],
    * [[Similarity.minhashDetDedup]], [[qualityScore]]) — this registers
    * their composition under the gate, the thing a real pipeline runs.
    * Scale shape: two hash-agg shuffles (fingerprint group, final stats),
    * one banded bucket join (near-dup), per-row scalars for quality —
    * nothing quadratic, nothing driver-side. */
  def llmPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tuning.spread(Tables.documents(spark, dir))
    // stage 1: exact/formatting dedup — keep min doc_id per fingerprint
    val fpKeep = docs
      .groupBy(Text.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val afterFp = docs.join(fpKeep, Seq("doc_id"), "left_semi")
    // stage 2: near-dup drops via the deterministic banded minhash —
    // computed over the FULL corpus, not the fp-survivors: a survivor
    // whose (smaller) near-dup partner was fp-dropped must still drop,
    // and independent drop-sets keep the stages order-insensitive.
    val afterNear = Similarity.minhashDetCandidates(docs)(Similarity.dropLaterDups(afterFp, _))
    // stage 3: quality gate + per-source stats
    val nTok = Text.tokenCount($"text")
    val stops = Text.occurrenceCount($"text", Seq("the", "a", "of", "and", "to", "in", "is"))
    val stopRatio = stops * lit(1.0) / nTok
    val punctRatio = Text.punctCount($"text") * lit(1.0) / length($"text")
    val meanLen = Text.tokenCharSum($"text") * lit(1.0) / nTok
    val lenOk = when(length($"text").between(100, 100000), lit(1.0)).otherwise(lit(0.0))
    val meanLenOk = when(meanLen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val quality = stopRatio * lit(0.4) + (lit(1.0) - punctRatio) * lit(0.2) +
      lenOk * lit(0.2) + meanLenOk * lit(0.2)
    afterNear
      .withColumn("quality", quality)
      .withColumn("n_tokens", nTok.cast("long"))
      .filter($"quality" >= 0.5)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"))
  }

  private val llmPipelineSql = {
    val detCand = graft.ops.Similarity.detCandSqlCtes
    s"""WITH $detCand, near_drops AS (
      |  SELECT DISTINCT doc_b FROM cand WHERE agree >= 9
      |), fp_keep AS (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM documents
      |  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
      |), kept AS (
      |  SELECT d.* FROM documents d
      |  JOIN fp_keep k ON d.doc_id = k.doc_id
      |  WHERE d.doc_id NOT IN (SELECT doc_b FROM near_drops)
      |), scored AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |        x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |      / len(string_split_regex(trim(text), '\\s+')) * 0.4
      |    + (1.0 - len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text)) * 0.2
      |    + CAST(CASE WHEN length(text) BETWEEN 100 AND 100000 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2
      |    + CAST(CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '\\s+'), x -> length(x))) * 1.0
      |                     / len(string_split_regex(trim(text), '\\s+'))
      |                BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) * 0.2 AS quality
      |  FROM kept)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM scored WHERE quality >= 0.5
      |GROUP BY source""".stripMargin
  }

  // --------------------------------------------------------- sessionization

  /** Gap-based sessionization over the event stream: per user, a new
    * session starts when the gap to the previous event exceeds 30 minutes;
    * sessions aggregate to (n_events, span). lag + running-sum windows —
    * one shuffle on user_id, then per-partition sorted evaluation. */
  /** Gap-sessionization core over a (user_id, event_id, sec) frame — ONE
    * definition shared by [[sessionize]] and [[AsOf.intervalJoin]]'s
    * session-interval derivation, so the gap threshold and the
    * engine-independent (sec, event_id) window order can never diverge
    * between the two (both oracles encode the identical semantics).
    * Returns one row per (user_id, session_seq) with event count and
    * start/end epoch seconds. */
  private[ops] def gapSessionAgg(ev: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    import ev.sparkSession.implicits._
    // Order on (sec, event_id) — the second-truncated time plus a unique
    // tie-break — so the window order is engine-independent (sub-second ts
    // ordering would be invisible to the oracle).
    val w = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("gap", $"sec" - lag($"sec", 1).over(w))
      .withColumn("is_new", when($"gap".isNull || $"gap" > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        min($"sec").as("start_s"), max($"sec").as("end_s"))
  }

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gapSessionAgg(Tables.events(spark, dir)
        .select($"user_id", $"event_id", unix_timestamp($"ts").as("sec")))
      .select($"user_id", $"session_seq", $"n_events", $"start_s", $"end_s",
        ($"end_s" - $"start_s").as("span_s"))
  }

  private val sessionizeSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
      |), g AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), s AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(sec) AS start_s, MAX(sec) AS end_s, MAX(sec) - MIN(sec) AS span_s
      |FROM s GROUP BY 1, 2""".stripMargin

  private val streamWindowedSql =
    """SELECT CAST(floor(epoch(ts)) AS BIGINT) // 600 * 600 AS w_start_s,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- registry

  // ------------------------------------------------- mixture / packing / PII

  /** Data-mixture sampling — the "web at 15%, wiki at 100%" weighting step
    * of corpus assembly: each source gets a deterministic keep rate and
    * rows survive if their [[Etl.hashBucket]] falls under it. Because the
    * bucket is a pure affine hash of doc_id, the mix is reproducible in any
    * engine, stable under repartitioning, and a row's membership never
    * changes across runs (the properties epoch-stable training data needs —
    * a Bernoulli sample has none of them). Rates here derive from the
    * source id by a fixed formula standing in for a config table; emits
    * per-source kept doc/token counts against the configured rate. Narrow
    * scalar math + one hash agg — nothing data-sized moves. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcNum = substring($"source", 4, 10).cast("int")
    val keepPct = (srcNum * 7 % 20) * 5 + 5 // 5..100, fixed per source
    Tables.documents(spark, dir)
      .withColumn("keep_pct", keepPct)
      .filter(Etl.hashBucket($"doc_id") < $"keep_pct")
      .groupBy($"source", $"keep_pct")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text").cast("long")).as("n_tokens"))
  }

  private val mixtureSampleSql =
    """SELECT source, keep_pct, COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
      |FROM (
      |  SELECT source, text,
      |    (CAST(substring(source, 4) AS INTEGER) * 7 % 20) * 5 + 5 AS keep_pct,
      |    ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 100 AS bucket
      |  FROM documents)
      |WHERE bucket < keep_pct
      |GROUP BY 1, 2""".stripMargin

  /** Temperature-based mixture weighting — the multilingual-corpus recipe
    * (mT5/XLM-R style: sample source i with p_i ∝ n_i^α, α<1) that UPWEIGHTS
    * small sources and flattens dominant ones, where [[mixtureSample]]
    * takes its keep rates from config. α is fixed at 0.5 so the weight is
    * an integer square root — `floor(sqrt(n_tokens))` is bit-portable
    * (IEEE-754 requires sqrt correctly rounded, and token counts are far
    * below 2^53), keeping the whole computation under the DuckDB hash
    * where a pow(x, 0.3) would not be. Rates land as ppm by exact integer
    * division, and membership is the same affine doc_id hash as
    * [[Etl.hashBucket]] at ppm granularity — reproducible in any engine,
    * stable under repartitioning.
    *
    * Scale shape: exactly two corpus passes — one hash agg down to the
    * O(sources) histogram (collected: a bounded, NON-data-sized dim, same
    * rule as [[sourceOverlap]]'s matrix — a cache here would be released
    * before the caller's action and silently re-cost a third pass), rates
    * derived in exact driver integer math, then the sources-sized rate dim
    * broadcast back onto the doc frame for one final hash agg. Emits per
    * source: corpus totals, the √-weight, the ppm rate, and kept doc/token
    * counts — a single misassigned document hash-fails. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"source", Text.tokenCount($"text").cast("long").as("n_tok"))
    val hist = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .withColumn("w", floor(sqrt($"n_tokens")).cast("long"))
      .as[(String, Long, Long, Long)].collect() // O(sources), bounded
    val totalW = hist.map(_._4).sum
    require(totalW > 0, s"temperatureMix: empty or zero-token corpus at $dir")
    val rates = hist.toSeq
      .map { case (src, nd, nt, w) => (src, nd, nt, w, w * 1000000L / totalW) }
      .toDF("source", "n_docs", "n_tokens", "w", "rate_ppm")
    docs
      .join(broadcast(rates), Seq("source"))
      .withColumn("keep", Etl.hashBucket($"doc_id", 1000000) < $"rate_ppm")
      .groupBy($"source", $"n_docs", $"n_tokens", $"w", $"rate_ppm")
      .agg(sum(when($"keep", 1L).otherwise(0L)).as("n_kept_docs"),
        sum(when($"keep", $"n_tok").otherwise(0L)).as("n_kept_tokens"))
  }

  private val temperatureMixSql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents
      |), s AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(floor(sqrt(CAST(SUM(n_tok) AS BIGINT))) AS BIGINT) AS w
      |  FROM d GROUP BY 1
      |), r AS (
      |  SELECT *, CAST(w * 1000000 // (SELECT SUM(w) FROM s) AS BIGINT) AS rate_ppm
      |  FROM s
      |)
      |SELECT r.source, r.n_docs, r.n_tokens, r.w, r.rate_ppm,
      |  CAST(SUM(CASE WHEN ((d.doc_id % 2147483647) * 1103515245 + 12345)
      |      % 2147483647 % 1000000 < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
      |  CAST(SUM(CASE WHEN ((d.doc_id % 2147483647) * 1103515245 + 12345)
      |      % 2147483647 % 1000000 < r.rate_ppm THEN d.n_tok ELSE 0 END) AS BIGINT) AS n_kept_tokens
      |FROM d JOIN r USING (source)
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  /** Token-balanced shard assignment — the "every training shard holds the
    * same token volume" layout step before a distributed data-loader reads
    * the corpus: within each language, documents sort by token count
    * descending (deterministic doc_id tie-break) and deal round-robin
    * across `nShards` shards — the classic longest-processing-time-first
    * balance heuristic, made deterministic and engine-portable. Emits per
    * shard: doc/token totals, a doc_id-sum membership checksum, and the
    * shard's exact integer-ppm share of all tokens (the balance audit —
    * DECIMAL(38) math so `tokens × 10^6` cannot overflow at any corpus
    * size).
    *
    * Scale shape: the ranking window partitions by `lang` (a production
    * run shards finer — any bounded-cardinality key works; the window is
    * per-partition, never global), then one hash agg down to nShards rows,
    * which COLLECT (bounded driver state) for the exact share math — a
    * total-join formulation evaluated the ranking window twice (no
    * exchange reuse across the self-referencing subtrees; caught in the
    * plan audit), and at 100 TB the window IS the cost. No global sort,
    * no data-sized driver traffic. */
  def balancedShards(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_tok".desc, $"doc_id")
    val per = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", Text.tokenCount($"text").cast("long").as("n_tok"))
      .withColumn("shard", ((row_number().over(w) - 1) % nShards).cast("long"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"doc_id").as("id_sum"))
      .as[(Long, Long, Long, Long)].collect() // nShards rows, bounded
    val total = per.map(r => BigInt(r._3)).sum
    require(total > 0, s"balancedShards: empty or zero-token corpus at $dir")
    per.toSeq
      .map { case (shard, nDocs, nTok, idSum) =>
        (shard, nDocs, nTok, idSum, (BigInt(nTok) * 1000000 / total).toLong)
      }
      .toDF("shard", "n_docs", "n_tokens", "id_sum", "share_ppm")
  }

  /** The distributed half of [[balancedShards]] — per-lang ranking window
    * → nShards-row aggregate — exposed un-executed for the plan audit
    * (the registered query finalizes the bounded share math on the
    * driver, so its own plan shows only a LocalTableScan). */
  def balancedShardsPlan(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_tok".desc, $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", Text.tokenCount($"text").cast("long").as("n_tok"))
      .withColumn("shard", ((row_number().over(w) - 1) % nShards).cast("long"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"doc_id").as("id_sum"))
  }

  private val balancedShardsSql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_tok,
      |    CAST((row_number() OVER (PARTITION BY lang ORDER BY n_tok DESC, doc_id) - 1) % 8 AS BIGINT) AS shard
      |  FROM d
      |), p AS (
      |  SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |  FROM s GROUP BY 1
      |)
      |SELECT shard, n_docs, n_tokens, id_sum,
      |  CAST(CAST(n_tokens AS HUGEINT) * 1000000
      |    // (SELECT CAST(SUM(n_tokens) AS HUGEINT) FROM p) AS BIGINT) AS share_ppm
      |FROM p""".stripMargin

  /** Context packing — the concat-then-chunk step that turns a document
    * stream into fixed-size training windows (every GPT-style pipeline's
    * final shape): per language, documents concatenate in doc_id order and
    * the token stream is cut into `ctxSize`-token windows; a document
    * whose span crosses a cut lands in both windows. Emits per (lang,
    * window): contributing docs, docs split across a boundary, and the
    * token count (exactly ctxSize for every non-final window — the oracle
    * hash-checks the whole assignment).
    *
    * Scale shape: one cumulative-sum window partitioned by the packing
    * shard (`lang` here; a production run shards finer — the shard column
    * is the ONLY thing that changes), then a narrow span-explode and one
    * hash agg. Nothing global, nothing driver-side. */
  def packContexts(spark: SparkSession, dir: String, ctxSize: Int = 512): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select($"lang", $"doc_id", Text.tokenCount($"text").cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("st", $"cum" - $"n_tok")
      .withColumn("b0", expr(s"st div $ctxSize"))
      .withColumn("b1", expr(s"(cum - 1) div $ctxSize"))
      .withColumn("bin", explode(sequence($"b0", $"b1")))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"b0" =!= $"b1", 1L).otherwise(0L)).as("n_split_docs"),
        sum(least($"cum", ($"bin" + 1) * ctxSize) -
          greatest($"st", $"bin" * ctxSize)).as("n_tokens"))
  }

  private val packContextsSql =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT lang, doc_id, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM t
      |), s AS (
      |  SELECT lang, doc_id, n_tok, cum, cum - n_tok AS st,
      |    (cum - n_tok) // 512 AS b0, (cum - 1) // 512 AS b1
      |  FROM c
      |), e AS (
      |  SELECT lang, st, cum, b0, b1, unnest(range(b0, b1 + 1)) AS bin FROM s
      |)
      |SELECT lang, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN b0 <> b1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
      |  CAST(SUM(LEAST(cum, (bin + 1) * 512) - GREATEST(st, bin * 512)) AS BIGINT) AS n_tokens
      |FROM e GROUP BY 1, 2""".stripMargin

  /** Sliding-window document CHUNKING — the per-document half of the
    * training-window story beside [[packContexts]]: long documents split
    * into `maxLen`-word chunks advancing by `stride` words, so consecutive
    * chunks overlap by `maxLen − stride` (the overlap that preserves
    * cross-boundary context for embedding/RAG indexing; packing
    * concatenates ACROSS documents, chunking splits WITHIN one). Emits one
    * row per chunk with its word count and an md5 fingerprint of the chunk
    * text — the fingerprint puts the exact chunk CONTENT (word slicing,
    * overlap math, join order) under the DuckDB hash, not just the counts.
    *
    * Scale shape: narrow per-row generate (explode of the start offsets) —
    * no shuffle at all until a consumer aggregates; chunk count per doc is
    * ceil(words/stride), so output size tracks corpus token count, and the
    * generator's inputs (the word array) never leave the row. */
  def chunkDocs(spark: SparkSession, dir: String,
                maxLen: Int = 64, stride: Int = 48): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokens($"text").as("words"))
      .select($"doc_id", $"words",
        explode(sequence(lit(0), size($"words") - 1, lit(stride))).as("start"))
      .select($"doc_id",
        expr(s"CAST(start div $stride AS BIGINT)").as("chunk_seq"),
        size(slice($"words", $"start" + lit(1), lit(maxLen))).cast("long").as("n_words"),
        md5(concat_ws(" ", slice($"words", $"start" + lit(1), lit(maxLen)))).as("fp"))
  }

  private val chunkDocsSql =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, words, unnest(range(0, len(words), 48)) AS start FROM w
      |)
      |SELECT doc_id, start // 48 AS chunk_seq,
      |  CAST(len(words[start + 1 : start + 64]) AS BIGINT) AS n_words,
      |  md5(array_to_string(words[start + 1 : start + 64], ' ')) AS fp
      |FROM s""".stripMargin

  /** PII redaction — the scrub step of corpus prep: replace email
    * addresses and phone-shaped digit runs with placeholder tags, emit
    * per-doc hit counts and the size delta. The synthetic corpus contains
    * no PII, so deterministic contact strings are PLANTED first (doc_id
    * mod 3 → an email, mod 5 → a phone) — the oracle recomputes the
    * planting AND the redaction, so a missed or over-eager pattern
    * hash-fails. Patterns stick to explicit character classes that parse
    * identically in Java regex (Spark) and RE2 (DuckDB). Per-row scalar
    * work, codegen'd, no shuffle before the final projection. */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Tables.documents(spark, dir)
      .withColumn("aug", concat($"text",
        when($"doc_id" % 3 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" call 555-"), format_string("%04d", $"doc_id" % 10000))).otherwise(lit(""))))
    val emailRe = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    planted
      .withColumn("redacted",
        regexp_replace(regexp_replace($"aug", emailRe, "<EMAIL>"), phoneRe, "<PHONE>"))
      .select($"doc_id",
        regexp_count($"aug", lit(emailRe)).cast("long").as("n_emails"),
        regexp_count($"aug", lit(phoneRe)).cast("long").as("n_phones"),
        length($"aug").cast("long").as("len_before"),
        length($"redacted").cast("long").as("len_after"))
      .filter($"n_emails" + $"n_phones" > 0)
  }

  private val redactPiiSql =
    """WITH p AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || format('{:04d}', doc_id % 10000) ELSE '' END AS aug
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, aug,
      |    regexp_replace(regexp_replace(aug, '[a-z0-9.]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
      |  FROM p
      |)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[a-z0-9.]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  CAST(length(aug) AS BIGINT) AS len_before,
      |  CAST(length(red) AS BIGINT) AS len_after
      |FROM r
      |WHERE len(regexp_extract_all(aug, '[a-z0-9.]+@[a-z0-9]+\.[a-z]+'))
      |    + len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) > 0""".stripMargin

  // ------------------------------------------------- retrieval / passages

  /** BM25 relevance scoring of the corpus against a fixed query-term set —
    * the retrieval/ranking primitive of a data pipeline (query-based corpus
    * selection, nearest-neighbor text search re-ranking).
    *
    * Engine-portable determinism: the usual `ln((N−df+0.5)/(df+0.5))` idf is
    * replaced by the raw ratio (a strictly monotone transform of it, so
    * rankings by a single term agree) because `ln` is not guaranteed
    * correctly-rounded across runtimes; every remaining operation is IEEE
    * +,−,×,÷ — bit-exact in any engine evaluating the same expression tree.
    * Per-term scores are scaled to integer micros BEFORE the per-doc sum, so
    * the sum is order-independent. The oracle SQL is generated from the same
    * k1/b constants via `Double.toString` round-tripping.
    *
    * Scale shape: the exploded token stream is filtered to the query terms
    * BEFORE the shuffle (a few-term query keeps ~nothing), the df and
    * corpus-stats frames are O(terms)/O(1) and broadcast, and the final
    * top-k is TakeOrdered — no global sort, no driver loop. */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = bm25Terms,
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 50): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", Text.tokensLower($"text").as("toks"))
      .select($"doc_id", $"toks", size($"toks").cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"term")
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", $"sum_dl" * lit(1.0) / $"n_docs")
      .withColumn("idf_r", ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
      .withColumn("score",
        $"idf_r" * ($"tf" * lit(k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0) - lit(b) + lit(b) * $"dl" / $"avgdl")))
      .withColumn("score_micro", floor($"score" * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), sum($"score_micro").as("score_micro"))
      .orderBy($"score_micro".desc, $"doc_id")
      .limit(topK)
  }

  /** Fixed query-term set for the registered BM25 query (high-mid df in the
    * synthetic vocabulary, so tf and df both vary). */
  private val bm25Terms = Seq("join", "hash", "filter", "merge")

  private val bm25Sql = {
    val (k1, b) = (1.2, 0.75)
    val termList = bm25Terms.map(t => s"'$t'").mkString("[", ",", "]")
    // interpolate the EXACT doubles the Spark side uses (Double.toString
    // round-trips, DuckDB parses decimal literals to nearest double)
    s"""WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks,
      |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
      |  FROM documents
      |), stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d
      |), tf AS (
      |  SELECT doc_id, dl, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
      |  WHERE list_contains($termList, term)
      |  GROUP BY 1, 2, 3
      |), dft AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      |), scored AS (
      |  SELECT doc_id,
      |    CAST(floor(
      |      (n_docs - df + 0.5) / (df + 0.5)
      |        * (tf * ${(k1 + 1.0).toString}) /
      |        (tf + ${k1.toString} * (1.0 - ${b.toString} + ${b.toString} * dl / (sum_dl * 1.0 / n_docs)))
      |      * 1000000.0 + 0.5) AS BIGINT) AS score_micro
      |  FROM tf JOIN dft USING (term), stats
      |)
      |SELECT doc_id, COUNT(*) AS n_terms_hit, CAST(SUM(score_micro) AS BIGINT) AS score_micro
      |FROM scored GROUP BY doc_id
      |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Passage-level exact dedup — dedup at sub-document granularity (the
    * RefinedWeb/CCNet-style line- or paragraph-dedup tier; the synthetic
    * corpus has no newlines, so passages are fixed 20-token windows, which
    * is also exactly how repeated boilerplate is cut out of real corpora).
    * Every passage keeps its FIRST corpus occurrence (min doc_id, then min
    * offset); later copies anywhere in the corpus drop. Emits per-doc
    * retention stats.
    *
    * Scale shape: explode is linear in corpus tokens, the first-occurrence
    * choice is one window (equivalently a min-agg + semi-join) partitioned
    * by the passage digest, and the final agg shuffles doc-id-sized rows.
    * Grouping is on md5 digests, not passage text — shuffle keys stay
    * 16 bytes regardless of passage length. */
  def passageDedup(spark: SparkSession, dir: String, win: Int = 20): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id", $"idx")
    Tuning.spread(Tables.documents(spark, dir))
      .select($"doc_id", Text.tokensLower($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), expr(s"(size(toks) - 1) div $win")),
          i => array_join(slice($"toks", i * win + 1, lit(win)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "passage")
      .withColumn("fp", md5($"passage"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rn" === 1, length($"passage").cast("long")).otherwise(0L)).as("chars_kept"))
  }

  private val passageDedupSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) > 0
      |), x AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, (len(toks) - 1) // 20 + 1)) AS idx
      |  FROM t
      |), c AS (
      |  SELECT doc_id, idx,
      |    array_to_string(toks[(idx * 20 + 1):(idx * 20 + 20)], ' ') AS passage
      |  FROM x
      |), r AS (
      |  SELECT doc_id, idx, passage,
      |    row_number() OVER (PARTITION BY md5(passage) ORDER BY doc_id, idx) AS rn
      |  FROM c
      |)
      |SELECT doc_id, COUNT(*) AS n_passages,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn = 1 THEN length(passage) ELSE 0 END) AS BIGINT) AS chars_kept
      |FROM r GROUP BY doc_id""".stripMargin

  /** Corpus bigram language-model counts — the n-gram-LM statistics tier
    * (KenLM-style count collection): top bigrams with their raw counts,
    * prefix (context) totals, and the conditional probability
    * P(w₂|w₁) in integer micros (`count·10⁶ div prefix_total` — integer
    * division, so the value is engine-exact, no float summation anywhere).
    *
    * Scale shape: one explode (linear in corpus tokens), one hash agg on
    * the bigram, a window-sum per prefix over the ALREADY-AGGREGATED
    * bigram frame (vocabulary-sized, not corpus-sized), TakeOrdered top-k. */
  def bigramLm(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    import spark.implicits._
    val wp = Window.partitionBy(split($"bigram", " ").getItem(0))
    Tables.documents(spark, dir)
      .select(Text.tokensLower($"text").as("toks"))
      .select(explode(Text.ngramsFromTokens($"toks", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .withColumn("n_prefix", sum($"n").over(wp))
      .withColumn("p_micro", expr("(n * 1000000) div n_prefix"))
      .orderBy($"n".desc, $"bigram")
      .limit(topK)
  }

  private val bigramLmSql =
    """WITH b AS (
      |  SELECT unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents)
      |), c AS (
      |  SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1
      |), p AS (
      |  SELECT bigram, n,
      |    CAST(SUM(n) OVER (PARTITION BY string_split(bigram, ' ')[1]) AS BIGINT) AS n_prefix
      |  FROM c
      |)
      |SELECT bigram, n, n_prefix, (n * 1000000) // n_prefix AS p_micro
      |FROM p ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** LM-based quality scoring — the CCNet-style perplexity filter: a bigram
    * LM is estimated from the in-domain slice of the corpus (`lang = 'en'`
    * here; a production run trains on a vetted reference corpus), then EVERY
    * document is scored by its mean bigram surprise. Out-of-domain or
    * garbled text hits unseen/rare bigrams and scores high; fluent
    * in-domain text scores low. The usual −log p is replaced by the linear
    * surprise `10⁶ − P(w₂|w₁)·10⁶` in integer micros (monotone in −p, and
    * `ln` is not correctly-rounded across engines), with unseen bigrams at
    * full surprise — so per-doc sums are order-independent integer math and
    * the whole filter hash-checks in any engine.
    *
    * Scale shape: the LM frame is aggregated (vocabulary²-bounded, shrinks
    * with Zipf) — at corpus scale it shuffles once on the bigram key and
    * joins the exploded doc stream keyed the same way; no driver state, no
    * data-sized broadcast (the planner may still choose to broadcast a
    * small LM, which is the right call when it fits). */
  def lmScore(spark: SparkSession, dir: String, trainLang: String = "en"): DataFrame = {
    import spark.implicits._
    // NOT spread (r18, measured): the two serial tokenize passes are
    // ~0.3 s each, but spreading moves the raw text bytes through an
    // exchange that costs the same — solo median unchanged (1.4 s both
    // ways). The serial stages are a single-row-group fixture artifact.
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", Text.tokensLower($"text").as("toks"))
      .filter(size($"toks") >= 2)
    val wp = Window.partitionBy(split($"bigram", " ").getItem(0))
    val lm = docs.filter($"lang" === trainLang)
      .select(explode(Text.ngramsFromTokens($"toks", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .withColumn("n_prefix", sum($"n").over(wp))
      .select($"bigram", expr("(n * 1000000) div n_prefix").as("p_micro"))
    docs
      .select($"doc_id", explode(Text.ngramsFromTokens($"toks", 2)).as("bigram"))
      .join(lm, Seq("bigram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"p_micro".isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(lit(1000000L) - coalesce($"p_micro", lit(0L))).as("surprise_sum"))
      .withColumn("score_micro", expr("surprise_sum div n_bigrams"))
  }

  private val lmScoreSql =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 2
      |), b AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |  FROM d
      |), lmc AS (
      |  SELECT bigram, COUNT(*) AS n
      |  FROM (SELECT unnest(list_transform(range(1, len(toks)),
      |          i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      |        FROM d WHERE lang = 'en')
      |  GROUP BY 1
      |), lm AS (
      |  SELECT bigram, (n * 1000000)
      |    // CAST(SUM(n) OVER (PARTITION BY string_split(bigram, ' ')[1]) AS BIGINT) AS p_micro
      |  FROM lmc
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CASE WHEN p_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
      |  CAST(SUM(1000000 - COALESCE(p_micro, 0)) AS BIGINT) AS surprise_sum,
      |  CAST(SUM(1000000 - COALESCE(p_micro, 0)) AS BIGINT) // COUNT(*) AS score_micro
      |FROM b LEFT JOIN lm USING (bigram)
      |GROUP BY doc_id""".stripMargin

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023, arXiv:2302.03169): fit hashed bag-of-words histograms
    * over a TARGET corpus (here the `en` documents — the Wikipedia/books
    * stand-in) and over the RAW pool (everything else — the CommonCrawl
    * stand-in), score each raw document by how much its hashed-unigram mass
    * sits in buckets the target over-represents, and keep the top-k.
    *
    * Portability (per the engine's oracle-parity rules): the paper's
    * log-likelihood-ratio Σ log(p_b/q_b) is replaced by the log-free
    * integer form Σ (p_b − q_b) in micros — same "target-like minus
    * raw-like" ordering signal, but exact integer math both engines
    * reproduce bit-for-bit (the [[lmScore]] precedent). Buckets are
    * `md5(term) % B` via [[Text.md5Long]] — the engine's portable string
    * hash — with add-one smoothing over B so empty buckets stay defined.
    *
    * Scale shape: one explode over the corpus feeds (a) two B-row hash
    * histograms (B=512 — bounded dims regardless of corpus size; the
    * all-rows window computing totals runs on those B rows, never on
    * data), and (b) a broadcast join of the B-row weight dim back onto the
    * raw token stream, then one keyed agg per doc and a TakeOrdered(k).
    * At 100 TB the corpus is touched twice (histogram pass, scoring pass)
    * with no data-sized shuffle other than the per-doc agg. */
  def dsirSelect(spark: SparkSession, dir: String,
                 targetLang: String = "en", buckets: Int = 512,
                 k: Int = 50): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        explode(Text.tokensLower($"text")).as("term"))
      .withColumn("bucket", pmod(Text.md5Long($"term"), lit(buckets.toLong)))
    // ONE histogram pass (r17; was two corpus scans — target and raw each
    // re-exploded the corpus — glued back by a full-outer join + fill):
    // both per-bucket counts are conditional sums of the same scan, and
    // the B-row frame needs no join at all. Identical cells: a bucket
    // appears exactly when either side hit it, with the other side 0.
    val wAll = Window.partitionBy() // B-row dim only — never data-sized
    val weights = toks
      .groupBy($"bucket").agg(
        sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("cnt_t"),
        sum(when($"lang" =!= targetLang, 1L).otherwise(0L)).as("cnt_r"))
      .withColumn("tot_t", sum($"cnt_t").over(wAll))
      .withColumn("tot_r", sum($"cnt_r").over(wAll))
      .select($"bucket", expr(
        s"((cnt_t + 1) * 1000000) div (tot_t + $buckets)" +
          s" - ((cnt_r + 1) * 1000000) div (tot_r + $buckets)").as("w_micro"))
    toks.filter($"lang" =!= targetLang)
      .join(broadcast(weights), Seq("bucket"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_toks"), sum($"w_micro").as("weight_micro"))
      .orderBy($"weight_micro".desc, $"doc_id")
      .limit(k)
  }

  private val dsirSelectSql =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 512 AS bucket
      |  FROM (SELECT doc_id, lang,
      |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |        FROM documents)
      |), tc AS (
      |  SELECT bucket, COUNT(*) AS cnt_t FROM b WHERE lang = 'en' GROUP BY 1
      |), rc AS (
      |  SELECT bucket, COUNT(*) AS cnt_r FROM b WHERE lang <> 'en' GROUP BY 1
      |), w AS (
      |  SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
      |    ((COALESCE(cnt_t, 0) + 1) * 1000000)
      |      // ((SELECT COUNT(*) FROM b WHERE lang = 'en') + 512)
      |    - ((COALESCE(cnt_r, 0) + 1) * 1000000)
      |      // ((SELECT COUNT(*) FROM b WHERE lang <> 'en') + 512) AS w_micro
      |  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket
      |)
      |SELECT b.doc_id, b.lang, COUNT(*) AS n_toks,
      |  CAST(SUM(w_micro) AS BIGINT) AS weight_micro
      |FROM b JOIN w USING (bucket)
      |WHERE b.lang <> 'en'
      |GROUP BY 1, 2
      |ORDER BY weight_micro DESC, doc_id
      |LIMIT 50""".stripMargin

  /** Domain-level curation — the URL/host tier of web-corpus cleaning:
    * extract the host from each document's URL, left-join a host blocklist,
    * and aggregate per (host, status). The synthetic corpus has no URL
    * column, so one is PLANTED deterministically from (source, doc_id) —
    * the oracle recomputes planting, host extraction and the blocklist
    * decision, so a wrong regex or join hash-fails. The blocklist is itself
    * derived data (hosts matching a pattern), exercised as a broadcast
    * left join — exactly how a real blocklist table (UT1, spam lists) is
    * applied at scale.
    *
    * Scale shape: host extraction is a per-row codegen'd scalar; the
    * blocklist is O(blocked hosts) and broadcast; the final agg is one
    * hash-agg shuffle on (host, status) — host cardinality ≪ corpus size. */
  def domainStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val withUrl = Tables.documents(spark, dir)
      .withColumn("url", concat(lit("https://"), $"source", $"doc_id" % 7,
        lit(".example.com/p/"), $"doc_id"))
      .withColumn("host", regexp_extract($"url", "^https://([^/]+)", 1))
    val blocklist = withUrl.select($"host").distinct()
      .filter($"host".rlike("[25]\\.example\\.com$"))
      .withColumn("blocked", lit(1))
    withUrl.join(broadcast(blocklist), Seq("host"), "left")
      .withColumn("status", when($"blocked".isNotNull, "blocked").otherwise("kept"))
      .groupBy($"host", $"status")
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount($"text").cast("long")).as("n_tokens"),
        sum($"doc_id").as("id_sum"))
  }

  private val domainStatsSql =
    """WITH u AS (
      |  SELECT doc_id, text,
      |    regexp_extract('https://' || source || (doc_id % 7) || '.example.com/p/' || doc_id,
      |      '^https://([^/]+)', 1) AS host
      |  FROM documents
      |), bl AS (
      |  SELECT DISTINCT host FROM u WHERE regexp_matches(host, '[25]\.example\.com$')
      |)
      |SELECT host,
      |  CASE WHEN bl.host IS NOT NULL THEN 'blocked' ELSE 'kept' END AS status,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM u LEFT JOIN bl USING (host)
      |GROUP BY 1, 2""".stripMargin

  /** Inter-source contamination matrix — how much of each source's content
    * appears verbatim in another (the corpus-audit step before mixing
    * sources: a high-overlap pair means one source republishes the other
    * and the mixture weights double-count it). For every source pair
    * (a < b): distinct character-8-grams shared, each side's distinct gram
    * count, and overlap as ppm of the smaller side.
    *
    * Scale shape: NOT a gram-keyed self-join (at test stats the planner
    * broadcasts one side, so the identical exchanges never dedupe and the
    * corpus is scanned/hashed once per side — the same trap ROUND4.md
    * documents for the simhash band join). The deduped (source, gram)
    * frame groups once on the gram, and each gram emits its ordered
    * source PAIRS (contamination counts) plus one SINGLETON (src, NULL)
    * row per member (per-source totals) into the SAME aggregation — so
    * the corpus is scanned and gram-hashed exactly once per run. The
    * combined aggregate is (sources² + sources)-bounded — the operator's
    * own output contract — so collecting it and assembling the final
    * matrix on the driver is O(output), not O(data). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = sourceOverlapAgg(spark, dir)
      .as[(String, Option[String], Long)].collect()
    val totals = agg.collect { case (a, None, n) => a -> n }.toMap
    agg.collect { case (a, Some(b), n) =>
        (a, b, n, totals(a), totals(b),
          n * 1000000L / math.min(totals(a), totals(b)))
      }.toSeq
      .toDF("src_a", "src_b", "n_shared", "n_a", "n_b", "overlap_ppm")
  }

  /** The one-scan combined aggregate behind [[sourceOverlap]]: per gram,
    * ordered pair rows count shared grams and (src, NULL) singleton rows
    * count each source's distinct grams. Package-private so the plan test
    * can pin the single-scan shape. */
  private[ops] def sourceOverlapAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ss = $"ss"
    val pairCol = flatten(transform(sequence(lit(1), size(ss) - 1),
      i => transform(sequence(i + lit(1), size(ss)),
        j => struct(element_at(ss, i).as("src_a"), element_at(ss, j).as("src_b")))))
    val singleCol = transform(ss, s =>
      struct(s.as("src_a"), lit(null).cast("string").as("src_b")))
    // guard: sequence(1, 0) DESCENDS in Spark, so size-1 sets must skip
    // the pair builder entirely rather than rely on an empty sequence
    val emptyPairs = array().cast("array<struct<src_a:string,src_b:string>>")
    Tuning.spread(Tables.documents(spark, dir))
      .select($"source", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      // distinct per doc BEFORE the explode (array_distinct is a per-row
      // scalar) — and NO frame-level .distinct(): collect_set dedupes
      // sources per gram by definition and its partial (map-side)
      // aggregation dedupes within each task, so the old explicit
      // distinct only added a full-width (source, gram) Exchange ahead of
      // the collect_set Exchange — 2 corpus-gram shuffles where 1 does
      // the identical job (r17; guide §2.4 — remove shuffles outright).
      // The singleton (src, NULL) totals count DISTINCT grams per source
      // either way, because each gram row contributes each source once.
      .select($"source", explode(array_distinct(Text.kgramHashesNative($"norm", 8))).as("g"))
      .groupBy($"g").agg(sort_array(collect_set($"source")).as("ss"))
      .select(explode(concat(
        when(size(ss) >= 2, pairCol).otherwise(emptyPairs), singleCol)).as("p"))
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(count(lit(1)).as("cnt"))
  }

  private val sourceOverlapSql =
    """WITH n AS (
      |  SELECT source,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents
      |), g AS (
      |  SELECT DISTINCT source, gh FROM (
      |    SELECT source, unnest(list_transform(range(1, length(norm) - 6),
      |      i -> list_reduce(
      |        list_prepend(CAST(7 AS BIGINT),
      |          list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |            c -> CAST(ord(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 2147483647))) AS gh
      |    FROM n WHERE length(norm) >= 8)
      |), t AS (
      |  SELECT source, COUNT(*) AS n_grams FROM g GROUP BY 1
      |), s AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      |  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT src_a, src_b, n_shared, ta.n_grams AS n_a, tb.n_grams AS n_b,
      |  (n_shared * 1000000) // LEAST(ta.n_grams, tb.n_grams) AS overlap_ppm
      |FROM s JOIN t ta ON ta.source = s.src_a JOIN t tb ON tb.source = s.src_b""".stripMargin

  /** Slot count for [[sourceOverlapSketch]]'s one-permutation MinHash
    * signature. Bounded (see COVERAGE.md adaptive-constants audit): state
    * is O(sources × slots) regardless of corpus size. 128 slots give a
    * Jaccard standard error of ~sqrt(J(1-J)/128) <= 0.045. */
  private[ops] val OverlapSketchSlots = 128

  /** Sketch-based scale path for [[sourceOverlap]] (r16 verdict item 2).
    *
    * The exact operator is correct and sub-linear in shape but pays two
    * full-width shuffles over every distinct 8-gram in the corpus — at
    * 100 TB that is the most expensive aggregation in the registry. This
    * estimator replaces the gram-level distinct with one-permutation
    * MinHash (Li, Owen, Zhang, NIPS 2012 — one hash evaluation per gram,
    * not k): each gram lands in slot `g % 128` and each (source, slot)
    * keeps the MINIMUM gram hash. `min` is duplicate-insensitive, so no
    * distinct is needed, the groupBy is map-side combinable, and the
    * shuffle carries O(partitions × sources × 128) rows — constant in the
    * corpus. Slot-wise minima of two sources match with probability equal
    * to the Jaccard similarity of their gram sets, so
    * `matches / both_filled` estimates J. Empty slots (possible only for
    * near-empty sources — a source with g grams misses a slot with
    * probability (127/128)^g) simply don't pair, shrinking `both_filled`
    * rather than biasing toward a match.
    *
    * Deterministic by construction (no seeds — the "permutation" is the
    * gram hash itself), so the DuckDB oracle reproduces it bit-exactly;
    * an error-bound test vs the exact query pins estimator quality
    * (LlmDataSpec). Output grain: one row per source pair sharing at
    * least one filled slot, with `jaccard_ppm = matches·10⁶ / both_filled`
    * in integer math. */
  def sourceOverlapSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sm = $"sm"
    // ordered pairs i<j out of each slot's per-source minima; the
    // sequence(1,0)-descends guard pattern from sourceOverlapAgg is
    // handled by the size>=2 filter (no singleton rows needed here)
    val pairCol = flatten(transform(sequence(lit(1), size(sm) - 1),
      i => transform(sequence(i + lit(1), size(sm)),
        j => struct(
          element_at(sm, i).getField("src").as("src_a"),
          element_at(sm, j).getField("src").as("src_b"),
          when(element_at(sm, i).getField("mn") ===
            element_at(sm, j).getField("mn"), 1L).otherwise(0L).as("m")))))
    Tuning.spread(Tables.documents(spark, dir))
      .select($"source", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      .select($"source", explode(Text.kgramHashesNative($"norm", 8)).as("g"))
      .groupBy($"source", ($"g" % OverlapSketchSlots).as("slot"))
      .agg(min($"g").as("mn"))
      .groupBy($"slot")
      .agg(sort_array(collect_list(struct($"source".as("src"), $"mn"))).as("sm"))
      .filter(size(sm) >= 2)
      .select(explode(pairCol).as("p"))
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(count(lit(1)).as("both_filled"), sum($"p.m").as("matches"))
      .withColumn("jaccard_ppm", expr("matches * 1000000 div both_filled"))
  }

  private val sourceOverlapSketchSql =
    s"""WITH n AS (
      |  SELECT source,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents
      |), g AS (
      |  SELECT source, unnest(list_transform(range(1, length(norm) - 6),
      |    i -> list_reduce(
      |      list_prepend(CAST(7 AS BIGINT),
      |        list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |          c -> CAST(ord(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647))) AS gh
      |  FROM n WHERE length(norm) >= 8
      |), s AS (
      |  SELECT source, gh % ${OverlapSketchSlots} AS slot, MIN(gh) AS mn
      |  FROM g GROUP BY 1, 2
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  COUNT(*) AS both_filled,
      |  CAST(SUM(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS BIGINT) AS matches,
      |  (CAST(SUM(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // COUNT(*) AS jaccard_ppm
      |FROM s a JOIN s b ON a.slot = b.slot AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  /** Token-diversity quality signal — Gini impurity of each document's
    * token distribution, `1 − Σ(cᵢ/n)²` (all-distinct text scores
    * 1 − 1/n, approaching 1 as the document grows; a single token looped
    * scores 0): the vocabulary-diversity feature quality
    * classifiers use beside [[repetition]]'s k-gram ratio. Entropy is the
    * textbook choice but needs `log`, which is not correctly-rounded
    * across engines; Gini is the same signal in pure rational math, so
    * the doubles hash-match (`Σcᵢ²` and `n` stay integers until one final
    * division both engines evaluate identically).
    *
    * Scale shape: explode (linear in corpus tokens) + one hash agg keyed
    * (doc_id, token), one more keyed doc_id — same shape as word count. */
  def giniDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", Text.tokensLower($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum($"c" * $"c").as("sumsq"))
      .withColumn("gini", lit(1.0) -
        $"sumsq".cast("double") / ($"n_tokens" * $"n_tokens").cast("double"))
      .drop("sumsq")
  }

  private val giniDiversitySql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) > 0
      |), c AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |  1.0 - CAST(SUM(c*c) AS DOUBLE)
      |    / CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE) AS gini
      |FROM c GROUP BY 1""".stripMargin

  /** Gap sessions via Spark's BUILT-IN `session_window` (the declarative
    * twin of the custom lag+cumsum [[sessionize]] and the stateful
    * streaming [[graft.streaming.StreamSessionize]]): one groupBy, the
    * merge logic lives in the engine. Boundary semantics pinned by the
    * oracle — and CAUGHT by it at sf0.1, which contains exactly one
    * boundary gap: although a session window's end is exclusive for
    * event containment, Spark MERGES sessions whose start equals the
    * previous end (`newStart <= currentEnd` in the merge iterator), so
    * an event exactly `gap` after its predecessor EXTENDS the session —
    * the break condition is `diff > gap`, identical to [[sessionize]].
    * Timestamps are second-truncated on both sides so the boundary case
    * is actually exercised. One shuffle on user_id, per-partition
    * merge — the same shape as every keyed window here. */
  def sessionWindowAgg(spark: SparkSession, dir: String,
                       gapSeconds: Int = 1800): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", date_trunc("second", $"ts").as("ts"),
        cents($"value").as("v_c"))
      .groupBy($"user_id", session_window($"ts", s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"),
        (sum($"v_c") / lit(100.0)).as("sum_value"))
      .select($"user_id",
        unix_timestamp($"session_window.start").as("sess_start_s"),
        (unix_timestamp($"session_window.end") - gapSeconds).as("sess_last_s"),
        $"n_events", $"sum_value")
  }

  private val sessionWindowSql =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS t,
      |    CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events
      |), m AS (
      |  SELECT user_id, t, v_c,
      |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |           OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e
      |), s AS (
      |  SELECT user_id, t, v_c,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m
      |)
      |SELECT user_id, MIN(t) AS sess_start_s, MAX(t) AS sess_last_s,
      |  COUNT(*) AS n_events, CAST(SUM(v_c) AS DOUBLE)/100.0 AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Oracle for the hopping-window streaming aggregate: every event lands
    * in exactly two epoch-aligned 600s windows 300s apart. */
  private val streamHoppingSql =
    """SELECT w_start_s, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM (
      |  SELECT event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 300 * 300 - off AS w_start_s
      |  FROM events
      |  CROSS JOIN (SELECT unnest([CAST(0 AS BIGINT), CAST(300 AS BIGINT)]) AS off))
      |GROUP BY 1, 2""".stripMargin

  /** Oracle for the streaming click→purchase join: the same self-join in
    * plain SQL over second-truncated event times. */
  private val streamJoinSql =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  a.user_id AS user_id,
      |  CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS delay_s,
      |  CAST(round(b.value*100) AS BIGINT) AS value_c
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      |  AND CAST(floor(epoch(b.ts)) AS BIGINT) >= CAST(floor(epoch(a.ts)) AS BIGINT)
      |  AND CAST(floor(epoch(b.ts)) AS BIGINT) <= CAST(floor(epoch(a.ts)) AS BIGINT) + 600""".stripMargin

  /** LEFT JOIN twin of [[streamJoinSql]]: the time window lives in the ON
    * clause so unmatched clicks survive with NULL purchase columns —
    * exactly what the streaming state store's expiry path must emit. */
  private val streamJoinOuterSql =
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
      |  a.user_id AS user_id,
      |  CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS delay_s,
      |  CAST(round(b.value*100) AS BIGINT) AS value_c
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      |  ON a.user_id = b.user_id
      |  AND CAST(floor(epoch(b.ts)) AS BIGINT) >= CAST(floor(epoch(a.ts)) AS BIGINT)
      |  AND CAST(floor(epoch(b.ts)) AS BIGINT) <= CAST(floor(epoch(a.ts)) AS BIGINT) + 600""".stripMargin

  /** Dataset provenance manifest — the reproducibility record a corpus
    * release ships beside the data: per-source document/char/token
    * totals, id range, language spread, and an ORDER-INDEPENDENT content
    * checksum (bit_xor of per-document 60-bit md5), so two
    * differently-partitioned materializations of the same corpus produce
    * the same manifest and a single changed/dropped/duplicated document
    * changes it. One scan + one hash agg (every column map-side
    * combinable — bit_xor and sums are commutative monoids), so the
    * manifest of a 100 TB corpus costs one pass regardless of source
    * count.
    */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("h", Text.md5Long($"text"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(Text.tokenCount($"text").cast("long")).as("total_tokens"),
        expr("bit_xor(h)").as("content_checksum"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"),
        countDistinct($"lang").as("n_langs"))
  }

  private val manifestSql =
    """SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  BIT_XOR(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS content_checksum,
      |  MIN(doc_id) AS min_doc_id,
      |  MAX(doc_id) AS max_doc_id,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents GROUP BY 1""".stripMargin

  /** Oracle for the stream-static enrich: the same left join in plain
    * SQL (every user_id resolves in customer at all SFs, but the
    * null-extension path is kept and coalesced for generality). */
  private val streamEnrichSql =
    """SELECT e.event_id, e.user_id,
      |  COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
      |  COALESCE(c.c_nationkey, -1) AS nation_key,
      |  CAST(round(e.value*100) AS BIGINT) AS value_c
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  /** Oracle for the streaming dedup: aggregate of the ORIGINAL (distinct)
    * events — the stream saw every row twice. */
  private val streamDedupSql =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value,
      |  MIN(event_id) AS min_event_id,
      |  MAX(event_id) AS max_event_id
      |FROM events GROUP BY 1""".stripMargin

  /** TF-IDF keyword extraction: top-5 terms per document by tf × idf,
    * with the idf as the log-free rational (N+1)·10⁶ div (df+1) in
    * integer micros (the same monotone stand-in the BM25 operator uses —
    * a log would rank identically but not hash-check across libm
    * implementations). Deterministic tie-break (score desc, term asc).
    *
    * Scale shape: explode → (doc, term) hash agg → term-keyed df agg
    * (vocabulary-sized) joined back — at 100 TB the df side is still
    * vocabulary-sized and broadcastable; the corpus size N is the one
    * O(1) driver scalar (the reference's own global-fill pattern,
    * SURVEY §2.4 A5). Top-k per doc is one doc-keyed window. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val tf = docs
      .select($"doc_id", explode(Text.tokensLower($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id").orderBy($"score_micros".desc, $"term")
    tf.join(df, Seq("term"))
      .withColumn("score_micros",
        expr(s"CAST(tf * (${(n + 1) * 1000000L} div (df + 1)) AS BIGINT)"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"doc_id", $"term", $"tf", $"df", $"score_micros", $"rk")
  }

  private val tfidfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      |), s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf * ((((SELECT COUNT(*) FROM documents) + 1) * 1000000)
      |              // (df.df + 1)) AS BIGINT) AS score_micros
      |  FROM tf JOIN df USING (term)
      |)
      |SELECT doc_id, term, tf, df, score_micros, CAST(rk AS INTEGER) AS rk
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score_micros DESC, term) AS rk FROM s)
      |WHERE rk <= 5""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_tfidf", tfidf, Some(tfidfSql)),
    VerifiedQuery("q_text_stats", textStats, Some(textStatsSql)),
    VerifiedQuery("q_quality_score", qualityScore, Some(qualityScoreSql)),
    VerifiedQuery("q_source_cap", (s, d) => sourceCap(s, d), Some(sourceCapSql)),
    VerifiedQuery("q_token_budget", (s, d) => tokenBudget(s, d), Some(tokenBudgetSql)),
    VerifiedQuery("q_lang_id", langId, Some(langIdSql)),
    VerifiedQuery("q_word_count", wordCount, Some(wordCountSql)),
    VerifiedQuery("q_exact_dedup", exactDedup, Some(exactDedupSql)),
    VerifiedQuery("q_fingerprint_dedup", fingerprintDedup, Some(fingerprintDedupSql)),
    VerifiedQuery("q_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    VerifiedQuery("q_rolling_fp", rollingFingerprint, Some(rollingFingerprintSql)),
    VerifiedQuery("q_jaccard_sim", jaccardSim, Some(jaccardSimSql)),
    VerifiedQuery("q_sessionize", sessionize, Some(sessionizeSql)),
    // the streaming twin under the SAME oracle: identical input events must
    // sessionize identically whether batch-windowed or streamed through
    // flatMapGroupsWithState (see StreamSessionize.availableNowSessionize)
    VerifiedQuery("q_stream_sessionize",
      (s, d) => graft.streaming.StreamSessionize.availableNowSessionize(s, d),
      Some(sessionizeSql)),
    // watermarked tumbling-window aggregate under the same gate: epoch-
    // aligned windows make the oracle a plain integer-bucket GROUP BY
    VerifiedQuery("q_stream_windowed",
      (s, d) => graft.streaming.StreamSessionize.availableNowWindowedCounts(s, d),
      Some(streamWindowedSql)),
    // streaming exact dedup (dropDuplicatesWithinWatermark) over an
    // at-least-once source: the corpus arrives twice, the oracle is a
    // plain aggregate over the ORIGINAL events — any leaked or over-
    // dropped duplicate fails the hash
    VerifiedQuery("q_stream_dedup",
      (s, d) => graft.streaming.StreamSessionize.availableNowDedup(s, d),
      Some(streamDedupSql)),
    // watermarked stream-stream inner join (click→purchase attribution)
    // under a plain SQL self-join oracle — both sides' buffer state is
    // bounded by the 10-minute join horizon
    VerifiedQuery("q_stream_join",
      (s, d) => graft.streaming.StreamSessionize.availableNowStreamJoin(s, d),
      Some(streamJoinSql)),
    // LEFT OUTER variant: unmatched clicks emit with NULL purchase columns
    // only after BOTH watermarks prove no qualifying purchase can arrive —
    // the state-expiry path under the oracle, not just the match path
    VerifiedQuery("q_stream_join_outer",
      (s, d) => graft.streaming.StreamSessionize.availableNowStreamJoinOuter(s, d),
      Some(streamJoinOuterSql)),
    VerifiedQuery("q_stream_enrich",
      (s, d) => graft.streaming.StreamSessionize.availableNowStaticEnrich(s, d),
      Some(streamEnrichSql)),
    // same oracle as q_stream_dedup: the sink aggregate must equal the
    // batch aggregate of the original events exactly when the
    // per-batch-overwrite sink neither duplicated nor dropped rows
    VerifiedQuery("q_stream_fbsink",
      (s, d) => graft.streaming.StreamSessionize.availableNowForeachBatchSink(s, d),
      Some(streamDedupSql)),
    VerifiedQuery("q_manifest", manifest, Some(manifestSql)),
    VerifiedQuery("q_llm_pipeline", llmPipeline, Some(llmPipelineSql)),
    VerifiedQuery("q_decontaminate", (s, d) => decontaminate(s, d), Some(decontaminateSql)),
    VerifiedQuery("q_repetition", (s, d) => repetition(s, d), Some(repetitionSql)),
    VerifiedQuery("q_mixture_sample", mixtureSample, Some(mixtureSampleSql)),
    VerifiedQuery("q_temperature_mix", temperatureMix, Some(temperatureMixSql)),
    VerifiedQuery("q_balanced_shards", (s, d) => balancedShards(s, d), Some(balancedShardsSql)),
    VerifiedQuery("q_pack_contexts", (s, d) => packContexts(s, d), Some(packContextsSql)),
    VerifiedQuery("q_chunk_docs", (s, d) => chunkDocs(s, d), Some(chunkDocsSql)),
    VerifiedQuery("q_redact", redactPii, Some(redactPiiSql)),
    VerifiedQuery("q_bm25", (s, d) => bm25(s, d), Some(bm25Sql)),
    VerifiedQuery("q_passage_dedup", (s, d) => passageDedup(s, d), Some(passageDedupSql)),
    VerifiedQuery("q_bigram_lm", (s, d) => bigramLm(s, d), Some(bigramLmSql)),
    VerifiedQuery("q_gini_diversity", giniDiversity, Some(giniDiversitySql)),
    VerifiedQuery("q_session_window", (s, d) => sessionWindowAgg(s, d), Some(sessionWindowSql)),
    // hopping (sliding) windowed streaming aggregate — overlapping twin of
    // q_stream_windowed; every event in exactly two windows
    VerifiedQuery("q_stream_hopping",
      (s, d) => graft.streaming.StreamSessionize.availableNowHoppingCounts(s, d),
      Some(streamHoppingSql)),
    VerifiedQuery("q_lm_score", (s, d) => lmScore(s, d), Some(lmScoreSql)),
    VerifiedQuery("q_dsir_select", (s, d) => dsirSelect(s, d), Some(dsirSelectSql)),
    VerifiedQuery("q_domain_stats", domainStats, Some(domainStatsSql)),
    VerifiedQuery("q_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    VerifiedQuery("q_source_overlap_sketch", sourceOverlapSketch,
      Some(sourceOverlapSketchSql)),
  )
}
