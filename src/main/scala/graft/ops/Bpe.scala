package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.Text

/** BPE vocabulary learning and application — the tokenizer tier of an LLM
  * data pipeline (Sennrich et al. 2016, the algorithm behind
  * GPT-2/LLaMA-style tokenizers): iteratively count adjacent symbol pairs
  * over the word-frequency table, merge the most frequent pair everywhere,
  * repeat; then ENCODE the corpus with the learned merges and audit
  * fertility (tokens per word) — the metric that decides whether a
  * tokenizer fits a corpus.
  *
  * Distributed shape: the learning working set is the VOCABULARY (distinct
  * words + counts), not the corpus — one corpus scan builds it, then each
  * of the K rounds is one narrow projection (the merge rewrite) + one
  * explode/hash-agg shuffle (pair counts) + a TakeOrdered(1) whose single
  * row is the only driver round-trip (same O(1)-scalar budget as the CC
  * loop's convergence counter). ENCODING tokenizes the vocabulary once
  * (vocab-sized) and joins the per-word token count back to the exploded
  * corpus stream — the corpus itself is never rewritten K times.
  *
  * Determinism/oracle design:
  *  - Words are held as DOUBLE-DELIMITED symbol strings: `low` as
  *    `||l||o||w||`. Doubling the delimiter makes ADJACENT pair occurrences
  *    non-overlapping, so the built-in literal `replace` — which both Spark
  *    and DuckDB scan left-to-right over non-overlapping matches — applies a
  *    merge with exactly BPE's greedy-leftmost semantics (`aaaa` + merge
  *    `a,a` → `(aa)(aa)`, not three overlapping pairs). Symbols are
  *    `[a-z0-9]+` (normalized text), so `|` can never appear inside one.
  *  - Ties on pair count break by (lhs, rhs) ascending — binary string
  *    order, identical in both engines (exercised for real: at sf0.01
  *    steps 9 and 10 tie at count 1758).
  *  - The oracle unrolls the K rounds as MATERIALIZED CTEs (each round is
  *    referenced twice — pair counts and the rewrite — so inlined CTEs
  *    would expand 2^K scans); both queries share one CTE generator.
  */
object Bpe {

  /** Merge rounds for the registered queries (enough to reach multi-symbol
    * merges on the test corpus: `m+er`, `p+ar` appear from round 6). */
  val Rounds = 10

  /** Symbol array of a double-delimited word: split on `||`, drop the
    * empty outer fragments. */
  private def syms(w: Column): Column =
    filter(split(w, "\\|\\|"), x => length(x) > 0)

  /** Double-delimited symbol form of a word (`abc` → `|a||b||c|`). */
  private def delimited(word: Column): Column =
    concat(lit("|"), regexp_replace(word, "(.)", "|$1|"), lit("|"))

  /** Per-(source, word) occurrence histogram of the documents corpus —
    * ONE scan; vocabulary AND the per-source encode audits both derive
    * from it (r17: the encode queries used to re-scan documents and push
    * the corpus-sized word stream through a shuffle join; every audit
    * quantity is an occ-weighted sum over this vocab×sources-sized
    * frame). */
  private[ops] def sourceWordHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", explode(Text.tokens(Text.normalized($"text"))).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"source", $"word").agg(count(lit(1)).as("occ"))
  }

  /** Word-frequency table of the documents corpus: (word, w =
    * double-delimited symbol form, cnt). */
  def vocabulary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(Text.tokens(Text.normalized($"text"))).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .select($"word", delimited($"word").as("w"), $"cnt")
  }

  /** Adjacent (lhs, rhs) symbol pairs of a symbol array (empty below 2
    * symbols — `sequence(1, 0)` would count DOWN, the same guard
    * [[Text.ngramsFromTokens]] uses). */
  private[ops] def adjacentPairs(s: Column): Column =
    when(size(s) < 2, array().cast("array<struct<lhs:string,rhs:string>>"))
      .otherwise(transform(sequence(lit(1), size(s) - 1),
        i => struct(element_at(s, i).as("lhs"), element_at(s, i + 1).as("rhs"))))

  /** Run up to `k` BPE merge rounds over a (word, w, cnt) frame: the
    * learned merge list plus the final rewritten vocabulary frame (lineage
    * on top of the cached input — callers release `vocab`'s cache when
    * done). The loop stops early at the first round with no adjacent pair
    * left (every word one symbol), keeping the merges learned so far.
    *
    * The input vocabulary is cached once; each round's rewrite is a narrow
    * codegen'd projection stacked on that cache, so round k recomputes k
    * cheap string replaces over a vocab-sized frame instead of paying a
    * cache materialization per round. The merge loop has a driver action
    * per round, so it stays outside the round driver; a convergence-driven
    * variant at large K would hold its state through
    * `graft.ops.Rounds.hold`. */
  private def learn(vocab: DataFrame, k: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val spark = vocab.sparkSession
    import spark.implicits._
    var words = vocab
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (step <- 1 to k if !exhausted) {
      val pairs = words
        .select(syms($"w").as("s"), $"cnt")
        .select(explode(adjacentPairs($"s")).as("p"), $"cnt")
        .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
        .agg(sum($"cnt").as("c"))
      pairs.orderBy($"c".desc, $"lhs", $"rhs").limit(1)
        .as[(String, String, Long)].collect().headOption match {
        case None => exhausted = true
        case Some((lhs, rhs, c)) =>
          merges += ((step, lhs, rhs, c))
          // literal replace: |lhs||rhs| → |lhsrhs| — greedy leftmost by the
          // double-delimiter construction. Column-based `replace` with lit()
          // arguments, NOT a string-interpolated expr(): merge symbols are
          // data-derived, and a quote/backslash in an un-normalized caller
          // vocabulary must stay a literal byte, never SQL syntax.
          words = words.withColumn("w",
            replace($"w", lit(s"|$lhs||$rhs|"), lit(s"|$lhs$rhs|")))
          // single state reference per round ⇒ linear analyzed-plan growth,
          // bounded by fixed K (IterativePlanGrowthSpec pins it)
          graft.plans.PlanGrowth.record("bpeLearn", step, words)
      }
    }
    (merges.result(), words)
  }

  /** Train `k` merge rounds over a (word?, w, cnt) frame and return the
    * merge table (step, lhs, rhs, pair_count). Exposed for tests. */
  def train(vocab: DataFrame, k: Int): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val base = vocab.cache()
    val (merges, _) = learn(base, k)
    base.unpersist()
    merges.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Registered query: the first [[Rounds]] merges learned from the
    * documents corpus. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    // the K merge rounds shuffle vocabulary-sized frames: shuffle width
    // from the documents source (graft.Tuning.withSourceWidth; the merge
    // table is driver-local)
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/documents.parquet")) {
      train(vocabulary(spark, dir), Rounds)
    }

  /** Registered query: ENCODE the corpus with the learned merges and
    * audit per-source fertility — token totals before (chars) and after
    * the merges, words, and fertility (tokens per word) in exact micros.
    *
    * Scale shape: the merge rewrite chain runs over the VOCABULARY only;
    * the corpus stream (one row per word occurrence) joins the per-word
    * token count on the word key — one shuffle join (broadcastable when
    * the vocabulary is dimension-sized) + one hash agg per source. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/documents.parquet")) {
    // shuffle width from the documents source (graft.Tuning.withSourceWidth)
    // — every frame below the corpus histogram is vocab-sized, and the K
    // merge rounds each pay an explode+agg+TakeOrdered over it
    import spark.implicits._
    // ONE corpus scan (r17; was 2): the (source, word) histogram feeds both
    // the vocabulary (sum over sources) and the per-source audit (occ-
    // weighted sums) — and the audit join is now vocab-sized on BOTH sides
    // instead of streaming every corpus word occurrence through the
    // exchange (plans/r17/q_bpe_encode_{before,after}.txt).
    val srcHist = sourceWordHist(spark, dir).cache()
    val vocab = srcHist.groupBy($"word").agg(sum($"occ").as("cnt"))
      .select($"word", delimited($"word").as("w"), $"cnt")
      .cache()
    val (_, rewritten) = learn(vocab, Rounds)
    val tokPerWord = rewritten
      .select($"word", length($"word").cast("long").as("n_chars"),
        size(syms($"w")).cast("long").as("n_tokens"))
    val out = srcHist
      .join(tokPerWord, Seq("word"))
      .groupBy($"source")
      .agg(sum($"occ").as("n_words"),
        sum($"n_chars" * $"occ").as("n_chars"),
        sum($"n_tokens" * $"occ").as("n_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_tokens",
        expr("(n_tokens * 1000000) div n_words").as("fertility_micro"),
        expr("(n_chars * 1000000) div n_tokens").as("compression_micro"))
    graft.ops.Rounds.keep(out, vocab, srcHist)
  }

  /** Shared oracle CTE chain: w0..wK over the vocabulary, each w_i
    * carrying (word, w, cnt), plus p_i (pair counts) and b_i (best pair)
    * per round. */
  private def learnCtes: String = {
    def stepSql(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM (
         |    SELECT s, cnt, unnest(generate_series(1, len(s)-1)) AS i FROM (
         |      SELECT list_filter(string_split(w, '||'), x -> x <> '') AS s, cnt FROM $prev
         |    )
         |  ) GROUP BY lhs, rhs
         |), b$i AS MATERIALIZED (
         |  SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT word, replace($prev.w, '|' || b.lhs || '||' || b.rhs || '|',
         |                 '|' || b.lhs || b.rhs || '|') AS w, cnt
         |  FROM $prev CROSS JOIN b$i b
         |)""".stripMargin
    }
    val steps = (1 to Rounds).map(stepSql).mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, '|' || regexp_replace(word, '(.)', '|\\1|', 'g') || '|' AS w,
       |         CAST(cnt AS BIGINT) AS cnt
       |  FROM (
       |    SELECT word, COUNT(*) AS cnt FROM (
       |      SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
       |        '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS word
       |      FROM documents
       |    ) WHERE word <> '' GROUP BY word
       |  )
       |),
       |$steps""".stripMargin
  }

  private val bpeMergesSql: String = {
    val union = (1 to Rounds)
      .map(i => s"SELECT CAST($i AS INTEGER) AS step, lhs, rhs, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"WITH $learnCtes\n$union"
  }

  private val bpeEncodeSql: String =
    s"""WITH $learnCtes,
       |tok AS MATERIALIZED (
       |  SELECT word, CAST(len(word) AS BIGINT) AS n_chars,
       |         CAST(len(list_filter(string_split(w, '||'), x -> x <> '')) AS BIGINT) AS n_tokens
       |  FROM w$Rounds
       |), stream AS (
       |  SELECT source, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS word
       |  FROM documents
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(t.n_chars) AS BIGINT) AS n_chars,
       |       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(t.n_tokens) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS fertility_micro,
       |       CAST(SUM(t.n_chars) AS BIGINT) * 1000000 // CAST(SUM(t.n_tokens) AS BIGINT) AS compression_micro
       |FROM stream s JOIN tok t USING (word)
       |WHERE word <> ''
       |GROUP BY source""".stripMargin

  /** Plan-audit helper: ONE un-executed pair-count round over the
    * vocabulary — the shape that repeats K times (the registered query's
    * result is a driver-side K-row merge table, whose plan shows nothing).
    */
  def pairCountPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    vocabulary(spark, dir)
      .select(syms($"w").as("s"), $"cnt")
      .select(explode(adjacentPairs($"s")).as("p"), $"cnt")
      .groupBy($"p.lhs".as("lhs"), $"p.rhs".as("rhs"))
      .agg(sum($"cnt").as("c"))
      .orderBy($"c".desc, $"lhs", $"rhs").limit(1)
  }

  // ------------------------------------------------------------- WordPiece

  /** Vocabulary size / max piece length for the WordPiece-style encoder —
    * small enough that the whole induced vocabulary is a broadcastable
    * single-row array at any corpus size (a production run raises V into
    * the tens of thousands; the shape below is V-independent). */
  val WpVocabSize = 64
  val WpMaxLen = 6

  /** WordPiece-style GREEDY LONGEST-MATCH subword encoding — the
    * BERT-family tokenizer algorithm beside [[bpeEncode]]'s merge-table
    * BPE: induce a subword vocabulary (every length-2..6 substring
    * occurrence of the word table, scored `cnt × (len−1)` — the
    * compression-gain stand-in for the unigram-LM objective, top-V with a
    * deterministic gram tie-break), then tokenize each word
    * left-to-right, always taking the LONGEST vocabulary piece that
    * matches at the cursor, single-character fallback otherwise. The
    * greedy scan is a `aggregate` higher-order fold whose state is just
    * (cursor, count) — per-row, codegen-friendly, no UDF — and the same
    * fold is replayed in the oracle as a recursive CTE over cursor
    * positions, so the exact greedy semantics (probe order, fallback)
    * are hash-compared, not assumed.
    *
    * Distributed shape: candidate scoring is explode → hash-agg over the
    * VOCABULARY (not the corpus), the induced vocab is one broadcast
    * array row, encoding is a narrow projection over the word table, and
    * the corpus stream joins per-word token counts exactly as
    * [[bpeEncode]] — the corpus is never re-tokenized per word
    * occurrence. Emits the same per-source fertility/compression audit
    * columns as `q_bpe_encode` for a direct BPE-vs-WordPiece readout. */
  def wordpiece(spark: SparkSession, dir: String): DataFrame =
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/documents.parquet")) {
    // vocabulary-sized frames at the documents source's shuffle width
    // (graft.Tuning.withSourceWidth)
    import spark.implicits._
    // ONE corpus scan (r17; was 2) — same histogram derivation as
    // [[bpeEncode]]: words = per-source histogram summed over sources,
    // audit = occ-weighted sums over the vocab-sized join.
    val srcHist = sourceWordHist(spark, dir).cache()
    val words = srcHist.groupBy($"word").agg(sum($"occ").as("cnt"))
      .cache()
    val top = words
      .select($"cnt", explode(expr(
        s"""flatten(transform(sequence(2, $WpMaxLen),
           |  l -> CASE WHEN length(word) >= l
           |       THEN transform(sequence(1, length(word) - l + 1), i -> substring(word, i, l))
           |       ELSE CAST(array() AS array<string>) END))""".stripMargin)).as("g"))
      .groupBy($"g")
      .agg(sum($"cnt" * (length($"g") - 1)).as("score"))
      .orderBy($"score".desc, $"g").limit(WpVocabSize)
    val vcol = top.agg(collect_list($"g").as("v"))
    val probes = (WpMaxLen to 2 by -1).map { l =>
      s"""WHEN length(word) - acc.p >= ${l - 1}
         |     AND array_contains(v, substring(word, acc.p, $l))
         |  THEN named_struct('p', acc.p + $l, 'n', acc.n + CAST(1 AS BIGINT))""".stripMargin
    }.mkString("\n")
    val tokPerWord = words.crossJoin(broadcast(vcol))
      .withColumn("n_tokens", expr(
        s"""aggregate(sequence(1, length(word)),
           |  named_struct('p', 1, 'n', CAST(0 AS BIGINT)),
           |  (acc, k) -> IF(k <> acc.p, acc,
           |    CASE $probes
           |    ELSE named_struct('p', acc.p + 1, 'n', acc.n + CAST(1 AS BIGINT)) END),
           |  acc -> acc.n)""".stripMargin))
      .select($"word", length($"word").cast("long").as("n_chars"), $"n_tokens")
    val out = srcHist
      .join(tokPerWord, Seq("word"))
      .groupBy($"source")
      .agg(sum($"occ").as("n_words"),
        sum($"n_chars" * $"occ").as("n_chars"),
        sum($"n_tokens" * $"occ").as("n_tokens"))
      .select($"source", $"n_words", $"n_chars", $"n_tokens",
        expr("(n_tokens * 1000000) div n_words").as("fertility_micro"),
        expr("(n_chars * 1000000) div n_tokens").as("compression_micro"))
    graft.ops.Rounds.keep(out, words, srcHist)
  }

  private val wordpieceSql: String = {
    val probes = (WpMaxLen to 2 by -1).map { l =>
      s"WHEN length(word) - p >= ${l - 1} AND list_contains(v, substr(word, p, $l)) THEN $l"
    }.mkString("\n           ")
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS word
       |    FROM documents
       |  ) WHERE word <> '' GROUP BY word
       |), cands AS (
       |  SELECT g, CAST(SUM(cnt * (length(g) - 1)) AS BIGINT) AS score FROM (
       |    SELECT cnt, unnest(flatten(list_transform(range(2, $WpMaxLen + 1),
       |      l -> CASE WHEN length(word) >= l
       |           THEN list_transform(range(1, length(word) - l + 2),
       |                  i -> substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER)))
       |           ELSE CAST([] AS VARCHAR[]) END))) AS g
       |    FROM words)
       |  GROUP BY g
       |), vlist AS MATERIALIZED (
       |  SELECT list(g) AS v FROM (
       |    SELECT g FROM cands ORDER BY score DESC, g LIMIT $WpVocabSize)
       |), enc AS (
       |  SELECT word, 1 AS p, CAST(0 AS BIGINT) AS n FROM words
       |  UNION ALL
       |  SELECT word, p + m AS p, n + 1 AS n FROM (
       |    SELECT word, p, n,
       |      CASE $probes
       |           ELSE 1 END AS m
       |    FROM enc CROSS JOIN vlist
       |    WHERE p <= length(word))
       |), tok AS MATERIALIZED (
       |  SELECT word, CAST(length(word) AS BIGINT) AS n_chars,
       |         MAX(n) AS n_tokens
       |  FROM enc GROUP BY word
       |), stream AS (
       |  SELECT source, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS word
       |  FROM documents
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(t.n_chars) AS BIGINT) AS n_chars,
       |       CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(SUM(t.n_tokens) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS fertility_micro,
       |       CAST(SUM(t.n_chars) AS BIGINT) * 1000000 // CAST(SUM(t.n_tokens) AS BIGINT) AS compression_micro
       |FROM stream s JOIN tok t USING (word)
       |WHERE word <> ''
       |GROUP BY source""".stripMargin
  }

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_bpe_merges", bpeMerges, Some(bpeMergesSql)),
    VerifiedQuery("q_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    VerifiedQuery("q_wordpiece", wordpiece, Some(wordpieceSql)),
  )
}
