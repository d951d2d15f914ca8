package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}

/** Entity resolution / record linkage: the fuzzy-matching tier between
  * exact dedup (identical keys) and the LSH near-dup ladder (long-text
  * similarity) — short dirty STRINGS matched by edit distance within
  * blocking keys. The classic shape: candidate generation by cheap
  * blocking (never all-pairs), exact scoring only inside blocks.
  *
  * `levenshtein` is a built-in with identical unit-cost semantics in
  * Spark and DuckDB, so the whole operator carries a full oracle.
  */
object Entity {

  /** Fuzzy customer matching: block on (nation, name prefix), score pairs
    * by edit distance, keep near-matches (≤ 2 edits), and emit per-entity
    * match stats with a deterministic best match (lexicographic
    * (distance, candidate-id) minimum) plus a block-size audit column.
    *
    * Execution shape (r7 scale fix): fuzzy scoring runs over DISTINCT
    * names, not entities. Edit distance depends only on the strings, so
    * identical names — the dominant block inflator in any grown corpus
    * (the 10× probe's copies repeat every name, which made entity-level
    * pair-gen grow quadratically: 7.0× runtime at 10× data) — collapse
    * to one group row first:
    *
    *   1. group entities by (nation, name) → (count, two smallest ids);
    *   2. score ONLY distinct-name pairs inside (nation, prefix) blocks —
    *      Σ distinct-block² work, flat under exact-duplicate growth;
    *   3. expand name-level matches back to per-entity stats with one
    *      keyed join — same-name neighbours are (count − 1) dist-0
    *      matches whose best id is the group minimum (or second minimum
    *      for the minimum entity itself), cross-name neighbours aggregate
    *      from the matched groups' counts and minima.
    *
    * The result is ROW-IDENTICAL to naive in-block all-pairs scoring —
    * the DuckDB oracle still computes the naive entity-level form, so the
    * hash-compare proves the rewrite, not just the numbers.
    *
    * `n_block_names` (distinct names in the entity's block) is the audit
    * column for the one quantity that still bounds the scoring cost: a
    * production run alerts/caps on it, and the remaining knobs are the
    * standard blocking bargains — a longer prefix (smaller blocks, lower
    * recall; pairs differing inside the prefix are unseen), multiple
    * passes with different keys (higher recall, more cost), or PassJoin-
    * style segment keys (exact for a distance bound, but only selective
    * when no long substring is near-constant). Block-size skew across
    * blocks is an AQE skew-join case. */
  def entityMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = Tables.customer(spark, dir)
      .select($"c_custkey".as("ck"), $"c_name".as("nm"), $"c_nationkey".as("nk"),
        substring($"c_name", 1, 14).as("blk"))

    // identical-name groups: size + two smallest entity ids (the second
    // minimum is the best match OF the minimum entity within its group)
    val byName = Window.partitionBy($"nk", $"nm").orderBy($"ck")
    val ranked = keyed.withColumn("rn", row_number().over(byName))
    val groups0 = ranked.groupBy($"nk", $"blk", $"nm")
      .agg(count(lit(1)).as("cnt"),
        max(when($"rn" === 1, $"ck")).as("ck1"),
        max(when($"rn" === 2, $"ck")).as("ck2"))
    // block audit rides along via a window over the (already small)
    // distinct-name frame — no extra entity-sized shuffle
    val groups = groups0
      .withColumn("n_block_names", count(lit(1)).over(Window.partitionBy($"nk", $"blk")))
      .cache() // consumed 3×: both scoring sides + the expansion join

    val l = groups.select($"nk", $"blk", $"nm".as("a_nm"),
      $"cnt".as("a_cnt"), $"ck1".as("a_ck1"))
    val r = groups.select($"nk", $"blk", $"nm".as("b_nm"),
      $"cnt".as("b_cnt"), $"ck1".as("b_ck1"))
    val scored = l.join(r, Seq("nk", "blk"))
      .filter($"a_nm" < $"b_nm")
      // thresholded levenshtein: banded O(len·k) DP with early exit,
      // returns -1 past distance 2 — ~len/k cheaper per pair than the
      // full O(len²) matrix (the oracle computes the full distance and
      // filters, an identical set)
      .withColumn("dist", levenshtein($"a_nm", $"b_nm", 2))
      .filter($"dist" >= 0 && $"dist" <= 2)
    val directed = scored
      .select($"nk", $"a_nm".as("nm"), $"dist", $"b_cnt".as("o_cnt"), $"b_ck1".as("o_ck1"))
      .unionByName(scored
        .select($"nk", $"b_nm".as("nm"), $"dist", $"a_cnt".as("o_cnt"), $"a_ck1".as("o_ck1")))
    // per NAME: how many cross-name entity matches, and the (dist, id)
    // minimum over matched groups — struct-min = min id at the min dist
    val nameStats = directed.groupBy($"nk", $"nm")
      .agg(sum($"o_cnt").as("cross_n"),
        min(struct($"dist", $"o_ck1")).as("mbest"))

    val out = keyed
      .join(groups.select($"nk", $"nm", $"cnt", $"ck1", $"ck2", $"n_block_names"),
        Seq("nk", "nm"))
      .join(nameStats, Seq("nk", "nm"), "left")
      .withColumn("n_near", ($"cnt" - 1) + coalesce($"cross_n", lit(0L)))
      .filter($"n_near" > 0)
      .select($"ck".as("custkey"), $"n_near",
        // same-name neighbours sit at distance 0 and win any cross-name tie
        when($"cnt" > 1, lit(0)).otherwise($"mbest.dist").as("min_dist"),
        when($"cnt" > 1, when($"ck" === $"ck1", $"ck2").otherwise($"ck1"))
          .otherwise($"mbest.o_ck1").as("best_match"),
        $"n_block_names")
    Rounds.keep(out, groups)
  }

  /** Deliberately the NAIVE entity-level formulation: in-block all-pairs
    * scoring, so the oracle hash proves the distinct-name rewrite above
    * equals the definition, not merely itself. */
  private val entityMatchSql =
    """WITH keyed AS (
      |  SELECT c_custkey AS ck, c_name AS nm, c_nationkey AS nk,
      |         substring(c_name, 1, 14) AS blk
      |  FROM customer
      |), scored AS (
      |  SELECT a.ck AS a_ck, b.ck AS b_ck, levenshtein(a.nm, b.nm) AS dist
      |  FROM keyed a JOIN keyed b ON a.nk = b.nk AND a.blk = b.blk AND a.ck < b.ck
      |  WHERE levenshtein(a.nm, b.nm) <= 2
      |), directed AS (
      |  SELECT a_ck AS custkey, b_ck AS other, dist FROM scored
      |  UNION ALL
      |  SELECT b_ck AS custkey, a_ck AS other, dist FROM scored
      |), agg AS (
      |  SELECT custkey, COUNT(*) AS n_near, MIN(dist) AS min_dist
      |  FROM directed GROUP BY custkey
      |), best AS (
      |  SELECT a.custkey, a.n_near, a.min_dist, MIN(d.other) AS best_match
      |  FROM agg a JOIN directed d ON d.custkey = a.custkey AND d.dist = a.min_dist
      |  GROUP BY a.custkey, a.n_near, a.min_dist
      |), blocks AS (
      |  SELECT nk, blk, COUNT(DISTINCT nm) AS n_block_names
      |  FROM keyed GROUP BY nk, blk
      |)
      |SELECT b.custkey, b.n_near, b.min_dist, b.best_match, bl.n_block_names
      |FROM best b
      |JOIN keyed k ON k.ck = b.custkey
      |JOIN blocks bl ON bl.nk = k.nk AND bl.blk = k.blk""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_entity_match", entityMatch, Some(entityMatchSql)),
  )
}
