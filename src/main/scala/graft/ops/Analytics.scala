package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.{Text, cents}

/** Product/behavioral analytics over the events stream — the classic
  * query shapes an analytics engine is asked for daily: ordered funnel
  * conversion, retention cohorts, and numeric histograms. All are
  * single-pass/few-shuffle plans keyed on user_id or a derived bin — no
  * window-over-everything, no driver loops — and all carry full oracles
  * (timestamps surface as epoch seconds / ISO strings per the
  * VerifiedQuery parity rules).
  */
object Analytics {

  /** Ordered 3-step funnel (view → click → purchase): per user, the
    * first view, the first click strictly AFTER that view, and the first
    * purchase strictly after that click — the standard "did the user
    * progress in order" attribution, immune to pre-view clicks.
    *
    * Shape: three hash aggregates on user_id with a join between each —
    * the events scan shuffles once per step on the SAME key, so at scale
    * the exchanges line up (co-partitioned by user_id; with a bucketed
    * events table every join is zero-shuffle). Output one row per user
    * who entered the funnel, with the step timestamps as epoch seconds
    * and the step depth reached. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c = ev.filter($"event_type" === "click").as("e")
      .join(v, Seq("user_id"))
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val p = ev.filter($"event_type" === "purchase").as("e")
      .join(c, Seq("user_id"))
      .filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    v.join(c.select($"user_id", $"t2"), Seq("user_id"), "left")
      .join(p.select($"user_id", $"t3"), Seq("user_id"), "left")
      .select($"user_id",
        unix_timestamp($"t1").as("view_s"),
        unix_timestamp($"t2").as("click_s"),
        unix_timestamp($"t3").as("purchase_s"),
        (lit(1) + when($"t2".isNotNull, 1).otherwise(0)
          + when($"t3".isNotNull, 1).otherwise(0)).as("steps"))
  }

  private val funnelSql =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      |  WHERE e.event_type = 'click' GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3
      |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      |  WHERE e.event_type = 'purchase' GROUP BY 1
      |)
      |SELECT v.user_id,
      |  CAST(floor(epoch(v.t1)) AS BIGINT) AS view_s,
      |  CAST(floor(epoch(c.t2)) AS BIGINT) AS click_s,
      |  CAST(floor(epoch(p.t3)) AS BIGINT) AS purchase_s,
      |  1 + CASE WHEN c.t2 IS NULL THEN 0 ELSE 1 END
      |    + CASE WHEN p.t3 IS NULL THEN 0 ELSE 1 END AS steps
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin

  /** Retention cohort matrix: users grouped by first-activity day, and
    * for each (cohort day, day offset) the count of cohort members
    * active that day — the table behind every retention curve.
    *
    * Shape: one agg for first-seen (user_id), one distinct over (user,
    * day) — both shuffle on user_id — then a hash agg on the O(days²)
    * output grid. Active-day dedup happens BEFORE the join (distinct on
    * (user, day)), so the join carries one row per user-day, not per
    * event. */
  def cohort(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
    val firstSeen = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val active = ev.distinct()
    active.join(firstSeen, Seq("user_id"))
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .select($"cohort_day".cast("string").as("cohort_day"), $"day_offset", $"n_users")
  }

  private val cohortSql =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), first_seen AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1
      |)
      |SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
      |       CAST(date_diff('day', f.cohort_day, e.day) AS INTEGER) AS day_offset,
      |       COUNT(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN first_seen f ON e.user_id = f.user_id
      |GROUP BY f.cohort_day, day_offset""".stripMargin

  /** Fixed-width numeric histogram of order totals (integer-cents bins,
    * width $50k): the binning primitive behind distribution dashboards
    * and the skew/winsorize diagnostics. One narrow projection + one
    * hash agg; bins are derived columns so the shuffle carries
    * O(bins) pre-aggregated cells. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(cents($"o_totalprice").as("price_c"))
      .groupBy(expr("price_c div 5000000").as("bin"))
      .agg(count(lit(1)).as("n"),
        (sum($"price_c") / lit(100.0)).as("total"))
      .select($"bin", ($"bin" * 50000.0).as("bin_lo"), $"n", $"total")
  }

  private val histogramSql =
    """SELECT bin, CAST(bin * 50000 AS DOUBLE) AS bin_lo, COUNT(*) AS n,
      |       CAST(SUM(price_c) AS DOUBLE)/100.0 AS total
      |FROM (
      |  SELECT CAST(round(o_totalprice*100) AS BIGINT) // 5000000 AS bin,
      |         CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |  FROM orders
      |)
      |GROUP BY bin""".stripMargin

  /** A/B experiment analysis with DETERMINISTIC variant assignment: the
    * variant is a hash of the user id (the industry-standard bucketing —
    * reproducible across engines and reruns, no assignment table to
    * store), conversion is "made a purchase over $200" (plain "purchased"
    * saturates at p=1 on this corpus — zero pooled variance would make the
    * z-score divide by zero; the threshold keeps 0 < p < 1 at every SF),
    * and the readout is the two-proportion z-test.
    *
    * Oracle parity for the statistics: every double is derived from
    * BIGINT counts through the IDENTICAL expression tree on both sides
    * (explicit casts, pinned operation order) — `sqrt` and the four
    * arithmetic ops are IEEE correctly-rounded, so p0/p1/lift/z are
    * bit-exact, not approximately equal.
    *
    * Shape: one hash-agg per user (user_id shuffle), then a single-row
    * summary agg — the per-variant totals are partial-aggregated
    * map-side, so the final reduce carries O(1) rows. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, dir)
      .select($"user_id",
        ($"event_type" === "purchase" && $"value" > 200.0).cast("long").as("purchased"))
      .groupBy($"user_id").agg(max($"purchased").as("converted"))
      .withColumn("variant", (Text.md5Long($"user_id".cast("string")) % 2).cast("int"))
    perUser.agg(
        sum(when($"variant" === 0, 1L).otherwise(0L)).as("n0"),
        sum(when($"variant" === 1, 1L).otherwise(0L)).as("n1"),
        sum(when($"variant" === 0, $"converted").otherwise(0L)).as("c0"),
        sum(when($"variant" === 1, $"converted").otherwise(0L)).as("c1"))
      .selectExpr("n0", "n1", "c0", "c1",
        "CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0",
        "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1",
        "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS lift",
        """(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
           / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                  * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z""")
  }

  private val abTestSql =
    """WITH pu AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 200.0 THEN 1 ELSE 0 END) AS converted,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS INTEGER) AS variant
      |  FROM events GROUP BY user_id
      |), s AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1
      |  FROM pu
      |)
      |SELECT n0, n1, c0, c1,
      |  CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
      |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS lift,
      |  (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |    / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |           * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |           * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS z
      |FROM s""".stripMargin

  /** Time-decay engagement scoring — the recency weighting behind user
    * ranking / churn features: each event contributes its value halved
    * per day of age (relative to the newest event in the table).
    *
    * The decay is an INTEGER BIT-SHIFT, not `pow`: contribution =
    * value-in-tenth-milli-dollars div 2^age_days (clamped at 40) — exact
    * BIGINT math any engine reproduces, where a float `0.5^age` would be
    * summation-order- and libm-dependent. The reference timestamp is a
    * single-row global agg cross-joined in (O(1), broadcast), not a
    * driver round-trip. */
  def decayScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"),
        cents($"value").as("value_c"))
    val refDay = ev.agg(max($"day").as("ref_day"))
    ev.crossJoin(broadcast(refDay))
      .select($"user_id", $"day", $"value_c",
        least(datediff($"ref_day", $"day"), lit(40)).cast("int").as("age_d"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("(value_c * 10000) div shiftleft(cast(1 as bigint), age_d)")).as("score_tmd"),
        max($"day").cast("string").as("last_day"))
  }

  private val decayScoreSql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         CAST(round(value*100) AS BIGINT) AS value_c
      |  FROM events
      |), r AS (
      |  SELECT MAX(day) AS ref_day FROM ev
      |)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM((value_c * 10000) // (CAST(1 AS BIGINT) << LEAST(date_diff('day', day, ref_day), 40))) AS BIGINT) AS score_tmd,
      |  CAST(MAX(day) AS VARCHAR) AS last_day
      |FROM ev CROSS JOIN r
      |GROUP BY user_id""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_funnel", funnel, Some(funnelSql)),
    VerifiedQuery("q_decay_score", decayScore, Some(decayScoreSql)),
    VerifiedQuery("q_cohort", cohort, Some(cohortSql)),
    VerifiedQuery("q_histogram", histogram, Some(histogramSql)),
    VerifiedQuery("q_ab_test", abTest, Some(abTestSql)),
  )
}
