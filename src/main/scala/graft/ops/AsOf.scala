package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** As-of (nearest-prior) join and range join — operators Spark lacks as
  * primitives, composed Spark-first from existing operators (preference
  * (a) in the custom-op ladder: no custom plan node needed, the
  * composition is shuffle-optimal).
  *
  * As-of strategy: tag-and-union both sides, ONE shuffle on the key, then
  * a per-key window carries the latest right-side value forward
  * (`last(ignoreNulls)` over rows ≤ current). This is strictly better at
  * 100 TB than a theta-join (which explodes to |L|·|R| per key before
  * filtering): cost is one shuffle + one per-partition sort, the same as
  * any keyed window.
  */
object AsOf {

  /** Floor division by a positive constant bucket width. Both Spark's
    * `DIV` and DuckDB's integer `//` truncate toward zero, which buckets
    * negative inputs (pre-1970 epochs) WRONG for time bucketing: -10
    * seconds belongs to hour -1, but -10 DIV 3600 = 0 merges it into hour
    * 0. Subtracting `pmod` (always-positive remainder) first makes the
    * numerator an exact multiple of n, so truncating integer division
    * (`div`) equals floor for any sign — all in long arithmetic, no
    * double rounding at any magnitude. Only bound: the pmod subtraction
    * must not underflow, so inputs must satisfy c > Long.MinValue + n
    * (a non-restriction for epoch seconds/days). The oracles apply the
    * identical pmod rewrite (DuckDB int64 `//` on the exact multiple),
    * so the invariant is structural, not corpus-dependent. */
  private[graft] def floorDiv(c: Column, n: Long): Column =
    call_function("div", (c - pmod(c, lit(n))).cast("long"), lit(n))

  /** Generic as-of join: for each left row, attach `valueCol` from the
    * latest right row with the same key and time <= the left time.
    * Right-side rows must be unique per (key, time) — pre-aggregate if
    * not (ambiguous as-of is not a well-defined operator).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               key: String, time: String, valueCol: String): DataFrame = {
    val l = left.withColumn("_tag", lit(1))
      .withColumn("_v", lit(null).cast(right.schema(valueCol).dataType))
    val r = right.select(col(key), col(time), lit(0).as("_tag"), col(valueCol).as("_v"))
    val unioned = l.select(Seq(col(key), col(time), col("_tag"), col("_v")) ++
      left.columns.filterNot(c => c == key || c == time).map(col): _*)
      .unionByName(r, allowMissingColumns = true)
    // right rows (_tag 0) sort before left rows at equal times → "<=" semantics
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(valueCol, last(col("_v"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .drop("_tag", "_v")
  }

  /** Events as-of-joined to the latest prior order in their key bucket:
    * value = that order's total price. */
  def asofQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", (pmod($"user_id", lit(100))).as("k"), to_date($"ts").as("d"))
    val ord = Tables.orders(spark, dir)
      .select(pmod($"o_custkey", lit(100)).as("k"), to_date($"o_orderdate").as("d"),
        cents($"o_totalprice").as("price_c"))
      .groupBy($"k", $"d").agg(max($"price_c").as("price_c"))
    asofJoin(ev, ord, "k", "d", "price_c")
      .select($"event_id", $"k",
        date_format($"d", "yyyy-MM-dd").as("event_date"),
        (coalesce($"price_c", lit(-100L)) / lit(100.0)).as("asof_price"))
  }

  private val asofSql =
    """WITH ev AS (
      |  SELECT event_id, user_id % 100 AS k, CAST(ts AS DATE) AS d FROM events
      |), ord AS (
      |  SELECT o_custkey % 100 AS k, CAST(o_orderdate AS DATE) AS d,
      |         MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS price_c
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT ev.event_id, ev.k, strftime(ev.d, '%Y-%m-%d') AS event_date,
      |       COALESCE(ord.price_c, -100) / 100.0 AS asof_price
      |FROM ev ASOF LEFT JOIN ord
      |  ON ev.k = ord.k AND ord.d <= ev.d""".stripMargin

  /** Range (non-equi interval) join: each event matched to its value band
    * from a small broadcast dimension — the non-equi predicate runs as
    * BroadcastNestedLoopJoin, which is exactly right when one side is
    * O(bands): the big side streams once, no shuffle. */
  def rangeJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("tiny", Double.NegativeInfinity, 50.0), ("small", 50.0, 150.0),
      ("medium", 150.0, 300.0), ("large", 300.0, Double.PositiveInfinity))
      .toDF("band", "lo", "hi")
    val ev = Tables.events(spark, dir).select($"event_id", $"value")
    ev.join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi", "left")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"),
        (sum(cents($"value")) / lit(100.0)).as("sum_value"))
  }

  private val rangeJoinSql =
    """WITH bands(band, lo, hi) AS (
      |  VALUES ('tiny', CAST('-inf' AS DOUBLE), 50.0), ('small', 50.0, 150.0),
      |         ('medium', 150.0, 300.0), ('large', 300.0, CAST('inf' AS DOUBLE))
      |)
      |SELECT band, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events LEFT JOIN bands ON value >= lo AND value < hi
      |GROUP BY band""".stripMargin

  /** Time-series resample + gap-fill + forward-fill — the missing-interval
    * operator every feature/metrics pipeline needs (OHLC-style
    * downsampling): events bucket to an hourly grid per series
    * (`event_type`), each bucket keeps its event count and CLOSE (the
    * last event's value by (ts, event_id) — deterministic tie-break),
    * empty buckets are materialized from a dense grid and the close is
    * carried forward (`last(ignoreNulls)`, the same kernel as
    * [[asofJoin]]). Hours before a series' first event stay null —
    * forward fill has nothing to carry.
    *
    * Scale shape: the bucket aggregate is one shuffle on (series, hour);
    * the grid is O(series × hours) — calendar-sized, independent of row
    * count — built from a broadcast 1-row bounds frame; the fill is one
    * keyed window per series. Nothing data-sized is ever broadcast or
    * collected. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", $"ts", $"event_id",
        cents($"value").as("v_c"))
      .withColumn("hr", floorDiv(unix_timestamp($"ts"), 3600L))
    val wLast = Window.partitionBy($"event_type", $"hr")
      .orderBy($"ts".desc, $"event_id".desc)
    val hourly = ev.withColumn("rn", row_number().over(wLast))
      .groupBy($"event_type", $"hr")
      .agg(count(lit(1)).as("n_events"),
        max(when($"rn" === 1, $"v_c")).as("close_c"))
    val bounds = ev.agg(min($"hr").as("h0"), max($"hr").as("h1"))
    val grid = ev.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type", explode(sequence($"h0", $"h1")).as("hr"))
    val wFill = Window.partitionBy($"event_type").orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n_events", coalesce($"n_events", lit(0L)))
      .withColumn("is_gap", ($"n_events" === 0L).cast("int"))
      .withColumn("filled_close_c", last($"close_c", ignoreNulls = true).over(wFill))
      .select($"event_type", $"hr", $"n_events", $"is_gap", $"filled_close_c")
  }

  private val gapFillSql =
    """WITH e AS (
      |  SELECT event_type, event_id, ts, v_c,
      |    (s - ((s % 3600) + 3600) % 3600) // 3600 AS hr
      |  FROM (SELECT event_type, event_id, ts,
      |          CAST(round(value*100) AS BIGINT) AS v_c,
      |          CAST(floor(epoch(ts)) AS BIGINT) AS s
      |        FROM events)
      |), h AS (
      |  SELECT event_type, hr, COUNT(*) AS n_events,
      |    MAX(CASE WHEN rn = 1 THEN v_c END) AS close_c
      |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type, hr
      |          ORDER BY ts DESC, event_id DESC) AS rn FROM e)
      |  GROUP BY 1, 2
      |), b AS (
      |  SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM e
      |), g AS (
      |  SELECT event_type,
      |    unnest(range((SELECT h0 FROM b), (SELECT h1 FROM b) + 1)) AS hr
      |  FROM (SELECT DISTINCT event_type FROM e)
      |)
      |SELECT g.event_type, g.hr,
      |  COALESCE(h.n_events, 0) AS n_events,
      |  CAST(CASE WHEN COALESCE(h.n_events, 0) = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_gap,
      |  last_value(h.close_c IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_close_c
      |FROM g LEFT JOIN h ON h.event_type = g.event_type AND h.hr = g.hr""".stripMargin

  /** Rolling event-time window features: per user, the trailing-hour
    * event count / cents-sum / max over a RANGE frame keyed on epoch
    * seconds — the time-decayed feature shape (txn velocity, rate
    * limiting, rolling spend) that ROWS frames cannot express when event
    * spacing is irregular. Numeric RANGE on epoch seconds (not an
    * interval frame) keeps both engines in integer frame arithmetic, and
    * peers at the same second are included identically by definition of
    * RANGE. One shuffle on user_id; in-partition the frame is a sliding
    * two-pointer over the sorted run — O(n) per partition.
    */
  def rollingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_s")
      .rangeBetween(-3599, Window.currentRow)
    Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        unix_timestamp($"ts").as("ts_s"),
        cents($"value").as("v_c"))
      .select($"event_id", $"user_id", $"ts_s",
        count(lit(1)).over(w).as("roll_n"),
        sum($"v_c").over(w).as("roll_sum_c"),
        max($"v_c").over(w).as("roll_max_c"))
  }

  private val rollingWindowSql =
    """SELECT event_id, user_id, ts_s,
      |  COUNT(*) OVER w AS roll_n,
      |  CAST(SUM(v_c) OVER w AS BIGINT) AS roll_sum_c,
      |  MAX(v_c) OVER w AS roll_max_c
      |FROM (
      |  SELECT event_id, user_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
      |         CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events
      |)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
      |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Banded INTERVAL-OVERLAP join between two DATA-SIZED interval sets —
    * the scale path [[rangeJoinQuery]]'s broadcast trick cannot take (its
    * dim is O(bands); here BOTH sides grow with the data). Each interval
    * is discretized into the epoch-day buckets it spans (sessions span 1–2
    * days, burst windows exactly one by construction); the join is then an
    * EQUALITY join on the bucket with the true overlap predicate as a
    * post-filter — a plain shuffle whose pairs are confined to same-day
    * buckets, never a BroadcastNestedLoopJoin or cartesian. The
    * discretization is pure derivation, so the result is IDENTICAL to the
    * naive theta-join semantics the oracle runs.
    *
    * Concretely: per-user gap sessions ([[LlmData.sessionize]]'s exact
    * interval derivation) × per-(event_type, day) burst windows, counting
    * overlapping pairs, distinct sessions, and total overlap seconds
    * (integer epoch math — exact). Since a burst lies within one day
    * bucket, each qualifying pair matches in exactly one bucket: no
    * dedup pass needed (a multi-bucket right side would add one
    * `distinct` on the pair key).
    *
    * At 100 TB: bucket granularity trades fan-out (intervals × days
    * spanned) against bucket skew; day buckets keep fan-out ≤ 2 for
    * gap-bounded sessions while splitting the join into per-day work. A
    * production variant salts hot buckets exactly like [[Scale.saltedJoin]].
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    intervalJoinFrom(Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type", unix_timestamp($"ts").as("sec")))
  }

  /** [[intervalJoin]] over a pre-projected (user_id, event_id, event_type,
    * sec) frame — seam for tools/JoinScaleProbe's synthesized 10× input. */
  private[graft] def intervalJoinFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val sessions = LlmData
      .gapSessionAgg(ev.select($"user_id", $"event_id", $"sec"))
      .select($"user_id", $"session_seq", $"start_s", $"end_s")
    val bursts = ev
      .withColumn("day", floorDiv($"sec", 86400L))
      .groupBy($"event_type", $"day")
      .agg(min($"sec").as("bstart_s"), max($"sec").as("bend_s"))
    // SALT the day buckets (r18; guide §2.5 and the production variant the
    // scaladoc above always named): the corpus spans a handful of epoch
    // days, so the bucket join had as many populated reduce keys as DAYS —
    // stage profile showed one task owning 0.8 s of the 2 s query while 31
    // idled. The salt is DETERMINISTIC (hash of the session key, never
    // rand() — task retries must re-derive the same assignment, SPARK-38388)
    // on the fat sessions side; the tiny per-day burst dimension is
    // replicated across all salt values. Same joined pairs, same output —
    // the oracle hash pins it.
    val salts = 32
    sessions
      .withColumn("day", explode(sequence(floorDiv($"start_s", 86400L), floorDiv($"end_s", 86400L))))
      .withColumn("salt", pmod(xxhash64($"user_id", $"session_seq"), lit(salts.toLong)))
      .join(bursts.withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L)))),
        Seq("day", "salt"))
      .filter($"start_s" <= $"bend_s" && $"bstart_s" <= $"end_s")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        // collision-free composite distinct key: a delimiter-joined string,
        // not user_id*1e6+seq arithmetic (which silently collides past 1e6
        // sessions/user and can overflow Long — implausible at test SF,
        // plausible at 100 TB)
        countDistinct(concat_ws(":", $"user_id", $"session_seq")).as("n_sessions"),
        sum(least($"end_s", $"bend_s") - greatest($"start_s", $"bstart_s")).as("overlap_s"))
  }

  private val intervalJoinSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
      |), g AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w IS NULL
      |           OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), s AS (
      |  SELECT user_id, sec,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_seq, MIN(sec) AS start_s, MAX(sec) AS end_s
      |  FROM s GROUP BY 1, 2
      |), bursts AS (
      |  SELECT event_type,
      |    (sec - ((sec % 86400) + 86400) % 86400) // 86400 AS day,
      |    MIN(sec) AS bstart_s, MAX(sec) AS bend_s
      |  FROM e GROUP BY 1, 2
      |)
      |SELECT b.event_type, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT CAST(sess.user_id AS VARCHAR) || ':' || CAST(sess.session_seq AS VARCHAR)) AS n_sessions,
      |  CAST(SUM(LEAST(sess.end_s, b.bend_s) - GREATEST(sess.start_s, b.bstart_s)) AS BIGINT) AS overlap_s
      |FROM sess JOIN bursts b
      |  ON sess.start_s <= b.bend_s AND b.bstart_s <= sess.end_s
      |GROUP BY 1""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_rolling_window", rollingWindow, Some(rollingWindowSql)),
    VerifiedQuery("q_interval_join", intervalJoin, Some(intervalJoinSql)),
    VerifiedQuery("q_asof_join", asofQuery, Some(asofSql)),
    VerifiedQuery("q_range_join", rangeJoinQuery, Some(rangeJoinSql)),
    VerifiedQuery("q_gapfill", gapFill, Some(gapFillSql)),
  )
}
