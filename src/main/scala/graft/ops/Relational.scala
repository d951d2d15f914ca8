package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** Relational operator library: every scan/filter/projection/join/aggregate/
  * sort/window/set-op family from SURVEY §2 (the reference's operator
  * inventory, /root/reference/nyc_taxi_final.py) re-expressed Spark-first
  * over the driver's TPC-H-ish test tables, plus the general SQL surface
  * (semi/anti joins, windows, rollup, set ops) the reference lacks but a
  * complete engine needs.
  *
  * Scale notes (100 TB design):
  *  - Aggregations are plain `groupBy.agg` → Tungsten partial+final hash agg
  *    around one exchange; no driver-side loops.
  *  - Small dimensions (supplier/nation/region) are explicitly
  *    `broadcast()`ed so the big-side scan never shuffles for those joins.
  *  - The one deliberate driver round-trip (the global fallback scalar in
  *    [[histRate]]) mirrors the reference's design
  *    (nyc_taxi_final.py:491) and is O(1) data to the driver.
  *  - Money math is done on integer cents (exact, associative) so results
  *    are order-independent — correct under any partitioning, and
  *    bit-comparable to the DuckDB oracle.
  */
object Relational {

  // ---------------------------------------------------------------- flagship

  /** Flagship: the reference's signature computation — ratio-of-sums grouped
    * aggregate, left join-back, global-average scalar null-fill
    * (SURVEY §2.9 hist_avg_speed; nyc_taxi_final.py:471–496). Group keys are
    * (l_partkey, l_returnflag); the aggregate only sees ship-years <= 1997 so
    * some groups are absent and the left join produces nulls, exercising the
    * fill path. The global fallback is computed as a driver scalar (two-job
    * lineage split) exactly as the reference does — it is O(1) driver data
    * and scale-safe.
    */
  def histRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val rates = li
      .filter(year($"l_shipdate") <= 1997)
      .groupBy($"l_partkey", $"l_returnflag")
      .agg((sum(cents($"l_extendedprice")) / lit(100.0) /
        (sum($"l_quantity") + lit(1e-6))).as("group_rate"))
      // The aggregate feeds two actions (the scalar below and the join);
      // without caching the full scan+shuffle would run twice (X3,
      // nyc_taxi_final.py:408).
      .cache()
    // Driver round-trip scalar, as nyc_taxi_final.py:491 (kept a scalar, not
    // a crossjoin, for parity; rounded so the fill constant is
    // engine-order-independent). Null-guarded: avg over zero rows is null.
    val row = rates.agg(round(avg($"group_rate"), 6)).first()
    val globalRate = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    li.join(rates, Seq("l_partkey", "l_returnflag"), "left")
      .na.fill(Map("group_rate" -> globalRate))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_returnflag",
        round($"group_rate", 6).as("rate"))
  }

  private val histRateSql =
    """WITH r AS (
      |  SELECT l_partkey, l_returnflag,
      |         CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
      |           / (SUM(l_quantity) + 1e-6) AS group_rate
      |  FROM lineitem WHERE year(l_shipdate) <= 1997 GROUP BY 1, 2
      |), g AS (SELECT round(avg(group_rate), 6) AS fill FROM r)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_returnflag,
      |       round(COALESCE(r.group_rate, g.fill), 6) AS rate
      |FROM lineitem l
      |LEFT JOIN r ON l.l_partkey = r.l_partkey AND l.l_returnflag = r.l_returnflag
      |CROSS JOIN g""".stripMargin

  // ---------------------------------------------------- aggregate families

  /** TPC-H Q1-shaped pricing summary: multi-measure hash aggregate with
    * derived expressions (SURVEY §2.4 A4-style sums; arithmetic F13).
    * All money sums on integer cents (exact); averages derived from the
    * exact sums so both engines emit identical doubles.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(year($"l_shipdate") <= 2000)
      .select($"l_returnflag", $"l_linestatus",
        cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_c"),
        cents($"l_tax").as("tax_c"),
        $"l_quantity")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        (sum($"price_c") / lit(100.0)).as("sum_base_price"),
        (sum($"price_c" * (lit(100) - $"disc_c")) / lit(10000.0)).as("sum_disc_price"),
        (sum($"price_c" * (lit(100) - $"disc_c") * (lit(100) + $"tax_c")) / lit(1000000.0)).as("sum_charge"),
        (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (sum($"price_c") / lit(100.0) / count(lit(1))).as("avg_price"),
        (sum($"disc_c") / lit(100.0) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(price_c) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(SUM(price_c*(100-disc_c)) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(SUM(price_c*(100-disc_c)*(100+tax_c)) AS DOUBLE)/1000000.0 AS sum_charge,
      |  SUM(l_quantity)/COUNT(*) AS avg_qty,
      |  CAST(SUM(price_c) AS DOUBLE)/100.0/COUNT(*) AS avg_price,
      |  CAST(SUM(disc_c) AS DOUBLE)/100.0/COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM (
      |  SELECT l_returnflag, l_linestatus, l_quantity,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
      |         CAST(round(l_discount*100) AS BIGINT) AS disc_c,
      |         CAST(round(l_tax*100) AS BIGINT) AS tax_c
      |  FROM lineitem WHERE year(l_shipdate) <= 2000)
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Global scalar aggregate — min/max/count/countDistinct (SURVEY §2.4 A1).
    * Dates formatted to strings to dodge timestamp physical-type mismatch.
    */
  def globalAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir).agg(
      date_format(min($"o_orderdate"), "yyyy-MM-dd").as("min_date"),
      date_format(max($"o_orderdate"), "yyyy-MM-dd").as("max_date"),
      count($"o_orderdate").as("n_orders"),
      countDistinct($"o_custkey").as("n_custs"))
  }

  private val globalAggSql =
    """SELECT strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
      |       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
      |       COUNT(o_orderdate) AS n_orders,
      |       COUNT(DISTINCT o_custkey) AS n_custs
      |FROM orders""".stripMargin

  /** Data-audit aggregate: per-column null counts + predicate counts in one
    * single-row pass (SURVEY §2.4 A2/A3; nyc_taxi_final.py:214–222).
    */
  def auditCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val nullCounts = ev.columns.toSeq.map(c =>
      sum(col(c).isNull.cast("int")).as(s"nulls_$c"))
    val predCounts = Seq(
      sum(($"value" < 0).cast("int")).as("n_negative_value"),
      sum(($"value" > 400).cast("int")).as("n_large_value"),
      count(lit(1)).as("n_rows"))
    ev.agg(nullCounts.head, (nullCounts.tail ++ predCounts): _*)
  }

  // Every SUM is wrapped in CAST(... AS BIGINT): DuckDB's SUM(int) returns
  // HUGEINT (int128) whereas Spark's sum(int) is BIGINT, and the driver's
  // compare hashes types — uncast sums hash-mismatch even with equal values.
  private val auditCountsSql =
    """SELECT
      |  CAST(SUM(CAST(event_id IS NULL AS INT)) AS BIGINT) AS nulls_event_id,
      |  CAST(SUM(CAST(ts IS NULL AS INT)) AS BIGINT) AS nulls_ts,
      |  CAST(SUM(CAST(user_id IS NULL AS INT)) AS BIGINT) AS nulls_user_id,
      |  CAST(SUM(CAST(event_type IS NULL AS INT)) AS BIGINT) AS nulls_event_type,
      |  CAST(SUM(CAST(value IS NULL AS INT)) AS BIGINT) AS nulls_value,
      |  CAST(SUM(CAST(props IS NULL AS INT)) AS BIGINT) AS nulls_props,
      |  CAST(SUM(CAST(value < 0 AS INT)) AS BIGINT) AS n_negative_value,
      |  CAST(SUM(CAST(value > 400 AS INT)) AS BIGINT) AS n_large_value,
      |  COUNT(*) AS n_rows
      |FROM events""".stripMargin

  /** Exact distinct aggregation per group (beyond-reference surface;
    * SURVEY §2.10) — expand-based distinct agg in Spark.
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  private val distinctAggSql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** summary()-style statistics (SURVEY §2.4 A7) with exact math: stddev via
    * the sum-of-squares identity over integer cents (exact long sums; the
    * price squares go through Decimal(38)/HUGEINT so both engines convert
    * the same exact integer to double).
    */
  def summaryStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select(cents($"l_extendedprice").as("price_c"), $"l_quantity")
    li.agg(
        count(lit(1)).as("n"),
        sum($"price_c").as("sum_price_c"),
        sum(($"price_c" * $"price_c").cast(DecimalType(38, 0))).as("sumsq_dec"),
        (min($"price_c") / lit(100.0)).as("min_price"),
        (max($"price_c") / lit(100.0)).as("max_price"),
        sum($"l_quantity").as("sum_qty"),
        sum($"l_quantity" * $"l_quantity").as("sumsq_qty"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))
      // The exact decimal Σprice² exceeds 2^53, and engines DISAGREE on
      // big-int→double rounding (DuckDB's int128 cast truncates, JVM
      // BigDecimal rounds to nearest — measured 1-ulp drift at sf0.1).
      // Split it exactly into hi·2^32 + lo and rebuild the double with
      // the SAME two IEEE ops on both sides → bit-identical at any SF.
      .withColumn("sumsq_hi", floor($"sumsq_dec" / lit(4294967296L)).cast("long"))
      .withColumn("sumsq_d",
        $"sumsq_hi".cast("double") * lit(4294967296.0) +
          ($"sumsq_dec" - $"sumsq_hi".cast(DecimalType(38, 0)) * lit(4294967296L)).cast("double"))
      .select(
        $"n",
        ($"sum_price_c" / lit(100.0) / $"n").as("mean_price"),
        (sqrt(($"sumsq_d" - $"sum_price_c".cast("double") * $"sum_price_c" / $"n") / ($"n" - 1)) / lit(100.0)).as("std_price"),
        $"min_price", $"max_price",
        ($"sum_qty" / $"n").as("mean_qty"),
        sqrt(($"sumsq_qty" - $"sum_qty" * $"sum_qty" / $"n") / ($"n" - 1)).as("std_qty"),
        $"min_qty", $"max_qty")
  }

  private val summaryStatsSql =
    """WITH c AS (
      |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS price_c, l_quantity
      |  FROM lineitem
      |), a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
      |    SUM(CAST(price_c AS HUGEINT)*price_c) AS sumsq_h,
      |    MIN(price_c)/100.0 AS min_price, MAX(price_c)/100.0 AS max_price,
      |    SUM(l_quantity) AS sum_qty, SUM(l_quantity*l_quantity) AS sumsq_qty,
      |    MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |  FROM c
      |), b AS (
      |  SELECT a.*,
      |    CAST(CAST(sumsq_h // 4294967296 AS BIGINT) AS DOUBLE) * 4294967296.0
      |      + CAST(CAST(sumsq_h % 4294967296 AS BIGINT) AS DOUBLE) AS sumsq_d
      |  FROM a)
      |SELECT n,
      |  sum_price_c/100.0/n AS mean_price,
      |  sqrt((sumsq_d - CAST(sum_price_c AS DOUBLE)*sum_price_c/n)/(n-1))/100.0 AS std_price,
      |  min_price, max_price,
      |  sum_qty/n AS mean_qty,
      |  sqrt((sumsq_qty - sum_qty*sum_qty/n)/(n-1)) AS std_qty,
      |  min_qty, max_qty
      |FROM b""".stripMargin

  /** ROLLUP hierarchy aggregate (beyond-reference; grouping-sets family). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n")
  }

  private val rollupAggSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // ------------------------------------------------ projection / filter fns

  /** Projection + alias + round + temporal filter (SURVEY §2.2 P1/P2,
    * §2.6 F8/F12; nyc_taxi_final.py:194–199).
    */
  def projFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Same semantics as year(d)=1997 AND month(d) IN 1..6, but written as a
    // raw range predicate on the column so it pushes into the parquet scan
    // (row-group min/max pruning fires; year()/month() expressions don't
    // push). At 100 TB this is the difference between scanning six months
    // and scanning everything.
    Tables.orders(spark, dir)
      .filter($"o_orderdate".between(lit("1997-01-01").cast("date"), lit("1997-06-30").cast("date")))
      .select($"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("odate"),
        // round(0.9*price, 2) half-up on exact integers: (cents × 9 + 5)
        // DIV 10. Neither engine's round() runs on the computed 0.9*price,
        // because Spark's (BigDecimal of Double.toString) and DuckDB's
        // (multiply-shift) disagree on its ties. Only the stored price is
        // rounded, by graft_cents, which the oracle spells as
        // CAST(round(o_totalprice*100) AS BIGINT).
        (call_function("div", cents($"o_totalprice") * 9 + 5, lit(10)) / lit(100.0)).as("disc_price"),
        $"o_orderpriority")
  }

  private val projFilterSql =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
      |       ((CAST(round(o_totalprice*100) AS BIGINT) * 9 + 5) // 10) / 100.0 AS disc_price,
      |       o_orderpriority
      |FROM orders
      |WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-06-30'""".stripMargin

  /** Time-feature extraction (SURVEY §2.6 F8–F11, §2.9;
    * nyc_taxi_final.py:412–425): minute/hour/dow/dom/month/date + epoch
    * seconds. Spark dayofweek is 1=Sunday..7; DuckDB dow is 0=Sunday..6,
    * hence the +1 on the oracle side.
    */
  def timeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select(
      $"event_id",
      minute($"ts").as("minute"),
      hour($"ts").as("hour"),
      dayofweek($"ts").as("day_of_week"),
      dayofmonth($"ts").as("day_of_month"),
      month($"ts").as("month"),
      date_format(to_date($"ts"), "yyyy-MM-dd").as("date"),
      (unix_timestamp($"ts") % 86400).as("secs_of_day"))
  }

  private val timeFeaturesSql =
    """SELECT event_id,
      |  minute(ts) AS minute, hour(ts) AS hour,
      |  dayofweek(ts) + 1 AS day_of_week,
      |  day(ts) AS day_of_month, month(ts) AS month,
      |  strftime(ts, '%Y-%m-%d') AS date,
      |  CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS secs_of_day
      |FROM events""".stripMargin

  /** Chained-CASE binning + isin + binary label (SURVEY §2.6 F2/F3/F4,
    * §2.9 time_period; nyc_taxi_final.py:419–434), then aggregated.
    */
  def caseBin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("hour", hour($"ts"))
      .withColumn("time_period",
        when($"hour".between(6, 11), "morning")
          .when($"hour".between(12, 16), "afternoon")
          .when($"hour".between(17, 23), "evening")
          .otherwise("night"))
      .withColumn("is_weekend", when(dayofweek($"ts").isin(1, 7), 1).otherwise(0))
      .groupBy($"time_period", $"is_weekend", $"event_type")
      .agg(count(lit(1)).as("n"),
        (sum(cents($"value")) / lit(100.0)).as("sum_value"))
  }

  private val caseBinSql =
    """SELECT
      |  CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
      |       WHEN hour(ts) BETWEEN 12 AND 16 THEN 'afternoon'
      |       WHEN hour(ts) BETWEEN 17 AND 23 THEN 'evening'
      |       ELSE 'night' END AS time_period,
      |  CASE WHEN dayofweek(ts) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
      |  event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** The same scalar-function surface as [[caseBin]] (F2 when/otherwise,
    * F3 chained CASE, F4 isin, F6 isNull) exercised over `orders` instead
    * of `events` (r4 verdict #7): the events source has regenerated with a
    * different physical schema once already, and these §2 function rows
    * should not be blind-able by a single-table regression.
    */
  def caseBinOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("price_tier",
        when($"o_totalprice" < 50000, "small")
          .when($"o_totalprice" < 150000, "medium")
          .when($"o_totalprice" < 300000, "large")
          .otherwise("jumbo"))
      .withColumn("is_urgent",
        when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
      // nullable derivation so isNull has real nulls to see: open orders
      // null out, everything else keeps its status
      .withColumn("closed_status",
        when($"o_orderstatus" === "O", lit(null).cast("string"))
          .otherwise($"o_orderstatus"))
      .groupBy($"price_tier", $"is_urgent")
      .agg(count(lit(1)).as("n"),
        count(when($"closed_status".isNull, lit(1))).as("n_open"),
        (sum(cents($"o_totalprice")) / lit(100.0)).as("sum_price"))
  }

  private val caseBinOrdersSql =
    """SELECT
      |  CASE WHEN o_totalprice < 50000 THEN 'small'
      |       WHEN o_totalprice < 150000 THEN 'medium'
      |       WHEN o_totalprice < 300000 THEN 'large'
      |       ELSE 'jumbo' END AS price_tier,
      |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS is_urgent,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL THEN 1 END) AS n_open,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------------- joins

  /** Broadcast left join + na.fill (SURVEY §2.3 J2, §2.2 P8;
    * nyc_taxi_final.py:563): dimension filtered so some fact rows miss,
    * nulls filled, then aggregated. The broadcast hint keeps the 100 TB
    * fact-side scan shuffle-free.
    */
  def broadcastFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
      .filter($"s_acctbal" > 3000)
      .select($"s_suppkey", $"s_name", $"s_acctbal")
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"), "left")
      .na.fill(Map("s_name" -> "UNKNOWN", "s_acctbal" -> 0.0))
      .groupBy($"l_suppkey", $"s_name")
      .agg(count(lit(1)).as("n"),
        (sum(cents($"s_acctbal")) / lit(100.0)).as("sum_bal"))
  }

  private val broadcastFillSql =
    """SELECT l.l_suppkey, COALESCE(s.s_name, 'UNKNOWN') AS s_name,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(round(COALESCE(s.s_acctbal, 0.0)*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_bal
      |FROM lineitem l
      |LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > 3000) s
      |  ON l.l_suppkey = s.s_suppkey
      |GROUP BY 1, 2""".stripMargin

  /** Left-semi join: customers having a big order (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter($"o_totalprice" > 300000)
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  private val joinSemiSql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin

  /** Left-anti join: customers with no order at all (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  private val joinAntiSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin

  /** Full-outer join (completes the join-type matrix beside inner/left/
    * semi/anti): one side is a customer segment, the other is per-customer
    * big-order aggregates — each side has rows the other lacks, so both
    * null-extension paths are exercised and oracled. Scale shape: both
    * sides shuffle on the key (standard SMJ/shuffled-hash full join); a
    * full join can never broadcast, which is exactly why it gets its own
    * verified plan here. */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seg = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey", $"c_name")
    val big = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 250000)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_big"), sum(cents($"o_totalprice")).as("big_c"))
    seg.join(big, seg("c_custkey") === big("o_custkey"), "full_outer")
      .select(
        coalesce($"c_custkey", $"o_custkey").as("custkey"),
        when($"c_custkey".isNull, 0).otherwise(1).as("in_segment"),
        coalesce($"n_big", lit(0L)).as("n_big"),
        (coalesce($"big_c", lit(0L)) / lit(100.0)).as("big_total"))
  }

  private val joinFullSql =
    """WITH seg AS (
      |  SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
      |), big AS (
      |  SELECT o_custkey, COUNT(*) AS n_big,
      |         SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS big_c
      |  FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey
      |)
      |SELECT COALESCE(c_custkey, o_custkey) AS custkey,
      |       CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS in_segment,
      |       COALESCE(n_big, 0) AS n_big,
      |       CAST(COALESCE(big_c, 0) AS DOUBLE)/100.0 AS big_total
      |FROM seg FULL OUTER JOIN big ON seg.c_custkey = big.o_custkey""".stripMargin

  /** Multi-table star join (TPC-H Q5 shape): revenue per nation. Scale
    * shape for 100 TB: lineitem⋈orders shuffles on orderkey
    * (co-partitionable / bucketable); that result shuffles on custkey to
    * meet customer; only the O(25)/O(5)-row nation and region dimensions are
    * broadcast — customer scales with the data and must NEVER be broadcast
    * (it is billions of rows at 100 TB), so no hint is placed on it and AQE
    * is left to decide at runtime.
    */
  def joinMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", cents($"l_extendedprice").as("price_c"), cents($"l_discount").as("disc_c"))
    val ord = Tables.orders(spark, dir)
      .filter(year($"o_orderdate").between(1996, 1998))
      .select($"o_orderkey", $"o_custkey")
    val dims = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"n_name", $"r_name")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(dims, $"o_custkey" === $"c_custkey")
      .groupBy($"r_name", $"n_name")
      .agg((sum($"price_c" * (lit(100) - $"disc_c")) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val joinMultiSql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE year(o_orderdate) BETWEEN 1996 AND 1998
      |GROUP BY r_name, n_name""".stripMargin

  // ------------------------------------------------- sort / limit / set ops

  /** Global top-k (SURVEY §2.5 O1) — planned as TakeOrderedAndProject, so
    * only k rows per partition reach the driver-side merge. Unique-key
    * tie-break keeps the result set deterministic.
    */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(15)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd").as("odate"))
  }

  private val topKSql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |       strftime(o_orderdate, '%Y-%m-%d') AS odate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin

  /** Set operations — UNION / INTERSECT / EXCEPT (distinct semantics),
    * tagged and stacked (beyond-reference surface, SURVEY §2.10).
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val a = cust.filter($"c_acctbal" > 5000).select($"c_custkey")
    val b = cust.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionAll(a.intersect(b).withColumn("op", lit("intersect")))
      .unionAll(a.except(b).withColumn("op", lit("except")))
      .select($"op", $"c_custkey")
  }

  private val setOpsSql =
    """WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
      |     b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
      |UNION ALL
      |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
      |UNION ALL
      |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)""".stripMargin

  // ---------------------------------------------------------------- windows

  /** Window functions — row_number / lag / running sum per partition
    * (beyond-reference surface; the sessionization building block).
    * Running totals on integer cents so they are exact.
    */
  def windowFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("price_c", cents($"o_totalprice"))
      .select(
        $"o_custkey", $"o_orderkey",
        row_number().over(w).as("rn"),
        (sum($"price_c").over(wRun) / lit(100.0)).as("run_total"),
        (coalesce(lag($"price_c", 1).over(w), lit(-100L)) / lit(100.0)).as("prev_price"))
  }

  private val windowFuncsSql =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER w AS rn,
      |  CAST(SUM(price_c) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100.0 AS run_total,
      |  COALESCE(lag(price_c, 1) OVER w, -100)/100.0 AS prev_price
      |FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Extended window surface: rank / dense_rank / ntile / lead /
    * first_value and a RANGE frame — per-key partitions so evaluation
    * stays distributed (one shuffle on the partition key). */
  def windowExtra(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .withColumn("price_c", cents($"o_totalprice"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"price_c".desc, $"o_orderkey")
    val wRange = Window.partitionBy($"o_orderpriority").orderBy($"price_c")
      .rangeBetween(-100000L, 0L)
    base.select(
        $"o_orderpriority", $"o_orderkey",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        (coalesce(lead($"price_c", 1).over(w), lit(-100L)) / lit(100.0)).as("next_price"),
        (first($"price_c").over(w) / lit(100.0)).as("top_price"),
        count(lit(1)).over(wRange).as("n_within_1000"))
      .filter($"rnk" <= 50)
  }

  private val windowExtraSql =
    """SELECT o_orderpriority, o_orderkey, rnk, drnk, quartile, next_price, top_price, n_within_1000
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |    COALESCE(lead(price_c, 1) OVER w, -100)/100.0 AS next_price,
      |    first_value(price_c) OVER w/100.0 AS top_price,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY price_c
      |      RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS n_within_1000
      |  FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders)
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c DESC, o_orderkey))
      |WHERE rnk <= 50""".stripMargin

  /** Discounted revenue in exact 10⁻⁴-dollar units: cents × (100 −
    * discount%), both integers — the TPC-H `price·(1−disc)` without any
    * order-dependent double summation. */
  private def revE4(price: org.apache.spark.sql.Column,
                    disc: org.apache.spark.sql.Column) =
    cents(price) * (lit(100L) - cents(disc))

  /** TPC-H Q3-shape shipping priority: segment-filtered customers ×
    * date-filtered orders × lineitem, top-10 open orders by discounted
    * revenue. The joins carry NO broadcast hints — customer and lineitem
    * both scale with the data, so strategy is left to size stats/AQE;
    * both date predicates are raw column comparisons that push into the
    * parquet scans, and the top-10 plans as TakeOrdered, never a global
    * sort. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = to_timestamp(lit("1995-03-15"))
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > cutoff)
      .select($"l_orderkey", revE4($"l_extendedprice", $"l_discount").as("rev"))
    ord.join(cust, $"o_custkey" === $"c_custkey")
      .join(li, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        $"o_orderpriority")
      .agg((sum($"rev") / lit(10000.0)).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  private val shippingPrioritySql =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_orderpriority,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-shape local-supplier volume: the 6-way join (region →
    * nation → customer → orders → lineitem → supplier) with the
    * LOCAL-supplier condition `s_nationkey = c_nationkey` riding the
    * supplier join. Only the true dimensions (region, nation) are
    * broadcast-hinted; customer/orders/lineitem/supplier all shuffle on
    * their keys — the hint discipline every star query in this engine
    * follows (PlanShapeSpec pins it for q_join_multi). */
  def regionalVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        revE4($"l_extendedprice", $"l_discount").as("rev"))
    Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1995-01-01")) &&
        $"o_orderdate" < to_timestamp(lit("1997-01-01")))
      .select($"o_orderkey", $"o_custkey")
      .join(Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(li, $"l_orderkey" === $"o_orderkey")
      .join(Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey" && $"s_nationkey" === $"c_nationkey")
      .join(broadcast(Tables.nation(spark, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_items"),
        (sum($"rev") / lit(10000.0)).as("revenue"))
  }

  private val regionalVolumeSql =
    """SELECT r_name, n_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- registry

  /** UNPIVOT (melt) — the inverse of q_pivot and the missing half of the
    * reshape pair: the four lineitem money/quantity measures rotate from
    * columns into (measure, value) rows via the Spark 4 `Dataset.unpivot`
    * operator (an Expand node: each input row fans out to 4 measure rows
    * map-side, no shuffle), then one hash agg profiles each measure.
    * Values go through integer cents so every aggregate is BIGINT-exact.
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(cents($"l_quantity").as("qty_c"),
        cents($"l_extendedprice").as("price_c"),
        cents($"l_discount").as("disc_c"),
        cents($"l_tax").as("tax_c"))
      .unpivot(Array.empty, Array($"qty_c", $"price_c", $"disc_c", $"tax_c"),
        "measure", "value_c")
      .groupBy($"measure")
      .agg(count(lit(1)).as("n"), sum($"value_c").as("sum_c"),
        min($"value_c").as("min_c"), max($"value_c").as("max_c"))
  }

  private val unpivotMeasuresSql =
    """WITH m AS (
      |  SELECT 'qty_c' AS measure, CAST(round(l_quantity*100) AS BIGINT) AS value_c FROM lineitem
      |  UNION ALL
      |  SELECT 'price_c', CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'disc_c', CAST(round(l_discount*100) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'tax_c', CAST(round(l_tax*100) AS BIGINT) FROM lineitem
      |)
      |SELECT measure, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(value_c) AS BIGINT) AS sum_c,
      |       MIN(value_c) AS min_c, MAX(value_c) AS max_c
      |FROM m GROUP BY measure""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_unpivot", unpivotMeasures, Some(unpivotMeasuresSql)),
    VerifiedQuery("q_shipping_priority", shippingPriority, Some(shippingPrioritySql)),
    VerifiedQuery("q_regional_volume", regionalVolume, Some(regionalVolumeSql)),
    VerifiedQuery("q_hist_rate", histRate, Some(histRateSql)),
    VerifiedQuery("q_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    VerifiedQuery("q_global_agg", globalAgg, Some(globalAggSql)),
    VerifiedQuery("q_audit_counts", auditCounts, Some(auditCountsSql)),
    VerifiedQuery("q_distinct_agg", distinctAgg, Some(distinctAggSql)),
    VerifiedQuery("q_summary_stats", summaryStats, Some(summaryStatsSql)),
    VerifiedQuery("q_rollup", rollupAgg, Some(rollupAggSql)),
    VerifiedQuery("q_proj_filter", projFilter, Some(projFilterSql)),
    VerifiedQuery("q_time_features", timeFeatures, Some(timeFeaturesSql)),
    VerifiedQuery("q_case_bin", caseBin, Some(caseBinSql)),
    VerifiedQuery("q_case_bin_orders", caseBinOrders, Some(caseBinOrdersSql)),
    VerifiedQuery("q_broadcast_fill", broadcastFill, Some(broadcastFillSql)),
    VerifiedQuery("q_join_semi", joinSemi, Some(joinSemiSql)),
    VerifiedQuery("q_join_anti", joinAnti, Some(joinAntiSql)),
    VerifiedQuery("q_join_full", joinFull, Some(joinFullSql)),
    VerifiedQuery("q_join_multi", joinMulti, Some(joinMultiSql)),
    VerifiedQuery("q_topk", topK, Some(topKSql)),
    VerifiedQuery("q_set_ops", setOps, Some(setOpsSql)),
    VerifiedQuery("q_window_funcs", windowFuncs, Some(windowFuncsSql)),
    VerifiedQuery("q_window_extra", windowExtra, Some(windowExtraSql)),
  )
}
