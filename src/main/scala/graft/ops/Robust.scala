package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** Robust statistics — the outlier tier of data curation: exact per-group
  * median / MAD (median absolute deviation) outlier detection and
  * stratified quantile bucketing. Both reuse the winsorize count-histogram
  * technique ([[Funcs.winsorize]]): ranks are picked from CUMULATIVE COUNTS
  * over DISTINCT values, so the shuffle carries (group, value) cells, never
  * rows — the exact-percentile shape that survives 100 TB, unlike
  * `percentile()`'s buffer-every-row aggregation or a global-sort `ntile`.
  *
  * Integer-exactness: medians are carried DOUBLED (`med2` = the sum of the
  * two rank-straddling values — equal when the count is odd), deviations as
  * `dev2 = |2·v − med2|` (= 2·|v − median|, still integral), and the MAD
  * quadrupled (`mad4` = the two straddling `dev2` values summed). The
  * 3-sigma-equivalent cut |v − med| > 3·MAD becomes `2·dev2 > 3·mad4` —
  * every compared quantity is a BIGINT, so the whole operator (and its
  * oracle) is bit-exact with NO floating point anywhere.
  */
object Robust {

  /** Value at 0-based sorted rank k within a cumulative-count frame: the
    * distinct-value row whose range (cum−cnt, cum] covers k+1. */
  private def valueAt(v: Column, cum: Column, cnt: Column, k: Column): Column =
    max(when(cum - cnt <= k && k < cum, v))

  /** Per-group doubled median from a pre-counted (group, value, cnt)
    * histogram: (group, med2, n) via cumulative window over the DISTINCT
    * values. r17: split out of [[doubledMedian]] so callers that already
    * hold the histogram (madOutliers' one-scan shape) can reuse it
    * without re-counting. */
  private def doubledMedianFromHist(hist: DataFrame, g: String, v: String): DataFrame = {
    val counts = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col(g)).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(g))))
    counts.groupBy(col(g)).agg(
      max(col("n")).as("n"),
      (valueAt(col(v), col("cum"), col("cnt"), expr("(n-1) div 2")) +
        valueAt(col(v), col("cum"), col("cnt"), expr("n div 2"))).as("med2"))
  }

  /** Per-group doubled median of an integer column: (group, med2, n) via
    * one distinct-value histogram + cumulative window. */
  private def doubledMedian(df: DataFrame, g: String, v: String): DataFrame =
    doubledMedianFromHist(
      df.groupBy(col(g), col(v)).agg(count(lit(1)).as("cnt")), g, v)

  /** MAD outlier audit over order totals per order status: per group the
    * doubled median, quadrupled MAD, and the count/sum of rows beyond
    * 3 MADs — the robust replacement for mean±3σ (a single fat-tailed
    * order shifts a mean, not a median).
    *
    * Shape: two histogram passes (values, then deviations) + one
    * broadcast join-back of the O(groups) stats — the same two-pass
    * contract as every winsorizer. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/orders.parquet")) {
    // histogram-sized frames at the orders source's shuffle width
    // (graft.Tuning.withSourceWidth)
    import spark.implicits._
    val c = Tables.orders(spark, dir).select($"o_orderstatus".as("g"),
      cents($"o_totalprice").as("v"))
    // ONE corpus scan (r17; was 3 — value histogram, deviation histogram,
    // outlier agg each re-read orders). Every downstream quantity is a
    // cnt-weighted aggregate over the distinct-value histogram: the
    // deviation histogram is the value histogram mapped through
    // |2v − med2| and re-summed (two values can collide on one deviation),
    // and the outlier tallies weight each distinct value by its count.
    // The cached frames are histogram-sized (the state the cumulative
    // windows already hold), never row-sized.
    val hist = c.groupBy($"g", $"v").agg(count(lit(1)).as("cnt")).cache()
    val med = doubledMedianFromHist(hist, "g", "v").select($"g", $"med2").cache()
    val devHist = hist.join(broadcast(med), Seq("g"))
      .select($"g", $"v", $"cnt", $"med2", abs(lit(2) * $"v" - $"med2").as("dev2"))
    val mad = doubledMedianFromHist(
      devHist.groupBy($"g", $"dev2").agg(sum($"cnt").as("cnt")), "g", "dev2")
      .select($"g", $"med2".as("mad4")).cache()
    val out = devHist.join(broadcast(mad), Seq("g"))
      .groupBy($"g", $"med2", $"mad4") // med2/mad4 functionally depend on g
      .agg(sum($"cnt").as("n"),
        sum(when(lit(2) * $"dev2" > lit(3) * $"mad4", $"cnt").otherwise(0L)).as("n_outliers"),
        sum(when(lit(2) * $"dev2" > lit(3) * $"mad4", $"v" * $"cnt").otherwise(0L)).as("outlier_sum_c"))
      .select($"g", $"n", $"med2", $"mad4", $"n_outliers", $"outlier_sum_c")
    Rounds.keep(out, hist, med, mad)
  }

  private val madOutliersSql =
    """WITH c AS (
      |  SELECT o_orderstatus AS g, CAST(round(o_totalprice*100) AS BIGINT) AS v
      |  FROM orders
      |), r AS (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS k,
      |         COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM c
      |), m AS (
      |  SELECT g, MAX(n) AS n,
      |         CAST(SUM(CASE WHEN k = (n-1)//2 THEN v ELSE 0 END)
      |            + SUM(CASE WHEN k = n//2 THEN v ELSE 0 END) AS BIGINT) AS med2
      |  FROM r GROUP BY g
      |), d AS (
      |  SELECT c.g, c.v, abs(2*c.v - m.med2) AS dev2 FROM c JOIN m USING (g)
      |), rd AS (
      |  SELECT g, dev2, row_number() OVER (PARTITION BY g ORDER BY dev2) - 1 AS k,
      |         COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM d
      |), mad AS (
      |  SELECT g, CAST(SUM(CASE WHEN k = (n-1)//2 THEN dev2 ELSE 0 END)
      |              + SUM(CASE WHEN k = n//2 THEN dev2 ELSE 0 END) AS BIGINT) AS mad4
      |  FROM rd GROUP BY g
      |)
      |SELECT d.g, CAST(COUNT(*) AS BIGINT) AS n, MAX(m.med2) AS med2,
      |       MAX(mad.mad4) AS mad4,
      |       CAST(SUM(CASE WHEN 2*d.dev2 > 3*mad.mad4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(SUM(CASE WHEN 2*d.dev2 > 3*mad.mad4 THEN d.v ELSE 0 END) AS BIGINT) AS outlier_sum_c
      |FROM d JOIN m USING (g) JOIN mad USING (g)
      |GROUP BY d.g""".stripMargin

  /** Stratified quartile bucketing of customer balances per market
    * segment: per-group q25/q50/q75 bounds from the count histogram
    * (winsorize interpolation, floored to integer cents), joined back to
    * assign bucket 1–4, aggregated per (segment, bucket).
    *
    * This is the SCALABLE quantile-bucketing contract: a global `ntile`
    * needs a total order (one reducer without range partitioning), while
    * this shape is two hash-aggs + a per-group distinct-value window + an
    * O(groups) broadcast — the [[Funcs.winsorize]] scale argument applies
    * unchanged. (`ntile` itself is covered as a window function in
    * q_window_funcs.) */
  def quantileBucket(spark: SparkSession, dir: String): DataFrame =
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/customer.parquet")) {
    // histogram-sized frames at the customer source's shuffle width
    // (graft.Tuning.withSourceWidth)
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_mktsegment".as("seg"),
      cents($"c_acctbal").as("bal_c"))
    // ONE corpus scan (r17): bucket assignment and the per-bucket stats are
    // cnt-weighted aggregates over the same distinct-value histogram the
    // bounds need — cache it and derive both (the winsorize pattern).
    val hist = c.groupBy($"seg", $"bal_c").agg(count(lit(1)).as("cnt")).cache()
    val counts = hist
      .withColumn("cum", sum($"cnt").over(Window.partitionBy($"seg")
        .orderBy($"bal_c").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"cnt").over(Window.partitionBy($"seg")))
    // two-step like Funcs.winsorize: the agg picks the straddling values
    // (n may only appear INSIDE aggregate expressions), the follow-up
    // select interpolates with the same IEEE expression quantile_cont uses
    def pos(p: Double) = ($"n" - 1) * lit(p)
    def va(k: Column) = valueAt($"bal_c", $"cum", $"cnt", k)
    val picked = counts.groupBy($"seg").agg(
      max($"n").as("n"),
      va(floor(pos(0.25))).as("v25l"), va(ceil(pos(0.25))).as("v25h"),
      va(floor(pos(0.50))).as("v50l"), va(ceil(pos(0.50))).as("v50h"),
      va(floor(pos(0.75))).as("v75l"), va(ceil(pos(0.75))).as("v75h"))
    def interp(p: Double, lo: Column, hi: Column, alias: String): Column =
      floor(lo + (($"n" - 1) * lit(p) - floor(($"n" - 1) * lit(p))) * (hi - lo))
        .cast("long").as(alias)
    val bounds = picked.select($"seg",
      interp(0.25, $"v25l", $"v25h", "q1_c"),
      interp(0.50, $"v50l", $"v50h", "q2_c"),
      interp(0.75, $"v75l", $"v75h", "q3_c"))
    val out = hist.join(broadcast(bounds), Seq("seg"))
      .withColumn("bucket",
        (lit(1) + when($"bal_c" > $"q1_c", 1).otherwise(0)
          + when($"bal_c" > $"q2_c", 1).otherwise(0)
          + when($"bal_c" > $"q3_c", 1).otherwise(0)))
      .groupBy($"seg", $"bucket")
      .agg(sum($"cnt").as("n"), min($"bal_c").as("min_c"),
        max($"bal_c").as("max_c"), sum($"bal_c" * $"cnt").as("sum_c"))
    Rounds.keep(out, hist)
  }

  private val quantileBucketSql =
    """WITH c AS (
      |  SELECT c_mktsegment AS seg, CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
      |  FROM customer
      |), b AS (
      |  SELECT seg,
      |    CAST(floor(quantile_cont(bal_c, 0.25)) AS BIGINT) AS q1_c,
      |    CAST(floor(quantile_cont(bal_c, 0.50)) AS BIGINT) AS q2_c,
      |    CAST(floor(quantile_cont(bal_c, 0.75)) AS BIGINT) AS q3_c
      |  FROM c GROUP BY seg
      |)
      |SELECT seg,
      |  1 + CASE WHEN bal_c > q1_c THEN 1 ELSE 0 END
      |    + CASE WHEN bal_c > q2_c THEN 1 ELSE 0 END
      |    + CASE WHEN bal_c > q3_c THEN 1 ELSE 0 END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n, MIN(bal_c) AS min_c, MAX(bal_c) AS max_c,
      |  CAST(SUM(bal_c) AS BIGINT) AS sum_c
      |FROM c JOIN b USING (seg)
      |GROUP BY seg, bucket""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_mad_outliers", madOutliers, Some(madOutliersSql)),
    VerifiedQuery("q_quantile_bucket", quantileBucket, Some(quantileBucketSql)),
  )
}
