package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** Extended scalar/aggregate SQL surface beyond the reference (SURVEY
  * §2.10 "what the reference does NOT have"): string functions, array
  * aggregation, JSON extraction, pivot, cube, and exact percentiles — each
  * a narrow projection or a single hash-agg shuffle, all oracled.
  */
object Funcs {

  /** String-function battery over customer names/segments. Only functions
    * with engine-exact semantics on both sides (no locale-dependent or
    * transcendental behavior). */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select(
      $"c_custkey",
      upper($"c_name").as("up"),
      lower($"c_mktsegment").as("lo"),
      substring($"c_name", 4, 5).as("sub"),
      concat_ws("|", $"c_mktsegment", $"c_name").as("cat"),
      lpad($"c_custkey".cast("string"), 8, "0").as("padded"),
      regexp_replace($"c_name", "[0-9]", "#").as("masked"),
      reverse($"c_name").as("rev"),
      instr($"c_name", "1").as("pos1"),
      length($"c_name").as("len"))
  }

  private val stringFuncsSql =
    """SELECT c_custkey,
      |  upper(c_name) AS up,
      |  lower(c_mktsegment) AS lo,
      |  substring(c_name, 4, 5) AS sub,
      |  concat_ws('|', c_mktsegment, c_name) AS cat,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  reverse(c_name) AS rev,
      |  CAST(strpos(c_name, '1') AS INTEGER) AS pos1,
      |  CAST(length(c_name) AS INTEGER) AS len
      |FROM customer""".stripMargin

  /** Array aggregation: per-source sorted distinct language list and token
    * extremes (arrays rendered to strings so the compare is type-stable). */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(
        array_join(sort_array(collect_set($"lang")), ",").as("langs"),
        count(lit(1)).as("n_docs"),
        max($"n_chars").as("max_chars"))
  }

  private val arrayFuncsSql =
    """SELECT source,
      |  array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs,
      |  COUNT(*) AS n_docs,
      |  MAX(n_chars) AS max_chars
      |FROM documents GROUP BY source""".stripMargin

  /** JSON extraction from the events props column. */
  def jsonFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir).select(
      $"event_id",
      get_json_object($"props", "$.k").cast("int").as("k"),
      (get_json_object($"props", "$.k").cast("int") % 7).as("k_mod"),
      when(get_json_object($"props", "$.missing").isNull, "absent")
        .otherwise("present").as("missing_state"))
  }

  private val jsonFuncsSql =
    """SELECT event_id,
      |  CAST(props->>'k' AS INTEGER) AS k,
      |  CAST(props->>'k' AS INTEGER) % 7 AS k_mod,
      |  CASE WHEN props->>'missing' IS NULL THEN 'absent' ELSE 'present' END AS missing_state
      |FROM events""".stripMargin

  /** Nested-struct surface: schema'd `from_json` (no inference pass — the
    * scan stays single-pass), struct construction, array-of-struct
    * aggregation (`sort_array(collect_list(struct))` — struct ordering is
    * field-by-field, and the UNIQUE leading event_id makes it
    * deterministic), nested field indexing, and higher-order functions
    * over struct arrays. The oracle re-derives every nested access from
    * flat SQL, so a wrong field path or struct order hash-fails. */
  def nestedStruct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("p", from_json($"props", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))))
      .withColumn("rec", struct($"event_id", $"p.k".as("k"),
        cents($"value").as("v_c")))
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"rec")).as("recs"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events",
        $"recs"(0)("event_id").as("first_event"),
        aggregate($"recs", lit(0L), (a, r) => a + r("v_c")).as("sum_v_c"),
        size(filter($"recs", r => r("k") % 2 === 0)).cast("long").as("n_even_k"))
  }

  private val nestedStructSql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  MIN(event_id) AS first_event,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v_c,
      |  CAST(COUNT(*) FILTER (WHERE CAST(props->>'k' AS INTEGER) % 2 = 0) AS BIGINT) AS n_even_k
      |FROM events GROUP BY user_id""".stripMargin

  /** Pivot: return-flag rows × line-status columns (fixed pivot values →
    * deterministic schema; the oracle is the equivalent conditional-sum). */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum($"l_quantity"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")
  }

  private val pivotAggSql =
    """SELECT l_returnflag,
      |  SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
      |  SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** CUBE over two dimensions (completes the grouping-sets family next to
    * the rollup query). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"), $"n")
  }

  private val cubeAggSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /** Explicit GROUPING SETS with `grouping_id()` (completes the
    * grouping-sets family beside rollup and cube, which are just fixed
    * set-lists): three chosen sets — (status, priority), (status), () —
    * and the grouping-id bitmask distinguishing real NULL-keyed rows from
    * subtotal rows (the thing COALESCE-only outputs cannot do). One hash
    * aggregate with an Expand node — each input row fans out to the 3
    * sets map-side, so the shuffle carries pre-aggregated partials, never
    * sets× the raw rows. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"),
        (sum(cents($"o_totalprice")) / lit(100.0)).as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"gid", $"n", $"total")
  }

  private val groupingSetsSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** Exact percentiles (Spark `percentile`, not approx) per group — linear
    * interpolation, matching DuckDB quantile_cont. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        percentile($"l_quantity", lit(0.25)).as("p25"),
        percentile($"l_quantity", lit(0.5)).as("p50"),
        percentile($"l_quantity", lit(0.75)).as("p75"))
  }

  private val percentilesSql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** SQL string entry point (a surface the reference lacks, SURVEY §2.10):
    * a correlated scalar subquery submitted as raw SQL over temp views —
    * Catalyst decorrelates it into a left outer aggregate join (no
    * per-row re-execution; scale-safe). max() is order-independent and
    * exact on doubles, so no cents dance is needed. */
  def sqlEntry(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c.c_custkey, c.c_mktsegment,
        |  (SELECT max(o.o_totalprice) FROM orders_v o
        |   WHERE o.o_custkey = c.c_custkey) AS max_price,
        |  (SELECT count(*) FROM orders_v o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000) AS n_big
        |FROM customer_v c""".stripMargin)
  }

  private val sqlEntrySql =
    """SELECT c.c_custkey, c.c_mktsegment,
      |  (SELECT max(o.o_totalprice) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS max_price,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000) AS n_big
      |FROM customer c""".stripMargin

  /** Custom typed Aggregator (the udaf path): exact money sums per order
    * status — identical results to the inline cents math under any
    * partitioning, so it carries a full oracle. */
  def customAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val moneySum = udaf(graft.functions.ExactMoneySum)
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(moneySum($"o_totalprice").as("total_price"),
        count(lit(1)).as("n"))
  }

  private val customAggSql =
    """SELECT o_orderstatus,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Sketch aggregates — the approximate tier for 100 TB cardinality /
    * quantile questions: HyperLogLog++ distinct counts and approximate
    * percentiles. Sketch internals differ engine to engine, so this is
    * registered rows-only; scalatest bounds the relative error vs exact.
    */
  def sketchAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        approx_count_distinct($"l_suppkey", 0.01).as("approx_supps"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx_median"))
  }

  /** Winsorization — outlier clipping at exact per-group percentiles (the
    * feature-engineering step before scaling/training: cap the tails
    * instead of dropping rows). Prices go through integer cents, the
    * interpolated p05/p95 bounds are floored to integers, and the clip +
    * sums stay in integer math — so counts AND clipped sums hash-match
    * any engine.
    *
    * Scale shape: two passes over the fact table (percentiles can't be
    * computed in the same pass that uses them — every winsorizer, Pandas
    * included, is two-pass), both single hash-aggs; the O(groups) bounds
    * frame is broadcast back. The bounds do NOT use `percentile()`: with
    * few groups, its exact aggregation buffers EVERY row's value on one
    * reducer per group (measured 3.3 s of this query's cost at sf0.1 —
    * and the shape that dies first at 100 TB). Because the domain is
    * integer cents, the same interpolated value comes from a count
    * histogram: pre-aggregate (group, value) counts map-side, cumulative-
    * sum over the DISTINCT values per group, pick the two ranks
    * straddling p·(n−1) and interpolate with `lower + frac·(higher −
    * lower)` — the identical IEEE expression `percentile()` evaluates, so
    * the result (and the DuckDB `quantile_cont` oracle) is bit-unchanged
    * while the shuffle carries distinct values instead of rows. */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    graft.Tuning.withSourceWidth(spark, Seq(s"$dir/lineitem.parquet")) {
    // shuffle width from the lineitem source (graft.Tuning.withSourceWidth)
    // — every exchange below carries distinct values, not rows
    import spark.implicits._
    val c = Tables.lineitem(spark, dir)
      .select($"l_returnflag", cents($"l_extendedprice").as("price_c"))
    // ONE corpus scan (r17): the clip/sum pass used to re-scan lineitem and
    // join every ROW against the bounds; every output quantity is a
    // cnt-weighted aggregate over the distinct-value histogram the bounds
    // already needed, so compute the histogram once (cached — it is the
    // frame both consumers read; histogram-sized, the same order of state
    // the cumulative window below already holds) and derive both from it.
    val hist = c.groupBy($"l_returnflag", $"price_c").agg(count(lit(1)).as("cnt"))
      .cache()
    val counts = hist
      .withColumn("cum", sum($"cnt").over(Window.partitionBy($"l_returnflag")
        .orderBy($"price_c").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"cnt").over(Window.partitionBy($"l_returnflag")))
    // value holding 0-based sorted rank k: the row whose cumulative range
    // (cum-cnt, cum] covers k+1 — i.e. cum-cnt <= k < cum
    def valueAt(k: org.apache.spark.sql.Column) =
      max(when($"cum" - $"cnt" <= k && k < $"cum", $"price_c"))
    def pos(p: Double) = ($"n" - 1) * lit(p)
    val bounds = counts.groupBy($"l_returnflag").agg(
        max($"n").as("n"),
        valueAt(floor(pos(0.05))).as("v05l"), valueAt(ceil(pos(0.05))).as("v05h"),
        valueAt(floor(pos(0.95))).as("v95l"), valueAt(ceil(pos(0.95))).as("v95h"))
      .select($"l_returnflag",
        floor($"v05l" + (($"n" - 1) * 0.05 - floor(($"n" - 1) * 0.05)) *
          ($"v05h" - $"v05l")).cast("long").as("lo_c"),
        floor($"v95l" + (($"n" - 1) * 0.95 - floor(($"n" - 1) * 0.95)) *
          ($"v95h" - $"v95l")).cast("long").as("hi_c"))
    val out = hist.join(broadcast(bounds), Seq("l_returnflag"))
      .withColumn("clipped_c", greatest(least($"price_c", $"hi_c"), $"lo_c"))
      .groupBy($"l_returnflag", $"lo_c", $"hi_c")
      .agg(sum($"cnt").as("n_rows"),
        sum(when($"price_c" < $"lo_c", $"cnt").otherwise(0L)).as("n_clip_lo"),
        sum(when($"price_c" > $"hi_c", $"cnt").otherwise(0L)).as("n_clip_hi"),
        (sum($"clipped_c" * $"cnt") / lit(100.0)).as("sum_clipped"))
    Rounds.keep(out, hist)
  }

  private val winsorizeSql =
    """WITH c AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
      |  FROM lineitem
      |), b AS (
      |  SELECT l_returnflag,
      |    CAST(floor(quantile_cont(price_c, 0.05)) AS BIGINT) AS lo_c,
      |    CAST(floor(quantile_cont(price_c, 0.95)) AS BIGINT) AS hi_c
      |  FROM c GROUP BY 1
      |)
      |SELECT c.l_returnflag, lo_c, hi_c, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN price_c < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(SUM(CASE WHEN price_c > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |  CAST(SUM(GREATEST(LEAST(price_c, hi_c), lo_c)) AS DOUBLE)/100.0 AS sum_clipped
      |FROM c JOIN b USING (l_returnflag)
      |GROUP BY 1, 2, 3""".stripMargin

  /** Date/time function battery (beyond the reference's year/month/
    * dow/dom extraction): truncation, quarter/ISO-week/day-of-year,
    * month-end, date arithmetic and month-add with end-of-month clamping
    * — each function with engine-identical semantics, dates rendered as
    * ISO strings (the established timestamp parity rule). Distinct
    * ship-dates of one year keep the output compact while every code
    * path (leap handling, week-53 boundaries, clamping) is exercised. */
  def datetimeFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(to_date($"l_shipdate").as("d"))
      .filter(year($"d") === 1997)
      .distinct()
      .select($"d".cast("string").as("d"),
        date_trunc("month", $"d").cast("date").cast("string").as("month_start"),
        quarter($"d").as("q"),
        weekofyear($"d").as("iso_week"),
        dayofyear($"d").as("doy"),
        last_day($"d").cast("string").as("month_end"),
        datediff($"d", lit("1995-01-01").cast("date")).as("days_since"),
        add_months($"d", 2).cast("string").as("plus2m"))
  }

  private val datetimeFuncsSql =
    """SELECT CAST(d AS VARCHAR) AS d,
      |  CAST(date_trunc('month', d) AS VARCHAR) AS month_start,
      |  CAST(quarter(d) AS INTEGER) AS q,
      |  CAST(week(d) AS INTEGER) AS iso_week,
      |  CAST(dayofyear(d) AS INTEGER) AS doy,
      |  CAST(last_day(d) AS VARCHAR) AS month_end,
      |  CAST(date_diff('day', DATE '1995-01-01', d) AS INTEGER) AS days_since,
      |  CAST(CAST(d + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2m
      |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem
      |      WHERE year(CAST(l_shipdate AS DATE)) = 1997)""".stripMargin

  /** Analytic window battery (completes the window family beside
    * lag/lead/rank/ntile): percent_rank and cume_dist — rank-derived, so
    * their doubles are identical integer divisions in any engine — and
    * nth_value over an EXPLICIT ROWS frame (the default RANGE frame's
    * peer semantics is an engine-parity trap; unique (price, key)
    * ordering + ROWS pins it). */
  def windowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"price_c", $"o_orderkey")
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus",
        cents($"o_totalprice").as("price_c"))
      .select($"o_orderkey", $"o_orderstatus",
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value($"o_orderkey", 3).over(wRows).as("third_key"))
  }

  private val windowAnalyticSql =
    """SELECT o_orderkey, o_orderstatus,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderstatus
      |    ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus
      |  ORDER BY CAST(round(o_totalprice*100) AS BIGINT), o_orderkey)""".stripMargin

  /** Higher-order-function battery over the embedding arrays (the HOF
    * surface a vector pipeline leans on): filter/size, aggregate folds,
    * exists/forall (as ints for type-stable compare), array_max, and a
    * zip_with product fold — every double fold is SEQUENTIAL in array
    * order, so Spark `aggregate` and DuckDB `list_reduce`/
    * `list_dot_product` are bit-identical (established equivalence,
    * see the ANN oracles). */
  def hofFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .select($"vec_id",
        size(filter($"e", x => x > 0)).as("n_pos"),
        aggregate($"e", lit(0.0), (a, x) => a + x * x).as("ssq"),
        array_max($"e").as("amax"),
        exists($"e", x => x > lit(0.9)).cast("int").as("has_big"),
        forall($"e", x => abs(x) <= lit(2.0)).cast("int").as("bounded"),
        aggregate(zip_with($"e", reverse($"e"), (a, b) => a * b),
          lit(0.0), (a, x) => a + x).as("rev_dot"))
  }

  private val hofFuncsSql =
    """SELECT vec_id,
      |  CAST(len(list_filter(e, x -> x > 0)) AS INTEGER) AS n_pos,
      |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(e, x -> x * x)), (a, b) -> a + b) AS ssq,
      |  list_max(e) AS amax,
      |  CASE WHEN len(list_filter(e, x -> x > CAST(0.9 AS DOUBLE))) > 0
      |       THEN 1 ELSE 0 END AS has_big,
      |  CASE WHEN len(list_filter(e, x -> abs(x) > CAST(2.0 AS DOUBLE))) = 0
      |       THEN 1 ELSE 0 END AS bounded,
      |  list_dot_product(e, list_reverse(e)) AS rev_dot
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)""".stripMargin

  /** Ordered string aggregation — the reporting/export primitive
    * (`string_agg`/`listagg`): per nation the alphabetized, comma-joined
    * supplier names plus a parallel ordered key list. Spark side is
    * `array_join(array_sort(collect_list(...)))` — an unordered collect
    * pinned by an explicit sort, since aggregation ORDER is undefined in
    * a distributed engine; the DuckDB oracle's `string_agg(... ORDER BY)`
    * must match it byte-for-byte. Group sizes are dimension-bounded
    * (suppliers per nation), the precondition for any collect_list. */
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(array_sort(collect_list($"s_name")), ",").as("names"),
        array_join(array_sort(collect_list($"s_suppkey".cast("string"))), ",").as("keys"))
  }

  private val stringAggSql =
    """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |       string_agg(s_name, ',' ORDER BY s_name) AS names,
      |       string_agg(CAST(s_suppkey AS VARCHAR), ',' ORDER BY CAST(s_suppkey AS VARCHAR)) AS keys
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Top-k per group through the TYPED Aggregator path ([[customAgg]]'s
    * sibling, SURVEY §7.3) — the map-side-combine leaderboard: partial
    * buffers hold ≤ k rows per group per task, so the shuffle carries
    * O(groups × k) rows where the equivalent `row_number` window
    * ([[Relational.topK]], [[LlmData.sourceCap]]) shuffles and sorts the
    * whole fact table. Exact integer-cents ordering with doc-key
    * tie-break makes the emitted leaderboard hash-identical to the
    * oracle's sequential window. Merge associativity/commutativity (the
    * partitioning-invariance property) is scalatest-pinned. */
  def groupTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = udaf(graft.functions.TopKByPrice)
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(topk(cents($"o_totalprice"), $"o_orderkey").as("top"))
      .select($"o_orderpriority", posexplode($"top"))
      .select($"o_orderpriority", ($"pos" + 1).cast("long").as("rank"),
        $"col.key".as("o_orderkey"), ($"col.cents" / lit(100.0)).as("price"))
  }

  private val groupTopKSql =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, rn AS rank, o_orderkey,
      |  CAST(cents AS DOUBLE) / 100.0 AS price
      |FROM r WHERE rn <= 3""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_group_topk", groupTopK, Some(groupTopKSql)),
    VerifiedQuery("q_string_agg", stringAgg, Some(stringAggSql)),
    VerifiedQuery("q_datetime_funcs", datetimeFuncs, Some(datetimeFuncsSql)),
    VerifiedQuery("q_window_analytic", windowAnalytic, Some(windowAnalyticSql)),
    VerifiedQuery("q_hof_funcs", hofFuncs, Some(hofFuncsSql)),
    VerifiedQuery("q_winsorize", winsorize, Some(winsorizeSql)),
    VerifiedQuery("q_nested_struct", nestedStruct, Some(nestedStructSql)),
    VerifiedQuery("q_sql_entry", sqlEntry, Some(sqlEntrySql)),
    VerifiedQuery("q_custom_agg", customAgg, Some(customAggSql)),
    VerifiedQuery("q_sketch_agg", sketchAgg, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "HLL++/approx_percentile register layouts are engine-specific",
        columns = Seq("l_returnflag", "approx_parts", "approx_supps",
          "approx_median"),
        test = "AnalyticsSpec rank-error bound",
        twin = Some("q_quantile_sketch"),
        exactRowsSql =
          Some("SELECT count(DISTINCT l_returnflag) FROM lineitem")))),
    VerifiedQuery("q_string_funcs", stringFuncs, Some(stringFuncsSql)),
    VerifiedQuery("q_array_funcs", arrayFuncs, Some(arrayFuncsSql)),
    VerifiedQuery("q_json_funcs", jsonFuncs, Some(jsonFuncsSql)),
    VerifiedQuery("q_pivot", pivotAgg, Some(pivotAggSql)),
    VerifiedQuery("q_cube", cubeAgg, Some(cubeAggSql)),
    VerifiedQuery("q_grouping_sets", groupingSets, Some(groupingSetsSql)),
    VerifiedQuery("q_percentiles", percentiles, Some(percentilesSql)),
  )
}
