package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** Scale-technique operators: bucketed co-located joins and salted skew
  * aggregation — the two patterns that decide whether a 100 TB join/agg
  * works at all. Both are oracled against the equivalent plain relational
  * semantics, and the plan shapes (no Exchange over bucketed sides;
  * two-phase salted agg) are asserted in PlanShapeSpec.
  */
object Scale {

  /** Create bucketed+sorted copies of lineitem/orders (idempotent per
    * dataset version, ACROSS JVMs since r12 — [[Materialize]] carries the
    * fingerprinting/re-registration/one-file-per-bucket machinery shared
    * with the graph tier's edge tables). At 100 TB these are the
    * pre-bucketed fact tables every co-located join reads — bucket once,
    * join shuffle-free forever after. */
  def ensureBucketedTables(spark: SparkSession, dir: String, buckets: Int = 8): (String, String) = {
    val liName = Materialize.ensureBucketedTable(spark,
      s"li_bucketed_$dir", "l_orderkey", buckets,
      sourcePaths = Seq(s"$dir/lineitem.parquet")) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"), col("l_quantity"))
    }
    val ordName = Materialize.ensureBucketedTable(spark,
      s"ord_bucketed_$dir", "o_orderkey", buckets,
      sourcePaths = Seq(s"$dir/orders.parquet")) {
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
    }
    (liName, ordName)
  }

  /** Co-located fact⋈fact join over bucketed tables: both sides are
    * pre-hashed into the same bucket layout on the join key, so the join
    * plans WITHOUT any Exchange — the shuffle that dominates a 100 TB
    * fact-fact join simply disappears. Aggregated per priority so the
    * result is compact and oracle-stable. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (liName, ordName) = ensureBucketedTables(spark, dir)
    val li = spark.table(liName)
    val ord = spark.table(ordName)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        (sum(cents(col("l_extendedprice")) *
          (lit(100) - cents(col("l_discount")))) / lit(10000.0)).as("revenue"))
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
      |       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Salted two-phase aggregation for skewed keys: phase 1 aggregates on
    * (key, salt) — spreading a hot key over `salts` reducers — phase 2
    * merges the partials per key. Identical result to the direct
    * aggregation (the oracle), but no single reducer ever sees a hot key's
    * full row stream. l_returnflag (3 values over 600k rows at sf0.1) IS a
    * pathologically skewed key: unsalted, 3 reducers do all the work.
    */
  def saltedAgg(spark: SparkSession, dir: String, salts: Int = 16): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
      .groupBy($"l_returnflag", $"salt")
      .agg(
        count(lit(1)).as("pn"),
        sum(cents($"l_extendedprice")).as("psum_c"),
        max($"l_quantity").as("pmax_q"))
      .groupBy($"l_returnflag")
      .agg(
        sum($"pn").as("n_rows"),
        (sum($"psum_c") / lit(100.0)).as("sum_price"),
        max($"pmax_q").as("max_qty"))
  }

  private val saltedAggSql =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Deliberately skewed join for AQE skew handling: 80% of lineitem rows
    * map to nation key 0, the rest spread over keys 20–24, and the join is
    * pinned to sort-merge (`SHUFFLE_MERGE` hint — a 25-row dim would
    * otherwise broadcast and there'd be no shuffle to skew-split). At
    * production scale AQE detects the hot partition at runtime
    * (skewedPartitionFactor × median) and splits it across reducers —
    * `skew=true` on the SMJ is plan-asserted in PlanShapeSpec with
    * test-sized thresholds. Salting ([[saltedAgg]]) is the static
    * counterpart for aggregation; this is the runtime path for joins.
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame =
    skewJoinOn(Tables.lineitem(spark, dir), Tables.nation(spark, dir))

  /** Frame-parameterized body of [[skewJoin]] so the plan test can feed a
    * multi-file lineitem copy: AQE splits a skewed reducer partition along
    * MAPPER boundaries, and the single-row-group test parquet is one
    * mapper — indivisible — while a cluster scan has thousands. */
  def skewJoinOn(lineitem: DataFrame, nation: DataFrame): DataFrame = {
    val li = lineitem
      .withColumn("nk",
        when(pmod(col("l_orderkey"), lit(25)) < 20, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(25))))
    li.join(nation.hint("shuffle_merge"), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(cents(col("l_extendedprice"))) / lit(100.0)).as("sum_price"))
  }

  private val skewJoinSql =
    """SELECT n_name, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
      |FROM (SELECT CASE WHEN l_orderkey % 25 < 20 THEN 0 ELSE l_orderkey % 25 END AS nk,
      |             l_extendedprice FROM lineitem) l
      |JOIN nation ON l.nk = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Static SALTED join — the portable skew fix (works with AQE off, or
    * where runtime splitting can't, e.g. feeding a co-partitioned
    * aggregate): the fact side tags each row with salt = orderkey mod
    * `salts`; the dimension side is exploded `salts`× so every
    * (key, salt) pair matches. The hot key's rows spread over `salts`
    * reducers instead of one; the dim grows by `salts`× (fine — it's a
    * dimension). Result identical to the plain join — that's the oracle.
    * [[skewJoin]] is the runtime (AQE) counterpart.
    */
  def saltedJoin(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .withColumn("nk",
        when(pmod($"l_orderkey", lit(25)) < 20, lit(0L))
          .otherwise(pmod($"l_orderkey", lit(25))))
      .withColumn("salt", pmod($"l_orderkey", lit(salts)))
    val dim = Tables.nation(spark, dir)
      .withColumn("salt", explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
    li.join(dim.hint("shuffle_merge"),
        $"nk" === $"n_nationkey" && li("salt") === dim("salt"))
      .groupBy($"n_name")
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(cents($"l_extendedprice")) / lit(100.0)).as("sum_price"))
  }

  private val saltedJoinSql = skewJoinSql // identical semantics by design

  // ------------------------------------------------------- z-order layout

  /** Morton (z-order) value: interleave the low `bits` bits of two
    * dimension columns — points close in BOTH dimensions get close
    * z-values, so range-partitioning by z clusters multi-dimensional
    * locality into files. Pure integer bit math (shift/and/or), identical
    * in any engine; the oracle SQL is generated from the same bit loop. */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
             bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def zSqlExpr(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  /** Z-order clustering audit — the data-LAYOUT optimization that decides
    * scan cost at 100 TB: compute the Morton code over two join/filter
    * dimensions, bucket rows by z-range, and report per-bucket occupancy
    * and per-dimension spread. Low distinct-x/distinct-y per bucket is the
    * clustering property that makes parquet min/max file stats prune
    * multi-dimensional predicates (a file sorted on x alone never prunes
    * on y). The production write path is `repartitionByRange($"z")` before
    * the sink — [[graft.ops.ZorderSpec]]-tested for the non-overlapping
    * per-file z-range property; this registered query oracles the z math
    * and bucket assignment themselves. Narrow per-row bit math + one hash
    * agg, nothing data-sized on the driver. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
      .withColumn("z", zValue($"x", $"y", 10))
      .withColumn("zbucket", expr("z div 16384"))
      .groupBy($"zbucket")
      .agg(count(lit(1)).as("n_rows"), min($"z").as("min_z"), max($"z").as("max_z"),
        count_distinct($"x").as("n_x"), count_distinct($"y").as("n_y"))
  }

  private val zorderLayoutSql =
    s"""WITH t AS (
      |  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem
      |), zt AS (
      |  SELECT x, y, ${zSqlExpr("x", "y", 10)} AS z FROM t
      |)
      |SELECT z // 16384 AS zbucket, COUNT(*) AS n_rows,
      |  MIN(z) AS min_z, MAX(z) AS max_z,
      |  COUNT(DISTINCT x) AS n_x, COUNT(DISTINCT y) AS n_y
      |FROM zt GROUP BY 1""".stripMargin

  /** Skew diagnostics — the audit run BEFORE choosing a skew mitigation
    * (salting, AQE, broadcast): per-key row counts on the join key, each
    * hot key's share of the table (ppm) and its heat relative to the
    * mean key (milli-ratios), top-k hottest. The global totals ride a
    * broadcast 1-row frame (never a partition-less window, which would
    * serialize the aggregated frame through one task); top-k is
    * TakeOrdered. All integer math, fully oracled. */
  def skewStats(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val counts = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum($"n").as("total"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select($"l_suppkey", $"n",
        expr("(n * 1000000) div total").as("share_ppm"),
        expr("(n * n_keys * 1000) div total").as("heat_milli"))
      .orderBy($"n".desc, $"l_suppkey")
      .limit(topK)
  }

  private val skewStatsSql =
    """WITH c AS (
      |  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1
      |), t AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c
      |)
      |SELECT l_suppkey, n,
      |  (n * 1000000) // total AS share_ppm,
      |  (n * n_keys * 1000) // total AS heat_milli
      |FROM c, t
      |ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_skew_stats", (s, d) => skewStats(s, d), Some(skewStatsSql)),
    VerifiedQuery("q_zorder", zorderLayout, Some(zorderLayoutSql)),
    VerifiedQuery("q_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    VerifiedQuery("q_salted_agg", (s, d) => saltedAgg(s, d), Some(saltedAggSql)),
    VerifiedQuery("q_skew_join", skewJoin, Some(skewJoinSql)),
    VerifiedQuery("q_salted_join", (s, d) => saltedJoin(s, d), Some(saltedJoinSql)),
  )
}
