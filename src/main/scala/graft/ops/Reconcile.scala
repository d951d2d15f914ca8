package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.functions.cents

/** Data reconciliation + drift monitoring — the operational tier of a
  * pipeline that re-ingests snapshots: diff two versions of a table
  * (migration validation, CDC audit) and quantify distribution drift
  * between two periods (the input-data health check before a training
  * run).
  */
object Reconcile {

  /** Snapshot diff: full-outer join of two versions of the orders table
    * on the key, each row classified added / removed / changed / same,
    * aggregated per class with integer checksums (so the oracle verifies
    * MEMBERSHIP of every class, not just sizes).
    *
    * Both snapshots derive deterministically from the same table so all
    * four classes occur: keys ≡ 0 mod 97 are absent from OLD (later
    * added), keys ≡ 0 mod 89 are absent from NEW (since removed), and
    * keys ≡ 0 mod 13 carry a shifted old price (since changed) — the
    * oracle replants all three.
    *
    * Shape: one full-outer sort-merge join on the key (a full join can
    * never broadcast) + one O(classes) hash agg. At 100 TB both sides
    * shuffle once on the key; bucketed snapshots would run it
    * exchange-free. */
  def datasetDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey".as("k"), cents($"o_totalprice").as("price_c"))
    val cur = base.filter($"k" % 89 =!= 0)
    val old = base.filter($"k" % 97 =!= 0)
      .select($"k", when($"k" % 13 === 0, $"price_c" + 1000L).otherwise($"price_c").as("price_c"))
    old.as("o").join(cur.as("n"), col("o.k") === col("n.k"), "full_outer")
      .select(
        when(col("o.k").isNull, "added")
          .when(col("n.k").isNull, "removed")
          .when(col("o.price_c") =!= col("n.price_c"), "changed")
          .otherwise("same").as("class"),
        coalesce(col("o.k"), col("n.k")).as("k"),
        coalesce(col("n.price_c"), col("o.price_c")).as("price_c"))
      .groupBy($"class")
      .agg(count(lit(1)).as("n"), sum($"k").as("key_sum"),
        sum($"price_c").as("price_sum_c"))
  }

  private val datasetDiffSql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |  FROM orders
      |), cur AS (
      |  SELECT k, price_c FROM base WHERE k % 89 <> 0
      |), old AS (
      |  SELECT k, CASE WHEN k % 13 = 0 THEN price_c + 1000 ELSE price_c END AS price_c
      |  FROM base WHERE k % 97 <> 0
      |)
      |SELECT CASE WHEN o.k IS NULL THEN 'added'
      |            WHEN n.k IS NULL THEN 'removed'
      |            WHEN o.price_c <> n.price_c THEN 'changed'
      |            ELSE 'same' END AS class,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(COALESCE(o.k, n.k)) AS BIGINT) AS key_sum,
      |       CAST(SUM(COALESCE(n.price_c, o.price_c)) AS BIGINT) AS price_sum_c
      |FROM old o FULL OUTER JOIN cur n ON o.k = n.k
      |GROUP BY 1""".stripMargin

  /** Distribution drift between two order periods: bin prices into
    * fixed-width integer-cents bins, count per bin in a reference and a
    * current window, and emit each bin's chi-square contribution
    * ((o·n_ref − r·n_cur)² scaled) — the drift monitor a training
    * pipeline runs on every ingest.
    *
    * Oracle parity: the output is PER-BIN (the global statistic is a sum
    * of doubles, whose value depends on summation order — engine-hostile;
    * per-row doubles from BIGINT counts through one pinned expression are
    * bit-exact, and the consumer/scalatest sums them). The expected count
    * and contribution use explicit casts and a pinned operation order.
    *
    * Shape: two passes over a pushed date-range scan each feeding an
    * O(bins) hash agg; the bin join is O(bins)×O(bins) tiny. */
  def driftChi2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def binned(lo: String, hi: String) = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select(cents($"o_totalprice").as("price_c"))
      .groupBy(expr("price_c div 5000000").as("bin"))
      .agg(count(lit(1)).as("n"))
    // O(bins) frames, each consumed twice (bin join + totals) — cached so
    // the pushed date-range scans run once apiece
    val ref = binned("1994-01-01", "1995-01-01").cache()
    val cur = binned("1996-01-01", "1997-01-01").cache()
    val totals = ref.agg(sum($"n").as("n_ref")).crossJoin(cur.agg(sum($"n").as("n_cur")))
    ref.select($"bin", $"n".as("ref_n"))
      .join(cur.select($"bin", $"n".as("cur_n")), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
      .crossJoin(broadcast(totals))
      .selectExpr("bin", "ref_n", "cur_n", "n_ref", "n_cur",
        "CAST(ref_n AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE) AS expected",
        """CASE WHEN ref_n = 0 THEN CAST(NULL AS DOUBLE)
           ELSE (CAST(cur_n AS DOUBLE) - CAST(ref_n AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE))
              * (CAST(cur_n AS DOUBLE) - CAST(ref_n AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE))
              / (CAST(ref_n AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE)) END AS contrib""")
  }

  private val driftChi2Sql =
    """WITH b AS (
      |  SELECT CAST(round(o_totalprice*100) AS BIGINT) // 5000000 AS bin, o_orderdate AS d
      |  FROM orders
      |), ref AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS ref_n FROM b
      |  WHERE d >= '1994-01-01' AND d < '1995-01-01' GROUP BY bin
      |), cur AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS cur_n FROM b
      |  WHERE d >= '1996-01-01' AND d < '1997-01-01' GROUP BY bin
      |), t AS (
      |  SELECT (SELECT CAST(SUM(ref_n) AS BIGINT) FROM ref) AS n_ref,
      |         (SELECT CAST(SUM(cur_n) AS BIGINT) FROM cur) AS n_cur
      |)
      |SELECT COALESCE(ref.bin, cur.bin) AS bin,
      |       CAST(COALESCE(ref_n, 0) AS BIGINT) AS ref_n,
      |       CAST(COALESCE(cur_n, 0) AS BIGINT) AS cur_n,
      |       n_ref, n_cur,
      |       CAST(COALESCE(ref_n, 0) AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE) AS expected,
      |       CASE WHEN COALESCE(ref_n, 0) = 0 THEN CAST(NULL AS DOUBLE)
      |       ELSE (CAST(COALESCE(cur_n, 0) AS DOUBLE) - CAST(COALESCE(ref_n, 0) AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE))
      |          * (CAST(COALESCE(cur_n, 0) AS DOUBLE) - CAST(COALESCE(ref_n, 0) AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE))
      |          / (CAST(COALESCE(ref_n, 0) AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref AS DOUBLE)) END AS contrib
      |FROM ref FULL OUTER JOIN cur ON ref.bin = cur.bin
      |CROSS JOIN t""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_dataset_diff", datasetDiff, Some(datasetDiffSql)),
    VerifiedQuery("q_drift_chi2", driftChi2, Some(driftChi2Sql)),
  )
}
