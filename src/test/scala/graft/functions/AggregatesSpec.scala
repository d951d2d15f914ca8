package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("ExactMoneySum equals exact cents math regardless of partitioning") {
    // plus negative cent ties: -0.125 * 100 is exactly -12.5, which the
    // cents rule rounds half away from zero to -13
    val ties = Seq(-0.125, -1.125, -0.005, 0.125)
    val vals = (1 to 5000).map(i => (i % 7, i * 0.01 + (i % 3) * 10.0)) ++
      ties.map(v => (7, v))
    val moneySum = udaf(ExactMoneySum)
    Seq(1, 4, 32).foreach { parts =>
      val df = vals.toDF("k", "v").repartition(parts)
      val got = df.groupBy($"k").agg(moneySum($"v").as("s"))
        .as[(Int, Double)].collect().toMap
      val exact = df.groupBy($"k")
        .agg((sum(round($"v" * 100).cast("long")) / lit(100.0)).as("s"))
        .as[(Int, Double)].collect().toMap
      assert(got == exact, s"mismatch at $parts partitions")
    }
    val one = Seq(-0.125).toDF("v").agg(moneySum($"v")).as[Double].head()
    assert(one == -0.13, s"ExactMoneySum(-0.125) = $one, the cents rule gives -0.13")
  }

  test("sketch aggregates land within tolerance of exact answers") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val approx = li.agg(
      approx_count_distinct($"l_partkey", 0.01).as("ad"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("am"))
      .as[(Long, Double)].head()
    val exact = li.agg(
      countDistinct($"l_partkey").as("d"),
      percentile($"l_extendedprice", lit(0.5)).as("m"))
      .as[(Long, Double)].head()
    assert(math.abs(approx._1 - exact._1).toDouble / exact._1 < 0.05,
      s"HLL off: ${approx._1} vs ${exact._1}")
    assert(math.abs(approx._2 - exact._2) / exact._2 < 0.05,
      s"approx median off: ${approx._2} vs ${exact._2}")
  }
}
