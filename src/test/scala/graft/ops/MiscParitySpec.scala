package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Small literal-parity checks that don't fit the oracle path. */
class MiscParitySpec extends SparkSpec {
  import spark.implicits._

  test("df.summary() (A7 literal form) emits the 8 standard statistics rows") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select($"l_quantity", $"l_extendedprice")
    val rows = li.summary().select($"summary").as[String].collect().toSeq
    assert(rows == Seq("count", "mean", "stddev", "min", "25%", "50%", "75%", "max"))
  }

  test("exact-math summaryStats agrees with df.summary() on count/min/max and mean") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val exact = Relational.summaryStats(spark, "/root/testdata/sf0.001").head()
    val s = li.select($"l_quantity").summary("count", "mean", "min", "max")
      .as[(String, String)].collect().toMap
    assert(s("count").toLong == exact.getAs[Long]("n"))
    assert(s("min").toDouble == exact.getAs[Double]("min_qty"))
    assert(s("max").toDouble == exact.getAs[Double]("max_qty"))
    assert(math.abs(s("mean").toDouble - exact.getAs[Double]("mean_qty")) < 1e-6)
  }

  test("engine sessions run with AQE enabled and the pinned UTC timezone") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.getOption("spark.serializer")
      .contains("org.apache.spark.serializer.KryoSerializer"))
    assert(spark.sparkContext.getCheckpointDir.isDefined)
    assert(spark.sql("SELECT graft_cents(CAST(1.25 AS DOUBLE))").head().getLong(0) == 125L)
  }

  test("na.drop any/all modes") {
    val df = Seq((Some(1), Some(2)), (None, Some(2)), (None: Option[Int], None: Option[Int]))
      .toDF("a", "b")
    assert(df.na.drop("any").count() == 1)
    assert(df.na.drop("all").count() == 2)
  }
}
