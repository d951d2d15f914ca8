package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Fixtures, Tables, VerifiedQuery}
import graft.functions.cents

/** Additional source/sink formats beyond parquet/CSV: JSON-lines and ORC
  * round-trips, each verified by reading back and aggregating against the
  * origin table's oracle. Explicit schemas on read (no inference pass —
  * at 100 TB schema inference is a full extra scan of the corpus).
  */
object Sources {

  /** JSON-lines sink + explicit-schema scan round-trip over a supplier
    * projection. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = Fixtures.path("json", dir)
    Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_name", $"s_nationkey",
        cents($"s_acctbal").as("bal_c"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("bal_c", LongType)))
    spark.read.schema(schema).json(path)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n"),
        (sum($"bal_c") / lit(100.0)).as("sum_bal"),
        min($"s_name").as("first_name"))
  }

  private val jsonRoundtripSql =
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(s_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_bal,
      |  MIN(s_name) AS first_name
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  /** ORC sink + scan round-trip over a part projection. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = Fixtures.path("orc", dir)
    Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand", cents($"p_retailprice").as("price_c"))
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        (sum($"price_c") / lit(100.0)).as("sum_price"))
  }

  private val orcRoundtripSql =
    """SELECT p_brand, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(p_retailprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
      |FROM part GROUP BY p_brand""".stripMargin

  /** CSV sink + explicit-schema scan round-trip over a customer
    * projection (header on; money through integer cents so the text
    * round-trip is lossless — raw doubles through CSV text would be a
    * formatting gamble). Completes the sink matrix: parquet
    * (`q_parquet_sink`), JSON-lines, ORC, CSV. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = Fixtures.path("csv", dir)
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_nationkey",
        cents($"c_acctbal").as("bal_c"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_mktsegment", StringType),
      StructField("c_nationkey", IntegerType), StructField("bal_c", LongType)))
    spark.read.schema(schema).option("header", "true").csv(path)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum($"bal_c") / lit(100.0)).as("sum_bal"),
        min($"c_custkey").as("min_key"), max($"c_custkey").as("max_key"))
  }

  private val csvRoundtripSql =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_bal,
      |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** Parquet schema evolution — the data-lake reality that a column added
    * mid-history must read back across old and new files: batch 1 writes
    * (key, price); batch 2 adds `o_orderstatus`; a `mergeSchema` read
    * unifies the footers and old rows surface the new column as NULL. The
    * aggregate pins exactly which rows carry the evolved column. At scale
    * `mergeSchema` costs one footer read per file — fine for a controlled
    * evolution, not for thousand-schema data swamps (the scaladoc'd
    * trade: production tables pin the schema in a catalog and evolve it
    * explicitly). */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = Fixtures.path("evo", dir)
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus",
        cents($"o_totalprice").as("price_c"))
    base.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"price_c") // v1 schema: no status column
      .write.mode("overwrite").parquet(s"$path/v=1")
    base.filter($"o_orderkey" % 2 =!= 0)
      .select($"o_orderkey", $"price_c", $"o_orderstatus") // v2 adds status
      .write.mode("overwrite").parquet(s"$path/v=2")
    // group on the PARTITION column v (which file generation a row came
    // from) plus the raw status — coalescing NULL status into a
    // "pre-evolution" label would conflate genuinely-NULL v2 statuses
    // with old-schema rows; v keeps the two distinguishable exactly
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy($"v", $"o_orderstatus".as("status"))
      .agg(count(lit(1)).as("n"),
        (sum($"price_c") / lit(100.0)).as("sum_price"),
        min($"o_orderkey").as("min_key"))
  }

  private val schemaEvolutionSql =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS v,
      |  CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  MIN(o_orderkey) AS min_key
      |FROM orders GROUP BY 1, 2""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)),
    VerifiedQuery("q_orc_roundtrip", orcRoundtrip, Some(orcRoundtripSql)),
    VerifiedQuery("q_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    VerifiedQuery("q_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
  )
}
