package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator family registers a [[VerifiedQuery]] in one of
  * the module registries below; `queries`/`oracleSql` are assembled from
  * them so the Spark build and its DuckDB oracle always stay colocated and
  * alias-consistent.
  */
object SparkEntry {

  private def registry: Seq[VerifiedQuery] =
    ops.Relational.all ++ ops.Etl.all ++ ops.Ml.all ++
      ops.LlmData.all ++ ops.Similarity.all ++ ops.Multimodal.all ++
      ops.Funcs.all ++ ops.Scale.all ++ ops.AsOf.all ++ ops.Sources.all ++
      ops.Sketches.all ++ ops.Graph.all ++ ops.Entity.all ++ ops.Analytics.all ++
      ops.Bpe.all ++ ops.Robust.all ++ ops.Url.all ++ ops.Reconcile.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.histRate(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    VerifiedQuery.toQueryMap(registry)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    VerifiedQuery.toOracleMap(registry)

  /** SF-validity contracts for oracles pinned to a fixed gadget that a
    * count-adaptive schedule only coincides with below a corpus-size
    * bound — machine-readable so epoch checkers above the verify SF
    * self-report "by contract" instead of FAIL (r14 verdict item 3).
    * Dumped by [[Verify]] as `oracle_contracts.json`. */
  def oracleContracts: Map[String, OracleContract] =
    VerifiedQuery.toContractMap(registry)

  /** Machine-readable contracts for the rows-only queries (r16 verdict
    * item 4) — dumped by [[Verify]] as `rows_only_contracts.json` so
    * tools/check_oracle.py can self-report "N exact, 12 by-contract"
    * with zero prose lookups. RowsOnlyContractSpec pins that this map
    * covers EXACTLY the no-oracle registrations. */
  def rowsOnlyContracts: Map[String, RowsOnlyContract] =
    VerifiedQuery.toRowsOnlyMap(registry)
}
