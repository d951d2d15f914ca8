package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verified operator: a Spark DataFrame builder plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB SQL string the driver runs
  * as the correctness oracle (SURVEY §5.1).
  *
  * Oracle-parity rules used across the engine (hard-won, see SURVEY §7.4):
  *  - Column names must match between the Spark result and the SQL — every
  *    computed column is aliased identically on both sides.
  *  - Floating outputs are derived from integer-exact aggregates (sums over
  *    cents as BIGINT) wherever possible, so both engines produce
  *    bit-identical doubles regardless of per-partition summation order.
  *  - Remaining order-dependent aggregates (averages over doubles) are
  *    rounded to 6 decimals on both sides.
  *  - Timestamps in outputs are formatted to strings or cast to epoch
  *    integers to dodge parquet physical-type mismatches.
  *
  * The frame `build` returns may be cached: operators hand their results
  * through `graft.ops.Rounds.keep`, which releases their working caches
  * and leaves the result to its reader. The runner that reads a query's
  * frame owns it and releases it after its action: `Verify` clears the
  * session's cache after each query's write, `Bench` before each
  * iteration.
  */
final case class VerifiedQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    contract: Option[OracleContract] = None,
    rowsOnly: Option[RowsOnlyContract] = None,
)

/** SF-validity annotation for an oracle that is exact only while a
  * count-adaptive schedule coincides with the fixed gadget its SQL was
  * pinned to (r14 verdict item 3). The adaptive ANN family sizes its key
  * width / query batch from the corpus count; the registered DuckDB SQL is
  * the FIXED gadget's, valid exactly while `count(table) <= maxRows`.
  * Above that the engine's output departs BY DESIGN (a wider key is a
  * different hash family — the scale adaptation the query exists for), so
  * an epoch checker must report a mismatch there as "by contract", not
  * FAIL. Previously this lived as COVERAGE.md prose and the sf1 epoch
  * printed 2 unexplained FAIL lines; now Verify dumps it machine-readable
  * (`oracle_contracts.json`) and tools/check_oracle.py self-reports. */
final case class OracleContract(table: String, maxRows: Long, reason: String)

/** Machine-readable contract for a query registered WITHOUT a DuckDB
  * oracle (r16 verdict item 4). The 12 rows-only queries were previously
  * documented in COVERAGE.md prose only — an epoch checker could not
  * self-report them, so a silent regression in one's output shape would
  * surface in scalatest but never in the oracle artifact. Each contract
  * states, checkable by tools/check_oracle.py against the dumped parquet:
  *
  *  - `reason`: why no SQL oracle can exist (learned floats, engine
  *    seeds, layout-dependent sampling, sketch internals);
  *  - `columns`: the exact output column set (shape regression gate);
  *  - `minRows` and the optional DuckDB scalar queries `exactRowsSql` /
  *    `maxRowsSql`: the row-count invariant, expressed against the same
  *    corpus tables the oracles use so it holds at every SF;
  *  - `twin`: the hash-green deterministic twin in the same registry
  *    carrying the semantics (the checker requires the twin to be
  *    oracle-exact in the SAME run);
  *  - `test`: the scalatest suite pinning the property an oracle can't.
  */
final case class RowsOnlyContract(
    reason: String,
    columns: Seq[String],
    test: String,
    twin: Option[String] = None,
    minRows: Long = 1L,
    exactRowsSql: Option[String] = None,
    maxRowsSql: Option[String] = None,
)

object VerifiedQuery {
  /** Registry helper: turn a module's query list into the SparkEntry maps. */
  def toQueryMap(qs: Seq[VerifiedQuery]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.build).toMap
  def toOracleMap(qs: Seq[VerifiedQuery]): Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
  def toContractMap(qs: Seq[VerifiedQuery]): Map[String, OracleContract] =
    qs.flatMap(q => q.contract.map(q.name -> _)).toMap
  def toRowsOnlyMap(qs: Seq[VerifiedQuery]): Map[String, RowsOnlyContract] =
    qs.flatMap(q => q.rowsOnly.map(q.name -> _)).toMap
}
