package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a frame's full output, computed in one
  * pass that evaluates every column — a `count()` lets Catalyst prune the
  * projection list, so Bench times queries through this and compares it
  * across iterations (`SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01
  * SPARK_GRAFT_BENCH_ITERS=2 sbt "runMain graft.Bench"`). */
object Fingerprint {

  /** (xor, wrap-around sum, rows) of per-row xxhash64 over the full struct.
    * xor+count alone lets paired row differences cancel ({A,A,B} vs {C,C,B}
    * share both); the sum removes that cancellation class at no extra
    * cost. The sum is mod 2^64: a plain sum(h) of arbitrary longs overflows
    * under ANSI mode, aborting the job, so the 32-bit halves are summed
    * separately (each fits a long below 2^31 rows) and recombined on the
    * driver, where long arithmetic wraps by definition.
    *
    * Output types xxhash64 rejects at analysis time (maps; a UDT such as
    * VectorUDT is hashed through its sqlType) are still fully evaluated,
    * row by row, and fingerprint as (0, 0, rows). Runtime failures
    * propagate. Column names are quoted, so a dotted or backticked output
    * name resolves as itself rather than as a struct field. */
  def apply(df: DataFrame): (Long, Long, Long) = {
    val hashed =
      try Some(df.select(xxhash64(struct(df.columns.toIndexedSeq.map(quoted): _*)).as("h")))
      catch { case _: AnalysisException => None }
    hashed match {
      case Some(h) =>
        val row = h
          .agg(expr("bit_xor(h)").as("x"),
            expr("sum(h & 4294967295)").as("slo"),
            expr("sum(shiftright(h, 32))").as("shi"),
            count(lit(1)).as("n"))
          .head()
        val s = if (row.isNullAt(1)) 0L else (row.getLong(2) << 32) + row.getLong(1)
        (if (row.isNullAt(0)) 0L else row.getLong(0), s, row.getLong(3))
      case None =>
        val rows = df.sparkSession.sparkContext.longAccumulator("fingerprint rows")
        df.foreach(_ => rows.add(1))
        (0L, 0L, rows.value)
    }
  }

  private def quoted(name: String) = col("`" + name.replace("`", "``") + "`")
}
