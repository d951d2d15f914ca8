package graft.functions

import graft.plans.Cents
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.internal.SQLConf

/** Typed custom aggregate (the `Aggregator[IN, BUF, OUT]` extension path,
  * SURVEY §7.3): exact money summation — doubles in, integer cents as the
  * merge buffer, double out. The long buffer makes the aggregation exact
  * and ASSOCIATIVE, so the result is identical under any partitioning /
  * merge order — the property the engine's oracle parity is built on,
  * here packaged as a reusable aggregate instead of inline cents math.
  *
  * Each value is rounded by [[graft.plans.Cents]], the same rule as the
  * engine's `graft_cents` (half away from zero, so a negative tie such as
  * -12.5 cents gives -13), under the running session's ANSI mode.
  *
  * Register with `functions.udaf(ExactMoneySum)` and use like any
  * aggregate column.
  */
object ExactMoneySum extends Aggregator[Double, Long, Double] {
  override def zero: Long = 0L
  override def reduce(buf: Long, value: Double): Long =
    buf + Cents.of(value, SQLConf.get.ansiEnabled)
  override def merge(a: Long, b: Long): Long = a + b
  override def finish(cents: Long): Double = cents / 100.0
  override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
