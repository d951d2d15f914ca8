package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native integer cents: `graft_cents(x)` is bit-for-bit
  * `CAST(round(x * 100) AS BIGINT)` over a `double` column — the one rule
  * the engine's exact money math (and its DuckDB oracles) is built on.
  *
  * Why native (measured): Spark compiles `round` on a double to
  * `java.math.BigDecimal.valueOf(v).setScale(0, HALF_UP)` per row, i.e. a
  * `Double.toString` plus a BigDecimal for every money value. Replacing
  * it took `q_pricing_summary` (three cents columns over 6M sf1 lineitem
  * rows) from a 2.03 s to a 1.25 s median on a 4-core VM
  * (perfbench `scan_sf1`, 10 runs per side).
  *
  * Exactness of the fast path: for a finite `v = x * 100.0` (the same IEEE
  * multiply) with `|v| < 2^52`, `floor(|v|)` plus one when the fraction is
  * at least 0.5, sign restored, is what BigDecimal's HALF_UP gives.
  * `Double.toString(v)` is a decimal that reads back as `v`, and every
  * `n + 0.5` below 2^52 is itself a double, so that decimal lies on the
  * same side of each tie as `v` does (and equals it on a tie). NaN, ±Inf
  * and `|v| >= 2^52` go through Spark's own `Round` and `Cast`, so the
  * saturating cast and the ANSI overflow error are Spark's.
  *
  * Only `double` input is accepted; anything else fails analysis rather
  * than taking a second, implicitly cast path. `ansiEnabled` is captured
  * when the function is resolved, as `Cast` does with its eval mode.
  * NativeExprPropertySpec fuzzes it against the composed form, ANSI on
  * and off.
  */
case class Cents(child: Expression, ansiEnabled: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_cents requires a double input, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cents"
  // plans print graft_cents(x), as Cast prints no eval mode
  override def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(v: Any): Any =
    Cents.of(v.asInstanceOf[Double], ansiEnabled)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Cents.of($c, $ansiEnabled)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Cents {
  private val TwoTo52 = 4503599627370496.0

  /** `CAST(round(x * 100) AS BIGINT)` under the given ANSI mode. */
  def of(x: Double, ansiEnabled: Boolean): Long = {
    val v = x * 100.0
    val a = math.abs(v)
    if (a < TwoTo52) { // false for NaN
      val f = math.floor(a)
      val r = f.toLong + (if (a - f >= 0.5) 1L else 0L)
      if (v < 0) -r else r
    } else sparkRule(v, ansiEnabled)
  }

  private def sparkRule(v: Double, ansiEnabled: Boolean): Long =
    Cast(Round(Literal(v), Literal(0)), LongType,
      evalMode = if (ansiEnabled) EvalMode.ANSI else EvalMode.LEGACY)
      .eval().asInstanceOf[Long]
}
