package graft.plans

import org.apache.spark.sql.DataFrame

/** Test-only observation seam for the r14 iterative-plan-growth bug class.
  *
  * Background (SCALE.md round 14): `.cache()` truncates EXECUTION but not
  * the LOGICAL plan, so a loop whose round references its state frame k
  * times grows the analyzed plan k^n and turns the loop driver-bound in
  * Catalyst tree walks — invisible at verify SF (few rounds), 50× the cost
  * at sf10 (connectedComponents: 392 s pre-flatten, 11.8 s after). The
  * fix class is per-round plan flattening (LogicalRDD leaf) or a bounded
  * checkpoint cadence; this hook is the machine GUARD that the invariant
  * holds for every iterative operator, forever (r14 verdict item 2).
  *
  * The round driver `graft.ops.Rounds.run` calls [[record]] once per
  * round of every graph loop with the frame it hands to the next round;
  * the BPE merge loop, which stays outside the driver, calls it itself.
  * In production `listener` is `None` and the call is a volatile read +
  * `Option.foreach` on an empty option — the analyzed plan is NOT touched
  * (plan analysis stays as lazy as the loop left it).
  * `IterativePlanGrowthSpec` registers a listener, drives each loop for
  * enough rounds to expose super-linear growth, and asserts the per-round
  * analyzed-plan node count stays within each loop's documented bound
  * (flat for flattened loops, linear-with-checkpoint-reset or
  * bounded-geometric-small-K otherwise).
  */
object PlanGrowth {

  /** (operator name, 1-based round, analyzed-plan node count). */
  @volatile private[graft] var listener: Option[(String, Int, Int) => Unit] = None

  /** Count of nodes in the analyzed logical plan (TreeNode.collect walks
    * the whole tree). Only evaluated when a listener is registered. */
  private[graft] def analyzedNodeCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  private[graft] def record(op: String, round: Int, df: DataFrame): Unit =
    listener.foreach(f => f(op, round, analyzedNodeCount(df)))
}
