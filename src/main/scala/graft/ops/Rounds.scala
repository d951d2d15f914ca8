package graft.ops

import org.apache.spark.sql.{DataFrame, GraftDatasets}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

/** The one round driver of the iterative graph loops
  * ([[Graph.pageRank]], [[Graph.pageRankConverged]],
  * [[Graph.labelPropagationSym]], [[Graph.kHopReachability]],
  * [[Similarity.connectedComponents]]): Pregel-style supersteps, a
  * per-round step plus a stop rule. [[run]] owns the round counter and
  * `PlanGrowth.record`, the [[hold]] cadence, the convergence probes and
  * the round cap. Each loop keeps only its step, its stop rule and its own
  * inputs.
  *
  * [[keep]] is the engine's one materialize-then-release rule: every
  * operator that caches working frames (the loops' rounds, the histogram
  * and signature caches of the analytics and dedup operators) hands its
  * small result and those frames to it, and gets the result back cached
  * and owned by the caller. */
private[ops] object Rounds {

  /** How a loop stops: at the latest after `cap` rounds. */
  sealed abstract class Stop(val cap: Int)

  /** Exactly `rounds` rounds. The state is not held between rounds, so the
    * loop stays one lazy lineage and materializes in one job; a step that
    * reads its state more than once caches its own output. */
  final case class Fixed(rounds: Int) extends Stop(rounds)

  /** Until a round passes its probe, at most `cap` rounds. Every round is
    * held ([[hold]]). Every `every` rounds, and at the cap, one job checks
    * all pending rounds, oldest first: `passed(prev, cur)` is a one-row
    * frame whose one boolean column says whether `cur` converged. The first
    * round that passes wins; later rounds were overshoot. A loop that
    * reaches the cap unconverged throws `IllegalStateException` when
    * `failAtCap`, or else returns the cap's state. */
  final case class Probe(every: Int, override val cap: Int, failAtCap: Boolean)(
      val passed: (DataFrame, DataFrame) => DataFrame) extends Stop(cap) {
    require(every >= 1, s"probe cadence must be >= 1, got $every") // 0 divides by zero
  }

  /** Runs `step(state, round)` (`round` 1-based) from `init` until `stop`
    * and returns the result with the number of rounds it took. The result
    * goes through [[keep]] with every earlier round's frame (`init`
    * included) and every `working` frame. */
  def run(op: String, init: DataFrame, stop: Stop, working: DataFrame*)
         (step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    val (cap, probe) = (stop.cap, Some(stop).collect { case p: Probe => p })
    val frames = scala.collection.mutable.ArrayBuffer(init) // frames(i): round i
    var probed = 0
    var winner: Option[Int] = None
    while (winner.isEmpty && frames.size <= cap) {
      val round = frames.size
      val stepped = step(frames.last, round)
      val next = if (probe.isDefined) hold(stepped, round) else stepped
      graft.plans.PlanGrowth.record(op, round, next)
      frames += next
      probe.foreach { p =>
        if (round % p.every == 0 || round == cap) {
          winner = firstPassing(p, frames, probed + 1, round)
          probed = round
        }
      }
    }
    val done = winner.getOrElse(cap)
    val result = frames(done)
    if (winner.isEmpty && probe.exists(_.failAtCap)) {
      release(frames ++ working)
      throw new IllegalStateException(
        s"$op did not converge in $cap rounds: its state at the cap is not a fixpoint")
    }
    (keep(result, (frames ++ working).toSeq: _*), done)
  }

  /** `result`, cached (unless it already has a storage level) and counted,
    * after which every `working` frame other than `result` is unpersisted.
    * The count comes first because a cache that reads a released one and
    * has not loaded its buffers would be recomputed from lineage without
    * it. The release runs even when the count throws, and then `result` is
    * unpersisted too before the error propagates, so a failed operator
    * leaves nothing cached. The returned frame is cached and owned by the
    * caller: unpersist it, or clear the session's cache, once it has been
    * read. This is the pairing of every `cache()` with an `unpersist()`
    * that a session running many queries needs: a working cache left
    * pinned lives until the process exits. */
  def keep(result: DataFrame, working: DataFrame*): DataFrame = {
    if (result.storageLevel == StorageLevel.NONE) result.cache()
    try result.count()
    catch { case e: Throwable => result.unpersist(); throw e }
    finally release(working.filterNot(_ eq result))
    result
  }

  /** The first of rounds `from..to` whose probe passes: one job for all. */
  private def firstPassing(p: Probe, frames: collection.Seq[DataFrame], from: Int, to: Int): Option[Int] = {
    val passed = (from to to).map(i => p.passed(frames(i - 1), frames(i))
        .select(lit(i), col("*")).toDF("round", "passed"))
      .reduce(_.unionByName(_)).collect()
      .map(r => r.getInt(0) -> (!r.isNullAt(1) && r.getBoolean(1))).toMap
    (from to to).find(passed)
  }

  private def release(frames: collection.Seq[DataFrame]): Unit =
    frames.foreach(f => if (f.storageLevel != StorageLevel.NONE) f.unpersist())

  /** `df` re-rooted on a one-node plan (a `LogicalRDD` leaf) with the same
    * rows and output partitioning. A step that reads its state several
    * times per round flattens it: `.cache()` truncates execution but not
    * the analyzed plan, which would otherwise grow by that factor every
    * round (the r14 growth class). */
  def flatten(df: DataFrame): DataFrame = GraftDatasets.flatten(df)

  /** Rounds between lineage truncations: plan and RDD lineage never grow
    * past this many rounds' worth, so per-round analysis stays flat. */
  val CheckpointEvery = 5

  /** Holds round `round`'s (1-based) state for the next round. Every
    * [[CheckpointEvery]]th round is checkpointed, the others cached. With a
    * session checkpoint dir (`GraftSession` sets one) the checkpoint is
    * RELIABLE: the frame is cached first, because the checkpoint write is
    * a second job that would otherwise recompute the round from lineage,
    * and the cache is dropped once the files hold the data; a lost
    * executor re-reads them. Without a dir it falls back to
    * `localCheckpoint`, which truncates lineage but keeps blocks only on
    * executors, so an executor loss then fails the job. On a real
    * cluster, always set a checkpoint dir. */
  def hold(state: DataFrame, round: Int): DataFrame =
    if (round % CheckpointEvery != 0) state.cache()
    else if (state.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      state.cache()
      val cp = state.checkpoint(true)
      state.unpersist()
      cp
    } else state.localCheckpoint(true)
}
