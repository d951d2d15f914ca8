package graft.ops

import org.apache.spark.sql.DataFrame

/** The state cadence of the convergence loops
  * ([[Similarity.connectedComponents]], [[Graph.pageRankConverged]]). */
private[ops] object Rounds {

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
