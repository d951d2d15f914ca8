package graft.ops

import graft.SparkSpec
import graft.plans.PlanGrowth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The round driver `Rounds.run` on tiny synthetic steps (a counter column
  * that every round increments), and its cache hygiene on the five graph
  * loops that run through it. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def counter: DataFrame = Seq(1L, 2L, 3L).toDF("id").withColumn("v", lit(0L))

  private def inc(state: DataFrame, round: Int): DataFrame =
    state.select(col("id"), (col("v") + 1).as("v"))

  private def valueOf(df: DataFrame): Long = df.agg(max(col("v"))).head().getLong(0)

  /** A probe that passes once the counter reaches `at`, recording every
    * round it was asked about. */
  private def reaches(at: Long, every: Int, cap: Int, failAtCap: Boolean,
                      asked: collection.mutable.Buffer[Long]): Rounds.Probe =
    Rounds.Probe(every, cap, failAtCap) { (_, cur) =>
      asked += valueOf(cur)
      cur.agg((max(col("v")) >= at).as("passed"))
    }

  /** `body`'s rounds as recorded by PlanGrowth for `op`. */
  private def recorded(op: String)(body: => Unit): Seq[Int] = {
    val rounds = collection.mutable.Buffer.empty[Int]
    PlanGrowth.listener = Some((o, r, _) => if (o == op) rounds.synchronized { rounds += r })
    try body
    finally PlanGrowth.listener = None
    rounds.toSeq
  }

  test("Fixed(k) runs exactly k rounds and records k contiguous rounds") {
    var out: (DataFrame, Int) = null
    val rounds = recorded("fixedSpec") {
      out = Rounds.run("fixedSpec", counter, Rounds.Fixed(4))(inc)
    }
    assert(rounds == (1 to 4))
    assert(out._2 == 4 && valueOf(out._1) == 4L)
    out._1.unpersist()
  }

  test("a probe at every = 2 returns the first passing odd round, not the overshoot") {
    val asked = collection.mutable.Buffer.empty[Long]
    var out: (DataFrame, Int) = null
    val rounds = recorded("probeSpec") {
      out = Rounds.run("probeSpec", counter,
        reaches(3L, every = 2, cap = 10, failAtCap = true, asked))(inc)
    }
    assert(out._2 == 3 && valueOf(out._1) == 3L, s"returned round ${out._2}")
    // rounds 1-2 probed at round 2, rounds 3-4 at round 4: 4 is overshoot
    assert(rounds == (1 to 4) && asked == Seq(1L, 2L, 3L, 4L), s"$rounds $asked")
    out._1.unpersist()
  }

  test("a cap that is not a multiple of every still probes its tail") {
    val asked = collection.mutable.Buffer.empty[Long]
    val (df, n) = Rounds.run("tailSpec", counter,
      reaches(5L, every = 2, cap = 5, failAtCap = true, asked))(inc)
    assert(n == 5 && valueOf(df) == 5L)
    assert(asked == Seq(1L, 2L, 3L, 4L, 5L), s"probed $asked")
    df.unpersist()
  }

  test("at the cap a failing contract throws naming the op; a returning one returns the cap") {
    val never = collection.mutable.Buffer.empty[Long]
    val e = intercept[IllegalStateException] {
      Rounds.run("capSpec", counter,
        reaches(99L, every = 2, cap = 3, failAtCap = true, never))(inc)
    }
    assert(e.getMessage.contains("capSpec"), e.getMessage)
    val (df, n) = Rounds.run("capSpec", counter,
      reaches(99L, every = 2, cap = 3, failAtCap = false, never))(inc)
    assert(n == 3 && valueOf(df) == 3L)
    df.unpersist()
  }

  test("a checkpoint round hands the next round a LogicalRDD leaf written to the checkpoint dir") {
    val dir = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Int = {
      val it = fs.listFiles(dir, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val before = files()
    var seenAt6: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = None
    // every = 5: round 5 is both a probe round and a checkpoint round
    val (df, n) = Rounds.run("checkpointSpec", counter,
      Rounds.Probe(5, 6, failAtCap = false)((_, cur) => cur.agg(lit(false).as("passed")))) {
      (state, round) =>
        if (round == 6) seenAt6 = Some(state.queryExecution.analyzed)
        inc(state, round)
    }
    assert(n == 6 && valueOf(df) == 6L)
    assert(seenAt6.exists(_.isInstanceOf[LogicalRDD]), s"round 6 read ${seenAt6.map(_.treeString)}")
    assert(files() > before, s"no checkpoint files under $dir")
    df.unpersist()
  }

  test("each graph loop leaves exactly one cached RDD behind: the frame it returns") {
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(sym, iters = 3)),
      "pageRankConverged" -> (() => Graph.pageRankConverged(sym, eps = 5000L, maxIters = 30)._1),
      "labelPropagationSym" -> (() => Graph.labelPropagationSym(sym, iters = 3)),
      "kHopReachability" -> (() => Graph.kHopReachability(sym, Seq(1L).toDF("node"), k = 3)),
      "connectedComponents" -> (() => Similarity.connectedComponents(path, localThreshold = 0L)))
    for ((name, loop) <- loops) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = loop()
      val grown = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(grown.size == 1, s"$name left ${grown.size} cached RDDs")
      out.unpersist()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$name's returned frame did not hold the one cached RDD")
    }
  }
}
