package graft.ops

import graft.SparkSpec
import graft.plans.PlanGrowth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** The round driver `Rounds.run` on tiny synthetic steps (a counter column
  * that every round increments), and the cache hygiene of `Rounds.keep` on
  * the graph loops and the operators that release through it. */
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
      "connectedComponents" -> (() => Similarity.connectedComponents(path, localThreshold = 0L)),
      "triangleCounts" -> (() => Graph.triangleCounts(
        Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("u", "v"))))
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

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The cached RDDs that `df`'s plan reads. */
  private def readBy(df: DataFrame): Set[Int] =
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.toSet

  test("each query over a kept result leaves at most one cached RDD, one its frame reads") {
    val dir = "/root/testdata/sf0.001"
    val touched = Seq("q_bpe_encode", "q_wordpiece", "q_entity_match", "q_winsorize",
      "q_mad_outliers", "q_quantile_bucket", "q_quantile_sketch", "q_triangle_count",
      "q_pagerank", "q_pagerank_conv", "q_label_prop", "q_khop_bfs", "q_minhash_dedup",
      "q_minhash_det_dedup", "q_minhash_det_transitive", "q_minhash_det_transitive_dist",
      "q_neardup_survivor", "q_simhash_dedup", "q_simhash_det_dedup", "q_dedup_clusters",
      "q_split_leakage", "q_llm_pipeline", "q_cosine_neardup_transitive")
    spark.catalog.clearCache()
    val before = persistent
    for (name <- touched) {
      val out = graft.SparkEntry.queries(name)(spark, dir)
      val grown = persistent -- before
      assert(grown.size <= 1, s"$name left ${grown.size} cached RDDs")
      assert(grown.subsetOf(readBy(out)), s"$name left a cache its frame does not read")
      out.count()
      spark.catalog.clearCache() // the reader's release, as Verify's
      assert(persistent == before, s"$name left a cache outside the session's cache manager")
    }
  }

  test("keep releases its working frames and its result when the count throws") {
    val before = persistent
    val working = counter.cache()
    working.count()
    val boom = udf((v: Long) => { if (v >= 0L) throw new IllegalStateException("boom"); v })
    val e = intercept[Exception](Rounds.keep(working.select(boom(col("v")).as("v")), working))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    assert(persistent == before, s"left ${persistent -- before} cached")
  }

  test("a candidate scope releases its signature cache when its use returns") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "THE QUICK brown fox jumps over the lazy dog near the river bank"),
      (3L, "an entirely different sentence about something else altogether")).toDF("doc_id", "text")
    val before = persistent
    val counts = Seq(
      Similarity.minhashDetCandidates(docs)(_.count()),
      Similarity.minhashCandidates(docs)(_.count()),
      Similarity.simhashCandidates(docs)(_.count()),
      Similarity.simhashDetCandidates(docs)(_.count()))
    assert(counts == Seq(1L, 1L, 1L, 1L), s"candidate pairs $counts")
    assert(persistent == before, s"left ${persistent -- before} cached")
  }
}
