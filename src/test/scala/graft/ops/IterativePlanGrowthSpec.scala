package graft.ops

import graft.SparkSpec
import graft.plans.PlanGrowth
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine gate for the r14 iterative-plan-growth bug class (r14 verdict
  * item 2): `.cache()` truncates EXECUTION but not the LOGICAL plan, so a
  * loop whose round references its state frame k times grows the analyzed
  * plan k^n and turns driver-bound in Catalyst tree walks — invisible at
  * verify SF (too few rounds), 50× the cost at sf10 (connectedComponents:
  * 392 s pre-flatten, 11.8 s after; SCALE.md round 14). The bug lived
  * five rounds because nothing ASSERTED per-round plan size; this spec
  * drives every iterative operator for enough rounds to expose
  * super-linear growth and pins each loop's documented bound. The five
  * graph loops run through the round driver `Rounds.run`, which records
  * the frame each round hands forward; the BPE merge loop records its own:
  *
  *  - connectedComponents: FLAT (per-round `Rounds.flatten`) — the r14
  *    fix's regression guard; a revert turns the recorded sizes geometric
  *    and the flatness assert red (the last test demonstrates exactly
  *    that shape on an un-flattened twin of the loop).
  *  - pageRank fixed-K / pageRankConverged / labelPropagationSym: LINEAR
  *    (single state reference per round ⇒ constant per-round increment),
  *    pageRankConverged additionally RESET at its checkpoint-every-5
  *    cadence.
  *  - kHopReachability: bounded GEOMETRIC (~2×/round — two state
  *    references; executed side is cache-deduped, analyzed side grows)
  *    acceptable only because k is fixed at 3; the bound here is what
  *    forces a larger-k variant to adopt the flatten.
  */
class IterativePlanGrowthSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with a PlanGrowth listener attached; returns op →
    * [(round, analyzedNodeCount)] sorted by round. */
  private def capture(body: => Unit): Map[String, Seq[(Int, Int)]] = {
    val buf = scala.collection.mutable.Buffer.empty[(String, Int, Int)]
    PlanGrowth.listener = Some((op, r, n) => buf.synchronized { buf += ((op, r, n)) })
    try body
    finally PlanGrowth.listener = None
    buf.toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.map(t => (t._2, t._3)).sortBy(_._1) }
  }

  private def sizes(rec: Map[String, Seq[(Int, Int)]], op: String): Seq[Int] = {
    val s = rec.getOrElse(op, Nil)
    assert(s.map(_._1) == (1 to s.size), s"$op rounds not contiguous: $s")
    s.map(_._2)
  }

  test("connectedComponents hands a FLAT analyzed plan to every round (r14 regression guard)") {
    // 200-node path: ~8 pointer-jump rounds, crossing a checkpoint
    // boundary; localThreshold = 0 forces the distributed loop under test
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rec = capture {
      val comps = Similarity.connectedComponents(edges, localThreshold = 0L)
      comps.count()
      comps.unpersist() // released for real since the r15 ADVICE fix
    }
    val s = sizes(rec, "connectedComponents")
    assert(s.size >= 5, s"expected >=5 distributed rounds, got ${s.size}")
    // the frame each round hands forward is a LogicalRDD wrapper — its
    // analyzed plan must not grow AT ALL round over round
    assert(s.distinct.size == 1,
      s"connectedComponents per-round analyzed plan is not flat: $s — " +
        "the r14 LogicalRDD flatten (Similarity.scala) has regressed")
  }

  test("pageRank fixed-K and labelPropagationSym grow LINEARLY (single state reference)") {
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    val rec = capture {
      Graph.pageRank(sym, iters = 6, completeGraph = true).count()
      Graph.labelPropagationSym(
        sym.select(col("src"), col("dst")), iters = 4).count()
      // the BPE merge loop is the sixth loop-carried DataFrame state in
      // the repo (one withColumn(replace) per round over the cached
      // vocabulary) — same single-reference class, gated the same way
      Bpe.train(Seq(("abcdefgh",
        "|" + "abcdefgh".map(c => s"|$c|").mkString + "|", 2L))
        .toDF("word", "w", "cnt"), k = 4).count()
    }
    for (op <- Seq("pageRankFixedK", "labelPropagationSym", "bpeLearn")) {
      val s = sizes(rec, op)
      assert(s.size >= 4, s"$op: expected >=4 rounds, got ${s.size}")
      val diffs = s.sliding(2).map(p => p(1) - p(0)).toSeq
      // linear = constant per-round increment; a second state reference
      // would make the increment itself grow every round
      assert(diffs.distinct.size == 1 && diffs.head > 0,
        s"$op per-round analyzed-plan growth is not linear: sizes=$s diffs=$diffs")
    }
  }

  test("labelPropagationSym materializes a sub-unit source as ONE job, without AQE or codegen") {
    // the registered query's scope (Graph.atEdgeSourceWidth): sf0.01's
    // lineitem + orders are far below Tuning.SmallJobBytes, so Tuning plans
    // the loop without AQE re-planning between stages and without a fused
    // class per stage
    val dir = "/root/testdata/sf0.01"
    val sym = Graph.coSupplierSymTable(spark, dir) // built before counting
    val (labels, jobs) = jobsDuring(graft.Tuning.withSourceWidth(spark,
      Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet")) {
      Graph.labelPropagationSym(sym, iters = 3)
    })
    try {
      assert(jobs == 1, s"labelPropagationSym materialized in $jobs jobs")
      val cached = labels.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder.cachedPlan
      }
      assert(cached.isDefined, "labelPropagationSym returned an uncached frame")
      val plan = cached.get.treeString
      assert(plan.contains("Exchange"), plan)
      assert(!plan.contains("AdaptiveSparkPlan"), s"cached loop plan is adaptive:\n$plan")
      // the simple-string rendering marks whole-stage-codegen spans `*(n)`
      assert(!plan.contains("WholeStageCodegen") && !plan.contains("*("),
        s"cached loop plan has whole-stage codegen:\n$plan")
    } finally labels.unpersist()
  }

  test("a sub-unit scope materializes label propagation without compiling a class") {
    // Below Tuning.SmallJobBytes the scope's projections, predicates and
    // orderings are built interpreted, so Spark's 100-entry codegen cache
    // gets nothing from it. This case also pins the Spark behaviour that
    // rests on: the factory mode is read on every expression build, on the
    // driver and in the scope's tasks, outside test mode too. A literal no
    // earlier query used keeps a compiled class from being a cache hit;
    // node ids are non-negative, so the filter keeps every edge.
    val dir = "/root/testdata/sf0.01"
    val sym = Graph.coSupplierSymTable(spark, dir)
      .where(col("src") =!= lit(-1L - (System.nanoTime() & Long.MaxValue)))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val labels = graft.Tuning.withSourceWidth(spark,
      Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet")) {
      Graph.labelPropagationSym(sym, iters = 3)
    }
    try {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiled == 0, s"the sub-unit scope compiled $compiled classes")
      assert(labels.count() > 0)
    } finally labels.unpersist()
  }

  test("pageRankConverged grows linearly and RESETS at the checkpoint-every-5 cadence") {
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    // eps = 0 never fires (delta < 0 impossible) — runs all 8 rounds
    val rec = capture {
      val (ranks, iters) = Graph.pageRankConverged(sym, eps = 0L, maxIters = 8)
      assert(iters == 8)
      ranks.count()
    }
    val s = sizes(rec, "pageRankConverged")
    assert(s.size == 8)
    // rounds 5 is the checkpointed frame: a LogicalRDD leaf, smaller than
    // the accumulated round-4 plan — the reset that bounds the growth
    assert(s(4) < s(3),
      s"checkpoint round did not reset the analyzed plan: $s")
    // within each checkpoint span the increment is constant (linear)
    val spans = Seq(s.slice(0, 4), s.slice(4, 8))
    for (span <- spans; if span.size >= 3) {
      val diffs = span.sliding(2).map(p => p(1) - p(0)).toSeq
      assert(diffs.distinct.size == 1 && diffs.head > 0,
        s"pageRankConverged span growth not linear: sizes=$s span=$span")
    }
  }

  test("kHopReachability stays within the documented ~2x/round bound at fixed k = 3") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val rec = capture {
      val dist = Graph.kHopReachability(edges, seeds, k = 3)
      dist.count()
      dist.unpersist()
    }
    val s = sizes(rec, "kHopReachability")
    assert(s.size == 3)
    // two state references per round ⇒ analyzed plan ≈ doubles + a
    // constant number of per-round ops; acceptable ONLY at fixed small k
    // (the comment at kHopReachability documents the flatten obligation
    // for any larger-k variant)
    for (Seq(prev, next) <- s.sliding(2))
      assert(next <= 2 * prev + 60,
        s"kHopReachability round grew past the documented 2x bound: $s")
  }

  test("revert guard: the metric catches an UN-flattened pointer-jump loop (geometric growth)") {
    // A faithful twin of connectedComponents' round WITHOUT the r14
    // LogicalRDD flatten: the pointer-jump self-join references the
    // state frame twice, so the analyzed plan more than doubles per
    // round. This documents that the flatness assert above is load-
    // bearing — reverting the flatten makes plans grow exactly like
    // this, which that test then fails.
    val sym = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    var labels = sym.select(col("src").as("doc_id"))
      .distinct().withColumn("cluster", col("doc_id")).cache()
    val grown = scala.collection.mutable.Buffer.empty[Int]
    for (_ <- 1 to 4) {
      val neighborMin = sym.join(labels, sym("dst") === labels("doc_id"))
        .groupBy(sym("src").as("doc_id"))
        .agg(min(col("cluster")).as("nbr_min"))
      val prop = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
      val jumped = prop.as("c").join(prop.as("p"), col("c.cluster") === col("p.doc_id"))
        .select(col("c.doc_id").as("doc_id"),
          least(col("c.cluster"), col("p.cluster")).as("cluster"))
        .cache()
      grown += PlanGrowth.analyzedNodeCount(jumped)
      labels.unpersist()
      labels = jumped
    }
    labels.unpersist()
    assert(grown(3) > 3 * grown(2),
      s"un-flattened loop should grow geometrically: $grown")
    assert(grown(3) > 8 * grown(0),
      s"un-flattened loop should dwarf round 1 by round 4: $grown")
  }
}
