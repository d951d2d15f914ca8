package graft.ops

import graft.SparkSpec

/** Scale-shape assertions: the physical plans the 100 TB design depends on
  * (SURVEY §4) — what gets broadcast, what pushes into the scan — checked
  * at sf0.001 where plan shape is identical to production shape.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("joinMulti hints broadcast ONLY for nation+region, never customer (scale-killer fix)") {
    // The explicit broadcast() hint is what would OOM at 100 TB (customer
    // scales with the data). Auto-broadcast chosen by size stats at tiny SF
    // is fine — it's size-aware and won't fire at scale — so assert on the
    // HINTS in the logical plan, not the physical join strategy.
    val plan = Relational.joinMulti(spark, dir).queryExecution.analyzed.toString
    val hints = "ResolvedHint \\(strategy=broadcast\\)".r.findAllIn(plan).size
    assert(hints == 2, s"expected exactly 2 broadcast hints (nation, region), got $hints:\n$plan")
    // and neither hint wraps the customer relation (hints sit directly on
    // the nation/region relations in the analyzed plan)
    val hintedCustomer = "(?s)ResolvedHint \\(strategy=broadcast\\)\\s*\\n\\s*\\+?:?- Relation \\[c_custkey".r
      .findFirstIn(plan)
    assert(hintedCustomer.isEmpty, s"customer is broadcast-hinted:\n$plan")
  }

  test("projFilter pushes the raw date-range predicate into the parquet scan") {
    val plan = Relational.projFilter(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate") || plan.contains("GreaterThanOrEqual(`o_orderdate`"),
      s"date lower bound not pushed:\n$plan")
  }

  test("topK plans as TakeOrderedAndProject (no global sort)") {
    val plan = Relational.topK(spark, dir).queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("broadcastFill keeps the fact side shuffle-free for the dimension join") {
    val plan = Relational.broadcastFill(spark, dir).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("pricingSummary scan prunes to the referenced columns only") {
    val plan = Relational.pricingSummary(spark, dir).queryExecution.executedPlan.toString
    // ReadSchema must not include unreferenced wide columns
    assert(!plan.contains("l_partkey") && !plan.contains("l_suppkey"),
      s"column pruning failed:\n$plan")
  }

  test("bucketed fact-fact join plans with NO exchange on either side") {
    import org.apache.spark.sql.functions.col
    val (liName, ordName) = Scale.ensureBucketedTables(spark, dir)
    val joined = spark.table(liName)
      .join(spark.table(ordName), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("saltedAgg is a two-phase aggregate: partial on (key, salt), final on key") {
    val plan = Scale.saltedAgg(spark, dir).queryExecution.optimizedPlan.toString
    assert(plan.contains("salt"), plan)
    // two nested Aggregates in the logical plan (salted partial + final)
    val aggs = "Aggregate \\[".r.findAllIn(plan).size
    assert(aggs == 2, s"expected 2 aggregate levels, got $aggs:\n$plan")
  }

  test("asofJoin itself costs one keyed exchange and never a product join") {
    val plan = AsOf.asofQuery(spark, dir).queryExecution.executedPlan.toString
    // the as-of composition = union feeding ONE window exchange on the key
    // alone; the other exchange in this query is the right side's
    // uniqueness pre-aggregation on (k, d), which is input prep, not as-of
    val windowExchanges = "Exchange hashpartitioning\\(k#\\d+L?, \\d+\\)".r.findAllIn(plan).size
    assert(windowExchanges == 1, s"expected 1 single-key window exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin"), s"as-of planned as a join, not a window:\n$plan")
  }

  test("skewJoin: AQE splits the hot partition (skew=true on the sort-merge join)") {
    // production thresholds (256 MB) never fire at test SF — shrink them so
    // the 80%-hot-key partition exceeds factor × median and gets split.
    // The mapper count matters too: AQE splits a skewed reducer partition
    // along MAPPER boundaries, and the single-row-group test parquet scans
    // as ONE indivisible mapper — write a 16-file copy first so the scan
    // has the many-mapper shape every cluster scan has.
    val overrides = Seq(
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // the post-join aggregate needs its own shuffle, which normally makes
      // AQE reject the skew split (it would break the join's partitioning);
      // force it — at 100 TB the extra-shuffle trade is exactly the point
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val manyFiles = "target/test-tmp/lineitem_16f"
      graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
        .repartition(16).write.mode("overwrite").parquet(manyFiles)
      val df = Scale.skewJoinOn(spark.read.parquet(manyFiles),
        graft.Tables.nation(spark, "/root/testdata/sf0.01"))
      df.collect() // AQE finalizes the plan only on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew-split join in final AQE plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedJoin: join keys carry the salt (hot key spread across reducers)") {
    // Walk the optimized plan to the Join node and assert its CONDITION
    // carries both the natural key and the salt equality — a substring
    // match over the flattened plan would pass even if the salt were
    // dropped from the keys and only survived in a project list.
    val plan = Scale.saltedJoin(spark, dir).queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, s"no Join node in optimized plan:\n$plan")
    val conds = joins.flatMap(_.condition).map(_.sql)
    assert(conds.exists(c => c.contains("n_nationkey") && c.contains("salt")),
      s"join condition lacks natural key + salt equalities: $conds\n$plan")
  }

  test("decontaminate: one corpus-gram scan, broadcast bench side, no data-sized cache") {
    val df = LlmData.decontaminate(spark, dir)
    df.collect() // AQE finalizes the plan
    // the adaptive plan string repeats everything under "== Initial Plan =="
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // r3 verdict #3 done-criteria: the corpus grams stream ONCE (the only
    // full-corpus text scans are one per join side: corpus + the pruned
    // bench slice), the bench side broadcasts, and no InMemoryRelation
    // holds the exploded gram table for the session
    assert(!plan.contains("InMemoryRelation") && !plan.contains("InMemoryTableScan"),
      s"decontaminate caches a frame:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"bench side not broadcast:\n$plan")
    val corpusScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(corpusScans <= 2, s"expected <=2 documents scans (corpus + pruned bench), got $corpusScans:\n$plan")
    // the bench-side scan carries the doc_id pushdown so parquet prunes it
    assert(plan.contains("LessThan(doc_id") || plan.contains("LessThan(`doc_id`"),
      s"bench-slice filter not pushed to the scan:\n$plan")
  }

  test("lshDetTopK: candidate generation is keyed bucket joins, never a product join") {
    val plan = Similarity.lshDetTopK(graft.Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in det-LSH plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in det-LSH plan:\n$plan")
  }

  test("rerankTopK: one deliberate broadcast-query product; rerank joins are keyed") {
    val plan = Similarity.rerankTopK(graft.Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in rerank plan:\n$plan")
    // stage 1 is the bruteForceTopK shape: the O(nQueries) query side
    // broadcast against the code scan — exactly ONE such product; the
    // stage-2 candidate→vector joins must be keyed equality joins
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"expected only the broadcast query-side product, got $bnlj:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"stage-2 rerank joins are not keyed:\n$plan")
  }

  test("ivfTopK: only the nlist-row centroid probe is non-equi; rerank joins are keyed") {
    val plan = Similarity.ivfTopK(graft.Tables.embeddings(spark, dir), nlist = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in IVF plan:\n$plan")
    // the query×centroid probe is a deliberate broadcast product over nlist
    // rows (O(1) in corpus size) — anything more is a scale bug
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"expected at most the probe BNLJ, got $bnlj:\n$plan")
  }

  test("sourceOverlap: ONE documents scan — pairs and totals share one aggregation") {
    // the first implementation's gram self-join scanned + re-hashed the
    // corpus once per join side plus twice for totals (4 scans); the
    // combined pair+singleton explode must keep the WHOLE run at one
    val plan = LlmData.sourceOverlapAgg(spark, dir).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // r17: exactly TWO gram-level (hash) shuffles — collect_set's (keyed
    // on g, map-side set partials dedupe) and the final pair agg's. The
    // old frame-level .distinct() added a third, full-width (source,
    // gram) Exchange that collect_set made redundant. Tuning.spread's
    // round-robin scan repartition is not a keyed shuffle — excluded.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <= 2 hash exchanges (no redundant distinct), got $exchanges:\n$plan")
  }

  test("domainStats: blocklist is broadcast; the corpus side never shuffles for the join") {
    val plan = LlmData.domainStats(spark, dir).queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("expectations: all lineitem checks fuse into a single scan + agg pass") {
    val plan = Etl.expectations(spark, dir).queryExecution.executedPlan.toString
    val liScans = "Scan parquet[^\\n]*lineitem".r.findAllIn(plan).size
    assert(liScans == 1, s"expected 1 lineitem scan (fused checks), got $liScans:\n$plan")
  }

  test("shippingPriority: both date predicates reach the scans; top-10 is TakeOrdered") {
    val plan = Relational.shippingPriority(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      plan.contains("LessThan(o_orderdate"), s"order date not pushed:\n$plan")
    assert(plan.contains("GreaterThan(l_shipdate"), s"ship date not pushed:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("regionalVolume: exactly nation+region broadcast-hinted in the 6-way join") {
    val plan = Relational.regionalVolume(spark, dir).queryExecution.analyzed.toString
    val hints = "ResolvedHint \\(strategy=broadcast\\)".r.findAllIn(plan).size
    assert(hints == 2, s"expected 2 broadcast hints (nation, region), got $hints:\n$plan")
  }

  test("plan-regression gate: heavy batch queries never product-join and stay in codegen") {
    // r5 verdict #5: pin the plan invariants of the heaviest registered
    // queries so a Spark upgrade, Tables change, or refactor can't silently
    // introduce a product join on data-sized inputs or drop the narrow
    // chains out of whole-stage codegen. Plan shape at sf0.001 is identical
    // to production shape (same code paths, same strategies); only sizes
    // differ. The exception is work a query materializes inside
    // graft.Tuning.withSourceWidth over a source below SmallJobBytes: that
    // runs without AQE or whole-stage codegen, while the returned frame
    // checked here is planned with the session's settings. Queries with a
    // DELIBERATE bounded BNLJ (the IVF/LSH centroid-probe over O(nlist)
    // rows, asserted separately above) are not in this list, and neither is
    // q_bm25 (its corpus-wide avgdl scalar is a deliberate single-ROW
    // broadcast nested-loop — O(1) build side by construction).
    val gated = Seq(
      "q_minhash_det_dedup",      // banded self-join dedup — keyed bucket joins only
      "q_minhash_det_transitive", // + connected components closure
      "q_entity_match",           // blocked pair-gen: blocking keys ARE the join keys
      "q_tfidf",                  // explode → keyed agg → join
      "q_passage_dedup",          // window + anti-join dedup
      "q_llm_pipeline",           // multi-stage quality/dedup composition
      "q_sessionize",             // window over user/ts — one keyed exchange
      "q_session_window",         // gap-session aggregation
      // (not q_source_overlap: its result is the documented driver-side
      // O(sources²) matrix — a LocalTableScan with nothing to codegen;
      // its one-scan shape is asserted separately above)
      "q_window_funcs",           // multi-function window pass
      "q_hist_rate",              // agg + join-back on grouping keys
      "q_etl_features",           // the full taxi-analog ETL
      "q_neardup_survivor",       // CC labels + per-cluster survivor window
      "q_interval_join",          // banded bucket equality join, no theta product
      "q_bloom_join",             // InSet-pruned fact scan + exact join
      "q_group_topk")             // typed aggregator: partial/final agg only
    gated.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.collect() // AQE finalizes (and codegen-annotates) the plan on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name: CartesianProduct on a data-sized input:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name: BroadcastNestedLoopJoin crept in:\n$plan")
      // the simple-string rendering marks whole-stage-codegen spans `*(n)`;
      // the verbose rendering spells out WholeStageCodegen — accept either
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"$name: no WholeStageCodegen span left:\n$plan")
    }
  }

  test("sampleSplit: seed-pinned sample is stable; split is disjoint and covering") {
    import spark.implicits._
    val ord = graft.Tables.orders(spark, dir).select($"o_orderkey")
    val s1 = ord.sample(withReplacement = false, 0.3, 42).as[Long].collect().toSet
    val s2 = ord.sample(withReplacement = false, 0.3, 42).as[Long].collect().toSet
    assert(s1 == s2, "sample(0.3, seed=42) not seed-stable")
    val sampled = ord.sample(withReplacement = false, 0.3, 42)
    val Array(train, test) = sampled.randomSplit(Array(0.8, 0.2), 42)
    val tr = train.as[Long].collect().toSet
    val te = test.as[Long].collect().toSet
    assert(tr.intersect(te).isEmpty, "randomSplit halves overlap")
    assert(tr.union(te) == s1, "randomSplit halves don't cover the sample")
  }

  test("dynamic partition pruning fires on a partitioned fact joined to a filtered dim") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Hive-style partitioned fact (the layout parquetSink produces at
    // scale): a selective dim filter on the partition key must prune
    // partitions at RUNTIME via DPP — without it, a 100 TB fact scan
    // reads every partition to discover most join nothing.
    val root = new java.io.File(graft.GraftSession.scratchDir("graft-dpp-"))
    val factPath = s"${root.getAbsolutePath}/fact"
    val dimPath = s"${root.getAbsolutePath}/dim"
    graft.Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"value")
      .write.mode("overwrite").partitionBy("event_type").parquet(factPath)
    // dim must be a SCANNED relation with a surviving selective Filter —
    // a pre-filtered LocalRelation constant-folds and the pruning rule
    // sees no predicate to derive the runtime filter from
    Seq(("click", 1L), ("view", 2L), ("purchase", 3L),
        ("cart", 4L), ("search", 5L))
      .toDF("event_type", "type_id")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter($"type_id" === 1L) // selective dim predicate, NOT on the fact
    val joined = spark.read.parquet(factPath)
      .join(dim, Seq("event_type"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on the partitioned scan:\n$physical")
    // and the pruned result is still correct
    val out = joined.collect()
    assert(out.length == 1 && out.head.getString(0) == "click")
  }

  test("graph tier: cached pre-partitioned edge frame feeds per-round joins without re-exchange") {
    // The r11 pageRank/labelPropagation change: the edge frame cached for
    // the iteration loop is hash-partitioned on the join key BEFORE
    // caching, so every round's join shuffles only the node-sized ranks
    // side. This pins the mechanism in miniature: (a) the cached relation
    // carries src hash-partitioning; (b) a round-shaped join + dst agg
    // over it plans with ZERO src-key exchanges (pre-fix, the broadcast
    // deg join left the cache scan-partitioned and every round inserted
    // one edge-sized src exchange).
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => cnt, expr, lit, sum}
    val edges = spark.range(1000).selectExpr("id % 100 as src", "(id * 7) % 100 as dst")
    val deg = edges.groupBy($"src").agg(cnt(lit(1)).as("outdeg"))
    val ed = edges.join(deg, "src").repartition($"src").cache()
    try {
      ed.count()
      val ranks = spark.range(100).selectExpr("id as node", "id * 10 as r")
      val round = ed.join(ranks, ed("src") === ranks("node"))
        .select(ed("dst"), expr("r div outdeg").as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("s_in"))
      round.collect()
      val full = round.queryExecution.executedPlan.toString
      assert(full.contains("InMemoryTableScan"),
        s"round join is not reading the cached edge frame:\n$full")
      // everything below the InMemoryRelation is the cached BUILD plan
      // (which legitimately contains the one REPARTITION_BY_COL exchange,
      // paid once); the round itself must add no src-key exchange above it
      val plan = full.substring(0, full.indexOf("InMemoryRelation"))
      val srcExchanges = """Exchange hashpartitioning\(src#""".r.findAllIn(plan).size
      assert(srcExchanges == 0,
        s"round join re-shuffled the cached edge side ($srcExchanges src exchanges):\n$full")
    } finally ed.unpersist()
  }
}
