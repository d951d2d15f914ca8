package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}

/** Distributed graph analytics over join-derived graphs — the second
  * iterative-compute family beside
  * [[Similarity.connectedComponents]] (label propagation): PageRank by
  * synchronous power iteration, the Pregel/GraphX shape expressed as plain
  * keyed joins + hash aggregates so Catalyst plans every round.
  *
  * All rank math is INTEGER micros: contributions use floor division
  * (`r div outdeg`), damping is `150000 + (85·Σ) div 100` — every engine
  * computes bit-identical BIGINTs in any summation order, so a fixed
  * iteration count is fully DuckDB-oracle-able (the oracle unrolls the
  * same recurrence as nested CTEs). The floor losses mean total mass is
  * not exactly conserved — deliberate: deterministic beats
  * cosmetically-normalized for a verified engine; ranks remain a correct
  * relative ordering.
  */
object Graph {

  // ------------------------------------------------ persisted edge tables

  /** Test hook: forget the per-session "already ensured" keys so a spec
    * can drive the catalog-miss paths (rebuild, re-register) in one JVM. */
  private[graft] def resetEdgeTableRegistryForTests(): Unit = Materialize.resetForTests()

  /** The r11 verdict's one architecture item: every graph query used to
    * rebuild its edge frame from `lineitem ⋈ orders` COLD, per query —
    * the honest-protocol correction measured that one scan at ~500 s of
    * khop's sf100 cold time, paid again by pagerank/labelprop/triangles.
    * At 100 TB nobody derives edges per query: the edge list is
    * materialized ONCE per dataset as a bucketed-by-`src` parquet table
    * and every graph query reads it. All the machinery (source
    * fingerprinting, cross-JVM re-registration, one-file-per-bucket
    * writes, stale-sibling cleanup) lives in [[Materialize]], shared with
    * the relational tier's bucketed fact copies. */
  private def ensureEdgeTable(spark: SparkSession, dir: String, kind: String)
                             (build: => DataFrame): DataFrame =
    // Bucket count = the session's shuffle partitions (r12 hardcoded 32,
    // which kept the planner's repartition($"src") elision tied to one
    // lucky core count). The bucket spec is part of the table
    // name (Materialize), so sessions sized differently coexist: each
    // reads/builds the table whose bucketing its own planner can elide.
    spark.table(Materialize.ensureBucketedTable(spark,
      s"edges_${kind}_$dir", "src",
      buckets = spark.sessionState.conf.numShufflePartitions,
      sourcePaths = Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet"))(build))

  /** Runs a graph loop at the shuffle width of the fact tables its edge
    * tables are built from (graft.Tuning.withSourceWidth): every round
    * shuffles node-sized frames, so at sf0.1 (13.5 MB of lineitem +
    * orders) the loop runs 4 tasks per stage instead of one per core. */
  private def atEdgeSourceWidth[T](spark: SparkSession, dir: String)(f: => T): T =
    graft.Tuning.withSourceWidth(spark,
      Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet"))(f)

  /** One synchronous PageRank round over an edge list that already carries
    * `outdeg` on the source: ranks shuffle on the join key, contributions
    * hash-aggregate on dst (map-side partial sums), and isolated /
    * no-inbound nodes fall back to the damping floor via the left join.
    */
  private def step(nodes: DataFrame, ed: DataFrame, ranks: DataFrame,
                   completeGraph: Boolean): DataFrame = {
    // SHUFFLE_HASH on the node-sized ranks side (r18): without the hint the
    // planner falls back to sort-merge once size estimates exceed the
    // broadcast threshold, re-SORTING the edge side EVERY round. Hash-join
    // build of the ranks partition is the scale-right strategy: build side
    // is nodes/partitions (never the 8 GB broadcast cap), the edge side
    // streams unsorted, and both sides stay on their existing hash
    // partitioning so the round still plans zero join exchanges.
    val summed = ed.join(ranks.hint("shuffle_hash"), ed("src") === ranks("node"))
      .select(ed("dst"), expr("r div outdeg").as("contrib"))
      .groupBy(col("dst")).agg(sum(col("contrib")).as("s_in"))
    if (completeGraph)
      // every node has an in-edge (e.g. a symmetrized edge set): the
      // aggregate's key set IS the node set — skip the per-round
      // node-completion join entirely (one join fewer per iteration)
      summed.select(col("dst").as("node"),
        expr("CAST(150000 + (85 * s_in) div 100 AS BIGINT)").as("r"))
    else
      nodes.join(summed, nodes("node") === summed("dst"), "left")
        .select(nodes("node"),
          expr("CAST(150000 + (85 * coalesce(s_in, CAST(0 AS BIGINT))) div 100 AS BIGINT)").as("r"))
  }

  /** Fixed-iteration PageRank over an arbitrary directed edge frame
    * (columns `src`, `dst`). Exposed for tests; [[pageRankQuery]] wraps it
    * over the supplier↔customer interaction graph.
    *
    * Scale shape: the edge list (+ out-degrees) is the only re-used frame —
    * persisted once DISK_ONLY over the pre-bucketed table, read by every
    * round. Each round is one
    * shuffle join (ranks onto edges by src) + one hash agg (by dst) + one
    * left join back to the node set — no driver round-trips at all for a
    * fixed K, unlike the convergence-tested CC loop. K=5 keeps lineage
    * ~15 operators deep: no checkpoint needed ([[pageRankConverged]] is
    * the convergence-driven variant). [[Rounds.run]] returns the ranks
    * materialized (cache + count) and has released the working caches. */
  def pageRank(edges: DataFrame, iters: Int = 5,
               completeGraph: Boolean = false): DataFrame = {
    val (ed, nodes, init) = pageRankInputs(edges)
    Rounds.run("pageRankFixedK", init, Rounds.Fixed(iters), ed, nodes)(
      (ranks, _) => step(nodes, ed, ranks, completeGraph))._1
  }

  /** What both PageRank loops read every round: the edge list with
    * out-degrees and the node set (the two working frames), plus the
    * initial ranks.
    *
    * The edge frame is pre-hash-partitioned on src BEFORE caching
    * (kHopQuery's measured pattern, applied here in r11): without this
    * the cache holds the SCAN's partitioning and every round's
    * ranks⋈edges join re-shuffles the full edge side — 5 avoidable
    * edge-sized exchanges per query. (Over the bucketed edge table the
    * repartition is planner-elided — buckets == shuffle partitions.)
    * Partitioned on the join key, each round shuffles only the
    * (node-sized) ranks frame; the per-round dst aggregation still
    * shuffles, but partial aggregation collapses it to per-partition
    * partial sums first. Physical layout only — the integer rank math is
    * summation-order-independent, so the oracle hash is untouched
    * (Verify gates it). DISK_ONLY is the one storage level whose speed
    * does not depend on heap size (probe tables: SCALE.md round 13). */
  private def pageRankInputs(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val ed = edges.join(deg, "src").repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nodes = ed.select(col("src").as("node")).distinct().cache()
    (ed, nodes, nodes.select(col("node"), lit(1000000L).as("r")))
  }

  /** The query graph: lineitem⋈orders distinct (supplier, customer)
    * pairs, both directions, disjoint node encoding (supplier s → 2s,
    * customer c → 2c+1). */
  private[ops] def interactionEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir).select($"l_suppkey", $"l_orderkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_suppkey".as("s"), $"o_custkey".as("c"))
      .distinct()
    pairs.select(($"s" * 2).as("src"), ($"c" * 2 + 1).as("dst"))
      .unionByName(pairs.select(($"c" * 2 + 1).as("src"), ($"s" * 2).as("dst")))
  }

  /** The interaction graph as a PERSISTED bucketed table (r11 verdict item
    * 1): identical edge set to [[interactionEdges]] — the oracle SQL still
    * derives from the base tables — but pagerank/khop read the
    * materialized table instead of re-running the fact join per query.
    *
    * Deliberately (src, dst) ONLY. A v2 that denormalized `outdeg` onto
    * every edge row (moving PageRank's per-query degree aggregation into
    * the build) was measured and REVERTED in r12: per-query pagerank was
    * a wash at sf10 (18.7–19.4 s vs 16.6–18.2) and sf100 (242–264 s vs
    * 192–303, overlapping noise bands) because the degree aggregation
    * over a src-bucketed table is exchange-free and cheap next to the 5
    * join rounds — while the one-time build nearly doubled (571 → 1016 s
    * at sf100) and the table grew 33%. SCALE.md round-12 notes carry the
    * measurements. */
  private[graft] def interactionEdgeTable(spark: SparkSession, dir: String): DataFrame =
    ensureEdgeTable(spark, dir, "inter")(interactionEdges(spark, dir))

  /** The SYMMETRIZED co-supplier graph, persisted and bucketed by src —
    * one table serves both co-supplier consumers: label propagation reads
    * it directly (its votes flow both ways), and the undirected pair list
    * is recovered exactly by `src < dst` ([[coSupplierPairsFromTable]])
    * since [[coSupplierEdges]] emits each pair once with u < v. */
  private[graft] def coSupplierSymTable(spark: SparkSession, dir: String): DataFrame =
    ensureEdgeTable(spark, dir, "cosup") {
      val p = coSupplierEdges(spark, dir)
      p.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(p.select(col("v").as("src"), col("u").as("dst")))
    }

  private[graft] def coSupplierPairsFromTable(spark: SparkSession, dir: String): DataFrame =
    coSupplierSymTable(spark, dir).filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))

  /** Plan-audit helper: ONE un-executed PageRank round over the query
    * graph. [[pageRankQuery]]'s returned frame is cache-materialized, so
    * its explain prints the whole 5-round lineage below an
    * InMemoryTableScan — this exposes the per-round shape (the thing
    * that repeats at scale) for DumpPlans instead. */
  def oneRoundPlan(spark: SparkSession, dir: String): DataFrame = {
    val edges = interactionEdgeTable(spark, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // mirror the registered query's shape: persisted-table scan → deg
    // join (exchange-free over the bucketed scan) → repartition
    // (planner-elided, buckets == shuffle partitions) — in the registered
    // query this sits under a cache and pays once for all 5 rounds
    val ed = edges.join(deg, "src").repartition(col("src"))
    val nodes = ed.select(col("src").as("node")).distinct()
    step(nodes, ed, nodes.select(col("node"), lit(1000000L).as("r")),
      completeGraph = true)
  }

  /** PageRank over the bipartite supplier↔customer interaction graph:
    * lineitem⋈orders yields distinct (supplier, customer) pairs; each pair
    * contributes both directed edges (interaction as mutual endorsement),
    * so every node has in- and out-edges and no dangling-mass term is
    * needed. Node ids are disjointly encoded (supplier s → 2s, customer c
    * → 2c+1). The handful of suppliers × thousands of customers makes the
    * supplier side massively hot — exactly the skew AQE handles at the
    * contribution aggregate (hot dst keys split at runtime). */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The whole loop runs at the edge source's width (atEdgeSourceWidth);
    // it materializes its result inside the wrapper.
    atEdgeSourceWidth(spark, dir) {
      pageRank(interactionEdgeTable(spark, dir), iters = 5, completeGraph = true)
    }.select($"node", ($"node" % 2).cast("int").as("node_type"),
        expr("node div 2").as("entity_id"), $"r".as("rank_micros"))
  }

  private val pageRankSql = {
    def stepSql(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node,
         |         CAST(150000 + (85 * COALESCE(SUM(x.contrib), 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, p.r // e.outdeg AS contrib
         |    FROM ed e JOIN $prev p ON e.src = p.node
         |  ) x ON n.node = x.node
         |  GROUP BY n.node
         |)""".stripMargin
    val steps = (1 to 5).map(i => stepSql(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT s*2 AS src, c*2+1 AS dst FROM pairs
       |  UNION ALL
       |  SELECT c*2+1 AS src, s*2 AS dst FROM pairs
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM ed
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
       |),
       |$steps
       |SELECT node, CAST(node % 2 AS INTEGER) AS node_type,
       |       node // 2 AS entity_id, r AS rank_micros
       |FROM r5""".stripMargin
  }

  /** CONVERGENCE-mode PageRank (r13 verdict item 6): iterate until
    * `max |Δr| < eps` micros or `maxIters`, whichever first — the
    * stopping rule production PageRank actually uses, beside the oracled
    * fixed-K variant. The integer rank math makes the rule fully
    * deterministic (bit-identical deltas in any summation order), so the
    * whole loop REMAINS DuckDB-oracle-able: the oracle unrolls maxIters
    * steps with per-step max-delta CTEs and selects the first converged
    * iteration — "first `it` with delta < eps, else maxIters" is the
    * query's contract on BOTH sides, at any scale factor (no SF-tuned
    * constant: a corpus that converges slower than maxIters caps
    * identically in engine and oracle).
    *
    * Shape per round: the fixed-K [[step]] plus a node-sized join+max-agg
    * convergence probe — AMORTIZED to one driver round-trip per
    * `checkEvery` rounds (r14 verdict item 4) by [[Rounds.Probe]]: ONE
    * job computes every pending round's max-delta and the FIRST
    * qualifying round wins — byte-identical output to the per-iteration
    * check (same "first `it` with delta < eps" rule, no monotonicity
    * assumption: every computed round's delta is inspected, oldest
    * first), at the price of at most `checkEvery - 1` overshoot
    * iterations of wasted step work. The frames involved are node-sized,
    * never edge-sized. Returns the converged ranks (cache-materialized)
    * and the iteration count actually run; at the cap, the capped ranks
    * and the cap. */
  private[graft] def pageRankConverged(edges: DataFrame, eps: Long,
      maxIters: Int, checkEvery: Int = 2): (DataFrame, Int) = {
    val (ed, nodes, init) = pageRankInputs(edges)
    val maxDelta = Rounds.Probe(checkEvery, maxIters, failAtCap = false) { (prev, cur) =>
      cur.join(prev.select(col("node"), col("r").as("r_prev")), "node")
        // max over zero rows is null (empty node set): read it as delta 0,
        // so an empty graph is converged (ADVICE r14)
        .agg((coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)) < eps).as("passed"))
    }
    // complete-graph step: the callers feed SYMMETRIZED edge sets, where
    // every node has an in-edge (same contract as labelProp)
    Rounds.run("pageRankConverged", init, maxDelta, ed, nodes)(
      (ranks, _) => step(nodes, ed, ranks, completeGraph = true))
  }

  /** Registered query: PageRank-to-convergence over the symmetrized bulk
    * co-supplier graph (eps = 10000 micros ≈ 1% of the initial rank,
    * cap 30) — final rank per supplier plus the iteration count the loop
    * actually ran, emitted as a column so the oracle pins the STOPPING
    * RULE, not just the final ranks. */
  def pageRankConvQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ranks, iters) = atEdgeSourceWidth(spark, dir) {
      pageRankConverged(coSupplierSymTable(spark, dir),
        eps = 10000L, maxIters = 30)
    }
    ranks.select($"node".as("suppkey"), $"r".as("rank_micros"),
      lit(iters).as("iters_run"))
  }

  private val pageRankConvSql = {
    val maxIters = 30
    val eps = 10000L
    // r_i referenced by r_{i+1}, d_{i+1} and allr — MATERIALIZED keeps
    // DuckDB from inlining the chain into exponential re-evaluation
    def stepSql(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |         CAST(150000 + (85 * SUM(p.r // e.outdeg)) // 100 AS BIGINT) AS r
         |  FROM ed e JOIN $prev p ON e.src = p.node
         |  GROUP BY e.dst
         |)""".stripMargin
    def deltaSql(prev: String, cur: String, d: String): String =
      s"""$d AS MATERIALIZED (
         |  SELECT MAX(ABS(a.r - b.r)) AS d FROM $cur a JOIN $prev b ON a.node = b.node
         |)""".stripMargin
    val steps = (1 to maxIters).flatMap(i =>
      Seq(stepSql(s"r${i - 1}", s"r$i"), deltaSql(s"r${i - 1}", s"r$i", s"d$i")))
      .mkString(",\n")
    val deltas = (1 to maxIters)
      .map(i => s"SELECT $i AS it, (SELECT d FROM d$i) AS d").mkString(" UNION ALL ")
    val allr = (1 to maxIters)
      .map(i => s"SELECT $i AS it, node, r FROM r$i").mkString(" UNION ALL ")
    s"""WITH os AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
       |  WHERE l_quantity > 45
       |), pairs AS (
       |  SELECT DISTINCT a.s AS u, b.s AS v
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
       |), sym AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM pairs
       |  UNION ALL
       |  SELECT v AS src, u AS dst FROM pairs
       |), deg AS (
       |  SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src
       |), ed AS MATERIALIZED (
       |  SELECT e.src, e.dst, d.outdeg FROM sym e JOIN deg d ON e.src = d.src
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM ed
       |), r0 AS MATERIALIZED (
       |  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
       |),
       |$steps,
       |deltas AS ($deltas),
       |pick AS (SELECT COALESCE(MIN(it), $maxIters) AS it FROM deltas WHERE d < $eps),
       |allr AS ($allr)
       |SELECT node AS suppkey, r AS rank_micros,
       |       CAST((SELECT it FROM pick) AS INTEGER) AS iters_run
       |FROM allr WHERE it = (SELECT it FROM pick)""".stripMargin
  }

  /** Bounded multi-source BFS (k-hop reachability) — the fourth graph
    * verb beside PageRank/triangles/label-prop: from a seed set, the
    * minimal hop distance of every node within `k` hops. The
    * neighborhood-growth curve it produces is the standard graph-mining
    * primitive for spam/fraud propagation radii and context expansion.
    *
    * Same Pregel-as-joins shape as [[pageRank]]: each round joins the
    * CURRENT frontier (nodes whose minimal distance is exactly d−1) to
    * the edge list, distincts the discovered layer, and folds it into the
    * (node, min dist) frame with one hash agg. BFS invariant: a shortest
    * path to a distance-d node ends at a distance-(d−1) node, so
    * frontier-only expansion loses nothing. Pure integer math end to end
    * ⇒ the DuckDB oracle replays it as a recursive CTE (set-semantics
    * UNION bounds the working set at nodes × k rows; MIN(dist) collapses
    * non-minimal discoveries exactly like the Spark-side agg).
    *
    * Scale shape: k fixed ⇒ k shuffle joins + k hash aggs, lineage ~5
    * ops/round. The frontier filter keeps each round's join input at ONE
    * BFS layer, not the cumulative reachable set. Each round reads `dist`
    * TWICE (frontier filter + union fold), so the step caches its own
    * output: the executed side then computes each round once, inside the
    * one job that materializes the result (r7 verdict item 7: no per-round
    * action). The analyzed plan still about doubles per round, harmless at
    * the fixed k = 3 (IterativePlanGrowthSpec pins the bound); a larger-k
    * variant flattens its state with [[Rounds.flatten]].
    *
    * Returns the distances materialized; the earlier rounds are released. */
  private[ops] def kHopReachability(edges: DataFrame, seeds: DataFrame,
                                    k: Int): DataFrame = {
    val init = seeds.select(col("node"), lit(0).as("dist")).cache()
    Rounds.run("kHopReachability", init, Rounds.Fixed(k)) { (dist, d) =>
      // No `.distinct()` on the frontier expansion (r17): the union-fold's
      // `groupBy(node).min(dist)` already dedupes, and its partial (map-side)
      // aggregation collapses duplicate dst rows before the exchange — the
      // explicit distinct was a SECOND full exchange of the same rows per
      // round (3 exchanges saved over k=3; identical rows by construction,
      // oracle hash unchanged; plan dump committed at plans/r18/).
      val next = edges.join(dist.filter(col("dist") === d - 1).hint("shuffle_hash"),
          edges("src") === col("node"))
        .select(edges("dst").as("node"), lit(d).as("dist"))
      dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .cache()
    }._1
  }

  /** Registered query: 3-hop reachability over the interaction graph from
    * the 10%-of-suppliers seed set (s_suppkey % 10 == 0 — 10 seeds at the driver gate SF, 100 at sf0.1), reported as the
    * per-distance growth curve (node count + exact id sum per BFS layer —
    * the id sum pins layer MEMBERSHIP under the hash, not just size). */
  def kHopQuery(spark: SparkSession, dir: String): DataFrame = atEdgeSourceWidth(spark, dir) {
    import spark.implicits._
    // The edge frame is re-joined on src every round: pre-hash-partition
    // it ONCE before caching so the cached partitioning satisfies each
    // round's join requirement and only the (small) frontier side
    // shuffles — the iterative-graph analog of bucketing. Since r12 the
    // frame READS the persisted bucketed edge table instead of rebuilding
    // lineitem⋈orders per query (the honest-protocol correction measured
    // that rebuild at ~500 s of khop's sf100 cold time). BFS needs only
    // (src, dst): the explicit projection pins that contract even if the
    // persisted table ever grows columns.
    val edges = interactionEdgeTable(spark, dir).select($"src", $"dst")
      .repartition(col("src")).cache()
    val seeds = edges.select($"src".as("node")).distinct()
      .filter($"node" % 2 === 0 && expr("(node div 2) % 10") === 0)
    val dist = kHopReachability(edges, seeds, k = 3)
    edges.unpersist()
    dist.groupBy($"dist")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_node_ids"))
  }

  private val kHopSql =
    """WITH RECURSIVE pairs AS (
      |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), edges AS (
      |  SELECT s*2 AS src, c*2+1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT c*2+1 AS src, s*2 AS dst FROM pairs
      |), seeds AS (
      |  SELECT DISTINCT src AS node FROM edges
      |  WHERE src % 2 = 0 AND (src // 2) % 10 = 0
      |), bfs(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, b.dist + 1
      |  FROM bfs b JOIN edges e ON e.src = b.node
      |  WHERE b.dist < 3
      |), md AS (
      |  SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node
      |)
      |SELECT dist, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS sum_node_ids
      |FROM md GROUP BY dist""".stripMargin

  /** Undirected supplier co-occurrence edges: suppliers u < v that both
    * appear in some common BULK order line (quantity > 45 — the filter is
    * pushed into the parquet scan). Per-order fanout is bounded by
    * lineitems-per-order (~7), so the self-join emits O(orders · 7²)
    * candidate pairs — never quadratic in suppliers. The bulk filter is
    * what keeps the GRAPH sparse: unfiltered, every supplier co-occurs
    * with nearly every other (sf0.1: 453k edges over 1,000 nodes, wedge
    * bound 823M — measured 23.6 s), while the bulk graph is 12k edges
    * with wedge bound 604k. Density control belongs to edge DERIVATION,
    * not the triangle algorithm. */
  private[ops] def coSupplierEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val os = Tables.lineitem(spark, dir)
      .filter($"l_quantity" > 45)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("s")).distinct()
    os.as("a").join(os.as("b"), col("a.ok") === col("b.ok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v")).distinct()
  }

  /** Per-node triangle counts over an undirected edge frame (u < v).
    *
    * Edges are re-oriented from the LOWER to the HIGHER (degree, id)
    * endpoint before the two-hop join — the classic arboricity bound: a
    * hub of degree d contributes O(d²) wedge candidates under naive id
    * orientation, but under degree orientation every node's out-degree is
    * bounded by O(√edges), which is what keeps the wedge join alive on a
    * power-law graph at 100 TB. The triangle SET is orientation-invariant
    * (each unordered triangle is enumerated exactly once under any acyclic
    * orientation), so the oracle can verify with plain id orientation
    * while the engine runs the optimized one. */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // edges feed the degree agg (twice via the union), the orientation
    // join and nothing else; deg feeds the orientation join (both sides)
    // and the final join-back — cache both or the upstream edge
    // derivation (a lineitem self-join here) recomputes per consumer
    val edges = edges0.cache()
    val deg = edges.select($"u".as("node"))
      .unionByName(edges.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
      .cache()
    // orient u→v when (deg(u), u) < (deg(v), v): every out-neighborhood is
    // small, so the wedge self-join below never explodes on a hub
    val e = edges
      .join(deg.select($"node".as("u"), $"degree".as("du")), Seq("u"))
      .join(deg.select($"node".as("v"), $"degree".as("dv")), Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), struct($"u".as("src"), $"v".as("dst")))
          .otherwise(struct($"v".as("src"), $"u".as("dst"))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .cache()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"), col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val perNode = tri.select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select($"node", $"degree", coalesce($"n_tri", lit(0L)).as("n_tri"))
    Rounds.keep(out, e, deg, edges)
  }

  /** Plan-audit helper: the un-materialized triangle plan (the registered
    * query cache-materializes its output, hiding the wedge join under an
    * InMemoryRelation in explain output). */
  def trianglePlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = coSupplierPairsFromTable(spark, dir)
    val e = edges.select($"u".as("src"), $"v".as("dst"))
    e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .join(e.as("e3"), col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst"))).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
  }

  /** Registered query: triangle census of the supplier co-occurrence
    * graph — per supplier its co-occurrence degree and the number of
    * supplier triangles (cliques of mutual co-occurrence) through it. */
  def triangleQuery(spark: SparkSession, dir: String): DataFrame = atEdgeSourceWidth(spark, dir) {
    import spark.implicits._
    triangleCounts(coSupplierPairsFromTable(spark, dir))
      .select($"node".as("suppkey"), $"degree", $"n_tri")
  }

  private val triangleSql =
    """WITH os AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
      |  WHERE l_quantity > 45
      |), pairs AS (
      |  SELECT DISTINCT a.s AS u, b.s AS v
      |  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
      |  ) GROUP BY node
      |), tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM pairs e1
      |  JOIN pairs e2 ON e1.v = e2.u
      |  JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v
      |), tn AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
      |    UNION ALL SELECT c AS node FROM tri
      |  ) GROUP BY node
      |)
      |SELECT d.node AS suppkey, d.degree,
      |       CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri
      |FROM deg d LEFT JOIN tn ON d.node = tn.node""".stripMargin

  /** Fixed-round label propagation (community detection): every node
    * starts labeled with its own id; each SYNCHRONOUS round relabels every
    * node with the MODE of its neighbors' labels (ties broken by smallest
    * label — the determinism knob async LPA lacks). Three rounds over the
    * symmetrized bulk co-supplier graph.
    *
    * Distinct from [[Similarity.connectedComponents]] (min-label
    * propagation → components): mode-voting converges to DENSE
    * neighborhoods, splitting a weakly-bridged component into
    * communities.
    *
    * Shape per round: one join (labels onto edges by src), one (dst,
    * label) count agg, one per-dst argmin — all keyed shuffles; no driver
    * traffic at all for fixed K (the same contract as [[pageRank]]). */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // symmetrize: votes flow both ways along each undirected edge
    labelPropagationSym(
      edges.select($"u".as("src"), $"v".as("dst"))
        .unionByName(edges.select($"v".as("src"), $"u".as("dst"))),
      iters)
  }

  /** Label-prop loop over an ALREADY-symmetric (src, dst) edge frame —
    * split out so [[labelPropQuery]] can feed the persisted symmetric
    * table directly instead of re-deriving the symmetrization it already
    * stores. Pre-hash-partitioned on src before caching (same rationale
    * as pageRank/kHopQuery): the per-round labels⋈sym join would
    * otherwise re-shuffle the full cached edge side every iteration. */
  private[ops] def labelPropagationSym(sym0: DataFrame, iters: Int): DataFrame = {
    val spark = sym0.sparkSession
    import spark.implicits._
    val sym = sym0.repartition($"src").cache()
    val init = sym.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    Rounds.run("labelPropagationSym", init, Rounds.Fixed(iters), sym) { (labels, _) =>
      sym.join(labels.hint("shuffle_hash"), sym("src") === labels("node"))
        .groupBy(sym("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        // mode with smallest-label tie-break: min over (-cnt, label) structs
        .groupBy(col("dst").as("node"))
        .agg(min(struct((-col("cnt")).as("negc"), col("label"))).as("m"))
        .select(col("node"), col("m.label").as("label"))
    }._1
  }

  /** Registered query: communities of the bulk co-supplier graph — the
    * final (node, community) labeling plus each community's size as a
    * join-back. */
  def labelPropQuery(spark: SparkSession, dir: String): DataFrame = atEdgeSourceWidth(spark, dir) {
    import spark.implicits._
    val labels = labelPropagationSym(coSupplierSymTable(spark, dir), iters = 3)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select($"node".as("suppkey"), $"label".as("community"), $"community_size")
  }

  private val labelPropSql = {
    def round(prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, COUNT(*) AS cnt,
         |           row_number() OVER (PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.label) AS rn
         |    FROM sym e JOIN $prev l ON e.src = l.node
         |    GROUP BY e.dst, l.label
         |  ) WHERE rn = 1
         |)""".stripMargin
    val rounds = Seq(round("l0", "l1"), round("l1", "l2"), round("l2", "l3"))
      .mkString(",\n")
    s"""WITH os AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
       |  WHERE l_quantity > 45
       |), pairs AS (
       |  SELECT DISTINCT a.s AS u, b.s AS v
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
       |), sym AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM pairs
       |  UNION ALL
       |  SELECT v AS src, u AS dst FROM pairs
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM sym
       |),
       |$rounds
       |SELECT l3.node AS suppkey, l3.label AS community, s.community_size
       |FROM l3 JOIN (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size FROM l3 GROUP BY label
       |) s ON l3.label = s.label""".stripMargin
  }

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_pagerank", pageRankQuery, Some(pageRankSql)),
    VerifiedQuery("q_pagerank_conv", pageRankConvQuery, Some(pageRankConvSql)),
    VerifiedQuery("q_triangle_count", triangleQuery, Some(triangleSql)),
    VerifiedQuery("q_label_prop", labelPropQuery, Some(labelPropSql)),
    VerifiedQuery("q_khop_bfs", kHopQuery, Some(kHopSql)),
  )
}
