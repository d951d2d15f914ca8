package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, HashingTF, MinHashLSH}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{OracleContract, Tables, Tuning, VerifiedQuery}
import graft.functions.{Text, Vectors => V}

/** Near-duplicate detection and similarity search at scale (north-star
  * surface): MinHash+LSH banded dedup, SimHash banded dedup, brute-force
  * cosine top-k (the correctness baseline), and LSH-bucketed ANN (the scale
  * path).
  *
  * Scale design rule: NOTHING here does an all-pairs join over the corpus.
  * - MinHash/SimHash candidates come from hash-band buckets (join keyed on
  *   band value — shuffle on the band key, pairs only within buckets).
  * - ANN's brute-force variant broadcasts the (small) query set against the
  *   corpus — linear, not quadratic — and the LSH variant buckets both
  *   sides first.
  */
object Similarity {

  // ----------------------------------------------------------- MinHash dedup

  /** MinHash-LSH near-dup candidates over word-3-gram shingle sets:
    * shingle → binary HashingTF (2^18 dims) → MinHashLSH(numHashTables) →
    * approxSimilarityJoin (bucketed on the hash bands, never all-pairs) at
    * the given Jaccard-distance threshold.
    * Hands the candidate pairs (doc_a < doc_b, jaccard_dist) to `use`
    * and returns its result. The vectorized side is cached while `use`
    * runs and unpersisted when it returns, so `use` materializes whatever
    * it needs from the pairs (through [[Rounds.keep]], or
    * [[connectedComponents]], which materializes its edges).
    */
  def minhashCandidates[T](docs: DataFrame, threshold: Double = 0.6,
                           numHashTables: Int = 5)(use: DataFrame => T): T = {
    // Tokenize in a SEPARATE projection: the shingling lambda would
    // otherwise re-run split(text) once per shingle position (it references
    // the token array 3×, which also keeps CollapseProject from inlining).
    // Emptiness is filtered on the TOKEN count, not the shingle array —
    // a filter on the computed shingle alias would be pushed below the
    // projection and re-evaluate the entire shingle expression per row.
    val toks = docs.select(col("doc_id"), Text.tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val shingled = toks
      .select(col("doc_id"), array_distinct(Text.ngramsFromTokens(col("toks"), 3)).as("shingles"))
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // cache: the vectorized side feeds BOTH sides of the self-join plus the
    // LSH fit — without it the whole shingle+hash lineage runs three times.
    val vecs = tf.transform(shingled).select(col("doc_id"), col("features")).cache()
    try {
      val lsh = new MinHashLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(numHashTables).setSeed(42)
        .fit(vecs)
      use(lsh.approxSimilarityJoin(vecs, vecs, threshold, "jaccard_dist")
        .select(col("datasetA.doc_id").as("doc_a"),
          col("datasetB.doc_id").as("doc_b"),
          col("jaccard_dist"))
        .filter(col("doc_a") < col("doc_b")))
    } finally vecs.unpersist()
  }

  /** `docs` without the rows whose key is in `ids`, a one-column frame
    * named like the key. The drop set goes through [[Rounds.keep]] with the
    * `working` frames it was built from, so the returned frame reads only
    * that small cached set (owned by the caller). */
  private def dropIds(docs: DataFrame, ids: DataFrame, working: DataFrame*): DataFrame =
    docs.join(Rounds.keep(ids, working: _*), ids.columns.toSeq, "left_anti")

  /** Single-linkage drop over candidate pairs: every doc that has a
    * near-dup with a smaller id. */
  private[ops] def dropLaterDups(docs: DataFrame, cand: DataFrame): DataFrame =
    dropIds(docs, cand.select(col("doc_b").as("doc_id")).distinct())

  /** Dedup by MinHash candidates: drop every doc that has a near-dup with a
    * smaller id (single-linkage step, no transitive closure — at pipeline
    * scale this runs per-batch and converges across passes). */
  def minhashDedup(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    minhashCandidates(docs, threshold)(dropLaterDups(docs, _))

  /** Connected components over a candidate edge set by iterative min-label
    * propagation WITH pointer jumping: each round a node adopts the
    * smallest label among itself and its neighbors, then additionally the
    * label OF that label (path-halving). The jump step compresses label
    * chains geometrically, so convergence takes O(log diameter) rounds
    * instead of O(diameter) — maxIter=20 covers components of diameter
    * ~2^20, i.e. any graph that fits a cluster. Returns (doc_id, cluster)
    * for every node that appears in an edge; the canonical keeper of a
    * cluster is `cluster` (its minimum id).
    *
    * Single-linkage ("drop if a smaller direct neighbor exists") over-keeps
    * on chains — edges 1–5, 5–3 keep {1, 3} though the component is
    * {1,3,5}; the closure keeps only {1}. Scale: the edge set is LSH
    * candidates (orders of magnitude smaller than the corpus), each round
    * is a keyed shuffle join, and one driver action every two rounds reads
    * only a change sum. Lineage is BOUNDED: [[Rounds.run]] holds the label
    * frame through [[Rounds.hold]], which checkpoints it every
    * [[Rounds.CheckpointEvery]] rounds (reliably when the session has a
    * checkpoint dir), so analysis time stays flat.
    *
    * Throws IllegalStateException if the loop exits before fixpoint —
    * returning non-converged labels would silently under-drop duplicates
    * downstream ([[minhashDedupTransitive]]); with pointer jumping a
    * non-convergence at maxIter=20 means something pathological, and loud
    * beats wrong.
    *
    * Graphs of at most `localThreshold` edges skip the loop entirely and
    * run a driver union-find (one collect of a bounded, NON-data-sized
    * edge list) — equivalence with the distributed path is test-asserted.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          localThreshold: Long = 100000L): DataFrame = {
    // Symmetrize by EXPLODE, not a self-union (r18, stage-profiled at sf10
    // on q_minhash_det_transitive): `edges` arrives lazy, and a union
    // consumes it twice — for the dedup callers each branch re-ran the
    // corpus-scale banded self-join upstream (two stages reading 494 MB of
    // shuffle each, ~8 s wall / 64 s CPU apiece) to produce a KB-sized pair
    // list. One explode emits both directions in a single pass. (Caching
    // the pair frame instead would also dedupe the upstream, but wrapping
    // the banded join in an InMemoryRelation de-optimizes it — measured
    // 75 s vs 8 s for the same stage — so the explode form is the fix.)
    // The materializing count below stays OUTSIDE
    // graft.Tuning.withSourceWidth, so corpus work runs at corpus width
    // and only the loop runs at loop width (the first action under the
    // pin used to drag the whole upstream through loop-sized exchanges:
    // two 8-task stages × 417 MB shuffle, ~10 s apiece).
    val pre = edges.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().cache()
    // Small-graph fast path: LSH candidate graphs are orders of magnitude
    // smaller than the corpus by construction, and the distributed loop
    // pays several jobs PER ROUND. Up to `localThreshold` edges a driver
    // union-find answers in one collect + one local relation — same
    // (doc_id, min-id cluster) output; equivalence with the distributed
    // path is test-asserted (tests pin the loop by passing
    // localThreshold = 0). Heap math behind the 100k default: the collect
    // materializes Array[(Long, Long)] — ~48 B/edge boxed (Tuple2 header +
    // two boxed Longs) plus the HashMap at ~80 B/node — so 100k edges is
    // ~5 MB transient driver heap, noise even on a 1 GB driver; the old
    // 1M default cost ~50 MB+, fine on a dev box but a needless spike on
    // a busy production driver that may be collecting other scalars
    // concurrently. Above the threshold the iterative keyed-join loop
    // below is the scale path.
    val edgeCount = pre.count()
    if (edgeCount <= localThreshold) {
      val spark = pre.sparkSession
      import spark.implicits._
      val es = pre.as[(Long, Long)].collect()
      pre.unpersist()
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        // union toward the smaller root → final root = component minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      return parent.keysIterator.map(k => (k, find(k))).toSeq.toDF("doc_id", "cluster")
    }
    graft.Tuning.withSourceWidth(edges.sparkSession, edgeCount * 16L) {
    // CANDIDATE-GRAPH-sized shuffle width for the loop, from the edge
    // count just taken at 16 B per (src, dst) pair
    // (graft.Tuning.withSourceWidth): every frame the loop touches — sym
    // edges, labels, neighbor minima — is LSH-candidate-graph-sized,
    // orders of magnitude below the corpus by construction, yet each of
    // the O(log diameter) rounds used to schedule session-width
    // (CPU-count) tasks per stage over kilobytes (stage profile r18 on
    // q_minhash_det_transitive_dist: 50 stages, ≤27 KB shuffled each).
    // The local fast path above is width-independent.
    // symmetric edge list, cached ON THE PER-ROUND JOIN KEY (r18): the
    // loop joins `sym("dst") === labels("doc_id")` every round, but
    // distinct() leaves the cache partitioned on (src, dst), so each round
    // re-exchanged the full edge frame — one edge-sized repartition at
    // materialize now buys an exchange-free edge side for every round
    val sym = Rounds.keep(pre.repartition(col("dst")), pre)
    val init = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id")).cache()
    // convergence via Σcluster: labels only ever DECREASE per node (least),
    // so Σᵢ = Σᵢ₋₁ exactly when round i changed nothing — one one-row
    // aggregate per round instead of a join+filter+count, probed every 2
    // rounds. decimal(38,0) keeps the sum exact at any corpus size (a
    // wrapped long sum could in principle alias a non-fixpoint).
    val unchanged = Rounds.Probe(every = 2, cap = maxIter, failAtCap = true) { (prev, cur) =>
      cur.select(col("cluster").cast("decimal(38,0)").as("c"))
        .unionByName(prev.select((-col("cluster").cast("decimal(38,0)")).as("c")))
        .agg((coalesce(sum(col("c")), lit(0)) === 0).as("passed"))
    }
    Rounds.run("connectedComponents", init, unchanged, sym) { (labels, _) =>
      // SHUFFLE_HASH on the node-sized labels side (r18): the edge side is
      // already partitioned on dst, so the round's join plans zero edge
      // exchanges and no per-round sort of the edge frame
      val neighborMin = sym
        .join(labels.hint("shuffle_hash"), sym("dst") === labels("doc_id"))
        .groupBy(sym("src").as("doc_id"))
        .agg(min(col("cluster")).as("nbr_min"))
      val prop = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
      // pointer jump: adopt the label of your label. Every cluster value is
      // itself a node id present in `prop` (labels start as own ids and
      // only ever take other nodes' ids), so the self-join is total.
      val jumped = prop.as("c").join(prop.as("p"), col("c.cluster") === col("p.doc_id"))
        .select(col("c.doc_id").as("doc_id"),
          least(col("c.cluster"), col("p.cluster")).as("cluster"))
      // The pointer-jump self-join reads `prop` twice (hence the state 4×),
      // so an unflattened state's analyzed plan grew ~4× per round and made
      // the loop DRIVER-bound at sf10: 392 s in Catalyst tree walks on a
      // 27k-edge candidate graph, ~16 s once flattened (SCALE.md round 14).
      // The round hands forward a one-node plan; RDD lineage stays bounded
      // by the driver's checkpoint cadence.
      Rounds.flatten(jumped)
    }._1
    }
  }

  /** Transitive-closure MinHash dedup: keep one doc (the min id) per
    * connected component of the near-dup graph. */
  def minhashDedupTransitive(docs: DataFrame, threshold: Double = 0.6): DataFrame =
    dropNonMinima(docs, minhashCandidates(docs, threshold)(connectedComponents(_)))

  /** `docs` without the non-minimum members of each component of `comps`
    * (`doc_id`, `cluster`), matched on `docs`' column `key`. The drop set
    * is kept and the label frame released ([[dropIds]]). */
  private def dropNonMinima(docs: DataFrame, comps: DataFrame, key: String = "doc_id"): DataFrame =
    dropIds(docs, comps.filter(col("doc_id") =!= col("cluster")).select(col("doc_id").as(key)), comps)

  /** Registered rows-only query: kept documents after MinHash dedup.
    * The corpus goes through [[graft.Tuning.spread]]: a scan that plans
    * fewer partitions than the session has cores (one small file is ONE
    * task) would run the shingle+HashingTF vectorization and the LSH hash
    * evaluation serially (stage profile r18: 1.4 s + 0.7 s single-task
    * stages); a scan that fills the cores passes through. The bucket-join
    * shuffle width stays session-sized. */
  def minhashDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashDedup(Tuning.spread(Tables.documents(spark, dir)))
      .select($"doc_id", $"source", $"n_chars")
  }

  // ---------------------------------------- deterministic MinHash dedup (oracled)

  /** Deterministic minhash signatures per document: 8-char-gram Rabin–Karp
    * shingle hashes of the normalized text ([[Text.kgramHashes]]) through
    * `numHashes` fixed affine mixers ([[Text.minhashSignatures]]). Documents
    * whose normalized text is shorter than 8 chars have no shingles and are
    * excluded (they can't near-dup anything at this granularity). */
  def minhashDetSignatures(docs: DataFrame, numHashes: Int = 12): DataFrame =
    docs.select(col("doc_id"), Text.normalized(col("text")).as("norm"))
      // filter on norm length, not the shingle array: a filter on the
      // computed shingle alias would push below the projection and
      // re-evaluate the whole k-gram pipeline per row
      .filter(length(col("norm")) >= 8)
      // fused native signature (r17): one sliding-window pass computing the
      // 12 running minima directly — bit-identical to the previous
      // array_distinct(kgramHashesNative) → minhashSignatures composition
      // (distinct can't change a minimum), but with no shingle/distinct/
      // transform array materialized per row (NativeExprPropertySpec pins
      // the equivalence; the DuckDB oracle CTEs still mirror the composed
      // form)
      .select(col("doc_id"), Text.minhashSigNative(col("norm"), 8, numHashes).as("sig"))

  /** Candidate near-dup pairs from the deterministic minhash, banded LSH:
    * signatures split into numHashes/bandWidth bands; documents sharing any
    * full band join within that bucket (shuffle keyed on the band value —
    * never an all-pairs join), then survive if at least `minAgree` of the
    * numHashes signature positions agree (agreement fraction estimates
    * shingle Jaccard). Same algorithm shape as [[minhashCandidates]], but
    * every number is engine-portable integer math, so the full dedup is
    * DuckDB-oracled (row/schema/hash) instead of rows-only.
    *
    * Defaults tuned on the synthetic corpus: background pairs agree on ≤7
    * of 12 positions, planted near-dups on ≥10 — minAgree=9 splits the
    * bimodal gap (measured at sf0.001/0.01/0.1).
    *
    * Hands the pairs (doc_a < doc_b, agree) to `use` and returns its
    * result, with the signature frame cached while `use` runs and
    * unpersisted when it returns (the scope of [[minhashCandidates]]).
    * Why the cache is load-bearing (measured, not guessed): at test SF the
    * planner broadcasts one side of the band self-join, so ReuseExchange
    * never dedupes the two sides, AND the join's inferred
    * `isnotnull(band key)` constraint pushes the whole signature
    * computation down into each side's scan FILTER — without the cache the
    * per-row signature work ran up to 4× (q_simhash-class queries doubled
    * in the r4 bench). The cache evaluates it once.
    */
  def minhashDetCandidates[T](docs: DataFrame, numHashes: Int = 12,
                              bandWidth: Int = 2, minAgree: Int = 9)(use: DataFrame => T): T = {
    require(numHashes % bandWidth == 0, "bandWidth must divide numHashes")
    val sigs = minhashDetSignatures(docs, numHashes).cache()
    val nBands = numHashes / bandWidth
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          slice(col("sig"), b * bandWidth + 1, bandWidth).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.key"))
    val a = banded.as("a")
    val b = banded.as("b")
    try use(a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("agree"))
      .distinct()
      .filter(col("agree") >= minAgree))
    finally sigs.unpersist()
  }

  /** Dedup by deterministic-minhash candidates (single-linkage: drop every
    * doc with a near-dup of smaller id — same policy as [[minhashDedup]]). */
  def minhashDetDedup(docs: DataFrame, numHashes: Int = 12,
                      bandWidth: Int = 2, minAgree: Int = 9): DataFrame =
    minhashDetCandidates(docs, numHashes, bandWidth, minAgree)(dropLaterDups(docs, _))

  /** Transitive-closure dedup over the DETERMINISTIC candidate graph: one
    * kept doc (the component minimum) per connected component. Because the
    * edge set is engine-portable ([[minhashDetCandidates]]) and closure is
    * closure, this puts [[connectedComponents]] — pointer jumping,
    * checkpointing and all — under the DuckDB oracle (recursive-CTE
    * reachability on the oracle side). */
  def minhashDetDedupTransitive(docs: DataFrame, numHashes: Int = 12,
                                bandWidth: Int = 2, minAgree: Int = 9,
                                localThreshold: Long = 100000L): DataFrame =
    dropNonMinima(docs, minhashDetCandidates(docs, numHashes, bandWidth, minAgree)(
      connectedComponents(_, localThreshold = localThreshold)))

  def minhashDetTransitiveQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashDetDedupTransitive(Tuning.spread(Tables.documents(spark, dir)))
      .select($"doc_id", $"source", $"n_chars")
  }

  /** Same dedup, `localThreshold = 0`: the candidate graph at test SF
    * always fits the driver union-find fast path, so without this entry
    * the DISTRIBUTED pointer-jumping loop (the 100 TB path — keyed joins,
    * checkpointing, Σcluster convergence) would only ever run inside
    * scalatest. Registering it with the identical recursive-CTE oracle
    * keeps the scale path continuously timed by Bench and hash-verified
    * by the driver (r3 verdict #7). */
  def minhashDetTransitiveDistQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashDetDedupTransitive(Tuning.spread(Tables.documents(spark, dir)),
        localThreshold = 0L)
      .select($"doc_id", $"source", $"n_chars")
  }

  /** Registered FULLY-ORACLED query: kept documents after deterministic
    * MinHash banded dedup. The det pipeline's cost is the per-row
    * shingle/signature math, and a one-file scan plans ONE task —
    * [[graft.Tuning.spread]] repartitions it across the cores (a scan that
    * already fills them, as every table at 100 TB does, passes through). */
  def minhashDetDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashDetDedup(Tuning.spread(Tables.documents(spark, dir)))
      .select($"doc_id", $"source", $"n_chars")
  }

  /** Shared CTE chain of the deterministic-minhash candidate pipeline
    * (normalize → 8-gram rolling hashes → 12 affine minhashes → 6×2 bands
    * → bucket-join pairs with agreement counts). Shared with the composed
    * [[LlmData.llmPipeline]] oracle. */
  private[ops] val detCandSqlCtes =
    """n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, length(norm) - 6),
      |    i -> list_reduce(
      |      list_prepend(CAST(7 AS BIGINT),
      |        list_transform(regexp_extract_all(substring(norm, CAST(i AS INTEGER), 8), '.'),
      |          c -> CAST(ord(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647))) AS shingles
      |  FROM n WHERE length(norm) >= 8
      |), sig AS (
      |  SELECT doc_id, list_transform(range(0, 12),
      |    j -> list_min(list_transform(shingles,
      |      h -> (h * (1 + j * 1299721) + 7 + j * 104729) % 2147483647))) AS sig
      |  FROM sh
      |), bands AS (
      |  SELECT doc_id, sig, band, sig[band*2+1] AS k1, sig[band*2+2] AS k2
      |  FROM (SELECT doc_id, sig, unnest([0,1,2,3,4,5]) AS band FROM sig)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_filter(range(1, 13), i -> a.sig[i] = b.sig[i])) AS agree
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id
      |)""".stripMargin

  private val minhashDetDedupSql =
    s"""WITH $detCandSqlCtes, drops AS (
      |  SELECT DISTINCT doc_b FROM cand WHERE agree >= 9)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_b FROM drops)""".stripMargin

  /** Closure on the oracle side = recursive-CTE reachability; a node's
    * cluster is the minimum over itself and everything reachable. */
  private val minhashDetTransitiveSql =
    s"""WITH RECURSIVE $detCandSqlCtes, edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand WHERE agree >= 9
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM cand WHERE agree >= 9
      |), reach AS (
      |  SELECT src AS a, dst AS b FROM edges
      |  UNION
      |  SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON r.b = e.src
      |), labels AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
      |), drops AS (
      |  SELECT doc_id FROM labels WHERE cluster < doc_id)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin

  /** Quality-based SURVIVORSHIP over near-dup clusters — the curation
    * policy a real pipeline applies where [[minhashDetDedupTransitive]]
    * keeps the smallest id: connected components over the deterministic
    * MinHash candidate graph, then per cluster keep the HIGHEST-QUALITY
    * member ([[LlmData.qualityCol]] composite, deterministic doc_id
    * tie-break). "Which copy of a crawled page do we train on" is a
    * quality question, not an id question. Emits one row per multi-member
    * cluster: the min-id cluster label, member count, a doc_id-sum
    * membership checksum (a single mis-clustered doc hash-fails), the
    * survivor id and its quality (rounded 6dp on both engines; the ARGMAX
    * itself compares unrounded bit-identical IEEE doubles).
    *
    * Scale shape: candidate edges are LSH-banded (never all-pairs), CC is
    * the checkpointed pointer-jumping loop, and the survivor pick is one
    * row_number window partitioned by cluster over the CLUSTERED docs only
    * (near-dups are a small fraction of the corpus) — output is
    * cluster-count-sized. */
  def neardupSurvivor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tuning.spread(Tables.documents(spark, dir))
    val comps = minhashDetCandidates(docs)(connectedComponents(_))
    val quality = docs.select($"doc_id", LlmData.qualityCol($"text").as("quality"))
    val w = Window.partitionBy($"cluster").orderBy($"quality".desc, $"doc_id")
    comps.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        sum($"doc_id").as("id_sum"),
        max(when($"rn" === 1, $"doc_id")).as("survivor_id"),
        round(max(when($"rn" === 1, $"quality")), 6).as("survivor_quality"))
  }

  private val neardupSurvivorSql =
    s"""WITH RECURSIVE $detCandSqlCtes, edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand WHERE agree >= 9
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM cand WHERE agree >= 9
      |), reach AS (
      |  SELECT src AS a, dst AS b FROM edges
      |  UNION
      |  SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON r.b = e.src
      |), labels AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
      |), qd AS (
      |  SELECT doc_id,
      |    ${LlmData.qualityInlineSql} AS quality
      |  FROM documents
      |), m AS (
      |  SELECT l.cluster, l.doc_id, qd.quality,
      |    row_number() OVER (PARTITION BY l.cluster
      |      ORDER BY qd.quality DESC, l.doc_id) AS rn
      |  FROM labels l JOIN qd USING (doc_id)
      |)
      |SELECT cluster, COUNT(*) AS n_members, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
      |  round(MAX(CASE WHEN rn = 1 THEN quality END), 6) AS survivor_quality
      |FROM m GROUP BY 1""".stripMargin

  // ----------------------------------------------------------- SimHash dedup

  /** SimHash banded dedup candidates: 64-bit simhash per doc, banded into
    * four 16-bit keys; docs sharing any band join within that bucket and
    * survive if full Hamming distance <= maxHamming. Band count / width
    * give the standard LSH guarantee for hamming<=3 within 64 bits.
    * Hands the pairs (doc_a < doc_b, hamming) to `use` in the scope of
    * [[minhashDetCandidates]]: the banded hashes are cached while `use`
    * runs (without the cache the hash ran up to 4× per row — twice per
    * join side via the scan-pushed isnotnull(key) constraint — and the
    * bench query doubled).
    */
  def simhashCandidates[T](docs: DataFrame, maxHamming: Int = 3)(use: DataFrame => T): T =
    // native codegen'd hash (bit-identical to Text.simhash64 — pinned in
    // DotProductSpec); the HOF fold was this query's dominant cost
    simhashBandCandidates(docs, Text.simhash64Native(lower(col("text"))), maxHamming)(use)

  /** The banded self-join of [[simhashCandidates]] and
    * [[simhashDetCandidates]] over the per-doc hash `hash`. */
  private def simhashBandCandidates[T](docs: DataFrame, hash: Column, maxHamming: Int)(
      use: DataFrame => T): T = {
    val hashed = docs.select(col("doc_id"), hash.as("sh"))
    val banded = hashed.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.key"))
      .cache()
    val a = banded.as("a")
    val b = banded.as("b")
    try use(a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Text.hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming))
    finally banded.unpersist()
  }

  def simhashDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashCandidates(docs, maxHamming)(dropLaterDups(docs, _))

  /** Registered rows-only query: kept documents after SimHash dedup, over
    * the documents scan as it plans (one simhash per row is cheap next to
    * the banded self-join). */
  def simhashDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashDedup(Tables.documents(spark, dir))
      .select($"doc_id", $"source", $"n_chars")
  }

  // ------------------------------- deterministic SimHash dedup (oracled)

  /** SimHash banded dedup on the DETERMINISTIC 62-bit hash
    * ([[Text.simhashDet]]): four 16-bit bands key the bucket self-join
    * (hamming ≤ 3 over 62 bits guarantees at least one untouched band),
    * full Hamming check inside buckets. Same algorithm and `use` scope as
    * [[simhashCandidates]]; every number is engine-portable integer math,
    * so the dedup carries a full DuckDB oracle. */
  def simhashDetCandidates[T](docs: DataFrame, maxHamming: Int = 3)(use: DataFrame => T): T =
    // native codegen'd hash (bit-identical to Text.simhashDet)
    simhashBandCandidates(docs, Text.simhashDetNative(lower(col("text"))), maxHamming)(use)

  def simhashDetDedup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashDetCandidates(docs, maxHamming)(dropLaterDups(docs, _))

  /** Registered FULLY-ORACLED query: kept documents after deterministic
    * SimHash banded dedup (same partition-sizing note as
    * [[minhashDetDedupQuery]] — per-row vote math needs the repartition). */
  def simhashDetDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashDetDedup(Tuning.spread(Tables.documents(spark, dir)))
      .select($"doc_id", $"source", $"n_chars")
  }

  private val simhashDetDedupSql =
    """WITH t AS (
      |  SELECT doc_id, list_transform(string_split_regex(trim(lower(text)), '\s+'),
      |    w -> list_reduce(list_prepend(CAST(7 AS BIGINT),
      |           list_transform(regexp_extract_all(w, '.'), c -> CAST(ord(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 2147483647)) AS hs
      |  FROM documents
      |), sim AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 31), i ->
      |      CASE WHEN list_sum(list_transform(hs,
      |             h -> CASE WHEN (((1103515245 * h + 12345) % 2147483647) >> i) & 1 = 1
      |                  THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
      |    + (list_sum(list_transform(range(0, 31), i ->
      |      CASE WHEN list_sum(list_transform(hs,
      |             h -> CASE WHEN (((69069 * h + 362437) % 2147483647) >> i) & 1 = 1
      |                  THEN 1 ELSE -1 END)) > 0
      |           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) << 31) AS sh
      |  FROM t
      |), bands AS (
      |  SELECT doc_id, sh, band, (sh >> (band * 16)) & 65535 AS key
      |  FROM (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS band FROM sim)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      |  WHERE bit_count(CAST(xor(a.sh, b.sh) AS BIGINT)) <= 3)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_b FROM cand)""".stripMargin

  // ------------------------------------------------------------- ANN search

  /** Brute-force cosine top-k (the exactness baseline): the query rows
    * (vec_id < nQueries) broadcast against the corpus; dot products in
    * sequential double precision; per-query window top-k with id
    * tie-break. Linear in corpus size — the scan parallelizes perfectly;
    * at 100 TB you cap nQueries or switch to [[lshTopK]].
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 10): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (V.dotNative(col("emb"), col("qemb")) /
          (V.normNative(col("emb")) * V.normNative(col("qemb")))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def bruteForceTopKQuery(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(spark, dir))

  private val bruteForceTopKSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 3
      |), s AS (
      |  SELECT qid, vec_id,
      |    list_dot_product(emb, qemb)
      |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
      |  FROM e, q WHERE vec_id != qid)
      |SELECT qid, vec_id, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      |  FROM s)
      |WHERE rank <= 10""".stripMargin

  /** LSH-bucketed ANN (the scale path): random-hyperplane bucketing via
    * BucketedRandomProjectionLSH on the (unit-norm) embeddings — Euclidean
    * distance is monotone in cosine on the unit sphere — then
    * approxSimilarityJoin between queries and corpus, top-k per query.
    * Candidates come only from matching buckets: per-bucket shuffle join,
    * never all-pairs.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 10,
              bucketLength: Double = 0.5, numHashTables: Int = 6): DataFrame = {
    val e = emb.select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("features").as("qfeatures"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42)
      .fit(e)
    val joined = lsh.approxSimilarityJoin(
        e, q.withColumnRenamed("qfeatures", "features"), 2.0, "dist")
      .select(col("datasetB.qid").as("qid"), col("datasetA.vec_id").as("vec_id"), col("dist"))
      .filter(col("qid") =!= col("vec_id"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  def lshTopKQuery(spark: SparkSession, dir: String): DataFrame =
    lshTopK(Tables.embeddings(spark, dir))

  // --------------------------------- deterministic hyperplane ANN (oracled)

  /** Deterministic random-hyperplane LSH parameters: T tables × W sign
    * bits over D=64 dims. Hyperplane components derive from a fixed LCG
    * (pure integer math → the same IEEE double in any engine), so the
    * whole bucket→candidate→exact-rerank pipeline is DuckDB-oracled —
    * unlike the seeded MLlib [[lshTopK]].
    *
    * Honesty note on parameters: the synthetic embeddings are ISOTROPIC
    * noise (measured), the adversarial case for hyperplane LSH — at these
    * settings candidates run ~40-50% of the corpus for recall@10 ≈ 0.7.
    * On a real (clustered) embedding corpus the same shape is far more
    * selective; the SHAPE is what scales: signature build is linear,
    * candidates come only from per-(table,key) buckets, rerank is exact
    * cosine on candidates only. */
  private val AnnTables = 16
  private val AnnBits = 4
  private val AnnDims = 64

  /** Flat plane matrix for table `t` (row-major, `nBits` × [[AnnDims]]):
    * component (t,w,d) by the identical LCG formula as the oracle SQL.
    * Driver-side doubles — the same IEEE values the former per-plane
    * `lit(...)` arrays carried. */
  private def planesFor(t: Int, nBits: Int): Array[Double] =
    Array.tabulate(nBits * AnnDims) { i =>
      val w = i / AnnDims
      val d = i % AnnDims
      ((1103515245L * ((t.toLong * AnnBits + w) * AnnDims + d) + 12345L) % 2147483647L)
        .toDouble / 2147483647.0 * 2 - 1
    }

  /** Deterministic distinct dim pairs for a table's widening bits: each is
    * an AXIS-PAIR hyperplane sign(emb[a] − emb[b]) — a hyperplane with two
    * nonzero components, so it stays in the sign-LSH family, but costs
    * O(1) per row instead of a 64-dim dot product. The pair difference
    * (not a single dim's sign) keeps the bit ~fair under any common
    * per-dimension offset.
    *
    * Pairs are deduplicated WITHIN a table as unordered pairs (ADVICE
    * r10): two widening bits hashing to the same axis pair — in either
    * orientation, since sign(a−b) is the complement of sign(b−a) — would
    * be perfectly correlated, silently shrinking the effective key width
    * below [[adaptiveSignBits]]' bucket-occupancy target. On a hash
    * collision the generator probes forward (h+1, h+2, …) to the next
    * unused pair; 64 dims give 2,016 distinct unordered pairs for at most
    * 59 widening bits, so the probe always terminates. Returns the
    * flattened (a, b, a, b, …) layout [[graft.plans.SignBucketKey]] takes. */
  private[graft] def widenPairsFor(t: Int, nWiden: Int): Array[Int] = {
    val used = scala.collection.mutable.Set.empty[(Int, Int)]
    val out = new Array[Int](nWiden * 2)
    var i = 0
    while (i < nWiden) {
      val w = AnnBits + i
      var h = (t.toLong * 887L + w.toLong * 2654435761L) & 0x7fffffffL
      var a = 0; var b = 0
      var fresh = false
      while (!fresh) {
        a = (h % AnnDims).toInt
        val b0 = ((h / AnnDims) % (AnnDims - 1)).toInt
        b = if (b0 >= a) b0 + 1 else b0
        val key = (math.min(a, b), math.max(a, b))
        if (!used(key)) { used += key; fresh = true } else h += 1
      }
      out(i * 2) = a
      out(i * 2 + 1) = b
      i += 1
    }
    out
  }

  /** One row per (vec_id, table, key): the first [[AnnBits]] key bits are
    * sign bits of the embedding against the table's hyperplanes via the
    * FUSED native [[graft.plans.SignBucketKey]] — same sequential-fold
    * dots as graft_dot (bit-identical to DuckDB's list_dot_product; at
    * bits = AnnBits byte-identical to the oracled gadget's signature),
    * but one codegen'd loop per table instead of `bits` inlined
    * 64-iteration DotProduct loops. The composed form blew Janino's 64 KB
    * method limit (16 tables × bits dots in one doConsume), silently
    * dropping the WHOLE signature scan — the family's dominant cost — to
    * interpreted evaluation (r10 sf100 probe log). Bits BEYOND AnnBits
    * are O(1) axis-pair signs ([[widenPairsFor]]) — measured r10: widening
    * with full dot-product bits made the adaptive query SLOWER than fixed
    * at 100× data (134 s vs 77 s: the dot cost multiplied while
    * candidates were already cheap), so width must not multiply the dot
    * cost. */
  def hyperplaneSignatures(emb: DataFrame, tables: Int = AnnTables,
                           bits: Int = AnnBits): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), explode(array((0 until tables).map { t =>
        // the ENTIRE per-table key — base hyperplane bits AND widening
        // axis-pair bits — is one native expression: composing the
        // widening from per-bit when(element_at …) stayed in codegen but
        // ran 160× the 4-bit scan (65 s vs 0.4 s at sf10, SigWidthProbe)
        // because the Generate's one giant method outgrows what HotSpot
        // will optimize and Spark can't split expression code inside a
        // Generate's consume path
        val baseBits = math.min(bits, AnnBits)
        val pairs = widenPairsFor(t, math.max(0, bits - AnnBits))
        struct(lit(t).as("t"),
          call_function("graft_sign_key", col("emb"),
            lit(planesFor(t, baseBits)), lit(baseBits),
            lit(pairs)).as("key"))
      }: _*)).as("tk"))
      .select(col("vec_id"), col("emb"), col("tk.t"), col("tk.key"))

  /** Deterministic-LSH ANN top-k: queries (vec_id < nQueries) match corpus
    * vectors sharing any (table, key) bucket; candidates are exactly
    * reranked by sequential-double cosine. Fully oracled. */
  def lshDetTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 10): DataFrame =
    signBucketTopK(emb, nQueries, k, AnnBits)

  /** Smallest signature width b (floored at [[AnnBits]]) with n / 2^b ≤
    * `targetBucket` — pure integer bit-length math, no libm. bits ≈ log₂ n
    * is the standard sign-LSH sizing: per-table bucket occupancy (and so
    * candidate volume per query) stays ~`targetBucket`-bounded as the
    * corpus grows, instead of n/2^const growing linearly (SCALE.md flagged
    * the fixed-bits query as the family's decade-out quadratic). */
  def adaptiveSignBits(n: Long, targetBucket: Long = 256L): Int = {
    val need = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, (n - 1) / targetBucket))
    math.max(AnnBits, need)
  }

  /** Largest embeddings count at which [[adaptiveSignBits]] still floors
    * at [[AnnBits]] — i.e. where `q_ann_lsh_adaptive` coincides with the
    * fixed oracled gadget (`q_ann_lsh_det`). 256·2^AnnBits; pinned to the
    * function itself by OracleContractSpec. */
  private[graft] val AdaptiveGadgetMaxN: Long = 256L << AnnBits

  /** Largest embeddings count at which [[lshDetTopKBatch]]'s WHOLE
    * schedule (nQueries = max(3, n/1000) = 3 AND bits = AnnBits)
    * coincides with the gadget — the query-count axis binds first:
    * n/1000 reaches 4 at 4000 while bits widen only above
    * [[AdaptiveGadgetMaxN]]. */
  private[graft] val BatchGadgetMaxN: Long = 3999L

  /** Scale-adaptive deterministic sign-LSH top-k (r9 verdict item 2,
    * mirroring the IVF auto-k treatment): bits = [[adaptiveSignBits]] of
    * the corpus count, everything else identical to [[lshDetTopK]] — which
    * stays registered at fixed bits as the ORACLED correctness gadget
    * (adaptive bits depend on count; widened keys are a distinct hash
    * family, so this registers rows-only with a clustered-fixture recall
    * floor in LlmDataSpec). At verify SF (n ≤ 2k) adaptive resolves to
    * AnnBits, so the two queries coincide there by construction — the
    * first AnnBits key bits are SHARED with the gadget at any width.
    * The corpus count comes from [[corpusCount]] — parquet footer
    * metadata when the frame is a plain table read (no scan job; r10
    * verdict item 4), an executed count() otherwise. */
  def lshDetTopKAdaptive(emb: DataFrame, nQueries: Long = 3, k: Int = 10): DataFrame =
    signBucketTopK(emb, nQueries, k, adaptiveSignBits(corpusCount(emb)))

  /** Corpus size for the adaptive family's sizing decisions: parquet
    * footer metadata when statically safe ([[graft.plans.RelationStats]]),
    * else one executed count. Identical value either way, so every bits/k
    * schedule derived from it is byte-identical to the eager-count
    * implementation. */
  private[graft] def corpusCount(emb: DataFrame): Long =
    graft.plans.RelationStats.footerRowCount(emb).getOrElse(emb.count())

  /** BATCH-query deterministic sign-LSH ANN — the query-COUNT scaling
    * axis (r10 verdict item 1). The per-query framing (`nQueries = 3`)
    * measures corpus growth at fixed query count, but a production
    * similarity service scales its query batch WITH the corpus; with
    * fixed-width keys that goes quadratic (queries × bucket occupancy
    * both grow linearly — SCALE.md sf100 notes). This registers the
    * scale-safe composition: query count ∝ corpus
    * (`max(3, n/1000)` — 3 at verify/bench SF, 200 at sf10, 2,000 at
    * sf100) AND adaptive key width ([[adaptiveSignBits]], bucket
    * occupancy ~256-bounded), so candidates per query stay O(tables ×
    * target) and TOTAL work stays linear in n even as both axes grow.
    *
    * Shape: both sides key by the fused native `graft_sign_key` and meet
    * in ONE relational (t, key) join — Spark picks broadcast while the
    * query batch is small and AQE shifts to a shuffle join as the batch
    * grows; there is no per-query loop anywhere. Per-query top-k is a
    * window over the candidate set. Rows-only registry entry (query count
    * and key width both depend on n); at verify SF it resolves to
    * nQueries=3 / bits=[[AnnBits]] and therefore coincides with the
    * oracled `q_ann_lsh_det` by construction (LlmDataSpec pins this). */
  def lshDetTopKBatch(emb: DataFrame, k: Int = 10): DataFrame = {
    val n = corpusCount(emb)
    signBucketTopK(emb, math.max(3L, n / 1000L), k, adaptiveSignBits(n))
  }

  private def signBucketTopK(emb: DataFrame, nQueries: Long, k: Int,
                             bits: Int): DataFrame = {
    // No cache: the query side's vec_id filter pushes below the signature
    // projection, so it recomputes hyperplane signatures for nQueries rows
    // only (O(1) in corpus size); the corpus side evaluates once into the
    // bucket join's shuffle. Nothing stays pinned in storage (ADVICE r3).
    val sigs = hyperplaneSignatures(emb, AnnTables, bits)
    val ids = sigs.select(col("vec_id"), col("t"), col("key"))
    val qids = ids.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("t"), col("key"))
    val cand = qids.join(ids, Seq("t", "key"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id")).distinct()
    // rerank reads embeddings from the source frame (a distinct over the
    // exploded sigs would shuffle the full array column for nothing)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e, Seq("vec_id"))
      .join(e.select(col("vec_id").as("qid"), col("emb").as("qemb")), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (V.dotNative(col("emb"), col("qemb")) /
          (V.normNative(col("emb")) * V.normNative(col("qemb")))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def lshDetTopKQuery(spark: SparkSession, dir: String): DataFrame =
    lshDetTopK(Tables.embeddings(spark, dir))

  def lshDetTopKAdaptiveQuery(spark: SparkSession, dir: String): DataFrame =
    lshDetTopKAdaptive(Tables.embeddings(spark, dir))

  def lshDetTopKBatchQuery(spark: SparkSession, dir: String): DataFrame =
    lshDetTopKBatch(Tables.embeddings(spark, dir))

  private val lshDetTopKSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |), sig AS (
      |  SELECT vec_id, emb, t.t,
      |    list_sum(list_transform(range(0, 4), w ->
      |      CASE WHEN list_dot_product(emb,
      |        list_transform(range(0, 64), d ->
      |          CAST((1103515245 * ((t.t * 4 + w) * 64 + d) + 12345) % 2147483647 AS DOUBLE)
      |            / 2147483647.0 * 2 - 1)) > 0
      |      THEN (CAST(1 AS BIGINT) << w) ELSE 0 END)) AS key
      |  FROM e, (SELECT unnest(range(0, 16)) AS t) t
      |), qs AS (
      |  SELECT vec_id AS qid, t, key FROM sig WHERE vec_id < 3
      |), cand AS (
      |  SELECT DISTINCT qs.qid, s.vec_id
      |  FROM qs JOIN sig s ON qs.t = s.t AND qs.key = s.key AND s.vec_id != qs.qid
      |), scored AS (
      |  SELECT c.qid, c.vec_id,
      |    list_dot_product(v.emb, q.emb)
      |      / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(q.emb, q.emb))) AS cos
      |  FROM cand c JOIN e v ON c.vec_id = v.vec_id JOIN e q ON c.qid = q.vec_id)
      |SELECT qid, vec_id, cos, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      |  FROM scored)
      |WHERE rank <= 10""".stripMargin

  // ----------------------------------------------------- cosine near-dup

  /** Embedding-cosine near-duplicate pairs, IVF-style: candidates are
    * generated within a coarse-cluster block (here the `label` column — in
    * production the assignment of a k-means coarse quantizer), then scored
    * with the exact sequential-double cosine. Blocked candidate generation
    * keeps the pair count at Σ(block²) instead of corpus², and the
    * block-keyed self-join shuffles on the cluster id — the standard IVF
    * trade: recall bounded by the quantizer, never an all-pairs join.
    */
  def cosineNearDupBlocked(emb: DataFrame, blockCol: String = "label",
                           minCos: Double = 0.3,
                           maxRowsPerBlock: Int = Int.MaxValue): DataFrame = {
    val e = emb.select(col("vec_id"), col(blockCol).as("block"),
      col("embedding").cast("array<double>").as("emb"))
    // Optional probe-scale bound (r10 verdict item 2): the FIXED-cardinality
    // block column is the correctness gadget's shape, and Σ block² on fixed
    // blocks is quadratic in n by construction — measured 2,700 s at sf100.
    // A deterministic per-block slice (first `maxRowsPerBlock` vec_ids)
    // bounds each block's pair work; callers choose a cap that is a NO-OP
    // at their verification scale so oracle hashes are untouched.
    // ADVICE r11: a BINDING cap must be observable, not silent — the
    // pre-filter frame carries an `observe` node (rows dropped + widest
    // block seen; streaming aggregates, no extra job) and a session-level
    // QueryExecutionListener WARN-logs whenever rows_dropped > 0, so a
    // corpus that outgrows the cap announces itself at run time instead of
    // only failing the 2×-margin fixture test.
    val capped =
      if (maxRowsPerBlock == Int.MaxValue) e
      else {
        CapBindingWarner.register(e.sparkSession)
        val w = Window.partitionBy(col("block")).orderBy(col("vec_id"))
        e.withColumn("graft_rn", row_number().over(w))
          .observe(CapBindingWarner.MetricName,
            coalesce(sum(when(col("graft_rn") > maxRowsPerBlock, lit(1L))
              .otherwise(lit(0L))), lit(0L)).as("rows_dropped"),
            coalesce(max(col("graft_rn")), lit(0)).as("max_block_rows"))
          .filter(col("graft_rn") <= maxRowsPerBlock).drop("graft_rn")
      }
    cosinePairsInBlocks(capped, minCos)
  }

  /** Shared IVF pair scorer: exact cosine over candidate pairs generated
    * within a block (block-keyed self-join — Σ(block²) pairs, never
    * corpus²). Input needs (vec_id, block, emb: array<double>).
    *
    * The self-join is TRIANGULARLY TILED (the r9 100× probe's one
    * super-linear finding): a plain join on `block` has exactly one
    * shuffle key per block, so a 10-block corpus runs its Σ(block²) pair
    * work on 10 tasks no matter how many cores/executors exist — at 100×
    * data that serialized 2×10⁹ pairs onto a third of the machine
    * (measured 452× wall at 100× bytes). Each row is hashed into one of
    * `nTiles` sub-buckets; side A replicates a row to tiles (s, q ≥ s),
    * side B to tiles (p ≤ s, s), and the join key becomes
    * (block, p, q) — every unordered in-block pair lands in EXACTLY one
    * of the nTiles·(nTiles+1)/2 tiles (cross-tile pairs once by
    * construction; diagonal tiles deduped by the id inequality), so the
    * same pair set now spreads over blocks × tiles² keys. Replication
    * cost: each input row crosses the shuffle (nTiles+1) times — rows are
    * the cheap dimension here; pairs are the expensive one. Output is
    * bit-identical (dot/norm folds are orientation-independent:
    * a·b ≡ b·a in IEEE, so least/greatest id normalization changes no
    * double) and the DuckDB oracle is untouched. */
  private def cosinePairsInBlocks(e0: DataFrame, minCos: Double,
                                  nTiles: Int = 8): DataFrame = {
    // Norms are precomputed per ROW before the join — higher-order array
    // expressions are CodegenFallback (interpreted, no CSE), so a norm
    // inside the pair expression would be re-evaluated once per partner.
    val e = e0.withColumn("nrm", V.normNative(col("emb")))
      .withColumn("tile", pmod(hash(col("vec_id")), lit(nTiles)))
    val a = e.withColumn("q", explode(sequence(col("tile"), lit(nTiles - 1))))
      .select(col("vec_id").as("ida"), col("emb").as("emba"),
        col("nrm").as("nrma"), col("block"), col("tile").as("p"), col("q"))
    val b = e.withColumn("p", explode(sequence(lit(0), col("tile"))))
      .select(col("vec_id").as("idb"), col("emb").as("embb"),
        col("nrm").as("nrmb"), col("block"), col("p"), col("tile").as("q"))
    a.join(b, Seq("block", "p", "q"))
      .filter(col("p") < col("q") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        (V.dotNative(col("emba"), col("embb")) / (col("nrma") * col("nrmb"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Learned coarse quantizer for the IVF path: spark.ml KMeans (seed
    * pinned) fit on the embedding column; output = input plus a `block`
    * column holding the cluster assignment. At 100 TB the fit runs over a
    * sample and assignment is a narrow broadcast-centroid map — both
    * linear, no shuffle beyond the fit's own aggregations. */
  def kmeansBlocks(emb: DataFrame, k: Int, seed: Long = 42): DataFrame =
    kmeansAssign(emb, k, seed)._2

  /** Fit + assign, also returning the learned centroids (driver-side:
    * k × dims doubles — O(1) in corpus size). */
  def kmeansAssign(emb: DataFrame, k: Int,
                   seed: Long = 42, maxIter: Int = 10): (Array[Array[Double]], DataFrame) = {
    val vecs = emb.withColumn("features", array_to_vector(col("embedding")))
    // maxIter 10 (not MLlib's 20): a coarse quantizer only needs stable
    // cells, not converged centroids — block assignment quality plateaus
    // well before the default budget and the fit dominates query cost
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("block")
      .fit(vecs)
    (model.clusterCenters.map(_.toArray), model.transform(vecs).drop("features"))
  }

  /** Embedding-cosine near-dup with the LEARNED quantizer (completes the
    * IVF shape: [[cosineNearDupBlocked]] on `label` stays the oracled
    * correctness query — KMeans centroids aren't SQL-reproducible, so this
    * registers rows-only; recall vs ground truth is scalatest-asserted on
    * a clustered fixture).
    *
    * `k <= 0` = AUTO: k = max(16, n/2000), i.e. the quantizer cardinality
    * TRACKS the corpus so mean cell size stays ~bounded. This is the IVF
    * scale contract the fixed-cardinality oracled query cannot express
    * (its `label` blocking is the correctness gadget; pair work within a
    * fixed partitioning is inherently Σ cell² — FAISS guidance is
    * nlist ≈ √N for the same reason). With bounded cells, candidate pairs
    * grow LINEARLY in corpus size at fixed duplicate density — measured
    * in the r9 100× probe writeup (SCALE.md). At test SF (n < 32k) auto
    * resolves to 16, so registered output is unchanged. */
  def cosineNearDupKMeans(emb: DataFrame, k: Int = -1,
                          minCos: Double = 0.3, seed: Long = 42): DataFrame = {
    // r11 verdict item 3: auto-k sizing reads n from parquet FOOTER
    // metadata when the frame is a plain table read (the production case
    // — zero Spark jobs, RelationStatsSpec-asserted), so the KMeans fit is
    // the ONLY eager pass and no sizing cache is needed. The k schedule is
    // byte-identical either way (footer count == executed count by
    // contract). Only the fallback (filtered/joined/in-memory frames,
    // where the footer is unsafe) still runs count() — and only THAT path
    // caches around its two eager passes (ADVICE r9), managing solely a
    // cache we created (ADVICE r10: an unpersist on a caller-cached frame
    // would silently drop the caller's entry).
    val footerN =
      if (k > 0) None else graft.plans.RelationStats.footerRowCount(emb)
    val cached =
      if (k > 0 || footerN.isDefined ||
          emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE) None
      else Some(emb.cache())
    try {
      val kk =
        if (k > 0) k
        else math.max(16L, footerN.getOrElse(emb.count()) / 2000L).toInt
      cosinePairsInBlocks(
        kmeansBlocks(emb, kk, seed).select(col("vec_id"), col("block"),
          col("embedding").cast("array<double>").as("emb")), minCos)
    } finally cached.foreach(_.unpersist())
  }

  /** The auto-k schedule in isolation (k = max(16, n/2000), quantizer
    * cardinality tracking the corpus — see [[cosineNearDupKMeans]]),
    * exposed so RelationStatsSpec can assert the sizing decision runs
    * ZERO Spark jobs on a plain table read. */
  private[graft] def autoQuantizerK(emb: DataFrame): Int =
    math.max(16L, corpusCount(emb) / 2000L).toInt

  def cosineNearDupKMeansQuery(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupKMeans(Tables.embeddings(spark, dir))

  /** IVF top-k search — the standard billion-scale ANN shape: corpus rows
    * are assigned to a KMeans coarse quantizer's cells once; each query
    * probes its `nProbe` nearest centroids and exact-reranks only the rows
    * in those cells. Cost per query = nlist centroid distances (tiny,
    * broadcast) + |probed cells| exact cosines — corpus scan work scales
    * with nProbe/nlist, not corpus size. Recall is tunable via nProbe
    * (scalatest-asserted on a clustered fixture; rows-only registry entry
    * since KMeans centroids aren't SQL-reproducible).
    */
  def ivfTopK(emb: DataFrame, nQueries: Int = 3, k: Int = 10,
              nlist: Int = 16, nProbe: Int = 4, seed: Long = 42): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (centers, assignedRaw) = kmeansAssign(emb, nlist, seed)
    // No cache: the rerank join is `assigned`'s ONLY consumer — the query
    // vectors come straight from the source frame below (they don't need a
    // cell assignment), so nothing evaluates the KMeans transform twice
    // and nothing stays pinned in storage (ADVICE r3).
    val assigned = assignedRaw
      .select(col("vec_id"), col("block"), col("embedding").cast("array<double>").as("emb"))
    // the model's centroids as a tiny broadcast relation (nlist × dims)
    val cents = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("block", "centroid")
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qemb"))
    // probe: distance of each query to each centroid (nlist × nQueries rows)
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("block"))
    val probed = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("qemb"), col("block"),
        (V.dotNative(col("centroid"), col("centroid")) -
          lit(2.0) * V.dotNative(col("qemb"), col("centroid"))).as("cdist"))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nProbe)
      .select(col("qid"), col("qemb"), col("block"))
    // rerank: exact cosine over the probed cells only
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    probed.join(assigned, Seq("block"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        (V.dotNative(col("emb"), col("qemb")) /
          (V.normNative(col("emb")) * V.normNative(col("qemb")))).as("cos"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
  }

  def ivfTopKQuery(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(Tables.embeddings(spark, dir))

  /** TRANSITIVE embedding-cosine dedup — the closure variant the MinHash
    * family has ([[minhashDedupTransitive]]), completing the embedding
    * near-dup family (r11): connected components over the blocked cosine
    * pair graph, keep the MINIMUM vec_id per component. Single-linkage
    * ("drop if a smaller direct neighbor exists") over-keeps on chains —
    * pairs 1–5, 5–3 keep {1, 3} though the component is {1, 3, 5}; the
    * closure keeps only {1} (spec-asserted on an angle-chain fixture).
    *
    * Scale shape: pair generation is the blocked+tiled
    * [[cosineNearDupBlocked]] (never all-pairs); the component loop is
    * [[connectedComponents]] (pointer-jumping, checkpointed, driver
    * union-find only under 100k edges); the drop set is pair-graph-sized.
    * Fully DuckDB-oracled: the pair CTE is the oracled gadget's, the
    * closure the same recursive CTE as the minhash transitive oracle. */
  def cosineNearDupTransitive(emb: DataFrame, blockCol: String = "label",
                              minCos: Double = 0.3,
                              maxRowsPerBlock: Int = Int.MaxValue): DataFrame = {
    val pairs = cosineNearDupBlocked(emb, blockCol, minCos, maxRowsPerBlock)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    dropNonMinima(emb, connectedComponents(pairs), key = "vec_id")
  }

  def cosineNearDupTransitiveQuery(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupTransitive(Tables.embeddings(spark, dir),
      maxRowsPerBlock = GadgetBlockCap)
      .select(col("vec_id"), col("label"))

  private val cosineNearDupTransitiveSql =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, label AS block, CAST(embedding AS DOUBLE[]) AS emb,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |), pairs AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.3
      |), edges AS (
      |  SELECT src, dst FROM pairs
      |  UNION
      |  SELECT dst AS src, src AS dst FROM pairs
      |), reach AS (
      |  SELECT src AS a, dst AS b FROM edges
      |  UNION
      |  SELECT r.a, e2.dst AS b FROM reach r JOIN edges e2 ON r.b = e2.src
      |), labels AS (
      |  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
      |), drops AS (
      |  SELECT vec_id FROM labels WHERE cluster < vec_id)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** Probe-scale bound for the registered gadget query: 4,096 rows per
    * label block. A NO-OP at every oracle scale (verify sf0.01 blocks are
    * ~50 rows, bench sf0.1 blocks ~200 — the Verify hash gates that), but
    * at the 100×/1000× probe corpora it caps the gadget's Σ block² pair
    * work at 10 × 4096²/2 instead of the measured 2,700 s quadratic
    * (SCALE.md sf100 table) — the r10 verdict's one registered
    * scale-killer. The UNCAPPED operator remains available via the
    * default parameter; the production path at scale is
    * [[cosineNearDupKMeans]], whose quantizer cardinality tracks n. */
  private[ops] val GadgetBlockCap = 4096

  /** Session-level observer for the block-cap `observe` metric (ADVICE
    * r11): WARN-logs whenever a capped near-dup scan actually DROPPED rows
    * — i.e. the registered `q_cosine_neardup`/`q_cosine_neardup_transitive`
    * returned a strict subset of the uncapped (= oracle) semantics. At
    * every oracle SF the cap is a no-op (fixture-tested at 2× margin), so
    * in a green pipeline this never fires; at probe/production corpora it
    * turns a silent truncation into a logged, metric-backed signal.
    * Idempotent per session; the listener reads the query's own observed
    * metrics — no extra job, no driver data. */
  private[ops] object CapBindingWarner extends org.apache.spark.internal.Logging {
    val MetricName = "graft_block_cap"
    // WEAK identity set (ADVICE r12): a strong set would pin every session
    // (and its listener graph) for the life of the JVM — a long-lived
    // service creating many sessions could never collect any of them. The
    // listener itself is held by the session's own listenerManager, so a
    // collected session takes its registration with it.
    private val registered = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
    def register(spark: SparkSession): Unit =
      if (registered.add(spark)) {
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.get(MetricName).foreach { row =>
                val dropped = row.getAs[Long]("rows_dropped")
                if (dropped > 0)
                  logWarning(s"GadgetBlockCap bound: $dropped rows beyond the " +
                    s"$GadgetBlockCap-rows/block cap were excluded from a capped " +
                    s"near-dup pair scan (widest block: " +
                    s"${row.get(row.fieldIndex("max_block_rows"))} rows). The capped " +
                    "result is a strict SUBSET of the documented uncapped semantics " +
                    "at this corpus size — use cosineNearDupKMeans (quantizer " +
                    "cardinality tracks n) as the production path.")
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
      }
  }

  /** Registered correctness gadget. NOTE the cap consumers should know
    * about: pair generation is bounded to the first [[GadgetBlockCap]]
    * vec_ids per label block — a no-op at every oracle SF (hash-gated),
    * but on a corpus whose blocks outgrow the cap the result is a strict
    * subset of the uncapped semantics; a binding cap WARN-logs with a
    * dropped-row metric ([[CapBindingWarner]]) and the production-scale
    * path is `q_cosine_neardup_kmeans`. */
  def cosineNearDupQuery(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupBlocked(Tables.embeddings(spark, dir),
      maxRowsPerBlock = GadgetBlockCap)

  private val cosineNearDupSql =
    """WITH e AS (
      |  SELECT vec_id, label AS block, CAST(embedding AS DOUBLE[]) AS emb,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)
      |SELECT vec_a, vec_b, cos FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
      |  FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id)
      |WHERE cos >= 0.3""".stripMargin

  // ------------------------------------------------- embedding quantization

  /** Int8 embedding quantization with reconstruction-error audit — the
    * storage step of an embedding corpus (4× smaller vectors for the ANN
    * index, with a measurable accuracy budget): per vector, scale =
    * 127/max|v|, q_i = clamp(⌊v_i·scale + 0.5⌋, ±127), and the
    * reconstruction MSE Σ(v_i − q_i/scale)² is computed in a SEQUENTIAL
    * double fold. Everything is order-pinned IEEE math — `floor(x+0.5)`
    * instead of `round` (engines disagree on round's ties), explicit
    * `(d)·(d)` instead of `pow` — so even the MSE doubles hash-match the
    * oracle bit-for-bit. Per-row scalar work, no shuffle. */
  /** Adds the canonical int8 quantization columns to a frame holding a
    * double-array column `embCol`: `scale` = 127/max|v| (zero vectors
    * dropped) and `qv` = clamp(⌊v·scale + 0.5⌋, ±127). ONE definition on
    * purpose — [[quantizeEmbeddings]], [[randomProjection]] and
    * [[labelCentroids]] all depend on this exact rounding bit-for-bit
    * (their oracles inline the same formula), so the expression must
    * never fork. */
  private def withInt8Codes(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("amax", array_max(transform(col(embCol), v => abs(v))))
      .filter(col("amax") > 0)
      .withColumn("scale", lit(127.0) / col("amax"))
      .withColumn("qv", transform(col(embCol), v =>
        greatest(lit(-127L), least(lit(127L),
          floor(v * col("scale") + lit(0.5)).cast("long")))))
      .drop("amax")

  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val q = withInt8Codes(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), "emb")
    q.select(col("vec_id"), col("scale"),
      aggregate(col("qv"), lit(0L), (a, v) => a + v).as("q_sum"),
      aggregate(col("qv"), lit(0L), (a, v) => a + abs(v)).as("q_abs"),
      aggregate(zip_with(col("emb"), col("qv"),
          (v, qq) => (v - qq / col("scale")) * (v - qq / col("scale"))),
        lit(0.0), (a, d) => a + d).as("mse"))
  }

  def quantizeEmbeddingsQuery(spark: SparkSession, dir: String): DataFrame =
    quantizeEmbeddings(Tables.embeddings(spark, dir))

  private val quantizeEmbeddingsSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      |  FROM embeddings
      |), s AS (
      |  SELECT vec_id, emb, 127.0 / amax AS scale FROM e WHERE amax > 0
      |), q AS (
      |  SELECT vec_id, emb, scale,
      |    list_transform(emb, x ->
      |      GREATEST(-127, LEAST(127, CAST(floor(x * scale + 0.5) AS BIGINT)))) AS qv
      |  FROM s
      |)
      |SELECT vec_id, scale,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, b) -> a + b) AS q_sum,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(qv, x -> abs(x))), (a, b) -> a + b) AS q_abs,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(1, len(emb) + 1), i ->
      |      (emb[CAST(i AS INTEGER)] - qv[CAST(i AS INTEGER)] / scale)
      |        * (emb[CAST(i AS INTEGER)] - qv[CAST(i AS INTEGER)] / scale))),
      |    (a, b) -> a + b) AS mse
      |FROM q""".stripMargin

  /** Two-stage retrieval with an exact re-score — the rerank slot of a
    * retrieval pipeline (candidate → ANN → rerank), r6 verdict item 8.
    *
    * Stage 1 (retrieval) ranks the corpus per query by the cosine of the
    * int8-quantized codes ([[withInt8Codes]]'s canonical rounding). The
    * per-vector scale factors CANCEL inside cosine, so the approximate
    * score reads no float data at all — at 100 TB the int8 codes are 4×
    * smaller than the float corpus, the integer dot is SIMD-friendly,
    * and the scan is the linear broadcast-query shape of
    * [[bruteForceTopK]] (swap in [[lshDetTopK]]'s buckets when even the
    * code scan is too much). All integer dots are exact in double, sqrt
    * is correctly rounded IEEE — stage 1 is bit-reproducible.
    *
    * Stage 2 (rerank) joins ONLY the top-`kCand` candidates per query
    * back to the full-precision vectors and re-scores with the exact
    * sequential-double cosine — the cross-encoder slot: the expensive
    * scorer touches O(queries × kCand) pairs, never the corpus. The
    * output carries `approx_rank` next to the final `rank`, so the
    * REORDERING the rerank performs is itself pinned under the oracle
    * hash, not just the final ordering. */
  def rerankTopK(emb: DataFrame, nQueries: Int = 3, kCand: Int = 20,
                 k: Int = 5): DataFrame = {
    val coded = withInt8Codes(
        emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), "emb")
      .withColumn("qd", transform(col("qv"), v => v.cast("double")))
      // norms per ROW before any join: higher-order array expressions are
      // CodegenFallback (no CSE) — inside the pair expression they would
      // re-evaluate once per partner
      .withColumn("qnrm", V.normNative(col("qd")))
    val corpus = coded.select(col("vec_id"), col("qd"), col("qnrm"))
    val queries = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qd").as("qqd"), col("qnrm").as("qqnrm"))
    val wA = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("vec_id"))
    val cand = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (V.dotNative(col("qd"), col("qqd")) / (col("qnrm") * col("qqnrm"))).as("qcos"))
      .withColumn("approx_rank", row_number().over(wA))
      .filter(col("approx_rank") <= kCand)
    // rerank reads full-precision vectors from the SAME zero-filtered frame
    // the codes came from (mirrors the oracle's CTE reuse)
    val full = coded.select(col("vec_id"), col("emb"), V.normNative(col("emb")).as("nrm"))
    val wB = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(full, Seq("vec_id"))
      .join(full.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("query_nrm")), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("approx_rank"), col("qcos"),
        (V.dotNative(col("emb"), col("qemb")) / (col("nrm") * col("query_nrm"))).as("cos"))
      .withColumn("rank", row_number().over(wB))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("approx_rank"), col("rank"),
        col("qcos"), col("cos"))
  }

  def rerankTopKQuery(spark: SparkSession, dir: String): DataFrame =
    rerankTopK(Tables.embeddings(spark, dir))

  private val rerankTopKSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      |  FROM embeddings
      |), s AS (
      |  SELECT vec_id, emb, 127.0 / amax AS scale FROM e WHERE amax > 0
      |), q8 AS (
      |  SELECT vec_id, emb,
      |    list_transform(emb, x -> CAST(
      |      GREATEST(-127, LEAST(127, CAST(floor(x * scale + 0.5) AS BIGINT)))
      |      AS DOUBLE)) AS qd
      |  FROM s
      |), qn AS (
      |  SELECT vec_id, emb, qd, sqrt(list_dot_product(qd, qd)) AS qnrm FROM q8
      |), qry AS (
      |  SELECT vec_id AS qid, qd AS qqd, qnrm AS qqnrm FROM qn WHERE vec_id < 3
      |), s1 AS (
      |  SELECT qid, c.vec_id,
      |    list_dot_product(c.qd, qqd) / (c.qnrm * qqnrm) AS qcos
      |  FROM qn c, qry WHERE c.vec_id != qid
      |), r1 AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY qcos DESC, vec_id) AS INTEGER) AS approx_rank
      |  FROM s1
      |), cand AS (
      |  SELECT * FROM r1 WHERE approx_rank <= 20
      |), fullv AS (
      |  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM qn
      |), rr AS (
      |  SELECT c.qid, c.vec_id, c.approx_rank, c.qcos,
      |    list_dot_product(v.emb, q.emb) / (v.nrm * q.nrm) AS cos
      |  FROM cand c
      |  JOIN fullv v ON c.vec_id = v.vec_id
      |  JOIN fullv q ON c.qid = q.vec_id
      |)
      |SELECT qid, vec_id, approx_rank, rank, qcos, cos FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      |  FROM rr)
      |WHERE rank <= 5""".stripMargin

  /** Per-label centroid of the int8-quantized embeddings — the cluster-
    * profile analytics an embedding corpus ships with (and the update step
    * of any quantized k-means): long-format (label, dim) sums over the
    * integer codes, so the whole centroid matrix is exact 64-bit math and
    * hash-checks in any engine (a float centroid could only be compared
    * to tolerance — partial double sums are partitioning-dependent).
    * Mean code in milli-units via truncating integer division (Spark
    * `div` == DuckDB `//` on integers, both toward zero).
    *
    * Scale shape: per-row quantize scalar → posexplode (linear, dims ≪
    * corpus) → ONE hash agg on (label, dim); output is labels × dims,
    * data-size-independent. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    // NOT spread (r18, measured): repartitioning the wide embedding arrays
    // costs as much as the 0.73 s serial quantize+posexplode it would
    // parallelize (solo 1.2 s -> 1.3-1.7 s with spread) — the exchange
    // moves 64 doubles/row where the serial stage only reads them.
    val e = withInt8Codes(Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("emb")), "emb")
    e.select(col("label"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
      .withColumn("mean_q_milli", expr("(sum_q * 1000) div n_vecs"))
  }

  private val labelCentroidsSql =
    """WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS emb,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      |  FROM embeddings
      |), q AS (
      |  SELECT label,
      |    list_transform(emb, x ->
      |      GREATEST(-127, LEAST(127, CAST(floor(x * (127.0 / amax) + 0.5) AS BIGINT)))) AS qv
      |  FROM e WHERE amax > 0
      |), x AS (
      |  SELECT label, CAST(i - 1 AS INTEGER) AS dim, qv[CAST(i AS INTEGER)] AS q
      |  FROM (SELECT label, qv, unnest(range(1, len(qv) + 1)) AS i FROM q)
      |)
      |SELECT label, dim, COUNT(*) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_q,
      |  (CAST(SUM(q) AS BIGINT) * 1000) // COUNT(*) AS mean_q_milli
      |FROM x GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------ signed random projection

  /** Johnson–Lindenstrauss-style signed random projection over the int8-
    * quantized embeddings: 64 input dims → 16 output dims through a ±1
    * matrix derived from an affine hash of (i·16 + j) — no stored matrix,
    * no RNG state, any engine regenerates it bit-identically. Because the
    * inputs are the quantized integers from [[quantizeEmbeddings]], every
    * projected coordinate is exact 64-bit integer math, so the oracle
    * hash-checks the full projection (a float projection could only be
    * compared to tolerance). This is the cheap dimension-reduction tier
    * for ANN/dedup at scale: per-row narrow work, zero shuffles, output
    * 4× smaller than the input embedding. Emits per-vector projection
    * checksum, range, and first coordinate — any changed coordinate shifts
    * `proj_check`. */
  def randomProjection(emb: DataFrame): DataFrame = {
    val outDims = 16
    val e = withInt8Codes(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("em")), "em")
    // sign(i, j) = parity of ((i·outDims + j) · 2654435761) mod (2³¹−1):
    // deterministic, engine-portable, and distinct per matrix cell
    val proj = e.withColumn("proj",
      transform(sequence(lit(0), lit(outDims - 1)), j =>
        aggregate(sequence(lit(0), size(col("qv")) - 1), lit(0L), (acc, i) =>
          acc + when(((i * outDims + j).cast("long") * lit(2654435761L))
              % lit(2147483647L) % 2 === 0,
            element_at(col("qv"), i + 1))
            .otherwise(-element_at(col("qv"), i + 1)))))
    proj.select(col("vec_id"),
      aggregate(zip_with(col("proj"), sequence(lit(1L), lit(outDims.toLong)),
        (p, j) => p * j), lit(0L), (a, v) => a + v).as("proj_check"),
      array_min(col("proj")).as("proj_min"),
      array_max(col("proj")).as("proj_max"),
      element_at(col("proj"), 1).as("proj_0"))
  }

  def randomProjectionQuery(spark: SparkSession, dir: String): DataFrame =
    // NOT spread (r18, measured at two rungs): helps at sf0.1 (1.12 ->
    // 0.65 s, one-task scan) but regresses at sf1 (0.91 -> 1.16 s) where
    // the scan is already parallel and the exchange moves the wide arrays
    // for nothing — same class as labelCentroids/lmScore.
    randomProjection(Tables.embeddings(spark, dir))

  private val randomProjectionSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id,
      |    list_transform(em, x -> GREATEST(-127, LEAST(127,
      |      CAST(floor(x * (127.0 / amax) + 0.5) AS BIGINT)))) AS qv
      |  FROM e WHERE amax > 0
      |), p AS (
      |  SELECT vec_id,
      |    list_transform(range(0, 16), j ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(0, len(qv)), i ->
      |          CASE WHEN (CAST(i * 16 + j AS BIGINT) * 2654435761) % 2147483647 % 2 = 0
      |               THEN qv[CAST(i + 1 AS INTEGER)]
      |               ELSE -qv[CAST(i + 1 AS INTEGER)] END)),
      |        (a, b) -> a + b)) AS proj
      |  FROM q
      |)
      |SELECT vec_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, 17), j -> proj[CAST(j AS INTEGER)] * j)),
      |    (a, b) -> a + b) AS proj_check,
      |  list_min(proj) AS proj_min, list_max(proj) AS proj_max,
      |  proj[1] AS proj_0
      |FROM p""".stripMargin

  /** kNN classification eval — the standard embedding-quality probe (and
    * the eval step after any quantization/projection change): a FIXED
    * panel of held-out query vectors (`vec_id < nQueries`) is classified
    * by majority label vote of its k exact-cosine nearest neighbors among
    * the remaining corpus (deterministic ties: rank by (cos desc,
    * vec_id), vote by (count desc, label)); emits per-true-label query
    * counts, correct counts and a qid checksum — a single mis-ranked
    * neighbor flips a vote and hash-fails.
    *
    * Scale shape: same as [[bruteForceTopK]] — broadcast O(nQueries) ×
    * one linear corpus scan with the codegen'd native dot; per-query
    * state is the k-row window. The query panel is a CONSTANT-size
    * prefix by design (the [[contrastiveMine]] pattern): the earlier
    * `vec_id % 100 == 0` selection grew the broadcast side linearly
    * with the corpus, making the eval n²/100 (1.5 s at sf1 → 75 s at
    * sf10, r15 scale audit) — an eval panel measures embedding quality
    * equally well at any corpus size, so it must not scale with it.
    * For corpus-sized query sets, swap the exact scan for
    * [[lshDetTopK]]/[[ivfTopK]] candidates — the vote and eval stages
    * are unchanged. */
  /** Contrastive training-pair MINING — the dataset-construction step of
    * embedding-model training (SimCSE/E5-style): for each anchor, the
    * mined POSITIVE is its highest-cosine same-label neighbor and the
    * HARD NEGATIVE its highest-cosine different-label neighbor — the
    * near-miss that actually shapes the margin, not a random draw. Emits
    * (anchor, pos, pos_cos, neg, neg_cos, margin); a non-positive margin
    * flags anchors whose labels the embedding cannot yet separate — the
    * rows a curriculum would weight up.
    *
    * Exact cosines through the native codegen'd dot product (bit-identical
    * to DuckDB's sequential fold, [[bruteForceTopK]]'s precedent), so
    * pair selection AND margins hash-match the oracle. Scale shape: the
    * anchor set is bounded (broadcast) and the corpus is scanned once;
    * at 100 TB anchors batch through the same shape, positives come from
    * the near-dup tier ([[cosineNearDupBlocked]]) and negative candidates
    * from ANN buckets ([[ivfTopK]]) — this exact variant is the
    * correctness baseline those approximations are measured against. */
  def contrastiveMine(spark: SparkSession, dir: String, nAnchors: Int = 8): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("emb").as("qemb"))
    val w = Window.partitionBy($"qid", $"same").orderBy($"cos".desc, $"vec_id")
    e.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        when($"label" === $"qlabel", 1).otherwise(0).as("same"),
        (V.dotNative($"emb", $"qemb") /
          (V.normNative($"emb") * V.normNative($"qemb"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy($"qid")
      .agg(
        max(when($"same" === 1, $"vec_id")).as("pos_id"),
        max(when($"same" === 1, $"cos")).as("pos_cos"),
        max(when($"same" === 0, $"vec_id")).as("neg_id"),
        max(when($"same" === 0, $"cos")).as("neg_cos"))
      .withColumn("margin", $"pos_cos" - $"neg_cos")
  }

  private val contrastiveMineSql =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, label AS qlabel, emb AS qemb FROM e WHERE vec_id < 8
      |), s AS (
      |  SELECT qid, vec_id,
      |    CASE WHEN label = qlabel THEN 1 ELSE 0 END AS same,
      |    list_dot_product(emb, qemb)
      |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
      |  FROM e, q WHERE vec_id != qid
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid, same ORDER BY cos DESC, vec_id) AS rn
      |  FROM s
      |)
      |SELECT qid,
      |  MAX(CASE WHEN same = 1 THEN vec_id END) AS pos_id,
      |  MAX(CASE WHEN same = 1 THEN cos END) AS pos_cos,
      |  MAX(CASE WHEN same = 0 THEN vec_id END) AS neg_id,
      |  MAX(CASE WHEN same = 0 THEN cos END) AS neg_cos,
      |  MAX(CASE WHEN same = 1 THEN cos END) - MAX(CASE WHEN same = 0 THEN cos END) AS margin
      |FROM r WHERE rn = 1 GROUP BY qid""".stripMargin

  /** Defaults for [[knnEval]], shared with [[knnEvalSql]] by
    * interpolation (ADVICE r16): the oracle is generated from the SAME
    * constants the Scala default parameters use, so the registered pair
    * cannot silently diverge. A caller overriding nQueries/k gets an
    * un-oracled frame by definition — only the default panel is
    * oracle-checked (same contract as bruteForceTopK). */
  private[ops] val KnnEvalQueries = 64
  private[ops] val KnnEvalK = 5

  def knnEval(spark: SparkSession, dir: String,
              nQueries: Int = KnnEvalQueries, k: Int = KnnEvalK): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("true_label"),
        col("emb").as("qemb"))
    val wRank = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    val wVote = Window.partitionBy($"qid").orderBy($"votes".desc, $"label")
    e.filter(col("vec_id") >= nQueries)
      .crossJoin(broadcast(q))
      .select($"qid", $"true_label", $"vec_id", $"label",
        (V.dotNative($"emb", $"qemb") /
          (V.normNative($"emb") * V.normNative($"qemb"))).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= k)
      .groupBy($"qid", $"true_label", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vrank", row_number().over(wVote))
      .filter($"vrank" === 1)
      .groupBy($"true_label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when($"label" === $"true_label", 1L).otherwise(0L)).as("n_correct"),
        sum($"qid").as("qid_sum"))
  }

  private val knnEvalSql =
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |), q AS (
      |  SELECT vec_id AS qid, label AS true_label, emb AS qemb
      |  FROM e WHERE vec_id < $KnnEvalQueries
      |), s AS (
      |  SELECT qid, true_label, e.vec_id, e.label,
      |    list_dot_product(emb, qemb)
      |      / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qemb, qemb))) AS cos
      |  FROM e, q WHERE e.vec_id >= $KnnEvalQueries
      |), nn AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      |    FROM s)
      |  WHERE rnk <= $KnnEvalK
      |), v AS (
      |  SELECT qid, true_label, label, COUNT(*) AS votes FROM nn GROUP BY 1, 2, 3
      |), w AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
      |    FROM v)
      |  WHERE vr = 1
      |)
      |SELECT true_label, COUNT(*) AS n_queries,
      |  CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(qid) AS BIGINT) AS qid_sum
      |FROM w GROUP BY 1""".stripMargin

  // ------------------------------------------------- dedup cluster audit

  /** Duplicate-cluster size histogram — the audit a dedup run ships with:
    * how many near-dup clusters of each size the corpus contains (size 1 =
    * unique documents). A fat tail here means boilerplate or a
    * republishing source, and it is the number that justifies the dedup
    * tier's cost. Built on the same deterministic candidate graph and
    * [[connectedComponents]] as the transitive dedup, so the whole chain
    * (bucket join → closure → histogram) sits under one recursive-CTE
    * oracle.
    *
    * Scale shape: two hash-aggs over the label frame (component-sized,
    * then size-sized) + one anti-join for singletons; the O(distinct
    * sizes) output is materialized eagerly so the CC loop's label cache
    * can be released inside the operator. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tuning.spread(Tables.documents(spark, dir))
    val comps = minhashDetCandidates(docs)(connectedComponents(_))
    val multi = comps.groupBy($"cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = docs.select($"doc_id").join(comps, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), $"n_clusters")
    Rounds.keep(multi.unionByName(singles), comps)
  }

  /** Histogram on the oracle side: component sizes from the recursive-CTE
    * labels (every edge-connected node), singletons by complement. Multi
    * clusters are ≥2 by construction, so the size-1 row never collides. */
  private val dedupClusterStatsSql =
    s"""WITH RECURSIVE $detCandSqlCtes, edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand WHERE agree >= 9
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM cand WHERE agree >= 9
      |), reach AS (
      |  SELECT src AS a, dst AS b FROM edges
      |  UNION
      |  SELECT r.a, e.dst AS b FROM reach r JOIN edges e ON r.b = e.src
      |), labels AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a
      |), sizes AS (
      |  SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY 1
      |)
      |SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY 1
      |UNION ALL
      |SELECT CAST(1 AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM labels)""".stripMargin

  // ---------------------------------------------------------------- registry

  /** Train/test SPLIT-LEAKAGE audit — the contamination check every
    * training-data pipeline must run before a model ships: near-duplicate
    * pairs (deterministic MinHash candidates, [[minhashDetCandidates]])
    * that CROSS a deterministic 80/20 hash split ([[Etl.hashBucket]] —
    * partition-layout-independent, so the same doc is in `train` in every
    * engine and every rerun). One row per contaminated test doc with its
    * train-side near-dup count and smallest train neighbor. Differs from
    * [[LlmData.decontaminate]] (corpus vs EXTERNAL benchmark): this audits
    * leakage WITHIN one corpus across its own split boundary.
    *
    * Scale shape: the candidate generation is the banded bucket join (never
    * all-pairs); the split frame is a narrow projection joined onto the
    * candidate edge list (edge-sized, not corpus-sized); the result is
    * leak-sized. Fully DuckDB-oracled via the shared candidate CTEs. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tuning.spread(Tables.documents(spark, dir))
    // r17: the split assignment is a PURE function of doc_id
    // ([[Etl.hashBucket]] — deterministic affine math), so the edge list
    // can compute both endpoints' splits directly instead of joining a
    // corpus-sized (doc_id, split) projection onto the candidates twice.
    // Same rows by construction (the joins were total: every candidate
    // endpoint is a document); drops two shuffle joins and a second
    // corpus scan from the plan — candidates are now the only shuffle.
    // The oracle SQL still spells the joins; the hash gate pins equality.
    def splitOf(id: org.apache.spark.sql.Column) =
      when(Etl.hashBucket(id) < 80, lit("train")).otherwise(lit("test"))
    minhashDetCandidates(docs)(cand => Rounds.keep(cand
      .withColumn("split_a", splitOf($"doc_a"))
      .withColumn("split_b", splitOf($"doc_b"))
      .filter($"split_a" =!= $"split_b")
      .select(
        when($"split_a" === "test", $"doc_a").otherwise($"doc_b").as("test_doc"),
        when($"split_a" === "test", $"doc_b").otherwise($"doc_a").as("train_doc"))
      .groupBy($"test_doc")
      .agg(count(lit(1)).as("n_train_dups"), min($"train_doc").as("min_train_dup"))
      .select($"test_doc".as("doc_id"), $"n_train_dups", $"min_train_dup")))
  }

  private val splitLeakageSql =
    s"""WITH $detCandSqlCtes, splits AS (
      |  SELECT doc_id,
      |    CASE WHEN ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 100 < 80
      |         THEN 'train' ELSE 'test' END AS split
      |  FROM documents
      |), leak AS (
      |  SELECT CASE WHEN sa.split = 'test' THEN c.doc_a ELSE c.doc_b END AS test_doc,
      |         CASE WHEN sa.split = 'test' THEN c.doc_b ELSE c.doc_a END AS train_doc
      |  FROM cand c
      |  JOIN splits sa ON c.doc_a = sa.doc_id
      |  JOIN splits sb ON c.doc_b = sb.doc_id
      |  WHERE c.agree >= 9 AND sa.split <> sb.split
      |)
      |SELECT test_doc AS doc_id, COUNT(*) AS n_train_dups,
      |  MIN(train_doc) AS min_train_dup
      |FROM leak GROUP BY 1""".stripMargin

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_dedup_clusters", dedupClusterStats, Some(dedupClusterStatsSql)),
    VerifiedQuery("q_split_leakage", splitLeakage, Some(splitLeakageSql)),
    VerifiedQuery("q_ann_cosine", bruteForceTopKQuery, Some(bruteForceTopKSql)),
    VerifiedQuery("q_ann_lsh", lshTopKQuery, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "MLlib BucketedRandomProjectionLSH's seeded projections",
        columns = Seq("qid", "vec_id", "dist", "rank"),
        test = "LlmDataSpec recall@10 >= 0.7 vs exact",
        twin = Some("q_ann_lsh_det"),
        exactRowsSql = Some("SELECT 30")))), // 3 queries x k=10
    VerifiedQuery("q_ann_lsh_det", lshDetTopKQuery, Some(lshDetTopKSql)),
    // adaptive bits depend on the corpus count (each width is a distinct
    // hash family), but at verify SF the schedule resolves to AnnBits so
    // the query IS q_ann_lsh_det there by construction — the gadget's SQL
    // hash-gates it, exactly like q_ann_batch below (LlmDataSpec pins the
    // coincidence at both oracle SFs with a 2x corpus margin); the
    // widened-width behavior is covered by the clustered-fixture recall
    // floor and the probe-scale recall table in SCALE.md
    VerifiedQuery("q_ann_lsh_adaptive", lshDetTopKAdaptiveQuery, Some(lshDetTopKSql),
      contract = Some(OracleContract("embeddings", AdaptiveGadgetMaxN,
        "adaptiveSignBits(n) floors at the gadget's AnnBits only for " +
          "n <= 4096; above it the widened key is a different hash family " +
          "and neighbors diverge BY DESIGN (COVERAGE.md rows-only table)"))),
    // query count AND key width both derive from the corpus count — the
    // query-count scaling axis (r10 verdict item 1). At verify SF the
    // schedule resolves to nQueries=3 / bits=AnnBits, i.e. the batch query
    // IS q_ann_lsh_det there BY CONSTRUCTION, so the fixed gadget's DuckDB
    // SQL oracles it exactly (r11 verdict item 6); LlmDataSpec pins the
    // coincidence at both oracle SFs with a 2x corpus margin so a testdata
    // regeneration fails a test, not the hash gate.
    VerifiedQuery("q_ann_batch", lshDetTopKBatchQuery, Some(lshDetTopKSql),
      contract = Some(OracleContract("embeddings", BatchGadgetMaxN,
        "batch schedule nQueries = max(3, n/1000) grows past the gadget's " +
          "3 queries at n = 4000 (and bits widen above 4096); the batch " +
          "tracks the corpus BY DESIGN (COVERAGE.md rows-only table)"))),
    VerifiedQuery("q_minhash_dedup", minhashDedupQuery, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "seeded MinHash coefficient family",
        columns = Seq("doc_id", "source", "n_chars"),
        test = "LlmDataSpec planted-dup + chain-collapse",
        twin = Some("q_minhash_det_dedup"),
        maxRowsSql = Some("SELECT count(*) FROM documents")))), // survivors
    VerifiedQuery("q_minhash_det_dedup", minhashDetDedupQuery, Some(minhashDetDedupSql)),
    VerifiedQuery("q_minhash_det_transitive", minhashDetTransitiveQuery, Some(minhashDetTransitiveSql)),
    VerifiedQuery("q_minhash_det_transitive_dist", minhashDetTransitiveDistQuery, Some(minhashDetTransitiveSql)),
    VerifiedQuery("q_neardup_survivor", neardupSurvivor, Some(neardupSurvivorSql)),
    VerifiedQuery("q_simhash_dedup", simhashDedupQuery, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "seeded hash family",
        columns = Seq("doc_id", "source", "n_chars"),
        test = "LlmDataSpec planted-dup + property tests",
        twin = Some("q_simhash_det_dedup"),
        maxRowsSql = Some("SELECT count(*) FROM documents")))),
    VerifiedQuery("q_simhash_det_dedup", simhashDetDedupQuery, Some(simhashDetDedupSql)),
    VerifiedQuery("q_cosine_neardup", cosineNearDupQuery, Some(cosineNearDupSql)),
    VerifiedQuery("q_cosine_neardup_transitive", cosineNearDupTransitiveQuery, Some(cosineNearDupTransitiveSql)),
    VerifiedQuery("q_cosine_neardup_kmeans", cosineNearDupKMeansQuery, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "seeded KMeans quantizer blocks",
        columns = Seq("vec_a", "vec_b", "cos"),
        test = "LlmDataSpec recall >= 0.9 vs exact pairs on clustered fixture",
        twin = Some("q_cosine_neardup"),
        maxRowsSql = Some(
          "SELECT count(*) * (count(*) - 1) / 2 FROM embeddings")))),
    VerifiedQuery("q_ann_ivf", ivfTopKQuery, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "seeded KMeans cell assignment",
        columns = Seq("qid", "vec_id", "cos", "rank"),
        test = "LlmDataSpec recall >= 0.9 + exact-rerank-within-probed-cells",
        twin = Some("q_ann_cosine"),
        exactRowsSql = Some("SELECT 30")))),
    VerifiedQuery("q_ann_rerank", rerankTopKQuery, Some(rerankTopKSql)),
    VerifiedQuery("q_quantize_emb", quantizeEmbeddingsQuery, Some(quantizeEmbeddingsSql)),
    VerifiedQuery("q_rand_proj", randomProjectionQuery, Some(randomProjectionSql)),
    VerifiedQuery("q_label_centroids", labelCentroids, Some(labelCentroidsSql)),
    VerifiedQuery("q_knn_eval", (s, d) => knnEval(s, d), Some(knnEvalSql)),
    VerifiedQuery("q_contrastive_mine", (s, d) => contrastiveMine(s, d), Some(contrastiveMineSql)),
  )
}
