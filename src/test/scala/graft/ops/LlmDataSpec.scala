package graft.ops

import graft.SparkSpec
import graft.functions.{Text, Vectors => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis, dedup and similarity operators on fixtures with planted
  * near-duplicates (the driver corpus has none).
  */
class LlmDataSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "spark table join filter window aggregate shuffle partition broadcast " +
    "column row batch stream query plan codegen scan parquet hash sort merge"

  /** 40 distinct docs + planted duplicates: 50=near-dup of 0 (one word
    * changed), 51=formatting variant of 1, 52=exact copy of 2. */
  private lazy val docs: DataFrame = {
    // wide vocabulary so distinct docs share few tokens (a 20-word vocab
    // makes every doc simhash-close — realistic for same-domain text, but a
    // bad dedup fixture)
    val words = (0 until 120).map(i => s"w$i")
    val distinctDocs = (0 until 40).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, (0 until 30).map(_ => words(r.nextInt(words.length))).mkString(" "))
    }
    val d0 = distinctDocs(0)._2
    val planted = Seq(
      (50L, "zzz " + d0.split(" ").drop(1).mkString(" ")),
      (51L, "  " + distinctDocs(1)._2.toUpperCase + "!!!  "),
      (52L, distinctDocs(2)._2))
    (distinctDocs ++ planted).toDF("doc_id", "text")
  }

  test("tokens / regexTokens / counts") {
    val df = Seq("Hello, world! 42 times").toDF("text")
    assert(df.select(Text.tokenCount($"text")).as[Int].head() == 4)
    // letter runs: Hello, world, times; digit runs: 42; marks: , ! => 6
    assert(df.select(Text.regexTokenCount($"text")).as[Int].head() == 6)
    assert(df.select(Text.punctCount($"text")).as[Int].head() == 2)
  }

  test("occurrenceCount counts occurrences, not distinct") {
    val df = Seq("the cat the dog THE bird").toDF("text")
    assert(df.select(Text.occurrenceCount($"text", Seq("the"))).as[Int].head() == 3)
  }

  test("langPredict picks the max-marker language with deterministic ties") {
    val df = Seq(
      ("der das und ist der", "de"),
      ("le la et des est", "fr"),
      ("el los y es una", "es"),
      ("the a of and", "en"),
      ("xyzzy blorp", "en")) // all-zero scores → tie → first in marker order
      .toDF("text", "expected")
    val out = df.select(Text.langPredict($"text").as("pred"), $"expected")
      .as[(String, String)].collect()
    out.foreach { case (pred, exp) => assert(pred == exp, s"$pred != $exp") }
  }

  test("fingerprint collides case/punctuation/spacing variants, not distinct texts") {
    val fps = docs.select($"doc_id", Text.fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(51L) == fps(1L))   // formatting variant
    assert(fps(52L) == fps(2L))   // exact copy
    assert(fps(50L) != fps(0L))   // word substitution is NOT a fingerprint dup
    assert(fps(0L) != fps(1L))
  }

  test("wordNgrams produces overlapping shingles; shorter-than-n gives empty") {
    val df = Seq("a b c d").toDF("text")
    assert(df.select(Text.wordNgrams($"text", 3)).as[Seq[String]].head() ==
      Seq("a b c", "b c d"))
    assert(Seq("a b").toDF("text").select(Text.wordNgrams($"text", 3)).as[Seq[String]].head().isEmpty)
  }

  test("simhash64: near-dup hamming << distinct-doc hamming") {
    val sh = docs.select($"doc_id", Text.simhash64(lower($"text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(52L), sh(2L)) == 0)              // exact copy
    assert(ham(sh(50L), sh(0L)) <= 10)             // one-word change stays close
    val distinctPairs = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield ham(sh(i), sh(j))
    assert(distinctPairs.min > 10, s"distinct docs too close: ${distinctPairs.min}")
  }

  test("minhashDedup drops planted near-dups, keeps distinct docs") {
    val kept = Similarity.minhashDedup(docs, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(52L), "exact copy survived")
    assert(!kept.contains(50L), "near-dup (1-word change) survived")
    assert(kept.contains(0L) && kept.contains(1L) && kept.contains(2L))
    assert((0L until 40L).toSet.subsetOf(kept), "a distinct doc was dropped")
  }

  test("simhashDet: exact/formatting dups collapse, distinct docs stay far in hamming") {
    val sh = docs.select($"doc_id", Text.simhashDet(lower($"text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(ham(52L, 2L) == 0, "exact copy must hash identically")
    assert(ham(50L, 0L) <= 12, s"one-word change drifted too far: ${ham(50L, 0L)}")
    val distinctPairs = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield ham(i, j)
    assert(distinctPairs.min > 12, s"distinct docs too close: ${distinctPairs.min}")
    val kept = Similarity.simhashDetDedup(docs)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(52L), "exact copy survived det-simhash dedup")
    assert((0L until 40L).toSet.subsetOf(kept), "a distinct doc was dropped")
  }

  test("minhashDetDedup drops planted near-dups via the deterministic banded signature") {
    val kept = Similarity.minhashDetDedup(docs)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(52L), "exact copy survived")
    assert(!kept.contains(51L), "formatting variant survived (normalization collapses it)")
    assert(!kept.contains(50L), "near-dup (1-word change) survived")
    assert((0L until 40L).toSet.subsetOf(kept), "a distinct doc was dropped")
  }

  test("minhashDetSignatures is stable and separates dups from distinct docs") {
    val sigs = Similarity.minhashDetSignatures(docs)
      .as[(Long, Seq[Long])].collect().toMap
    def agree(a: Long, b: Long): Int = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
    assert(agree(2L, 52L) == 12) // identical text → identical signature
    assert(agree(1L, 51L) == 12) // formatting variant → identical normalized text
    assert(agree(0L, 50L) >= 9, s"near-dup agreement too low: ${agree(0L, 50L)}")
    val background = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield agree(i, j)
    assert(background.max < 9, s"distinct docs agree too much: ${background.max}")
  }

  test("connectedComponents collapses chains to the global minimum (closure vs single-linkage)") {
    val edges = Seq((1L, 5L), (5L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comps = Similarity.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) == 1L && comps(5L) == 1L && comps(3L) == 1L,
      s"chain not collapsed: $comps")
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("connectedComponents fails loudly instead of returning non-converged labels") {
    // a 30-node path cannot converge in 1 round even with pointer jumping
    // (localThreshold = 0 forces the distributed loop)
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Similarity.connectedComponents(edges, maxIter = 1, localThreshold = 0L)
    }
  }

  test("connectedComponents converges on a deep path graph within the O(log d) round bound") {
    // 200-node path: plain min-label propagation needs 199 rounds; pointer
    // jumping must finish inside maxIter=20 (log2(200) ≈ 7.6 plus slack),
    // crossing a checkpoint round (reliable, to the session's checkpoint
    // dir) on the way.
    // localThreshold = 0 forces the distributed loop (the code under test).
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Similarity.connectedComponents(edges, localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comps.size == 200)
    assert(comps.values.forall(_ == 1L), s"path graph not fully merged")
  }

  test("connectedComponents: driver union-find and distributed loop agree on random graphs") {
    val rnd = new scala.util.Random(41)
    val edges = (0 until 60).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("doc_a", "doc_b")
    val local = Similarity.connectedComponents(edges)
      .as[(Long, Long)].collect().toSet
    val dist = Similarity.connectedComponents(edges, localThreshold = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local == dist, s"paths diverge: only-local=${(local -- dist).take(5)} only-dist=${(dist -- local).take(5)}")
  }

  test("minhashDedupTransitive keeps one doc per near-dup component") {
    val kept = Similarity.minhashDedupTransitive(docs, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(52L) && !kept.contains(50L))
    assert(kept.contains(0L) && kept.contains(2L))
    assert((0L until 40L).toSet.subsetOf(kept))
  }

  test("simhashDedup drops exact + near copies via banded buckets, keeps distinct docs") {
    val kept = Similarity.simhashDedup(docs, maxHamming = 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(52L))
    assert((0L until 40L).toSet.subsetOf(kept))
  }

  test("lshDetTopK: deterministic hyperplane ANN — recall vs brute force, exact rerank cosines") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val det = Similarity.lshDetTopK(emb)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(emb)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val bfTop = bf.map(r => (r._1, r._2)).toSet
    val hits = det.map(r => (r._1, r._2)).toSet.intersect(bfTop)
    val recall = hits.size.toDouble / bfTop.size
    // isotropic corpus = hyperplane-LSH-adversarial; 0.6 is the measured
    // floor at T=16/W=4 (clustered corpora do far better at same params)
    assert(recall >= 0.6, s"det-LSH recall@10 $recall < 0.6")
    // candidate rerank must agree with brute force bit-for-bit on shared pairs
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    det.filter(r => bfCos.contains((r._1, r._2))).foreach { r =>
      assert(r._3 == bfCos((r._1, r._2)), s"cosine drift on (${r._1},${r._2})")
    }
  }

  test("lshDetTopKAdaptive: integer bits schedule; coincides with the oracled gadget at small n") {
    // bits = smallest b with n/2^b <= 256, floored at the gadget's 4 —
    // pinned at the decade boundaries the sf-probe corpora sit on
    assert(Similarity.adaptiveSignBits(200) == 4)       // verify SF
    assert(Similarity.adaptiveSignBits(4096) == 4)
    assert(Similarity.adaptiveSignBits(4097) == 5)
    assert(Similarity.adaptiveSignBits(200000) == 10)   // sf10 embeddings
    assert(Similarity.adaptiveSignBits(2000000) == 13)  // sf100 embeddings
    // same width => same hash family => identical rows at small n, which
    // is what lets the fixed-bits oracle stand in for this one at test SF
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val fixed = Similarity.lshDetTopK(emb).collect().map(_.toSeq).toSet
    val adapt = Similarity.lshDetTopKAdaptive(emb).collect().map(_.toSeq).toSet
    assert(fixed == adapt, "adaptive must equal the fixed gadget below the first width step")
  }

  test("lshDetTopKAdaptive: recall floor on a clustered corpus once bits exceed the fixed width") {
    // 40 well-separated direction clusters in 64 dims (the plane family's
    // dimensionality) — the shape a real embedding corpus has; 4.8k rows
    // push adaptive bits to 5, so this exercises the width the fixed
    // gadget never takes
    assert(Similarity.adaptiveSignBits(4800) == 5)
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(40)(Array.fill(64)(rnd.nextGaussian()))
    val points = (0 until 4800).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = points.toDF("vec_id", "embedding")
    val ad = Similarity.lshDetTopKAdaptive(emb)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = ad.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.9, s"adaptive sign-LSH recall@10 $recall < 0.9 on clustered corpus")
  }

  test("lshDetTopKBatch: coincides with the oracled gadget at BOTH oracle SFs, 2x corpus margin") {
    // n=500 → nQueries = max(3, 0) = 3 and bits = AnnBits, so the batch
    // query IS q_ann_lsh_det there — which is what lets the fixed gadget's
    // DuckDB SQL oracle q_ann_batch directly (r11 verdict item 6). Since
    // that coincidence now sits UNDER the driver's hash gate, pin it at
    // every SF the oracle runs on, with a 2x margin: the corpus must
    // DOUBLE before the batch schedule departs from the gadget, and then
    // this test fails instead of the oracle compare.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = graft.Tables.embeddings(spark, dir)
      val n = Similarity.corpusCount(emb)
      assert(math.max(3L, (2 * n) / 1000L) == 3L &&
          Similarity.adaptiveSignBits(2 * n) == Similarity.adaptiveSignBits(1L),
        s"$dir: corpus n=$n is within 2x of a batch nQueries/bits schedule step")
      val fixed = Similarity.lshDetTopK(emb).collect().map(_.toSeq).toSet
      val batch = Similarity.lshDetTopKBatch(emb).collect().map(_.toSeq).toSet
      assert(fixed == batch,
        s"$dir: batch ANN must equal the fixed gadget below both scaling steps")
      // q_ann_lsh_adaptive rides the same coincidence (bits resolve to
      // AnnBits at these n; nQueries is fixed at 3) and is hash-gated by
      // the same SQL since r12 — pin it under the same margin
      val adaptive = Similarity.lshDetTopKAdaptive(emb).collect().map(_.toSeq).toSet
      assert(fixed == adaptive,
        s"$dir: adaptive ANN must equal the fixed gadget below the widening step")
    }
  }

  test("lshDetTopKBatch: query count tracks the corpus; recall holds on a clustered corpus") {
    // 4,800 rows → nQueries = 4 (the query batch grows with n) and
    // bits = 5 (one widening step) — both scaling axes exercised at once
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(40)(Array.fill(64)(rnd.nextGaussian()))
    val points = (0 until 4800).map { i =>
      val c = centers(i % 40)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = points.toDF("vec_id", "embedding")
    val batch = Similarity.lshDetTopKBatch(emb)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
    assert(batch.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L),
      "batch size must be max(3, n/1000) = 4 at n = 4800")
    val bf = Similarity.bruteForceTopK(emb, nQueries = 4)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = batch.toSet.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.9, s"batch sign-LSH recall@10 $recall < 0.9 on clustered corpus")
  }

  test("cosineNearDupBlocked: per-block cap is deterministic and a no-op when blocks fit") {
    // 3 blocks × 30 rows; cap 10 must restrict candidates to each block's
    // 10 smallest vec_ids, and cap >= block size must change nothing
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, i % 3, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    val uncapped = Similarity.cosineNearDupBlocked(emb, minCos = 0.9)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val wideCap = Similarity.cosineNearDupBlocked(emb, minCos = 0.9, maxRowsPerBlock = 30)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(wideCap == uncapped, "a cap >= every block size must be a no-op")
    val capped = Similarity.cosineNearDupBlocked(emb, minCos = 0.9, maxRowsPerBlock = 10)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // block b's 10 smallest vec_ids are b, b+3, …, b+27 — ids < 30
    assert(capped.nonEmpty && capped.forall { case (a, b) => a < 30 && b < 30 },
      s"cap must keep each block's smallest vec_ids only: ${capped.filterNot { case (a, b) => a < 30 && b < 30 }.take(3)}")
    val expected = uncapped.filter { case (a, b) => a < 30 && b < 30 }
    assert(capped == expected, "capped pair set must equal the uncapped set restricted to the slice")
  }

  test("a BINDING block cap is observable: rows_dropped metric fires (ADVICE r11)") {
    // The capped gadget must never truncate silently: the pre-filter frame
    // carries an observe() node, and the session listener WARN-logs when
    // it reports dropped rows. Assert the metric itself here — 3 blocks x
    // 30 rows under a cap of 10 drops exactly 60 rows.
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, i % 3, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = rows.toDF("vec_id", "label", "embedding")
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(Similarity.CapBindingWarner.MetricName)
          .foreach(r => observed = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.cosineNearDupBlocked(emb, minCos = 0.9, maxRowsPerBlock = 10).collect()
      org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      assert(observed.isDefined, "capped scan emitted no graft_block_cap observation")
      assert(observed.get.getAs[Long]("rows_dropped") == 60L,
        s"expected 60 dropped rows (3 blocks x 20), got ${observed.get}")
      assert(observed.get.getAs[Int]("max_block_rows") == 30,
        s"expected widest block 30, got ${observed.get}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cosineNearDupTransitive keeps one vector per CLOSURE component (chain case)") {
    // angle chain on a 2D circle embedded in 4D: cos-sim = cos(delta-angle).
    // v1=0deg, v5=40deg, v3=80deg with minCos=0.5 gives pairs (1,5) and
    // (3,5) but NOT (1,3) — single-linkage ("drop if a smaller direct
    // neighbor exists") would keep {1, 3}; the closure must keep only {1}.
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val emb = Seq((1L, 0, v(0)), (5L, 0, v(40)), (3L, 0, v(80)))
      .toDF("vec_id", "label", "embedding")
    val kept = Similarity.cosineNearDupTransitive(emb, minCos = 0.5)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"closure dedup kept $kept, expected {1}")
    // and an isolated vector (no near-dups) always survives
    val emb2 = emb.unionByName(Seq((9L, 0, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "label", "embedding"))
    val kept2 = Similarity.cosineNearDupTransitive(emb2, minCos = 0.5)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 9L), s"isolated vector must survive: $kept2")
  }

  test("gadget block cap is a no-op at every oracle SF (guards the q_cosine_neardup hash)") {
    // The registered gadget caps label blocks at GadgetBlockCap rows so the
    // fixed-label Sigma block^2 shape stays bounded at probe scale. The cap
    // MUST NOT bind at the SFs the DuckDB oracle runs on, or the hash gate
    // breaks — pin that margin here so a testdata regeneration with larger
    // label blocks fails this test instead of the oracle compare.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val maxBlock = graft.Tables.embeddings(spark, dir)
        .groupBy($"label").count().agg(max($"count")).as[Long].head()
      assert(maxBlock * 2 <= Similarity.GadgetBlockCap,
        s"$dir: max label block $maxBlock is within 2x of GadgetBlockCap " +
          s"${Similarity.GadgetBlockCap} — the probe cap would soon bind at an oracle SF")
    }
  }

  test("rerankTopK: SQ8 stage-1 keeps the true top-k; reranked cosines are brute-force-exact") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val rr = Similarity.rerankTopK(emb, nQueries = 3, kCand = 20, k = 5)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(emb, nQueries = 3, k = 5)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    // recall@5 of the two-stage pipeline vs exact: int8 code-cosine over
    // 64 dims distorts cosine by ~1/127 per component — with kCand=20 of
    // headroom the exact top-5 should survive stage 1 nearly always even
    // on the isotropic (worst-case) corpus; 0.8 is the floor.
    val bfTop = bf.map(r => (r._1, r._2)).toSet
    val recall = rr.map(r => (r._1, r._2)).toSet.intersect(bfTop).size.toDouble / bfTop.size
    assert(recall >= 0.8, s"rerank recall@5 $recall < 0.8")
    // stage 2 cosines are the SAME expression brute force evaluates — any
    // pair both emit must agree bit-for-bit
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    rr.filter(r => bfCos.contains((r._1, r._2))).foreach { r =>
      assert(r._3 == bfCos((r._1, r._2)), s"rerank cosine drift on (${r._1},${r._2})")
    }
  }

  test("cosineNearDupKMeans: learned quantizer recalls >= 0.9 of true high-cos pairs") {
    // 5 well-separated direction clusters × 40 points in 16 dims: noise is
    // small, so cos >= 0.9 pairs are exactly the within-cluster ones — the
    // shape a real embedding corpus with duplicate content has (the driver
    // embeddings table is isotropic noise, useless for a quantizer test)
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextGaussian()))
    val points = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.zipWithIndex.map { case (v, _) => (v + rnd.nextGaussian() * 0.05).toFloat })
    }
    val emb = points.toDF("vec_id", "embedding")
    // ground truth: exact all-pairs cosine on the driver (200 vecs, trivial)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val truth = (for {
      i <- points.indices; j <- (i + 1) until points.size
      if cos(points(i)._2, points(j)._2) >= 0.9
    } yield (points(i)._1, points(j)._1)).toSet
    assert(truth.size > 100, s"fixture degenerate: only ${truth.size} true pairs")
    val found = Similarity.cosineNearDupKMeans(emb, k = 5, minCos = 0.9)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"quantizer recall $recall < 0.9 (${truth.size} true pairs)")
    assert(found.subsetOf(truth), "blocked scorer produced a pair below the cos threshold")
  }

  test("ivfTopK: probed-cell search recalls the clustered neighbors; rerank is exact") {
    // same clustered fixture shape as the quantizer test: queries' true
    // top-k live in their own cluster, so probing nProbe=2 of 5 cells
    // must recover nearly all of them
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(5)(Array.fill(16)(rnd.nextGaussian()))
    val points = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat))
    }
    val emb = points.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(emb, nQueries = 3, k = 10, nlist = 5, nProbe = 2)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(emb, nQueries = 3, k = 10)
      .select($"qid", $"vec_id", $"cos").as[(Long, Long, Double)].collect()
    val bfSet = bf.map(r => (r._1, r._2)).toSet
    val recall = ivf.map(r => (r._1, r._2)).toSet.intersect(bfSet).size.toDouble / bfSet.size
    assert(recall >= 0.9, s"IVF recall@10 $recall < 0.9")
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    ivf.filter(r => bfCos.contains((r._1, r._2))).foreach { r =>
      assert(r._3 == bfCos((r._1, r._2)), s"IVF rerank cosine drift on (${r._1},${r._2})")
    }
  }

  test("repetition ratio separates looping text from normal prose") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "a perfectly ordinary sentence with distinct and varied wording here"))
      .toDF("doc_id", "text")
    val r = df
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .select($"doc_id", Text.kgramHashesNative($"norm", 8).as("g"))
      .select($"doc_id",
        (lit(1.0) - size(array_distinct($"g")) * lit(1.0) / size($"g")).as("rr"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) > 0.5, s"looping text ratio too low: ${r(1L)}")
    assert(r(2L) < 0.1, s"normal prose ratio too high: ${r(2L)}")
  }

  test("decontaminate flags docs whose gram set is inside the benchmark union") {
    // fixture: docs 0..39 distinct, 50≈0, 51≈1, 52=2. With benchmark =
    // ids < 10, the planted copies of benchmark members must flag at
    // share_frac ≈ 1.0 and the distinct docs must not.
    docs.createOrReplaceTempView("decon_docs_t")
    import org.apache.spark.sql.functions._
    val grams = docs
      .select($"doc_id", Text.normalized($"text").as("norm"))
      .filter(length($"norm") >= 8)
      .select($"doc_id", explode(array_distinct(Text.kgramHashesNative($"norm", 8))).as("g"))
    val bench = grams.filter($"doc_id" < 10).select($"doc_id".as("bench_id"), $"g")
    val corpus = grams.filter($"doc_id" >= 10)
    val totals = corpus.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val flagged = corpus.join(broadcast(bench), Seq("g"))
      .groupBy($"doc_id").agg(countDistinct($"g").as("sh"))
      .join(totals, Seq("doc_id"))
      .filter($"sh" * 1.0 / $"n_grams" >= 0.85)
      .select($"doc_id").as[Long].collect().toSet
    assert(flagged.contains(52L), "exact copy of a benchmark doc not flagged")
    assert(flagged.contains(51L), "formatting variant of a benchmark doc not flagged")
    assert(flagged.contains(50L), "near-dup of a benchmark doc not flagged")
    assert(flagged.intersect((10L until 40L).toSet).isEmpty,
      s"distinct docs falsely flagged: ${flagged.intersect((10L until 40L).toSet)}")
  }

  test("sessionize splits on >30min gaps per user") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // user 1: events at 0,10,20 | gap | 60,65 → 2 sessions; user 2: one event
    val ev = Seq(
      (1L, 1L, t(0), "a", 1.0, "{}"), (2L, 1L, t(10), "a", 1.0, "{}"),
      (3L, 1L, t(20), "a", 1.0, "{}"), (4L, 1L, t(60), "a", 1.0, "{}"),
      (5L, 1L, t(65), "a", 1.0, "{}"), (6L, 2L, t(0), "a", 1.0, "{}"))
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    // mirror LlmData.sessionize's core on a fixture frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"sec", $"event_id")
    val wRun = w.rowsBetween(Long.MinValue, 0)
    val out = ev.withColumn("sec", unix_timestamp($"ts"))
      .withColumn("gap", $"sec" - lag($"sec", 1).over(w))
      .withColumn("is_new", when($"gap".isNull || $"gap" > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum($"is_new").over(wRun))
      .groupBy($"user_id", $"session_seq").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("vector math: cosine of identical = 1, orthogonal = 0; dot is sequential-exact") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f)))
      .toDF("a", "b")
    val cos = df.select(V.cosine($"a", $"b")).as[Double].collect()
    assert(cos(0) == 1.0 && cos(1) == 0.0 && cos(2) == 1.0)
    assert(df.select(V.dot($"a", $"b")).as[Double].collect()(2) == 25.0)
    assert(df.select(V.norm($"a")).as[Double].collect()(2) == 5.0)
  }

  test("packContexts: every non-final window holds exactly ctxSize tokens; totals conserved") {
    val dir = "/root/testdata/sf0.001"
    val bins = LlmData.packContexts(spark, dir, ctxSize = 512)
      .select($"lang", $"bin", $"n_tokens").as[(String, Long, Long)].collect()
    val perLang = bins.groupBy(_._1)
    perLang.foreach { case (lang, rows) =>
      val last = rows.map(_._2).max
      rows.filter(_._2 < last).foreach { case (_, b, n) =>
        assert(n == 512, s"non-final window $lang/$b has $n tokens")
      }
    }
    // token conservation: windows partition the stream exactly
    val total = bins.map(_._3).sum
    val expected = graft.Tables.documents(spark, dir)
      .select(graft.functions.Text.tokenCount($"text").cast("long")).as[Long].collect().sum
    assert(total == expected, s"packed $total tokens, corpus has $expected")
  }

  test("mixtureSample: kept counts bounded by source size and rate is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val out = LlmData.mixtureSample(spark, dir)
      .select($"source", $"keep_pct", $"n_docs").as[(String, Int, Long)].collect()
    val sizes = graft.Tables.documents(spark, dir).groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    out.foreach { case (src, pct, n) =>
      assert(pct >= 5 && pct <= 100)
      assert(n <= sizes(src), s"$src kept $n of ${sizes(src)}")
    }
    // determinism: identical result on a second run
    val again = LlmData.mixtureSample(spark, dir)
      .select($"source", $"keep_pct", $"n_docs").as[(String, Int, Long)].collect()
    assert(out.toSet == again.toSet)
  }

  test("redactPii: redacted text contains no email/phone pattern; deltas consistent") {
    val dir = "/root/testdata/sf0.001"
    val rows = LlmData.redactPii(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, ne, np, before, after) =>
      assert(ne > 0 || np > 0)
      assert(id % 3 == 0 || id % 5 == 0, s"doc $id had no planted PII but matched")
      // each email replacement swaps a >=16-char address for 7 chars;
      // each phone swaps 8 chars for 7 — redaction always shrinks here
      assert(after < before, s"doc $id: redaction grew the text")
    }
  }

  test("quantizeEmbeddings: q in [-127,127], per-dim error within half a step") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.quantizeEmbeddings(graft.Tables.embeddings(spark, dir))
      .select($"scale", $"q_abs", $"mse").as[(Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (scale, qabs, mse) =>
      assert(scale > 0)
      assert(qabs <= 127L * 64, s"q magnitude out of int8 range (q_abs=$qabs)")
      // floor(x+0.5) rounds to nearest: per-dim |v - q/scale| <= 0.5/scale
      val bound = 64 * math.pow(0.5 / scale, 2) * (1 + 1e-9)
      assert(mse <= bound, s"mse $mse exceeds quantization bound $bound")
    }
  }

  test("randomProjection: exact signed-sum on a hand-computed fixture") {
    val emb = Seq((1L, Seq(1.0f, -1.0f))).toDF("vec_id", "embedding")
    // qv = [127, -127]; proj_j = s(0,j)*127 + s(1,j)*(-127) with the same
    // affine-parity sign the engine derives
    def sign(i: Int, j: Int): Long =
      if (((i * 16 + j).toLong * 2654435761L) % 2147483647L % 2 == 0) 1L else -1L
    val proj = (0 until 16).map(j => sign(0, j) * 127L + sign(1, j) * -127L)
    val row = Similarity.randomProjection(emb)
      .select($"proj_check", $"proj_min", $"proj_max", $"proj_0")
      .as[(Long, Long, Long, Long)].collect().head
    assert(row._1 == proj.zipWithIndex.map { case (p, j) => p * (j + 1) }.sum)
    assert(row._2 == proj.min && row._3 == proj.max && row._4 == proj.head)
  }

  test("randomProjection on real embeddings: bounded, deterministic, discriminative") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.randomProjection(emb)
      .select($"vec_id", $"proj_check", $"proj_min", $"proj_max")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // each coordinate is a ±1-signed sum of 64 int8 values
    rows.foreach { case (_, _, lo, hi) =>
      assert(lo >= -127L * 64 && hi <= 127L * 64)
    }
    // projections separate vectors: checksum collisions should be rare
    assert(rows.map(_._2).distinct.length > rows.length * 9 / 10)
    val again = Similarity.randomProjection(emb)
      .select($"vec_id", $"proj_check").as[(Long, Long)].collect().toMap
    assert(rows.forall { case (id, chk, _, _) => again(id) == chk })
  }

  test("manifest checksum is partition-order-independent and document-sensitive") {
    val dir = "/root/testdata/sf0.001"
    def bysrc(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Any]] =
      df.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val base = bysrc(LlmData.manifest(spark, dir))
    assert(base.nonEmpty)
    // Same corpus, scrambled partitioning → identical manifest (the
    // checksum is a commutative fold, not an ordered one).
    val scrambled = graft.Tables.documents(spark, dir)
      .repartition(7, $"doc_id")
      .withColumn("h", graft.functions.Text.md5Long($"text"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(graft.functions.Text.tokenCount($"text").cast("long")).as("total_tokens"),
        expr("bit_xor(h)").as("content_checksum"),
        min($"doc_id").as("min_doc_id"),
        max($"doc_id").as("max_doc_id"),
        countDistinct($"lang").as("n_langs"))
    assert(bysrc(scrambled) == base)
    // One flipped document changes exactly its source's checksum.
    val docs = graft.Tables.documents(spark, dir)
    val mutated = docs.withColumn("text",
      when($"doc_id" === 0, concat($"text", lit(" tampered"))).otherwise($"text"))
    val mutSrc = docs.filter($"doc_id" === 0).select($"source").collect()(0).getString(0)
    val mut = mutated
      .withColumn("h", graft.functions.Text.md5Long($"text"))
      .groupBy($"source")
      .agg(expr("bit_xor(h)").as("content_checksum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseCk = LlmData.manifest(spark, dir)
      .select($"source", $"content_checksum")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mut(mutSrc) != baseCk(mutSrc), "tampered doc left its source checksum unchanged")
    assert((mut - mutSrc) == (baseCk - mutSrc), "untouched sources drifted")
  }

  test("bruteForceTopK is exact; lshTopK recall@10 >= 0.7 on real embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.bruteForceTopK(emb, nQueries = 3, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.size == 3 && exact.values.forall(_.size == 10))
    val approx = Similarity.lshTopK(emb, nQueries = 3, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      approx.get(q).map(a => a.intersect(ids).size / 10.0).getOrElse(0.0) }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 = $mean")
  }
}
