package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Properties of the round-5 operator families that an SQL oracle cannot
  * state directly: the sketch guarantees (one-sided CMS error, no Bloom
  * false negatives, bounded HLL relative error), PageRank's recurrence
  * checked against an independent in-memory evaluation, and the
  * entity-matching block/score contract on planted names.
  */
class SketchGraphEntitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("count-min estimates are one-sided: est >= exact on every probe") {
    val out = Sketches.countMin(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter(col("overcount") < 0).count() === 0)
    // at least the present keys estimate exactly-or-over, and keys absent
    // from the stream estimate >= 0
    assert(out.filter(col("exact") > 0 && col("est") < col("exact")).count() === 0)
    out.unpersist()
  }

  test("bloom filter never false-negatives and claimed >= actual per segment") {
    val out = Sketches.bloom(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.agg(sum("n_false_neg")).first().getLong(0) === 0L)
    assert(out.filter(col("n_claimed") < col("n_actual")).count() === 0)
    out.unpersist()
  }

  test("deterministic HLL (with the standard small-range switch) lands within 15%") {
    val rows = Sketches.hllDet(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val estRaw = r.getAs[Double]("est_raw")
      val zeros = r.getAs[Long]("n_zero_regs")
      val m = 256.0
      // the production estimator: LinearCounting below 2.5m (ln() lives
      // HERE, not in the hash-compared oracle — libm rounding isn't
      // portable); raw HLL above. The sf0.001 fixture (n=200) exercises
      // the LC branch, larger SFs the raw branch.
      val est = if (estRaw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else estRaw
      assert(math.abs(est - exact) / exact < 0.15,
        s"flag ${r.get(0)}: est $est vs exact $exact")
    }
  }

  test("q_sketch_agg's HLL++ and the oracled hllDet estimate the SAME cardinalities") {
    // r6 verdict item 6: q_sketch_agg is rows-only by design (Spark's
    // HLL++ sketch internals are engine-specific), so pin its error bound
    // by correlating it against the ORACLED deterministic sketch on
    // identical groups — both estimate |distinct l_partkey| per
    // l_returnflag over lineitem. Bands: Spark's approx_count_distinct
    // default rsd is 5% (≈10% at 2σ); hllDet with 256 registers has
    // rsd 1.04/√256 ≈ 6.5%, and its small-range LC branch is tested to
    // 15% above. Two independent estimators within their own bands of the
    // same exact value sit within the SUM of the bands of each other.
    import spark.implicits._
    val hllpp = Funcs.sketchAgg(spark, sf)
      .select($"l_returnflag", $"approx_parts".cast("double").as("a"))
    val det = Sketches.hllDet(spark, sf)
      .select($"l_returnflag", $"est_raw", $"n_zero_regs",
        $"n_exact".cast("double").as("exact"))
    val joined = hllpp.join(det, Seq("l_returnflag")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val m = 256.0
      val estRaw = r.getAs[Double]("est_raw")
      val zeros = r.getAs[Long]("n_zero_regs")
      val detEst = if (estRaw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else estRaw
      val hllppEst = r.getAs[Double]("a")
      val exact = r.getAs[Double]("exact")
      assert(math.abs(hllppEst - exact) / exact < 0.10,
        s"flag ${r.get(0)}: HLL++ $hllppEst vs exact $exact outside 10%")
      assert(math.abs(hllppEst - detEst) / exact < 0.25,
        s"flag ${r.get(0)}: HLL++ $hllppEst vs det-HLL $detEst diverge past the combined band")
    }
  }

  test("hllIntersect: union sketch dominates both sides; LC-corrected overlap within 20%") {
    // audience-overlap via inclusion-exclusion on the deterministic
    // sketches. Structural mergeability: the union sketch's registers are
    // per-register maxima, so its harmonic sum can never exceed either
    // side's and its zero-register set is the intersection of theirs.
    // Accuracy: with the standard LinearCounting switch applied per term
    // (ln() lives here, not in the hash-compared oracle), the measured
    // worst error is 4.8% at this SF / 11.6% at sf0.1 — 20% is the band.
    val rows = Sketches.hllIntersect(spark, sf).collect()
    assert(rows.size == 10, s"expected 10 segment pairs, got ${rows.size}")
    val numer = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * math.pow(2.0, 53)
    rows.foreach { r =>
      val (rsa, rsb, rsu) = (r.getAs[Long]("reg_sum_a"),
        r.getAs[Long]("reg_sum_b"), r.getAs[Long]("reg_sum_union"))
      val (za, zb, zu) = (r.getAs[Long]("n_zero_a"),
        r.getAs[Long]("n_zero_b"), r.getAs[Long]("n_zero_union"))
      assert(rsu <= math.min(rsa, rsb), s"union harmonic sum exceeds a side: $r")
      assert(zu <= math.min(za, zb), s"union has more zero registers than a side: $r")
      def corr(rs: Long, z: Long): Double = {
        val raw = numer / rs
        if (raw <= 2.5 * 256 && z > 0) 256.0 * math.log(256.0 / z) else raw
      }
      val est = corr(rsa, za) + corr(rsb, zb) - corr(rsu, zu)
      val exact = r.getAs[Long]("n_exact_intersect").toDouble
      assert(math.abs(est - exact) / exact < 0.20,
        s"${r.get(0)}x${r.get(1)}: corrected overlap $est vs exact $exact outside 20%")
    }
  }

  test("q_sketch_agg's approximate median sits inside the exact p49-p51 band") {
    // the KLL-style half of q_sketch_agg: percentile_approx at
    // accuracy=10000 guarantees rank error <= n/10000, far inside one
    // percentile at any test SF — so the approximate median must land
    // between the EXACT 49th and 51st percentiles per group (exact
    // percentile() is fine at test SF; production uses the sketch
    // precisely to avoid it).
    import spark.implicits._
    val approx = Funcs.sketchAgg(spark, sf)
      .select($"l_returnflag", $"approx_median")
    val exact = graft.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.49)").as("p49"),
        expr("percentile(l_extendedprice, 0.51)").as("p51"))
    val joined = approx.join(exact, Seq("l_returnflag")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val m = r.getAs[Double]("approx_median")
      val (lo, hi) = (r.getAs[Double]("p49"), r.getAs[Double]("p51"))
      assert(m >= lo && m <= hi,
        s"flag ${r.get(0)}: approx median $m outside exact [$lo, $hi]")
    }
  }

  test("bloomJoin: pre-filter never drops a true match; audit columns reconcile") {
    import spark.implicits._
    val rows = Sketches.bloomJoin(spark, sf)
      .select($"o_orderpriority", $"n_candidates", $"n_joined", $"n_pruned_fp", $"revenue_c")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // independent un-bloomed reference: the exact join result the
    // reduction must preserve (false negatives are impossible)
    val dim = graft.Tables.customer(spark, sf).filter($"c_nationkey" < 5)
      .select($"c_custkey")
    val direct = graft.Tables.orders(spark, sf)
      .join(dim, $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(round($"o_totalprice" * 100).cast("long")).as("rev"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (prio, nCand, nJoined, nFp, rev) =>
      assert(nCand == nJoined + nFp, s"$prio: audit columns must reconcile")
      val (dn, drev) = direct.getOrElse(prio, (0L, 0L))
      assert(nJoined == dn, s"$prio: bloom reduction changed the join result")
      assert(rev == drev, s"$prio: joined revenue diverged")
    }
  }

  test("hllMerge: the __ALL__ sketch equals the sketch built directly on the union") {
    import spark.implicits._
    val rows = Sketches.hllMerge(spark, sf).collect()
    val byType = rows.map(r => r.getAs[String]("event_type") -> r).toMap
    assert(byType.contains("__ALL__") && byType.size > 2)
    // independent recomputation: sketch the union in ONE level (no merge)
    // with the same register math — reg_sum/zero-regs must match exactly,
    // pinning that MAX-merge of group sketches == the union's sketch
    val keyed = graft.Tables.events(spark, sf)
      .select(graft.functions.Text.md5Long($"user_id".cast("string")).as("h"))
    val direct = keyed
      .withColumn("reg", $"h" % 256)
      .withColumn("v", shiftrightunsigned($"h", 8))
      .withColumn("rho", when($"v" === 0, lit(53))
        .otherwise(bit_count($"v".bitwiseAND(-$"v") - 1) + 1))
      .groupBy($"reg").agg(max($"rho").as("m_r"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - m_r)")).as("partial_sum"),
        count(lit(1)).as("n_hit_regs"))
      .head()
    val allRow = byType("__ALL__")
    val nZero = allRow.getAs[Long]("n_zero_regs")
    assert(nZero == 256L - direct.getAs[Long]("n_hit_regs"))
    // merged reg_sum = hit-register terms + 2^53 per untouched register
    val expectedSum = direct.getAs[Long]("partial_sum") + nZero * (1L << 53)
    assert(allRow.getAs[Long]("reg_sum") == expectedSum)
    // per-type estimates stay within the production error band (LC branch
    // at this SF, as in the hllDet test)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val estRaw = r.getAs[Double]("est_raw")
      val zeros = r.getAs[Long]("n_zero_regs")
      val m = 256.0
      val est = if (estRaw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else estRaw
      assert(math.abs(est - exact) / exact < 0.15,
        s"type ${r.get(0)}: est $est vs exact $exact")
    }
  }

  test("kHopReachability: BFS layers on a hand-built graph; min-dist wins over revisits") {
    import spark.implicits._
    // chain 1→2→3→4→5 plus a shortcut 1→4 and a back-edge 3→1: node 4 is
    // reachable at dist 3 via the chain AND dist 1 via the shortcut — the
    // min must win; the back-edge must not re-lower node 1 below 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (3L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val distDf = Graph.kHopReachability(edges, seeds, k = 3)
    val got = distDf.as[(Long, Int)].collect().toMap
    distDf.unpersist()
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2),
      s"BFS distances wrong: $got")
  }

  test("pageRank matches an independent in-memory evaluation of the recurrence") {
    import spark.implicits._
    // small directed graph with a hub, a chain, and mutual edges
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val edges = edgeList.toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference evaluation: same integer-micros recurrence, plain Scala
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.filter(n =>
      edgeList.exists(_._1 == n)) // pageRank keys nodes off edge sources
    val outdeg = edgeList.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val in = edgeList
        .filter(e => r.contains(e._1))
        .groupBy(_._2).map { case (dst, es) =>
          dst -> es.map(e => r(e._1) / outdeg(e._1)).sum
        }
      r = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(got === r)
    // damping floor: every rank at least the teleport mass
    got.values.foreach(v => assert(v >= 150000L))

    // the completeGraph fast path (skips the node-completion join) must
    // agree with the generic path on a symmetric edge set
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    val generic = Graph.pageRank(sym, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Graph.pageRank(sym, iters = 5, completeGraph = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === generic)
  }

  test("pageRankConverged: deterministic stopping rule, fixed-K equivalence, cap") {
    import spark.implicits._
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    val (ranks, iters) = Graph.pageRankConverged(sym, eps = 5000L, maxIters = 30)
    val got = ranks.as[(Long, Long)].collect().toMap
    assert(iters >= 1 && iters < 30, s"fixture should converge before the cap, ran $iters")
    // the convergence loop at its own stop count is EXACTLY fixed-K at K:
    // same recurrence, same integer math — this is the hash-green twin
    // relationship the oracle also encodes
    val fixed = Graph.pageRank(sym, iters = iters, completeGraph = true)
      .as[(Long, Long)].collect().toMap
    assert(got === fixed, "converged ranks must equal fixed-K ranks at K = iters_run")
    // the stopping rule held AND fired at the FIRST qualifying iteration:
    // delta(r_K, r_{K-1}) < eps, and (for K > 1) the previous round's
    // delta was still >= eps — the exact rule the DuckDB oracle replays
    def fixedK(k: Int): Map[Long, Long] =
      if (k == 0) got.keys.map(_ -> 1000000L).toMap
      else Graph.pageRank(sym, iters = k, completeGraph = true)
        .as[(Long, Long)].collect().toMap
    def delta(a: Map[Long, Long], b: Map[Long, Long]): Long =
      a.map { case (n, r) => math.abs(b(n) - r) }.max
    assert(delta(fixedK(iters - 1), got) < 5000L, "stop fired above eps")
    if (iters > 1)
      assert(delta(fixedK(iters - 2), fixedK(iters - 1)) >= 5000L,
        "loop overshot: an earlier iteration already satisfied eps")
    // an unreachable eps respects the iteration cap
    val (_, capped) = Graph.pageRankConverged(sym, eps = 0L, maxIters = 3)
    assert(capped == 3)
  }

  test("pageRankConverged amortized check: identical answer, measurably fewer jobs") {
    // r14 verdict item 4: the per-iteration convergence test cost one
    // driver round-trip (one Spark job) per iteration — 100 extra jobs on
    // a 100-iteration corpus. checkEvery = 2 batches every pending
    // round's max-delta into ONE unioned keyed aggregate and picks the
    // FIRST qualifying iteration, so the output contract (ranks AND
    // iters_run) is byte-identical at any cadence; only the job count
    // drops. Both properties asserted here: cadences 1 (the old
    // behavior, kept reachable through the parameter) and 2 agree
    // exactly, and cadence 2 runs strictly fewer jobs.
    import spark.implicits._
    val edgeList = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
    val sym = edgeList.flatMap(e => Seq(e, e.swap)).distinct.toDF("src", "dst")
    def run(cadence: Int, eps: Long, cap: Int): (Map[Long, Long], Int, Int) = {
      val tag = s"prc-jobs-$cadence-$eps-$cap"
      spark.sparkContext.setJobGroup(tag, tag)
      val (ranks, iters) =
        try Graph.pageRankConverged(sym, eps = eps, maxIters = cap,
          checkEvery = cadence)
        finally spark.sparkContext.clearJobGroup()
      val got = ranks.as[(Long, Long)].collect().toMap
      ranks.unpersist()
      // the status store is listener-fed (async) — poll briefly until the
      // group's job count stabilizes
      def jobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
      var (prev, stable) = (jobs(), 0)
      while (stable < 3) {
        Thread.sleep(100)
        val cur = jobs()
        if (cur == prev) stable += 1 else { prev = cur; stable = 0 }
      }
      (got, iters, prev)
    }
    // convergence fires mid-run: answers and iteration counts must agree
    val (g1, it1, _) = run(1, eps = 5000L, cap = 30)
    val (g2, it2, _) = run(2, eps = 5000L, cap = 30)
    assert(it1 == it2, s"cadence changed iters_run: $it1 vs $it2")
    assert(g1 === g2, "cadence changed the converged ranks")
    // no convergence (eps unreachable): pure job-count comparison over a
    // fixed 8 iterations — cadence 2 must save the skipped check jobs
    val (c1, _, j1) = run(1, eps = 0L, cap = 8)
    val (c2, _, j2) = run(2, eps = 0L, cap = 8)
    assert(c1 === c2)
    assert(j2 < j1, s"amortized cadence should run fewer jobs: $j2 !< $j1")
  }

  test("pageRank favors the hub over leaf nodes") {
    import spark.implicits._
    // star: every leaf points at the hub, hub points at one leaf
    val edges = (Seq((100L, 1L)) ++ (1L to 9L).map(i => (i, 100L))).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(100L) > ranks(1L))
    assert(ranks(100L) > 9L * ranks(2L) / 2L) // hub collects ~all leaf mass
  }

  test("entity matching finds planted near-duplicate names and scores exactly") {
    import spark.implicits._
    val dir = graft.GraftSession.scratchDir("entity-fix-")
    // same 14-char prefix + nation → in-block; planted distances 1 and 2;
    // the >2 pair and the cross-nation twin must NOT match
    Seq(
      (1L, "Customer#000000001", 7),
      (2L, "Customer#000000002", 7),  // dist 1 from #1
      (3L, "Customer#000000033", 7),  // dist 2 from #1, dist 2 from #2
      (4L, "Customer#000099999", 7),  // same prefix? no — differs at pos 14
      (5L, "Customer#000000001", 9)   // identical name, different nation
    ).toDF("c_custkey", "c_name", "c_nationkey")
      .withColumn("c_acctbal", lit(0.0)).withColumn("c_mktsegment", lit("X"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val matched = Entity.entityMatch(spark, dir)
    val out = matched.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    matched.unpersist() // entityMatch returns a caller-owned cached relation
    assert(out(1L) === ((2L, 1, 2L)))  // best = #2 at distance 1
    assert(out(2L) === ((2L, 1, 1L)))
    assert(out(3L)._2 === 2)
    assert(!out.contains(4L)) // prefix block excludes it (documented trade)
    assert(!out.contains(5L)) // nation key separates it
  }

  test("GIF video codec round-trips gray frames bit-exactly") {
    val w = 11
    val h = 7
    val frames = Seq(
      Array.tabulate(w * h)(i => (i * 37 + 5) % 256),
      Array.tabulate(w * h)(i => (i * 11 + 200) % 256),
      Array.tabulate(w * h)(i => 255 - (i % 256)))
    val bytes = Multimodal.GifVideoDecoder.encode(frames, w, h)
    val decoded = Multimodal.GifVideoDecoder.decode(bytes)
    assert(decoded.size === 3)
    decoded.zip(frames).foreach { case (rows, expect) =>
      assert(rows.length === h)
      rows.zipWithIndex.foreach { case (row, y) =>
        row.zipWithIndex.foreach { case (v, x) =>
          assert(v === expect(y * w + x))
        }
      }
    }
  }

  test("heavy-hitters summary equals the local canonical MG computation and misses nothing heavy") {
    // the distributed q_topk_freq must be the EXACT pure function of the
    // frequency map the canonical construction defines: per-md5-bucket
    // prune to k, n-ary merge prune to K — recomputed here from collected
    // exact counts — and any token it drops must be certified light
    // (count <= its bucket's off_b + goff)
    import graft.functions.Text
    import spark.implicits._
    val counts = graft.Tables.documents(spark, sf)
      .select(explode(Text.tokensLower(col("text"))).as("token"))
      .groupBy("token").count()
      .as[(String, Long)].collect().toMap
    def bucketOf(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 7), 16) % 16
    }
    val byBucket = counts.groupBy { case (t, _) => bucketOf(t) }
    val bucketSummaries = byBucket.map { case (b, cs) => b -> Sketches.mgSummary(cs, 8) }
    val combined = bucketSummaries.values.map(_._1).reduce(_ ++ _) // disjoint tokens
    val (finalM, goff) = Sketches.mgSummary(combined, 20)
    val rows = Sketches.topkFreq(spark, sf).collect()
      .map(r => r.getAs[String]("token") ->
        ((r.getAs[Long]("bucket"), r.getAs[Long]("est"),
          r.getAs[Long]("err_bound"), r.getAs[Long]("exact")))).toMap
    assert(rows.keySet === finalM.keySet, "distributed summary != canonical MG keep set")
    rows.foreach { case (t, (b, est, err, exact)) =>
      assert(b === bucketOf(t))
      assert(est === finalM(t), s"$t: est $est != canonical ${finalM(t)}")
      assert(exact === counts(t))
      assert(err === bucketSummaries(b)._2 + goff)
      assert(est + err === exact, "MG weight must undercount by exactly the prune offsets")
    }
    // miss certificate: every dropped token is provably below its bucket's bound
    counts.foreach { case (t, c) =>
      if (!rows.contains(t)) {
        val bound = bucketSummaries(bucketOf(t))._2 + goff
        assert(c <= bound, s"dropped token $t has count $c > certificate $bound")
      }
    }
  }

  test("quantile sketch: bucket bounds, exact merge, containment, and SQL-expr parity") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // values spanning the full exponent range, including bucket edges
    val vs = (Seq(1L, 2L, 31L, 32L, 33L, 63L, 64L, Long.MaxValue, Long.MaxValue - 1) ++
      (1 to 2000).map(_ => math.abs(rnd.nextLong()) % (1L << rnd.nextInt(62)) + 1)).distinct
    // (1) structural bounds: v sits in its bucket; relative width ≤ 2^-QsBits
    vs.foreach { v =>
      val b = Sketches.qsBucket(v)
      val w = Sketches.qsWidth(b)
      assert(b <= v && v <= b + w - 1, s"$v outside bucket [$b, ${b + w - 1}]")
      assert(w == 1 || w * (1L << Sketches.qsBits) <= b,
        s"bucket width $w too wide for lower bound $b")
    }
    // (2) the relational bucket expression IS qsBucket (engine parity of
    // bin/shiftleft/% on the exact same values the scala mirror maps)
    val fromSpark = vs.toDF("v")
      .selectExpr("v", s"v - v % shiftleft(cast(1 as bigint), greatest(length(bin(v)) - 1 - ${Sketches.qsBits}, 0)) AS b")
      .as[(Long, Long)].collect()
    fromSpark.foreach { case (v, b) =>
      assert(b === Sketches.qsBucket(v), s"SQL-expr bucket of $v diverges from the scala mirror")
    }
    // (3) merge exactness: sketch(A ++ B) == bucket-wise sum — fixed
    // value-space cells, unlike rank-space summaries, lose nothing
    val (a, b2) = vs.splitAt(vs.size / 3)
    def sketchOf(xs: Seq[Long]): Map[Long, Long] =
      xs.groupBy(Sketches.qsBucket).map { case (k, g) => k -> g.size.toLong }
    val mergedMap = (sketchOf(a).keySet ++ sketchOf(b2).keySet).map(k =>
      k -> (sketchOf(a).getOrElse(k, 0L) + sketchOf(b2).getOrElse(k, 0L))).toMap
    assert(mergedMap === sketchOf(a ++ b2))
    // (4) containment: for every probe, the exact quantile (smallest value
    // whose cumulative count reaches ceil(p·n)) falls inside the bucket
    // the sketch answers with
    val sorted = vs.sorted
    val n = sorted.size.toLong
    val cum = sketchOf(vs).toSeq.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, c), (k, cnt)) => (k, c + cnt) }.drop(1)
    Seq((1L, 2L), (9L, 10L), (99L, 100L), (999L, 1000L)).foreach { case (num, den) =>
      val rank = (num * n + den - 1) / den
      val exact = sorted((rank - 1).toInt)
      val estLo = cum.find(_._2 >= rank).get._1
      val estHi = estLo + Sketches.qsWidth(estLo) - 1
      assert(exact >= estLo && exact <= estHi,
        s"p=$num/$den: exact $exact outside sketch bucket [$estLo, $estHi]")
    }
    // (5) the registered query's containment invariant holds on real data
    val out = Sketches.quantileSketch(spark, sf).collect()
    assert(out.length === 16) // 4 scopes (3 flags + ALL) x 4 probes
    out.foreach(r => assert(r.getAs[Boolean]("in_bucket"),
      s"containment violated: $r"))
  }
}
