package graft

import org.apache.spark.metrics.source.CodegenMetrics

object Bench {

  /** Calibration protocol number stamped into BOTH the full record and
    * the compact summary (they must never disagree — ADVICE r13). 2 =
    * median-of-3 fixed xxhash fold; 1 (r12) was a single sample that
    * included the fold's own JIT. bench_delta refuses to normalize
    * calib ratios across differing protocol numbers. */
  private[graft] val CalibProtocol = 2

  private[graft] def jStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The FINAL stdout line: a compact summary guaranteed to fit a
    * tail-truncating (~2000 char) log window whole, no matter how many
    * queries are registered — per-query data stays in the full record
    * (target/bench_full.json), never here. BenchSummarySpec pins the
    * length bound; keep it the last thing printed. */
  private[graft] def compactSummary(total: Double, sfDir: String, iters: Int,
                                    nQueries: Int, iterTotals: Seq[Double],
                                    iterLoads: Seq[Double],
                                    failedNames: Seq[String], hostCpus: Int,
                                    sparkCpus: String,
                                    startLoad: Double = 0.0,
                                    loadThreshold: Double = 0.0,
                                    loadWaitedSec: Int = 0,
                                    iterExternalLoads: Seq[Double] = Nil,
                                    calibSec: Double = -1.0): String = {
    val itJson = iterTotals.mkString("[", ",", "]")
    val loadJson = iterLoads.mkString("[", ",", "]")
    val extJson = iterExternalLoads.mkString("[", ",", "]")
    val fails = failedNames.sorted.mkString(",").take(600)
    // `contended` is the honest-measurement flag (r7 verdict item 1): the
    // r7 artifact was captured at start load 4.3 and overstated the
    // registry by ~4% vs the same-HEAD solo run. A reader of the artifact
    // sees the gate verdict without reconstructing it from the load trace.
    // r11 verdict item 5 extends it per-iteration: the start gate can pass
    // and contention arrive mid-run (r11's artifact carried a uniform
    // ~1.09x host tax that needed a manual close-baseline diff to read).
    // `iter_external_load` attributes each iteration's 1-min load average
    // MINUS this process's own CPU share over the iteration — an estimate
    // (the load average lags ~1 min), but it makes a contaminated
    // iteration visible in the committed artifact itself; `contended`
    // goes true if the start gate failed OR any iteration's external load
    // exceeded the same threshold.
    val iterContended =
      loadThreshold > 0 && iterExternalLoads.exists(_ > loadThreshold)
    val contended = (startLoad > loadThreshold && loadThreshold > 0) || iterContended
    s"""{"metric":"total_median","value":$total,"unit":"sec","sf":"$sfDir","iters":$iters,"n_queries":$nQueries,"iter_totals":$itJson,"iter_load_avg":$loadJson,"iter_external_load":$extJson,"calib_sec":$calibSec,"calib_protocol":$CalibProtocol,"start_load_avg":$startLoad,"load_gate_threshold":$loadThreshold,"load_waited_sec":$loadWaitedSec,"contended":$contended,"n_failed":${failedNames.size},"failed_names":${jStr(fails)},"host_cpus":$hostCpus,"spark_cpus":$sparkCpus,"full_record":"target/bench_full.json"}"""
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession.create(cpus)
    // Contention gate (r7 verdict item 1): a bench started on a busy host
    // records numbers that overstate every query (r7's committed artifact:
    // start load 4.3 → +4% vs the same-HEAD solo run). Wait, bounded, for
    // the 1-min load average to decay below the threshold before timing
    // anything; if it never does, proceed but stamp the summary
    // `contended:true` so the artifact self-reports its quality.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT_SEC", "300").toInt
    var loadWaited = 0
    var startLoad = osBean.getSystemLoadAverage
    while (startLoad > maxLoad && loadWaited < maxWaitSec) {
      System.err.println(f"[bench] start load_avg $startLoad%.2f > $maxLoad%.2f — waiting ($loadWaited/$maxWaitSec s)")
      Thread.sleep(15000)
      loadWaited += 15
      startLoad = osBean.getSystemLoadAverage
    }
    if (startLoad > maxLoad)
      System.err.println(f"[bench] proceeding CONTENDED: load_avg $startLoad%.2f after $loadWaited s")
    // Untimed warmup: JVM/codegen/parquet-reader startup shouldn't be
    // charged to whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).groupBy("l_returnflag").count().collect()
    // Host-speed calibration (r12): a fixed CPU-bound probe, identical
    // every run, recorded in the artifact. Rationale — this round's A/B
    // (same query, r11 HEAD vs r12 HEAD, interleaved on today's box)
    // showed a uniform ~1.26x slowdown vs the r11 close baselines while
    // BOTH the load average gate and the external-load residual read
    // clean: the host epoch itself was slower, invisible to any
    // load-based signal. calib_sec makes that epoch explicit, so two
    // rounds' artifacts can be compared as value/calib ratios instead of
    // needing a manual same-day close-baseline re-run.
    // Median of THREE probes (ADVICE r12): a single probe taken in a
    // contended or thermally-throttled window would mis-scale every
    // cross-round comparison that normalizes by it, while looking
    // authoritative. Three spaced samples cost ~2 s and let the median
    // discard one bad window.
    val calibSamples = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // calib_protocol 2 = median-of-3. Protocol 1 (r12, a single sample)
    // INCLUDED whole-stage-codegen JIT of the fold itself, which the
    // median now discards — measured 0.515 s (r12, protocol 1) vs
    // 0.197 s (r13, protocol 2) on comparable boxes. Ratios across
    // protocols are therefore meaningless; bench_delta refuses to
    // normalize unless both artifacts carry the same protocol number.
    val calibSec = calibSamples.sorted.apply(1)
    System.err.println(f"[bench] host calibration: $calibSec%.3f s " +
      f"(median of ${calibSamples.map(s => f"$s%.3f").mkString("/")}; fixed 2e8-row xxhash fold)")
    // Deterministic (sorted) query order so per-query timings and cache
    // interactions are comparable across runs and rounds. Multiple
    // iterations with a cache clear between them: per-query medians defang
    // host-contention noise (the dominant variance source — see ROUND2.md),
    // and one-time fixture creation (bucketed tables) lands in iteration 1
    // where the median discards it.
    // Optional subset (r17, for the sf100 epoch): comma-separated EXACT
    // query names. An epoch artifact produced under a subset is still a
    // valid input to tools/scale_ratio.py (it joins on query name), but
    // its total is NOT comparable to a full-registry run — the summary
    // carries n_queries so a reader can tell. Unknown names fail fast:
    // a typo that silently shrank the subset would fake a green gate.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_QUERIES names not in registry: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    val perQuery = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // name -> error message from the LAST failing iteration. A failing query
    // still gets timed (time-to-failure) so the bench completes, but the
    // failure is reported in the JSON and via exit code — never silently
    // recorded as a healthy number.
    val failures = scala.collection.mutable.Map[String, String]()
    // Classes Spark compiled during each timed run (the CodegenMetrics
    // delta): a query that compiles again in a later iteration lost its
    // classes from Spark's 100-entry codegen cache to the queries between.
    val perQueryCompiled = scala.collection.mutable.Map[String, Vector[Long]]()
      .withDefaultValue(Vector.empty)
    def timed(name: String, run: => org.apache.spark.sql.DataFrame): Double = {
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try Fingerprint(run)
      catch { case e: Throwable =>
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(300)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      perQuery(name) = perQuery(name) :+ dt
      perQueryCompiled(name) = perQueryCompiled(name) :+
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
      dt
    }
    // Per-iteration load average: host contention on a shared box hits some
    // iterations and not others; raw per-iteration rows (below) plus the
    // load trace make a contaminated run self-diagnosing without a re-run.
    val iterLoadAvg = scala.collection.mutable.ArrayBuffer[Double]()
    // External-load attribution (r11 verdict item 5): per iteration,
    // 1-min load average minus THIS JVM's own CPU share over the
    // iteration (process CPU-time delta / wall delta). The bench's own 32
    // threads dominate the raw load average, so the raw trace can't
    // distinguish "we were busy" from "the host was busy" — the residual
    // can. Estimate, not measurement (the load average is a ~1-min EWMA),
    // but it is the signal the r11 close-baseline arbitration had to
    // reconstruct by hand.
    val iterExternalLoad = scala.collection.mutable.ArrayBuffer[Double]()
    val procBean = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    val iterTotals = (1 to iters).map { _ =>
      spark.catalog.clearCache()
      val wall0 = System.nanoTime()
      val cpu0 = procBean.map(_.getProcessCpuTime)
      val t = queries.map { case (name, fn) => timed(name, fn(spark, sfDir)) }.sum
      val load = osBean.getSystemLoadAverage
      iterLoadAvg += load
      iterExternalLoad += procBean.map { b =>
        val ownCores = (b.getProcessCpuTime - cpu0.get).toDouble /
          math.max(1L, System.nanoTime() - wall0)
        math.max(0.0, load - ownCores)
      }.getOrElse(-1.0) // JVM without the com.sun bean: attribution unavailable
      t
    }
    // Variance damping for the slow tail (r6 verdict "wrong #2"): the ML
    // training queries are the registry's most contention-sensitive — many
    // short tree-depth jobs, so one noisy iteration among 3 moves the
    // recorded median by 2-3×. Queries whose median over the base iterations
    // exceeds SLOW_SEC get SLOW_ITERS extra timed samples; a 5-sample median
    // discards up to two contended runs. Wall-clock stays bounded because
    // only the slow tail (typically 5-7 of 160+ queries) re-runs.
    val slowSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_SEC", "5.0").toDouble
    val slowIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_ITERS", "2").toInt
    val slowNames = queries.collect {
      case (name, _) if median(perQuery(name)) > slowSec => name
    }
    if (slowIters > 0 && slowNames.nonEmpty) {
      val slowSet = slowNames.toSet
      (1 to slowIters).foreach { _ =>
        spark.catalog.clearCache()
        queries.foreach { case (name, fn) => if (slowSet(name)) timed(name, fn(spark, sfDir)) }
      }
    }
    val medians = queries.map { case (name, _) => name -> median(perQuery(name)) }
    val qs = medians.map { case (k, v) => jStr(k) + ":" + v }
      .mkString("{", ",", "}")
    def byQuery(runs: String => Seq[Any]): String = queries.map { case (name, _) =>
      jStr(name) + ":" + runs(name).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val perIter = byQuery(perQuery)
    val compiledJson = byQuery(perQueryCompiled)
    val failJson = failures.toSeq.sortBy(_._1)
      .map { case (k, v) => jStr(k) + ":" + jStr(v) }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    val itJson = iterTotals.mkString("[", ",", "]")
    val loadJson = iterLoadAvg.mkString("[", ",", "]")
    val nCpus = Runtime.getRuntime.availableProcessors
    val extJson = iterExternalLoad.mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total_median","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","iters":$iters,"iter_totals":$itJson,"per_query_iters":$perIter,"per_query_compiled":$compiledJson,"iter_load_avg":$loadJson,"iter_external_load":$extJson,"calib_sec":$calibSec,"calib_protocol":$CalibProtocol,"start_load_avg":$startLoad,"load_gate_threshold":$maxLoad,"load_waited_sec":$loadWaited,"failed_queries":$failJson,"host_cpus":$nCpus,"load_avg_start_of_report":${osBean.getSystemLoadAverage},"spark_cpus":$cpus,"slow_threshold_sec":$slowSec,"slow_extra_iters":$slowIters,"slow_queries":${slowNames.sorted.map(jStr).mkString("[", ",", "]")}}"""
    println(fullLine)
    // The full line above is ~10 KB (146 queries × per-iteration arrays); the
    // driver's artifact keeps only the last ~2000 chars of stdout, which
    // front-truncates it — BENCH_r03..r05 all recorded `parsed: null` because
    // of this. Persist the full record to a file for local analysis
    // (tools/bench_delta.py reads it), then emit a compact (<1 KB) summary as
    // the FINAL stdout line so the driver's tail window always ends with one
    // complete, parseable JSON object carrying the headline number.
    try {
      val out = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // reporting must not fail the bench
    spark.stop()
    println(compactSummary(total, sfDir, iters, queries.size,
      iterTotals, iterLoadAvg.toSeq, failures.keys.toSeq, nCpus, cpus.toString,
      startLoad, maxLoad, loadWaited, iterExternalLoad.toSeq, calibSec))
    if (failures.nonEmpty) {
      System.err.println(s"BENCH: ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
