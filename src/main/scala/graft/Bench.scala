package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The registry runner: times every registered query through
  * [[Fingerprint]] for `SPARK_GRAFT_BENCH_ITERS` iterations (cache cleared
  * before each) and checks, from the same fingerprints, that every oracled
  * query returned the same output in every iteration.
  *
  * Settings: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1),
  * `SPARK_GRAFT_BENCH_ITERS` (default 3, at least 1) and `SPARK_GRAFT_BENCH_QUERIES`
  * (comma-separated exact names, default the whole registry), plus
  * `GraftSession`'s `SPARK_GRAFT_CPUS`.
  *
  * Products: one `[determinism]` line per oracled query and the
  * `N/M stable, F failed` summary on stdout, and the full record in
  * `target/bench_full.json` (per-query medians `queries`, every timed run
  * `per_query_iters`, classes compiled per run `per_query_compiled`,
  * `failed_queries`). Exit 1 when a query throws, an oracled query's
  * fingerprint changes between iterations, or the record cannot be
  * written. */
object Bench {

  private[graft] type Fp = (Long, Long, Long)

  /** One oracled query's determinism verdict and its `[determinism]` line. */
  private[graft] final case class Verdict(query: String, line: String, stable: Boolean)

  /** Compares each query's per-iteration fingerprints (`Left` = the error
    * that iteration threw). An oracled query is stable when every
    * iteration equals the first, FAIL when a later one differs, ERROR when
    * any threw. Rows-only queries are not compared: learned-float ML
    * training and partition-layout-dependent sampling are not hash-stable
    * across runs by design and are gated by their own scalatest properties.
    * A single iteration compares nothing. The guard is against
    * partition-order-dependent output (un-tiebroken window ranks,
    * first()/head-of-group aggregates, float-summation-order leaks), which
    * often passes a single oracle compare by luck. */
  private[graft] def determinism(runs: Seq[(String, Seq[Either[String, Fp]])],
                                 oracled: String => Boolean): Seq[Verdict] =
    runs.collect { case (name, rs) if oracled(name) && rs.size > 1 =>
      rs.collectFirst { case Left(msg) => msg } match {
        case Some(msg) => Verdict(name, s"[determinism] ERROR $name: $msg", stable = false)
        case None =>
          val fps = rs.collect { case Right(fp) => fp }
          fps.indexWhere(_ != fps.head) match {
            case -1 =>
              val (h, s, n) = fps.head
              Verdict(name, f"[determinism] PASS $name%-32s hash=$h%20d sum=$s%20d rows=$n", stable = true)
            case k =>
              Verdict(name, s"[determinism] FAIL $name: run1=${fps.head} run${k + 1}=${fps(k)}", stable = false)
          }
      }
    }

  private[graft] def summary(verdicts: Seq[Verdict]): String = {
    val failed = verdicts.count(!_.stable)
    s"[determinism] ${verdicts.size - failed}/${verdicts.size} stable, $failed failed"
  }

  private def jStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private final case class Run(sec: Double, compiled: Long, result: Either[String, Fp])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val iters = GraftSession.positiveInt(sys.env, "SPARK_GRAFT_BENCH_ITERS", 3)
    val spark = GraftSession.create(cpus)
    // Untimed warmup: JVM/codegen/parquet-reader startup shouldn't be
    // charged to whichever query happens to run first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).groupBy("l_returnflag").count().collect()
    // Deterministic (sorted) query order so per-query timings and cache
    // interactions are comparable across runs. One-time fixture creation
    // (bucketed tables) lands in iteration 1, where the median discards it.
    // A subset's record joins on query name in tools/scale_ratio.py, but
    // its total is not comparable to a full-registry run. Unknown names
    // fail fast: a typo that silently shrank the subset would fake a green
    // gate.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_QUERIES names not in registry: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    // A failing query is still timed (time-to-failure) so the run
    // completes; its error is reported in the record and by exit code.
    // `compiled` is the CodegenMetrics delta: a query that compiles again
    // in a later iteration lost its classes from Spark's 100-entry codegen
    // cache to the queries between.
    def timed(run: => org.apache.spark.sql.DataFrame): Run = {
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val result =
        try Right(Fingerprint(run))
        catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString)
        }
      Run((System.nanoTime() - t0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0, result)
    }
    val iterRuns = (1 to iters).map { _ =>
      spark.catalog.clearCache()
      queries.map { case (_, fn) => timed(fn(spark, sfDir)) }
    }
    val runs = queries.map(_._1).zip(iterRuns.transpose)
    val verdicts = determinism(runs.map { case (n, rs) => n -> rs.map(_.result) },
      SparkEntry.oracleSql.contains)
    verdicts.foreach(v => println(v.line))
    if (verdicts.nonEmpty) println(summary(verdicts))
    // name -> the error of its LAST failing iteration, else the mismatch
    val failures = verdicts.collect {
      case v if !v.stable => v.query -> "fingerprint differs between iterations"
    }.toMap ++ runs.flatMap { case (name, rs) =>
      rs.reverseIterator.collectFirst { case Run(_, _, Left(msg)) => name -> msg.take(300) }
    }

    def byQuery(f: Run => Any): String = runs.map { case (name, rs) =>
      jStr(name) + ":" + rs.map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val medians = runs.map { case (name, rs) => name -> median(rs.map(_.sec)) }
    val qs = medians.map { case (k, v) => jStr(k) + ":" + v }.mkString("{", ",", "}")
    val failJson = failures.toSeq.sortBy(_._1)
      .map { case (k, v) => jStr(k) + ":" + jStr(v) }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    val itJson = iterRuns.map(_.map(_.sec).sum).mkString("[", ",", "]")
    val nCpus = Runtime.getRuntime.availableProcessors
    val record = s"""{"metric":"total_median","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","iters":$iters,"iter_totals":$itJson,"per_query_iters":${byQuery(_.sec)},"per_query_compiled":${byQuery(_.compiled)},"failed_queries":$failJson,"host_cpus":$nCpus,"spark_cpus":$cpus}"""
    // The record is the run's only timing product: a write that fails
    // fails the run, so no caller copies a record an earlier run left.
    try {
      val out = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (record + "\n").getBytes("UTF-8"))
    } finally spark.stop()
    println(f"[bench] total_median $total%.3f s over ${queries.size} queries, $iters iterations -> target/bench_full.json")
    if (failures.nonEmpty) {
      System.err.println(s"BENCH: ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: ${failures.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
