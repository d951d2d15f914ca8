package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options of one benchmark run (see perfbench/run.py, which
  * builds the classpath, prepares the data and passes these). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, out: String, expected: String,
                      record: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("work"), req("out"), req("expected"), m.get("record").contains("1"))
  }
}

/** Builds every Spark session of the benchmark: the settings `graft.Bench`
  * uses, with the warehouse, local and checkpoint directories inside the
  * run's own work directory, so each run starts from an empty warehouse
  * and its set-up includes the bucketed-table builds. */
object Session {
  def create(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // graft.Tuning's fixture flag, as Bench, Verify and the tests set it.
      .config("spark.graft.fixturePartitioning", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    spark
  }

  /** `graft.ops.Etl` and `graft.ops.Sources` keep their file fixtures
    * under one absolute directory fixed in the engine, whatever the
    * checkout. Point it into the run's work directory so the benchmark
    * writes only inside its checkout and two runs never share fixtures.
    * The field is a static final of the object's class: it is set right
    * after the class initialises, before any engine code reads it. An
    * engine without the field is left as it is. */
  def redirectFixtureRoot(dir: File): Unit =
    Seq("graft.ops.Etl$", "graft.ops.Sources$").foreach { cls =>
      try {
        val f = Class.forName(cls).getDeclaredField("fixtureRoot")
        val theUnsafe = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
        theUnsafe.setAccessible(true)
        val u = theUnsafe.get(null).asInstanceOf[sun.misc.Unsafe]
        u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), dir.getAbsolutePath)
      } catch {
        case _: NoSuchFieldException | _: ClassNotFoundException =>
          System.err.println(s"[perfbench] $cls has no fixtureRoot; left as is")
      }
    }
}

/** Expected outputs, committed with the benchmark: one line per (rung,
  * query), either `exact <rows> <checksum>` or `contract` (checked against
  * the registry's RowsOnlyContract). */
object Expected {
  def load(path: String, rung: String): Map[String, Either[Unit, Stats.Exact]] =
    if (!new File(path).exists) Map.empty
    else Files.readAllLines(Paths.get(path), UTF_8).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+"))
      .collect {
        case Array(`rung`, q, "exact", rows, sum) => q -> Right(Stats.Exact(rows.toLong, sum.toLong))
        case Array(`rung`, q, "contract") => q -> Left(())
      }.toMap

  def save(path: String, rung: String, entries: Map[String, Option[Stats.Exact]]): Unit = {
    val f = new File(path)
    val kept = if (f.exists) Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq
      .filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .filterNot(l => l.split("\\s+") match { case Array(r, q, _*) => r == rung && entries.contains(q) })
    else Nil
    val added = entries.toSeq.map {
      case (q, Some(e)) => s"$rung\t$q\texact\t${e.rows}\t${e.checksum}"
      case (q, None) => s"$rung\t$q\tcontract"
    }
    val header = "# rung\tquery\tkind\trows\tchecksum (bit_xor(xxhash64(struct(*))))"
    Files.writeString(f.toPath, (header +: (kept ++ added).sorted).mkString("", "\n", "\n"), UTF_8)
  }
}

/** One pass: its wall, CPU and GC time, each query's latency, and, when
  * traced, its per-layer values. */
final case class Pass(wallS: Double, cpuS: Double, gcMs: Double, latencies: Seq[(String, Double)],
                      traced: Boolean, layers: Map[String, Double])

object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts.parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private val procBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = procBean.getProcessCpuTime / 1e9
  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map(
      _.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum.toDouble

  /** Host CPU ticks from /proc/stat: (steal, all). */
  private def cpuTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.isFile) (0L, 0L)
    else {
      val t = Files.readAllLines(f.toPath).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    }
  }

  /** Share of CPU time the hypervisor gave to others since `from`. */
  private def stealShare(from: (Long, Long)): Double = {
    val (s, all) = cpuTicks()
    if (all > from._2) (s - from._1).toDouble / (all - from._2) else 0.0
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Runs the query fully and returns its row count and checksum in one
    * job: `count` alone would let Catalyst prune the projection. */
  private def force(df: DataFrame): Stats.Observed = {
    val cols = df.columns.toSeq
    val r = df.select(xxhash64(struct(cols.map(c => col(s"`$c`")): _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    Stats.Observed(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), cols)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  def run(o: Opts): Int = {
    val w = Workloads.byName(o.workload)
    val dir = new File(o.data, w.rung).getAbsolutePath
    require(new File(dir).isDirectory, s"missing input $dir")
    val work = new File(o.work)
    Session.redirectFixtureRoot(new File(work, "qfixtures"))
    val spark = Session.create(work)
    try measure(spark, w, dir, work, o) finally spark.stop()
  }

  private def measure(spark: SparkSession, w: Workload, dir: String, work: File, o: Opts): Int = {
    val registry = graft.SparkEntry.queries
    val contracts = graft.SparkEntry.rowsOnlyContracts
    val missing = w.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in graft.SparkEntry.queries: ${missing.mkString(",")}")
    val expected = Expected.load(o.expected, w.rung)
    val sc = spark.sparkContext
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val ckpt = new File(work, "checkpoints")

    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()
    val observed = mutable.Map[String, mutable.ArrayBuffer[Stats.Observed]]()
    val inputBytes = mutable.Map[String, Long]()

    def check(q: String, out: Stats.Observed): Option[String] =
      if (o.record) None
      else expected.get(q) match {
        case Some(Right(e)) => Stats.check(e, out)
        case Some(Left(())) => contracts.get(q) match {
          case Some(c) => Stats.check(Stats.Contract(c.columns, c.minRows), out)
          case None => Some("listed as contract-checked but has no RowsOnlyContract")
        }
        case None => Some(s"no expected output recorded for ${w.rung}")
      }

    /** One query: build (the registry call, which may run eager actions),
      * then force. Returns its latency in seconds. */
    def runQuery(q: String, traced: Boolean): Double = {
      val span = tracer.filter(_ => traced).map(_.newId()).getOrElse(0L)
      if (traced) sc.setLocalProperty(Tracer.SpanKey, span.toString)
      val ckptBefore = if (traced) dirBytes(ckpt) else 0L
      val rddsBefore = if (traced) sc.getPersistentRDDs.size else 0
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      attempted += 1
      var t1 = t0
      val result =
        try {
          val df = registry(q)(spark, dir)
          t1 = System.nanoTime()
          Right((df, force(df)))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      result.foreach { case (df, _) =>
        if (!inputBytes.contains(q)) inputBytes(q) = inputSize(spark, df) }
      result.map(_._2).flatMap(out => check(q, out).toLeft(out)) match {
        case Left(why) =>
          failures += s"$q: ${why.linesIterator.take(1).mkString.take(300)}"
          System.err.println(s"[perfbench] FAILED $q: $why")
        case Right(out) => observed.getOrElseUpdate(q, mutable.ArrayBuffer()) += out
      }
      tracer.filter(_ => traced).foreach { t =>
        val wall1 = wall0 + (t2 - t0) / 1000000
        val buildEnd = wall0 + (t1 - t0) / 1000000
        t.add("plan.build_ms", (t1 - t0) / 1e6)
        t.add("cache.leaked_rdds", math.max(0, sc.getPersistentRDDs.size - rddsBefore).toDouble)
        t.add("loop.checkpoint_bytes", math.max(0L, dirBytes(ckpt) - ckptBefore).toDouble)
        t.synchronized {
          t.spans += Span(span, 0L, "query", q, wall0, wall1)
          t.spans += Span(t.newId(), span, "build", q, wall0, buildEnd)
          t.spans += Span(t.newId(), span, "force", q, buildEnd, wall1)
        }
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
      (t2 - t0) / 1e9
    }

    /** Timed passes run the queries in an order shuffled by the seed; the
      * warm-up pass (i < 0) keeps the listed order, so set-up repeats. */
    def runPass(i: Int, traced: Boolean): Pass = {
      spark.catalog.clearCache()
      val order = if (i < 0) w.queries else new Random(o.seed * 1000003L + i).shuffle(w.queries)
      tracer.filter(_ => traced).foreach(_.attach())
      val gc0 = gcMs()
      val cpu0 = cpuS()
      val t0 = System.nanoTime()
      val lat = order.map(q => q -> runQuery(q, traced))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpu = cpuS() - cpu0
      val gc = gcMs() - gc0
      val layers = tracer.filter(_ => traced).map { t =>
        t.add("jvm.gc_ms", gc)
        t.endPass(wallS * 1000)
      }.getOrElse(Map.empty)
      System.err.println(f"[perfbench] pass $i${if (traced) " traced" else ""}: $wallS%.3f s " +
        lat.map { case (q, s) => f"$q=$s%.2f" }.mkString(" "))
      Pass(wallS, cpu, gc, lat, traced, layers)
    }

    if (o.record) return record(w, o, (0 until 2).map(i => runPass(i, traced = false)), observed,
      contracts.keySet, failures)

    // Warm-up: one untimed pass builds the fixtures and bucketed tables and
    // JIT-compiles the hot paths. A traced run reports no set-up time; one
    // more warm-up pass there keeps the slower first timed pass out of
    // trace.overhead.
    (0 until Warmups + (if (o.trace) 1 else 0)).foreach(i => runPass(-1 - i, traced = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // At least five passes, so the median discards two slow passes either
    // way; a traced run has at least two of each kind.
    val minPasses = 5
    val passes = mutable.ArrayBuffer[Pass]()
    val steal0 = cpuTicks()
    val start = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < o.seconds) {
      // Traced passes in the pattern U T T U, so steady drift toward faster
      // passes does not bias trace.overhead either way.
      passes += runPass(passes.size, traced = o.trace && Set(1, 2)(passes.size % 4))
    }
    val peakRss = peakRssMb()

    val untraced = passes.filterNot(_.traced)
    val perPassMb = w.queries.map(q => inputBytes.getOrElse(q, 0L)).sum / 1e6
    val lat = untraced.flatMap(_.latencies.map(_._2)).toSeq
    val tail = Stats.tail(lat, TailBeyond)
    val (p25, p50, p75) = Stats.quartiles(untraced.map(_.wallS).toSeq)
    val failed = failures.size
    val correct = failed == 0

    val out = mutable.ArrayBuffer[String]()
    out += f"workload=${w.name} rung=${w.rung} seed=${o.seed} cores=${Runtime.getRuntime.availableProcessors} " +
      f"passes=${untraced.size} queries=${w.queries.size} trace=${if (o.trace) 1 else 0}"
    out += f"setup_s = $setupS%.3f s (JVM start to the first timed pass, warm-up included)"
    out += f"pass_s_p50 = $p50%.3f s (q1 $p25%.3f, q3 $p75%.3f; ${untraced.size} passes)"
    val byQuery = untraced.flatMap(_.latencies).groupBy(_._1)
      .map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) }
    val queryP50 = Stats.median(byQuery.values.toSeq)
    out += f"query_s_p50 = $queryP50%.4f s (median over ${byQuery.size} queries of each one's median; " +
      f"median of all ${lat.size} samples ${Stats.median(lat)}%.4f s)"
    val tailS = Stats.quartiles(lat)._3
    val (slowest, slowestS) = byQuery.maxBy(_._2)
    out += f"query_s_tail = $tailS%.4f s (p75 of all ${lat.size} samples; slowest query $slowest, " +
      f"median $slowestS%.4f s; the highest percentile with $TailBeyond beyond would be " +
      f"p${tail.percentile}%.1f = ${tail.value}%.4f s, ${tail.beyond} beyond)"
    out += f"steal = ${100 * stealShare(steal0)}%.1f%% of CPU time taken by the host during timed passes"
    out += f"cpu_s_per_pass = ${Stats.median(untraced.map(_.cpuS).toSeq)}%.3f s"
    out += f"input_mb_s = ${Stats.median(untraced.map(p => perPassMb / p.wallS).toSeq)}%.3f MB/s ($perPassMb%.2f MB of input files per pass)"
    out += f"fail_ratio = $failed/$attempted"
    out += f"peak_rss_mb = $peakRss%.1f MB"
    out += "per-query p50 s: " + w.queries.map(q => f"$q=${byQuery.getOrElse(q, Double.NaN)}%.3f").mkString(" ")
    val contractChecked = w.queries.filter(q => expected.get(q).exists(_.isLeft))
    if (contractChecked.nonEmpty)
      out += s"checked by RowsOnlyContract (no stable checksum): ${contractChecked.mkString(", ")}"
    failures.foreach(f => out += s"FAILED $f")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) EndToEnd.zip(Seq(
        setupS, p50, queryP50, tailS, Stats.median(untraced.map(_.cpuS).toSeq),
        Stats.median(untraced.map(p => perPassMb / p.wallS).toSeq), peakRss))
        .map { case ((n, u), v) => (n, v, u) }
      else {
        val traced = passes.filter(_.traced)
        val tracedP50 = Stats.median(traced.map(_.wallS).toSeq)
        out += f"trace.overhead = ${tracedP50 / p50 - 1}%.4f (traced pass p50 $tracedP50%.3f s / untraced $p50%.3f s)"
        Tracer.Metrics.map(n => (n, Stats.median(traced.map(_.layers(n)).toSeq), Tracer.unitOf(n))) :+
          (("trace.overhead", tracedP50 / p50 - 1, "ratio"))
      }
    if (o.trace) metrics.foreach { case (n, v, u) => out += f"$n = $v%.4f $u" }
    out.foreach(l => println(s"[perfbench] $l"))

    val outDir = new File(o.out)
    outDir.mkdirs()
    val stem = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    writeRecord(new File(outDir, s"$stem.json"), w, o, setupS, passes.toSeq, metrics, failures.toSeq)
    tracer.foreach(t => writeSpans(new File(outDir, s"$stem.spans.jsonl"), t.spans.toSeq))

    val m = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  val Warmups = 1

  /** The end-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s_p50" -> "s",
    "query_s_p50" -> "s", "query_s_tail" -> "s", "cpu_s_per_pass" -> "s",
    "input_mb_s" -> "MB/s", "peak_rss_mb" -> "MB")
  val TailBeyond = 10

  /** Record mode: two passes; a query whose output repeats exactly and that
    * the registry does not declare rows-only is recorded with its
    * checksum, the rest are contract-checked. */
  private def record(w: Workload, o: Opts, passes: Seq[Pass],
                     observed: mutable.Map[String, mutable.ArrayBuffer[Stats.Observed]],
                     rowsOnly: Set[String], failures: mutable.ArrayBuffer[String]): Int = {
    if (failures.nonEmpty) { failures.foreach(f => System.err.println(s"[perfbench] $f")); return 1 }
    val entries = w.queries.map { q =>
      val obs = observed(q).toSeq
      val stable = obs.map(o => (o.rows, o.checksum)).distinct.size == 1
      if (!rowsOnly(q) && !stable)
        throw new IllegalStateException(s"$q has no stable checksum and no RowsOnlyContract")
      q -> (if (rowsOnly(q)) None else Some(Stats.Exact(obs.head.rows, obs.head.checksum)))
    }.toMap
    Expected.save(o.expected, w.rung, entries)
    System.err.println(s"[perfbench] recorded ${entries.size} expected outputs for ${w.rung} in ${o.expected}")
    0
  }

  /** On-disk bytes of the files the query's final plan scans. */
  private def inputSize(spark: SparkSession, df: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  private def writeRecord(f: File, w: Workload, o: Opts, setupS: Double, passes: Seq[Pass],
                          metrics: Seq[(String, Double, String)], failures: Seq[String]): Unit = {
    val ps = passes.map { p =>
      val lat = p.latencies.map { case (q, s) => s"${Json.str(q)}: ${Json.num(s)}" }.mkString("{", ", ", "}")
      val layers = p.layers.toSeq.sorted.map { case (n, v) => s"${Json.str(n)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
      s"""{"wall_s": ${Json.num(p.wallS)}, "cpu_s": ${Json.num(p.cpuS)}, "gc_ms": ${Json.num(p.gcMs)}, "traced": ${p.traced}, "query_s": $lat, "layers": $layers}"""
    }
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    val body =
      s"""{"workload": ${Json.str(w.name)}, "rung": ${Json.str(w.rung)}, "seed": ${o.seed}, "seconds": ${o.seconds},
         | "cores": ${Runtime.getRuntime.availableProcessors}, "setup_s": ${Json.num(setupS)},
         | "metrics": {${ms.mkString(", ")}},
         | "failures": ${failures.map(Json.str).mkString("[", ", ", "]")},
         | "passes": [${ps.mkString(",\n  ")}]}
         |""".stripMargin
    Files.writeString(f.toPath, body, UTF_8)
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    // Plan spans are recorded on the listener thread; their parent is the
    // query whose interval holds them.
    val queries = spans.filter(_.kind == "query")
    val lines = spans.map { s =>
      val parent = if (s.kind == "plan" && s.parent == 0)
        queries.find(q => q.startMs <= s.startMs && s.startMs <= q.endMs).map(_.id).getOrElse(0L)
      else s.parent
      s"""{"id": ${s.id}, "parent": $parent, "kind": ${Json.str(s.kind)}, "name": ${Json.str(s.name)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    }
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
