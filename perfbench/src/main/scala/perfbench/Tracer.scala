package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** Per-layer counters of the traced run, read from Spark's public
  * listener APIs (jobs, stages, tasks, cached blocks, streaming progress)
  * and from the SQL metrics of each executed plan. It is attached only
  * during traced passes; [[endPass]] returns that pass's values and resets
  * them. Listener callbacks run on Spark's listener threads, so every
  * mutation holds this object's lock. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()

  val spans = mutable.ArrayBuffer[Span]()

  // Per pass.
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val loopJobMs = mutable.ArrayBuffer[Double]()
  private val filesRead = mutable.Map[String, Long]()
  private val streamState = mutable.Map[java.util.UUID, (Long, Long)]()
  private var blockBase = 0L
  private val blocks = mutable.Map[String, Long]()
  private var peakBlocks = 0L
  private val jobs = mutable.Map[Int, (Long, Long, Kind)]()     // id -> start, span, kind
  private val stages = mutable.Map[Int, (Long, Kind)]()         // id -> job span, kind

  // Across passes: a plan executed twice keeps accumulating into the same
  // SQL metrics, so each metric contributes only what it gained since last
  // read; a QueryExecution's plan shape is counted once.
  private val metricSeen = mutable.Map[Long, Long]()
  private val plansSeen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  def add(name: String, v: Double): Unit = synchronized { sums(name) += v }

  def attach(): Unit = {
    PerfbenchBridge.drainListeners(sc)
    synchronized {
      blockBase = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      peakBlocks = blockBase
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Detach, wait for the listeners to see the pass's last events, and
    * return the pass's per-layer values. */
  def endPass(wallMs: Double): Map[String, Double] = {
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
    synchronized {
      val s = sums
      val out = mutable.Map[String, Double]()
      Summed.foreach(n => out(n) = s(n))
      out("plan.driver_gap_ms") = math.max(0.0, wallMs - covered(jobIntervals.toSeq))
      out("sched.busy_cores") = s("run_ms") / math.max(1.0, wallMs)
      val distinct = filesRead.values.sum.toDouble
      out("scan.reread_ratio") = if (distinct > 0) s("scan.file_bytes") / distinct else 0.0
      out("cache.read_bytes") = math.max(0.0, s("input_bytes") - s("scan.file_bytes"))
      out("cache.peak_bytes") = peakBlocks.toDouble
      out("shuffle.bytes_per_partition") =
        if (s("shuffle.partitions") > 0) s("shuffle.write_bytes") / s("shuffle.partitions") else 0.0
      out("loop.job_ms_p50") = if (loopJobMs.isEmpty) 0.0 else Stats.median(loopJobMs.toSeq)
      out("ml.busy_cores") = if (s("ml.job_ms") > 0) s("ml.run_ms") / s("ml.job_ms") else 0.0
      out("stream.state_rows") = streamState.values.map(_._1).sum.toDouble
      out("stream.state_mem_bytes") = streamState.values.map(_._2).sum.toDouble
      sums.clear(); jobIntervals.clear(); loopJobMs.clear(); filesRead.clear()
      streamState.clear(); blocks.clear(); jobs.clear(); stages.clear(); sqlCallSites.clear()
      require(out.keySet == Metrics.toSet, s"layer metrics out of step: ${out.keySet}")
      out.toMap
    }
  }

  // ------------------------------------------------------------ scheduler

  /** Call sites of SQL executions, captured on the thread that started
    * them. Adaptive execution submits most jobs from a thread pool, whose
    * stack holds no caller frames; the execution's call site still does. */
  private val sqlCallSites = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlCallSites(s.executionId) = s.details }
    case s: SparkListenerSQLExecutionEnd => synchronized { sqlCallSites.remove(s.executionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = newId()
    val sqlSite = Seq(SQLExecution.EXECUTION_ID_KEY, SQLExecution.EXECUTION_ROOT_ID_KEY)
      .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
      .flatMap(id => sqlCallSites.get(id.toLong)).mkString("\n")
    val resultStage = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val kind = kindOf(resultStage + "\n" + sqlSite)
    jobs(e.jobId) = (e.time, span, kind)
    e.stageInfos.foreach(s => stages(s.stageId) = (span, kind))
    sums("sched.jobs") += 1
    if (kind == Loop) sums("loop.jobs") += 1
    if (kind == Ml) sums("ml.jobs") += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    spans += Span(span, parent, "job", s"job ${e.jobId}", e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, span, kind) =>
      jobIntervals += ((start, e.time))
      if (kind == Loop) loopJobMs += (e.time - start).toDouble
      if (kind == Ml) sums("ml.job_ms") += (e.time - start).toDouble
      val i = spans.lastIndexWhere(_.id == span)
      if (i >= 0) spans(i) = spans(i).copy(endMs = e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    sums("sched.stages") += 1
    val (jobSpan, kind) = stages.getOrElse(info.stageId, (0L, kindOf(info.details)))
    val start = info.submissionTime.getOrElse(0L)
    val end = info.completionTime.getOrElse(start)
    if (kind == Ml) sums("ml.stage_ms") += (end - start).toDouble
    spans += Span(newId(), jobSpan, "stage", s"stage ${info.stageId} ${info.name}", start, end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      sums("sched.tasks") += 1
      val run = m.executorRunTime.toDouble
      val deser = m.executorDeserializeTime.toDouble
      val ser = m.resultSerializationTime.toDouble
      val fetchResult = if (i.gettingResultTime > 0) (i.finishTime - i.gettingResultTime).toDouble else 0.0
      val delay = math.max(0.0, i.duration - run - deser - ser - fetchResult)
      sums("sched.task_overhead_ms") += delay + deser + ser
      sums("run_ms") += run
      sums("input_bytes") += m.inputMetrics.bytesRead.toDouble
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      sums("shuffle.write_bytes") += sw.bytesWritten.toDouble
      sums("shuffle.records") += sw.recordsWritten.toDouble
      sums("shuffle.write_ms") += sw.writeTime / 1e6
      sums("shuffle.read_bytes") += sr.totalBytesRead.toDouble
      sums("shuffle.fetch_wait_ms") += sr.fetchWaitTime.toDouble
      sums("shuffle.spill_bytes") += m.diskBytesSpilled.toDouble
      if (stages.get(e.stageId).exists(_._2 == Ml)) sums("ml.run_ms") += run
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
      peakBlocks = math.max(peakBlocks, blockBase + blocks.values.sum)
    }
  }

  // -------------------------------------------------------------- Catalyst

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = synchronized {
    sums("plan.queries") += 1
    qe.tracker.phases.foreach { case (phase, p) =>
      sums("plan.phase_ms") += p.durationMs.toDouble
      spans += Span(newId(), 0L, "plan", phase, p.startTimeMs, p.endTimeMs)
    }
    val first = plansSeen.add(qe)
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    nodes.foreach {
      case s: FileSourceScanExec =>
        addMetric(s, "filesSize", "scan.file_bytes")
        addMetric(s, "numFiles", "scan.files")
        addMetric(s, "numOutputRows", "scan.rows")
        addMetric(s, "scanTime", "scan.time_ms")
        s.relation.location match {
          case idx: PartitioningAwareFileIndex =>
            idx.allFiles().foreach(f => filesRead(f.getPath.toString) = f.getLen)
          case _ =>
        }
      case w: WholeStageCodegenExec if stageNodes(w.child).exists(hasGraftExpr) =>
        addMetric(w, "pipelineTime", "native.stage_ms")
        stageNodes(w.child).find(_.metrics.contains("numOutputRows"))
          .foreach(addMetric(_, "numOutputRows", "native.rows"))
      case _ =>
    }
    if (first) {
      sums("native.exprs") += nodes.map(p => p.expressions.map(_.collect {
        case x if isGraft(x) => x }.size).sum).sum.toDouble
      val reads = nodes.collect { case r: AQEShuffleReadExec => r }
      val readShuffles = reads.flatMap(_.child match {
        case s: ShuffleQueryStageExec => Some(s.shuffle)
        case _ => None
      }).toSet
      sums("shuffle.partitions") += reads.map(_.partitionSpecs.size).sum +
        nodes.collect { case x: ShuffleExchangeLike if !readShuffles(x) => x.numPartitions }.sum
    }
  }

  private def addMetric(p: SparkPlan, metric: String, name: String): Unit =
    p.metrics.get(metric).foreach { m: SQLMetric =>
      val v = math.max(0L, m.value)
      val prev = metricSeen.getOrElse(m.id, 0L)
      metricSeen(m.id) = v
      sums(name) += math.max(0L, v - prev).toDouble
    }

  /** The nodes of one whole-stage-codegen stage: stops at its inputs. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case other => other +: other.children.flatMap(stageNodes)
  }

  private def hasGraftExpr(p: SparkPlan): Boolean = p.expressions.exists(_.exists(isGraft))

  // ------------------------------------------------------------- streaming

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        sums("stream.batches") += 1
        sums("stream.trigger_ms") += dur("triggerExecution")
        sums("stream.wal_commit_ms") += dur("walCommit")
        sums("stream.state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum.toDouble
        streamState(p.runId) =
          (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }
}

object Tracer {
  /** Per-pass sums of what the listeners and the timing loop add. */
  val Summed: Seq[String] = Seq("plan.phase_ms", "plan.queries", "plan.build_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_overhead_ms",
    "scan.file_bytes", "scan.files", "scan.rows", "scan.time_ms", "cache.leaked_rdds",
    "native.exprs", "native.stage_ms", "native.rows", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.records", "shuffle.spill_bytes", "shuffle.fetch_wait_ms",
    "shuffle.write_ms", "shuffle.partitions", "loop.jobs", "loop.checkpoint_bytes",
    "stream.batches", "stream.trigger_ms", "stream.wal_commit_ms", "stream.state_commit_ms",
    "ml.jobs", "ml.stage_ms", "jvm.gc_ms")

  /** Every per-layer metric a traced pass reports. */
  val Metrics: Seq[String] = Summed ++ Seq("plan.driver_gap_ms", "sched.busy_cores",
    "scan.reread_ratio", "cache.read_bytes", "cache.peak_bytes", "shuffle.bytes_per_partition",
    "loop.job_ms_p50", "ml.busy_cores", "stream.state_rows", "stream.state_mem_bytes")

  /** Local property carrying the span of the query a job belongs to. */
  val SpanKey = "perfbench.span"

  sealed trait Kind
  case object Loop extends Kind
  case object Ml extends Kind
  case object Other extends Kind

  def isGraft(x: AnyRef): Boolean = x.getClass.getName.startsWith("graft.")

  /** The deepest `graft.*` frame of a stage's call stack: the first one
    * listed in `StageInfo.details`. */
  def deepestGraftFrame(details: String): Option[String] =
    details.linesIterator.map(_.trim).find(_.startsWith("graft."))

  /** MLlib when the stack holds `org.apache.spark.ml`; a loop when the
    * deepest graft frame is in `graft.ops.Graph` or in
    * `Similarity.connectedComponents`. */
  def kindOf(details: String): Kind =
    if (details == null) Other
    else if (details.contains("org.apache.spark.ml.")) Ml
    else deepestGraftFrame(details) match {
      case Some(f) if f.startsWith("graft.ops.Graph") ||
          (f.startsWith("graft.ops.Similarity") && f.contains("connectedComponents")) => Loop
      case _ => Other
    }

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms") || metric.contains("_ms_")) "ms"
    else if (metric.endsWith("_bytes") || metric.endsWith("bytes_per_partition")) "bytes"
    else if (metric.endsWith("busy_cores")) "cores"
    else if (metric.endsWith("_ratio") || metric == "trace.overhead") "ratio"
    else "count"

  /** Milliseconds covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total.toDouble
  }
}
