package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.RelationStats

/** Partition sizing and stream settings picked from the input (a source's
  * size, a checkpoint's scheme); the one place that scopes session
  * settings. Every session runs the same code: there is no option to turn
  * a knob on or off, and each knob decides from something the driver
  * observes without running a job.
  *
  *  - [[spread]] fixes a scan that plans fewer partitions than the session
  *    has cores. A single small or unsplittable file scans as one task, so
  *    per-row expression-heavy work (shingling, simhash votes, codecs)
  *    would run serially. A scan that already fills the cores — every
  *    multi-file table at scale — is returned untouched.
  *  - [[withSourceWidth]] sizes `spark.sql.shuffle.partitions` for work
  *    whose shuffled frames track a source far smaller than the session is
  *    built for: iterative loops over node- or vocabulary-sized frames,
  *    distinct-value histograms, sketch cells, stream state. The width is
  *    one partition per 16 MB of source, at least 4, never above the
  *    session's own width. At sf0.01–sf0.1 that is 4, where the fixed
  *    per-task cost of shuffling kilobytes dominates (one PageRank round at
  *    sf0.1: 0.42–0.50 s at width 32 vs 0.25–0.31 s at width 8; stateful
  *    streams ~2× faster at state width 4). From ~16 MB × session width of
  *    source up it equals the session width, which is what the session
  *    would run anyway.
  *  - Below [[SmallJobBytes]] of source, [[withSourceWidth]] also plans
  *    the scope as a small job: adaptive query execution and whole-stage
  *    codegen are off inside it. Such work is a handful of small stages
  *    whose cost is fixed per stage: AQE re-plans between them (one
  *    3-round label propagation over 1,000 nodes ran as 12 jobs), and every
  *    stage compiles a fused class that Spark's 100-entry codegen cache,
  *    keyed by class loader, does not keep across a pass. Measured on the
  *    `llm_corpus` benchmark (sf0.1, 4-vCPU VM, 10 alternated pairs, faster
  *    in all 10): query p50 1.41 → 1.06 s, pass p50 5.48 → 4.33 s, and
  *    that loop 12 jobs → 1.
  *  - The same scope also builds its projections, predicates and orderings
  *    interpreted (`spark.sql.codegen.factoryMode=NO_CODEGEN`), so it
  *    compiles no class. Without whole-stage codegen each operator still
  *    compiled a class per projection, predicate or ordering. One
  *    `llm_corpus` pass needs 127 classes, more than the 100 Spark's codegen
  *    cache keeps, so every steady pass compiled 45–76 of them again, each
  *    starting un-JITted. With the scopes interpreted, the 76 classes left
  *    (work outside any scope) fit, and steady passes compile none. Measured
  *    on the same benchmark (10 alternated pairs, faster in 9): pass p50
  *    4.21 → 3.30 s, query p50 1.10 → 0.79 s. It costs the scopes that
  *    evaluate many rows: in sf0.1 registry epochs `q_winsorize` (600 k
  *    lineitem rows) ran 1.9× slower warm and `q_pagerank` (5 rounds over
  *    1.17 M edges) 1.6×, while scopes over ≤ 150 k rows gained (SCALE.md).
  *    No byte cut separates them: label propagation, which gains, declares
  *    the same source as PageRank. The key is an internal Spark
  *    conf, documented for tests, but Spark 4.1's
  *    `CodeGeneratorWithInterpretedFallback.createObject` reads it from
  *    `SQLConf.get` on every call without a test-mode guard. Tasks get it
  *    with the rest of the SQL conf, and a stream's cloned session copies it
  *    when it starts. The cache's size is a static conf, which cannot be
  *    set on a session graft did not build. If a Spark upgrade stops
  *    honouring the key, `IterativePlanGrowthSpec` ("a sub-unit scope
  *    materializes label propagation without compiling a class") fails.
  *
  * [[SmallJobBytes]] is placed by PageRank, the scope that lost from the
  * rule at sf1: each round joins and aggregates its whole edge list, which
  * grows with the source. With the rule forced on at every size
  * (`tools/run_scale_epochs.sh`, 4 cores, median of warm iterations,
  * SCALE.md), `q_pagerank` ran 2.7 s against 4.1 s at 13.5 MB of
  * lineitem + orders (sf0.1), but 3.8 vs 3.4 s at 31 MB, 4.8 vs 4.3 s at
  * 46 MB and 15.2 vs 13.7 s at 153 MB (sf1). So the cut lies between the
  * 13.5 MB that gains and the 31 MB that no longer does.
  * At sf1 most other scopes still gained from the rule (label propagation
  * 1.9 vs 3.1 s); a byte cut cannot keep those gains without PageRank's
  * loss, because both size by the same fact tables.
  *
  *  - [[withStreamRuntime]] scopes two settings around a stream start. On a
  *    local checkpoint Spark's own `FileSystemBasedCheckpointFileManager`
  *    writes the checkpoint: its rename is `File.renameTo`, where the default
  *    `FileContext` manager makes Hadoop's `RawLocalFileSystem` fork
  *    `readlink` and `chmod` processes (no native libhadoop). And the stream's
  *    cloned session turns off artifact isolation, so its tasks run on the
  *    executor's shared class loader and its generated classes hit Spark's
  *    codegen cache, which is keyed by class loader, across runs. Measured
  *    on the windowed-count stream at sf0.001 (StreamRuntimeSpec): ~255
  *    forked processes a run became 63, none of them `readlink`, and a
  *    repeated run compiled 0 classes instead of 18. In `llm_corpus` (sf0.1,
  *    4-vCPU VM, 10 alternated pairs) `q_stream_windowed`'s p50 fell
  *    2.19 → 1.55 s, and its traced state commit 600 → 67 ms.
  */
object Tuning {

  private val BytesPerPartition = 16L << 20
  /** Sources below this run their [[withSourceWidth]] scope without AQE and
    * without compiling expressions (the measurements behind it are above). */
  private[graft] val SmallJobBytes = 16L << 20
  private val MinWidth = 4L
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  private val AdaptiveKey = "spark.sql.adaptive.enabled"
  private val WholeStageKey = "spark.sql.codegen.wholeStage"
  private val FactoryModeKey = "spark.sql.codegen.factoryMode"
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"
  /** Spark's checkpoint manager over the Hadoop `FileSystem` API, used by
    * [[withStreamRuntime]] for `file:` checkpoints. */
  private[graft] val LocalCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** `df` repartitioned to `defaultParallelism` when it plans fewer
    * partitions than that (see [[RelationStats.plannedPartitions]]); `df`
    * itself otherwise. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (RelationStats.plannedPartitions(df) < cores) df.repartition(cores) else df
  }

  /** Shuffle width for work sized by `sourceBytes`:
    * `min(session width, max(4, sourceBytes / 16 MB + 1))`. */
  def shuffleWidth(spark: SparkSession, sourceBytes: Long): Int =
    math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      math.max(MinWidth, sourceBytes / BytesPerPartition + 1)).toInt

  /** Runs `f` with `spark.sql.shuffle.partitions` set to
    * [[shuffleWidth]] and, for a source below [[SmallJobBytes]], with AQE
    * and whole-stage codegen off and expressions interpreted; restores the
    * session's values after. The settings reach only what `f` plans: the
    * iterative loops materialize their result inside `f`, and a stream
    * copies the session's settings when it starts and fixes its state-store
    * count at its first micro-batch (and keeps it for the life of its
    * checkpoint), so callers start and drain streams inside `f`. */
  def withSourceWidth[T](spark: SparkSession, sourceBytes: Long)(f: => T): T =
    scoped(spark, Seq(ShufflePartitionsKey -> shuffleWidth(spark, sourceBytes).toString) ++
      (if (sourceBytes < SmallJobBytes)
         Seq(AdaptiveKey -> "false", WholeStageKey -> "false", FactoryModeKey -> "NO_CODEGEN")
       else Nil))(f)

  /** [[withSourceWidth]] sized by the files under `paths` (see
    * [[RelationStats.sourceBytes]]). */
  def withSourceWidth[T](spark: SparkSession, paths: Seq[String])(f: => T): T =
    withSourceWidth(spark, RelationStats.sourceBytes(spark, paths))(f)

  /** The settings [[withStreamRuntime]] scopes for a stream checkpointed at
    * `checkpoint`: artifact isolation off, and, when the path qualified
    * against the default file system has the `file:` scheme,
    * [[LocalCheckpointManager]]. On `file:` it checks that the target is
    * absent before it renames, as the default manager does, so
    * `HDFSMetadataLog` still detects a concurrent writer; Spark's checksum
    * wrapper and Hadoop's `.crc` files stay. `hdfs:`, `s3a:` and every
    * other scheme keep Spark's default manager. The scheme is read from the
    * path and `fs.defaultFS` only; no file system is opened. */
  private[graft] def streamConf(spark: SparkSession, checkpoint: String): Seq[(String, String)] = {
    val scheme = Option(new Path(checkpoint).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(spark.sessionState.newHadoopConf()).getScheme)
    (ArtifactIsolationKey -> "false") +:
      (if (scheme == "file") Seq(CheckpointManagerKey -> LocalCheckpointManager) else Nil)
  }

  /** Runs `f`, which starts and drains a stream checkpointed at
    * `checkpoint`, with [[streamConf]] set; restores the session's values
    * after. A stream clones the session and its settings when it starts,
    * and the clone decides its artifact isolation at its first execution,
    * so the stream's tasks run on the executor's shared class loader. The
    * parent session fixes its own isolation at its first execution, and it
    * runs none inside this scope (the stream runs on its clone), so it keeps
    * its own. graft adds no session artifacts
    * (no `addArtifact`, `addJar` or `newSession`), so there is nothing for
    * isolation to keep apart. */
  def withStreamRuntime[T](spark: SparkSession, checkpoint: String)(f: => T): T =
    scoped(spark, streamConf(spark, checkpoint))(f)

  /** Runs `f` with `settings` set on the session; afterwards each key gets
    * its previous value back, or is unset if it had none. */
  private def scoped[T](spark: SparkSession, settings: Seq[(String, String)])(f: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Production state-store posture for the STATEFUL streaming family
    * (sessionize / stream-stream joins / dedup) — the configuration a
    * 100 TB deployment sets, pinned in code because the r10 state-volume
    * probe MEASURED the failure mode it prevents (SCALE.md "Streaming state
    * volume at 100×"): key-population state grows ×100 with the corpus and
    * q_stream_dedup's key state reached **1.73 GB of executor heap** under
    * the default HDFS-backed provider at sf10, vs 48 MB heap + 195 MB SST
    * under RocksDB — on a real cluster the default provider's state
    * competes with shuffle/execution memory and OOMs first. WINDOW state
    * (tumbling/hopping aggregates) measured calendar-bound (flat at 100×),
    * so watermarked window aggregates may keep the default provider.
    *
    * Apply at session build for any stateful stream whose key population
    * scales with the corpus:
    * {{{ scaleStreamingConf.foreach { case (k, v) => builder.config(k, v) } }}}
    * Fixture runs keep the default provider (state is kilobytes there);
    * StreamStateStoreParitySpec pins output equality across both backends
    * via this constant, so the posture swap can never change results. */
  def scaleStreamingConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      graft.streaming.StreamSessionize.RocksDbProviderClass)
}
