package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.GraftSession
import graft.functions.cents

/** Structured Streaming surface (beyond-reference, SURVEY §2.10): the
  * streaming twin of [[graft.ops.LlmData.sessionize]] — gap-based sessions
  * over an event stream via flatMapGroupsWithState with event-time timeout —
  * plus a watermarked tumbling-window aggregate.
  *
  * Scale design: state is one small [[SessionState]] per active user key
  * (partitioned by user_id across the cluster, checkpointed by the state
  * store); the watermark bounds state growth — users idle past
  * watermark+gap are timed out and their session emitted, so state size
  * tracks ACTIVE users, not history.
  */
object StreamSessionize {

  /** The production state-store provider once state outgrows executor
    * heap (100 TB-scale sessionization holds one entry per active user —
    * RocksDB keeps that off-heap with changelog checkpointing). Spark's
    * own `spark.sql.streaming.stateStore.providerClass` selects it
    * ([[graft.Tuning.scaleStreamingConf]]); unset, streams run Spark's
    * default in-memory HDFS-backed provider, right for the kilobyte-state
    * fixture runs. Every run gets a FRESH checkpoint ([[freshRun]]), and a
    * provider is sticky only per checkpoint, so the key may change
    * between runs. StreamStateStoreParitySpec pins output equality
    * across backends. */
  val RocksDbProviderClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Launch a stream inside [[graft.Tuning.withSourceWidth]] sized by its
    * `source` files, and block until the AvailableNow trigger drains. The
    * state-store count is pinned to `spark.sql.shuffle.partitions` at the
    * query's first batch, so it is decided here, at query start, from the
    * input the stream will read: kilobyte-to-megabyte fixture state gets 4
    * stores, not one per core (measured: q_stream_join 8.5 → 2.9 s
    * steady-state; every stateful q_stream_* ~2×), and a source of
    * 16 MB × session width or more gets the session's own width.
    *
    * The stream also starts inside [[graft.Tuning.withStreamRuntime]] for its
    * checkpoint `ckpt`: a local checkpoint is written through Hadoop's
    * `FileSystem` API, and the stream's tasks run on the executor's shared
    * class loader. Without them a run pays a fixed ~1 s that is not a floor
    * of Structured Streaming: Hadoop's local file system forks ~250
    * `readlink`/`chmod` processes to commit the checkpoint files (a 1-row
    * state commit took 0.6–0.9 s), and a class loader of the run's own
    * recompiles the stream's ~20 generated classes. */
  private def startDrained(spark: SparkSession, source: String, ckpt: String)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.Tuning.withSourceWidth(spark, Seq(source)) {
      graft.Tuning.withStreamRuntime(spark, ckpt) {
        val query = start
        query.awaitTermination()
        query
      }
    }

  /** Drain a ROW-stream query (output ∝ input, not an aggregate) into
    * per-batch parquet dirs and read the rows back. The memory sink the
    * row-proportional queries previously used appends every output row
    * into driver heap — the r16 scale audit measured q_stream_enrich (the
    * largest such output, the full enriched event stream) at solo 4.2 s
    * (sf1) → 60–100 s (sf10), 14×+ for 10× data with GC-shaped variance;
    * at 100× that sink is a driver OOM. Executor-side parquet writes are
    * linear in rows and leave the driver holding nothing (measured
    * post-fix: 2.2 s → 14.3 s, 6.4×). Memory sinks remain correct — and
    * in use — for the AGGREGATE-output stream queries (windowed, hopping,
    * dedup-summary), whose sink size is bounded by the group space.
    *
    * The sink dir is cleared at entry: this is per-run transport, so a
    * fresh dir makes stale batches from a prior run structurally
    * impossible. (A numInputRows>0 high-water-mark, as
    * [[availableNowForeachBatchSink]] uses for its surviving sink, would
    * be WRONG here: stateful queries emit timeout/eviction rows in the
    * final NO-data micro-batch, which such a filter would delete.
    * fbsink's sink deliberately survives across runs because cross-run
    * idempotent redelivery is the thing it demonstrates.) */
  private def drainToParquet(spark: SparkSession, kind: String,
                             fixtureRoot: String, dir: String, ckpt: String,
                             source: String)(
      stream: DataFrame): DataFrame = {
    val outDir = new java.io.File(s"$fixtureRoot/${kind}_sink_${tag(dir)}")
    GraftSession.deleteTree(outDir)
    startDrained(spark, source, ckpt)(stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())
    // Zero committed batches (empty/absent input) leaves outDir never
    // recreated after the rm above — the memory sink this replaced
    // returned an empty typed table there, so preserve that contract
    // instead of surfacing PATH_NOT_FOUND (ADVICE r16).
    if (!outDir.exists())
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        stream.schema)
    else spark.read.parquet(outDir.getAbsolutePath).drop("batch_id")
  }

  /** Scratch root for the AvailableNow fixtures (input files + stream
    * checkpoints): under the JVM temp dir with a per-PROCESS unique
    * suffix, so two sessions (e.g. a Verify and a Bench running
    * concurrently) never delete each other's in-flight input or
    * checkpoint dirs. Within one JVM repeated calls reuse the root — the
    * per-call rm-then-rewrite below is single-process-safe. The whole
    * tree is deleted on exit. Tests can still override via the
    * `fixtureRoot` parameter. */
  private lazy val defaultFixtureRoot: String = GraftSession.scratchDir("graft-stream-")

  /** Checkpoint + sink name for one AvailableNow query run: the
    * CHECKPOINT is fresh per call (a stale checkpoint would mark the
    * input files already-processed and the sink would stay empty), the
    * memory-sink name is dot-free (temp-view names reject dots; sf dirs
    * contain them). Input dirs are NOT handled here — they are built
    * once per JVM by [[inputOnce]]. */
  private def freshRun(kind: String, fixtureRoot: String,
                       dir: String): (String, String) = {
    val t = tag(dir)
    val ckpt = s"$fixtureRoot/${kind}_ckpt_$t"
    GraftSession.deleteTree(new java.io.File(ckpt))
    (ckpt, s"${kind}_out_${t.replace(".", "_")}")
  }

  /** Build-once-per-JVM input fixtures. These queries are registered as
    * BATCH queries (driver gate + bench), so without memoization every
    * timed invocation would re-scan the corpus, re-collect the max-ts
    * scalar and re-write the input parquet — charging fixture I/O to the
    * streaming operator under measurement (r5 verdict: ~22 s of the
    * bench total was exactly this). The input for a given
    * (kind, params, sf dir) is immutable within a process, so the first
    * caller materializes it and every later call (bench iterations 2+,
    * repeated verify calls) streams from the same files. Checkpoints are
    * NOT memoized — each run gets a fresh one via [[freshRun]].
    *
    * NOTE for readers: every query here relies on the whole corpus
    * (sentinel included) landing in ONE micro-batch, so the watermark
    * advances once, after all real events are in state. Through r16 that
    * was pinned with a `coalesce(1)` single-file write — which made
    * fixture creation a SINGLE-THREADED scan+write of the corpus,
    * charged to whichever stream query built the fixture first (~9 s at
    * sf0.1, ~90 s at sf10 — half of it survived the sf10 epoch's
    * 2-iteration median: q_stream_hopping read 51 s vs its ~10 s steady
    * state). r17 writes the fixture with normal parallelism instead
    * ([[fixtureWrite]]): a file-source stream with NO `maxFilesPerTrigger`
    * has read limit `allAvailable`, so `Trigger.AvailableNow` still
    * processes every file in ONE batch regardless of file count —
    * StreamSessionizeSpec pins exactly-one-data-batch over a multi-file
    * fixture, and every query's output is single-batch order-independent
    * (aggregates; per-user sort in sessionize; bit-identical dup copies
    * in dedup). This remains a TEST-HARNESS device — a real pipeline
    * relies on per-source watermark tracking across batches, not on
    * one-batch delivery. */
  private val builtInputs = scala.collection.concurrent.TrieMap[String, String]()

  /** Parallel fixture write (see the one-batch NOTE above): spread the
    * corpus over the session's full parallelism instead of funneling it
    * through one task. The repartition is harness-side fixture I/O, never
    * part of the measured operator's production shape. */
  private def fixtureWrite(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism).write
  private def inputOnce(key: String, fixtureRoot: String, dir: String)
                       (build: String => Unit): String =
    builtInputs.getOrElseUpdate(s"$fixtureRoot|$key|$dir", {
      val inDir = s"$fixtureRoot/${key}_in_${tag(dir)}"
      GraftSession.deleteTree(new java.io.File(inDir))
      build(inDir)
      inDir
    })

  final case class Event(event_id: Long, user_id: Long, ts: Timestamp,
                         event_type: String, value: Double)
  final case class SessionState(start: Timestamp, last: Timestamp, n: Long)
  final case class SessionOut(user_id: Long, start: Timestamp, end: Timestamp,
                              n_events: Long, closed_by_timeout: Boolean)

  /** Gap-based streaming sessionization. Emits a session when a newer event
    * for the same user arrives more than `gapSeconds` later (closed by
    * gap), or when the watermark passes last+gap with no new events
    * (closed by timeout).
    */
  def sessionize(events: Dataset[Event],
                 gapSeconds: Long = 1800,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000

    def update(user: Long, batch: Iterator[Event],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(user, s.start, s.last, s.n, closed_by_timeout = true))
      } else {
        // per-key per-batch events: sort by event time (bounded by batch
        // size, not stream size)
        val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          cur = cur match {
            case Some(s) if e.ts.getTime - s.last.getTime <= gapMs =>
              Some(SessionState(s.start, e.ts, s.n + 1))
            case Some(s) =>
              closed ::= SessionOut(user, s.start, s.last, s.n, closed_by_timeout = false)
              Some(SessionState(e.ts, e.ts, 1))
            case None =>
              Some(SessionState(e.ts, e.ts, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.last.getTime + gapMs)
        }
        closed.reverse.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming exact dedup on a key column within the watermark horizon:
    * the streaming tier of the dedup ladder (exact → fingerprint →
    * MinHash). State holds one entry per key seen inside the watermark
    * window and is evicted as the watermark advances — bounded state, the
    * only viable exact-dedup shape on an unbounded stream. */
  def dedupStream(events: DataFrame,
                  keyCols: Seq[String] = Seq("event_id"),
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The streaming sessionizer run end-to-end as a REGISTERED BATCH QUERY
    * (driver correctness gate): events land in a parquet file source, a
    * `Trigger.AvailableNow` stream sessionizes them through
    * flatMapGroupsWithState, and the emitted sessions are re-shaped to the
    * exact schema of the batch [[graft.ops.LlmData.sessionize]] — identical
    * input must yield identical sessions, so the batch DuckDB oracle
    * applies unchanged.
    *
    * Flush mechanics: sessions still open when the data runs out only
    * close via EVENT-TIME TIMEOUT, which needs the watermark to pass
    * last+gap. A single sentinel event (user_id −1) stamped gap+1h past
    * the corpus max drives the final watermark over every real session's
    * timeout; the no-data micro-batch that AvailableNow runs after the
    * last file then fires the timeouts and drains the state store. The
    * sentinel's own session is filtered from the result.
    *
    * Timestamps are pre-truncated to seconds so the streaming gap
    * arithmetic (millis) classifies boundaries exactly like the batch
    * path's `unix_timestamp` seconds.
    */
  def availableNowSessionize(spark: SparkSession, dir: String,
                             fixtureRoot: String = defaultFixtureRoot,
                             gapSeconds: Long = 1800): DataFrame = {
    import spark.implicits._
    val (ckpt, _) = freshRun("stream_sess", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", date_trunc("second", $"ts").as("ts"),
        $"event_type", $"value")
    val inDir = inputOnce(s"stream_sess_$gapSeconds", fixtureRoot, dir) { in =>
      val maxTs = ev.agg(max($"ts")).as[Timestamp].head()
      val sentinelTs = new Timestamp(maxTs.getTime + (gapSeconds + 3600) * 1000)
      val sentinel = Seq((-1L, -1L, sentinelTs, "sentinel", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      fixtureWrite(ev.unionByName(sentinel)).parquet(in)
    }

    val stream = spark.readStream.schema(ev.schema).parquet(inDir)
      .as[Event]
    val sessions = drainToParquet(spark, "stream_sess", fixtureRoot, dir, ckpt, inDir)(
      sessionize(stream, gapSeconds, watermarkDelay = "0 seconds").toDF())

    // shape to the batch sessionize schema; session_seq re-derived from the
    // per-user session start order (sessions of one user are disjoint and
    // strictly ordered in time, so this is the batch running-sum index)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"start_s")
    sessions
      .filter($"user_id" >= 0)
      .select($"user_id",
        unix_timestamp($"start").as("start_s"),
        unix_timestamp($"end").as("end_s"),
        $"n_events")
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select($"user_id", $"session_seq", $"n_events", $"start_s", $"end_s",
        ($"end_s" - $"start_s").as("span_s"))
  }

  /** The watermarked tumbling-window aggregate as a REGISTERED BATCH QUERY
    * (same sentinel-flush mechanics as [[availableNowSessionize]]): 10-min
    * windows × event_type with count and an exact integer-cents sum
    * (a raw double sum is accumulation-order-dependent and could never
    * hash-match the oracle). Window starts align to the epoch origin, so
    * the oracle is a plain `epoch // 600 * 600` GROUP BY. Append mode
    * only emits a window once the watermark passes its end — the sentinel
    * closes every real window in the final no-data batch. */
  def availableNowWindowedCounts(spark: SparkSession, dir: String,
                                 fixtureRoot: String = defaultFixtureRoot,
                                 windowSeconds: Int = 600): DataFrame = {
    import spark.implicits._
    val (ckpt, sinkName) = freshRun("stream_wc", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
    // Input shared with [[availableNowHoppingCounts]] — identical corpus,
    // identical sentinel offset (the key carries windowSeconds, the only
    // parameter the fixture depends on).
    val inDir = inputOnce(s"stream_wc_$windowSeconds", fixtureRoot, dir) { in =>
      val maxTs = ev.agg(max($"ts")).as[Timestamp].head()
      val sentinelTs = new Timestamp(maxTs.getTime + (windowSeconds + 3600) * 1000L)
      val sentinel = Seq((-1L, -1L, sentinelTs, "sentinel", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      fixtureWrite(ev.unionByName(sentinel)).parquet(in)
    }

    val stream = spark.readStream.schema(ev.schema).parquet(inDir)
    startDrained(spark, inDir, ckpt)(stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"$windowSeconds seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_value_c"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value_c"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table(sinkName)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("w_start")).as("w_start_s"), col("event_type"),
        col("n"), (col("sum_value_c") / lit(100.0)).as("sum_value"))
  }

  /** HOPPING (sliding) windowed streaming aggregate — the overlapping-
    * window variant of [[availableNowWindowedCounts]]: 600-second windows
    * sliding every 300 seconds, so every event lands in exactly two
    * windows. State is (windows × types)-bounded exactly as with tumbling
    * windows — the slide multiplies live windows by len/slide, not by the
    * data. Epoch-aligned starts make the oracle a plain two-offset
    * explode + GROUP BY. */
  def availableNowHoppingCounts(spark: SparkSession, dir: String,
                                fixtureRoot: String = defaultFixtureRoot,
                                windowSeconds: Int = 600,
                                slideSeconds: Int = 300): DataFrame = {
    import spark.implicits._
    val (ckpt, sinkName) = freshRun("stream_hop", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
    // Shares the tumbling-window fixture (same corpus, same sentinel).
    val inDir = inputOnce(s"stream_wc_$windowSeconds", fixtureRoot, dir) { in =>
      val maxTs = ev.agg(max($"ts")).as[Timestamp].head()
      val sentinelTs = new Timestamp(maxTs.getTime + (windowSeconds + 3600) * 1000L)
      val sentinel = Seq((-1L, -1L, sentinelTs, "sentinel", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      fixtureWrite(ev.unionByName(sentinel)).parquet(in)
    }

    val stream = spark.readStream.schema(ev.schema).parquet(inDir)
    startDrained(spark, inDir, ckpt)(stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), s"$windowSeconds seconds", s"$slideSeconds seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("sum_value_c"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value_c"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table(sinkName)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("w_start")).as("w_start_s"), col("event_type"),
        col("n"), (col("sum_value_c") / lit(100.0)).as("sum_value"))
  }

  /** [[dedupStream]] run end-to-end as a REGISTERED BATCH QUERY: the
    * corpus lands in the file source TWICE (two parquet files — the
    * at-least-once delivery a real ingest pipeline sees), the stream
    * drops duplicate event_ids within the watermark horizon, and the
    * deduped stream is aggregated per event_type with an exact
    * integer-cents value sum. If dedup under-drops (a duplicate leaks) or
    * over-drops, every count/sum/hash in the oracle — a plain aggregate
    * over the ORIGINAL events — fails. Duplicate rows are bit-identical
    * copies, so the result is independent of WHICH arrival the state
    * store keeps. */
  def availableNowDedup(spark: SparkSession, dir: String,
                        fixtureRoot: String = defaultFixtureRoot): DataFrame = {
    import spark.implicits._
    val (ckpt, sinkName) = freshRun("stream_dedup", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", date_trunc("second", $"ts").as("ts"),
        $"event_type", $"value")
    val inDir = inputOnce("stream_dedup", fixtureRoot, dir) { in =>
      // at-least-once delivery: the full corpus arrives twice
      fixtureWrite(ev).parquet(in)
      fixtureWrite(ev).mode("append").parquet(in)
    }

    val stream = spark.readStream.schema(ev.schema).parquet(inDir)
    // Aggregate INSIDE the stream (chained stateful ops: dedup state →
    // agg state) in Complete mode, so the memory sink holds one row per
    // event_type — result-sized, never corpus-sized, the shape that
    // survives an unbounded stream on a real cluster.
    startDrained(spark, inDir, ckpt)(dedupStream(stream, Seq("event_id"), watermarkDelay = "1 hour")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(cents($"value")).as("sum_value_c"),
        min($"event_id").as("min_event_id"),
        max($"event_id").as("max_event_id"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())

    spark.table(sinkName)
      .select($"event_type", $"n_events",
        ($"sum_value_c" / lit(100.0)).as("sum_value"),
        $"min_event_id", $"max_event_id")
  }

  /** Watermarked STREAM-STREAM inner join as a REGISTERED BATCH QUERY:
    * each user's clicks join their purchases arriving within the next 10
    * minutes — the attribution/conversion join every event pipeline runs.
    * Both sides carry watermarks and the join condition bounds purchase
    * time against click time, so each side's buffered state is evicted
    * once the other side's watermark passes the bound — state tracks the
    * 10-minute horizon, not stream history, which is the only shape that
    * survives an unbounded stream. Inner-join matches emit in the
    * micro-batch that completes the pair (no sentinel needed; the
    * watermark only gates state cleanup). Timestamps are pre-truncated to
    * seconds so the interval arithmetic matches the batch oracle — a plain
    * SQL self-join over the same events — exactly. */
  def availableNowStreamJoin(spark: SparkSession, dir: String,
                             fixtureRoot: String = defaultFixtureRoot,
                             horizonSeconds: Long = 600): DataFrame = {
    import spark.implicits._
    val (ckpt, _) = freshRun("stream_join", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", date_trunc("second", $"ts").as("ts"),
        $"event_type", $"value")
    val inDir = inputOnce("stream_join", fixtureRoot, dir) { in =>
      fixtureWrite(ev).parquet(in)
    }

    val src = spark.readStream.schema(ev.schema).parquet(inDir)
    val clicks = src.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"ts".as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = src.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("purchase_ts"), $"value")
      .withWatermark("purchase_ts", "0 seconds")
    drainToParquet(spark, "stream_join", fixtureRoot, dir, ckpt, inDir)(
      clicks.join(purchases,
        $"c_user" === $"p_user" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr(s"INTERVAL $horizonSeconds SECONDS")))
      .select($"click_id", $"purchase_id", $"c_user".as("user_id"),
        (unix_timestamp($"purchase_ts") - unix_timestamp($"click_ts")).as("delay_s"),
        cents($"value").as("value_c"))
  }

  /** Watermarked stream-stream LEFT OUTER join — [[availableNowStreamJoin]]
    * with the semantics production attribution actually needs: clicks that
    * never convert are part of the answer. An unmatched left row can only
    * be emitted once BOTH sides' watermarks prove no qualifying purchase
    * can still arrive (click_ts + horizon fully below the watermark), so
    * the state store's row-expiry path — not just its match path — is
    * under the oracle here. The fixture appends one far-future sentinel
    * per side: each side's watermark derives from its own events, and
    * without both advancing past `maxTs + horizon` the tail clicks would
    * legitimately stay buffered forever on an unbounded stream
    * (AvailableNow then runs the final eviction micro-batch — the same
    * mechanics the sessionize sentinel relies on). Sentinels are filtered
    * from the result by id sign.
    *
    * State stays bounded by the same 10-minute horizon as the inner join;
    * the unmatched rows add no state, only deferred emission. Oracle: a
    * plain SQL LEFT JOIN with the time window in the ON clause. */
  def availableNowStreamJoinOuter(spark: SparkSession, dir: String,
                                  fixtureRoot: String = defaultFixtureRoot,
                                  horizonSeconds: Long = 600): DataFrame = {
    import spark.implicits._
    val (ckpt, _) = freshRun("stream_join_outer", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", date_trunc("second", $"ts").as("ts"),
        $"event_type", $"value")
    val inDir = inputOnce(s"stream_join_outer_$horizonSeconds", fixtureRoot, dir) { in =>
      val maxTs = ev.agg(max($"ts")).as[Timestamp].head()
      val sentinelTs = new Timestamp(maxTs.getTime + (horizonSeconds + 3600) * 1000)
      val sentinels = Seq(
        (-1L, -1L, sentinelTs, "click", 0.0),
        (-2L, -2L, sentinelTs, "purchase", 0.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
      fixtureWrite(ev.unionByName(sentinels)).parquet(in)
    }

    val src = spark.readStream.schema(ev.schema).parquet(inDir)
    val clicks = src.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"ts".as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = src.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"ts".as("purchase_ts"), $"value")
      .withWatermark("purchase_ts", "0 seconds")
    drainToParquet(spark, "stream_join_outer", fixtureRoot, dir, ckpt, inDir)(
      clicks.join(purchases,
        $"c_user" === $"p_user" &&
          $"purchase_ts" >= $"click_ts" &&
          $"purchase_ts" <= $"click_ts" + expr(s"INTERVAL $horizonSeconds SECONDS"),
        "leftOuter"))
      .filter($"click_id" >= 0)
      .select($"click_id", $"purchase_id", $"c_user".as("user_id"),
        (unix_timestamp($"purchase_ts") - unix_timestamp($"click_ts")).as("delay_s"),
        cents($"value").as("value_c"))
  }

  /** Stream-static enrich: the streaming fact joined to a static
    * dimension — the canonical production enrich shape and the one the
    * stream tier was missing beside its stateful ops. The static side is
    * `broadcast()`-hinted and re-resolved per micro-batch; the join holds
    * NO state (nothing watermarked, nothing evicted) because the static
    * side is complete by definition — at 100 TB this is a broadcast hash
    * join inside every micro-batch, the stream side never shuffles, and
    * dimension updates between batches are picked up automatically
    * (Spark re-plans the static side each trigger).
    *
    * Sink: [[drainToParquet]] — this is the stream query with the LARGEST
    * row-proportional output (the full enriched event stream), the one the
    * r16 scale audit caught first. */
  def availableNowStaticEnrich(spark: SparkSession, dir: String,
                               fixtureRoot: String = defaultFixtureRoot): DataFrame = {
    import spark.implicits._
    val (ckpt, _) = freshRun("stream_enrich", fixtureRoot, dir)

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val inDir = inputOnce("stream_enrich", fixtureRoot, dir) { in =>
      fixtureWrite(ev).parquet(in)
    }

    val src = spark.readStream.schema(ev.schema).parquet(inDir)
    val dim = broadcast(graft.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_nationkey"))
    drainToParquet(spark, "stream_enrich", fixtureRoot, dir, ckpt, inDir)(
      src.join(dim, src("user_id") === dim("c_custkey"), "left")
        .select($"event_id", $"user_id",
          coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"),
          coalesce($"c_nationkey", lit(-1L)).as("nation_key"),
          cents($"value").as("value_c")))
  }

  /** foreachBatch idempotent sink — exactly-once parquet output on top of
    * the source's at-least-once redelivery: every micro-batch lands
    * wholesale in its own `batch_id=<id>` directory with overwrite
    * semantics, so a redelivered batch (failure/restart replay from the
    * checkpoint) REPLACES its own previous attempt instead of appending
    * beside it. This is the standard exactly-once recipe for sinks with
    * no transactional commit (plain parquet/object storage); at 100 TB
    * the per-batch overwrite is a directory swap and readers see
    * batch-atomic output. `maxFilesPerTrigger=1` forces a multi-batch run
    * so the per-batch layout is actually exercised.
    *
    * Returns the aggregate read back from the sink directory (batch_id
    * discovered as a partition column and ignored) — equal to the batch
    * aggregate of the input exactly when no batch duplicated or dropped
    * rows. Idempotence under full redelivery is asserted in
    * StreamSessionizeSpec by re-running the whole stream into the same
    * sink with a fresh checkpoint.
    */
  def availableNowForeachBatchSink(spark: SparkSession, dir: String,
                                   fixtureRoot: String = defaultFixtureRoot): DataFrame = {
    import spark.implicits._
    val (ckpt, _) = freshRun("stream_fbsink", fixtureRoot, dir)
    // The sink survives across calls (idempotence is cross-run); only
    // the checkpoint is fresh per call.
    val outDir = s"$fixtureRoot/stream_fbsink_sink_${tag(dir)}"

    val ev = graft.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val inDir = inputOnce("stream_fbsink", fixtureRoot, dir) { in =>
      ev.repartition(4).write.mode("overwrite").parquet(in)
    }

    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val query = startDrained(spark, inDir, ckpt)(src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start())

    // Per-batch overwrite makes a REDELIVERED batch idempotent, but it
    // cannot retire a batch id that this run never produced: if a prior
    // run into the same sink emitted MORE batches (different file layout
    // → different batch count), its surplus `batch_id=N` dirs would
    // silently double-count in the read-back. Drop every batch id at or
    // above this run's count — in production this is the sink-side
    // high-water-mark check a foreachBatch parquet sink needs anyway.
    val nBatches = query.recentProgress.iterator
      .filter(_.numInputRows > 0).map(_.batchId).reduceOption(_ max _)
      .map(_ + 1).getOrElse(0L)
    Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .filter(_.getName.stripPrefix("batch_id=").toLong >= nBatches)
      .foreach(GraftSession.deleteTree)

    spark.read.parquet(outDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum(cents($"value")) / lit(100.0)).as("sum_value"),
        min($"event_id").as("min_event_id"),
        max($"event_id").as("max_event_id"))
  }

  private def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Watermarked tumbling-window counts per event type — the canonical
    * streaming aggregate (late data beyond the watermark dropped, state
    * evicted per closed window). */
  def windowedCounts(events: DataFrame,
                     windowLength: String = "10 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))
}
