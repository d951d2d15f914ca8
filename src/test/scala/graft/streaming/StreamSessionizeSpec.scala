package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.streaming.StreamSessionize._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamSessionizeSpec extends SparkSpec {
  import spark.implicits._

  // 10-minute-aligned epoch base so tumbling-window starts land on t(...)
  private def t(min: Int) = new Timestamp(1700000400000L + min * 60000L)
  private def ev(id: Long, user: Long, min: Int) = Event(id, user, t(min), "a", 1.0)

  test("streaming sessionize: gap closes a session, watermark times out idle ones") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS(), gapSeconds = 1800, watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    // batch 1: user 1 events at 0,10,20 min; user 2 at 5 min
    input.addData(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20), ev(4, 2, 5))
    query.processAllAvailable()
    // batch 2: user 1 at 60 min → 40-min gap closes session (0–20);
    // far-future event pushes the watermark for the NEXT batch
    input.addData(ev(5, 1, 60), ev(6, 99, 500))
    query.processAllAvailable()
    // batch 3: watermark (499 min) now exceeds last+gap for users 1 and 2 →
    // their idle sessions time out
    input.addData(ev(7, 98, 501))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("sessions").as[SessionOut].collect()
      .map(s => (s.user_id, s.n_events, s.closed_by_timeout)).toSet
    assert(out.contains((1L, 3L, false)), s"gap-closed session missing: $out")
    assert(out.contains((2L, 1L, true)), s"timeout-closed session missing: $out")
    assert(out.contains((1L, 1L, true)), s"second user-1 session missing: $out")
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = dedupStream(input.toDF(), Seq("event_id"), "5 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    input.addData(ev(1, 1, 0), ev(1, 1, 1), ev(2, 2, 2), ev(1, 1, 3), ev(3, 1, 4))
    query.processAllAvailable()
    query.stop()
    val ids = spark.table("deduped").select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"dedup wrong: $ids")
  }

  test("file-based streaming source: readStream over a parquet directory drives the same aggregate") {
    val dir = "target/test-tmp/stream_src"
    val batch = Seq(ev(1, 1, 0), ev(2, 1, 5), ev(3, 2, 12), ev(4, 9, 100), ev(5, 9, 101))
      .toDF()
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val query = windowedCounts(stream, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("filewcounts")
      .outputMode("append").start()
    query.processAllAvailable()
    query.stop()
    // one micro-batch: append mode emits nothing until the watermark
    // advances in a later batch — completeness of emission is covered by
    // the MemoryStream test; here we assert the file source wiring (state
    // accumulated, no rows emitted yet, schema matched)
    assert(spark.table("filewcounts").columns.toSeq ==
      Seq("w_start", "w_end", "event_type", "n", "sum_value"))
  }

  test("availableNowSessionize equals the batch sessionize row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = availableNowSessionize(spark, dir)
    val batch = graft.ops.LlmData.sessionize(spark, dir)
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, "streaming sessionize emitted nothing (state not flushed?)")
    assert(s == b, s"stream/batch diverge: only-stream=${(s -- b).take(5)} only-batch=${(b -- s).take(5)}")
  }

  test("memoized stream input: a repeat invocation reuses the fixture and reproduces identical rows") {
    // Registered q_stream_* queries build their file-source input once per
    // JVM (graft.Fixtures.once) and only the checkpoint is fresh per
    // call — a bench iteration 2+ therefore streams from the memoized
    // files. Pin that the second call (memoized input + fresh checkpoint)
    // reproduces the first call's rows exactly; a stale-checkpoint bug
    // would yield an empty sink, a corrupted memo a different row set.
    val dir = "/root/testdata/sf0.001"
    val first = availableNowSessionize(spark, dir)
      .collect().map(_.toSeq).toSet
    val second = availableNowSessionize(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty, "first invocation emitted nothing")
    assert(first == second,
      s"repeat invocation diverged: only-first=${(first -- second).take(3)} " +
        s"only-second=${(second -- first).take(3)}")
  }

  test("availableNowStaticEnrich equals the batch broadcast left join row-for-row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = availableNowStaticEnrich(spark, dir)
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val batch = ev.join(broadcast(dim), ev("user_id") === dim("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        coalesce(col("c_nationkey"), lit(-1L)).as("nation_key"),
        round(col("value") * 100).cast("long").as("value_c"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, "stream enrich emitted nothing")
    assert(s == b, s"stream/batch diverge: only-stream=${(s -- b).take(5)} only-batch=${(b -- s).take(5)}")
  }

  test("availableNowHoppingCounts equals the batch two-offset window expansion") {
    val dir = "/root/testdata/sf0.001"
    val streamed = availableNowHoppingCounts(spark, dir)
    import org.apache.spark.sql.functions._
    // batch reference: every event lands in exactly two 600s windows that
    // slide by 300s — the window starting at its 300s-floor and the one
    // 300s earlier
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"), unix_timestamp(col("ts")).as("sec"),
        round(col("value") * 100).cast("long").as("c"))
    val batch = ev
      .withColumn("w_start_s",
        explode(array(expr("sec div 300 * 300"), expr("sec div 300 * 300 - 300"))))
      .groupBy(col("w_start_s"), col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(col("c")) / lit(100.0)).as("sum_value"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, "hopping stream emitted nothing")
    assert(s == b, s"stream/batch diverge: only-stream=${(s -- b).take(5)} only-batch=${(b -- s).take(5)}")
  }

  test("the windowed and hopping queries share one input fixture, built once per process") {
    val dir = "/root/testdata/sf0.001"
    val input = new java.io.File(graft.Fixtures.path("stream_wc_660_in", dir))
    // Each build is one parquet write job, and every part file it writes
    // carries that job's UUID: the distinct UUIDs count the builds.
    def buildIds(): Set[String] = Option(input.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.split("-").slice(2, 7).mkString("-")).toSet
    assert(buildIds().isEmpty, s"$input exists before any 660 s window query ran")
    availableNowWindowedCounts(spark, dir, windowSeconds = 660).collect()
    val first = buildIds()
    availableNowHoppingCounts(spark, dir, windowSeconds = 660, slideSeconds = 330).collect()
    availableNowWindowedCounts(spark, dir, windowSeconds = 660).collect()
    assert(first.size == 1, s"the first query wrote ${first.size} build(s): $first")
    assert(buildIds() == first, s"the input was rebuilt: ${buildIds()} after $first")
    val inputs = new java.io.File(graft.Fixtures.root).list().filter(_.contains("_660_in_"))
    assert(inputs.toSeq == Seq(input.getName), inputs.mkString(", "))
  }

  test("availableNowStreamJoinOuter equals the batch left join, including unmatched clicks") {
    val dir = "/root/testdata/sf0.001"
    val streamed = availableNowStreamJoinOuter(spark, dir)
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    val batch = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 600 SECONDS"),
        "leftOuter")
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts"))).as("delay_s"),
        round(col("value") * 100).cast("long").as("value_c"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.exists(r => r(1) == null),
      "expected at least one unmatched click emitted via the state-expiry path")
    assert(s == b, s"stream/batch diverge: only-stream=${(s -- b).take(5)} only-batch=${(b -- s).take(5)}")
  }

  test("foreachBatch sink is idempotent under full redelivery (two runs, one copy of the data)") {
    val dir = "/root/testdata/sf0.001"
    // Run the whole stream TWICE into the same sink: run 2 gets a fresh
    // checkpoint, so every batch is redelivered from scratch — the
    // per-batch-id overwrite must replace run 1's output, not append.
    availableNowForeachBatchSink(spark, dir)
    val second = availableNowForeachBatchSink(spark, dir)
    import org.apache.spark.sql.functions._
    val expected = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("sum_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
    val s = second.collect().map(_.toSeq).toSet
    val b = expected.collect().map(_.toSeq).toSet
    assert(s == b, s"redelivered sink diverges from one-copy aggregate: " +
      s"only-sink=${(s -- b).take(3)} only-batch=${(b -- s).take(3)}")
  }

  test("availableNowDedup over a doubled corpus equals the batch aggregate of the original") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamed = availableNowDedup(spark, dir)
    val batch = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("sum_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, "streaming dedup emitted nothing")
    assert(s == b, s"duplicates leaked or over-dropped: only-stream=${(s -- b).take(3)} only-batch=${(b -- s).take(3)}")
  }

  test("windowed counts with watermark aggregate per 10-minute tumbling window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = windowedCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wcounts")
      .outputMode("append").start()

    input.addData(ev(1, 1, 0), ev(2, 1, 5), ev(3, 2, 12))
    query.processAllAvailable()
    // next batch's watermark (95 min) closes both windows above
    input.addData(ev(4, 9, 100))
    query.processAllAvailable()
    // one more batch so the finalized windows are emitted under append mode
    input.addData(ev(5, 9, 101))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("wcounts")
      .select($"w_start", $"n").as[(Timestamp, Long)].collect().toMap
    assert(out.get(t(0)).contains(2L), s"first window wrong: $out")   // events at 0,5
    assert(out.get(t(10)).contains(1L), s"second window wrong: $out") // event at 12
  }

  test("multi-file AvailableNow fixture is consumed in exactly ONE data micro-batch") {
    // r17: the registered stream fixtures are written with normal
    // parallelism (many files) instead of coalesce(1). Their correctness
    // rests on a file-source stream with NO maxFilesPerTrigger having
    // read limit `allAvailable`, so Trigger.AvailableNow takes every file
    // in one batch and the 0-second watermark only advances AFTER all
    // real events are in state. Pin that invariant directly: were the
    // files ever split across data batches, events behind the first
    // batch's watermark would be dropped and the q_stream_* oracles would
    // diverge — this test names the mechanism, not just the symptom.
    val dir = "target/test-tmp/stream_multifile_src"
    val batch = Seq(ev(1, 1, 0), ev(2, 1, 5), ev(3, 2, 12), ev(4, 9, 100),
      ev(5, 9, 101), ev(6, 3, 7), ev(7, 3, 55), ev(8, 4, 99)).toDF()
    batch.repartition(8).write.mode("overwrite").parquet(dir)
    val nFiles = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles > 1, s"fixture should span multiple files, got $nFiles")
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val query = windowedCounts(stream, "10 minutes", "0 seconds")
      .writeStream.format("memory").queryName("multifile_wcounts")
      .outputMode("append")
      .option("checkpointLocation", "target/test-tmp/stream_multifile_ckpt_" +
        java.util.UUID.randomUUID().toString.take(8))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    val dataBatches = query.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 1,
      s"expected exactly 1 data micro-batch over a $nFiles-file fixture, got $dataBatches " +
        "— the no-maxFilesPerTrigger ⇒ allAvailable read-limit assumption no longer holds")
    // and the single batch saw every row
    val totalRows = query.recentProgress.map(_.numInputRows).sum
    assert(totalRows == 8L, s"expected all 8 rows in one batch, got $totalRows")
  }
}
