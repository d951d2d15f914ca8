package graft.plans

/** Pins the r10 verdict item-4 contract: the adaptive ANN family's corpus
  * count comes from parquet FOOTER METADATA for table-backed frames — no
  * scan job — and falls back to an executed count() exactly when the plan
  * could change the row count, so the derived bits schedule is
  * byte-identical to the old eager-count implementation.
  */
class RelationStatsSpec extends graft.SparkSpec {
  import spark.implicits._

  /** `body` run with the session's shuffle width set to `width`. */
  private def atSessionWidth[T](width: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("footerRowCount: exact on a plain parquet table read, with zero Spark jobs") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val expected = emb.count()
    val (n, jobs) = jobsDuring(RelationStats.footerRowCount(emb))
    assert(jobs == 0, s"footerRowCount ran $jobs Spark jobs — it must be metadata-only")
    assert(n.contains(expected))
  }

  test("footerRowCount: None whenever the plan could change the row count") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(RelationStats.footerRowCount(emb.filter($"vec_id" > 10)).isEmpty,
      "a filtered frame must fall back to count()")
    assert(RelationStats.footerRowCount(Seq((1L, 2L)).toDF("a", "b")).isEmpty,
      "an in-memory frame must fall back to count()")
    // count-preserving projection above the scan keeps the fast path
    assert(RelationStats.footerRowCount(emb.select($"vec_id")).isDefined,
      "a projection is count-preserving and must stay on the metadata path")
  }

  test("Similarity.corpusCount agrees with count() on the embeddings table") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(graft.ops.Similarity.corpusCount(emb) == emb.count())
  }

  test("footer counts are memoized: one footer pass per table per session") {
    // r11 verdict item 4: the batch/adaptive ANN family sizes itself off
    // the same table repeatedly; footers must be opened once per session,
    // not per invocation. Footer I/O is driver-side (no Spark listener
    // sees it), so the contract is asserted through the read counter.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val first = RelationStats.footerRowCount(emb)
    assert(first.isDefined)
    val readsAfterFirst = RelationStats.footerReads.get()
    val second = RelationStats.footerRowCount(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    assert(second == first)
    assert(RelationStats.footerReads.get() == readsAfterFirst,
      "second invocation re-opened footers — the memo must serve it")
  }

  test("cosineNearDupKMeans auto-k sizing runs zero Spark jobs on a plain table read") {
    // r11 verdict item 3: auto-k used an eager emb.count() — the exact
    // pattern RelationStats was built to remove. The k schedule itself is
    // byte-identical (same n either way; corpusCount's contract).
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    RelationStats.footerRowCount(emb) // warm the memo so the assert below is pure sizing
    val (k, jobs) = jobsDuring(graft.ops.Similarity.autoQuantizerK(emb))
    assert(jobs == 0, s"auto-k sizing ran $jobs Spark jobs — it must be metadata-only")
    assert(k == math.max(16L, emb.count() / 2000L).toInt)
  }

  // ------------------------------------------- graft.Tuning partition sizing

  test("Tuning.shuffleWidth: one partition per 16 MB, at least 4, capped at the session width") {
    val mb = 1L << 20
    atSessionWidth(32) {
      assert(graft.Tuning.shuffleWidth(spark, 0L) == 4)
      assert(graft.Tuning.shuffleWidth(spark, 16 * mb - 1) == 4)
      assert(graft.Tuning.shuffleWidth(spark, 100 * mb) == 7)
      assert(graft.Tuning.shuffleWidth(spark, 1L << 50) == 32)
      // the wrapper applies the width inside and restores the session's after
      assert(graft.Tuning.withSourceWidth(spark, 100 * mb)(
        spark.conf.get("spark.sql.shuffle.partitions")) == "7")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "32")
    }
    // below Tuning.SmallJobBytes the scope also runs without AQE and
    // whole-stage codegen, and builds its expressions interpreted; from
    // there up all three stay the session's
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    def scoped(bytes: Long): Seq[String] =
      graft.Tuning.withSourceWidth(spark, bytes)(keys.map(spark.conf.get))
    val session = keys.map(spark.conf.get)
    assert(session.tail == Seq("true", "true", "FALLBACK"))
    assert(scoped(graft.Tuning.SmallJobBytes - 1) == Seq("4", "false", "false", "NO_CODEGEN"))
    assert(scoped(graft.Tuning.SmallJobBytes) == Seq("4", "true", "true", "FALLBACK"))
    assert(keys.map(spark.conf.get) == session)
    // and they come back when the scope throws
    intercept[IllegalStateException](
      graft.Tuning.withSourceWidth(spark, 0L)(throw new IllegalStateException("in scope")))
    assert(keys.map(spark.conf.get) == session)
    // the floor of 4 never widens a narrower session
    atSessionWidth(2) {
      assert(graft.Tuning.shuffleWidth(spark, 0L) == 2)
      assert(graft.Tuning.shuffleWidth(spark, 1L << 50) == 2)
    }
  }

  test("RelationStats.sourceBytes lists through Hadoop FileSystem: a file: URI equals the plain path") {
    val plain = "/root/testdata/sf0.01/lineitem.parquet"
    val bytes = RelationStats.sourceBytes(spark, Seq(plain))
    assert(bytes > 0)
    assert(bytes == new java.io.File(plain).length)
    assert(RelationStats.sourceBytes(spark, Seq(s"file://$plain")) == bytes)
    assert(RelationStats.sourceBytes(spark, Seq("/root/testdata/sf0.01/no_such_table.parquet")) == 0L)
  }

  test("Tuning.shuffleWidth for the graph-loop source is the same at sf0.01 and sf0.1") {
    def width(sf: String): Int = graft.Tuning.shuffleWidth(spark, RelationStats.sourceBytes(spark,
      Seq(s"/root/testdata/$sf/lineitem.parquet", s"/root/testdata/$sf/orders.parquet")))
    atSessionWidth(32) {
      assert(width("sf0.01") == width("sf0.1"))
      assert(width("sf0.1") == 4)
    }
  }

  test("Tuning.spread repartitions a one-file scan to defaultParallelism, running no job to decide") {
    val cores = spark.sparkContext.defaultParallelism
    val path = "/root/testdata/sf0.01/documents.parquet"
    // explicit schema: the read itself runs no schema-inference job
    val scan = spark.read.schema(spark.read.parquet(path).schema).parquet(path)
    val (spread, jobs) = jobsDuring(graft.Tuning.spread(scan))
    assert(jobs == 0, s"spread ran $jobs Spark jobs to decide — it must read the plan only")
    assert(RelationStats.plannedPartitions(scan) == 1)
    assert(spread ne scan)
    assert(RelationStats.plannedPartitions(spread) == cores)
    assert(spread.collect().toSet == scan.collect().toSet)
  }

  test("Tuning.spread returns a frame that already fills the cores as the same object") {
    val cores = spark.sparkContext.defaultParallelism
    val wide = graft.Tables.documents(spark, "/root/testdata/sf0.01").repartition(cores)
    assert(graft.Tuning.spread(wide) eq wide)
    val wider = spark.range(0, 1000, 1, cores * 2).toDF("id")
    assert(graft.Tuning.spread(wider) eq wider)
  }
}
