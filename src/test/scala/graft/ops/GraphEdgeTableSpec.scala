package graft.ops

import org.apache.spark.sql.functions._

/** Pins the r11-verdict-item-1 contract: the graph tier reads a PERSISTED
  * bucketed-by-src edge table instead of rebuilding `lineitem ⋈ orders`
  * per query — with (a) content identical to the raw derivation (the
  * DuckDB oracles still derive from base tables, so this is what keeps
  * the hashes green), (b) cross-JVM reuse via location re-registration
  * (no rebuild when the files already exist), and (c) the bucketed scan
  * actually engaging so the per-round joins add no src-side exchange.
  */
class GraphEdgeTableSpec extends graft.SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("interaction edge table content == raw lineitem-join-orders derivation") {
    val table = Graph.interactionEdgeTable(spark, dir)
      .select($"src", $"dst").as[(Long, Long)].collect().toSet
    val raw = Graph.interactionEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(table == raw, s"persisted edge set diverges from the derivation " +
      s"(${(table diff raw).take(3)} extra, ${(raw diff table).take(3)} missing)")
  }

  test("co-supplier pairs recovered from the symmetric table == raw derivation") {
    val table = Graph.coSupplierPairsFromTable(spark, dir)
      .as[(Long, Long)].collect().toSet
    val raw = Graph.coSupplierEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(table == raw)
    // and the symmetric table is exactly both orientations of the pairs
    val sym = Graph.coSupplierSymTable(spark, dir).as[(Long, Long)].collect().toSet
    assert(sym == raw ++ raw.map { case (u, v) => (v, u) })
  }

  test("existing files are RE-REGISTERED, not rebuilt, after the catalog forgets them") {
    // first touch guarantees the table exists and is registered
    val before = Graph.interactionEdgeTable(spark, dir).count()
    val tableName = spark.catalog.listTables()
      .filter($"name".startsWith("graft_mv_edges_inter_"))
      .filter($"name".contains("sf0_001"))
      .select($"name").as[String].head()
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tableName)
    val successMtime = new java.io.File(loc, "_SUCCESS").lastModified()
    assert(successMtime > 0, s"no _SUCCESS under $loc")
    // simulate a fresh JVM: catalog forgets the table, data files survive
    spark.sql(s"DROP TABLE $tableName")
    Graph.resetEdgeTableRegistryForTests()
    val after = Graph.interactionEdgeTable(spark, dir).count()
    assert(after == before)
    assert(new java.io.File(loc, "_SUCCESS").lastModified() == successMtime,
      "edge table was rebuilt — the re-register path must reuse existing files")
    // and the re-registered table still carries the bucket spec — probe
    // with a distribution-demanding plan (a BARE scan reports "Bucketed:
    // false (disabled by query planner)" by design: autoBucketedScan skips
    // bucketing when no operator wants the distribution)
    val scan = Graph.interactionEdgeTable(spark, dir)
      .groupBy($"src").count().queryExecution.executedPlan.toString
    assert(scan.contains("Bucketed: true"),
      s"re-registered table scan is not bucketed:\n$scan")
  }

  test("registered graph queries read the persisted table: no fact join below the edge cache") {
    // kHopQuery's cached edge frame must be (bucketed scan → repartition,
    // elided when redundant), NOT the old lineitem⋈orders rebuild. The
    // un-materialized one-round plan exposes the same shape for pagerank.
    val plan = Graph.oneRoundPlan(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_edges_inter"),
      s"pagerank round does not read the persisted edge table:\n$plan")
    assert(!plan.contains("lineitem"),
      s"pagerank round still rebuilds edges from the fact tables:\n$plan")
    // the bucketed read engages (the round's joins want src distribution)
    assert(plan.contains("Bucketed: true"),
      s"bucketed scan did not engage for the round join:\n$plan")
    // and the PLANNER inserts no src exchange — the only allowed one is
    // the explicit REPARTITION_BY_COL, which sits under the cache in the
    // registered queries (paid once per query) and is elided entirely
    // when shuffle.partitions == bucket count. Since r13 the bucket count
    // IS the session's shuffle partitions (no more hardcoded 32), so the
    // elision holds at any SPARK_GRAFT_CPUS — including this 4-partition
    // test session.
    val planted = """Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS"""
      .r.findAllIn(plan).size
    assert(planted == 0,
      s"planner re-shuffles the edge side on src despite the bucketed table:\n$plan")
  }

  test("a changed bucket spec misses the old table and REBUILDS — never re-declares old files") {
    // The r12 verdict's one latent wrong-answer path: cross-JVM
    // re-registration used to declare the CALLER'S bucket count over files
    // written under a previous one; Spark trusts bucket metadata to elide
    // exchanges, so a mis-declared table silently drops join matches. The
    // spec now lives in the table name: a spec change is a cache miss.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-mvspec-").toFile
    val srcFile = new java.io.File(srcDir, "data.parquet")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    // explicit file:-scheme source URI: the machinery resolves every path
    // through Hadoop FileSystem (r12 verdict item 4 — any Hadoop-FS URI).
    // FIXED base string: each test run's fixture has a fresh fingerprint,
    // so the machinery's own stale-dataset cleanup garbage-collects the
    // previous run's directories — the fixture exercises it for free.
    def ensure(buckets: Int): String = Materialize.ensureBucketedTable(spark,
      "specdrift_fixture", "k", buckets, Seq("file:" + srcFile.getAbsolutePath)) {
      spark.read.parquet(srcFile.getAbsolutePath)
    }
    val name4 = ensure(4)
    // simulate a fresh JVM whose code asks for a different bucket count:
    // catalog + session keys forgotten, data files survive
    spark.sql(s"DROP TABLE $name4")
    Materialize.resetForTests()
    val name8 = ensure(8)
    assert(name8 != name4, "bucket-spec change must change the table identity")
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val files8 = new java.io.File(wh, name8).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(files8.length == 8,
      s"8-bucket table must be BUILT as 8 one-file buckets, found ${files8.length}")
    assert(spark.sql(s"DESC FORMATTED $name8").collect().exists(r =>
      r.getString(0).trim == "Num Buckets" && r.getString(1).trim == "8"),
      "catalog does not carry the 8-bucket spec")
    // same dataset version under another spec is a LIVE coexisting table
    assert(new java.io.File(wh, name4).exists(),
      "same-fingerprint sibling under another bucket spec must coexist, not be cleaned")
    // regenerate the dataset: all old-fingerprint siblings (both specs) are
    // deleted AND their catalog entries dropped with them (ADVICE r12)
    spark.range(200).selectExpr("id AS k", "id * 3 AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    Materialize.resetForTests()
    val nameNew = ensure(8)
    assert(nameNew != name8, "dataset regeneration must change the fingerprint")
    assert(!new java.io.File(wh, name8).exists() && !new java.io.File(wh, name4).exists(),
      "stale-dataset siblings must be deleted across ALL bucket specs")
    assert(!spark.catalog.tableExists(name8),
      "stale sibling's catalog entry must be dropped with its files")
    assert(spark.table(nameNew).count() == 200)
    spark.sql(s"DROP TABLE $nameNew")
    // external-table DROP keeps files; the next run's fresh fingerprint
    // would GC them, but don't rely on a next run existing
    graft.GraftSession.deleteTree(new java.io.File(wh, nameNew))
    graft.GraftSession.deleteTree(srcDir)
  }

  test("a strict-SUBSET bucket directory is rebuilt, never re-declared (two-sided id check)") {
    // r13 verdict item 4: the reuse validation used to be one-sided —
    // files for buckets 0..3 declared as 8 would pass `forall(_ < 8)` and
    // Spark would trust the metadata to elide exchanges over half-empty
    // buckets. Reachable only by tampering now that the spec is in the
    // name, but the check is one line: all declared ids must be PRESENT.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-subset-").toFile
    val srcFile = new java.io.File(srcDir, "data.parquet")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    def ensure(): String = Materialize.ensureBucketedTable(spark,
      "subset_fixture", "k", 8, Seq("file:" + srcFile.getAbsolutePath)) {
      spark.read.parquet(srcFile.getAbsolutePath)
    }
    val name = ensure()
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val loc = new java.io.File(wh, name)
    // tamper: remove the files of buckets 4..7, keep _SUCCESS
    val removed = loc.listFiles().filter { f =>
      val m = """_(\d{5})\.""".r.findFirstMatchIn(f.getName)
      f.getName.startsWith("part-") && m.exists(_.group(1).toInt >= 4)
    }
    assert(removed.length == 4, s"fixture expects one file per bucket, got ${removed.length}")
    removed.foreach(f => assert(f.delete()))
    // fresh-JVM simulation: catalog + session keys forgotten
    spark.sql(s"DROP TABLE $name")
    Materialize.resetForTests()
    val name2 = ensure()
    assert(name2 == name, "same dataset+spec must resolve to the same identity")
    val files = loc.listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.length == 8,
      s"subset directory must be REBUILT to all 8 buckets, found ${files.length}")
    assert(spark.table(name2).count() == 100)
    spark.sql(s"DROP TABLE $name2")
    graft.GraftSession.deleteTree(loc)
    graft.GraftSession.deleteTree(srcDir)
  }

  test("legitimately EMPTY buckets reuse across JVMs via the publish manifest") {
    // ADVICE r14: Spark writes NO file for an empty bucket, so the r13
    // full-coverage reuse check conflated a small corpus (fewer occupied
    // buckets than declared) with tampering — every fresh JVM deleteAside'd
    // the live table and rebuilt, downgrading "build at most once across
    // JVMs" to once-per-JVM and opening reader-visible table-not-found
    // windows. The publish-time `_graft_buckets` manifest records the id
    // set the writer actually produced; reuse validates disk against IT.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-empty-").toFile
    val srcFile = new java.io.File(srcDir, "data.parquet")
    // 3 distinct keys into 8 buckets → at most 3 occupied buckets
    spark.range(30).selectExpr("id % 3 AS k", "id AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    def ensure(): String = Materialize.ensureBucketedTable(spark,
      "emptybucket_fixture", "k", 8, Seq("file:" + srcFile.getAbsolutePath)) {
      spark.read.parquet(srcFile.getAbsolutePath)
    }
    val name = ensure()
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val loc = new java.io.File(wh, name)
    def parts(): Seq[String] =
      loc.listFiles().map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
    val partsBefore = parts()
    assert(partsBefore.nonEmpty && partsBefore.size < 8,
      s"fixture needs empty buckets, got ${partsBefore.size} occupied of 8")
    assert(new java.io.File(loc, "_graft_buckets").exists(),
      "publish must manifest its bucket-id set")
    // fresh-JVM simulation: catalog + session keys forgotten, files survive
    spark.sql(s"DROP TABLE $name")
    Materialize.resetForTests()
    val name2 = ensure()
    assert(name2 == name, "same dataset+spec must resolve to the same identity")
    // a rebuild writes part files under a NEW writer UUID — identical
    // listing proves the reuse path ran
    assert(parts() == partsBefore,
      s"empty-bucket table must be REUSED, not rebuilt — " +
        s"before=$partsBefore after=${parts()}")
    assert(spark.table(name2).count() == 30)
    spark.sql(s"DROP TABLE $name2")
    graft.GraftSession.deleteTree(loc)
    graft.GraftSession.deleteTree(srcDir)
  }

  test("corrupted _graft_buckets manifest triggers a conservative REBUILD, not a crash") {
    // ADVICE r15: `_.toInt` over a tampered manifest threw
    // NumberFormatException out of ensureBucketedTable, failing the query
    // on exactly the degraded on-disk input the reuse check exists to
    // absorb. Contract now: unparseable manifest == not reusable == rebuild.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-corrupt-").toFile
    val srcFile = new java.io.File(srcDir, "data.parquet")
    spark.range(40).selectExpr("id % 5 AS k", "id AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    def ensure(): String = Materialize.ensureBucketedTable(spark,
      "corruptmanifest_fixture", "k", 8, Seq("file:" + srcFile.getAbsolutePath)) {
      spark.read.parquet(srcFile.getAbsolutePath)
    }
    val name = ensure()
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val loc = new java.io.File(wh, name)
    def corrupt(dropCrc: Boolean): Unit = {
      java.nio.file.Files.writeString(
        new java.io.File(loc, "_graft_buckets").toPath, "3,banana,7")
      // with the .crc sidecar gone the garbage READS fine and fails the
      // PARSE; left stale, Hadoop's checksummed local FS refuses the read
      // itself — both are the same degraded input and must both rebuild
      if (dropCrc) new java.io.File(loc, "._graft_buckets.crc").delete()
    }
    def cycle(n: String): String = {
      spark.sql(s"DROP TABLE $n")
      Materialize.resetForTests()
      val n2 = ensure() // must not throw
      assert(n2 == name)
      assert(spark.table(n2).count() == 40,
        "rebuild after manifest corruption must still serve the full table")
      val rewritten = java.nio.file.Files.readString(
        new java.io.File(loc, "_graft_buckets").toPath)
      assert(rewritten.split(",").forall(s => scala.util.Try(s.toInt).isSuccess),
        s"rebuild must republish a parseable manifest, got [$rewritten]")
      n2
    }
    corrupt(dropCrc = true) // unparseable-content path
    val afterParse = cycle(name)
    corrupt(dropCrc = false) // unreadable-file (ChecksumException) path
    val name2 = cycle(afterParse)
    spark.sql(s"DROP TABLE $name2")
    graft.GraftSession.deleteTree(loc)
    graft.GraftSession.deleteTree(srcDir)
  }

  test("orphan GC: subtree-mtime liveness with a hard cap for crashed _temporary dirs") {
    // ADVICE r15: the r14 guard skipped ANY build dir holding `_temporary`
    // regardless of age, so a writer killed mid-write (which leaves
    // `_temporary` behind permanently) leaked a full partial build per
    // crash, forever. Contract now: liveness is the newest mtime anywhere
    // under the subtree; `_temporary` grants a longer reprieve (8h hard
    // cap), never immunity.
    val srcDir = java.nio.file.Files.createTempDirectory("graft-gc-").toFile
    val srcFile = new java.io.File(srcDir, "data.parquet")
    spark.range(20).selectExpr("id % 2 AS k", "id AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    def ensure(): String = Materialize.ensureBucketedTable(spark,
      "orphangc_fixture", "k", 4, Seq("file:" + srcFile.getAbsolutePath)) {
      spark.read.parquet(srcFile.getAbsolutePath)
    }
    val name = ensure()
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    // plant fake orphaned build dirs of THIS base, with a part file and a
    // `_temporary` subtree, every mtime pinned to the scenario's age
    def plant(suffix: String, ageMs: Long, withTemporary: Boolean): java.io.File = {
      val d = new java.io.File(wh, s".$name.build.$suffix")
      val tmp = new java.io.File(d, "_temporary")
      val task = new java.io.File(tmp, "attempt_0")
      if (withTemporary) { task.getParentFile.mkdirs()
        java.nio.file.Files.writeString(task.toPath, "x") }
      else d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, "part-0").toPath, "x")
      val t = System.currentTimeMillis() - ageMs
      def touch(f: java.io.File): Unit = {
        if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(touch) }
        assert(f.setLastModified(t), s"cannot set mtime on $f")
      }
      touch(d)
      d
    }
    val hour = 60L * 60 * 1000
    val fresh     = plant("fresh", 0, withTemporary = true)       // live writer
    val reprieved = plant("repr", 2 * hour, withTemporary = true) // stale, under cap
    val dead      = plant("dead", 9 * hour, withTemporary = true) // past hard cap
    val staleNoT  = plant("plain", 2 * hour, withTemporary = false) // past grace
    // force the build path (GC runs there): delete the published table
    spark.sql(s"DROP TABLE $name")
    graft.GraftSession.deleteTree(new java.io.File(wh, name))
    Materialize.resetForTests()
    val name2 = ensure()
    assert(name2 == name)
    assert(fresh.exists(), "fresh in-flight build dir must survive GC")
    assert(reprieved.exists(),
      "stale `_temporary` dir inside the hard cap must get the reprieve")
    assert(!dead.exists(),
      "crashed-writer `_temporary` dir past the hard cap must be collected")
    assert(!staleNoT.exists(),
      "stale dir without `_temporary` must be collected at the grace window")
    spark.sql(s"DROP TABLE $name2")
    Seq(fresh, reprieved, new java.io.File(wh, name)).foreach(graft.GraftSession.deleteTree)
    graft.GraftSession.deleteTree(srcDir)
  }

  test("destroyUnlessReusable restores a complete table it grabbed, removes debris") {
    // ADVICE r15 TOCTOU narrowing: the destroy takes the name first and
    // re-validates what it actually grabbed — a concurrent winner's
    // complete publish is renamed back and reused, not trashed.
    val conf = spark.sessionState.newHadoopConf()
    val whPath = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whPath.getFileSystem(conf)
    val work = java.nio.file.Files.createTempDirectory("graft-destroy-").toFile
    // a COMPLETE published 2-bucket table shape: _SUCCESS + both part
    // files + a matching manifest (reusable() validates exactly this)
    val full = new java.io.File(work, "full_table")
    full.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(full, "_SUCCESS").toPath, "")
    java.nio.file.Files.writeString(
      new java.io.File(full, "part-00000-x_00000.c000.snappy.parquet").toPath, "a")
    java.nio.file.Files.writeString(
      new java.io.File(full, "part-00001-x_00001.c000.snappy.parquet").toPath, "b")
    java.nio.file.Files.writeString(
      new java.io.File(full, "_graft_buckets").toPath, "0,1")
    val fullPath = new org.apache.hadoop.fs.Path(full.getAbsolutePath)
    assert(Materialize.destroyUnlessReusable(fs, fullPath, 2),
      "a complete table must be re-validated and restored, not destroyed")
    assert(full.exists() && new java.io.File(full, "_SUCCESS").exists(),
      "restored table must be back at its original location, intact")
    // debris (no _SUCCESS) is destroyed and the caller told to build
    val debris = new java.io.File(work, "debris_table")
    debris.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(debris, "part-00000-y_00000.c000.snappy.parquet").toPath, "a")
    assert(!Materialize.destroyUnlessReusable(
      fs, new org.apache.hadoop.fs.Path(debris.getAbsolutePath), 2))
    assert(!debris.exists(), "debris must be gone after the destroy")
    graft.GraftSession.deleteTree(work)
  }

  test("two CONCURRENT writer JVMs over one warehouse publish exactly one build") {
    // r13 verdict item 1: the cross-JVM "build at most once" contract was
    // guarded only by an in-process lock — two JVMs that both missed
    // _SUCCESS would both mode("overwrite") into the SAME directory. The
    // protocol is now build-into-temp + one atomic publish rename; the
    // loser discards its output and registers the winner's table. Driven
    // here with two REAL JVMs (the in-process lock makes a two-thread
    // version vacuous): each worker's build tags rows with its own id, so
    // a mixed tag set in the published table would prove interleaving.
    import scala.jdk.CollectionConverters._
    val work = java.nio.file.Files.createTempDirectory("graft-conc-").toFile
    val wh = new java.io.File(work, "warehouse")
    val srcFile = new java.io.File(work, "data.parquet")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v")
      .write.mode("overwrite").parquet(srcFile.getAbsolutePath)
    val barrier = new java.io.File(work, "barrier")
    val java17 = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    // reuse this JVM's own --add-opens set (build.sbt's JDK17 list)
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = inArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, inArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    def launch(tg: String): (Process, java.io.File) = {
      val out = new java.io.File(work, s"out_$tg")
      val log = new java.io.File(work, s"log_$tg")
      val cmd = (Seq(java17) ++ opens ++ Seq("-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.ops.ConcurrentEnsureWorker", wh.getAbsolutePath,
        srcFile.getAbsolutePath, barrier.getAbsolutePath, tg,
        out.getAbsolutePath)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), out)
    }
    val (pa, outA) = launch("alpha")
    val (pb, outB) = launch("beta")
    try {
      // hold the barrier until BOTH sessions are up — JVM/session startup
      // skew (seconds) must not decide the race before it starts
      val deadline = System.currentTimeMillis() + 120000
      while ((!new java.io.File(work, "out_alpha.ready").exists() ||
              !new java.io.File(work, "out_beta.ready").exists()) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(new java.io.File(work, "out_alpha.ready").exists() &&
        new java.io.File(work, "out_beta.ready").exists(),
        "worker sessions did not come up in time")
      assert(barrier.createNewFile())
      assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
        pb.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "worker JVMs did not finish in time")
      def report(f: java.io.File, tg: String): (String, Long, String) = {
        assert(f.exists(), s"worker $tg wrote no report — see ${work}/log_$tg:\n" +
          scala.util.Try(java.nio.file.Files.readString(
            new java.io.File(work, s"log_$tg").toPath).takeRight(2000)).getOrElse(""))
        val Array(n, r, w) = java.nio.file.Files.readString(f.toPath).trim.split('|')
        (n, r.toLong, w)
      }
      val (nameA, rowsA, writersA) = report(outA, "alpha")
      val (nameB, rowsB, writersB) = report(outB, "beta")
      assert(nameA == nameB, "both sessions must resolve one table identity")
      assert(rowsA == 100 && rowsB == 100,
        s"both readers must see the full table, got $rowsA/$rowsB")
      assert(!writersA.contains(",") && writersA == writersB,
        s"published table must carry exactly ONE writer's build, " +
          s"got alpha=[$writersA] beta=[$writersB] — two writers interleaved")
      val leftovers = Option(wh.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(n => n.contains(".build.") || n.contains(".trash."))
      assert(leftovers.isEmpty,
        s"losing writer must clean its temp output, found ${leftovers.mkString(", ")}")
      val published = new java.io.File(wh, nameA)
      assert(new java.io.File(published, "_SUCCESS").exists())
      assert(published.listFiles().count(_.getName.startsWith("part-")) == 4,
        "published table must be the one-file-per-bucket layout")
    } finally {
      pa.destroyForcibly(); pb.destroyForcibly()
      graft.GraftSession.deleteTree(work)
    }
  }
}
