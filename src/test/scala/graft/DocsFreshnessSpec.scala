package graft

import org.scalatest.funsuite.AnyFunSuite

/** Freshness gate for the numeric claims in README.md and COVERAGE.md
  * (r6 verdict item 7: the counts drifted twice in round 6 before manual
  * sync commits). The docs' registry/oracle/test counts must equal what
  * the code actually registers — a new query or test without the doc
  * update fails HERE instead of surfacing as a stale README in review.
  *
  * The test-case count is derived by scanning test sources for
  * `test("`/`property("` registrations — the same convention every suite
  * in this tree uses (no dynamically generated test names).
  */
class DocsFreshnessSpec extends AnyFunSuite {

  // sbt forks the test JVM with cwd = project base, so repo files resolve
  // relatively; fall back to the absolute root for IDE runners.
  private def read(name: String): String = {
    val local = new java.io.File(name)
    val f = if (local.exists()) local else new java.io.File(s"/root/repo/$name")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  private def firstInt(text: String, pattern: String, where: String): Int = {
    val m = pattern.r.findFirstMatchIn(text)
    assert(m.isDefined, s"pattern '$pattern' not found in $where")
    m.get.group(1).toInt
  }

  private lazy val nQueries = SparkEntry.queries.size
  private lazy val nOracles = SparkEntry.oracleSql.size

  test("README.md registry and oracle counts match SparkEntry") {
    val readme = read("README.md")
    assert(firstInt(readme, """(\d+) verified queries""", "README.md") == nQueries,
      s"README 'verified queries' count is stale (registry has $nQueries)")
    assert(firstInt(readme, """(\d+) bit-exact query matches""", "README.md") == nOracles,
      s"README 'bit-exact query matches' count is stale (oracle map has $nOracles)")
  }

  test("COVERAGE.md registry totals match SparkEntry") {
    val cov = read("COVERAGE.md")
    assert(firstInt(cov, """(\d+) registered queries""", "COVERAGE.md") == nQueries,
      s"COVERAGE 'registered queries' count is stale (registry has $nQueries)")
    assert(firstInt(cov, """registered queries: (\d+) with full DuckDB oracles""",
      "COVERAGE.md") == nOracles,
      s"COVERAGE 'with full DuckDB oracles' count is stale (oracle map has $nOracles)")
    // r7 verdict item 9: the rows-only prose drifted (said 9 when it was 12).
    // Pin every "N rows-only" claim in the doc to the live registry delta.
    val rowsOnly = nQueries - nOracles
    val claims = """(\d+) rows-only""".r.findAllMatchIn(cov).map(_.group(1).toInt).toList
    assert(claims.nonEmpty, "COVERAGE.md no longer states the rows-only count")
    assert(claims.forall(_ == rowsOnly),
      s"COVERAGE 'rows-only' claims $claims are stale (registry has $rowsOnly)")
  }

  test("every q_* mentioned in COVERAGE.md exists in the live registry (r11 verdict item 7)") {
    // The totals above catch COUNT drift, but a renamed query used to
    // leave its old name in COVERAGE.md's per-operator rows silently —
    // pin every mentioned query name to the registry.
    val mentioned = """q_[a-z0-9_]+""".r.findAllIn(read("COVERAGE.md")).toSet
    val stale = mentioned -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"COVERAGE.md mentions queries absent from SparkEntry.queries: ${stale.toSeq.sorted}")
  }

  test("BASELINE.md bench-protocol claim matches the driver's BENCH artifact") {
    // BASELINE.md's protocol prose must name the local[N] that the
    // benchmark's own record, perfbench/BASELINE.md, ran at, and the
    // shuffle width perfbench's session sets to the same N.
    val base = read("BASELINE.md")
    val claimedCores = firstInt(base, """local\[(\d+)\]""", "BASELINE.md")
    val claimedParts = firstInt(base, """shuffle\.partitions=(\d+)""" +
      """(?![\s\S]*shuffle\.partitions=)""", "BASELINE.md") // last occurrence = engine paragraph
    val cores = firstInt(read("perfbench/BASELINE.md"), """local\[(\d+)\]""", "perfbench/BASELINE.md")
    assert(claimedCores == cores,
      s"BASELINE.md claims local[$claimedCores] but perfbench/BASELINE.md runs local[$cores]")
    assert(claimedParts == cores,
      s"BASELINE.md claims shuffle.partitions=$claimedParts but the benchmark session sets them to $cores")
  }

  test("README.md scalatest-case count matches the test sources") {
    val claimed = firstInt(read("README.md"), """(\d+) scalatest cases""", "README.md")
    val reg = """^\s*(test|property)\("""".r
    val root = {
      val local = new java.io.File("src/test/scala")
      if (local.exists()) local else new java.io.File("/root/repo/src/test/scala")
    }
    val actual = scalaFiles(root).map { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines()
        .count(l => reg.findFirstIn(l).isDefined)
    }.sum
    assert(claimed == actual,
      s"README claims $claimed scalatest cases but sources register $actual")
  }

  /** A top-level object member's definition line; group 1 is its name. */
  private val member =
    """^  (?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*(?:lazy\s+)?(?:val|def)\s+(\w+)""".r

  /** Engine-side inline cents rules in Scala source `src`: the Column form
    * `round(… * 100).cast("long")` anywhere, and the SQL form
    * `CAST(round(…*100) AS BIGINT)` outside DuckDB oracle strings. Comments
    * are skipped; an oracle string is one inside an object member whose
    * name ends in `Sql` (every oracle in the tree is `private val xSql`). */
  private def inlineCents(src: String): Seq[String] = {
    val noBlocks = """(?s)/\*.*?\*/""".r.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
    val lines = noBlocks.split("\n", -1).map(l => if (l.trim.startsWith("//")) "" else l)
    val arg = """(?:[^()]|\([^()]*\))*"""
    val columnForm = s"""round\\($arg\\*\\s*100(?:\\.0)?\\s*\\)\\s*\\.cast\\(\\s*"(?:long|bigint)"\\s*\\)""".r
    val sqlForm = s"""(?i)CAST\\s*\\(\\s*round\\s*\\($arg\\*\\s*100(?:\\.0)?\\s*\\)\\s*AS\\s+BIGINT""".r
    var owner = ""
    lines.indices.flatMap { i =>
      member.findFirstMatchIn(lines(i)).foreach(m => owner = m.group(1))
      val hits = columnForm.findAllIn(lines(i)).toSeq ++
        (if (owner.endsWith("Sql")) Nil else sqlForm.findAllIn(lines(i)).toSeq)
      hits.map(h => s"line ${i + 1}: $h")
    }
  }

  test("no src/main file computes cents inline: graft.functions.cents owns the rule") {
    // the detector itself: each inline form is caught, oracle SQL is not
    val q3 = "\"\"\""
    val probe = Seq(
      "object P {",
      """  def q(spark: SparkSession) = t.select(round($"p" * 100).cast("long"),""",
      """    expr("(CAST(round(p*100) AS BIGINT) * 9 + 5) DIV 10"))""",
      "  private val qSql =",
      s"    ${q3}SELECT CAST(round(p*100) AS BIGINT) AS c FROM t$q3",
      """  // round($"p" * 100).cast("long") in a comment is fine""",
      "}").mkString("\n")
    assert(inlineCents(probe).map(_.takeWhile(_ != ':')) == Seq("line 2", "line 3"),
      inlineCents(probe))
    // sbt forks the test JVM with cwd = project base
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      inlineCents(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty,
      s"inline cents rule in src/main (use graft.functions.cents): ${offenders.mkString("; ")}")
  }

  /** Lines of Scala source `src` where `pattern` matches, comments
    * skipped. */
  private def codeMatches(src: String, pattern: scala.util.matching.Regex): Seq[String] = {
    val code = """(?s)/\*.*?\*/""".r
      .replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
      .split("\n", -1).map(_.replaceFirst("//.*", "")).mkString("\n")
    pattern.findAllMatchIn(code)
      .map(m => s"line ${code.take(m.start).count(_ == '\n') + 1}").toSeq
  }

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  /** Lines of Scala source `src` where a Spark session builder call
    * starts, comments skipped. */
  private def sessionBuilders(src: String): Seq[String] =
    codeMatches(src, """SparkSession\s*\.\s*builder\b""".r)

  /** Lines of Scala source `src` that name one of the four settings
    * [[graft.Tuning.withSourceWidth]] scopes or one of the two stream-runtime
    * settings (by key or by `SQLConf` entry), comments skipped. */
  private def planKnobs(src: String): Seq[String] =
    codeMatches(src, ("""spark\.sql\.(?:shuffle\.partitions|adaptive\.enabled|codegen\.wholeStage|""" +
      """codegen\.factoryMode|streaming\.checkpointFileManagerClass|artifact\.isolation\.enabled)\b|""" +
      """SQLConf\.(?:SHUFFLE_PARTITIONS|ADAPTIVE_EXECUTION_ENABLED|WHOLESTAGE_CODEGEN_ENABLED|""" +
      """CODEGEN_FACTORY_MODE|STREAMING_CHECKPOINT_FILE_MANAGER_CLASS|""" +
      """ARTIFACTS_SESSION_ISOLATION_ENABLED)\b""").r)

  test("no session is built outside graft.GraftSession") {
    // the detector itself, on a fixed snippet (the call is spelled in
    // pieces so this file does not match its own scan)
    val builder = "SparkSession" + ".builder()"
    val probe = Seq(
      "object P {",
      s"  val s = $builder.master(\"local[2]\").getOrCreate()",
      s"  // $builder in a comment is fine",
      s"  /* and in a block: $builder */",
      "  val t = SparkSession",
      "    .builder().getOrCreate()",
      "}").mkString("\n")
    assert(sessionBuilders(probe) == Seq("line 2", "line 5"), sessionBuilders(probe))
    // sbt forks the test JVM with cwd = project base
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"no source tree at ${r.getAbsolutePath}"))
    val offenders = roots.flatMap(scalaFiles).filter(_.getName != "GraftSession.scala").flatMap { f =>
      sessionBuilders(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty,
      s"session built outside GraftSession.create: ${offenders.mkString("; ")}")
  }

  /** Lines of Scala source `src` that record a loop round
    * (`PlanGrowth.record`), comments skipped. */
  private def roundRecords(src: String): Seq[String] =
    codeMatches(src, """PlanGrowth\s*\.\s*record\b""".r)

  /** Lines of Scala source `src` that rebuild a frame from its own RDD
    * (`createDataFrame(<x>.rdd, …)`), comments skipped. */
  private def rowRoundTrips(src: String): Seq[String] =
    codeMatches(src, """createDataFrame\(\s*[\w.()]*\.rdd\b""".r)

  test("only the round driver and the BPE merge loop record rounds; no frame is rebuilt from its RDD") {
    // the detectors themselves, on a fixed snippet: calls are caught,
    // comments and an empty-RDD frame are not
    val probe = Seq(
      "object P {",
      """  graft.plans.PlanGrowth.record("op", round, next)""",
      """  // PlanGrowth.record in a comment is fine""",
      """  val flat = spark.createDataFrame(raw.rdd, raw.schema)""",
      """  val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)""",
      """  /* and in a block: createDataFrame(raw.rdd, raw.schema) */""",
      """  val flat2 = spark.createDataFrame( held.toDF().rdd, held.schema)""",
      "}").mkString("\n")
    assert(roundRecords(probe) == Seq("line 2"), roundRecords(probe))
    assert(rowRoundTrips(probe) == Seq("line 4", "line 7"), rowRoundTrips(probe))
    // sbt forks the test JVM with cwd = project base
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val recorders = Set("Rounds.scala", "Bpe.scala")
    val offenders = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (if (recorders(f.getName)) Nil else roundRecords(src).map(h => s"${f.getPath} $h record")) ++
        rowRoundTrips(src).map(h => s"${f.getPath} $h createDataFrame(rdd)")
    }
    assert(offenders.isEmpty,
      s"round mechanics outside graft.ops.Rounds: ${offenders.mkString("; ")}")
  }

  /** Lines of Scala source `src` that name a release thunk: a
    * `…WithRelease` function or a `() => Unit` type. Comments count too, so
    * no doc points a reader at a removed thunk. */
  private def releaseThunks(src: String): Seq[String] =
    """WithRelease|\(\)\s*=>\s*Unit""".r.findAllMatchIn(src)
      .map(m => s"line ${src.take(m.start).count(_ == '\n') + 1}").toSeq.distinct

  test("no release thunks in src/main: caches are released by Rounds.keep or a scoped use") {
    // the detector itself, on a fixed snippet: both thunk forms are caught,
    // a kept result and a scoped use are not
    val probe = Seq(
      "object P {",
      "  private[ops] def minhashCandidatesWithRelease(docs: DataFrame): (DataFrame, () => Unit) = ???",
      "  def dropByIds(docs: DataFrame, ids: DataFrame, release: ()=>Unit): DataFrame = ???",
      "  def keep(result: DataFrame, working: DataFrame*): DataFrame = ???",
      "  def candidates[T](docs: DataFrame)(use: DataFrame => T): T = ???",
      "  def timed(body: => Unit): Long = ???",
      "  /* see simhashCandidatesWithRelease */",
      "}").mkString("\n")
    assert(releaseThunks(probe) == Seq("line 2", "line 3", "line 7"), releaseThunks(probe))
    // sbt forks the test JVM with cwd = project base
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      releaseThunks(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty, s"release thunk in src/main: ${offenders.mkString("; ")}")
  }

  test("only Tuning and GraftSession set shuffle width, AQE or whole-stage codegen") {
    // the detector itself, on a fixed snippet: string keys and SQLConf
    // entries are caught, comments are not
    val probe = Seq(
      "object P {",
      """  spark.conf.set("spark.sql.adaptive.enabled", "false")""",
      """  // spark.conf.set("spark.sql.shuffle.partitions", "8") in a comment is fine""",
      """  /* and in a block: spark.sql.codegen.wholeStage */""",
      """  spark.sql("SET spark.sql.shuffle.partitions=8")""",
      """  spark.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, false)""",
      """  spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")""",
      """  .config("spark.sql.streaming.checkpointFileManagerClass", manager)""",
      """  spark.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")""",
      """  spark.conf.set("spark.sql.artifact.isolation.alwaysApplyClassloader", "true")""",
      """  // spark.sql.artifact.isolation.enabled in a comment is fine""",
      """  spark.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")""",
      """  // spark.sql.codegen.factoryMode in a comment is fine""",
      "}").mkString("\n")
    assert(planKnobs(probe) == Seq("line 2", "line 5", "line 6", "line 8", "line 9", "line 12"),
      planKnobs(probe))
    // sbt forks the test JVM with cwd = project base: Tuning sets them at
    // run time (the stream-runtime pair around a stream start),
    // GraftSession at build time, nothing else in src/main
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val owners = Set("Tuning.scala", "GraftSession.scala")
    val offenders = scalaFiles(root).filterNot(f => owners(f.getName)).flatMap { f =>
      planKnobs(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .map(h => s"${f.getPath} $h")
    }
    assert(offenders.isEmpty,
      s"plan-shaping setting outside graft.Tuning/GraftSession: ${offenders.mkString("; ")}")
  }

  /** Lines of Scala source `src` that name a fixture dir of their own: the
    * shared relative `target/qfixtures` or a `fixtureRoot`. Comments count
    * too, so no doc points a reader at such a dir. */
  private def fixtureRoots(src: String): Seq[String] =
    """target/qfixtures|\bfixtureRoot\b""".r.findAllMatchIn(src)
      .map(m => s"line ${src.take(m.start).count(_ == '\n') + 1}").toSeq.distinct

  /** Lines of Scala source `src` that set a stream's trigger to AvailableNow
    * or its checkpoint location, each with the object member it is in;
    * comments skipped. */
  private def streamStarts(src: String): Seq[(String, String)] = {
    val code = """(?s)/\*.*?\*/""".r
      .replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
      .split("\n", -1).map(_.replaceFirst("//.*", ""))
    val start = """Trigger\s*\.\s*AvailableNow\b|checkpointLocation""".r
    var owner = ""
    code.indices.flatMap { i =>
      member.findFirstMatchIn(code(i)).foreach(m => owner = m.group(1))
      if (start.findFirstIn(code(i)).isDefined) Seq(s"line ${i + 1}" -> owner) else Nil
    }
  }

  test("fixtures live in graft.Fixtures and streams run only through StreamSessionize.availableNow") {
    // the detectors themselves, on a fixed snippet
    val probe = Seq(
      "object P {",
      """  private val fixtureRoot = "target/qfixtures"""",
      """  private def availableNow(kind: String) = {""",
      """    writer.option("checkpointLocation", ckpt)""",
      """      .trigger(Trigger.AvailableNow()).start()""",
      "  }",
      """  // .trigger(Trigger.AvailableNow()) in a comment is fine""",
      """  def fbsink(src: DataFrame) = src.writeStream""",
      """    .trigger(Trigger .AvailableNow()).start()""",
      """  /* checkpointLocation in a block is fine; a doc naming target/qfixtures is not */""",
      "}").mkString("\n")
    assert(fixtureRoots(probe) == Seq("line 2", "line 10"), fixtureRoots(probe))
    assert(streamStarts(probe) == Seq("line 4" -> "availableNow", "line 5" -> "availableNow",
      "line 9" -> "fbsink"), streamStarts(probe))
    // sbt forks the test JVM with cwd = project base
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no source tree at ${root.getAbsolutePath}")
    val offenders = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      fixtureRoots(src).map(h => s"${f.getPath} $h fixture dir") ++
        streamStarts(src).collect {
          case (h, owner) if !(f.getName == "StreamSessionize.scala" && owner == "availableNow") =>
            s"${f.getPath} $h stream start in $owner"
        }
    }
    assert(offenders.isEmpty,
      s"fixture dir or stream run outside graft.Fixtures/StreamSessionize.availableNow: ${offenders.mkString("; ")}")
  }
}
