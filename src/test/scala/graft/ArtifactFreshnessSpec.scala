package graft

import org.scalatest.funsuite.AnyFunSuite

/** Freshness gate for the AUDIT ARTIFACTS (r8 verdict item 5) — the same
  * philosophy DocsFreshnessSpec applies to README/COVERAGE counts,
  * applied to PLANS.md and the determinism double-run artifact: a new
  * oracled query without a regenerated plan dump or determinism run
  * fails HERE instead of surfacing as a stale artifact in review (that
  * staleness was two of r8's three "what's wrong" findings).
  */
class ArtifactFreshnessSpec extends AnyFunSuite {

  private def repoFile(name: String): java.io.File = {
    val local = new java.io.File(name)
    if (local.exists()) local else new java.io.File(s"/root/repo/$name")
  }
  private def read(name: String): String =
    new String(java.nio.file.Files.readAllBytes(repoFile(name).toPath), "UTF-8")
  /** The run whose `[determinism]` lines are the artifact. */
  private val rerun =
    "re-run SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 SPARK_GRAFT_BENCH_ITERS=2 sbt \"runMain graft.Bench\""

  test("PLANS.md has a plan section for every oracled query") {
    val plans = read("PLANS.md")
    val sections = """(?m)^## (\S+)""".r.findAllMatchIn(plans).map(_.group(1)).toSet
    val sectionBases = sections.map(_.split('#').head)
    val missing = SparkEntry.oracleSql.keySet.toSeq.sorted
      .filterNot(n => sections(n) || sectionBases(n))
    assert(missing.isEmpty,
      s"PLANS.md is stale — re-run graft.tools.DumpPlans; missing sections: ${missing.mkString(", ")}")
  }

  test("PLANS.md curated headline names all resolve against the live registry") {
    // A renamed/removed query must be pruned from the curated list, or
    // DumpPlans would crash at regeneration time; catch it at test time.
    val known = SparkEntry.queries.keySet
    val variants = Set("q_pagerank#round", "q_bpe_merges#round", "q_triangle_count#plan",
      "q_balanced_shards#plan", "q_hll_merge#sketch")
    val unknown = graft.tools.DumpPlans.headline.map(_._1)
      .filterNot(n => known(n) || variants(n))
    assert(unknown.isEmpty, s"DumpPlans.headline names not in the registry: ${unknown.mkString(", ")}")
  }

  test("latest determinism artifact covers the full oracled registry with 0 failures") {
    val dir = repoFile("tools/determinism")
    assert(dir.isDirectory, "tools/determinism artifact directory missing")
    // ADVICE r10: mtime ordering is nondeterministic after a fresh
    // clone/checkout (git does not preserve mtimes — every artifact lands
    // with the same timestamp and FS order breaks the tie arbitrarily).
    // Parse the round number out of the filename and take the numeric max,
    // the same way the BENCH_r* freshness test resolves its newest file.
    val roundOf = """determinism_r(\d+)_""".r
    val latest = dir.listFiles().filter(_.getName.endsWith(".txt"))
      .flatMap(f => roundOf.findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
      .sortBy(_._1).lastOption
    assert(latest.isDefined, "no determinism artifact committed")
    val (artifactRound, file) = latest.get
    val text = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
    val m = """(\d+)/(\d+) stable, (\d+) failed""".r.findFirstMatchIn(text)
    assert(m.isDefined, s"${file.getName} has no summary line")
    val (stable, total, failed) = (m.get.group(1).toInt, m.get.group(2).toInt, m.get.group(3).toInt)
    assert(failed == 0, s"determinism artifact records $failed failures")
    assert(stable == total, s"determinism artifact not fully stable: $stable/$total")
    assert(total == SparkEntry.oracleSql.size,
      s"determinism artifact is stale — covers $total queries, registry oracles ${SparkEntry.oracleSql.size}; $rerun")
    // r10 verdict item 3: a round that changes plans under hash-pinned
    // queries without re-running the double-run gate satisfied the old
    // size-only check with a stale file. The artifact's round must be at
    // least the newest driver CORRECTNESS round (i.e. re-run every round
    // the repo is judged).
    val corrRound = Option(repoFile(".").listFiles()).getOrElse(Array.empty)
      .flatMap(f => """CORRECTNESS_r(\d+)\.json""".r
        .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .sorted.lastOption.getOrElse(0)
    assert(artifactRound >= corrRound,
      s"determinism artifact is from round $artifactRound but the newest CORRECTNESS " +
        s"artifact is round $corrRound — $rerun at this HEAD")
  }

  test("PLANS.md curated note for q_image_resize matches the registered plan shape") {
    // r10 verdict item 5: this note went stale when the audit loop was cut
    // from the registered query (3 codec passes → 2). Pin the note's claim
    // to the dumped plan: the section must describe two codec passes and
    // its plan body must contain exactly two MapPartitions operators.
    val plans = read("PLANS.md")
    val section = plans.split("""(?m)^## """).find(_.startsWith("q_image_resize"))
    assert(section.isDefined, "PLANS.md has no q_image_resize section")
    val noteLine = section.get.linesIterator.next()
    assert(noteLine.toLowerCase.contains("two"),
      s"curated note no longer states the two-pass shape: $noteLine")
    val nodes = """(?m)^\(\d+\) MapPartitions""".r.findAllIn(section.get).size
    assert(nodes == 2,
      s"q_image_resize plan records $nodes MapPartitions operators, note claims two codec passes — " +
        "regenerate PLANS.md (graft.tools.DumpPlans) and update the curated note")
  }
}
