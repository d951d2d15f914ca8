package graft.tools

import graft.{Fingerprint, GraftSession, SparkEntry}

/** Registry determinism double-run gate (r7 verdict item 8): run every
  * ORACLED query twice in one session — cache cleared between runs — and
  * require an identical order-independent [[Fingerprint]] (xor and
  * wrap-around sum of per-row xxhash64 over the full struct, plus the row
  * count) both times. A standing guard against partition-order-dependent output
  * (un-tiebroken window ranks, first()/head-of-group aggregates,
  * float-summation-order leaks) sneaking into a future query: such a
  * defect often still passes a single oracle compare by luck and only
  * shows up as an intermittent hash flap rounds later.
  *
  * Scope is the oracle-backed registry (`SparkEntry.oracleSql` keys) —
  * exactly the set whose hashes the driver compares. The 12 rows-only
  * queries are excluded by design: learned-float ML training and
  * partition-layout-dependent sampling are not hash-stable across runs
  * and are gated by their own scalatest properties instead.
  *
  * Usage: runMain graft.tools.DeterminismCheck [sfDir] [nameSubstrings]
  * Exit 1 on any mismatch; prints one line per query.
  */
object DeterminismCheck {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val nameFilter: String => Boolean = args.lift(1) match {
      case Some(pats) => n => pats.split(',').exists(n.contains)
      case None       => _ => true
    }
    val spark = GraftSession.create(GraftSession.cpus)

    val oracled = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => oracled(n) && nameFilter(n) }

    var failures = 0
    queries.foreach { case (name, fn) =>
      try {
        val r1 = Fingerprint(fn(spark, sfDir))
        spark.catalog.clearCache()
        val r2 = Fingerprint(fn(spark, sfDir))
        spark.catalog.clearCache()
        if (r1 == r2) println(f"[determinism] PASS $name%-32s hash=${r1._1}%20d sum=${r1._2}%20d rows=${r1._3}")
        else {
          println(s"[determinism] FAIL $name: run1=$r1 run2=$r2")
          failures += 1
        }
      } catch {
        case e: Throwable =>
          println(s"[determinism] ERROR $name: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString}")
          failures += 1
      }
    }
    println(s"[determinism] ${queries.size - failures}/${queries.size} stable, $failures failed")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
