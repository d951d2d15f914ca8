package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Registry determinism double-run gate (r7 verdict item 8): run every
  * ORACLED query twice in one session — cache cleared between runs — and
  * require an identical order-independent fingerprint (bit_xor of
  * per-row xxhash64 over the full struct, plus the row count) both
  * times. A standing guard against partition-order-dependent output
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
        f.delete()
      }
      rm(ckptRoot)
    }))
    spark.sparkContext.setCheckpointDir(ckptRoot.getAbsolutePath)

    val oracled = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => oracled(n) && nameFilter(n) }

    // (xor, wrap-around sum, count) of per-row hashes: xor+count alone lets
    // paired row differences cancel ({A,A,B} vs {C,C,B} share both); adding
    // the sum removes that cancellation class at no extra cost (ADVICE r8).
    // The sum is mod 2^64: a plain sum(h) of arbitrary longs overflows under
    // ANSI mode, so sum the 32-bit halves separately (each fits a long for
    // any result under 2^31 rows) and recombine on the driver, where JVM
    // long arithmetic wraps by definition.
    def fingerprint(name: String): (Long, Long, Long) = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val row = df
        .select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)").as("x"),
          expr("sum(h & 4294967295)").as("slo"),
          expr("sum(shiftright(h, 32))").as("shi"),
          count(lit(1)).as("n"))
        .head()
      val s =
        if (row.isNullAt(1)) 0L
        else (row.getLong(2) << 32) + row.getLong(1)
      (if (row.isNullAt(0)) 0L else row.getLong(0), s, row.getLong(3))
    }

    var failures = 0
    queries.foreach { case (name, _) =>
      try {
        val r1 = fingerprint(name)
        spark.catalog.clearCache()
        val r2 = fingerprint(name)
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
