package graft.ops

import org.apache.spark.sql.functions._

/** Test fixture main, launched by [[GraphEdgeTableSpec]] as a SEPARATE
  * JVM (twice, concurrently) to drive the cross-process build race in
  * [[Materialize.ensureBucketedTable]] — the one path an in-process spec
  * cannot reach, because the process-local lock serializes everything
  * inside one JVM. Protocol: start a session over the shared warehouse,
  * spin on the barrier file so both workers enter `ensure` together,
  * build (tagged with this worker's id, deliberately non-deterministic
  * across workers so the published table REVEALS whose build won — a
  * mixed tag set would prove two writers interleaved into one
  * directory), then report `<table>|<rowcount>|<distinct tags>` to the
  * out file for the spec to assert on.
  */
object ConcurrentEnsureWorker {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, srcParquet, barrier, workerTag, outFile) = args
    val spark = graft.GraftSession.create(2, warehouse)
    // session is up: tell the spec, then hold at the barrier — session
    // startup skew (seconds) must not decide the race before it starts
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile + ".ready"), "up\n")
    while (!new java.io.File(barrier).exists()) Thread.sleep(25)
    val name = Materialize.ensureBucketedTable(spark, "conc_fixture", "k",
      buckets = 4, sourcePaths = Seq("file:" + srcParquet)) {
      // hold the build open so the two workers' build+publish windows
      // are guaranteed to overlap (both miss _SUCCESS long before either
      // publishes at t ≈ 2 s)
      Thread.sleep(2000)
      spark.read.parquet(srcParquet).withColumn("writer", lit(workerTag))
    }
    val rows = spark.table(name).count()
    val writers = spark.table(name).select("writer").distinct()
      .collect().map(_.getString(0)).sorted.mkString(",")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"$name|$rows|$writers\n")
    spark.stop()
  }
}
