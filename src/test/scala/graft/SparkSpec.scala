package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, and scalatest suites run sequentially in it).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    // reliable-checkpoint store: lets suites exercise the same checkpoint
    // path connectedComponents takes under Verify/Bench; per-process temp
    // dir deleted on exit so repeated test runs don't accumulate
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
        f.delete()
      }
      rm(ckptRoot)
    }))
    s.sparkContext.setCheckpointDir(ckptRoot.getAbsolutePath)
    s
  }
}
