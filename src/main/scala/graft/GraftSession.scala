package graft

import java.io.File
import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Verify, Bench, the tools
  * and the test suites all run these settings, so the oracle-checked
  * session is the measured one. */
object GraftSession {

  /** Local cores for Verify, Bench and the tools: `SPARK_GRAFT_CPUS`, 4 when unset. */
  lazy val cpus: Int = positiveInt(sys.env, "SPARK_GRAFT_CPUS", 4)

  /** The setting `name` in `env` as an integer of at least 1, `default`
    * when unset. Any other value fails naming the setting: `0` would reach
    * Spark as `local[0]`, and a Bench of 0 iterations times nothing and
    * exits 0. */
  private[graft] def positiveInt(env: Map[String, String], name: String, default: Int): Int =
    env.get(name).fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer of at least 1, got '$v'"))
    }

  /** `local[cpus]` with as many shuffle partitions; UTC, the loader
    * contract of [[Tables.events]]; the graft native expressions; Kryo;
    * and a reliable-checkpoint dir for the iterative operators
    * (`connectedComponents` checkpoints every few rounds; HDFS/S3 on a
    * cluster). A relative `warehouse` resolves against the working
    * directory, which is the project base under sbt. */
  def create(cpus: Int, warehouse: String = "target/spark-warehouse"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(scratchDir("graft-ckpt-"))
    spark
  }

  /** A fresh temp dir for this process, deleted with its contents on exit:
    * a fixed path would accumulate one run's leftovers per run, and two
    * concurrent processes could delete each other's files. */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(d)))
    d.getAbsolutePath
  }

  /** Recursive delete (`deleteOnExit` fails silently on a non-empty dir). */
  private[graft] def deleteTree(f: File): Unit = {
    if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree) }
    f.delete()
  }
}
