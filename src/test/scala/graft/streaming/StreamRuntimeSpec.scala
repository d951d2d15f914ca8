package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import graft.{GraftSession, SparkSpec, Tuning}

/** What [[graft.Tuning.withStreamRuntime]] does to a stream run: a local
  * checkpoint is committed without forking processes, a repeated run reuses
  * its generated classes, and the checkpoint manager keeps its atomicity. */
class StreamRuntimeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Command lines of the processes the JVM started while `body` ran. */
  private def forksDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("stream-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def windowedRun(windowSeconds: Int): Long =
    StreamSessionize.availableNowWindowedCounts(spark, dir, windowSeconds).count()

  test("a local-checkpoint stream run forks no readlink and few processes in all") {
    windowedRun(420) // builds the input fixture, whose parquet write forks chmod
    val forks = forksDuring(windowedRun(420))
    assert(!forks.exists(_.contains("readlink")), forks.mkString("\n"))
    // Measured 63, every one a chmod from RawLocalFileSystem.setPermission
    // on a create or mkdirs. Spark's default checkpoint manager forked ~255
    // here, 194 of them readlink.
    assert(forks.size <= 80, s"${forks.size} processes forked:\n${forks.mkString("\n")}")
  }

  test("a repeated stream run reuses its generated classes") {
    def compiled(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiled(windowedRun(540))
    val second = compiled(windowedRun(540))
    // On a class loader of its own each run compiled 18 classes, the second
    // as many as the first. How many the first compiles here depends on the
    // stream runs of the suites before it, which share the codegen cache.
    assert(second <= 2, s"first run compiled $first classes, second $second")
  }

  test("file: and relative checkpoints get the FileSystem manager; hdfs: and s3a: keep Spark's") {
    val local = Seq("file:/tmp/ckpt", "/tmp/ckpt", "target/test-tmp/ckpt")
    local.foreach { p =>
      assert(Tuning.streamConf(spark, p).toMap ==
        Map(ManagerKey -> Tuning.LocalCheckpointManager, IsolationKey -> "false"), p)
    }
    val before = Seq(ManagerKey, IsolationKey).map(k => k -> spark.conf.getOption(k))
    for (p <- Seq("hdfs://namenode:8020/ckpt", "s3a://bucket/ckpt")) {
      // streamConf reads the scheme and opens no file system, so no client is needed
      val inside = Tuning.withStreamRuntime(spark, p)(spark.conf.getOption(ManagerKey))
      assert(inside == spark.conf.getOption(ManagerKey), p)
      assert(Tuning.streamConf(spark, p) == Seq(IsolationKey -> "false"), p)
    }
    val inside = Tuning.withStreamRuntime(spark, local.last) {
      Seq(ManagerKey, IsolationKey).map(spark.conf.getOption)
    }
    assert(inside == Seq(Some(Tuning.LocalCheckpointManager), Some("false")))
    assert(Seq(ManagerKey, IsolationKey).map(k => k -> spark.conf.getOption(k)) == before,
      "the scope must give the session its settings back")
  }

  test("the FileSystem manager still refuses to rename over an existing file") {
    val root = GraftSession.scratchDir("stream-atomic-")
    val target = new Path(s"$root/offsets/0")
    val mgr = Tuning.withStreamRuntime(spark, root) {
      CheckpointFileManager.create(target.getParent, spark.sessionState.newHadoopConf())
    }
    assert(mgr.getClass.getName == Tuning.LocalCheckpointManager)
    def write(overwrite: Boolean): Unit = {
      val out = mgr.createAtomic(target, overwriteIfPossible = overwrite)
      out.write("v1\n".getBytes("UTF-8"))
      out.close()
    }
    write(overwrite = false)
    // HDFSMetadataLog detects a concurrent writer by this exception
    intercept[FileAlreadyExistsException](write(overwrite = false))
    write(overwrite = true)
    assert(mgr.exists(target))
  }
}
