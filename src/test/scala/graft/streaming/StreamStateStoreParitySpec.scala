package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row

/** State-backend parity: the streaming sessionizer must emit IDENTICAL
  * sessions under the default in-memory HDFS-backed state store and under
  * RocksDB ([[StreamSessionize.RocksDbProviderClass]]) — the provider is
  * storage plumbing, never semantics. RocksDB is the production posture
  * once state outgrows executor heap (per-active-user session state at
  * 100 TB); the fixture runs keep the default because their state is
  * kilobytes. Checkpoints are fresh per run (availableNow), so swapping the
  * provider between runs is legal — a provider is only sticky within one
  * checkpoint's lifetime.
  */
class StreamStateStoreParitySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def sessions(): Set[(Long, Long, Long, Long, Long, Long)] =
    StreamSessionize.availableNowSessionize(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet

  private def unsetProvider(): Unit =
    graft.Tuning.scaleStreamingConf.keys.foreach(spark.conf.unset)

  test("sessionize output is identical under HDFS and RocksDB state stores") {
    val default = sessions()
    // apply the PRODUCTION posture exactly as Tuning documents it, so this
    // parity test covers the config a deployment would actually set
    graft.Tuning.scaleStreamingConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rocks = sessions()
      assert(rocks.nonEmpty, "rocksdb run produced no sessions")
      assert(rocks == default,
        s"state-store parity broken: only-default=${(default -- rocks).take(3)} " +
          s"only-rocksdb=${(rocks -- default).take(3)}")
    } finally unsetProvider()
  }

  test("windowed aggregate output is identical under HDFS and RocksDB state stores") {
    // second parity surface: the watermark-driven tumbling aggregate holds
    // per-window state (a different state-store access pattern than the
    // per-key flatMapGroupsWithState sessions above)
    def windows(): Set[Row] =
      StreamSessionize.availableNowWindowedCounts(spark, dir).collect().toSet
    val default = windows()
    graft.Tuning.scaleStreamingConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rocks = windows()
      assert(rocks.nonEmpty && rocks == default,
        s"windowed parity broken: only-default=${(default -- rocks).take(3)} " +
          s"only-rocksdb=${(rocks -- default).take(3)}")
    } finally unsetProvider()
  }
}
