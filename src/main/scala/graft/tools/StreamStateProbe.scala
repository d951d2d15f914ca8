package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Measure STATE-STORE VOLUME for the stateful streaming tier (r9 verdict
  * stretch item 8): per (query, state-store provider), the max
  * `stateOperators` totals Spark reports across the drained run's
  * micro-batches — state rows, state bytes, and (RocksDB) SST file bytes.
  * This is the number the 100 TB streaming posture rests on: watermarks
  * bound state by construction, but only a measurement shows WHAT the
  * bound costs at a given corpus scale, and whether the RocksDB footprint
  * (the production provider once state outgrows executor heap) tracks the
  * default provider's.
  *
  * Captured via a [[StreamingQueryListener]] — zero changes to the
  * registered queries; progress events are bracketed per run, so the
  * per-query attribution never races a concurrent stream (runs are
  * sequential here).
  *
  * Usage: runMain graft.tools.StreamStateProbe [sfDir] [names,csv]
  */
object StreamStateProbe {

  final case class StateSnap(rows: Long, bytes: Long, sstBytes: Long)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(',').toSeq).getOrElse(Seq(
      "q_stream_sessionize", "q_stream_windowed", "q_stream_dedup",
      "q_stream_join"))
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val snaps = ArrayBuffer[StateSnap]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        snaps.synchronized {
          e.progress.stateOperators.foreach { so =>
            val sst = Option(so.customMetrics)
              .map(m => Option(m.get("rocksdbSstFileSize")).map(_.longValue()).getOrElse(0L))
              .getOrElse(0L)
            snaps += StateSnap(so.numRowsTotal, so.memoryUsedBytes, sst)
          }
        }
    }
    spark.streams.addListener(listener)

    val qs = graft.SparkEntry.queries
    println(f"[state-probe] $dir")
    println("| query | provider | max state rows | max state bytes | max sst bytes | sec |")
    println("|---|---|---|---|---|---|")
    for (provider <- Seq("default", "rocksdb"); name <- names) {
      if (provider == "rocksdb")
        spark.conf.set(graft.streaming.StreamSessionize.StateStoreKey, "rocksdb")
      else
        spark.conf.unset(graft.streaming.StreamSessionize.StateStoreKey)
      snaps.synchronized(snaps.clear())
      val t0 = System.nanoTime()
      qs(name)(spark, dir).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      val s = snaps.synchronized(snaps.toVector)
      val rows = if (s.isEmpty) 0L else s.map(_.rows).max
      val bytes = if (s.isEmpty) 0L else s.map(_.bytes).max
      val sst = if (s.isEmpty) 0L else s.map(_.sstBytes).max
      println(f"| $name | $provider | $rows%d | $bytes%d | $sst%d | $dt%.1f |")
    }
    spark.conf.unset(graft.streaming.StreamSessionize.StateStoreKey)
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
