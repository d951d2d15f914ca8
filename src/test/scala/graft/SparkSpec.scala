package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, and scalatest suites run sequentially in it).
  * A fixed width of 4, so partition-dependent assertions do not depend on
  * the host's cores.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs submitted while it ran.
    * The listener bus is async, so it is drained before registering (no
    * earlier job leaks in) and before reading the counter (ADVICE r11: a
    * fixed sleep races under CI load). */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.GraftTestBridge.waitUntilListenerBusEmpty(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(4)
}
