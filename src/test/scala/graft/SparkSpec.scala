package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.engine.Tables.NanosFlag, "true")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${System.nanoTime()}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Jobs submitted while `body` runs (AQE submits several per round, so
    * absolute counts are config-dependent; RATIOS across inputs, and
    * counts against a control in the same session, are not). */
  protected def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try body finally {
      // drain the async bus deterministically (vs a fixed sleep, which
      // both undercounts under load and wastes half a second per call).
      // A drain timeout must neither mask the body's real exception nor
      // skip the listener removal (it would leak into later tests).
      try org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 30000)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sparkContext.removeSparkListener(listener)
    }
    (out, jobs.get)
  }
}
