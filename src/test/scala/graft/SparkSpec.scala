package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per JVM (getOrCreate) built
  * through GraftSession so specs run under the same conventions as the
  * driver's Verify/Bench sessions (extensions, UTC, AQE). Tests run
  * against sf0.001 for speed; the DuckDB oracle gate covers sf0.01.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.GraftSession.builder(shufflePartitions = 4)
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** The Spark jobs `body` launches: counted by a job group set around it,
    * with the listener bus drained before and after so every job start
    * of the group is seen. The job-budget guards use it. */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-job-budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}
