package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
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

  /** `body`'s value, and the ids of the persistent RDDs it added that are
    * still held. A release unpersists asynchronously, so the growth is
    * re-read until it is within `kept(value)` or a 10 s deadline passes.
    * The storage guards use it. */
  def rddsPinnedBy[T](body: => T)(kept: T => Set[Int]): (T, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    def grown() = sc.getPersistentRDDs.keySet.toSet -- before
    val value = body
    val keep = kept(value)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!grown().subsetOf(keep) && System.nanoTime() < deadline)
      Thread.sleep(100)
    (value, grown())
  }

  /** The ids of the persistent RDDs `df` reads: the RDD under each of its
    * plan's checkpoint leaves, and what those RDDs read in turn until a
    * checkpoint cut their lineage (a lazy checkpoint still reads its
    * source's). */
  def rddsReadBy(df: DataFrame): Set[Int] = {
    def lineage(rdd: RDD[_]): Seq[RDD[_]] =
      rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))
    val persistent = spark.sparkContext.getPersistentRDDs.keySet
    df.queryExecution.logical.collectWithSubqueries { case r: LogicalRDD => r.rdd }
      .flatMap(lineage).map(_.id).filter(persistent.contains).toSet
  }
}
