package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counts for one job group (or for everything, under the key
  * [[Probe.All]]). */
final class StageCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanMs = 0L

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_run_ms" -> runMs.toDouble,
    "sched_delay_ms" -> schedDelayMs.toDouble, "gc_ms" -> gcMs.toDouble,
    "input_bytes" -> inputBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "scan_ms" -> scanMs.toDouble)
}

/** One streaming trigger as its progress event reports it. */
final case class Trigger(
    queryId: String, batchId: Long, inputRows: Long,
    durationsMs: Map[String, Long])

/** The benchmark's own Spark listener: job, stage, task, byte, scan-time
  * and GC counts per job group, task times per stage (for skew), and the streaming
  * trigger progress. Attached from outside the engine through the public
  * listener APIs. */
final class Probe extends SparkListener {
  private val lock = new Object
  private val groups = mutable.HashMap.empty[String, StageCounts]
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var jobsStarted = 0L
  private var jobsEnded = 0L

  private def counts(g: String): StageCounts = groups.getOrElseUpdate(g, new StageCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobsStarted += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    Seq(Probe.All, g).distinct.foreach(counts(_).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobsEnded += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse("")
      Seq(Probe.All, g).distinct.foreach(counts(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("")
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      // the file scans' own "scan time" SQL metric (milliseconds)
      val scan = info.accumulables.collect {
        case a if a.name.contains("scan time") => a.update.collect { case n: Long => n }.getOrElse(0L)
      }.sum
      Seq(Probe.All, g).distinct.foreach { k =>
        val c = counts(k)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.schedDelayMs += delay
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanMs += scan
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Copy of the counters of one group. */
  def snapshot(group: String = Probe.All): Map[String, Double] =
    lock.synchronized(groups.get(group).map(_.toMap).getOrElse(new StageCounts().toMap))

  /** max/median task run time of every stage with at least two tasks,
    * among the stages whose id is at least `fromStage`. */
  def stageSkews(fromStage: Int): Seq[Double] = lock.synchronized {
    stageTaskMs.collect { case (id, ts) if id >= fromStage && ts.size >= 2 =>
      val s = ts.sorted
      val med = Stats.median(s.map(_.toDouble).toSeq)
      if (med > 0) s.last / med else 1.0
    }.toSeq
  }

  def maxStageId: Int = lock.synchronized(
    if (stageTaskMs.isEmpty) 0 else stageTaskMs.keys.max)

  /** Wait until every started job's end has been delivered (listener
    * events arrive asynchronously), or until the timeout. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    Thread.sleep(50)
    while (lock.synchronized(jobsEnded < jobsStarted) &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    // task-end events of the last stage may trail the job end
    Thread.sleep(50)
  }

  // --- streaming ---
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(p.id.toString, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      terminated.add(e.id.toString); ()
    }
  }

  def triggerLog: Seq[Trigger] = triggers.asScala.toSeq
  def terminatedCount: Int = terminated.size
}

object Probe {
  val All = "__all__"
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (0-100). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, samples beyond, value). Below 20 samples that percentile
    * would not lie above the median, so the maximum is reported instead, as
    * percentile 100 with zero samples beyond. */
  def tail(xs: Seq[Double]): (Double, Int, Double) = {
    val n = xs.size
    if (n < 20) (100.0, 0, if (xs.isEmpty) 0.0 else xs.max)
    else {
      val pct = 100.0 * (n - 10).toDouble / n
      (pct, 10, percentile(xs, pct))
    }
  }

  /** Least-squares slope of ys against xs. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val mx = xs.sum / xs.size
      val my = ys.sum / ys.size
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
}
