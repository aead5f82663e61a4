package graftbench

import scala.collection.mutable

/** One timed interval around a call into a layer. `traceId` is the op id
  * (-1 for set-up); `parent` is the enclosing span's id, or -1 for a root.
  * `counts` holds what the Spark listener attributed to the span's job
  * group (jobs, tasks, bytes, GC) plus anything the caller adds. */
final case class Span(
    id: Int, name: String, traceId: Long, parent: Int,
    startNs: Long, endNs: Long,
    counts: Map[String, Double] = Map.empty) {
  def durationNs: Long = endNs - startNs
  /** The layer is the span name's first dotted component. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Spans are kept in memory and written out once,
  * when the run ends. A disabled tracer runs the body and records nothing,
  * so the untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var traceId: Long = -1L

  def all: Seq[Span] = spans.toSeq

  /** Time `body` as span `name`, nested under the span that is open. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val start = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, traceId, parent, start, System.nanoTime())
      }
    }

  /** The id the next span will get: `Ctx.span` names the span's job group
    * after it, so the listener's counts can be attached afterwards. */
  def peekId: Int = nextId

  def annotate(id: Int, counts: Map[String, Double]): Unit = {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(counts = spans(i).counts ++ counts)
  }
}

object Trace {

  /** Total length of the union of the given intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durationNs - covered(kids))
    }.toMap
  }

  /** Wall time in [fromNs, toNs] that no span covers. */
  def unattributedNs(spans: Seq[Span], fromNs: Long, toNs: Long): Long =
    (toNs - fromNs) - covered(spans.map(s =>
      (math.max(s.startNs, fromNs), math.min(s.endNs, toNs))))

  def toJson(s: Span, originNs: Long): String = {
    val counts = s.counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"trace":${s.traceId},""" +
      s""""parent":${s.parent},"start_ms":${Json.num((s.startNs - originNs) / 1e6)},""" +
      s""""end_ms":${Json.num((s.endNs - originNs) / 1e6)},"counts":{$counts}}"""
  }
}

/** Just enough JSON output for the run record and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
