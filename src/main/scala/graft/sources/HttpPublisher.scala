package graft.sources

import org.apache.spark.sql.Row

/** K1/K2 default HTTP publisher — the reference's per-record REST publish
  * with ApiException capture (TicketPublisher.php:30-91,
  * CustomerPublisher.php:28-69), shipped as a concrete `post` for
  * [[RateLimitedSink.publish]] instead of leaving the HTTP layer abstract.
  *
  * Per record (TicketPublisher foreach): POST the row as JSON to
  * `endpoint`; 2xx is success; 429/5xx retry with Retry-After backoff.
  * The honored sleep is hard-clamped at `maxRetryAfterMs` (default 4 s,
  * above the exponential schedule's 250·2^attempt ceiling): a server
  * demanding a longer hold — `Retry-After: 86400` would otherwise stall an
  * executor task inside `foreachPartition` for a day — fails the record
  * into the error channel instead of being honored. Both delta-seconds and
  * HTTP-date `Retry-After` forms are parsed (RFC 9110 §10.2.3); an
  * unparseable value falls back to the exponential schedule. Any other
  * response is captured — NEVER thrown — as an error
  * pair into a driver-side accumulator, the Spark form of the reference's
  * `$errorMapping[type][] = detail` (TicketPublisher.php:56-61):
  *
  *  - a structured API error body (`errors: [{property, message, ...}]`,
  *    APIHelper.php:224-233) groups by each error's `message` with a
  *    `[property] message` detail line — the same `[%s] %s` shape as the
  *    X16 column function `MigrationFunctions.formatErrors`;
  *  - an unstructured failure groups by `HTTP <code>` / the exception
  *    message with the record identifier as the detail
  *    (TicketPublisher.php:62, 64-76).
  *
  * Replay key: with `idCol`, every POST of a record — its retries and a
  * rerun of the same window — carries `Idempotency-Key: <idCol value>`,
  * so a service that honors the header applies the record once. A null id
  * sends no header; without `idCol` the requests carry no extra header.
  * A service that ignores the header still sees every replayed POST; the
  * reference's guard there is the duplicate probe (`checkDuplicates`,
  * TicketProcessor.php:353-373).
  *
  * The captured pairs convert to the standard error channel
  * (`error_type`/`error_detail`), so `ErrorChannel.groupedReport` /
  * `writeCsvReport` produce exactly the reference's grouped CSV
  * (APIHelper.php:241-261) with no extra plumbing. Record them into a
  * [[BoundedErrorAccumulator]] to bound the driver's state when a down
  * endpoint fails every record. Rate limiting stays the sink's job (token
  * bucket per partition); this class only posts and records.
  */
final class HttpPublisher(
    endpoint: String,
    record: ((String, String)) => Unit,
    idCol: Option[String] = None,
    maxRetries: Int = 3,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 30000,
    maxRetryAfterMs: Long = 4000L) extends (Seq[Row] => Unit) with Serializable {

  override def apply(batch: Seq[Row]): Unit = batch.foreach(postOne)

  /** POST one record; never throws (capture contract). */
  private def postOne(row: Row): Unit = {
    val json = row.json
    val id = idCol.map(c => row.getAs[Any](c))
    // the record identifier in error details (the reference cites
    // "(Groove ticket #N)", TicketPublisher.php:56)
    val ident = idCol.map(c => s"($c=${id.get})")
      .getOrElse(s"(record ${json.take(80)})")
    val idempotencyKey = id.flatMap(Option(_)).map(String.valueOf)
    val body = json.getBytes("UTF-8")
    var attempt = 0
    try {
      while (true) {
        val conn = java.net.URI.create(endpoint).toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type", "application/json")
        idempotencyKey.foreach(conn.setRequestProperty("Idempotency-Key", _))
        conn.setDoOutput(true)
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(readTimeoutMs)
        try {
          val out = conn.getOutputStream
          try { out.write(body); out.flush() } finally out.close()
          val code = conn.getResponseCode
          if (code >= 200 && code < 300) return
          val retryable = code == 429 || code >= 500
          if (retryable && attempt < maxRetries) {
            val headerMs = Option(conn.getHeaderField("Retry-After"))
              .flatMap(HttpPublisher.parseRetryAfterMs)
            if (headerMs.exists(_ > maxRetryAfterMs)) {
              // a day-long hold is a refusal, not a retry hint: fail the
              // record rather than stall the task (or disobey the server
              // by retrying early)
              recordFailure(code,
                s"Retry-After ${headerMs.get / 1000}s exceeds the " +
                  s"${maxRetryAfterMs}ms retry clamp", ident)
              return
            }
            Thread.sleep(
              headerMs.getOrElse(250L * (1L << attempt)).min(maxRetryAfterMs))
            attempt += 1
          } else {
            recordFailure(code, readErrorBody(conn), ident)
            return
          }
        } finally conn.disconnect()
      }
    } catch {
      // connection-level failure (the reference's CurlException arm,
      // TicketPublisher.php:64-67): captured, never thrown
      case scala.util.control.NonFatal(e) =>
        record((String.valueOf(e.getMessage),
          s"publish to $endpoint failed $ident"))
    }
  }

  private def readErrorBody(conn: java.net.HttpURLConnection): String = {
    val in = Option(conn.getErrorStream).orElse(
      scala.util.Try(Option(conn.getInputStream)).getOrElse(None))
    in.map { s =>
      try new String(s.readAllBytes(), "UTF-8") finally s.close()
    }.getOrElse("")
  }

  private def recordFailure(code: Int, body: String, ident: String): Unit = {
    val pairs = HttpPublisher.apiErrorPairs(body)
    if (pairs.nonEmpty)
      // ApiException with a structured errors array: group by the error
      // message, detail = "[property] message (ident)" (TP:56-58)
      pairs.foreach { case (property, message) =>
        record((message, s"Error: [$property] $message $ident"))
      }
    else
      // no structured errors: group by the HTTP failure itself (TP:62)
      record((s"HTTP $code", s"$ident: ${body.take(200)}"))
  }
}

object HttpPublisher {

  /** `{"property": "...", ..., "message": "..."}` pairs from an API error
    * body — the fields ApiException exposes (APIHelper.php:228-231). A
    * lenient regex parse: only same-object property→message order is
    * recognized, anything else degrades to the unstructured arm. */
  private val ApiErrorRe =
    """"property"\s*:\s*"([^"]*)"\s*[^{}]*?"message"\s*:\s*"([^"]*)"""".r

  private[sources] def apiErrorPairs(body: String): Seq[(String, String)] =
    ApiErrorRe.findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq

  /** `Retry-After` → millis: delta-seconds (`120`) or HTTP-date
    * (`Tue, 12 Aug 2026 17:00:00 GMT`), per RFC 9110 §10.2.3; a past date
    * or negative delta is 0 (retry now), an overflowing delta saturates
    * (the caller's clamp then fails the record), anything unparseable is
    * None (caller falls back to exponential backoff). Never negative —
    * a negative return would reach Thread.sleep and throw. */
  private[graft] def parseRetryAfterMs(s: String): Option[Long] =
    scala.util.Try(s.trim.toLong).toOption.map { sec =>
      if (sec <= 0L) 0L
      else if (sec > Long.MaxValue / 1000L) Long.MaxValue
      else sec * 1000L
    }.orElse(scala.util.Try {
      val at = java.time.ZonedDateTime.parse(
        s.trim, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
      math.max(0L, java.time.Duration.between(
        java.time.Instant.now(), at.toInstant).toMillis)
    }.toOption)
}

/** Value of [[BoundedErrorAccumulator]]: at most `cap` first-seen pairs
  * plus EXACT per-type counts (state bounded by cap + distinct types). */
final case class BoundedErrors(
    samples: Seq[(String, String)],
    typeCounts: Map[String, Long],
    cap: Int) {
  def total: Long = typeCounts.values.sum

  /** The error-channel rows: the samples, plus ONE flagged overflow row
    * per type whose exact count exceeds its sampled rows. */
  def rows: Seq[(String, String)] = {
    val sampledByType =
      samples.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val overflow = typeCounts.toSeq.sortBy(_._1).collect {
      case (t, n) if n > sampledByType.getOrElse(t, 0L) =>
        (t, s"[sample cap $cap reached] " +
          s"${n - sampledByType.getOrElse(t, 0L)} more detail lines " +
          s"dropped (exact '$t' count: $n)")
    }
    samples ++ overflow
  }
}

object BoundedErrorAccumulator {
  /** Sample cap of the driver-side error accumulators: the sync
    * pipelines' error channel (`graft.migration.Pipelines`) and the CLI's
    * publish errors (`graft.Main`). */
  val DefaultCap: Int = 10000
}

/** Driver-bounded error accumulator for the publish path: `add` keeps
  * exact counts per error TYPE (a handful of strings — HTTP codes and API
  * messages) and samples at most `cap` (type, detail) pairs, so driver state no longer
  * scales with failed-row count. Merge order across tasks is
  * nondeterministic (as with any accumulator), so WHICH pairs survive
  * the cap is not pinned — only that ≤ cap do and counts stay exact. */
final class BoundedErrorAccumulator(val cap: Int)
    extends org.apache.spark.util.AccumulatorV2[(String, String), BoundedErrors] {
  require(cap >= 0, "sample cap must be >= 0")
  private val samples =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val counts = scala.collection.mutable.HashMap.empty[String, Long]

  override def isZero: Boolean = synchronized(counts.isEmpty)

  override def copy(): org.apache.spark.util.AccumulatorV2[(String, String), BoundedErrors] =
    synchronized {
      val c = new BoundedErrorAccumulator(cap)
      c.samples ++= samples
      counts.foreach { case (k, v) => c.counts(k) = v }
      c
    }

  override def reset(): Unit = synchronized {
    samples.clear(); counts.clear()
  }

  override def add(v: (String, String)): Unit = synchronized {
    counts(v._1) = counts.getOrElse(v._1, 0L) + 1L
    if (samples.size < cap) samples += v
  }

  override def merge(
      other: org.apache.spark.util.AccumulatorV2[(String, String), BoundedErrors]): Unit =
    other match {
      case b: BoundedErrorAccumulator =>
        val ov = b.value
        synchronized {
          ov.typeCounts.foreach { case (k, n) =>
            counts(k) = counts.getOrElse(k, 0L) + n
          }
          samples ++= ov.samples.take(math.max(0, cap - samples.size))
        }
      case _ => throw new UnsupportedOperationException(
        s"cannot merge ${other.getClass.getName}")
    }

  override def value: BoundedErrors =
    synchronized(BoundedErrors(samples.toSeq, counts.toMap, cap))
}
