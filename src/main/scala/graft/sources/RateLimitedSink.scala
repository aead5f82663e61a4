package graft.sources

import org.apache.spark.sql.{DataFrame, Row}

/** Rate-limited publish sink — the Spark form of the reference's
  * acquire→process→publish throttle (A6: per-service rolling-60s counters
  * + sleep, SyncCommandBase.php:18-33,163-193; K1/K2 per-record REST
  * publishers CustomerPublisher.php:28-69, TicketPublisher.php:30-91).
  *
  * Design: `foreachPartition` + a token bucket per executor task. The
  * cluster-wide rate is divided by the partition count, so
  * `df.coalesce(n).foreachPartition(...)` with bucket rate R/n keeps the
  * aggregate under R without any cross-executor coordination (the same
  * decomposition maxRatePerPartition uses). Records post in batches —
  * one call per `batchSize` rows, not per row. A routing function can
  * withhold rows from the post inside the same pass, so a pipeline that
  * publishes its ok rows and quarantines its error rows reads its input
  * once.
  *
  * The HTTP layer is pluggable (`post`): tests inject a recorder; a real
  * deployment injects an HTTP client. No network is touched here.
  */
object RateLimitedSink {

  /** Rolling-window token bucket (the reference's 60 s window counter,
    * SB:18-33). Injectable clock/sleeper for deterministic tests. */
  final class TokenBucket(
      maxPerWindow: Int,
      windowMillis: Long = 60000L,
      now: () => Long = () => System.currentTimeMillis(),
      sleep: Long => Unit = Thread.sleep) extends Serializable {
    private var windowStart = now()
    private var used = 0
    def acquire(): Unit = synchronized {
      val t = now()
      if (t - windowStart >= windowMillis) { windowStart = t; used = 0 }
      if (used >= maxPerWindow) {
        val wait = windowMillis - (t - windowStart)
        if (wait > 0) sleep(wait)
        windowStart = now(); used = 0
      }
      used += 1
    }
  }

  /** Publish `df` through `post` at ≤ ratePerMinute calls/min aggregate.
    * Returns (batches, rows), both counted by the publish pass itself via
    * accumulators, so the row count is exactly what was posted (a
    * separate count() would re-execute the pipeline, which over a live
    * source may no longer agree).
    *
    * `route` maps each row of `df` to the row to post, or to None to
    * withhold it; batching, the token bucket and both counters see only
    * the routed rows. A caller that quarantines rows (the sync pipelines'
    * error channel, [[graft.migration.ErrorChannel.router]]) records the
    * withheld ones from inside `route`, so publish and quarantine share
    * this one pass. */
  def publish(
      df: DataFrame,
      ratePerMinute: Int,
      batchSize: Int,
      parallelism: Int,
      route: Row => Option[Row] = Some(_))(
      post: Seq[Row] => Unit): (Long, Long) = {
    val perPartitionRate = math.max(1, ratePerMinute / parallelism)
    val batchCounter = df.sparkSession.sparkContext.longAccumulator("graft.publish.batches")
    val rowCounter = df.sparkSession.sparkContext.longAccumulator("graft.publish.rows")
    df.coalesce(parallelism).foreachPartition { (it: Iterator[Row]) =>
      val bucket = new TokenBucket(perPartitionRate)
      it.flatMap(route).grouped(batchSize).foreach { batch =>
        bucket.acquire()
        post(batch)
        batchCounter.add(1)
        rowCounter.add(batch.size)
      }
    }
    (batchCounter.value, rowCounter.value)
  }
}
