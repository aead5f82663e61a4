package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** A closed event-time session emitted by [[EventStreams.sessionizeStream]]:
  * `session_end_exclusive` = last event + gap, mirroring
  * `session_window(...).end`. */
case class SessionOut(
    user_id: Long, session_start: java.sql.Timestamp,
    session_end_exclusive: java.sql.Timestamp, n_events: Long, total: Double)

/** Open-session state held in the state store, micros precision (ms-rounded
  * state would disagree with batch session_window on micro-level gaps). */
case class OpenSession(startUs: Long, lastUs: Long, n: Long, total: Double)

/** Structured Streaming surface over the events table. The reference's
  * incremental traits (SURVEY §2.10: resumable page offsets SC:17/ST:162,
  * page micro-batches SB:163-193, dedup-on-replay TP:353-373) map here:
  * source offsets+checkpoints replace --startPage, micro-batch triggers
  * replace the page loop, dropDuplicatesWithinWatermark replaces the dedup
  * probe.
  */
object EventStreams {

  /** events.parquet schema as stored, with `ts` as a given type. The
    * physical type has varied across fixture generations (TIMESTAMP(NANOS)
    * → long under the legacy conf; TIMESTAMP_NTZ micros; zoned timestamp),
    * and a file stream needs its schema up front — so [[readEventStream]]
    * probes one batch-read footer and adapts. */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** File-streaming read of the events table (micro-batched by the source),
    * normalized to TimestampType micros `ts` regardless of the fixture's
    * physical timestamp layout (the session runs UTC, so the NTZ cast is
    * value-preserving). */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val reader = spark.readStream
      .schema(rawSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Stateful streaming queries materialize one state store PER SHUFFLE
    * PARTITION per stateful operator (and one RocksDB instance each under
    * that provider) — partition count is a deployment knob that must track
    * key cardinality and executor count, not the batch default. The
    * *ToTable runners below default to a small count suited to the fixture
    * scale; a real deployment sizes it once per stream job via
    * [[StreamRunConf]]. Applies only to queries STARTED under the conf
    * (it's fixed at query start). */
  private[streaming] def withStreamingShufflePartitions[T](
      spark: SparkSession, n: Int)(f: => T): T =
    graft.GraftSession.withSessionConfs(spark)(
      "spark.sql.shuffle.partitions" -> n.toString)(f)

  /** Deployment knobs for the run-to-completion `*ToTable` runners:
    *
    *  - `shufflePartitions` — state-store count per stateful operator
    *    (default 8, the fixture scale; deployments size it to key
    *    cardinality × executor count — it is FIXED at first start for the
    *    life of a checkpoint);
    *  - `checkpointDir` — explicit checkpoint location. Default None lets
    *    the engine use a temp dir, fine for run-to-completion fixtures.
    *    SCOPE: for these `*ToTable` runners the knob pins offsets/state for
    *    a SINGLE run-to-completion invocation (placement, inspection,
    *    quota) — it does NOT make the runner restartable, because they
    *    write to the memory sink, which only supports checkpoint recovery
    *    in complete mode: an append-mode runner (dedup/sessions/
    *    interval-join/stateful-counts) re-started against the same pinned
    *    dir throws. A resumable production stream pins a checkpoint AND
    *    swaps the memory sink for a durable one (the checkpoint is the
    *    stream's identity: offsets + state live there — the
    *    resumable-offsets spec drives exactly that shape on a file sink).
    */
  case class StreamRunConf(
      shufflePartitions: Int = 8,
      checkpointDir: Option[String] = None) {
    private[streaming] def options: Map[String, String] =
      checkpointDir.map("checkpointLocation" -> _).toMap
  }

  /** Run a tumbling-window aggregation over the event stream to completion
    * (Trigger.AvailableNow + complete mode into a memory sink) and return
    * the result table. Batch-equivalent semantics — the oracle is the same
    * date_trunc SQL as the batch query. */
  def tumblingAggToTable(
      spark: SparkSession, dir: String, tableName: String,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    val agg = readEventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = agg.writeStream
        .format("memory")
        .queryName(tableName)
        .outputMode("complete")
        .options(conf.options)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(tableName)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Dedup-on-replay (SURVEY §2.10: --checkDuplicates TP:353-373 as a
    * streaming primitive): event-time watermark + state-store dedup on the
    * record key. Duplicate arrivals inside the watermark horizon are
    * dropped exactly once. */
  def dedupedEventStream(spark: SparkSession, dir: String): DataFrame =
    readEventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Run the deduped stream to completion and return the sink table. */
  def dedupToTable(spark: SparkSession, dir: String, tableName: String,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = dedupedEventStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream.format("memory").queryName(tableName)
        .outputMode("append").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(tableName)
  }

  /** End-to-end duplicate-arrival exercise of the watermark dedup, for
    * the graded q185: renders a crawl file that re-emits every 7th event
    * once and every 21st twice (the at-least-once-delivery shape), then
    * streams it through [[dedupedEventStream]]. Output carries the full
    * record so the oracle hash covers payloads, not just ids. State cost
    * at scale: one (event_id → seen) entry per key inside the watermark
    * horizon per state partition — the horizon, not the stream length,
    * bounds memory, which is the entire point of the
    * dropDuplicatesWithinWatermark contract vs a batch distinct. */
  def dedupReplayToTable(spark: SparkSession, dir: String, tableName: String,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    val ev = graft.sources.Tables(spark, dir).events
    val dups = ev.filter(pmod(col("event_id"), lit(7)) === 0)
    val streamDir = graft.Checkpoints.scratchDir(spark, "graft-dedup-stream")
    try {
      graft.Checkpoints.renderBatches(
        ev.unionAll(dups)
          .unionAll(dups.filter(pmod(col("event_id"), lit(21)) === 0))
          .withColumn("bat", lit(0)),
        "bat", "parquet", streamDir)(_ => "events.parquet")
      withStreamingShufflePartitions(spark, conf.shufflePartitions) {
        val q = dedupedEventStream(spark, streamDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .writeStream.format("memory").queryName(tableName)
          .outputMode("append").options(conf.options)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    } finally graft.Checkpoints.release(streamDir) // the memory sink holds the output
    spark.table(tableName)
  }

  /** Stream-static enrichment: the streaming fact joined to a batch
    * dimension (re-read per micro-batch by the engine — a dim UPDATE is
    * visible to later batches, the property a broadcast variable lacks),
    * then a grouped aggregate over the enriched stream. The static side
    * here derives deterministically from the same fixture (user →
    * segment); at scale this is the canonical "stream ⋈ broadcast dim"
    * shape: the dim is broadcast per batch, the stream never shuffles
    * before the aggregate. */
  def enrichToTable(spark: SparkSession, dir: String, tableName: String,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    val dim = graft.sources.Tables(spark, dir).events
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        concat(lit("seg"), pmod(col("user_id"), lit(3L))).as("segment"))
    val enriched = readEventStream(spark, dir)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = enriched.writeStream
        .format("memory").queryName(tableName)
        .outputMode("complete").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(tableName).orderBy(col("segment"), col("event_type"))
  }

  /** Event-time sessionization with custom state: flatMapGroupsWithState +
    * EventTimeTimeout. Sessions extend while the next event arrives < gap
    * after the last (the session_window rule); a session closed by an
    * in-batch gap is emitted immediately, the trailing open session is
    * parked in the state store with an event-time timer at last+gap and
    * emitted when the watermark passes it — so emission needs no sentinel
    * rows and state size is one OpenSession per active user, the bounded-
    * state property that lets this run forever at scale.
    *
    * `events` must have user_id (long), ts (timestamp), value (double).
    */
  def sessionizeStream(
      events: DataFrame, gapMinutes: Int,
      watermarkDelay: String = "0 seconds"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def close(user: Long, s: OpenSession): SessionOut =
      SessionOut(user,
        new java.sql.Timestamp(s.startUs / 1000),
        new java.sql.Timestamp((s.lastUs + gapUs) / 1000),
        s.n, s.total)

    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + (ts.getNanos % 1000000) / 1000

    def fn(user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
           state: GroupState[OpenSession]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(user, s))
      } else {
        val evs = it.map { case (_, ts, v) => (micros(ts), v) }.toArray.sortBy(_._1)
        val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var open = state.getOption
        evs.foreach { case (t, v) =>
          open match {
            case Some(s) if t < s.lastUs + gapUs =>
              open = Some(OpenSession(s.startUs, math.max(s.lastUs, t), s.n + 1, s.total + v))
            case Some(s) =>
              closed += close(user, s)
              open = Some(OpenSession(t, t, 1, v))
            case None =>
              open = Some(OpenSession(t, t, 1, v))
          }
        }
        open.foreach { s =>
          state.update(s)
          // timer must sit strictly past the current watermark
          state.setTimeoutTimestamp(
            math.max((s.lastUs + gapUs) / 1000, state.getCurrentWatermarkMs() + 1))
        }
        closed.iterator
      }
    }

    events
      // the watermark column itself must reach the stateful operator —
      // projecting ts to a long would fail the event-time-timeout check
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Run the session stream over the events table to completion and return
    * emitted (closed) sessions. AvailableNow runs a final no-data batch
    * after the watermark advances, so every session ending at least `gap`
    * before the stream's max event time is flushed. */
  def sessionsToTable(
      spark: SparkSession, dir: String, tableName: String,
      gapMinutes: Int = 30,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = sessionizeStream(readEventStream(spark, dir), gapMinutes)
        .toDF()
        .writeStream.format("memory").queryName(tableName)
        .outputMode("append").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(tableName)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Event-time sessionization on the Spark 4 `transformWithState` API —
    * the same semantics as [[sessionizeStream]] (see there), expressed as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] with explicit
    * ValueState + event-time timers. Differences from the
    * flatMapGroupsWithState form: state lives in the RocksDB state store
    * (required by the API; the scale path for big keyspaces — state spills
    * off-heap instead of occupying executor memory), and timers are
    * first-class (registered/deleted per session extension) instead of a
    * single per-key timeout. */
  class SessionProcessor(gapUs: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Double), SessionOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession](
        "open", Encoders.product[OpenSession], TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + (ts.getNanos % 1000000) / 1000

    private def close(user: Long, s: OpenSession): SessionOut =
      SessionOut(user,
        new java.sql.Timestamp(s.startUs / 1000),
        new java.sql.Timestamp((s.lastUs + gapUs) / 1000),
        s.n, s.total)

    private def expiryMs(s: OpenSession): Long = (s.lastUs + gapUs) / 1000

    override def handleInputRows(
        user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val evs = rows.map { case (_, ts, v) => (micros(ts), v) }.toArray.sortBy(_._1)
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur: Option[OpenSession] = if (open.exists()) Some(open.get()) else None
      val hadTimer = cur.map(expiryMs)
      evs.foreach { case (t, v) =>
        cur match {
          case Some(s) if t < s.lastUs + gapUs =>
            cur = Some(OpenSession(s.startUs, math.max(s.lastUs, t), s.n + 1, s.total + v))
          case Some(s) =>
            closed += close(user, s)
            cur = Some(OpenSession(t, t, 1, v))
          case None =>
            cur = Some(OpenSession(t, t, 1, v))
        }
      }
      cur.foreach { s =>
        open.update(s)
        val newExpiry = math.max(expiryMs(s), timerValues.getCurrentWatermarkInMs() + 1)
        hadTimer.filter(_ != newExpiry).foreach(getHandle.deleteTimer)
        getHandle.registerTimer(newExpiry)
      }
      closed.iterator
    }

    override def handleExpiredTimer(
        user: Long, timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] = {
      if (open.exists()) {
        val s = open.get()
        if (expiryMs(s) <= expiredTimerInfo.getExpiryTimeInMs) {
          open.clear()
          Iterator.single(close(user, s))
        } else Iterator.empty // stale timer from an extended session
      } else Iterator.empty
    }
  }

  /** [[sessionizeStream]] on transformWithState (RocksDB state store). */
  def sessionizeStreamTws(
      events: DataFrame, gapMinutes: Int,
      watermarkDelay: String = "0 seconds"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapUs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run the transformWithState session stream to completion (RocksDB
    * provider set for the run and restored after). */
  def sessionsToTableTws(
      spark: SparkSession, dir: String, tableName: String,
      gapMinutes: Int = 30,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    graft.GraftSession.withSessionConfs(spark)(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.shuffle.partitions" -> conf.shufflePartitions.toString) {
      val q = sessionizeStreamTws(readEventStream(spark, dir), gapMinutes)
        .toDF()
        .writeStream.format("memory").queryName(tableName)
        .outputMode("append").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(tableName)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-stream interval join: left rows matched to right rows with the
    * same key and `right.ts <= left.ts <= right.ts + maxDelay`. Both sides
    * carry watermarks, so the join state is BOUNDED: a buffered right row
    * is dropped once the watermark passes its ts + maxDelay, and a left
    * row once it can no longer match — the property that lets this run
    * indefinitely (an unconstrained stream-stream join would buffer both
    * streams forever).
    *
    * Inputs must have (key, ts) plus payloads; columns are prefixed l_/r_
    * in the output to keep the join self-describing.
    */
  def intervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String, ts: String,
      maxDelayMinutes: Int, watermarkDelay: String = "0 seconds"): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
    val l = prefixed(left, "l_").withWatermark(s"l_$ts", watermarkDelay)
    val r = prefixed(right, "r_").withWatermark(s"r_$ts", watermarkDelay)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"l_$ts") >= col(s"r_$ts") &&
        col(s"l_$ts") <= col(s"r_$ts") + expr(s"INTERVAL $maxDelayMinutes MINUTES"))
  }

  /** LEFT OUTER stream-stream interval join — the join shape
    * [[intervalJoinStreams]] cannot express: every left row surfaces,
    * matched rows carry the right payload, and a left row with NO right
    * match within the interval emits once with nulls — but only after
    * the watermark proves no match can still arrive (Spark withholds
    * the null until `wm > l.ts + maxDelay`, so outer results are
    * late-data-safe, not guesses). State stays bounded exactly as in
    * the inner case.
    *
    * The operational catch this operator documents: outer rows for the
    * stream's TAIL only emit once the watermark passes them, and a
    * drained source stops advancing the watermark — a bounded replay
    * (Trigger.AvailableNow) must append a SENTINEL event beyond
    * `max(ts) + maxDelay` on BOTH sides (the global watermark is the
    * min across inputs), then filter the sentinel key from the output.
    * The final no-data batch then evicts and emits every real outer
    * row (the q55 timer-flush discipline applied to join state). */
  def leftOuterIntervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String, ts: String,
      maxDelayMinutes: Int, watermarkDelay: String = "0 seconds"): DataFrame =
    outerIntervalJoinStreams(left, right, key, ts, maxDelayMinutes,
      watermarkDelay, "left_outer")

  /** RIGHT-OUTER twin of [[leftOuterIntervalJoinStreams]]: every RIGHT
    * row surfaces — matched with the left payload, unmatched exactly
    * once with left-side nulls after the watermark proves no left row
    * can still open an interval containing it (a right row at `t` can
    * match any left in `[t − maxDelay, t]`, so its null is withheld
    * until `wm > t`). Same bounded state, same drained-source sentinel
    * discipline on BOTH sides. */
  def rightOuterIntervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String, ts: String,
      maxDelayMinutes: Int, watermarkDelay: String = "0 seconds"): DataFrame =
    outerIntervalJoinStreams(left, right, key, ts, maxDelayMinutes,
      watermarkDelay, "right_outer")

  /** FULL-OUTER stream-stream interval join — the last join shape of
    * the §2.10 surface: every row of BOTH streams surfaces exactly once,
    * matched pairs together, unmatched rows with the other side's nulls
    * once the watermark proves no match can arrive (left nulls at
    * `wm > l.ts + maxDelay`, right nulls at `wm > r.ts`). The audit
    * shape: attribution (left-outer) plus the orphaned-conversions side
    * (purchases no view explains) in one pass. Both sentinel rules of
    * the one-sided joins apply simultaneously — a bounded replay must
    * push the watermark past max(ts) + 2·maxDelay on both inputs or the
    * TAIL of both streams withholds forever. */
  def fullOuterIntervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String, ts: String,
      maxDelayMinutes: Int, watermarkDelay: String = "0 seconds"): DataFrame =
    outerIntervalJoinStreams(left, right, key, ts, maxDelayMinutes,
      watermarkDelay, "full_outer")

  private def outerIntervalJoinStreams(
      left: DataFrame, right: DataFrame, key: String, ts: String,
      maxDelayMinutes: Int, watermarkDelay: String,
      joinType: String): DataFrame = {
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
    val l = prefixed(left, "l_").withWatermark(s"l_$ts", watermarkDelay)
    val r = prefixed(right, "r_").withWatermark(s"r_$ts", watermarkDelay)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$ts") >= col(s"l_$ts") &&
        col(s"r_$ts") <= col(s"l_$ts") + expr(s"INTERVAL $maxDelayMinutes MINUTES"),
      joinType)
  }

  /** Run `f` over the view/purchase slice of `events` rendered as TWO
    * mtime-ordered parquet batch files ([[graft.Checkpoints.renderBatches]]:
    * real events, then the sentinel
    * pair 2×maxDelay past the real maximum on BOTH sides — the global
    * watermark is the min across inputs) and opened as a throttled file
    * stream: the bounded-replay drain device every outer interval-join
    * driver needs, extracted once. Sentinel rows carry user_id = −1;
    * drivers filter them from the output. `f` runs its query to
    * termination into a memory sink, so the rendered dir is deleted once
    * it returns or throws. */
  private def withViewPurchaseStream[T](
      spark: SparkSession, dir: String, maxDelayMinutes: Int)(
      f: DataFrame => T): T = {
    val base = graft.sources.Tables(spark, dir).events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    val streamDir = graft.Checkpoints.scratchDir(spark, "graft-vconv-src")
    try {
      val maxTs = base.agg(org.apache.spark.sql.functions.max(col("ts")))
        .head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(
        maxTs.getTime + 2L * maxDelayMinutes * 60000L)
      import spark.implicits._
      val sentinel = Seq(
        (-1L, -1L, "view", sentinelTs),
        (-2L, -1L, "purchase", sentinelTs))
        .toDF("event_id", "user_id", "event_type", "ts")
      graft.Checkpoints.renderBatches(
        base.withColumn("bat", lit(0))
          .unionByName(sentinel.withColumn("bat", lit(1))),
        "bat", "parquet", streamDir)(b => f"batch$b%02d.parquet")
      f(spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir))
    } finally graft.Checkpoints.release(streamDir)
  }

  /** Drive [[leftOuterIntervalJoinStreams]] end-to-end over the events
    * table: views left-outer-joined to the purchases that followed
    * within `maxDelayMinutes` — every view surfaces, converted ones
    * with each matching purchase, unconverted ones exactly once with
    * nulls. The crawl renders as TWO mtime-ordered parquet files (real
    * events, then the sentinel batch 2×maxDelay past the real maximum
    * on both sides) so the bounded replay drains every outer row; the
    * sentinel key (-1) is filtered from the result. Timestamps surface
    * as epoch MICROS (unix_micros) — the join matched at micros
    * precision, and a seconds-truncated output would let a boundary
    * match diverge from a micros-exact oracle. */
  def viewConversionsToTable(
      spark: SparkSession, dir: String, tableName: String,
      maxDelayMinutes: Int = 60,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    withViewPurchaseStream(spark, dir, maxDelayMinutes) { incoming =>
      val views = incoming.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val purchases = incoming.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      withStreamingShufflePartitions(spark, conf.shufflePartitions) {
        val q = leftOuterIntervalJoinStreams(
            views, purchases, "user_id", "ts", maxDelayMinutes)
          .select(col("l_user_id").as("user_id"),
            col("l_view_id").as("view_id"),
            col("l_ts").as("view_ts"),
            col("r_purchase_id").as("purchase_id"),
            col("r_ts").as("purchase_ts"))
          .writeStream.format("memory").queryName(tableName)
          .outputMode("append").options(conf.options)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    spark.table(tableName)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("view_id"),
        unix_micros(col("view_ts")).as("view_us"),
        col("purchase_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
  }

  /** Drive [[fullOuterIntervalJoinStreams]] end-to-end over the events
    * table: [[viewConversionsToTable]]'s attribution PLUS the orphaned
    * side — purchases no view precedes within the window surface once
    * with view-side nulls. Same sentinel drain (both sides), same
    * micros-exact output discipline; the sentinel key is filtered on the
    * COALESCED user id (an unmatched sentinel row carries it on either
    * side). */
  def viewConversionsFullOuterToTable(
      spark: SparkSession, dir: String, tableName: String,
      maxDelayMinutes: Int = 60,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    withViewPurchaseStream(spark, dir, maxDelayMinutes) { incoming =>
      val views = incoming.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      val purchases = incoming.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      withStreamingShufflePartitions(spark, conf.shufflePartitions) {
        val q = fullOuterIntervalJoinStreams(
            views, purchases, "user_id", "ts", maxDelayMinutes)
          .select(
            coalesce(col("l_user_id"), col("r_user_id")).as("user_id"),
            col("l_view_id").as("view_id"),
            col("l_ts").as("view_ts"),
            col("r_purchase_id").as("purchase_id"),
            col("r_ts").as("purchase_ts"))
          .writeStream.format("memory").queryName(tableName)
          .outputMode("append").options(conf.options)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    spark.table(tableName)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("view_id"),
        unix_micros(col("view_ts")).as("view_us"),
        col("purchase_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
  }

  /** Run the purchases-within-N-minutes-of-signup interval join over the
    * events table as a stream-stream join and return the sink table. */
  def purchasesAfterSignupToTable(
      spark: SparkSession, dir: String, tableName: String,
      maxDelayMinutes: Int = 60,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    val ev = readEventStream(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = intervalJoinStreams(purchases, signups, "user_id", "ts", maxDelayMinutes)
        .select(col("l_user_id").as("user_id"), col("l_event_id").as("purchase_id"),
          col("l_ts").as("purchase_ts"), col("r_ts").as("signup_ts"))
        .writeStream.format("memory").queryName(tableName)
        .outputMode("append").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(tableName)
  }

  /** Custom keyed state via mapGroupsWithState (§2.10 "custom state"
    * surface): a running per-user event count held in the state store,
    * emitted in Update mode each micro-batch. */
  def statefulUserCounts(spark: SparkSession, dir: String, tableName: String,
      conf: StreamRunConf = StreamRunConf()): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val counts = readEventStream(spark, dir)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          (user, total)
      }
      .toDF("user_id", "n_events")
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      val q = counts.writeStream.format("memory").queryName(tableName)
        .outputMode("update").options(conf.options)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // in Update mode each batch appends its latest value; keep the final
    // state per user
    spark.table(tableName)
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.max(col("n_events")).as("n_events"))
  }

  /** Incremental HLL distinct-count maintenance over an arbitrary stream —
    * the sketch-as-a-table lifecycle under streaming ingest: the persisted
    * register table IS the running state (exactly 2^p rows, BOUNDED by the
    * sketch geometry regardless of stream volume — contrast a streaming
    * `approx_count_distinct` aggregate, whose HLL++ buffer lives opaquely
    * in a state store), each micro-batch max-merges its own register table
    * into the store (HLL's merge is elementwise max — SketchesSpec pins
    * union+re-max == whole-corpus), and the streaming plan itself is
    * STATELESS (no state-store operators; require()-asserted). The merged
    * frame is localCheckpoint-materialized before overwriting the path it
    * was read from. Any consumer (q127's estimator, a monitoring panel)
    * reads the table between or after triggers.
    *
    * Returns (final register table ordered by j, count of non-empty
    * batches processed). */
  def hllRegistersForStream(
      spark: SparkSession, stream: DataFrame,
      value: org.apache.spark.sql.Column, outPath: String, p: Int = 9,
      options: Map[String, String] = Map.empty): (DataFrame, Int) = {
    val m = 1 << p
    spark.range(m)
      .select(col("id").cast("int").as("j"), lit(0).cast("int").as("rho"))
      .write.mode("overwrite").parquet(outPath)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = spark.read.parquet(outPath)
          .unionByName(graft.operators.Sketches.hllRegisters(batch, value, p))
          .groupBy(col("j")).agg(max(col("rho")).as("rho"))
          .localCheckpoint(true)
        merged.write.mode("overwrite").parquet(outPath)
        ()
      }
      .options(options)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(q.recentProgress.flatMap(_.stateOperators).isEmpty,
      "incremental HLL stream must be stateless " +
        "(sketch state lives in the register table)")
    (spark.read.parquet(outPath).orderBy(col("j")),
      q.recentProgress.count(_.numInputRows > 0))
  }

  /** [[hllRegistersForStream]] over the streamed events table, sketching
    * distinct `user_id` (q134's registered runner). */
  def hllRegistersToParquet(
      spark: SparkSession, dir: String, outPath: String, p: Int = 9,
      conf: StreamRunConf = StreamRunConf()): DataFrame =
    withStreamingShufflePartitions(spark, conf.shufflePartitions) {
      hllRegistersForStream(spark, readEventStream(spark, dir),
        col("user_id"), outPath, p, conf.options)._1
    }
}
