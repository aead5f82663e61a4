package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.migration._
import graft.operators.Dedup
import graft.queries.RelationalQueries
import graft.sources.HttpPublisher
import graft.streaming.{DocumentStreams, EventStreams}

/** What an op reports back: the items it processed, one latency per op it
  * stands for (a streaming call stands for one op per trigger), and a
  * correctness check that runs after the timed interval (None = correct). */
final case class OpResult(label: String, items: Long, latenciesS: Seq[Double],
    check: () => Option[String])

/** Everything a workload needs at run time. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val probe: Probe,
    val seed: Long, val cores: Int, val dir: String) {

  /** A span around a call into a layer. With tracing on, the call's Spark
    * jobs run under a job group named for the span, so the listener's
    * counts can be attached to it. */
  def span[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val outerDesc = Option(sc.getLocalProperty("spark.job.description"))
      val group = s"span-${tracer.peekId}"
      sc.setJobGroup(group, name)
      try tracer.span(name)(body)
      finally outer match {
        case Some(g) => sc.setJobGroup(g, outerDesc.getOrElse(""))
        case None => sc.clearJobGroup()
      }
    }

  /** The output of a layer boundary: materialized under its own span when
    * tracing (planning forced first, under a `plans.plan` span), passed
    * through lazily otherwise. */
  def boundary(name: String, df: => DataFrame): DataFrame =
    if (!tracer.enabled) df
    else span(name) {
      val d = df
      span("plans.plan")(d.queryExecution.executedPlan)
      d.localCheckpoint(eager = true)
    }
}

trait Workload {
  def name: String
  /** Ops per mix cycle: a run measures whole cycles, so every run measures
    * the same mix. */
  def cycle: Int = 1
  /** A cycle's typical duration on four cores: a run measures
    * round(seconds / cycleSeconds) cycles (at least one), a fixed amount of
    * work per run, so no run differs from another by a cycle cut short. */
  def cycleSeconds: Double
  /** Cycles run as the warm-up, before the measured phase. */
  def warmupCycles: Int = 1
  def generate(ctx: Ctx): Unit
  /** Called before each measured phase. */
  def beginPhase(): Unit = ()
  def op(ctx: Ctx, i: Int): OpResult
  /** Text the kernel suite is timed over (a `text` column). */
  def kernelText(ctx: Ctx): DataFrame
  /** Workload-specific per-layer metrics from the traced phase. */
  def layerReport(ctx: Ctx, results: Seq[OpResult]): Seq[(String, Double)] = Nil
  def teardown(): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "analytics" => new Analytics
    case "migration" => new Migration
    case "stream_dedup" => new StreamDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], path: String): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DocumentStreams.documentSchema)
      .write.mode("overwrite").parquet(path)
  }

  def ids(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSeq
}

// ---------------------------------------------------------------------------

/** Registered `RelationalQueries` queries over a fixed star schema; the
  * seed permutes the order of each pass. An op is one query, built through
  * `SparkEntry.queries` and collected. */
final class Analytics extends Workload {
  val name = "analytics"
  private lazy val names = RelationalQueries.queries.keys.toIndexedSeq.sorted
  private lazy val ranked: IndexedSeq[String] = {
    val base = Digests.load("analytics_baseline.json").map { case (k, v) => k -> v.toDouble }
    names.sortBy(q => (-base.getOrElse(q, 0.0), q))
  }
  /** Every tenth query by recorded baseline latency, from the tenth
    * heaviest: a fixed set of seven that spans the cost range without the
    * nine heaviest, so every run measures the same mix (a full pass over all
    * registered queries takes ~30 s on four cores, more than a run can
    * spend). An odd count puts the median op among one query's samples,
    * not in the gap between two queries' latencies. */
  lazy val selected: IndexedSeq[String] = ranked.indices.filter(_ % 10 == 9).map(ranked)
  override def cycle: Int = selected.size
  /** A pass takes ~3.5 s on four cores: a 10 s run measures three. */
  def cycleSeconds: Double = 3.5
  /** With one warm-up pass, some runs measure every query ~1.5x slower
    * than others (medians of ten seeds spread by ~0.3 of their value);
    * a second pass lets the JVM finish compiling the queries' code paths. */
  override def warmupCycles: Int = 2
  private var data: String = _

  def generate(ctx: Ctx): Unit = {
    data = s"${ctx.dir}/tables"
    StarSchema.write(ctx.spark, data)
  }

  private def pick(ctx: Ctx, i: Int): String = {
    val order = new scala.util.Random(ctx.seed * 1000003L + i / selected.size).shuffle(selected)
    order(i % selected.size)
  }

  /** One query, collected: the rows are the op's output, digested after
    * the timed interval. */
  private def run(ctx: Ctx, q: String): (Array[String], Array[Row]) = {
    val df = ctx.span(s"queries.$q.build")(SparkEntry.queries(q)(ctx.spark, data))
    if (ctx.tracer.enabled) ctx.span("plans.plan")(df.queryExecution.executedPlan)
    (df.columns, ctx.span(s"queries.$q")(df.collect()))
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val q = pick(ctx, i)
    val t0 = System.nanoTime()
    val (cols, rows) = run(ctx, q)
    OpResult(q, 1, Seq((System.nanoTime() - t0) / 1e9), () => {
      val d = Digests.of(cols, rows)
      expected.get(q) match {
        case Some(e) if e == d => None
        case Some(e) => Some(s"$q: digest $d, recorded $e")
        case None => Some(s"$q: no recorded digest")
      }
    })
  }

  private lazy val expected: Map[String, String] = Digests.load("analytics_digests.json")

  /** All digests, for recording them (see README). */
  def allDigests(ctx: Ctx): Seq[(String, String)] =
    names.map { q => val (c, r) = run(ctx, q); q -> Digests.of(c, r) }

  def kernelText(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"$data/documents.parquet")

  override def layerReport(ctx: Ctx, results: Seq[OpResult]): Seq[(String, Double)] = {
    val self = Trace.selfTimes(ctx.tracer.all)
    val perQuery = ctx.tracer.all.filter(s => s.name.startsWith("queries.") && !s.name.endsWith(".build"))
      .groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.durationNs / 1e9)) }
    val heaviest = selected.take(10)
    heaviest.map(q => s"queries.$q.s" -> perQuery.getOrElse(s"queries.$q", 0.0)) :+
      ("queries.build_s_per_op" -> ctx.tracer.all.filter(_.name.endsWith(".build"))
        .map(s => self(s.id) / 1e9).sum / math.max(1, results.size))
  }
}

// ---------------------------------------------------------------------------

/** The reference's migration: a Groove corpus acquired over HTTP through
  * graft-pages, attachment payloads fetched through AttachmentFetch,
  * published through HttpPublisher back to the benchmark's server. An op
  * migrates one page window: a syncCustomers call over its customer pages,
  * then a syncTickets call over its ticket pages, so every op is the same
  * kind of work. */
final class Migration extends Workload {
  val name = "migration"
  /** An op after the warm-up takes ~4.5 s on four cores: a 10 s run
    * measures two. */
  def cycleSeconds: Double = 4.5
  /** The first ops run up to 2x slower than later ones while the JVM
    * compiles the sync paths; with one warm-up op the medians of five seeds
    * spread by ~0.3 of their value, with two by ~0.15. */
  override def warmupCycles: Int = 2
  private var g: Gen.Groove = _
  private var server: GrooveServer = _
  private val ticketWindow = 1
  private val customerWindow = 3
  private var dims: Map[String, DataFrame] = Map.empty
  /** Per sync call: the server's ledger, pages needed, errors captured
    * (transform errors plus refused publishes) and errors planted. */
  private val ledgers = mutable.ArrayBuffer.empty[(Ledger, Int, Long, Long)]
  private var published = 0L

  def generate(ctx: Ctx): Unit = {
    server = new GrooveServer(ctx.seed)
    g = Gen.groove(ctx.seed, server.baseUrl)
    server.load(Map("customers" -> g.customerPages, "tickets" -> g.ticketPages,
      "messages" -> g.messagePages, "attachments" -> g.attachmentPages),
      g.files, g.rejectedRecords)
    val s = ctx.spark
    import s.implicits._
    dims = Map(
      "grooveMailboxes" -> g.mailboxNames.toDF("name"),
      "grooveAgents" -> g.agentEmails.toDF("email"),
      "hsMailboxes" -> g.hsMailboxes.toDF("id", "name", "email"),
      "hsUsers" -> g.hsUsers.toDF("id", "email", "firstName", "lastName"),
      "hsCustomers" -> g.hsCustomers.toDF("id", "email"),
      "existing" -> g.existingConversations.toDF("subject", "modifiedAt"))
      .map { case (k, v) => k -> v.cache() }
    dims.values.foreach(_.count())
    Truth.write(s"${ctx.dir}/truth.json", Seq("groove" -> Truth.sets(
      "rejected_records" -> g.rejectedRecords,
      "duplicate_tickets" -> g.duplicateTickets, "bad_link_tickets" -> g.badLinkTickets,
      "unknown_state_tickets" -> g.unknownStateTickets,
      "unmatched_mailbox_tickets" -> g.unmatchedMailboxTickets)))
  }

  private def paged(ctx: Ctx, entity: String, schema: StructType): DataFrame =
    ctx.spark.read.format("graft-pages").schema(schema).load(s"${server.baseUrl}/groove/$entity")

  private val attachmentSchema = StructType(Seq(StructField("message_id", StringType),
    StructField("filename", StringType), StructField("size", LongType), StructField("url", StringType)))

  override def beginPhase(): Unit = { ledgers.clear(); PublishTimes.clear() }

  /** The i-th window of `size` pages out of `n`, wrapping around. */
  private def window(i: Int, size: Int, n: Int): (Int, Int) = {
    val lo = 1 + (i * size) % (n - size + 1)
    (lo, lo + size - 1)
  }

  /** One sync call over pages [lo, hi] of customers or tickets; returns
    * the check of its output. */
  private def sync(ctx: Ctx, i: Int, tickets: Boolean, lo: Int, hi: Int): () => Option[String] = {
    val kind = if (tickets) "tickets" else "customers"
    val acc = ctx.spark.sparkContext.collectionAccumulator[(String, String)](s"publish-errors-$kind-$i")
    server.beginOp()
    val post: Seq[Row] => Unit = {
      val p = new HttpPublisher(s"${server.baseUrl}/hs/${if (tickets) "conversations" else "customers"}",
        acc.add _, idCol = Some(if (tickets) "groove_ticket_number" else "primary_email"))
      if (ctx.tracer.enabled) PublishTimes.timed(p) else p
    }
    val errorCsv = Some((s"${ctx.dir}/errors", s"op$i-$kind"))
    val opts = SyncOptions(startPage = Some(lo), stopPage = Some(hi), checkDuplicates = true)
    val rate = Int.MaxValue
    val report =
      if (tickets) {
        val ticketSchema = Encoders.product[Schemas.GrooveTicket].schema
        val messageSchema = Encoders.product[Schemas.GrooveMessage].schema
        if (ctx.tracer.enabled) ctx.span("migration.validation") {
          Validation.gate(dims("grooveMailboxes"), dims("hsMailboxes"), dims("grooveAgents"), dims("hsUsers"))
        } match {
          case Left(bad) => throw new IllegalStateException(s"validation failed: ${bad.collect().toSeq}")
          case Right(_) =>
        }
        val t = ctx.boundary("sources.acquire", paged(ctx, "tickets", ticketSchema)
          .filter(col("page").between(lo, hi)))
        val m = ctx.boundary("sources.acquire", paged(ctx, "messages", messageSchema))
        val a0 = paged(ctx, "attachments", attachmentSchema)
        // traced: the payload fetch is its own span; untraced it happens
        // inside syncTickets, as a user of the pipeline would run it
        val a = if (!ctx.tracer.enabled) a0 else ctx.span("sources.attachments") {
          val wanted = m.join(t.select(col("number").as("ticket_number")), Seq("ticket_number"), "left_semi")
            .filter(col("attachments_href").isNotNull)
            .select(MigrationFunctions.hrefAttachmentMessageId(col("attachments_href")).as("message_id"))
          AttachmentFetch.fetchPayloads(a0.join(wanted, Seq("message_id"), "left_semi"))
            .localCheckpoint(eager = true)
        }
        ctx.span("migration.syncTickets") {
          Pipelines.syncTickets(t, m, a, dims("grooveMailboxes"), dims("grooveAgents"),
            dims("hsMailboxes"), dims("hsUsers"), dims("hsCustomers"), dims("existing"),
            g.defaultMailboxEmail, opts.copy(bypassValidation = ctx.tracer.enabled),
            ratePerMinute = rate, parallelism = ctx.cores, errorCsv = errorCsv)(post)
        }.fold(bad => throw new IllegalStateException(s"validation failed: ${bad.collect().toSeq}"), identity)
      } else {
        val schema = Encoders.product[Schemas.GrooveCustomer].schema
        val c = ctx.boundary("sources.acquire", paged(ctx, "customers", schema)
          .filter(col("page").between(lo, hi)))
        ctx.span("migration.syncCustomers") {
          Pipelines.syncCustomers(c, opts, ratePerMinute = rate, parallelism = ctx.cores,
            errorCsv = errorCsv)(post)
        }
      }
    val ledger = server.ledger
    val captured = acc.value.size
    val expected = if (tickets) g.ticketsExpected(lo, hi) else g.customersExpected(lo, hi)
    ledgers += ((ledger, hi - lo + 1, report.errors + captured, expected.errors + expected.rejected.size))
    published += report.published
    () => Checks.migration(expected, report, ledger, captured).map(p => s"$kind $lo-$hi: $p")
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val (clo, chi) = window(i, customerWindow, g.customerPages.size)
    val (tlo, thi) = window(i, ticketWindow, g.ticketPages.size)
    val before = published
    val t0 = System.nanoTime()
    val checkCustomers = sync(ctx, i, tickets = false, clo, chi)
    val checkTickets = sync(ctx, i, tickets = true, tlo, thi)
    val dt = (System.nanoTime() - t0) / 1e9
    OpResult(s"customers $clo-$chi, tickets $tlo-$thi", published - before, Seq(dt),
      () => checkCustomers().orElse(checkTickets()))
  }

  def kernelText(ctx: Ctx): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    g.messagePages.flatten.toDF("json")
      .select(get_json_object(col("json"), "$.body").as("text"))
  }

  override def layerReport(ctx: Ctx, results: Seq[OpResult]): Seq[(String, Double)] = {
    val spans = ctx.tracer.all
    val self = Trace.selfTimes(spans)
    val ops = math.max(1, results.size)
    def selfOf(p: String) = spans.filter(_.name.startsWith(p)).map(s => self(s.id) / 1e9).sum / ops
    val batches = PublishTimes.all.map(_ / 1e6)
    val traced = ledgers.toSeq
    val posted = results.map(_.items).sum.toDouble
    val wall = spans.filter(_.name.startsWith("migration.sync")).map(_.durationNs / 1e9).sum
    Seq(
      "sources.pages_fetched" -> traced.map(_._1.pagesFetched).sum.toDouble / ops,
      "sources.pages_fetched_per_needed" -> traced.map(_._1.gets.count { case (p, _) =>
        p.contains("/tickets/page-") || p.contains("/customers/page-") }).sum.toDouble /
        math.max(1, traced.map(_._2).sum),
      "sources.attachments_fetched" -> traced.map(_._1.filesFetched).sum.toDouble / ops,
      "sources.publish_batch_p50_ms" -> Stats.median(batches),
      "sources.publish_batch_tail_ms" -> Stats.tail(batches)._3,
      "sources.publish_requests_per_record" -> traced.map(_._1.posts).sum / math.max(1.0, posted),
      "sources.publish_busy_frac" -> batches.sum / 1e3 / math.max(1e-9, wall * ctx.cores),
      "sources.server_busy_s" -> traced.map(_._1.busyNs).sum / 1e9 / ops,
      "migration.validation_s" -> selfOf("migration.validation"),
      "migration.acquire_s" -> (selfOf("sources.acquire") + selfOf("sources.attachments")),
      "migration.sync_s" -> selfOf("migration.sync"),
      "migration.publish_s" -> batches.sum / 1e3 / ctx.cores / ops,
      "migration.errors_captured" -> traced.map(_._3).sum.toDouble,
      "migration.errors_planted" -> traced.map(_._4).sum.toDouble)
  }

  override def teardown(): Unit = if (server != null) server.stop()
}

/** Publish-call timings, kept in this JVM (local mode runs tasks in the
  * same process). */
object PublishTimes {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def clear(): Unit = q.clear()
  def all: Seq[Double] = q.toArray.toSeq.map(_.asInstanceOf[java.lang.Long].toDouble)
  def timed(p: Seq[Row] => Unit): Seq[Row] => Unit = (batch: Seq[Row]) => {
    val t0 = System.nanoTime()
    try p(batch) finally { q.add(System.nanoTime() - t0); () }
  }
}

// ---------------------------------------------------------------------------

/** DocumentStreams.incrementalCurationToParquetSigned over a seeded crawl
  * split into batch files, with cross-batch duplicates planted. An op is
  * one trigger; a call runs one trigger per batch file. The seed corpus is
  * larger than the engine's re-widen gate, so its signing takes the
  * repartitioned path a deployment-sized corpus takes. */
final class StreamDedup extends Workload {
  val name = "stream_dedup"
  /** A call of four triggers after the warm-up takes ~10 s on four cores:
    * a 10 s run measures one. */
  def cycleSeconds: Double = 10.0
  private var crawl: Gen.Crawl = _
  // DocumentStreams' default banding: 64 hashes in 4 bands of 16 rows
  private val bands = 4
  private val rows = 16
  private var calls = 0
  private val triggerRows = mutable.ArrayBuffer.empty[(Int, Trigger)]
  private val callWallS = mutable.HashMap.empty[Int, Double]

  def generate(ctx: Ctx): Unit = {
    crawl = Gen.crawl(ctx.seed)
    Workload.writeDocs(ctx.spark, crawl.seedDocs, s"${ctx.dir}/seed")
    Workload.writeDocs(ctx.spark, crawl.crawlDocs, s"${ctx.dir}/crawl/crawl.parquet")
    Truth.write(s"${ctx.dir}/truth.json", Seq("crawl" -> Truth.sets(
      "low_quality" -> crawl.lowQuality, "exact_dups" -> crawl.exactDups,
      "near_dups" -> crawl.nearDups.keySet, "expected_survivors" -> crawl.expectedSurvivors)))
    // the gate reads the plan's size estimate; keep twice its margin
    val gate = ctx.spark.conf.get("spark.graft.rewiden.minBytes", (256L * 1024).toString).toLong
    val size = ctx.spark.read.parquet(s"${ctx.dir}/seed").queryExecution.optimizedPlan.stats.sizeInBytes
    require(size >= 2 * gate, s"seed corpus of $size bytes is under twice the re-widen gate ($gate)")
  }

  private def call(ctx: Ctx): (Seq[Trigger], Seq[Long]) = {
    val c = calls; calls += 1
    val base = s"${ctx.dir}/stream/call-$c"
    val before = ctx.probe.triggerLog.size
    val terminated = ctx.probe.terminatedCount
    val t0 = System.nanoTime()
    val survivors = ctx.span("streaming.incrementalCurationToParquetSigned") {
      // traced: the seed signing is materialized under its own span (the
      // stream function checkpoints it on entry either way)
      val seed = ctx.boundary("operators.signDocs", Dedup.signDocs(
        ctx.spark.read.parquet(s"${ctx.dir}/seed"), col("text"), col("doc_id"),
        numHashes = bands * rows, bands = bands))
      DocumentStreams.incrementalCurationToParquetSigned(ctx.spark, s"${ctx.dir}/crawl", seed,
        s"$base/out", s"$base/index", batchFiles = crawl.batches,
        conf = EventStreams.StreamRunConf(shufflePartitions = ctx.cores,
          checkpointDir = Some(s"$base/checkpoint")),
        docsPath = "crawl.parquet", streamSplit = lit(true),
        // compact the index on every trigger (the default, every second
        // one, makes trigger latencies bimodal): every op is the same work
        compactEvery = 1)
    }
    val got = ctx.span("sources.readSurvivors")(Workload.ids(survivors, "doc_id"))
    callWallS(c) = (System.nanoTime() - t0) / 1e9
    // progress events arrive asynchronously; the terminated event is last
    val until = System.currentTimeMillis() + 10000
    while (ctx.probe.terminatedCount <= terminated && System.currentTimeMillis() < until)
      Thread.sleep(10)
    val triggers = ctx.probe.triggerLog.drop(before).filter(_.inputRows > 0)
    triggers.foreach(t => triggerRows += ((c, t)))
    (triggers, got)
  }

  override def beginPhase(): Unit = { triggerRows.clear(); callWallS.clear() }

  def op(ctx: Ctx, i: Int): OpResult = {
    val (triggers, got) = call(ctx)
    OpResult(s"call $i", triggers.map(_.inputRows).sum,
      triggers.map(_.durationsMs.getOrElse("triggerExecution", 0L) / 1e3),
      () => Checks.stream(crawl, got, bands, rows, triggers.size))
  }

  def kernelText(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${ctx.dir}/crawl/crawl.parquet")

  override def layerReport(ctx: Ctx, results: Seq[OpResult]): Seq[(String, Double)] = {
    val ts = triggerRows.toSeq
    def p50(k: String) = Stats.median(ts.map(_._2.durationsMs.getOrElse(k, 0L).toDouble))
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")
      .map(k => s"streaming.trigger.${k}_ms" -> p50(k))
    val fixed = Stats.median(ts.map { case (_, t) =>
      (t.durationsMs.getOrElse("triggerExecution", 0L) - t.durationsMs.getOrElse("addBatch", 0L)).toDouble })
    // slope of addBatch against the trigger's position in its call
    val byCall = ts.groupBy(_._1).values.toSeq
    val xs = byCall.flatMap(_.zipWithIndex.map(_._2.toDouble))
    val ys = byCall.flatMap(_.map(_._2.durationsMs.getOrElse("addBatch", 0L).toDouble))
    // per call: wall time outside its triggers (seed signing and store
    // set-up, batch rendering, query start and stop, reading the result)
    val outside = callWallS.toSeq.map { case (c, wall) =>
      wall - ts.filter(_._1 == c).map(_._2.durationsMs.getOrElse("triggerExecution", 0L)).sum / 1e3 }
    val seedS = ctx.tracer.all.filter(_.name == "operators.signDocs").map(_.durationNs / 1e9)
    phases ++ Seq("streaming.fixed_ms" -> fixed,
      "streaming.addBatch_slope_ms_per_batch" -> Stats.slope(xs, ys),
      "streaming.seed_s" -> Stats.median(seedS),
      "streaming.outside_triggers_s" -> Stats.median(outside))
  }
}
