package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import graft.migration.{Fixtures, Pipelines, Schemas, SyncOptions, Validation}

/** Local-mode executor-side recorder: a top-level object so the publish
  * closure serializes without dragging the spec (and its SparkSession). */
object PipelinePostRecorder {
  val posted: java.util.List[Row] = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Row]())
  def post(rows: Seq[Row]): Unit = rows.foreach(posted.add)
}

/** End-to-end lifecycles (SURVEY §3): the three composed entry points over
  * the migration fixtures, exercising the CLI options option-for-option.
  */
class PipelinesSpec extends SparkSpec {

  private def posted = PipelinePostRecorder.posted
  private def post: Seq[Row] => Unit = PipelinePostRecorder.post

  /** The lines of the one CSV file a sync call wrote into `dir`. */
  private def csvLines(dir: String): Seq[String] = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length === 1, s"expected one CSV file in $dir")
    java.nio.file.Files.readAllLines(parts.head.toPath,
      java.nio.charset.StandardCharsets.UTF_8).asScala.toSeq
  }

  test("sync-customers publishes ok rows, quarantines errors, writes the CSV") {
    posted.clear()
    val tmp = java.nio.file.Files.createTempDirectory("graft-synccust").toString
    val report = Pipelines.syncCustomers(
      Fixtures.customersDf(spark),
      errorCsv = Some((tmp, "20160201000000")))(post)
    assert(report.errors === 1L) // the no-email fixture row
    assert(report.published === Fixtures.customers.size - 1L)
    assert(posted.size().toLong === report.published)
    assert(report.batches >= 1L)
    assert(csvLines(s"$tmp/sync-errors-20160201000000") === Seq(
      "error_type,n,details",
      "missing_email,1,customer 'No Email' has no email"))
  }

  test("sync-customers past the error sample cap: exact n, one overflow " +
    "flag among the sampled details") {
    import spark.implicits._
    import graft.sources.BoundedErrorAccumulator
    posted.clear()
    val cap = BoundedErrorAccumulator.DefaultCap
    val noEmail = (1 to cap + 7).map(i => Schemas.GrooveCustomer(
      "", s"Nomail $i", None, None, None, None, None, None, None, None))
    val total = noEmail.size + 1L // plus the fixture's no-email row
    val tmp = java.nio.file.Files.createTempDirectory("graft-synccap").toString
    val report = Pipelines.syncCustomers(
      (Fixtures.customers ++ noEmail).toDF(),
      errorCsv = Some((tmp, "cap")))(post)
    assert(report.errors === total)
    assert(report.published === Fixtures.customers.size - 1L)
    val lines = csvLines(s"$tmp/sync-errors-cap")
    assert(lines.size === 2 && lines.head === "error_type,n,details")
    val Array(errorType, n, details) = lines(1).split(",", 3)
    assert(errorType === "missing_email")
    assert(n.toLong === total, "n must be the exact count past the cap")
    val entries = details.split("; ").toSeq
    assert(entries.size === cap + 1, "the cap's samples plus one flag")
    val flags = entries.filter(_.startsWith("[sample cap"))
    assert(flags === Seq(s"[sample cap $cap reached] ${total - cap} more " +
      s"detail lines dropped (exact 'missing_email' count: $total)"))
    assert(entries.filterNot(_.startsWith("[sample cap")).forall(d =>
      d.startsWith("customer '") && d.endsWith("' has no email")))
  }

  test("sync calls stay within their Spark-job budget: one publish pass, " +
    "no error re-count, a shuffle-free CSV write") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-syncbudget").toString
    val customers = jobsIn(Pipelines.syncCustomers(Fixtures.customersDf(spark),
      errorCsv = Some((tmp, "customers")))(post))
    val tickets = jobsIn(Pipelines.syncTickets(
      Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
      Fixtures.attachmentsDf(spark),
      Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
      Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
      Fixtures.defaultMailboxEmail, SyncOptions(bypassValidation = true),
      errorCsv = Some((tmp, "tickets")))(post))
    val gate = jobsIn(Validation.gate(
      Fixtures.grooveMailboxesDf(spark), Fixtures.hsMailboxesDf(spark),
      Fixtures.grooveAgentsDf(spark), Fixtures.hsUsersDf(spark)))
    // both calls had errors, so both wrote their CSV
    assert(new java.io.File(s"$tmp/sync-errors-customers").isDirectory)
    assert(new java.io.File(s"$tmp/sync-errors-tickets").isDirectory)
    info(s"Spark jobs per call: syncCustomers $customers, syncTickets $tickets, " +
      s"Validation.gate $gate")
    // the counts the one-pass publish reaches on the fixtures: a separate
    // error count or a grouped-report shuffle would add jobs, and so would
    // a broadcast of the default mailbox or of the gate's dims
    assert(customers <= 2, s"syncCustomers ran $customers jobs")
    assert(tickets <= 12, s"syncTickets ran $tickets jobs")
    assert(gate <= 1, s"Validation.gate ran $gate jobs")
  }

  test("sync-tickets: validation gate aborts with the unmatched report (ST exit)") {
    posted.clear()
    val out = Pipelines.syncTickets(
      Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
      Fixtures.attachmentsDf(spark),
      Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
      Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
      Fixtures.defaultMailboxEmail)(post)
    assert(out.isLeft, "fixture dims contain planted mismatches -> must abort")
    assert(out.left.toOption.get.count() === 2L) // q63's two unmatched rows
    assert(posted.isEmpty, "nothing may publish after a failed gate")
  }

  test("sync-tickets: bypassValidation + checkDuplicates end-to-end") {
    posted.clear()
    def run(opts: SyncOptions): Long = {
      posted.clear()
      Pipelines.syncTickets(
        Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
        Fixtures.attachmentsDf(spark),
        Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
        Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
        Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
        Fixtures.defaultMailboxEmail, opts)(post)
        .toOption.get.published
    }
    val all = run(SyncOptions(bypassValidation = true))
    val deduped = run(SyncOptions(bypassValidation = true, checkDuplicates = true))
    assert(all > deduped, s"dedup must drop the planted duplicate ($all vs $deduped)")
    val one = run(SyncOptions(bypassValidation = true, tickets = Seq(1001L)))
    assert(one === 1L)
    assert(posted.size() === 1)
  }

  test("sync-tickets with a default mailbox that matches nothing drops no " +
    "ticket: the unmatched ones are reported as unknown_mailbox") {
    posted.clear()
    val tmp = java.nio.file.Files.createTempDirectory("graft-nodefault").toString
    val report = Pipelines.syncTickets(
      Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
      Fixtures.attachmentsDf(spark),
      Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
      Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
      "nobody@nowhere.example", SyncOptions(bypassValidation = true),
      errorCsv = Some((tmp, "nodefault")))(post).toOption.get
    assert(report.published + report.errors === Fixtures.tickets.size.toLong)
    val unmatched = Fixtures.tickets.filterNot(t =>
      Fixtures.hsMailboxes.exists(_.name.equalsIgnoreCase(t.mailbox)))
    assert(unmatched.nonEmpty, "the fixtures plant a ticket in an unmatched mailbox")
    assert(csvLines(s"$tmp/sync-errors-nodefault")
      .filter(_.startsWith("unknown_mailbox,")) === Seq(
        s"unknown_mailbox,${unmatched.size}," + unmatched
          .map(t => s"no HelpScout mailbox for '${t.mailbox}'").sorted.mkString("; ")))
  }

  test("view-ticket dumps the assembled conversation for one ticket") {
    val dump = Pipelines.viewTicket(
      Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
      Fixtures.attachmentsDf(spark), Fixtures.hsMailboxesDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark),
      Fixtures.defaultMailboxEmail, 1001L)
    assert(dump.contains("Printer on fire"))
    assert(dump.contains("\"groove_ticket_number\":1001"))
  }

  test("full lifecycle over the wire: paged acquire, live attachment fetch, HTTP publish") {
    // The complete reference run end-to-end over HTTP: tickets acquired
    // through the graft-pages DSv2 source, attachment payloads fetched live
    // (S6, one URL 404s onto the failed-note path), conversations published
    // per-record through the default HTTP publisher (K2). Ground truth is
    // the same pipeline run from in-memory fixtures: the wire run must
    // publish the identical record set.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.HttpPublisher

    val ticketLines = Fixtures.ticketsDf(spark).toJSON.collect().toSeq
    val attachmentBytes: Map[String, Array[Byte]] = Fixtures.attachments
      .flatMap(a => a.payload.map(p => a.filename -> p)).toMap
    val published = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val served = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, code: Int, b: Array[Byte]): Unit = {
      if (b.isEmpty) ex.sendResponseHeaders(code, -1)
      else { ex.sendResponseHeaders(code, b.length); ex.getResponseBody.write(b) }
      ex.close()
    }
    server.createContext("/groove", new HttpHandler { // paged ticket scan
      override def handle(ex: HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath
        served.add(p)
        if (p.endsWith("meta.json")) respond(ex, 200,
          s"""{"pagination":{"total_count":${ticketLines.size},"total_pages":2}}"""
            .getBytes("UTF-8"))
        else if (p.endsWith("page-1.json")) respond(ex, 200,
          ticketLines.take(3).mkString("\n").getBytes("UTF-8"))
        else if (p.endsWith("page-2.json")) respond(ex, 200,
          ticketLines.drop(3).mkString("\n").getBytes("UTF-8"))
        else respond(ex, 404, Array.empty)
      }
    })
    server.createContext("/files", new HttpHandler { // live attachment payloads
      override def handle(ex: HttpExchange): Unit = {
        val name = ex.getRequestURI.getPath.split('/').last
        served.add(ex.getRequestURI.getPath)
        attachmentBytes.get(name) match {
          case Some(b) => respond(ex, 200, b)
          case None => respond(ex, 404, Array.empty) // broken.bin -> failed note
        }
      }
    })
    // every conversation POST's body with its Idempotency-Key header
    val keyed = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Option[String])]())
    server.createContext("/hs", new HttpHandler { // publish endpoint
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        published.add(body)
        keyed.add((body,
          Option(ex.getRequestHeaders.getFirst("Idempotency-Key"))))
        respond(ex, 201, Array.empty)
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // ground truth: fixture-driven run through the local recorder
      posted.clear()
      Pipelines.syncTickets(
        Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
        Fixtures.attachmentsDf(spark),
        Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
        Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
        Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
        Fixtures.defaultMailboxEmail, SyncOptions(bypassValidation = true))(post)
        .toOption.get
      val expected = posted.asScala.map(_.json).toSet

      // wire run: tickets over graft-pages, attachments without payloads
      // (forces the live fetch stage), publish through HttpPublisher
      val wireTickets = spark.read.format("graft-pages")
        .schema(Fixtures.ticketsDf(spark).schema).load(s"$base/groove")
      import spark.implicits._
      val liveAttachments = Fixtures.attachments
        .map(a => (a.message_id, a.filename, a.size, s"$base/files/${a.filename}"))
        .toDF("message_id", "filename", "size", "url")
      val acc = spark.sparkContext.collectionAccumulator[(String, String)]("e2e-errs")
      val (report, pinnedBySync) = rddsPinnedBy(Pipelines.syncTickets(
        wireTickets, Fixtures.messagesDf(spark), liveAttachments,
        Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
        Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
        Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
        Fixtures.defaultMailboxEmail, SyncOptions(bypassValidation = true))(
        new HttpPublisher(s"$base/hs/conversations", acc.add _,
          idCol = Some("groove_ticket_number"))).toOption.get)(_ => Set.empty)

      assert(report.published.toInt === expected.size)
      // each POST carries its record's replay key: the ticket number
      val TicketNumber = "\"groove_ticket_number\":(\\d+)".r.unanchored
      assert(keyed.size === expected.size)
      keyed.asScala.foreach { case (body, key) =>
        val number = body match { case TicketNumber(n) => Some(n); case _ => None }
        assert(number.nonEmpty && key === number,
          s"Idempotency-Key $key on the POST of ticket $number")
      }
      // the fetched-payload checkpoint is released once the publish ends
      assert(pinnedBySync.isEmpty, s"syncTickets left RDDs persisted: $pinnedBySync")
      assert(acc.value.isEmpty, s"publish errors: ${acc.value}")
      // the failed note must carry the live fetch failure's reason (the
      // reference reports the caught exception next to the note, TP:314)
      val failedNote = published.asScala.find(_.contains("could not be migrated"))
      assert(failedNote.exists(_.contains("(fetch failed: ")), s"note: $failedNote")
      assert(failedNote.exists(_.contains("404")), s"note: $failedNote")
      // the TWO legitimate differences vs the fixture run: the failed note
      // embeds the URL it actually fetched (live server here, fixture host
      // there), and only the live run knows WHY the fetch failed
      val normalized = published.asScala.toSet[String]
        .map(_.replace(s"$base/files/", "https://files.example.com/"))
        .map(_.replaceAll(" \\(fetch failed: [^)]*\\)", ""))
      assert(normalized === expected,
        "wire run must publish the identical record set")
      // the payloads really crossed the wire; the broken one really 404'd
      assert(served.asScala.exists(_.endsWith("burning.png")))
      assert(served.asScala.exists(_.endsWith("broken.bin")))
      assert(served.asScala.exists(_.endsWith("page-2.json")))
      // and each exactly ONCE: the fetch stage is checkpointed, so the
      // ok/failed split and the publish/error-count actions must not
      // re-execute the side-effecting GET per consumer
      val fetchCounts = served.asScala.filter(_.startsWith("/files/"))
        .groupBy(identity).map { case (p, hits) => p -> hits.size }
      assert(fetchCounts.nonEmpty && fetchCounts.values.forall(_ === 1),
        s"attachment URLs re-fetched: $fetchCounts")

      // a --tickets point migration fetches ONLY that ticket's payloads:
      // the live fetch is semi-joined to the selected messages first
      served.clear()
      Pipelines.syncTickets(
        wireTickets, Fixtures.messagesDf(spark), liveAttachments,
        Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
        Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
        Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
        Fixtures.defaultMailboxEmail,
        SyncOptions(bypassValidation = true, tickets = Seq(1001L)))(
        new HttpPublisher(s"$base/hs/conversations", acc.add _,
          idCol = Some("groove_ticket_number"))).toOption.get
      val fetched = served.asScala.filter(_.startsWith("/files/")).toSeq
      assert(fetched.nonEmpty && fetched.forall(p =>
        p.endsWith("burning.png") || p.endsWith("manual.pdf")),
        s"point migration fetched unrelated payloads: $fetched")

      // view-ticket over live attachments releases its checkpoint too
      val (dump, pinnedByView) = rddsPinnedBy(Pipelines.viewTicket(
        wireTickets, Fixtures.messagesDf(spark), liveAttachments,
        Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
        Fixtures.hsCustomersDf(spark), Fixtures.defaultMailboxEmail, 1001L))(
        _ => Set.empty)
      assert(dump.contains("\"groove_ticket_number\":1001"))
      assert(pinnedByView.isEmpty, "viewTicket left RDDs persisted")
    } finally server.stop(0)
  }
}
