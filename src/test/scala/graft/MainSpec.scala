package graft

import java.io.File
import scala.jdk.CollectionConverters._

import graft.migration.{Fixtures, Pipelines, SyncOptions}

/** Drives the spark-submit CLI surface (graft.Main) end-to-end from a
  * parquet data directory — the argv→SyncOptions→Pipelines wiring the
  * reference exposes as `artisan sync-customers / sync-tickets /
  * view-ticket` (Kernel.php:15-19). */
class MainSpec extends SparkSpec {

  /** One fixture dump shared by the suite (the CLI's documented
    * dump-first layout: one parquet dir per table name). */
  private lazy val dataDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-cli-data").toString
    Seq(
      "customers" -> Fixtures.customersDf(spark),
      "tickets" -> Fixtures.ticketsDf(spark),
      "messages" -> Fixtures.messagesDf(spark),
      "attachments" -> Fixtures.attachmentsDf(spark),
      "groove_mailboxes" -> Fixtures.grooveMailboxesDf(spark),
      "groove_agents" -> Fixtures.grooveAgentsDf(spark),
      "hs_mailboxes" -> Fixtures.hsMailboxesDf(spark),
      "hs_users" -> Fixtures.hsUsersDf(spark),
      "hs_customers" -> Fixtures.hsCustomersDf(spark),
      "existing_conversations" -> Fixtures.existingConversationsDf(spark)
    ).foreach { case (name, df) => df.write.parquet(s"$d/$name") }
    d
  }

  private def outLines(dir: String): Seq[String] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".jsonl")).toSeq
    files.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
  }

  private def freshOut(): String =
    java.nio.file.Files.createTempDirectory("graft-cli-out").toString

  test("usage errors exit 2 with a message") {
    assert(Main.run(Array.empty[String], spark) === 2)
    assert(Main.run(Array("frobnicate", s"--data=$dataDir"), spark) === 2)
    assert(Main.run(Array("sync-customers"), spark) === 2) // no --data
    assert(Main.run(
      Array("sync-customers", s"--data=$dataDir", "--wat=1"), spark) === 2)
    assert(Main.run(
      Array("sync-tickets", s"--data=$dataDir", "--tickets=1,x"), spark) === 2)
    assert(Main.run(Array("view-ticket", s"--data=$dataDir"), spark) === 2)
  }

  test("sync-customers: full argv run publishes the fixture set minus " +
    "the quarantined row") {
    val out = freshOut()
    val rc = Main.run(Array(
      "sync-customers", s"--data=$dataDir", s"--out=$out"), spark)
    assert(rc === 0)
    // same ground truth as PipelinesSpec: one no-email row quarantined
    assert(outLines(out).size === Fixtures.customers.size - 1)
  }

  test("sync-tickets: validation gate failure exits 1 and publishes " +
    "nothing; --bypassValidation exits 0 with the pipeline's output") {
    val out = freshOut()
    val rcGate = Main.run(Array(
      "sync-tickets", s"--data=$dataDir", s"--out=$out"), spark)
    assert(rcGate === 1, "fixture dims plant gate mismatches -> abort")
    assert(outLines(out).isEmpty, "nothing may publish after a failed gate")

    // ground truth from the library pipeline with identical options
    val expected = Pipelines.syncTickets(
      Fixtures.ticketsDf(spark), Fixtures.messagesDf(spark),
      Fixtures.attachmentsDf(spark),
      Fixtures.grooveMailboxesDf(spark), Fixtures.grooveAgentsDf(spark),
      Fixtures.hsMailboxesDf(spark), Fixtures.hsUsersDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.existingConversationsDf(spark),
      Fixtures.defaultMailboxEmail,
      SyncOptions(bypassValidation = true, checkDuplicates = true))(_ => ())
      .toOption.get.published
    val rc = Main.run(Array(
      "sync-tickets", s"--data=$dataDir", s"--out=$out",
      "--bypassValidation", "--checkDuplicates",
      s"--defaultMailbox=${Fixtures.defaultMailboxEmail}"), spark)
    assert(rc === 0)
    assert(outLines(out).size.toLong === expected)
  }

  test("sync-tickets: --tickets point migration publishes exactly one") {
    val out = freshOut()
    val rc = Main.run(Array(
      "sync-tickets", s"--data=$dataDir", s"--out=$out",
      "--bypassValidation", "--tickets=1001",
      s"--defaultMailbox=${Fixtures.defaultMailboxEmail}"), spark)
    assert(rc === 0)
    val lines = outLines(out)
    assert(lines.size === 1)
    assert(lines.head.contains("\"groove_ticket_number\":1001"))
  }

  test("view-ticket: dumps the assembled conversation to stdout") {
    val buf = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(buf)) {
      Main.run(Array(
        "view-ticket", s"--data=$dataDir", "--ticket=1001",
        s"--defaultMailbox=${Fixtures.defaultMailboxEmail}"), spark)
    }
    assert(rc === 0)
    val dump = buf.toString("UTF-8")
    assert(dump.contains("Printer on fire"))
    assert(dump.contains("\"groove_ticket_number\":1001"))
  }

  /** A data dir cloned from the fixture layout with one table replaced —
    * the synthetic-dim device for the gate-report and empty-dim cases. */
  private def dataDirWith(
      name: String, df: org.apache.spark.sql.DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-cli-alt").toString
    val tables = Seq(
      "customers" -> Fixtures.customersDf(spark),
      "tickets" -> Fixtures.ticketsDf(spark),
      "messages" -> Fixtures.messagesDf(spark),
      "attachments" -> Fixtures.attachmentsDf(spark),
      "groove_mailboxes" -> Fixtures.grooveMailboxesDf(spark),
      "groove_agents" -> Fixtures.grooveAgentsDf(spark),
      "hs_mailboxes" -> Fixtures.hsMailboxesDf(spark),
      "hs_users" -> Fixtures.hsUsersDf(spark),
      "hs_customers" -> Fixtures.hsCustomersDf(spark),
      "existing_conversations" -> Fixtures.existingConversationsDf(spark))
    tables.foreach { case (t, fdf) =>
      (if (t == name) df else fdf).write.parquet(s"$d/$t")
    }
    d
  }

  private def capturedErr(body: => Int): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val rc = try body finally System.setErr(prev)
    (rc, buf.toString("UTF-8"))
  }

  test("validation-gate report is capped at MaxErrorReportRows with an " +
    "'and more' line — an oversized dim cannot OOM the driver") {
    import spark.implicits._
    val n = Main.MaxErrorReportRows + 200
    val bigDim = (1 to n).map(i => f"Ghost Box $i%05d").toDF("name")
    val d = dataDirWith("groove_mailboxes", bigDim)
    val (rc, err) = capturedErr(
      Main.run(Array("sync-tickets", s"--data=$d", s"--out=${freshOut()}",
        s"--defaultMailbox=${Fixtures.defaultMailboxEmail}"), spark))
    assert(rc === 1, "gate failure still exits 1")
    val reported = err.linesIterator.count(l =>
      l.contains("unmatched_mailbox") || l.contains("unmatched_agent"))
    assert(reported === Main.MaxErrorReportRows,
      s"report must cap at ${Main.MaxErrorReportRows}, printed $reported")
    assert(err.contains("... and more"),
      "the cap must be announced, not silent truncation")
  }

  test("empty hs_mailboxes without --defaultMailbox is a named usage " +
    "error (exit 2), not a bare NoSuchElementException") {
    val empty = Fixtures.hsMailboxesDf(spark).limit(0)
    val d = dataDirWith("hs_mailboxes", empty)
    for (cmd <- Seq(
        Array("sync-tickets", s"--data=$d", s"--out=${freshOut()}"),
        Array("view-ticket", s"--data=$d", "--ticket=1001"))) {
      val (rc, err) = capturedErr(Main.run(cmd, spark))
      assert(rc === 2, s"${cmd.head} must exit 2 on an empty mailbox dim")
      assert(err.contains("--defaultMailbox"),
        "the error must name the flag that fixes it")
    }
    // the explicit flag still works against the empty dim: no mailbox
    // resolves, so every ticket is reported, none dropped
    val buf = new java.io.ByteArrayOutputStream()
    val rcOk = Console.withOut(new java.io.PrintStream(buf)) {
      Main.run(Array("sync-tickets", s"--data=$d",
        s"--out=${freshOut()}", "--bypassValidation",
        s"--defaultMailbox=${Fixtures.defaultMailboxEmail}"), spark)
    }
    assert(rcOk === 0)
    assert(buf.toString("UTF-8").contains(
      s"published=0 errors=${Fixtures.tickets.size} "))
  }

  test("sync-customers --apiUrl: the API's rejections count into the " +
    "printed errors and get their own grouped --errorCsv report") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val posts = new java.util.concurrent.atomic.AtomicInteger()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/customers", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        posts.incrementAndGet()
        if (body.contains("cher@music.com")) {
          val err = ("""{"message":"Validation failed","errors":[{"property":""" +
            """"emails","message":"email already exists","value":"x"}]}""")
            .getBytes("UTF-8")
          ex.sendResponseHeaders(400, err.length)
          ex.getResponseBody.write(err)
        } else ex.sendResponseHeaders(201, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val csvDir = freshOut()
      val buf = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(new java.io.PrintStream(buf)) {
        Main.run(Array("sync-customers", s"--data=$dataDir",
          s"--apiUrl=http://127.0.0.1:${server.getAddress.getPort}/customers",
          s"--errorCsv=$csvDir"), spark)
      }
      assert(rc === 0)
      val published = Fixtures.customers.size - 1 // the no-email row is withheld
      assert(posts.get === published)
      // 1 quarantined by the pipeline + 1 rejected by the API
      assert(buf.toString("UTF-8").contains(
        s"published=$published errors=2 "), buf.toString("UTF-8"))
      val reports = new File(csvDir).listFiles().map(_.getName).sorted.toSeq
      assert(reports.size === 2 && reports(1) === s"${reports(0)}-publish",
        s"one pipeline report and one publish report: $reports")
      val csv = new File(csvDir, reports(1)).listFiles()
        .filter(_.getName.endsWith(".csv")).toSeq
      assert(csv.size === 1)
      assert(java.nio.file.Files.readAllLines(csv.head.toPath).asScala.toSeq === Seq(
        "error_type,n,details",
        "email already exists,1,Error: [emails] email already exists " +
          "(primary_email=cher@music.com)"))
    } finally server.stop(0)
  }

  test("flag parsing maps 1:1 onto SyncOptions") {
    val cli = Main.parse(Seq("sync-tickets", "--data=/d",
      "--startPage=2", "--stopPage=5", "--tickets=1001,1002",
      "--customerEmails=a@b.com,c@d.com", "--checkDuplicates",
      "--bypassValidation", "--ratePerMinute=33", "--batchSize=7",
      "--parallelism=2", "--errorCsv=/e")).toOption.get
    assert(cli.opts === SyncOptions(
      startPage = Some(2), stopPage = Some(5),
      tickets = Seq(1001L, 1002L),
      customerEmails = Seq("a@b.com", "c@d.com"),
      checkDuplicates = true, bypassValidation = true))
    assert(cli.ratePerMinute === 33 && cli.batchSize === 7 &&
      cli.parallelism === 2 && cli.errorCsv === Some("/e"))
  }
}
