package graft

import org.apache.spark.sql.functions._
import graft.migration._
import graft.migration.MigrationFunctions._

class MigrationSpec extends SparkSpec {

  test("customer transform conserves rows across ok/error channels (F6)") {
    val out = CustomerTransform.toHelpScout(Fixtures.customersDf(spark))
    assert(ErrorChannel.conserves(out))
    assert(ErrorChannel.errors(out).count() === 1) // the no-email row
  }

  test("observe() metrics count rows/errors in the consuming action's single pass") {
    val out = CustomerTransform.toHelpScout(Fixtures.customersDf(spark))
    val (collected, (nRows, nErrors, nOk)) =
      ErrorChannel.runWithMetrics(out)(_.collect())
    assert(nRows === collected.length.toLong)
    assert(nErrors === 1L)
    assert(nOk === nRows - nErrors)
  }

  test("email split: all-or-nothing fallback (X4, CP:108-117)") {
    val out = CustomerTransform.toHelpScout(Fixtures.customersDf(spark))
    val bob = out.filter(col("groove_email").startsWith("bob@")).head()
    assert(bob.getAs[String]("primary_email") === "bob@x.com")
    val dave = out.filter(col("groove_email").startsWith("dave@")).head()
    assert(dave.getAs[String]("primary_email") === "dave@x.com; not-an-email")
  }

  test("name split: no-space name has null last (X1, AH:166-176)") {
    val out = CustomerTransform.toHelpScout(Fixtures.customersDf(spark))
    val cher = out.filter(col("groove_email") === "cher@music.com").head()
    assert(cher.getAs[String]("first_name") === "Cher")
    assert(cher.getAs[String]("last_name") === null)
    val max = out.filter(col("groove_email") === "max@long.com").head()
    assert(max.getAs[String]("first_name").length <= 40)
    assert(max.getAs[Boolean]("last_name_truncated"))
    assert(max.getAs[Boolean]("organization_truncated"))
    assert(max.getAs[String]("organization").length === 60)
  }

  test("attachment upload stage: mime sniff, hash, oversize, failures (K3/X13/X14)") {
    val (ok, failed) = TicketTransform.uploadAttachments(Fixtures.attachmentsDf(spark))
    val byName = ok.collect().map(r => r.getAs[String]("filename") -> r).toMap
    assert(byName("burning.png").getAs[String]("mime_type") === "image/png")
    assert(byName("manual.pdf").getAs[String]("mime_type") === "application/pdf")
    assert(byName("huge.zip").getAs[String]("mime_type") === "application/zip")
    assert(byName("huge.zip").getAs[Boolean]("oversize"))
    assert(byName.values.forall(_.getAs[String]("hash").length === 32))
    assert(failed.collect().map(_.getAs[String]("filename")).toSeq === Seq("broken.bin"))
  }

  test("thread assembly: sorted, failed-attachment notes appended (N1/N2)") {
    val threads = TicketTransform.threadsByTicket(
      Fixtures.messagesDf(spark), Fixtures.attachmentsDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark))
    val t1001 = threads.filter(col("ticket_number") === 1001L).head()
    val rows1001 = t1001.getSeq[org.apache.spark.sql.Row](1)
    assert(rows1001.map(_.getAs[String]("thread_type")) === Seq("customer", "message", "note"))
    assert(rows1001.head.getSeq[org.apache.spark.sql.Row](6).size === 2) // m1 attachments
    val t1002 = threads.filter(col("ticket_number") === 1002L).head()
    val rows1002 = t1002.getSeq[org.apache.spark.sql.Row](1)
    assert(rows1002.map(_.getAs[String]("thread_type")) === Seq("customer", "note"))
    assert(rows1002(1).getAs[String]("body").contains("<a href="))
    assert(t1002.getAs[Long]("n_thread_errors") === 1L) // ghost agent
  }

  test("thread aggregate: per-ticket thread count, error count and " +
    "error details, null details for a ticket without thread errors") {
    val threads = TicketTransform.threadsByTicket(
      Fixtures.messagesDf(spark), Fixtures.attachmentsDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark))
    val got = threads.select(col("ticket_number"), size(col("threads")),
        col("n_thread_errors"), col("thread_error_details"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (1001L, 3, 0L, null),
      (1002L, 2, 1L, "no HelpScout user for agent ghost@corp.com"),
      (1003L, 1, 0L, null)))
  }

  test("customerEmails override forces note author to customer thread (J4/P5)") {
    val threads = TicketTransform.threadsByTicket(
      Fixtures.messagesDf(spark), Fixtures.attachmentsDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark),
      customerEmailOverrides = Seq("AGENT@corp.com"))
    val t1001 = threads.filter(col("ticket_number") === 1001L).head()
    val types = t1001.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[String]("thread_type"))
    assert(types === Seq("customer", "message", "customer")) // note -> customer
  }

  test("dedup anti-join skips same-day ci-subject duplicates (J6)") {
    val threads = TicketTransform.threadsByTicket(
      Fixtures.messagesDf(spark), Fixtures.attachmentsDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark))
    val withDedup = TicketTransform.conversations(
      Fixtures.ticketsDf(spark), threads, Fixtures.hsMailboxesDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.defaultMailboxEmail,
      Some(Fixtures.existingConversationsDf(spark)))
    assert(!withDedup.collect().map(_.getLong(0)).contains(1007L))
    val noDedup = TicketTransform.conversations(
      Fixtures.ticketsDf(spark), threads, Fixtures.hsMailboxesDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.defaultMailboxEmail, None)
    assert(noDedup.collect().map(_.getLong(0)).contains(1007L))
  }

  test("dedup anti-join survives without a broadcast hint on the existing side") {
    // the existing-conversations side is a sink-state extract of unbounded
    // size — the probe must not force a broadcast, and must still work when
    // auto-broadcast is off entirely (the 100 TB posture)
    val threads = TicketTransform.threadsByTicket(
      Fixtures.messagesDf(spark), Fixtures.attachmentsDf(spark),
      Fixtures.hsUsersDf(spark), Fixtures.hsCustomersDf(spark))
    val withDedup = TicketTransform.conversations(
      Fixtures.ticketsDf(spark), threads, Fixtures.hsMailboxesDf(spark),
      Fixtures.hsCustomersDf(spark), Fixtures.defaultMailboxEmail,
      Some(Fixtures.existingConversationsDf(spark)))
    // no hint in the anti-join: the only ResolvedHints in the plan are the
    // intentional dimension broadcasts (mailboxes/customers/default)
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    val antiJoins = withDedup.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(antiJoins.nonEmpty)
    val hintedAnti = withDedup.queryExecution.analyzed.collect {
      case j: Join if j.joinType == LeftAnti &&
        j.right.collect { case h: ResolvedHint => h }.nonEmpty => j
    }
    assert(hintedAnti.isEmpty, "dedup probe must not hint-broadcast existing")
    // with auto-broadcast off the anti-join still returns the same rows
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ids = withDedup.collect().map(_.getLong(0)).toSet
      assert(!ids.contains(1007L) && ids.contains(1001L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  test("validation gate reports exactly the two planted misses (J7/J8)") {
    Validation.gate(
      Fixtures.grooveMailboxesDf(spark), Fixtures.hsMailboxesDf(spark),
      Fixtures.grooveAgentsDf(spark), Fixtures.hsUsersDf(spark)) match {
      case Right(_) => fail("gate should report misses")
      case Left(bad) =>
        val rows = bad.collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(rows === Set(
          ("unmatched_mailbox", "Nonexistent Box"),
          ("unmatched_agent", "ghost@corp.com")))
    }
  }

  test("grouped error report (A3/A4) + csv sink (K4)") {
    val out = CustomerTransform.toHelpScout(Fixtures.customersDf(spark))
    val rep = ErrorChannel.groupedReport(out).collect()
    assert(rep.length === 1 && rep.head.getString(0) === "missing_email")
    val tmp = java.nio.file.Files.createTempDirectory("graft-err").toString
    ErrorChannel.writeCsvReport(out, tmp, "20160201000000")
    val files = new java.io.File(s"$tmp/sync-errors-20160201000000").listFiles()
    assert(files.exists(_.getName.endsWith(".csv")))
    // the driver-side form equals the grouped frame below the sample cap,
    // in Spark's UTF-8 byte order (a supplementary character sorts after
    // U+FF01 there, before it in Java String order) and skipping null
    // details as collect_list does
    import spark.implicits._
    val pairs = Seq(("\uFF01 type", "\uD83D\uDE00 late"), ("\uFF01 type", "\uFF01 early"),
      ("\uFF01 type", null), ("\uD83D\uDE00 type", "x"), ("a", "b; c"), ("a", null))
    val acc = new graft.sources.BoundedErrorAccumulator(pairs.size)
    pairs.foreach(acc.add)
    val frame = pairs.toDF(ErrorChannel.ErrorType, ErrorChannel.ErrorDetail)
    assert(ErrorChannel.groupedRows(acc.value) ===
      ErrorChannel.groupedReport(frame).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq)
  }
}
