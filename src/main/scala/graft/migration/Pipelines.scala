package graft.migration

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.{BoundedErrorAccumulator, RateLimitedSink}

/** The reference's CLI surface (SyncCustomers.php:17, SyncTickets.php:18-19,
  * ViewTicket.php:18-19), carried option-for-option. */
case class SyncOptions(
    startPage: Option[Int] = None,        // --startPage (SC:51/ST:162)
    stopPage: Option[Int] = None,         // --stopPage (ST:162-189)
    tickets: Seq[Long] = Nil,             // --tickets=1,2 point lookups (ST:124-146)
    customerEmails: Seq[String] = Nil,    // --customerEmails override (J4, TP:76-83)
    checkDuplicates: Boolean = false,     // --checkDuplicates (F1/J6, TP:347)
    bypassValidation: Boolean = false)    // --bypassValidation (ST:70)

/** Driver-side outcome counts (A2 running totals, SC:85/ST:204). */
case class SyncReport(published: Long, errors: Long, batches: Long)

/** The reference's three entry points (Kernel.php:15-19) composed
  * end-to-end from the stage operators — SURVEY §3's lifecycles as
  * dataflow. The nested acquire→process→publish-per-page interleaving of
  * the reference (§3.2) is deliberately UN-nested: one declarative plan
  * per stage, pages becoming partitions, with the rate-limited publish as
  * the terminal foreachPartition. A sync call executes its plan once: that
  * one pass posts the ok rows and records the error rows, and the error
  * total and grouped CSV are read from what it recorded. Inputs are
  * DataFrames so the same pipelines run from fixtures, parquet dumps, or
  * the live paged source.
  */
object Pipelines {

  /** S6: live attachment-payload fetch (TP:295-299) inserted automatically
    * when the attachments input has no `payload` column — i.e. it came from
    * the live API rather than a pre-materialized dump. Throttle/retry ride
    * AttachmentFetch's defaults; callers needing a specific rate run
    * `AttachmentFetch.fetchPayloads` explicitly before the pipeline.
    *
    * The fetch is restricted to attachments referenced by the SELECTED
    * messages first (semi-join on the attachments_href message id, the
    * reference's per-message attachment fetch, TP:280-284) — a --tickets
    * point migration must fetch that ticket's payloads, not the corpus's.
    *
    * Returns the frame and a release for what this call pinned: the
    * caller runs it once its last action over the frame has finished. */
  private def withPayloads(
      attachments: DataFrame, selectedMessages: DataFrame): (DataFrame, () => Unit) = {
    val relevant = attachments.join(
      selectedMessages.filter(col("attachments_href").isNotNull)
        .select(MigrationFunctions.hrefAttachmentMessageId(
          col("attachments_href")).as("message_id")),
      Seq("message_id"), "left_semi")
    if (relevant.columns.contains("payload")) (relevant, () => ())
    else {
      // eager localCheckpoint: the fetched frame feeds BOTH the uploaded
      // and failed-note branches of the final plan — left lazy, the
      // side-effecting HTTP fetch stage would re-GET every attachment once
      // per consumer, and a URL that succeeds in one execution but fails
      // in the other could appear both uploaded and failed-noted.
      // Checkpointing pins one fetch outcome per URL.
      graft.Checkpoints.owned(AttachmentFetch.fetchPayloads(relevant))
    }
  }

  /** F4: --startPage/--stopPage prune when the input carries a `page`
    * column (graft-pages attaches one; fixtures don't). */
  private def pageFiltered(df: DataFrame, opts: SyncOptions): DataFrame =
    if (!df.columns.contains("page")) df
    else (opts.startPage, opts.stopPage) match {
      case (None, None) => df
      case (lo, hi) => df.filter(
        col("page") >= lo.getOrElse(Int.MinValue) &&
          col("page") <= hi.getOrElse(Int.MaxValue))
    }

  /** One pass over `transformed`: the rate-limited publish posts the ok
    * rows and, in the same `foreachPartition`, records every error row's
    * (error_type, error_detail) into a bounded accumulator — exact counts
    * per type plus a sample capped at `BoundedErrorAccumulator.DefaultCap`
    * (the reference's publish-and-record loop, SyncCommandBase.php:163-193).
    * The error total and the grouped CSV come from that driver-side
    * summary, so nothing re-executes the transform after the side effect:
    * over a live source a second execution could disagree with what was
    * posted, and would re-fetch the API. */
  private def publishOkAndReport(
      transformed: DataFrame, ratePerMinute: Int, batchSize: Int,
      parallelism: Int, errorCsv: Option[(String, String)])(
      post: Seq[Row] => Unit): SyncReport = {
    val spark = transformed.sparkSession
    val errs = new BoundedErrorAccumulator(BoundedErrorAccumulator.DefaultCap)
    spark.sparkContext.register(errs, "graft.sync.errors")
    val (batches, published) = RateLimitedSink.publish(
      transformed, ratePerMinute, batchSize, parallelism,
      ErrorChannel.router(transformed.schema, (e: (String, String)) => errs.add(e)))(post)
    val summary = errs.value
    errorCsv.foreach { case (dir, stamp) =>
      if (summary.total > 0) ErrorChannel.writeCsvReport(spark, summary, dir, stamp)
    }
    SyncReport(published, summary.total, batches)
  }

  /** sync-customers (§3.1, SC:41-88): acquire → P1 transform → ok/err
    * split → rate-limited publish (K1) + error CSV (K4). */
  def syncCustomers(
      grooveCustomers: DataFrame, opts: SyncOptions = SyncOptions(),
      ratePerMinute: Int = 200, batchSize: Int = 50, parallelism: Int = 4,
      errorCsv: Option[(String, String)] = None)(
      post: Seq[Row] => Unit): SyncReport =
    publishOkAndReport(
      CustomerTransform.toHelpScout(pageFiltered(grooveCustomers, opts)),
      ratePerMinute, batchSize, parallelism, errorCsv)(post)

  /** sync-tickets (§3.2, ST:46-68): fail-fast validation gates (J7/J8)
    * unless bypassed → ticket selection (explicit ids S3, else page range
    * S2/F4) → thread assembly (messages semi-joined to the selection — the
    * reference's per-ticket message fetch) → conversation assembly with
    * optional dedup (J6) → publish (K2) + error CSV.
    *
    * Returns Left(validation report) on gate failure — the reference's
    * `exit()` (ST:91,107) expressed as data. */
  def syncTickets(
      tickets: DataFrame, messages: DataFrame, attachments: DataFrame,
      grooveMailboxes: DataFrame, grooveAgents: DataFrame,
      hsMailboxes: DataFrame, hsUsers: DataFrame, hsCustomers: DataFrame,
      existingConversations: DataFrame, defaultMailboxEmail: String,
      opts: SyncOptions = SyncOptions(),
      ratePerMinute: Int = 200, batchSize: Int = 10, parallelism: Int = 4,
      errorCsv: Option[(String, String)] = None)(
      post: Seq[Row] => Unit): Either[DataFrame, SyncReport] = {
    if (!opts.bypassValidation) {
      Validation.gate(grooveMailboxes, hsMailboxes, grooveAgents, hsUsers) match {
        case Left(bad) => return Left(bad)
        case Right(_) =>
      }
    }
    val selected =
      if (opts.tickets.nonEmpty) tickets.filter(col("number").isin(opts.tickets: _*))
      else pageFiltered(tickets, opts)
    val selectedMessages = messages.join(
      selected.select(col("number").as("ticket_number")), Seq("ticket_number"), "left_semi")
    val (payloads, release) = withPayloads(attachments, selectedMessages)
    try {
      val threads = TicketTransform.threadsByTicket(
        selectedMessages, payloads, hsUsers, hsCustomers, opts.customerEmails)
      val convs = TicketTransform.conversations(
        selected, threads, hsMailboxes, hsCustomers, defaultMailboxEmail,
        if (opts.checkDuplicates) Some(existingConversations) else None)
      Right(publishOkAndReport(convs, ratePerMinute, batchSize, parallelism, errorCsv)(post))
    } finally release()
  }

  /** view-ticket (§3.3, VT:46-67): point lookup + dump of the assembled
    * conversation — the reference's print_r as JSON lines. */
  def viewTicket(
      tickets: DataFrame, messages: DataFrame, attachments: DataFrame,
      hsMailboxes: DataFrame, hsUsers: DataFrame, hsCustomers: DataFrame,
      defaultMailboxEmail: String, number: Long,
      opts: SyncOptions = SyncOptions()): String = {
    val one = tickets.filter(col("number") === number)
    val oneMessages = messages.filter(col("ticket_number") === number)
    val (payloads, release) = withPayloads(attachments, oneMessages)
    try {
      val threads = TicketTransform.threadsByTicket(
        oneMessages, payloads, hsUsers, hsCustomers, opts.customerEmails)
      TicketTransform.conversations(
        one, threads, hsMailboxes, hsCustomers, defaultMailboxEmail)
        .toJSON.collect().mkString("\n")
    } finally release()
  }
}
