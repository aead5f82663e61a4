package graft.migration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import MigrationFunctions._
import ErrorChannel.{ErrorType, ErrorDetail}

/** P2-P6 / J1-J10 / N1-N2 (TicketProcessor.php:54-464): the ticket →
  * conversation pipeline, un-nested from the reference's per-record
  * interleaving (SURVEY §3.2) into dataflow stages:
  *
  *   stage A  attachment "upload": payload → (mime, hash) per attachment;
  *            fetch-failures split off for failed-note synthesis (K3/N2 —
  *            the two-phase write: hash must exist before threads form)
  *   stage B  messages → thread rows (author extraction X6, thread-type
  *            decision P5/J4, person resolution J3/J5, recipient X6,
  *            attachment arrays J10)
  *   stage C  thread rows → per-ticket sorted thread arrays (N1/J9)
  *   stage D  tickets → conversations (dedup J6, mailbox J1/J2, customer
  *            ref X8/J5, status X10, dates X11, hybrid wrapper P6)
  *
  * Dims are broadcast and the default mailbox is looked up once, before
  * the plan runs, as a literal. The paged source reports its size, so a
  * small selection of tickets is broadcast into the message scan and the
  * attachment aggregate into the thread rows at plan time. The shuffles
  * left are the per-message attachment groupBy, the one per-ticket thread
  * groupBy and the ticket side of the final ticket⋈threads join (the
  * planner's estimate of the threads is a product of join sizes; AQE
  * broadcasts them once they exist) — all keyed, all AQE-skew-safe.
  * Blobs never pass through a collect_list: the hash is computed in stage
  * A and only (filename, mime, hash) travels on.
  */
object TicketTransform {

  /** The server-assigned attachment hash (TP:305-311) — deterministic
    * stand-in: md5 of the payload, computed in the upload stage. */
  private def uploadHash(payload: Column): Column = md5(payload)

  /** Stage A: split attachments into uploaded (with mime/hash/oversize
    * flag) and fetch-failed (payload null → failed-note path TP:313-333). */
  def uploadAttachments(attachments: DataFrame): (DataFrame, DataFrame) = {
    val ok = attachments.filter(col("payload").isNotNull)
      .select(col("message_id"), col("filename"),
        mimeSniff(col("payload")).as("mime_type"),
        uploadHash(col("payload")).as("hash"),
        oversized(col("size")).as("oversize"))
    // live-fetched inputs carry the failure detail (AttachmentFetch);
    // pre-materialized dumps don't — degrade to a null reason
    val failed = attachments.filter(col("payload").isNull)
      .select(col("message_id"), col("filename"), col("url"),
        (if (attachments.columns.contains(AttachmentFetch.FetchError))
           col(AttachmentFetch.FetchError)
         else lit(null).cast("string")).as("fetch_reason"))
    (ok, failed)
  }

  /** Stage B+C: messages (+ attachment stages) → per-ticket sorted thread
    * arrays plus quarantined error rows.
    *
    * @param customerEmailOverrides authors forced to customer threads even
    *        on notes (J4 CLI list, TP:76-83)
    */
  def threadsByTicket(
      messages: DataFrame,
      attachments: DataFrame,
      hsUsers: DataFrame,
      hsCustomers: DataFrame,
      customerEmailOverrides: Seq[String] = Nil): DataFrame = {

    val (uploaded, failed) = uploadAttachments(attachments)

    val overrideTest: Column =
      if (customerEmailOverrides.isEmpty) lit(false)
      else lower(col("author_email")).isin(customerEmailOverrides.map(_.toLowerCase): _*)

    val m = messages
      .withColumn("author_type", hrefAuthorType(col("author_href")))
      .withColumn("author_email", hrefAuthorEmail(col("author_href")))
      .withColumn("att_msg_id",
        when(col("attachments_href").isNotNull,
          hrefAttachmentMessageId(col("attachments_href"))))
      .withColumn("recipient_email",
        when(col("recipient_href").isNotNull, hrefCustomerId(col("recipient_href"))))
      .withColumn("thread_type",
        when(col("note") && !overrideTest, "note")
          .when(col("agent_response"), "message")
          .otherwise("customer"))

    // J3: agent authors must resolve to a HS user (miss = quarantined row)
    val users = hsUsers.select(col("id").as("agent_id"),
      lower(col("email")).as("u_email"))
    // J5: customer authors resolve to HS customer id when present,
    // else fall back to an email-only PersonRef (S7 fallback chain)
    val custs = hsCustomers.select(col("id").as("customer_author_id"),
      lower(col("email")).as("c_email"))

    val resolved = m
      .join(broadcast(users), lower(col("author_email")) === col("u_email"), "left")
      .join(broadcast(custs), lower(col("author_email")) === col("c_email"), "left")

    // J10: per-message attachment array (sorted for determinism); oversize
    // warnings become error rows, not drops (X14 is warn-only)
    val attArr = uploaded
      .groupBy(col("message_id"))
      .agg(array_sort(collect_list(struct(
        col("filename"), col("mime_type"), col("hash")))).as("attachments"))

    val withAtt = resolved.join(attArr,
      col("att_msg_id") === attArr("message_id"), "left")

    val msgThreads = withAtt.select(
      col("ticket_number"),
      toIso(col("created_at")).as("created_at_iso"),
      lit(0).as("seq"),
      col("thread_type"),
      col("body"),
      struct(
        when(col("thread_type") === "customer", "customer").otherwise("user").as("type"),
        when(col("author_type") === "agent", col("agent_id"))
          .otherwise(col("customer_author_id")).as("id"),
        col("author_email").as("email")).as("created_by"),
      when(col("recipient_email").isNotNull && col("recipient_email") =!= "",
        array(col("recipient_email"))).otherwise(array().cast("array<string>"))
        .as("to_list"),
      coalesce(col("attachments"),
        array().cast("array<struct<filename:string,mime_type:string,hash:string>>"))
        .as("attachments"),
      when(col("author_type").isNull, lit("bad_author_link"))
        .when(col("author_type") === "agent" && col("agent_id").isNull,
          lit("unknown_agent"))
        .otherwise(lit(null).cast("string")).as(ErrorType),
      when(col("author_type").isNull,
        concat(lit("unparseable author href: "), col("author_href")))
        .when(col("author_type") === "agent" && col("agent_id").isNull,
          concat(lit("no HelpScout user for agent "), col("author_email")))
        .otherwise(lit(null).cast("string")).as(ErrorDetail))

    // N2: synthetic note per fetch-failed attachment, body carries the
    // original link (X15); ordered directly after its message via seq
    val failedNotes = m
      .join(failed, col("att_msg_id") === failed("message_id"))
      .select(
        col("ticket_number"),
        toIso(col("created_at")).as("created_at_iso"),
        lit(1).as("seq"),
        lit("note").as("thread_type"),
        // the reference reports WHY the upload failed alongside the note
        // (TP:314 error output); the engine embeds the reason in the note
        // body when the fetch stage captured one
        concat(
          format_string(
            "Attachment %s could not be migrated: <a href=\"%s\">%s</a>",
            col("filename"), col("url"), col("filename")),
          when(col("fetch_reason").isNotNull,
            concat(lit(" (fetch failed: "), col("fetch_reason"), lit(")")))
            .otherwise(lit(""))).as("body"),
        struct(lit("user").as("type"), lit(null).cast("long").as("id"),
          lit(null).cast("string").as("email")).as("created_by"),
        array().cast("array<string>").as("to_list"),
        array().cast("array<struct<filename:string,mime_type:string,hash:string>>")
          .as("attachments"),
        lit(null).cast("string").as(ErrorType),
        lit(null).cast("string").as(ErrorDetail))

    val all = msgThreads.unionByName(failedNotes)

    // N1: nest threads per ticket, explicitly sorted (created_at, seq,
    // thread_type) — the reference depends on arrival order (TP:189), the
    // engine makes determinism explicit (SURVEY §7.2). One aggregation
    // builds both sides: ok threads and error details are collected
    // through `when` (collect_list skips the nulls it yields for the other
    // side), so the thread subtree is planned once and needs no join.
    val isError = col(ErrorType).isNotNull
    val nErrors = count(when(isError, 1))
    all.groupBy(col("ticket_number"))
      .agg(array_sort(collect_list(when(!isError, struct(
        col("created_at_iso"), col("seq"), col("thread_type"), col("body"),
        col("created_by"), col("to_list"), col("attachments"))))).as("threads"),
        nErrors.as("n_thread_errors"),
        when(nErrors > 0,
          array_join(array_sort(collect_list(when(isError, col(ErrorDetail)))), "; "))
          .as("thread_error_details"))
      .select(col("ticket_number"),
        // the declared thread type, every field nullable, as callers see it
        col("threads").cast(
          "array<struct<created_at_iso:string,seq:int,thread_type:string," +
          "body:string,created_by:struct<type:string,id:bigint,email:string>," +
          "to_list:array<string>," +
          "attachments:array<struct<filename:string,mime_type:string,hash:string>>>>")
          .as("threads"),
        col("n_thread_errors"),
        col("thread_error_details"))
  }

  /** Stage D: tickets → hybrid conversations (lineage column retained). */
  def conversations(
      tickets: DataFrame,
      threadsByTicket: DataFrame,
      hsMailboxes: DataFrame,
      hsCustomers: DataFrame,
      defaultMailboxEmail: String,
      existingConversations: Option[DataFrame] = None): DataFrame = {

    // F1/J6: skip tickets matching an existing conversation on same day +
    // ci-equal subject (--checkDuplicates, TP:353-373). No broadcast hint:
    // `existing` is a sink-state extract whose size the engine does not
    // control — at scale it can exceed any broadcast limit, so the join is
    // left to AQE, which still broadcasts when the side is actually small.
    // Both conjuncts are equi (lower(title)=lower(subject), date=date), so
    // the anti-join shuffles on the pair key when it does not broadcast.
    val base = tickets.withColumnRenamed("number", "ticket_number")
    val deduped = existingConversations match {
      case Some(existing) =>
        base.join(existing,
          ciEq(base("title"), existing("subject")) &&
            to_date(base("created_at")) === to_date(existing("modifiedAt")),
          "left_anti")
      case None => base
    }

    // J1: mailbox by ci name; J2: default-mailbox fallback by email,
    // collected into a literal of the dim's id type — null when no
    // mailbox has that email, so those tickets surface as
    // unknown_mailbox errors instead of vanishing. The first match in
    // partition order, as a limit(1) would pick, but in one job: a limit
    // over a multi-partition dim can take a second job to reach the match.
    val mb = hsMailboxes.select(col("id").as("mailbox_id"),
      lower(col("name")).as("mb_name"))
    val defaultMailboxId = lit(hsMailboxes
      .filter(lower(col("email")) === defaultMailboxEmail.toLowerCase)
      .select(col("id")).collect().headOption.map(_.get(0)).orNull)
      .cast(hsMailboxes.schema("id").dataType)

    // X8 → J5: customer ref from the ticket's customer link
    val custs = hsCustomers.select(col("id").as("customer_id"),
      lower(col("email")).as("c_email"))

    val enriched = deduped
      .join(broadcast(mb), lower(col("mailbox")) === col("mb_name"), "left")
      .withColumn("resolved_mailbox_id", coalesce(col("mailbox_id"), defaultMailboxId))
      .withColumn("customer_email", hrefCustomerId(col("customer_href")))
      .join(broadcast(custs),
        lower(col("customer_email")) === col("c_email"), "left")
      .withColumn("status", stateToStatus(col("state")))

    enriched
      .join(threadsByTicket, Seq("ticket_number"), "left")
      .select(
        col("ticket_number").as("groove_ticket_number"), // P6 lineage
        lit("email").as("conversation_type"),            // TP:378
        col("title").as("subject"),
        col("resolved_mailbox_id").as("mailbox_id"),
        col("tags"),
        col("customer_email"),
        col("customer_id"),
        toIso(col("created_at")).as("created_at_iso"),
        col("status"),
        coalesce(size(col("threads")), lit(0)).as("n_threads"),
        col("threads"),
        coalesce(col("n_thread_errors"), lit(0L)).as("n_thread_errors"),
        when(col("resolved_mailbox_id").isNull, lit("unknown_mailbox"))
          .when(!isValidEmail(col("customer_email")), lit("bad_customer_link"))
          .when(col("status").isNull, lit("unknown_state"))
          .otherwise(lit(null).cast("string")).as(ErrorType),
        when(col("resolved_mailbox_id").isNull,
          concat(lit("no HelpScout mailbox for '"), col("mailbox"), lit("'")))
          .when(!isValidEmail(col("customer_email")),
            concat(lit("customer link is not an email: "), col("customer_href")))
          .when(col("status").isNull,
            concat(lit("unknown state '"), col("state"), lit("' for ticket "),
              col("ticket_number").cast("string")))
          .otherwise(lit(null).cast("string")).as(ErrorDetail))
  }
}
