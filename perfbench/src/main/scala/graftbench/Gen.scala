package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed: the same seed gives byte-identical inputs (see `digest`), and the
  * ground truth — what was planted and what must survive — is produced
  * next to the inputs. */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  private val Stopwords = IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with")

  /** A fixed 20,000-word vocabulary of 2-3 syllable alphabetic words (mean
    * length ~5.5, inside the Gopher word-length band). */
  lazy val Vocab: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val syl = for (c <- cons; v <- vows) yield s"$c$v"
    val out = mutable.LinkedHashSet.empty[String]
    val r = new SplittableRandom(7L)
    while (out.size < 20000) {
      val n = 2 + r.nextInt(2)
      val w = (0 until n).map(_ => syl(r.nextInt(syl.size))).mkString +
        (if (r.nextInt(3) == 0) cons(r.nextInt(cons.length)).toString else "")
      if (!Stopwords.contains(w)) out += w
    }
    out.toIndexedSeq
  }

  /** Skewed draw over the vocabulary (low indices are common). */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Vocab((Vocab.size * u * u * u).toInt)
  }

  /** A clean document: `n` words, roughly one in ten a stopword and
    * always at least two distinct ones ("the" first, "and" in the middle),
    * so it passes both the Gopher gate and the streaming quality gate. */
  def cleanText(r: SplittableRandom, n: Int): String =
    (0 until n).map(i =>
      if (i == 0) "the"
      else if (i == n / 2) "and"
      else if (r.nextInt(10) == 0) Stopwords(r.nextInt(Stopwords.size))
      else word(r)
    ).mkString(" ")

  /** Too short for either quality gate (< 30 words). */
  def lowQualityText(r: SplittableRandom): String = cleanText(r, 12 + r.nextInt(10))

  /** Replace one word with a word the text does not contain: the Jaccard
    * similarity of the distinct-word sets stays near (d-1)/(d+1). */
  def nearCopy(r: SplittableRandom, text: String): String = {
    val ws = text.split(" ")
    val present = ws.toSet
    var fresh = word(r)
    while (present.contains(fresh)) fresh = Vocab(r.nextInt(Vocab.size))
    // replace a word that occurs once, so exactly one distinct word leaves
    val once = ws.indices.filter(i => ws.count(_ == ws(i)) == 1 && !Stopwords.contains(ws(i)))
    val at = once(r.nextInt(once.size))
    ws.updated(at, fresh).mkString(" ")
  }

  def distinctWords(text: String): Set[String] =
    text.trim.split("\\s+").filter(_.nonEmpty).toSet

  def jaccard(a: String, b: String): Double = {
    val x = distinctWords(a); val y = distinctWords(b)
    x.intersect(y).size.toDouble / x.union(y).size
  }

  /** Probability that minhash LSH with `bands` bands of `rows` rows makes a
    * pair of Jaccard similarity j a candidate: 1 - (1 - j^rows)^bands. */
  def lshHitProbability(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  def unitVector(r: SplittableRandom, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(gaussian(r))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one value per call keeps the stream simple to reason about
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------------------
  // stream_dedup: a seed corpus plus a crawl in batch files, with
  // near-duplicates planted across batches

  final case class Crawl(
      seedDocs: IndexedSeq[Doc], crawlDocs: IndexedSeq[Doc], batches: Int,
      lowQuality: Set[Long], exactDups: Set[Long], nearDups: Map[Long, Double]) {
    def planted: Set[Long] = lowQuality ++ exactDups ++ nearDups.keySet
    def expectedSurvivors: Set[Long] = crawlDocs.map(_.id).toSet -- planted
    def digest: String = sha256(
      seedDocs.iterator.map(d => s"seed|${d.id}|${d.lang}|${d.text}") ++
        crawlDocs.iterator.map(d => s"crawl|${d.id}|${d.lang}|${d.text}") ++
        Iterator(s"truth|$batches|${lowQuality.toSeq.sorted}|" +
          s"${exactDups.toSeq.sorted}|${nearDups.toSeq.sorted}"))
  }

  /** The default seed corpus is well over the engine's 256 KiB re-widen
    * gate (`spark.graft.rewiden.minBytes`), as a deployment's corpus is,
    * so every seed signs it through the repartitioned path. */
  final case class CrawlShape(
      seedDocs: Int = 2000, batches: Int = 4, docsPerBatch: Int = 50,
      lowQualityPerBatch: Int = 2, exactDupsPerBatch: Int = 2,
      nearDupsPerBatch: Int = 4)

  def crawl(seed: Long, shape: CrawlShape = CrawlShape()): Crawl = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val seedDocs = (0 until shape.seedDocs).map(i =>
      Doc(i.toLong, cleanText(r, 60 + r.nextInt(60)), Langs(r.nextInt(Langs.size)), "seed"))
    val B = shape.batches
    val low = mutable.Set.empty[Long]
    val exact = mutable.Set.empty[Long]
    val near = mutable.Map.empty[Long, Double]
    val crawlDocs = mutable.ArrayBuffer.empty[Doc]
    // originals a later batch may copy: seed docs and clean docs of
    // earlier batches, each copied at most once
    val pool = mutable.ArrayBuffer.empty[Doc] ++ seedDocs
    val used = mutable.Set.empty[Long]
    def takeOriginal(): Doc = {
      var d = pool(r.nextInt(pool.size))
      while (used.contains(d.id)) d = pool(r.nextInt(pool.size))
      used += d.id; d
    }
    for (b <- 0 until B) {
      // ids with id mod B == b land in batch file b
      val ids = Iterator.iterate(100000L * B + b)(_ + B)
      val nPlant = shape.lowQualityPerBatch + shape.exactDupsPerBatch + shape.nearDupsPerBatch
      val batchClean = (0 until shape.docsPerBatch - nPlant).map(_ =>
        Doc(ids.next(), cleanText(r, 60 + r.nextInt(60)), Langs(r.nextInt(Langs.size)), s"crawl$b"))
      crawlDocs ++= batchClean
      (0 until shape.lowQualityPerBatch).foreach { _ =>
        val d = Doc(ids.next(), lowQualityText(r), "en", s"crawl$b"); crawlDocs += d; low += d.id }
      (0 until shape.exactDupsPerBatch).foreach { _ =>
        val o = takeOriginal(); val d = Doc(ids.next(), o.text, o.lang, s"crawl$b")
        crawlDocs += d; exact += d.id }
      (0 until shape.nearDupsPerBatch).foreach { _ =>
        val o = takeOriginal(); val d = Doc(ids.next(), nearCopy(r, o.text), o.lang, s"crawl$b")
        crawlDocs += d; near(d.id) = jaccard(o.text, d.text) }
      pool ++= batchClean
    }
    Crawl(seedDocs, crawlDocs.toIndexedSeq, B, low.toSet, exact.toSet, near.toMap)
  }

  // ---------------------------------------------------------------------
  // migration: a Groove corpus served as paged JSON

  final case class Groove(
      customerPages: IndexedSeq[IndexedSeq[String]],
      ticketPages: IndexedSeq[IndexedSeq[String]],
      messagePages: IndexedSeq[IndexedSeq[String]],
      attachmentPages: IndexedSeq[IndexedSeq[String]],
      files: Map[String, Array[Byte]],
      mailboxNames: Seq[String], agentEmails: Seq[String],
      hsMailboxes: Seq[(Long, String, String)],
      hsUsers: Seq[(Long, String, String, String)],
      hsCustomers: Seq[(Long, String)],
      existingConversations: Seq[(String, String)],
      defaultMailboxEmail: String,
      // ground truth, by page (1-based)
      customerIds: IndexedSeq[IndexedSeq[String]],
      missingEmail: IndexedSeq[Int],
      ticketNumbers: IndexedSeq[IndexedSeq[Long]],
      duplicateTickets: Set[Long], badLinkTickets: Set[Long],
      unknownStateTickets: Set[Long], unmatchedMailboxTickets: Set[Long],
      rejectedRecords: Set[String], unfetchableFiles: Set[String],
      oversizedFiles: Set[String], attachmentsByTicket: Map[Long, Seq[String]]) {

    def digest: String = sha256(
      Iterator("customers") ++ customerPages.iterator.flatten ++
        Iterator("tickets") ++ ticketPages.iterator.flatten ++
        Iterator("messages") ++ messagePages.iterator.flatten ++
        Iterator("attachments") ++ attachmentPages.iterator.flatten ++
        files.toSeq.sortBy(_._1).iterator.map { case (k, v) =>
          k + "=" + java.util.Base64.getEncoder.encodeToString(v) } ++
        Iterator(s"truth|$missingEmail|$duplicateTickets|$badLinkTickets|" +
          s"$unknownStateTickets|$unmatchedMailboxTickets|" +
          s"${rejectedRecords.toSeq.sorted}|${unfetchableFiles.toSeq.sorted}"))

    /** Ground truth for one syncCustomers call over pages [lo, hi]. */
    def customersExpected(lo: Int, hi: Int): Expected = {
      val ids = (lo to hi).flatMap(p => customerIds(p - 1))
      val errs = (lo to hi).map(p => missingEmail(p - 1)).sum
      val posted = ids.filter(_.nonEmpty).toSet
      Expected(posted, posted.intersect(rejectedRecords), errs.toLong, Set.empty)
    }

    /** Ground truth for one syncTickets call over pages [lo, hi] with
      * duplicate checking on. Every attachment of the range's tickets is
      * fetched, duplicates' included: the fetch precedes the duplicate
      * check. */
    def ticketsExpected(lo: Int, hi: Int): Expected = {
      val all = (lo to hi).flatMap(p => ticketNumbers(p - 1))
      val nums = all.filterNot(duplicateTickets)
      val errs = nums.filter(n => badLinkTickets(n) || unknownStateTickets(n))
      val posted = nums.filterNot(errs.contains).map(_.toString).toSet
      Expected(posted, posted.intersect(rejectedRecords), errs.size.toLong,
        all.flatMap(attachmentsByTicket).toSet)
    }
  }

  /** What one sync call must produce: the record ids it POSTs, those the
    * server rejects with 400, the transform errors it reports and the
    * attachment files it fetches. */
  final case class Expected(posted: Set[String], rejected: Set[String], errors: Long,
      files: Set[String])

  /** Every op reads all message and attachment pages, so the ticket page
    * count sets the acquire work per op. */
  final case class GrooveShape(
      customerPages: Int = 24, customersPerPage: Int = 50,
      ticketPages: Int = 12, ticketsPerPage: Int = 10)

  def groove(seed: Long, baseUrl: String, shape: GrooveShape = GrooveShape()): Groove = {
    val r = new SplittableRandom(seed * 31 + 17)
    def q(s: String) = Json.str(s)
    def opt(o: Option[String]) = o.map(q).getOrElse("null")
    // every page plants the same defects, in seeded positions, so every
    // page window is the same work: a record's kind picks its defect
    // below (99 = none)
    def pageKinds(planted: Seq[Int], perPage: Int): Seq[Int] =
      new scala.util.Random(r.nextLong()).shuffle(planted ++ Seq.fill(perPage - planted.size)(99))
    val mailboxes = Seq("Support", "Sales", "Billing")
    val agents = (0 until 6).map(i => s"agent$i@corp.example")
    // customers
    val custPages = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val custIds = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val missing = mutable.ArrayBuffer.empty[Int]
    val rejected = mutable.Set.empty[String]
    val allEmails = mutable.ArrayBuffer.empty[String]
    var cid = 0
    for (_ <- 0 until shape.customerPages) {
      val lines = mutable.ArrayBuffer.empty[String]
      val ids = mutable.ArrayBuffer.empty[String]
      var miss = 0
      for (kind <- pageKinds(Seq(0, 0, 4, 4, 8, 8, 8), shape.customersPerPage)) {
        cid += 1
        val name = s"${Vocab(r.nextInt(Vocab.size)).capitalize} ${Vocab(r.nextInt(Vocab.size)).capitalize}"
        val email =
          if (kind < 3) { miss += 1; "" }                       // missing email: transform error
          else if (kind < 7) s"user$cid@invalid.example"         // the API refuses it: 400
          else if (kind < 12) s"user$cid@mail.example; user$cid@work.example"
          else s"user$cid@mail.example"
        val primary = if (email.isEmpty) "" else email.split("[ ;,]").head
        if (primary.endsWith("@invalid.example")) rejected += primary
        if (primary.nonEmpty) allEmails += primary
        ids += primary
        val title = if (r.nextInt(10) == 0) Some("Chief " * 12) else Some("Engineer")
        lines += s"""{"email":${q(email)},"name":${q(name)},"about":null,""" +
          s""""twitter_username":null,"linkedin_username":null,"title":${opt(title)},""" +
          s""""company_name":${opt(Some(s"Company ${r.nextInt(500)}"))},"phone_number":null,""" +
          s""""location":${opt(Some("Toronto"))},"website_url":null}"""
      }
      custPages += lines.toIndexedSeq; custIds += ids.toIndexedSeq; missing += miss
    }
    val hsCustomers = allEmails.zipWithIndex.collect {
      case (e, i) if i % 2 == 0 => (1000L + i, e) }.toSeq
    // tickets, messages, attachments
    val tPages = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val tNums = mutable.ArrayBuffer.empty[IndexedSeq[Long]]
    val msgs = mutable.ArrayBuffer.empty[String]
    val atts = mutable.ArrayBuffer.empty[String]
    val files = mutable.LinkedHashMap.empty[String, Array[Byte]]
    val dup = mutable.Set.empty[Long]; val badLink = mutable.Set.empty[Long]
    val unknown = mutable.Set.empty[Long]; val unmatched = mutable.Set.empty[Long]
    val unfetchable = mutable.Set.empty[String]; val oversized = mutable.Set.empty[String]
    val byTicket = mutable.Map.empty[Long, Seq[String]]
    val existing = mutable.ArrayBuffer.empty[(String, String)]
    var num = 5000L
    var mid = 0
    for (_ <- 0 until shape.ticketPages) {
      val lines = mutable.ArrayBuffer.empty[String]
      val nums = mutable.ArrayBuffer.empty[Long]
      for (kind <- pageKinds(Seq(if (r.nextInt(2) == 0) 0 else 3, 6, 9, 12), shape.ticketsPerPage)) {
        num += 1
        val day = 1 + r.nextInt(28)
        val created = f"2016-03-$day%02dT10:${r.nextInt(60)}%02d:00Z"
        val title = s"Ticket $num ${Vocab(r.nextInt(Vocab.size))}"
        val state =
          if (kind < 3) { unknown += num; "weird_state" }
          else Seq("unread", "opened", "pending", "closed")(r.nextInt(4))
        val custEmail = allEmails(r.nextInt(allEmails.size))
        val custHref =
          if (kind >= 3 && kind < 6) { badLink += num; s"https://api.groovehq.com/v1/customers/0x${num.toHexString}" }
          else s"https://api.groovehq.com/v1/customers/$custEmail"
        val mailbox =
          if (kind >= 6 && kind < 9) { unmatched += num; "Archive" }
          else mailboxes(r.nextInt(mailboxes.size))
        if (kind >= 9 && kind < 12) { dup += num; existing += ((title.toUpperCase, f"2016-03-$day%02dT18:00:00Z")) }
        if (kind >= 12 && kind < 16) rejected += num.toString
        val assignee = if (r.nextInt(2) == 0) Some(s"https://api.groovehq.com/v1/agents/${agents(r.nextInt(agents.size))}") else None
        lines += s"""{"number":$num,"state":${q(state)},"title":${q(title)},"summary":null,""" +
          s""""tags":["t${r.nextInt(5)}"],"created_at":${q(created)},"mailbox":${q(mailbox)},""" +
          s""""customer_href":${q(custHref)},"assignee_href":${opt(assignee)}}"""
        nums += num
        val ticketFiles = mutable.ArrayBuffer.empty[String]
        for (k <- 0 until 1 + r.nextInt(3)) {
          mid += 1
          val m = s"m$mid"
          val agentReply = k > 0 && r.nextInt(2) == 0
          val author =
            if (agentReply) s"https://api.groovehq.com/v1/agents/${agents(r.nextInt(agents.size))}"
            else s"https://api.groovehq.com/v1/customers/$custEmail"
          val hasAtt = r.nextInt(4) == 0
          val body = s"<p>${cleanText(r, 10 + r.nextInt(30))}</p>"
          msgs += s"""{"ticket_number":$num,"body":${q(body)},"created_at":${q(created)},""" +
            s""""note":false,"agent_response":$agentReply,"href":${q(s"https://api.groovehq.com/v1/messages/$m")},""" +
            s""""author_href":${q(author)},"recipient_href":null,""" +
            s""""attachments_href":${if (hasAtt) q(s"https://api.groovehq.com/v1/attachments?message=$m") else "null"}}"""
          if (hasAtt) {
            val fname = s"$m-file.bin"
            val akind = r.nextInt(10)
            val size =
              if (akind == 0) { oversized += fname; 20L * 1024 * 1024 }
              else 1024L + r.nextInt(4096)
            if (akind == 1) unfetchable += fname
            else {
              val bytes = new Array[Byte](256 + r.nextInt(768))
              (0 until bytes.length).foreach(i => bytes(i) = r.nextInt(256).toByte)
              files(fname) = bytes
            }
            atts += s"""{"message_id":${q(m)},"filename":${q(fname)},"size":$size,""" +
              s""""url":${q(s"$baseUrl/files/$fname")}}"""
            ticketFiles += fname
          }
        }
        byTicket(num) = ticketFiles.toSeq
      }
      tPages += lines.toIndexedSeq; tNums += nums.toIndexedSeq
    }
    def paged(xs: Seq[String], per: Int) = xs.grouped(per).map(_.toIndexedSeq).toIndexedSeq
    val hsMailboxes = Seq((11L, "support", "support@corp.example"),
      (12L, "Sales", "sales@corp.example"), (13L, "billing", "billing@corp.example"),
      (14L, "Fallback", "default@corp.example"))
    val hsUsers = agents.zipWithIndex.map { case (e, i) => (100L + i, e.toUpperCase, s"A$i", "Agent") }
    Groove(custPages.toIndexedSeq, tPages.toIndexedSeq, paged(msgs.toSeq, 100),
      paged(atts.toSeq, 100), files.toMap, mailboxes, agents, hsMailboxes, hsUsers,
      hsCustomers, existing.toSeq, "default@corp.example", custIds.toIndexedSeq,
      missing.toIndexedSeq, tNums.toIndexedSeq, dup.toSet, badLink.toSet,
      unknown.toSet, unmatched.toSet, rejected.toSet, unfetchable.toSet,
      oversized.toSet, byTicket.toMap)
  }
}
