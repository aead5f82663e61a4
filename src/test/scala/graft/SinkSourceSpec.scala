package graft

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import graft.sources.{BoundedErrorAccumulator, HttpPublisher, RateLimitedSink}
import graft.migration.{ErrorChannel, Fixtures}

/** Shared mutable recorder for the sink test — local-mode executors live in
  * this JVM, so a static AtomicLong observes executor-side calls. */
object SinkRecorder {
  val batches = new AtomicLong(0)
  val rows = new AtomicLong(0)
}

/** A `post` that forwards the first batch of its task and then fails it:
  * a publish that crashes mid-window. */
final class FailAfterFirstBatch(post: Seq[Row] => Unit)
    extends (Seq[Row] => Unit) with Serializable {
  private var posted = 0
  override def apply(batch: Seq[Row]): Unit = {
    if (posted > 0) throw new IllegalStateException("publish crashed mid-window")
    posted += 1
    post(batch)
  }
}

class SinkSourceSpec extends SparkSpec {

  /** `df` POSTed to `endpoint` through the publish path the sync calls
    * take: [[RateLimitedSink.publish]] over an [[HttpPublisher]] whose
    * failures land in a registered [[BoundedErrorAccumulator]]. Returns
    * (batches, rows, the captured errors as an error-channel frame). */
  private def httpPublish(
      df: DataFrame, endpoint: String, batchSize: Int, parallelism: Int,
      idCol: Option[String], maxRetries: Int,
      maxErrorSamples: Int = BoundedErrorAccumulator.DefaultCap): (Long, Long, DataFrame) = {
    val acc = new BoundedErrorAccumulator(maxErrorSamples)
    spark.sparkContext.register(acc, "publish-errors")
    val (batches, rows) = RateLimitedSink.publish(
      df, ratePerMinute = 1000000, batchSize, parallelism)(
      new HttpPublisher(endpoint, acc.add _, idCol, maxRetries))
    import spark.implicits._
    (batches, rows,
      acc.value.rows.toDF(ErrorChannel.ErrorType, ErrorChannel.ErrorDetail))
  }

  test("token bucket sleeps only when the window is exhausted (A6)") {
    var clock = 0L
    var slept = Vector.empty[Long]
    val bucket = new RateLimitedSink.TokenBucket(
      maxPerWindow = 2, windowMillis = 60000L,
      now = () => clock, sleep = ms => { slept :+= ms; clock += ms })
    bucket.acquire(); bucket.acquire()
    assert(slept.isEmpty)
    bucket.acquire() // third call in the same window must wait out the rest
    assert(slept === Vector(60000L))
    bucket.acquire()
    assert(slept.size === 1) // fresh window, no extra sleep
  }

  test("publish: batched posts through foreachPartition, counts conserved") {
    SinkRecorder.batches.set(0); SinkRecorder.rows.set(0)
    val df = Fixtures.customersDf(spark)
    val (n, rows) = RateLimitedSink.publish(df, ratePerMinute = 100000,
      batchSize = 3, parallelism = 2) { batch =>
      SinkRecorder.batches.incrementAndGet()
      SinkRecorder.rows.addAndGet(batch.size)
    }
    assert(SinkRecorder.rows.get() === df.count())
    assert(rows === df.count())
    assert(SinkRecorder.batches.get() === n)
    assert(n >= 3) // 8 rows, batch 3, 2 partitions => at least 3 batches
  }

  private def ujson(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("DSv2 paged source: partition-per-page, pushdown pruning, manifest stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-v2pages").toString
    val pages = Fixtures.customers.grouped(3).zipWithIndex.toSeq
    pages.foreach { case (group, i) =>
      val rows = group.map(c => s"""{"email":${ujson(c.email)},"name":${ujson(c.name)}}""")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/page-${i + 1}.json"),
        rows.mkString("\n").getBytes("UTF-8"))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/meta.json"),
      s"""{"pagination":{"total_count":${Fixtures.customers.size},"total_pages":${pages.size}}}"""
        .getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("email", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))

    val df = spark.read.format("graft-pages").schema(schema).load(dir)
    assert(df.count() === Fixtures.customers.size)
    assert(df.select("page").distinct().count() === pages.size)

    // page-range pushdown prunes partitions at planning time
    val ranged = df.where(col("page") === 2)
    assert(ranged.count() === 3)
    val planStr = ranged.queryExecution.executedPlan.toString
    assert(planStr.contains("pages=[2]"), s"expected pruned scan, got: $planStr")

    // column pruning reaches the decoder
    val pruned = df.select("email").queryExecution.executedPlan.toString
    assert(!pruned.contains("name"), s"expected pruned read schema: $pruned")

    // manifest statistics drive count-first planning (A1): the manifest's
    // row count, and the page files' byte total as the size
    val stats = df.queryExecution.optimizedPlan.stats
    val pageBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("page-")).map(_.length()).sum
    assert(stats.rowCount === Some(BigInt(Fixtures.customers.size)))
    assert(stats.sizeInBytes === BigInt(pageBytes))
  }

  test("HTTP paged scan is sized from its manifest: rows x read width, a " +
    "one-page window broadcasts, a manifest without pages leaves it unknown") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val pages = Fixtures.customers.grouped(3).map(_.map(c =>
      s"""{"email":${ujson(c.email)},"name":${ujson(c.name)}}""").mkString("\n")).toVector
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = ex.getRequestURI.getPath match {
        case "/c/meta.json" => Some(s"""{"pagination":{"total_count":""" +
          s"""${Fixtures.customers.size},"total_pages":${pages.size}}}""")
        case s"/c/page-$n.json" => pages.lift(n.toInt - 1)
        case "/none/meta.json" => Some("""{"pagination":{"total_count":0,"total_pages":0}}""")
        case _ => None
      }
      body.map(_.getBytes("UTF-8")) match {
        case Some(b) => ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("email", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
      val df = spark.read.format("graft-pages").schema(schema).load(s"$base/c")
      def size(d: org.apache.spark.sql.DataFrame): BigInt =
        d.queryExecution.optimizedPlan.stats.sizeInBytes
      // 8 rows x (8 row overhead + 20 per string + 4 for the page int)
      assert(size(df) === BigInt(8 * 52))
      assert(size(df.select("email")) === BigInt(8 * 28), "the pruned width")
      // one of three pages: 8 * 1 / 3 rows
      val onePage = df.where(col("page") === 1)
      assert(size(onePage) === BigInt(2 * 52))

      // only the paged side of a left join can be broadcast, and its size
      // now licenses it: no shuffle is planned at all
      val emails = spark.range(0, 1000)
        .select(concat(lit("u"), col("id"), lit("@example.com")).as("email"))
      val joined = emails.join(onePage, Seq("email"), "left")
      val initial = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val bhj = initial.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.size === 1 && bhj.head.right.toString.contains("BatchScan"),
        s"the page scan must be the broadcast side:\n$initial")
      assert(initial.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"no shuffle may be planned:\n$initial")
      assert(joined.count() === 1000L)

      val none = spark.read.format("graft-pages").schema(schema).load(s"$base/none")
      assert(size(none) === BigInt(spark.sessionState.conf.defaultSizeInBytes),
        "no pages in the manifest: the size stays unknown, never broadcast")
    } finally server.stop(0)
  }

  test("pruned COUNT apportionment: exact manifest-only answers, refusals") {
    import graft.sources.v2.PagedJson
    // 125 rows in pages of 23: five full pages + a short last of 10
    val m = PagedJson.Manifest(125, 6, Some(23))
    assert(PagedJson.apportionedCount(m, Int.MinValue, Int.MaxValue) === Some(125L))
    assert(PagedJson.apportionedCount(m, 2, Int.MaxValue) === Some(102L))
    assert(PagedJson.apportionedCount(m, 2, 5) === Some(92L), "full pages only")
    assert(PagedJson.apportionedCount(m, 6, 6) === Some(10L), "short last alone")
    assert(PagedJson.apportionedCount(m, 7, 9) === Some(0L), "past the end")
    assert(PagedJson.apportionedCount(m, -3, 0) === Some(0L), "before the start")
    // refusals: the manifest must carry CONSISTENT page-size invariants —
    // a missing per_page, an implied empty page, or an overfull layout all
    // fall back to the normal per-page scan
    assert(PagedJson.apportionedCount(
      PagedJson.Manifest(125, 6, None), 2, 5) === None)
    assert(PagedJson.apportionedCount(
      PagedJson.Manifest(125, 7, Some(23)), 2, 5) === None,
      "(P-1)*s >= total implies an empty page — inconsistent")
    assert(PagedJson.apportionedCount(
      PagedJson.Manifest(200, 6, Some(23)), 2, 5) === None,
      "total > P*s — inconsistent")
    assert(PagedJson.apportionedCount(
      PagedJson.Manifest(0, 0, Some(23)), 1, 5) === Some(0L), "empty corpus")
  }

  test("pruned COUNT pushdown over file layouts: answered for dense " +
    "1-based numbering, refused for 0-based (the apportionment's " +
    "page-identity assumption must hold, not be hoped)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "v", org.apache.spark.sql.types.LongType)))
    def mkDir(firstPage: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-prcount").toString
      // 10 rows in pages of 3: sizes 3,3,3,1
      (0 until 4).foreach { i =>
        val rows = (i * 3 until math.min(10, i * 3 + 3))
          .map(v => s"""{"v":$v}""")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/page-${i + firstPage}.json"),
          rows.mkString("\n").getBytes("UTF-8"))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/meta.json"),
        s"""{"pagination":{"total_count":10,"total_pages":4,"per_page":3}}"""
          .getBytes("UTF-8"))
      dir
    }
    def prunedCount(dir: String): (Long, String) = {
      val q = spark.read.format("graft-pages").schema(schema).load(dir)
        .where(col("page") >= 2).agg(count(lit(1)).as("n"))
      (q.head().getLong(0), q.queryExecution.executedPlan.toString)
    }
    val (n1, p1) = prunedCount(mkDir(firstPage = 1))
    assert(n1 === 7, "pages 2..4 of the 1-based layout hold 3+3+1 rows")
    assert(p1.contains("from manifest"),
      s"dense 1-based file layout must answer from the manifest:\n$p1")
    val zeroDir = mkDir(firstPage = 0)
    val (n0, p0) = prunedCount(zeroDir)
    assert(n0 === 4, "file pages 2..3 of the 0-based layout hold 3+1 rows")
    assert(!p0.contains("from manifest"),
      s"0-based numbering must refuse apportionment and scan:\n$p0")
    // the FULL count still answers from the manifest on any numbering
    val full = spark.read.format("graft-pages").schema(schema).load(zeroDir)
      .agg(count(lit(1)).as("n"))
    assert(full.head().getLong(0) === 10)
    assert(full.queryExecution.executedPlan.toString.contains("from manifest"))
  }

  test("progress/ETA listener tracks tasks and formats HH:MM:SS (K6/A5/X17)") {
    import graft.sources.ProgressEtaListener
    var now = 0L
    val listener = new ProgressEtaListener(() => now)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(0, 1000, 1, 8).selectExpr("sum(id)").collect()
      // listener bus is async; poll until the task events land
      val deadline = System.nanoTime() + 10_000_000_000L
      while ({ val (d, t) = listener.progress; t == 0 || d < t } &&
        System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    val (done, total) = listener.progress
    assert(done === total && total >= 8, s"done=$done total=$total")
    assert(listener.etaMillis.isEmpty) // all done -> nothing remaining
    assert(listener.formatEta === "--:--:--")
    // simulate: 4 of 8 tasks done, clock advanced 10s -> 10s remaining
    val half = new ProgressEtaListener(() => now)
    half.recordStage(8)
    now = 10000L
    (1 to 4).foreach(_ => half.recordTask())
    assert(half.etaMillis === Some(10000L))
    assert(half.formatEta === "00:00:10")
  }

  test("DSv2 paged source over live HTTP: fetch, pushdown pruning, rate limit, retry") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val requested = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val pages = Fixtures.customers.grouped(3).zipWithIndex.toSeq
    val bodies: Map[String, String] =
      pages.map { case (group, i) =>
        s"/api/page-${i + 1}.json" ->
          group.map(c => s"""{"email":${ujson(c.email)},"name":${ujson(c.name)}}""")
            .mkString("\n")
      }.toMap +
        ("/api/meta.json" ->
          s"""{"pagination":{"total_count":${Fixtures.customers.size},"total_pages":${pages.size}}}""")

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath
        requested.add(p)
        // first page-1 request 503s to exercise the retry path
        if (p.endsWith("page-1.json") && failOnce.getAndSet(false)) {
          ex.sendResponseHeaders(503, -1); ex.close(); return
        }
        bodies.get(p) match {
          case Some(b) =>
            val bytes = b.getBytes("UTF-8")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/api"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("email", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
      val df = spark.read.format("graft-pages").schema(schema)
        .option("ratelimit", "2").option("ratelimitWindowMs", "300")
        .load(base)

      // count(email) is NOT pushable (only bare COUNT(*) is), so this
      // pass genuinely fetches every page — the throttle/retry vehicle
      val t0 = System.nanoTime()
      assert(df.agg(count(col("email"))).head().getLong(0)
        === Fixtures.customers.size.toLong)
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // 3 pages at 2 req / 300 ms -> at least one full-window sleep
      assert(elapsedMs >= 250, s"rate limiter never throttled ($elapsedMs ms)")
      assert(requested.asScala.count(_.endsWith("page-1.json")) === 2) // 503 + retry

      // bare COUNT(*) is a COMPLETE aggregate pushdown answered from the
      // manifest: zero requests of any kind (meta rides the plan-time
      // cache) — the reference's count-first call with no page scan
      requested.clear()
      assert(df.count() === Fixtures.customers.size.toLong)
      assert(requested.asScala.isEmpty,
        s"pushed COUNT(*) still fetched: ${requested.asScala.toSeq}")

      // page-range pushdown: pruned pages are never requested over the wire
      requested.clear()
      val ranged = df.where(col("page") === 2)
      assert(ranged.count() === 3)
      val pagesFetched = requested.asScala.filter(_.contains("page-")).toSeq
      assert(pagesFetched.forall(_.endsWith("page-2.json")),
        s"pruned pages were fetched: $pagesFetched")
      // manifest caching: both queries' planning passes (listPages +
      // estimateStatistics each) ride ONE meta.json fetch within the TTL —
      // the first query's — so the second query fetched zero manifests
      assert(requested.asScala.count(_.endsWith("meta.json")) === 0,
        s"manifest re-fetched at plan time: ${requested.asScala.toSeq}")
    } finally server.stop(0)
  }

  test("paged source over an unreachable server: the scan error keeps " +
    "the manifest fetch failure as its cause") {
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("email", org.apache.spark.sql.types.StringType)))
    val e = intercept[Exception] {
      spark.read.format("graft-pages").schema(schema)
        .load(s"http://127.0.0.1:$port/api").collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    val manifestErr = chain.collectFirst {
      case m: IllegalArgumentException if m.getMessage.contains("meta.json") => m
    }
    assert(manifestErr.isDefined, s"no manifest error in ${chain.mkString(" <- ")}")
    assert(manifestErr.get.getCause.isInstanceOf[java.net.ConnectException],
      s"the cause must be the connection failure: ${manifestErr.get.getCause}")
    assert(manifestErr.get.getMessage.contains("ConnectException"),
      s"the message must name the connection failure: ${manifestErr.get.getMessage}")
  }

  test("S6 live attachment fetch: payloads, 404 -> failed note, 429 retry, throttle") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.migration.{AttachmentFetch, TicketTransform}
    val pngBytes = Array(0x89.toByte, 0x50.toByte, 0x4E.toByte, 0x47.toByte) ++
      "png-body".getBytes("UTF-8")
    val pdfBytes = "%PDF-1.4 live".getBytes("UTF-8")
    val flakyBytes = "flaky-body".getBytes("UTF-8")
    val requested = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val flakyOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/files", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val p = ex.getRequestURI.getPath
        requested.add(p)
        val body: Option[Array[Byte]] = p match {
          case s if s.endsWith("burning.png") => Some(pngBytes)
          case s if s.endsWith("doc.pdf") => Some(pdfBytes)
          case s if s.endsWith("flaky.bin") =>
            if (flakyOnce.getAndSet(false)) { // 429 once, honoring Retry-After
              ex.getResponseHeaders.add("Retry-After", "0")
              ex.sendResponseHeaders(429, -1); ex.close(); return
            } else Some(flakyBytes)
          case _ => None
        }
        body match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/files"
      import spark.implicits._
      val live = Seq(
        ("m1", "burning.png", 2048L, s"$base/burning.png"),
        ("m1", "doc.pdf", 4096L, s"$base/doc.pdf"),
        ("m4", "flaky.bin", 1024L, s"$base/flaky.bin"),
        ("m4", "missing.bin", 512L, s"$base/missing.bin"))
        .toDF("message_id", "filename", "size", "url")

      val t0 = System.nanoTime()
      val fetched = AttachmentFetch.fetchPayloads(
        live, ratePerWindow = 2, windowMillis = 300).cache()
      val rows = fetched.orderBy("filename").collect()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // 4 fetches + 1 retry at 2 req / 300 ms -> at least one window sleep
      assert(elapsedMs >= 250, s"fetch throttle never engaged ($elapsedMs ms)")

      val byName = rows.map(r => r.getAs[String]("filename") -> r).toMap
      assert(byName("burning.png").getAs[Array[Byte]]("payload").sameElements(pngBytes))
      assert(byName("doc.pdf").getAs[Array[Byte]]("payload").sameElements(pdfBytes))
      assert(byName("flaky.bin").getAs[Array[Byte]]("payload").sameElements(flakyBytes))
      assert(byName("missing.bin").isNullAt(byName("missing.bin").fieldIndex("payload")))
      assert(byName("missing.bin").getAs[String](AttachmentFetch.FetchError).contains("404"))
      assert(rows.filter(_.getAs[String]("filename") != "missing.bin")
        .forall(_.isNullAt(rows.head.fieldIndex(AttachmentFetch.FetchError))))
      // the 429'd URL was requested exactly twice (429 + retried 200)
      assert(requested.asScala.count(_.endsWith("flaky.bin")) === 2)

      // stage A consumes the fetched frame unchanged: mime sniff + hash on
      // successes, the 404 row lands on the failed-note path (TP:313-333)
      val (ok, failed) = TicketTransform.uploadAttachments(fetched)
      val okRows = ok.orderBy("filename").collect()
      assert(okRows.map(_.getAs[String]("filename")).toSeq ===
        Seq("burning.png", "doc.pdf", "flaky.bin"))
      assert(okRows.map(_.getAs[String]("mime_type")).toSeq ===
        Seq("image/png", "application/pdf", "application/octet-stream"))
      assert(okRows.forall(_.getAs[String]("hash").length === 32))
      val failedRows = failed.collect()
      assert(failedRows.map(_.getAs[String]("filename")).toSeq === Seq("missing.bin"))
      assert(failedRows.head.getAs[String]("url").endsWith("missing.bin"))
      fetched.unpersist()
    } finally server.stop(0)
  }

  test("default HTTP publisher: per-record POST, ApiException capture, grouped report, X16 parity") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.migration.MigrationFunctions
    val posted = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val flakyOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val apiErrorBody =
      """{"message":"Validation failed","errors":[
        |{"property":"subject","message":"may not be empty","value":null},
        |{"property":"customer","message":"unknown customer","value":"x"}]}""".stripMargin
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/conv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        posted.add(body)
        def respond(code: Int, b: Array[Byte]): Unit = {
          if (b.isEmpty) ex.sendResponseHeaders(code, -1)
          else { ex.sendResponseHeaders(code, b.length); ex.getResponseBody.write(b) }
          ex.close()
        }
        if (body.contains("\"subject\":\"\""))
          respond(400, apiErrorBody.getBytes("UTF-8"))        // ApiException arm
        else if (body.contains("Flaky") && flakyOnce.getAndSet(false)) {
          ex.getResponseHeaders.add("Retry-After", "0")
          respond(429, Array.empty)                            // retried, succeeds
        } else if (body.contains("Down")) {
          ex.getResponseHeaders.add("Retry-After", "0")
          respond(500, "upstream down".getBytes("UTF-8"))      // unstructured arm
        } else respond(201, Array.empty)
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/conv"
      import spark.implicits._
      val conversations = Seq(
        (1001L, "Printer on fire"), (1002L, ""), (1003L, "Flaky"), (1004L, "Down"))
        .toDF("groove_ticket_number", "subject")

      val (batches, rows, errs) = httpPublish(
        conversations, endpoint, batchSize = 2, parallelism = 2,
        idCol = Some("groove_ticket_number"), maxRetries = 1)
      assert(rows === 4 && batches >= 2)
      // one POST per record: 4 records + 1 flaky retry + 1 Down retry = 6
      assert(posted.size === 6, s"got ${posted.size} posts: $posted")
      assert(posted.asScala.exists(b =>
        b.contains("\"groove_ticket_number\":1001") && b.contains("Printer on fire")))

      // error channel: 2 structured pairs for #1002 + 1 unstructured for #1004
      val errRows = errs.orderBy(ErrorChannel.ErrorType).collect()
      assert(errRows.map(_.getString(0)).toSeq ===
        Seq("HTTP 500", "may not be empty", "unknown customer"))
      val detailFor = errRows.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(detailFor("may not be empty")
        .contains("[subject] may not be empty (groove_ticket_number=1002)"))
      assert(detailFor("unknown customer")
        .contains("[customer] unknown customer (groove_ticket_number=1002)"))
      assert(detailFor("HTTP 500").contains("(groove_ticket_number=1004)"))

      // the grouped report is the reference's CSV shape (error_type, n, details)
      val report = ErrorChannel.groupedReport(
        errs.select(col(ErrorChannel.ErrorType), col(ErrorChannel.ErrorDetail))).collect()
      assert(report.map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("HTTP 500", 1L), ("may not be empty", 1L), ("unknown customer", 1L)))

      // X16 parity: the column-side formatErrors renders the same [prop] msg
      // lines the publisher captured from the API error body
      val formatted = Seq(1).toDF("one").select(MigrationFunctions.formatErrors(
        array(
          struct(lit("subject").as("property"), lit("may not be empty").as("message")),
          struct(lit("customer").as("property"), lit("unknown customer").as("message"))))
        .as("f")).head().getString(0)
      assert(formatted === "[subject] may not be empty; [customer] unknown customer")
      assert(detailFor("may not be empty").contains("[subject] may not be empty"))
      assert(detailFor("unknown customer").contains("[customer] unknown customer"))
    } finally server.stop(0)
  }

  test("Retry-After parsing: delta-seconds, HTTP-date, garbage") {
    assert(HttpPublisher.parseRetryAfterMs("120") === Some(120000L))
    assert(HttpPublisher.parseRetryAfterMs(" 0 ") === Some(0L))
    // a past HTTP-date means "retry now", never negative
    assert(HttpPublisher.parseRetryAfterMs("Wed, 21 Oct 2015 07:28:00 GMT")
      === Some(0L))
    // a far-future HTTP-date lands in the right ballpark (>1h from now)
    val future = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
      .plusHours(2).format(
        java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
    assert(HttpPublisher.parseRetryAfterMs(future).exists(_ > 3600L * 1000))
    assert(HttpPublisher.parseRetryAfterMs("soon") === None)
    assert(HttpPublisher.parseRetryAfterMs("") === None)
    // hostile values must never produce a negative sleep (Thread.sleep
    // throws) — negatives retry now, overflows saturate into the clamp
    assert(HttpPublisher.parseRetryAfterMs("-1") === Some(0L))
    assert(HttpPublisher.parseRetryAfterMs("9223372036854776") === Some(Long.MaxValue))
  }

  test("publisher clamps Retry-After: a day-long hold fails fast into the error channel") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val hits = new AtomicLong(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/conv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        ex.getResponseHeaders.add("Retry-After", "86400") // one day
        ex.sendResponseHeaders(429, -1); ex.close()
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/conv"
      import spark.implicits._
      val df = Seq((1L, "held")).toDF("id", "subject")
      val t0 = System.nanoTime()
      val (_, rows, errs) = httpPublish(
        df, endpoint, batchSize = 1, parallelism = 1,
        idCol = Some("id"), maxRetries = 3)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      // returned within the clamp (not 86400 s), gave up on first response
      assert(elapsedMs < 30000L, s"took ${elapsedMs}ms")
      assert(hits.get() === 1L, "an over-clamp hold must not be retried")
      assert(rows === 1)
      val err = errs.collect()
      assert(err.length === 1)
      assert(err.head.getString(0) === "HTTP 429")
      assert(err.head.getString(1).contains("Retry-After 86400s exceeds"))
      assert(err.head.getString(1).contains("(id=1)"))
    } finally server.stop(0)
  }

  test("HttpFetch clamps Retry-After: over-clamp hold throws instead of stalling") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.v2.{HttpFetch, RateLimitConf}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/blob", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getResponseHeaders.add("Retry-After", "99999")
        ex.sendResponseHeaders(429, -1); ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/blob"
      val t0 = System.nanoTime()
      val e = intercept[java.io.IOException] {
        HttpFetch.getBytes(url, RateLimitConf(0, 60000L))
      }
      assert((System.nanoTime() - t0) / 1000000L < 30000L)
      assert(e.getMessage.contains("exceeds the 4000ms clamp"))
    } finally server.stop(0)
  }

  test("DSv2 keyed WRITE: clustered shuffle, commit protocol, SPJ round-trip") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-keyed-write").toString
    val df = (0L until 500L).map(k => (k, k * 3.0)).toDF("k", "v")
      .withColumn("shard", pmod(xxhash64(col("k")), lit(8L)).cast("int"))
    df.write.format("graft-keyed").option("keycol", "shard")
      .mode("append").save(s"$base/t")
    // layout: shard dirs only — no _tmp residue, no stray files
    val entries = new java.io.File(s"$base/t").listFiles().map(_.getName).sorted
    assert(entries.length === 8 && entries.forall(_.startsWith("shard=")), entries.toSeq)
    // round-trip through the read side (key injected from dir names)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("shard", IntegerType)))
    val back = spark.read.format("graft-keyed").schema(sch)
      .option("keycol", "shard").load(s"$base/t")
    assert(back.count() === 500L)
    assert(back.orderBy("k").collect().toSeq ===
      df.orderBy("k").collect().toSeq, "write→read round-trip must be exact")
    // the write plan carries the connector-REQUESTED clustering by shard
    // (RequiresDistributionAndOrdering): each shard dir written whole by
    // one task ⇒ exactly one part file per dir
    for (d <- new java.io.File(s"$base/t").listFiles())
      assert(d.listFiles().length === 1,
        s"${d.getName}: clustered write must produce one file per shard")
    // SPJ over two layouts produced by the WRITER: zero Exchange
    val dim = (0L until 500L by 5).map(k => (k, s"g${k % 3}")).toDF("k2", "g")
      .withColumn("shard", pmod(xxhash64(col("k2")), lit(8L)).cast("int"))
    dim.write.format("graft-keyed").option("keycol", "shard")
      .mode("append").save(s"$base/d")
    val dsch = StructType(Seq(StructField("k2", LongType),
      StructField("g", StringType), StructField("shard", IntegerType)))
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "false")
      spark.conf.set(keys(2), "-1")
      val l = spark.read.format("graft-keyed").schema(sch)
        .option("keycol", "shard").load(s"$base/t")
      val r = spark.read.format("graft-keyed").schema(dsch)
        .option("keycol", "shard").load(s"$base/d")
      val j = l.join(r, l("shard") === r("shard") && col("k") === col("k2"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"writer-produced layout must SPJ shuffle-free:\n${p.take(800)}")
      assert(j.count() === 100L)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 keyed source: shard injection from dir names, SPJ on/off control") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-keyed-spec").toString
    import spark.implicits._
    val left = (0L until 400L).map(k => (k, k * 2.0)).toDF("k", "v")
      .withColumn("shard", pmod(xxhash64(col("k")), lit(8L)).cast("int"))
    val right = (0L until 400L by 4).map(k => (k, s"g${k % 5}")).toDF("k2", "g")
      .withColumn("shard", pmod(xxhash64(col("k2")), lit(8L)).cast("int"))
    left.write.partitionBy("shard").json(s"$base/l")
    right.write.partitionBy("shard").json(s"$base/r")
    val lSchema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("shard", IntegerType)))
    val rSchema = StructType(Seq(StructField("k2", LongType),
      StructField("g", StringType), StructField("shard", IntegerType)))
    def rd(p: String, sch: StructType) =
      spark.read.format("graft-keyed").schema(sch).option("keycol", "shard").load(p)

    // the injected shard must equal the hash the writer partitioned by
    val l = rd(s"$base/l", lSchema)
    assert(l.filter(col("shard") =!=
      pmod(xxhash64(col("k")), lit(8L)).cast("int")).count() === 0L)
    assert(l.count() === 400L)

    // one input partition per shard dir, keyed
    val scan = new graft.sources.v2.KeyedJsonScan(lSchema, lSchema, s"$base/l", "shard")
    val parts = scan.planInputPartitions()
    assert(parts.length === 8)

    // a typo'd / URI-prefixed path is an ERROR, never an empty scan
    val bad = intercept[Exception] {
      rd(s"$base/nope", lSchema).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(bad).exists(_.contains("not a local directory")), msgs(bad).take(2))

    // a stray shard dir whose numeric suffix exceeds Int range is a NAMED
    // layout error (the key column is 32-bit), not a NumberFormatException
    val strayBase = java.nio.file.Files
      .createTempDirectory("graft-keyed-stray").toString
    val stray = new java.io.File(s"$strayBase/shard=99999999999")
    assert(stray.mkdirs())
    java.nio.file.Files.write(
      stray.toPath.resolve("part-0.json"),
      """{"k":1,"v":2.0}""".getBytes("UTF-8"))
    val strayErr = intercept[Exception] {
      graft.sources.v2.KeyedJson.listShards(strayBase, "shard")
    }
    assert(msgs(strayErr).exists(m =>
      m.contains("graft-keyed") && m.contains("outside Int range")),
      msgs(strayErr).take(2))

    // shard pushdown: equality/IN prune whole dirs at planning time
    val pruned = new graft.sources.v2.KeyedJsonScan(
      lSchema, lSchema, s"$base/l", "shard", keep = Some(Set(3)))
    assert(pruned.planInputPartitions().length === 1)
    val one = l.filter(col("shard") === 3)
    assert(one.queryExecution.executedPlan.toString.contains("shards=[3]"),
      "planned scan must list only the kept shard dir")
    assert(one.count() ===
      l.collect().count(_.getAs[Int]("shard") == 3).toLong)
    val two = l.filter(col("shard").isin(2, 5))
    assert(two.queryExecution.executedPlan.toString.contains("shards=[2,5]"))
    assert(two.count() ===
      l.collect().count(r => Set(2, 5)(r.getAs[Int]("shard"))).toLong)
    assert(parts.forall(_.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey]))
    val kgp = scan.outputPartitioning()
      .asInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]
    assert(kgp.numPartitions === 8)

    // positive + NEGATIVE control: the zero-Exchange join exists only
    // because of the reported partitioning — flipping the conf off must
    // bring the shuffle back (proves the plan isn't degenerate)
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(1), "false")
      spark.conf.set(keys(2), "-1")
      def joinPlan(): String = {
        val lf = rd(s"$base/l", lSchema); val rf = rd(s"$base/r", rSchema)
        lf.join(rf, lf("shard") === rf("shard") && col("k") === col("k2"))
          .queryExecution.executedPlan.toString
      }
      spark.conf.set(keys(0), "true")
      val on = joinPlan()
      assert(!on.contains("Exchange"), s"SPJ did not engage:\n${on.take(800)}")
      spark.conf.set(keys(0), "false")
      val off = joinPlan()
      assert(off.contains("Exchange"),
        "without v2 bucketing the join must shuffle — the SPJ claim is vacuous otherwise")
      // correctness under SPJ: equals the plain shuffled join
      spark.conf.set(keys(0), "true")
      val lf = rd(s"$base/l", lSchema); val rf = rd(s"$base/r", rSchema)
      val got = lf.join(rf, lf("shard") === rf("shard") && col("k") === col("k2"))
        .agg(count(lit(1)), round(sum(col("v")), 2)).collect()(0)
      assert(got.getLong(0) === 100L)
      assert(got.getDouble(1) === (0L until 400L by 4).map(_ * 2.0).sum)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DSv2 keyed STREAM: exactly-once under replay-after-commit, " +
    "partial-residue crash, and a REAL checkpoint-rollback restart") {
    import org.apache.spark.sql.types._
    import graft.sources.v2.KeyedJsonStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-keyed-stream").toString
    val srcDir = new java.io.File(s"$base/src"); srcDir.mkdirs()
    val outDir = s"$base/out"
    val ck = s"$base/ck"
    // 3 one-file micro-batches (mtime-forced order, the q142 device)
    for (b <- 0 until 3) {
      val f = new java.io.File(srcDir, f"f$b%02d.json")
      val rows = (0 until 20).map(i => s"""{"k":${b * 100 + i},"v":${i * 2.0}}""")
      java.nio.file.Files.write(f.toPath, rows.asJava)
      assert(f.setLastModified((b + 1) * 60000L))
    }
    val inSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    def stream = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1).json(srcDir.toString)
      .withColumn("shard", pmod(xxhash64(col("k")), lit(4L)).cast("int"))
    val q = KeyedJsonStream.writer(stream, outDir, "shard", ck).start()
    q.awaitTermination()
    assert((0L to 2L).forall(KeyedJsonStream.isCommitted(outDir, _)),
      "every micro-batch must leave its commit marker")
    val outSchema = StructType(inSchema.fields :+
      StructField("shard", IntegerType))
    def readBack() = spark.read.format("graft-keyed").schema(outSchema)
      .option("keycol", "shard").load(outDir)
    assert(readBack().count() === 60L)

    // replay after commit (the crash window between sink commit and
    // checkpoint commit): same batch id again -> skipped whole
    import spark.implicits._
    val replayDf = Seq((100L, 0.0)).toDF("k", "v")
      .withColumn("shard", pmod(xxhash64(col("k")), lit(4L)).cast("int"))
    assert(!KeyedJsonStream.appendBatch(replayDf, outDir, "shard", 1L))
    assert(readBack().count() === 60L, "replayed batch must change nothing")

    // crash mid-commit: a previous attempt of batch 3 moved SOME files
    // in (visible partial) but died before its marker — the replay must
    // scrub the residue and land the batch exactly once
    val orphan = new java.io.File(s"$outDir/shard=0/batch-3-part-orphan.json")
    java.nio.file.Files.write(orphan.toPath,
      Seq("""{"k":999,"v":99.0}""").asJava)
    assert(readBack().count() === 61L, "planted partial is visible pre-replay")
    val b3 = (300L until 320L).map(k => (k, 1.0)).toDF("k", "v")
      .withColumn("shard", pmod(xxhash64(col("k")), lit(4L)).cast("int"))
    assert(KeyedJsonStream.appendBatch(b3, outDir, "shard", 3L))
    assert(!orphan.exists, "replay must scrub the crashed attempt's residue")
    assert(readBack().count() === 80L)
    assert(readBack().filter(col("k") === 999L).count() === 0L)
    // double-apply of the same id after ITS commit: no-op
    assert(!KeyedJsonStream.appendBatch(b3, outDir, "shard", 3L))
    assert(readBack().count() === 80L)

    // REAL at-least-once replay: roll the checkpoint back (delete the
    // last batch's commit record) and restart — Structured Streaming
    // re-executes batch 2 with the same id; the marker makes it a skip
    val commit2 = new java.io.File(s"$ck/commits/2")
    assert(commit2.isFile, "checkpoint layout changed? expected commits/2")
    assert(commit2.delete())
    // Spark 4's checkpoint manager writes a checksum sidecar next to
    // each log file; a stale .2.crc would make the replayed commit's
    // rename fail as a phantom concurrent writer
    new java.io.File(s"$ck/commits/.2.crc").delete()
    // the terminated query deregisters from the active-checkpoint map
    // asynchronously after awaitTermination — wait it out before the
    // restart claims the same checkpoint
    val deadline = System.currentTimeMillis() + 30000
    while (spark.streams.active.nonEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    val q2 = KeyedJsonStream.writer(stream, outDir, "shard", ck).start()
    q2.awaitTermination()
    assert(readBack().count() === 80L,
      "checkpoint-rollback replay must not duplicate batch 2")
    // content exactness: every (k, v) pair exactly once
    val ks = readBack().select("k").as[Long].collect().sorted
    assert(ks.toSeq === ((0L until 20L) ++ (100L until 120L) ++
      (200L until 220L) ++ (300L until 320L)).map(identity))
  }

  test("HttpPublisher Idempotency-Key: a rerun of a crashed publish " +
    "presents the same key per record; without idCol no header is sent") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import spark.implicits._
    // hermetic service that HONORS the header: counts every POST, but
    // applies each distinct key once (the Stripe-style dedup contract)
    val applied = java.util.Collections.synchronizedSet(
      new java.util.HashSet[String]())
    val posts = new AtomicLong(0)
    val headerless = new AtomicLong(0)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/idem", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        posts.incrementAndGet()
        Option(ex.getRequestHeaders.getFirst("Idempotency-Key")) match {
          case Some(k) => applied.add(k); ()
          case None => headerless.incrementAndGet(); ()
        }
        ex.sendResponseHeaders(201, -1); ex.close()
      }
    })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/idem"
      val df = (1L to 6L).map(i => (i, s"subj$i")).toDF("id", "subject")
      val errs = new BoundedErrorAccumulator(10)
      spark.sparkContext.register(errs, "idem-errors")
      val keyed = new HttpPublisher(endpoint, errs.add _, idCol = Some("id"))
      // the first run crashes after its first batch of 2; the rerun posts
      // all 6: the wire sees 8 POSTs but only 6 DISTINCT keys, so a
      // header-honoring service applied each record exactly once
      intercept[org.apache.spark.SparkException] {
        RateLimitedSink.publish(df, ratePerMinute = 1000000, batchSize = 2,
          parallelism = 1)(new FailAfterFirstBatch(keyed))
      }
      assert(posts.get === 2L)
      RateLimitedSink.publish(df, ratePerMinute = 1000000, batchSize = 2,
        parallelism = 2)(keyed)
      assert(posts.get === 8L, "the rerun re-posts every record")
      assert(headerless.get === 0L)
      assert(applied.asScala.toSet === (1 to 6).map(_.toString).toSet,
        "each record must present ONE stable key, its id, across the rerun")
      assert(errs.value.total === 0L)
      // no idCol → no header at all
      posts.set(0)
      RateLimitedSink.publish(df, ratePerMinute = 1000000, batchSize = 2,
        parallelism = 2)(new HttpPublisher(endpoint, errs.add _))
      assert(posts.get === 6L && headerless.get === 6L,
        "without idCol no Idempotency-Key header may be sent")
    } finally server.stop(0)
  }

  test("classic publish path is driver-bounded: BoundedErrorAccumulator " +
    "caps samples, keeps exact per-type counts, and flags the overflow") {
    import spark.implicits._
    // unit: cap + exact counts through add/merge
    val a = new BoundedErrorAccumulator(3)
    (1 to 10).foreach(i => a.add(("HTTP 500", s"d$i")))
    val b = new BoundedErrorAccumulator(3)
    (1 to 5).foreach(i => b.add(("timeout", s"t$i")))
    a.merge(b)
    val v = a.value
    assert(v.samples.size === 3, "sample cap must hold across merges")
    assert(v.typeCounts === Map("HTTP 500" -> 10L, "timeout" -> 5L),
      "per-type counts must stay exact past the cap")
    assert(v.total === 15L)
    // end-to-end: every record fails (connection refused), cap 4 —
    // the errors frame is capped + flagged, with the exact count stated
    val df = (1L to 120L).map(i => (i, s"s$i")).toDF("id", "subject")
    val (_, rows, errs) = httpPublish(
      df, "http://127.0.0.1:1/refused", batchSize = 10, parallelism = 2,
      idCol = Some("id"), maxRetries = 0, maxErrorSamples = 4)
    assert(rows === 120L)
    val errRows = errs.collect()
    assert(errRows.length <= 5,
      s"driver-side error rows must be bounded: ${errRows.length}")
    val flagged = errRows.filter(_.getString(1).contains("sample cap"))
    assert(flagged.length === 1, errRows.mkString("; "))
    assert(flagged.head.getString(1).contains("count: 120"),
      s"the flag must state the exact count: ${flagged.head.getString(1)}")
  }
}
