package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 implementation of the reference's paginated scan (S1/S2:
  * SyncCustomers.php:57-83, SyncTickets.php:169-202) over the page-per-file
  * JSON layout (`page-<n>.json` + `meta.json` manifest) — the "custom work
  * needed" column of SURVEY §4 made real:
  *
  *  - one InputPartition per page → pages are the unit of parallelism, as
  *    in the reference's page loop, but fetched concurrently;
  *  - SupportsPushDownFilters on the synthetic `page` column → the
  *    `--startPage/--stopPage` range (F4) prunes partitions at PLANNING
  *    time; pruned pages are never opened;
  *  - SupportsPushDownRequiredColumns → the Jackson parse only materializes
  *    requested fields (column pruning inside the record decoder);
  *  - SupportsReportStatistics from the manifest → the count-first planning
  *    the reference does with its first `meta` fetch (A1, SC:57-63).
  *
  * Usage: spark.read.format("graft-pages").schema(s).load(dir). The same
  * source is live-REST-backed when the path is an http(s) URL serving the
  * identical layout (`<url>/meta.json`, `<url>/page-<n>.json`): planning
  * (pushdown, statistics, partition-per-page) is shared, only the byte
  * fetch differs, and executors throttle fetches through a per-JVM token
  * bucket (`ratelimit` requests per `ratelimitWindowMs`) with retry/backoff
  * on 429/5xx — the reference's per-service rolling-window limiter
  * (SyncCommandBase.php:163-193) moved into the scan.
  */
class PagedJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-pages"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-pages requires an explicit schema (schema-on-read, SURVEY §1.1)")

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties arrive CASE-SENSITIVE here (unlike inferSchema's map), so
    // re-wrap: a user's `.option("ratelimitWindowMs", ...)` must not be
    // silently ignored in favor of the 60 s default
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).orElse(Option(opts.get("url")))
      .getOrElse(throw new IllegalArgumentException("graft-pages requires a path or url"))
    val rate = RateLimitConf(
      Option(opts.get("ratelimit")).map(_.toInt).getOrElse(0),
      Option(opts.get("ratelimitwindowms")).map(_.toLong).getOrElse(60000L))
    new PagedJsonTable(schema, path, rate)
  }
}

/** Source-side throttle config: maxPerWindow == 0 disables. */
case class RateLimitConf(maxPerWindow: Int, windowMillis: Long) extends Serializable

class PagedJsonTable(userSchema: StructType, path: String, rate: RateLimitConf)
    extends Table with SupportsRead {
  override def name(): String = s"graft-pages:$path"
  override def schema(): StructType = PagedJson.fullSchema(userSchema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedJsonScanBuilder(userSchema, path, rate)
}

object PagedJson {
  val PageCol = "page"
  def fullSchema(userSchema: StructType): StructType =
    userSchema.add(StructField(PageCol, IntegerType, nullable = false))

  def isHttp(path: String): Boolean =
    path.startsWith("http://") || path.startsWith("https://")

  /** (page, location) pairs. Files: directory listing. HTTP: manifest
    * total_pages drives the page-URL range — the count-first call. */
  def listPages(path: String): Seq[(Int, String)] =
    if (isHttp(path)) {
      val total = manifestOrFailure(path) match {
        case Right(Some(m)) => m.totalPages.toInt
        case other =>
          val cause = other.left.toOption
          throw new IllegalArgumentException(
            s"graft-pages: $path/meta.json with total_pages is required for HTTP scans" +
              cause.fold("")(e => s" (fetch failed: $e)"), cause.orNull)
      }
      (1 to total).map(n => n -> s"$path/page-$n.json")
    } else {
      val dir = new java.io.File(path)
      val re = "page-(\\d+)\\.json".r
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => f.getName match {
          case re(n) => Some(n.toInt -> f.getAbsolutePath)
          case _ => None
        }).sortBy(_._1)
    }

  /** The parsed manifest. `perPage` is the OPTIONAL fixed page size
    * (the reference's `per_page` request parameter, SyncCustomers.php:60
    * 50/page, SyncTickets.php:172 10/page): when present and consistent
    * it licenses exact page-range COUNT apportionment with zero page
    * fetches — see [[apportionedCount]]. */
  final case class Manifest(totalCount: Long, totalPages: Long,
      perPage: Option[Long])

  // short-TTL manifest cache: one planning pass reads the manifest from
  // both listPages and estimateStatistics — over HTTP that was two remote
  // round-trips per query plan. The TTL keeps a long-lived session from
  // planning against a stale page count forever.
  private val ManifestTtlMs = 30000L
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Manifest)]()

  /** Full manifest, file or HTTP (cached); None when it is missing,
    * unparseable or could not be fetched. Only SUCCESSFUL fetches are
    * cached — caching a transient failure would poison planning on the
    * path for the whole TTL. */
  def readManifestFull(path: String): Option[Manifest] =
    manifestOrFailure(path).toOption.flatten

  /** As [[readManifestFull]], keeping why a fetch failed: Left(cause) when
    * reading meta.json threw (an unreachable server, an HTTP error),
    * Right(None) when it was read but lacks the totals. */
  private def manifestOrFailure(path: String): Either[Exception, Option[Manifest]] = {
    val now = System.currentTimeMillis()
    val cached = manifestCache.get(path)
    if (cached != null && now - cached._1 < ManifestTtlMs) Right(Some(cached._2))
    else {
      val fresh = fetchManifest(path)
      fresh.foreach(_.foreach(m => manifestCache.put(path, (now, m))))
      fresh
    }
  }

  private def fetchManifest(path: String): Either[Exception, Option[Manifest]] = try {
    val txt =
      if (isHttp(path)) HttpFetch.get(s"$path/meta.json", RateLimitConf(0, 0)).mkString("\n")
      else new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$path/meta.json")), "UTF-8")
    val count = "\"total_count\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    val pagesTotal = "\"total_pages\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    val perPage = "\"per_page\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
    Right(for (c <- count; p <- pagesTotal) yield Manifest(c, p, perPage))
  } catch { case e: Exception => Left(e) }

  /** Exact row count of the pruned page range [minPage, maxPage] from
    * the manifest ALONE — zero pages listed, opened, or fetched. Defined
    * only when the manifest carries the fixed-page-size invariants:
    * `per_page` present and every page full except a possibly-short last
    * (`(P-1)·s < total ≤ P·s` — the shape a `per_page`-driven API
    * necessarily produces under 1-based numbering). Refuses (None)
    * otherwise, falling back to the normal per-page scan.
    *
    * The arithmetic: pages [lo, hi] clamped to [1, P]; full pages
    * contribute `per_page` each, the last page `total − (P−1)·per_page`.
    * At 100 TB-of-API this turns a pruned `--startPage/--stopPage` count
    * from paging the remote corpus into one meta round-trip. */
  def apportionedCount(m: Manifest, minPage: Int, maxPage: Int): Option[Long] =
    m.perPage match {
      case _ if m.totalPages == 0 =>
        if (m.totalCount == 0) Some(0L) else None
      case Some(s) if s > 0 && m.totalPages > 0 &&
          (m.totalPages - 1) * s < m.totalCount &&
          m.totalCount <= m.totalPages * s =>
        val lo = math.max(minPage.toLong, 1L)
        val hi = math.min(maxPage.toLong, m.totalPages)
        if (lo > hi) Some(0L)
        else {
          val lastRows = m.totalCount - (m.totalPages - 1) * s
          val fulls = math.max(0L, math.min(hi, m.totalPages - 1) - lo + 1)
          Some(fulls * s + (if (hi == m.totalPages) lastRows else 0L))
        }
      case _ => None
    }

  /** Page body as lines, throttled + retried when remote. */
  def fetchLines(location: String, rate: RateLimitConf): Iterator[String] =
    if (isHttp(location)) HttpFetch.get(location, rate).iterator
    else java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(location)).asScala.iterator
}

/** Executor-side HTTP fetch: JDK HttpURLConnection, per-JVM token buckets
  * keyed by origin (all tasks in an executor share one window, the
  * reference's per-service static counter SB:18-33; cluster-wide the rate
  * multiplies by executor count — size `ratelimit` accordingly, the same
  * decomposition RateLimitedSink.publish uses), and bounded retry with
  * backoff on 429/5xx honoring Retry-After — clamped, like HttpPublisher,
  * at `MaxRetryAfterMs`: a hold longer than the clamp is an IOException
  * (the server is refusing service, and a scan task must not stall for
  * hours inside a partition read). The binary form (`getBytes`)
  * is shared by the page scan and the attachment-payload fetch stage
  * (graft.migration.AttachmentFetch, S6). */
object HttpFetch {
  /** Ceiling on an honored Retry-After sleep (matches HttpPublisher's
    * default clamp). */
  val MaxRetryAfterMs: Long = 4000L

  private val buckets =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sources.RateLimitedSink.TokenBucket]()

  private def origin(url: String): String = {
    val u = java.net.URI.create(url)
    s"${u.getScheme}://${u.getAuthority}"
  }

  def get(url: String, rate: RateLimitConf, maxRetries: Int = 3): Seq[String] =
    new String(getBytes(url, rate, maxRetries), "UTF-8").linesIterator.toVector

  /** Raw response bytes with the same throttle/retry contract as `get`.
    * Throws IOException on non-retryable status or exhausted retries —
    * callers that must not fail per-record (the attachment fetch stage)
    * catch and route to their error channel. */
  def getBytes(url: String, rate: RateLimitConf, maxRetries: Int = 3): Array[Byte] = {
    if (rate.maxPerWindow > 0)
      buckets.computeIfAbsent(origin(url),
        _ => new graft.sources.RateLimitedSink.TokenBucket(
          rate.maxPerWindow, rate.windowMillis)).acquire()
    var attempt = 0
    while (true) {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      try {
        val code = conn.getResponseCode
        if (code == 200) {
          val in = conn.getInputStream
          try return in.readAllBytes() finally in.close()
        }
        val retryable = code == 429 || code >= 500
        if (!retryable || attempt >= maxRetries)
          throw new java.io.IOException(s"graft-pages: GET $url -> HTTP $code")
        val headerMs = Option(conn.getHeaderField("Retry-After"))
          .flatMap(graft.sources.HttpPublisher.parseRetryAfterMs)
        if (headerMs.exists(_ > MaxRetryAfterMs))
          throw new java.io.IOException(
            s"graft-pages: GET $url -> HTTP $code, Retry-After " +
              s"${headerMs.get / 1000}s exceeds the ${MaxRetryAfterMs}ms clamp")
        Thread.sleep(
          headerMs.getOrElse(250L * (1L << attempt)).min(MaxRetryAfterMs))
        attempt += 1
      } finally conn.disconnect()
    }
    throw new IllegalStateException("unreachable")
  }
}

class PagedJsonScanBuilder(userSchema: StructType, path: String, rate: RateLimitConf)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var minPage: Int = Int.MinValue
  private var maxPage: Int = Int.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = PagedJson.fullSchema(userSchema)
  private var pushedCount: Option[Long] = None

  private def isCountStarShape(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  /** A1 count-first planning ANSWERED, not just estimated: a bare
    * COUNT(*) over the whole table IS the manifest's total_count — the
    * reference's "ask the API how many, then plan" call
    * (SyncCustomers.php:44-49) as a complete DSv2 aggregate pushdown.
    * Zero pages are fetched (one meta.json round-trip). A PAGE-PRUNED
    * count additionally answers from the manifest when it carries the
    * fixed-page-size invariants (`per_page` + consistent totals,
    * [[PagedJson.apportionedCount]]) AND page numbering is provably the
    * dense 1..P the apportionment assumes — true by construction over
    * HTTP (listPages generates 1..P), verified against the (local, cheap,
    * no-page-opened) directory listing for file layouts. Grouped counts,
    * manifests without page-size invariants, and non-1-based file
    * layouts refuse and scan normally. Spark only attempts aggregate
    * pushdown when every filter was already pushed, so a residual
    * predicate can never silently ride over the manifest count. */
  private def manifestCount(): Option[Long] =
    PagedJson.readManifestFull(path).flatMap { m =>
      if (minPage == Int.MinValue && maxPage == Int.MaxValue)
        Some(m.totalCount)
      else if (pageNumberingDense(m))
        PagedJson.apportionedCount(m, minPage, maxPage)
      else None
    }

  private def pageNumberingDense(m: PagedJson.Manifest): Boolean =
    PagedJson.isHttp(path) ||
      (m.totalPages <= Int.MaxValue &&
        PagedJson.listPages(path).map(_._1) == (1 to m.totalPages.toInt))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    isCountStarShape(agg) && manifestCount().isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedCount = if (isCountStarShape(agg)) manifestCount() else None
    pushedCount.isDefined
  }

  /** Accept page-range filters; everything else stays a residual Spark
    * evaluates post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo(PagedJson.PageCol, _: Integer) => true
      case GreaterThan(PagedJson.PageCol, _: Integer) => true
      case GreaterThanOrEqual(PagedJson.PageCol, _: Integer) => true
      case LessThan(PagedJson.PageCol, _: Integer) => true
      case LessThanOrEqual(PagedJson.PageCol, _: Integer) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo(_, v: Integer) =>
        minPage = math.max(minPage, v); maxPage = math.min(maxPage, v)
      case GreaterThan(_, v: Integer) => minPage = math.max(minPage, v + 1)
      case GreaterThanOrEqual(_, v: Integer) => minPage = math.max(minPage, v)
      case LessThan(_, v: Integer) => maxPage = math.min(maxPage, v - 1)
      case LessThanOrEqual(_, v: Integer) => maxPage = math.min(maxPage, v)
      case _ =>
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedCount match {
    case Some(c) =>
      val range =
        if (minPage == Int.MinValue && maxPage == Int.MaxValue) "all pages"
        else s"pages [${if (minPage == Int.MinValue) 1 else minPage}," +
          s"${if (maxPage == Int.MaxValue) "last" else maxPage}]"
      new PagedCountScan(c, s"$range of $path")
    case None =>
      new PagedJsonScan(userSchema, required, path, minPage, maxPage, rate)
  }
}

/** The pushed-COUNT(*) scan: one partition, one row, the count computed
  * from the manifest at pushdown time (full total_count, or the
  * page-range apportionment) — no page is ever listed, opened, or
  * fetched. */
class PagedCountScan(count: Long, source: String) extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-pages COUNT(*)=$count from manifest of $source (0 pages fetched)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(PagedCountPartition(count))
  override def createReaderFactory(): PartitionReaderFactory =
    new PagedCountReaderFactory
}

case class PagedCountPartition(count: Long) extends InputPartition

class PagedCountReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(
        Array[Any](p.asInstanceOf[PagedCountPartition].count))
      override def close(): Unit = ()
    }
}

class PagedJsonScan(
    userSchema: StructType,
    required: StructType,
    path: String,
    minPage: Int,
    maxPage: Int,
    rate: RateLimitConf) extends Scan with Batch with SupportsReportStatistics {

  private val pages: Seq[(Int, String)] =
    PagedJson.listPages(path).filter { case (p, _) => p >= minPage && p <= maxPage }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-pages pages=[${pages.map(_._1).mkString(",")}] of $path"

  override def planInputPartitions(): Array[InputPartition] =
    pages.map { case (p, f) => PagePartition(p, f): InputPartition }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedJsonReaderFactory(userSchema, required, rate)

  /** A1 count-first planning: row count from the manifest, no page opened.
    * Page-pruned scans scale the estimate by the selected page fraction.
    * The size is the selected page files' bytes; over HTTP, where no page
    * is fetched at planning, it is those rows times the pruned read
    * schema's per-row width (`EstimationUtils.getSizePerRow`, the width
    * CBO uses), so a small page window is broadcast at plan time instead
    * of sort-merge-joined through a shuffle. A manifest without pages
    * leaves the rows, and over HTTP the size, unknown: Spark never
    * broadcasts a side of unknown size. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows: Option[Long] = PagedJson.readManifestFull(path).collect {
      case m if m.totalPages > 0 => math.max(1L, m.totalCount * pages.size / m.totalPages)
    }
    override def sizeInBytes(): util.OptionalLong =
      if (!PagedJson.isHttp(path))
        util.OptionalLong.of(pages.map(f => new java.io.File(f._2).length()).sum)
      else rows.fold(util.OptionalLong.empty())(n => util.OptionalLong.of(
        (EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(required)) * n)
          .min(Long.MaxValue).toLong))
    override def numRows(): util.OptionalLong =
      rows.fold(util.OptionalLong.empty())(util.OptionalLong.of)
  }
}

case class PagePartition(page: Int, file: String) extends InputPartition

class PagedJsonReaderFactory(userSchema: StructType, required: StructType, rate: RateLimitConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PagePartitionReader(partition.asInstanceOf[PagePartition], userSchema, required, rate)
}

/** Reads one page file; JSON decoding materializes only the required
  * non-page fields (pruned schema handed to Jackson), then appends the
  * partition's page id when requested. */
class PagePartitionReader(
    partition: PagePartition,
    userSchema: StructType,
    required: StructType,
    rate: RateLimitConf) extends PartitionReader[InternalRow] {

  private val dataFields: Seq[StructField] =
    required.fields.toSeq.filter(_.name != PagedJson.PageCol)
  private val dataSchema = StructType(dataFields)
  private val pageIdx: Int = required.fieldNames.indexOf(PagedJson.PageCol)

  private lazy val parser = new JacksonParser(
    dataSchema, new JSONOptions(Map.empty[String, String], "UTC", ""),
    false, Seq.empty)

  private lazy val rows: Iterator[InternalRow] = {
    val lines = PagedJson.fetchLines(partition.file, rate)
      .filter(_.trim.nonEmpty)
    lines.flatMap { line =>
      parser.parse(line, CreateJacksonParser.string,
        (s: String) => org.apache.spark.unsafe.types.UTF8String.fromString(s))
    }.map { dataRow =>
      if (pageIdx < 0) dataRow.copy()
      else {
        val out = new GenericInternalRow(required.length)
        var i = 0; var j = 0
        while (i < required.length) {
          if (i == pageIdx) out.update(i, partition.page)
          else { out.update(i, dataRow.get(j, dataFields(j).dataType)); j += 1 }
          i += 1
        }
        out
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
