package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What the server saw during one op. */
final case class Ledger(
    gets: Map[String, Int], posts: Int, accepted: Map[String, Int],
    rejected: Map[String, Int], throttled: Int, busyNs: Long) {
  def pagesFetched: Int = gets.collect { case (p, n) if p.contains("/page-") => n }.sum
  def filesFetched: Int = gets.collect { case (p, n) if p.startsWith("/files/") => n }.sum
}

/** The benchmark's hermetic stand-in for the Groove and HelpScout APIs, on
  * one thread, bound to 127.0.0.1.
  *
  *  - GET  /groove/<entity>/meta.json and /groove/<entity>/page-<n>.json:
  *    the paged corpus, in the layout graft-pages reads;
  *  - GET  /files/<name>: attachment bytes (404 for planted unfetchable
  *    files);
  *  - POST /hs/<entity>: 201, a structured 400 for planted-invalid records,
  *    and for a seeded share of records a 429 with `Retry-After: 0` on the
  *    first attempt of each op.
  *
  * The record id of a POST is its `primary_email` (customers) or
  * `groove_ticket_number` (conversations). */
final class GrooveServer(seed: Long) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool: ExecutorService = Executors.newSingleThreadExecutor()
  private val lock = new Object
  // the corpus is loaded after start: its attachment URLs carry the port
  @volatile private var pages = Map.empty[String, IndexedSeq[IndexedSeq[String]]]
  @volatile private var files = Map.empty[String, Array[Byte]]
  @volatile private var rejected = Set.empty[String]
  private var gets = mutable.HashMap.empty[String, Int]
  private var posts = 0
  private var accepted = mutable.HashMap.empty[String, Int]
  private var refused = mutable.HashMap.empty[String, Int]
  private var throttled = 0
  private var throttledIds = mutable.HashSet.empty[String]
  private var busyNs = 0L

  private val IdRe = """"(?:primary_email|groove_ticket_number)"\s*:\s*"?([^",}]+)"?""".r
  private val PageRe = "/groove/([a-z]+)/page-(\\d+)\\.json".r
  private val MetaRe = "/groove/([a-z]+)/meta\\.json".r

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def load(pages: Map[String, IndexedSeq[IndexedSeq[String]]],
      files: Map[String, Array[Byte]], rejected: Set[String]): Unit = {
    this.pages = pages; this.files = files; this.rejected = rejected
  }

  /** Start a new op's ledger. */
  def beginOp(): Unit = lock.synchronized {
    gets = mutable.HashMap.empty; posts = 0; accepted = mutable.HashMap.empty
    refused = mutable.HashMap.empty; throttled = 0
    throttledIds = mutable.HashSet.empty; busyNs = 0L
  }

  def ledger: Ledger = lock.synchronized(
    Ledger(gets.toMap, posts, accepted.toMap, refused.toMap, throttled, busyNs))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS); ()
  }

  /** The seeded 5% of record ids whose first attempt gets a 429. */
  private def throttles(id: String): Boolean =
    Math.floorMod((id + "#" + seed).hashCode, 100) < 5

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val path = ex.getRequestURI.getPath
      if (ex.getRequestMethod == "POST") {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val id = IdRe.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
        val code = lock.synchronized {
          posts += 1
          if (throttles(id) && !throttledIds.contains(id)) {
            throttledIds += id; throttled += 1; 429
          } else if (rejected.contains(id)) {
            refused(id) = refused.getOrElse(id, 0) + 1; 400
          } else {
            accepted(id) = accepted.getOrElse(id, 0) + 1; 201
          }
        }
        code match {
          case 429 =>
            ex.getResponseHeaders.add("Retry-After", "0")
            respond(ex, 429, Array.emptyByteArray)
          case 400 =>
            val property = if (path.endsWith("/customers")) "emails" else "customer"
            respond(ex, 400,
              s"""{"errors":[{"property":"$property","message":"rejected by the API","value":${Json.str(id)}}]}"""
                .getBytes(UTF_8))
          case c => respond(ex, c, Array.emptyByteArray)
        }
      } else {
        lock.synchronized(gets(path) = gets.getOrElse(path, 0) + 1)
        get(path) match {
          case Some(b) => respond(ex, 200, b)
          case None => respond(ex, 404, Array.emptyByteArray)
        }
      }
    } finally {
      val dt = System.nanoTime() - t0
      lock.synchronized(busyNs += dt)
    }
  }

  private def get(path: String): Option[Array[Byte]] = path match {
    case MetaRe(entity) => pages.get(entity).map(ps =>
      s"""{"pagination":{"total_count":${ps.map(_.size).sum},"total_pages":${ps.size}}}"""
        .getBytes(UTF_8))
    case PageRe(entity, n) => pages.get(entity).flatMap(ps =>
      ps.lift(n.toInt - 1).map(_.mkString("\n").getBytes(UTF_8)))
    case p if p.startsWith("/files/") => files.get(p.stripPrefix("/files/"))
    case _ => None
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    if (body.isEmpty) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, body.length); ex.getResponseBody.write(body) }
    ex.close()
  }
}
