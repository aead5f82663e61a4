package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.migration.SyncReport

class BenchSpec extends AnyFunSuite {

  private val smallCrawl = Gen.CrawlShape(seedDocs = 100, batches = 3, docsPerBatch = 30)
  private val smallGroove = Gen.GrooveShape(customerPages = 3, ticketPages = 4)
  private val base = "http://127.0.0.1:1"

  test("generators: the same seed gives identical inputs, another seed different ones") {
    assert(Gen.crawl(7, smallCrawl).digest === Gen.crawl(7, smallCrawl).digest)
    assert(Gen.crawl(7, smallCrawl).digest !== Gen.crawl(8, smallCrawl).digest)
    assert(Gen.groove(7, base, smallGroove).digest === Gen.groove(7, base, smallGroove).digest)
    assert(Gen.groove(7, base, smallGroove).digest !== Gen.groove(8, base, smallGroove).digest)
  }

  test("generators: planted near-duplicates sit above the verify threshold") {
    val c = Gen.crawl(3, smallCrawl)
    assert(c.nearDups.nonEmpty && c.nearDups.values.forall(_ >= 0.95))
    assert(c.planted.intersect(c.expectedSurvivors).isEmpty)
  }

  test("checker: the expected output passes, one dropped row fails the op") {
    val c = Gen.crawl(3, smallCrawl)
    assert(Checks.stream(c, c.expectedSurvivors.toSeq, 4, 16, c.batches) === None)
    val dropped = c.expectedSurvivors - c.expectedSurvivors.head
    assert(Checks.stream(c, dropped.toSeq, 4, 16, c.batches).exists(_.contains("unplanted")))
    val leaked = c.expectedSurvivors + c.exactDups.head
    assert(Checks.stream(c, leaked.toSeq, 4, 16, c.batches).nonEmpty)
    val twice = c.expectedSurvivors.toSeq :+ c.expectedSurvivors.head
    assert(Checks.stream(c, twice, 4, 16, c.batches).exists(_.contains("duplicate")))
  }

  test("checker: the ground-truth ledger passes, one extra POST or GET fails the op") {
    val g = Gen.groove(5, base, smallGroove)
    val e = g.ticketsExpected(1, 2)
    val accepted = (e.posted -- e.rejected).map(_ -> 1).toMap
    val rejected = e.rejected.map(_ -> 1).toMap
    val gets = e.files.map(f => s"/files/$f" -> 1).toMap
    val ok = Ledger(gets, accepted.size + rejected.size + 2, accepted, rejected, 2, 0L)
    val report = SyncReport(e.posted.size.toLong, e.errors, 1L)
    assert(Checks.migration(e, report, ok, e.rejected.size) === None)
    assert(Checks.migration(e, report, ok.copy(posts = ok.posts + 1), e.rejected.size).nonEmpty)
    val twice = ok.copy(accepted = accepted.updated(accepted.keys.head, 2), posts = ok.posts + 1)
    assert(Checks.migration(e, report, twice, e.rejected.size).nonEmpty)
    assert(e.files.nonEmpty)
    val refetch = ok.copy(gets = gets.updated(gets.keys.head, 2))
    assert(Checks.migration(e, report, refetch, e.rejected.size).nonEmpty)
  }

  test("spans: self time is duration minus the union of the children's intervals") {
    // root [0,100] with children [10,40] and [30,60] (overlapping) and a
    // grandchild [15,20] inside the first child; a second root [120,130]
    val spans = Seq(
      Span(0, "migration.sync", 1, -1, 0, 100),
      Span(1, "sources.acquire", 1, 0, 10, 40),
      Span(2, "sources.publish", 1, 0, 30, 60),
      Span(3, "plans.plan", 1, 1, 15, 20),
      Span(4, "sources.write", 2, -1, 120, 130))
    val self = Trace.selfTimes(spans)
    assert(self(0) === 100 - 50)
    assert(self(1) === 30 - 5)
    assert(self(2) === 30)
    assert(self(3) === 5)
    assert(self(4) === 10)
    // wall [0,150]: roots cover 100 + 10
    assert(Trace.unattributedNs(spans, 0, 150) === 40)
  }

  test("stats: the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val (pct, beyond, v) = Stats.tail(xs)
    assert(pct === 90.0 && beyond === 10)
    assert(math.abs(v - 90.1) < 1e-9)
    assert(Stats.tail(xs.take(10)) === ((100.0, 0, 10.0)))
  }
}
