package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.migration.SyncReport

/** Correctness checks. Each returns None when the op's output is correct,
  * or the first problem found. They run after the timed interval. */
object Checks {

  /** Misses allowed among planted near-duplicates: the expected number of
    * pairs the banding does not make candidates, plus four standard
    * deviations (the count of misses is a sum of independent Bernoulli
    * trials with the LSH hit probability of each pair's Jaccard). */
  def allowedNearMisses(jaccards: Iterable[Double], bands: Int, rows: Int): Double = {
    val ps = jaccards.map(j => Gen.lshHitProbability(j, bands, rows))
    ps.map(1 - _).sum + 4 * math.sqrt(ps.map(p => p * (1 - p)).sum)
  }

  /** The survivors of a crawl: every unplanted document kept, every
    * low-quality document and exact duplicate removed, and no more
    * near-duplicates kept than the banding lets through. */
  def stream(crawl: Gen.Crawl, out: Seq[Long], bands: Int, rows: Int, triggers: Int): Option[String] = {
    val got = out.toSet
    val missing = crawl.expectedSurvivors -- got
    val leaked = (crawl.lowQuality ++ crawl.exactDups).intersect(got)
    val unknown = got -- crawl.expectedSurvivors -- crawl.nearDups.keySet
    val nearMissed = crawl.nearDups.keySet.intersect(got).size
    val allowed = allowedNearMisses(crawl.nearDups.values, bands, rows)
    if (triggers != crawl.batches) Some(s"$triggers triggers for ${crawl.batches} batch files")
    else if (out.size != got.size) Some(s"${out.size - got.size} duplicate output rows")
    else if (missing.nonEmpty) Some(s"${missing.size} unplanted documents dropped, e.g. ${missing.take(3)}")
    else if (leaked.nonEmpty) Some(s"${leaked.size} planted documents kept, e.g. ${leaked.take(3)}")
    else if (unknown.nonEmpty) Some(s"${unknown.size} unknown ids in the output")
    else if (nearMissed > allowed)
      Some(f"near-duplicate recall too low: $nearMissed missed, at most $allowed%.1f allowed")
    else None
  }

  def migration(e: Gen.Expected, report: SyncReport, ledger: Ledger, captured: Int): Option[String] = {
    val shouldAccept = e.posted -- e.rejected
    val fetched = ledger.gets.collect { case (p, n) if p.startsWith("/files/") => p.stripPrefix("/files/") -> n }
    if (report.published != e.posted.size)
      Some(s"published ${report.published}, expected ${e.posted.size}")
    else if (report.errors != e.errors) Some(s"${report.errors} errors reported, ${e.errors} planted")
    else if (ledger.accepted.keySet != shouldAccept)
      Some(s"server accepted ${ledger.accepted.size} records, expected ${shouldAccept.size}")
    else if (ledger.accepted.values.exists(_ != 1)) Some("a record was accepted more than once")
    else if (ledger.rejected.keySet != e.rejected || ledger.rejected.values.exists(_ != 1))
      Some(s"server refused ${ledger.rejected.size} records, expected ${e.rejected.size}")
    else if (ledger.posts != ledger.accepted.size + ledger.rejected.size + ledger.throttled)
      Some(s"${ledger.posts} POSTs for ${ledger.accepted.size + ledger.rejected.size} records " +
        s"and ${ledger.throttled} throttled attempts")
    else if (captured != e.rejected.size) Some(s"$captured publish errors captured, ${e.rejected.size} planted")
    else if (fetched != e.files.map(_ -> 1).toMap)
      Some(s"${fetched.values.sum} attachment GETs of ${fetched.size} files, expected one each of ${e.files.size}")
    else None
  }
}

/** Result digests in `scripts/oracle_check.py`'s normalization: columns
  * by name, floating values rounded to 9 places, rows sorted. */
object Digests {
  def cell(v: Any): String = v match {
    case null => "None"
    case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => BigDecimal(f.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  def of(columns: Array[String], collected: Array[Row]): String = {
    val names = columns.toSeq.zipWithIndex.sortBy(_._1)
    val rows = collected.map(r => names.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001"))
    Gen.sha256(Iterator(names.map(_._1).mkString(",")) ++ rows.sorted.iterator)
  }

  /** A flat JSON object of string keys from the benchmark's directory. */
  def load(file: String): Map[String, String] = {
    val p = Paths.get(sys.props.getOrElse("graftbench.dir", "perfbench"), file)
    if (!Files.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*"?([^",}\s]+)"?""".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** Ground truth written next to the generated inputs. */
object Truth {
  def sets(kv: (String, Iterable[Any])*): Seq[(String, Iterable[Any])] = kv

  def write(path: String, sections: Seq[(String, Seq[(String, Iterable[Any])])]): Unit = {
    def v(x: Any) = x match { case n: Long => n.toString; case s => Json.str(s.toString) }
    val body = Json.obj(sections.map { case (name, kv) =>
      name -> Json.obj(kv.map { case (k, xs) =>
        k -> xs.toSeq.map(v).sorted.mkString("[", ",", "]") })
    })
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes(UTF_8)); ()
  }
}
