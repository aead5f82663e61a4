package graft.migration

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.BoundedErrors

/** Error-channel-as-data (F6: per-record try/catch quarantine,
  * TicketProcessor.php:450-461, CustomerProcessor.php:163-166,
  * TicketPublisher.php:49-76). A transform never throws per-row: rows carry
  * `error_type` (null = ok) + `error_detail`, and the caller splits. The
  * grouped CSV report is A3 (groupBy+collect) immediately re-flattened by
  * A4 (explode) — expressed here as the direct groupBy count + examples.
  *
  * The sync pipelines split inside their publish pass instead: [[router]]
  * posts the ok rows and records each error pair into a
  * `BoundedErrorAccumulator` (exact per-type counts plus a capped sample),
  * and [[writeCsvReport]] writes the same grouped CSV from that summary on
  * the driver, with no second pass over the data and no shuffle.
  */
object ErrorChannel {
  val ErrorType = "error_type"
  val ErrorDetail = "error_detail"

  def ok(df: DataFrame): DataFrame =
    df.filter(col(ErrorType).isNull).drop(ErrorType, ErrorDetail)

  def errors(df: DataFrame): DataFrame =
    df.filter(col(ErrorType).isNotNull)
      .select(col(ErrorType), col(ErrorDetail))

  /** The publish-pass split of a frame with `schema`: an ok row routes to
    * the post as [[ok]] would leave it (error columns dropped); an error
    * row's (error_type, error_detail) goes to `record` and is withheld.
    * For [[graft.sources.RateLimitedSink.publish]]'s `route`. */
  def router(
      schema: StructType, record: ((String, String)) => Unit): Row => Option[Row] = {
    val t = schema.fieldIndex(ErrorType)
    val d = schema.fieldIndex(ErrorDetail)
    val keep = schema.fields.indices.filter(i => i != t && i != d).toArray
    val okSchema = StructType(keep.map(schema.fields(_)))
    row =>
      if (row.isNullAt(t)) Some(new GenericRowWithSchema(keep.map(row.get), okSchema))
      else { record((row.getString(t), row.getString(d))); None }
  }

  /** A3 error grouping (errorMapping[type][] = detail) with deterministic
    * ordering; the row form the CSV sink (K4, AH:241-261) writes. */
  def groupedReport(df: DataFrame): DataFrame =
    errors(df)
      .groupBy(col(ErrorType))
      .agg(count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col(ErrorDetail))), "; ").as("details"))
      .orderBy(col(ErrorType))

  /** Spark's string order: unsigned UTF-8 bytes (not Java `String` order,
    * which compares UTF-16 units and differs above the BMP). */
  private val sparkStringOrder: Ordering[String] =
    Ordering.fromLessThan[String]((a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)

  /** [[groupedReport]]'s rows from a driver-side error summary: `n` is the
    * exact per-type count, `details` the type's sampled non-null details
    * (plus its one overflow flag when the type outgrew the sample cap) in
    * `array_sort` order. Below the cap this equals `groupedReport` over
    * the rows the summary saw. */
  def groupedRows(errors: BoundedErrors): Seq[(String, Long, String)] = {
    val details = errors.rows.groupBy(_._1)
    errors.typeCounts.toSeq.sortBy(_._1)(sparkStringOrder).map { case (t, n) =>
      (t, n, details.getOrElse(t, Nil).flatMap(p => Option(p._2))
        .sorted(sparkStringOrder).mkString("; "))
    }
  }

  private def writeCsv(report: DataFrame, outDir: String, stamp: String): Unit =
    report.coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/sync-errors-$stamp")

  /** K4 (AH:241-261): timestamped CSV error report. The timestamp is
    * driver-side (X12) and injected so runs stay reproducible in tests. */
  def writeCsvReport(df: DataFrame, outDir: String, stamp: String): Unit =
    writeCsv(groupedReport(df), outDir, stamp)

  /** K4 from a driver-side error summary ([[groupedRows]]): same
    * directory, header, single file and columns as the frame form. */
  def writeCsvReport(
      spark: SparkSession, errors: BoundedErrors, outDir: String, stamp: String): Unit = {
    import spark.implicits._
    writeCsv(groupedRows(errors).toDF(ErrorType, "n", "details"), outDir, stamp)
  }

  /** Conservation check: ok + err == total (the F6 invariant — record
    * failure never drops rows silently). */
  def conserves(df: DataFrame): Boolean =
    ok(df).count() + errors(df).count() == df.count()

  /** Attach zero-pass error metrics via `observe()`: n_rows / n_errors /
    * n_ok accumulate DURING whatever action consumes the DataFrame — no
    * second scan, unlike `conserves` — and surface through
    * `QueryExecutionListener` / `StreamingQueryListener` (the A2 running
    * counts + A5 progress feed at 100 TB, where counting twice is not an
    * option). Read them from `df.observe`'s named metrics after an action
    * or via `lastObservedMetrics`. */
  val MetricsName = "graft_error_metrics"

  private def metricCols: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_rows"),
    count(when(col(ErrorType).isNotNull, 1)).as("n_errors"),
    count(when(col(ErrorType).isNull, 1)).as("n_ok"))

  def observed(df: DataFrame): DataFrame =
    df.observe(MetricsName, metricCols.head, metricCols.tail: _*)

  /** Convenience: run `action` on the observed frame and return the
    * (n_rows, n_errors, n_ok) the execution recorded. */
  def runWithMetrics[A](df: DataFrame)(action: DataFrame => A): (A, (Long, Long, Long)) = {
    val (result, row) =
      graft.sources.ObservedMetrics.run(df, MetricsName, metricCols)(action)
    (result, (row.getLong(0), row.getLong(1), row.getLong(2)))
  }
}
