package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.migration.{ErrorChannel, Pipelines, SyncOptions, SyncReport}
import graft.sources.{BoundedErrorAccumulator, HttpPublisher}

/** The reference's user-facing CLI (Kernel.php:15-19) as a
  * spark-submit-able main: `sync-customers`, `sync-tickets`,
  * `view-ticket` subcommands whose flags parse 1:1 into [[SyncOptions]]
  * (SyncTickets.php:18-19 `--startPage/--stopPage/--tickets/
  * --customerEmails/--checkDuplicates/--bypassValidation`,
  * SyncCustomers.php:17, ViewTicket.php:18-19) and drive
  * [[graft.migration.Pipelines]].
  *
  * Inputs come from `--data=DIR`, a directory holding one table per name
  * (`customers`, `tickets`, `messages`, `attachments`, `groove_mailboxes`,
  * `groove_agents`, `hs_mailboxes`, `hs_users`, `hs_customers`,
  * `existing_conversations`) as either a parquet directory `DIR/<name>`
  * or a JSON-lines file `DIR/<name>.jsonl` — the dump-first workflow the
  * engine documents for migrations (acquire once, then iterate offline).
  * Publishing goes to `--apiUrl=URL` (the reference's live REST publish,
  * via [[graft.sources.HttpPublisher]] with rate limiting and Retry-After
  * handling; the API's rejections count into the printed `errors=` and
  * the `--errorCsv` report) or, by default, to `--out=DIR` as JSON-lines
  * part files (or stdout when neither is given) — a dry-run shape the
  * reference lacks.
  *
  * Exit codes: 0 ok, 1 validation-gate failure (the reference's `exit()`
  * on gate failure, SyncTickets.php:91/107) or pipeline error, 2 usage
  * error. `run` returns the code without exiting, so tests drive the
  * full argv surface in-process.
  */
object Main {

  private val usage: String =
    """usage:
      |  graft.Main sync-customers --data=DIR [--out=DIR | --apiUrl=URL]
      |      [--startPage=N] [--stopPage=N] [--customerEmails=a@b,...]
      |      [--errorCsv=DIR] [--ratePerMinute=N] [--batchSize=N]
      |      [--parallelism=N]
      |  graft.Main sync-tickets --data=DIR [--out=DIR | --apiUrl=URL]
      |      [--tickets=1,2,...] [--startPage=N] [--stopPage=N]
      |      [--customerEmails=a@b,...] [--checkDuplicates]
      |      [--bypassValidation] [--defaultMailbox=EMAIL] [--errorCsv=DIR]
      |      [--ratePerMinute=N] [--batchSize=N] [--parallelism=N]
      |  graft.Main view-ticket --data=DIR --ticket=N
      |      [--customerEmails=a@b,...] [--defaultMailbox=EMAIL]
      |""".stripMargin

  /** Parsed argv. `opts` carries the reference-parity flags; the rest is
    * engine IO/tuning surface. */
  final case class Cli(
      cmd: String,
      data: String,
      out: Option[String] = None,
      apiUrl: Option[String] = None,
      errorCsv: Option[String] = None,
      defaultMailbox: Option[String] = None,
      ticket: Option[Long] = None,
      ratePerMinute: Int = 200,
      batchSize: Int = 10,
      parallelism: Int = 4,
      opts: SyncOptions = SyncOptions())

  private[graft] def parse(args: Seq[String]): Either[String, Cli] = {
    if (args.isEmpty) return Left("missing subcommand")
    val cmd = args.head
    if (!Set("sync-customers", "sync-tickets", "view-ticket").contains(cmd))
      return Left(s"unknown subcommand: $cmd")
    def num(v: String, flag: String): Either[String, Int] =
      v.toIntOption.toRight(s"$flag expects an integer, got '$v'")
    var cli = Cli(cmd = cmd, data = "")
    for (a <- args.tail) a match {
      case s"--data=$v" => cli = cli.copy(data = v)
      case s"--out=$v" => cli = cli.copy(out = Some(v))
      case s"--apiUrl=$v" => cli = cli.copy(apiUrl = Some(v))
      case s"--errorCsv=$v" => cli = cli.copy(errorCsv = Some(v))
      case s"--defaultMailbox=$v" => cli = cli.copy(defaultMailbox = Some(v))
      case s"--startPage=$v" => num(v, "--startPage") match {
        case Left(e) => return Left(e)
        case Right(n) => cli = cli.copy(opts = cli.opts.copy(startPage = Some(n)))
      }
      case s"--stopPage=$v" => num(v, "--stopPage") match {
        case Left(e) => return Left(e)
        case Right(n) => cli = cli.copy(opts = cli.opts.copy(stopPage = Some(n)))
      }
      case s"--tickets=$v" =>
        val ids = v.split(",").filter(_.nonEmpty).map(_.trim)
        if (ids.exists(_.toLongOption.isEmpty))
          return Left(s"--tickets expects comma-separated ids, got '$v'")
        cli = cli.copy(opts = cli.opts.copy(tickets = ids.map(_.toLong).toSeq))
      case s"--ticket=$v" => v.toLongOption match {
        case None => return Left(s"--ticket expects an id, got '$v'")
        case some => cli = cli.copy(ticket = some)
      }
      case s"--customerEmails=$v" =>
        cli = cli.copy(opts = cli.opts.copy(
          customerEmails = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      case "--checkDuplicates" =>
        cli = cli.copy(opts = cli.opts.copy(checkDuplicates = true))
      case "--bypassValidation" =>
        cli = cli.copy(opts = cli.opts.copy(bypassValidation = true))
      case s"--ratePerMinute=$v" => num(v, "--ratePerMinute") match {
        case Left(e) => return Left(e)
        case Right(n) => cli = cli.copy(ratePerMinute = n)
      }
      case s"--batchSize=$v" => num(v, "--batchSize") match {
        case Left(e) => return Left(e)
        case Right(n) => cli = cli.copy(batchSize = n)
      }
      case s"--parallelism=$v" => num(v, "--parallelism") match {
        case Left(e) => return Left(e)
        case Right(n) => cli = cli.copy(parallelism = n)
      }
      case other => return Left(s"unknown flag: $other")
    }
    if (cli.data.isEmpty) Left("--data=DIR is required")
    else if (cmd == "view-ticket" && cli.ticket.isEmpty)
      Left("view-ticket requires --ticket=N")
    else Right(cli)
  }

  /** Load one named input table from the data directory: parquet
    * directory `DIR/<name>` wins, JSON-lines `DIR/<name>.jsonl` (or
    * `.json`) is the fallback. */
  private def table(spark: SparkSession, dataDir: String, name: String): DataFrame = {
    val pq = new File(dataDir, name)
    val jl = new File(dataDir, s"$name.jsonl")
    val js = new File(dataDir, s"$name.json")
    if (pq.isDirectory) spark.read.parquet(pq.getPath)
    else if (jl.isFile) spark.read.json(jl.getPath)
    else if (js.isFile) spark.read.json(js.getPath)
    else throw new IllegalArgumentException(
      s"input table '$name' not found under $dataDir (expected parquet " +
        s"directory '$name' or JSON-lines '$name.jsonl')")
  }

  /** The publish target as the `post` closure Pipelines expects: live
    * HTTP when `--apiUrl` is set, JSON-lines part files under `--out`,
    * stdout otherwise. A live publish also returns the bounded accumulator
    * its POST failures land in (the reference's `$errorMapping`,
    * TicketPublisher.php:56-86); file/stdout publishes can't fail
    * per-record. The live publisher names each record by `idCol`, which
    * also becomes its Idempotency-Key. */
  private def publisher(spark: SparkSession, cli: Cli, idCol: String)
      : (Seq[Row] => Unit, Option[BoundedErrorAccumulator]) = cli.apiUrl match {
    case Some(url) =>
      val errors = new BoundedErrorAccumulator(BoundedErrorAccumulator.DefaultCap)
      spark.sparkContext.register(errors, "graft.cli.publish.errors")
      (new HttpPublisher(url, errors.add _, idCol = Some(idCol)), Some(errors))
    case None => cli.out match {
      case Some(dir) => (new JsonLinesPublisher(dir), None)
      case None => ((batch: Seq[Row]) => batch.foreach(r => println(r.json)), None)
    }
  }

  /** Print the run's summary line. The API's rejections count into
    * `errors=` and, with `--errorCsv`, get their own grouped CSV
    * (`sync-errors-<stamp>-publish`) beside the pipeline's: the pipeline's
    * report covers only the rows it withheld from the publish. */
  private def printReport(
      spark: SparkSession, report: SyncReport,
      publishErrors: Option[BoundedErrorAccumulator],
      errorCsv: Option[(String, String)]): Unit = {
    val rejected = publishErrors.map(_.value).filter(_.total > 0)
    for (summary <- rejected; (dir, stamp) <- errorCsv)
      ErrorChannel.writeCsvReport(spark, summary, dir, s"$stamp-publish")
    println(s"published=${report.published} " +
      s"errors=${report.errors + rejected.map(_.total).getOrElse(0L)} " +
      s"batches=${report.batches}")
  }

  /** Resolved default mailbox: the flag, else the lexicographically first
    * HS mailbox. An EMPTY hs_mailboxes table is a named usage error (exit
    * code 2), not a bare NoSuchElementException — the CLI's error
    * convention everywhere else. */
  private def defaultMailboxOf(
      hsMailboxes: DataFrame, cli: Cli): Either[String, String] =
    cli.defaultMailbox.toRight(()).left.flatMap { _ =>
      hsMailboxes.select("email").orderBy("email").take(1).headOption
        .map(_.getString(0))
        .toRight("hs_mailboxes is empty — pass --defaultMailbox=EMAIL")
    }

  /** Driver-side bound on the validation-failure report (the repo's
    * named-bound discipline for every collect): the frame is
    * dimension-sized by construction, but a pathological dim input must
    * cap at the report, not OOM the driver. */
  private[graft] val MaxErrorReportRows = 1000

  private def errorCsvTarget(cli: Cli): Option[(String, String)] =
    cli.errorCsv.map(dir => (dir,
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())))

  /** Runs the subcommand against `spark`; returns the process exit code
    * instead of exiting (testability; `main` owns sys.exit). */
  def run(args: Array[String], spark: SparkSession): Int =
    parse(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err\n$usage")
        2
      case Right(cli) =>
        val t = table(spark, cli.data, _: String)
        cli.cmd match {
          case "sync-customers" =>
            val (post, publishErrors) = publisher(spark, cli, "primary_email")
            val csv = errorCsvTarget(cli)
            val report = Pipelines.syncCustomers(
              t("customers"), cli.opts, cli.ratePerMinute,
              math.max(1, cli.batchSize), cli.parallelism, csv)(post)
            printReport(spark, report, publishErrors, csv)
            0
          case "sync-tickets" =>
            val hsMailboxes = t("hs_mailboxes")
            defaultMailboxOf(hsMailboxes, cli) match {
              case Left(err) =>
                System.err.println(s"error: $err\n$usage")
                2
              case Right(defaultMailbox) =>
                val (post, publishErrors) =
                  publisher(spark, cli, "groove_ticket_number")
                val csv = errorCsvTarget(cli)
                Pipelines.syncTickets(
                  t("tickets"), t("messages"), t("attachments"),
                  t("groove_mailboxes"), t("groove_agents"),
                  hsMailboxes, t("hs_users"), t("hs_customers"),
                  t("existing_conversations"), defaultMailbox, cli.opts,
                  cli.ratePerMinute, math.max(1, cli.batchSize),
                  cli.parallelism, csv)(post) match {
                  case Left(bad) =>
                    System.err.println("validation gate failed " +
                      "(--bypassValidation to override):")
                    // capped collect (MaxErrorReportRows): the +1 row only
                    // decides whether the "and more" line prints, without a
                    // second count() action over the frame
                    val shown = bad.limit(MaxErrorReportRows + 1).collect()
                    shown.take(MaxErrorReportRows)
                      .foreach(r => System.err.println(s"  ${r.json}"))
                    if (shown.length > MaxErrorReportRows)
                      System.err.println(
                        s"  ... and more (showing first $MaxErrorReportRows)")
                    1
                  case Right(report) =>
                    printReport(spark, report, publishErrors, csv)
                    0
                }
            }
          case "view-ticket" =>
            val hsMailboxes = t("hs_mailboxes")
            defaultMailboxOf(hsMailboxes, cli) match {
              case Left(err) =>
                System.err.println(s"error: $err\n$usage")
                2
              case Right(defaultMailbox) =>
                println(Pipelines.viewTicket(
                  t("tickets"), t("messages"), t("attachments"),
                  hsMailboxes, t("hs_users"), t("hs_customers"),
                  defaultMailbox, cli.ticket.get, cli.opts))
                0
            }
        }
    }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val rc = try run(args, spark) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}

/** Dry-run publish target: each posted batch appends a unique JSON-lines
  * part file under `outDir` — executor-safe (no shared writer state; on a
  * cluster, point it at a shared filesystem), replay-friendly (files are
  * append-only), and directly `spark.read.json`-able for inspection. */
final class JsonLinesPublisher(outDir: String)
    extends (Seq[Row] => Unit) with Serializable {
  override def apply(batch: Seq[Row]): Unit = if (batch.nonEmpty) {
    val dir = new File(outDir)
    dir.mkdirs()
    val f = new File(dir, s"part-${java.util.UUID.randomUUID()}.jsonl")
    // explicit UTF-8: FileWriter(f) uses the platform default charset, and
    // on a non-UTF-8 JVM non-ASCII customer/ticket content would no longer
    // round-trip through spark.read.json
    val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8))
    try batch.foreach(r => w.println(r.json)) finally w.close()
  }
}
