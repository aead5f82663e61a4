package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload: set up once (`setup_s`), measure
  * for the given seconds, check every op's output, and print one JSON
  * line. With `--trace 1` an untraced phase is followed by
  * a traced one, each half as long, and the per-layer metrics come from the
  * traced phase.
  *
  * Usage (normally through perfbench/run.py, which builds the classpath):
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --work <dir> --out <dir> [--run-id <id>] [--git-head <sha>]
  *     [--record-digests <file>]
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String, runId: String, gitHead: String,
      recordDigests: Option[String])

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      need("work"), need("out"), m.getOrElse("run-id", java.util.UUID.randomUUID.toString),
      m.getOrElse("git-head", "unknown"), m.get("record-digests"))
  }

  /** The set-up's intervals, in nanoTime: JVM start, session up, inputs
    * generated, warm-up done (the first timed op follows). */
  final case class Setup(startNs: Long, sessionEndNs: Long, generatedNs: Long, endNs: Long) {
    def totalS: Double = (endNs - startNs) / 1e9
    def sessionS: Double = (sessionEndNs - startNs) / 1e9
    def generateS: Double = (generatedNs - sessionEndNs) / 1e9
    def warmupS: Double = (endNs - generatedNs) / 1e9
  }

  final case class Phase(results: Seq[OpResult], wallS: Double, counts: Map[String, Double],
      skews: Seq[Double], fromNs: Long, toNs: Long)

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val loadStart = loadavg()
    Files.createDirectories(Paths.get(conf.out))

    // --- set-up: from JVM start to the first timed op. One set-up per
    // run, so it includes JVM start, class loading and the engine's
    // extension registration: the session, freshly generated inputs, and
    // the warm-up (the same ops the measured phase starts with).
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val spark = GraftSession.local(conf.cores)
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streaming)
    val t1 = System.nanoTime()
    val wl = Workload(conf.workload)
    val ctx = new Ctx(spark, new Tracer(false), probe, conf.seed, conf.cores, s"${conf.work}/data")
    wl.generate(ctx)
    val t2 = System.nanoTime()
    (0 until wl.cycle * wl.warmupCycles).foreach(wl.op(ctx, _))
    val setup = Setup(t0, t1, t2, System.nanoTime())

    conf.recordDigests.foreach { file =>
      val a = wl.asInstanceOf[Analytics]
      val body = a.allDigests(ctx).map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }
      Files.write(Paths.get(file), body.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    }

    def phase(traced: Boolean): (Phase, Ctx) = {
      val c = new Ctx(spark, new Tracer(traced), probe, conf.seed, conf.cores, ctx.dir)
      wl.beginPhase()
      probe.drain()
      val before = probe.snapshot()
      val firstStage = probe.maxStageId + 1
      val results = mutable.ArrayBuffer.empty[OpResult]
      // a traced run measures two phases, each of half the run's work
      val seconds = if (conf.trace) conf.seconds / 2 else conf.seconds
      val ops = wl.cycle * math.max(1L, math.round(seconds / wl.cycleSeconds)).toInt
      val t0 = System.nanoTime()
      for (i <- 0 until ops) {
        c.tracer.traceId = i
        val s = System.nanoTime()
        results += (try wl.op(c, i) catch {
          case NonFatal(e) =>
            val msg = s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            OpResult(s"op $i", 0, Seq((System.nanoTime() - s) / 1e9), () => Some(msg))
        })
      }
      val t1 = System.nanoTime()
      probe.drain()
      val after = probe.snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      (Phase(results.toSeq, (t1 - t0) / 1e9, delta, probe.stageSkews(firstStage), t0, t1), c)
    }

    val (plain, _) = phase(traced = false)
    val traced = if (conf.trace) Some(phase(traced = true)) else None

    // --- correctness, outside the timed interval ---
    val phases = Seq(plain) ++ traced.map(_._1)
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    for (p <- phases; r <- p.results) {
      attempted += r.latenciesS.size
      val verdict = try r.check() catch { case NonFatal(e) => Some(s"check threw $e") }
      verdict.foreach { msg => failed += math.max(1, r.latenciesS.size); problems += msg }
    }
    problems.take(10).foreach(p => System.err.println(s"[bench] failed: $p"))

    val heapMb = HeapWatch.liveMb()
    def items(p: Phase) = p.results.map(_.items).sum.toDouble
    val lat = plain.results.flatMap(_.latenciesS)
    val (tailPct, tailBeyond, tailValue) = Stats.tail(lat)
    val endToEnd = Seq(
      ("setup_s", setup.totalS, "s"),
      ("items_per_s", items(plain) / plain.wallS, "1/s"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("latency_tail_s", tailValue, "s"),
      ("peak_heap_mb", heapMb, "MB"),
      ("shuffle_kb_per_item", (plain.counts("shuffle_read_bytes") + plain.counts("shuffle_write_bytes")) /
        1024.0 / math.max(1.0, items(plain)), "KB"))

    val perLayer: Seq[(String, Double, String)] = traced match {
      case None => Nil
      case Some((tp, tctx)) => layerMetrics(conf, wl, setup, plain, tp, tctx)
    }
    val loadEnd = loadavg()

    val metrics = if (conf.trace) perLayer else endToEnd
    val record = Json.obj(Seq(
      "run_id" -> Json.str(conf.runId), "git_head" -> Json.str(conf.gitHead),
      "workload" -> Json.str(conf.workload), "seed" -> conf.seed.toString,
      "seconds" -> Json.num(conf.seconds), "trace" -> conf.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> Json.str(s"local[${conf.cores}]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadEnd),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failed_frac" -> Json.num(failed.toDouble / math.max(1L, attempted)),
      "latency_samples" -> lat.size.toString, "latency_tail_pct" -> Json.num(tailPct),
      "latency_tail_beyond" -> tailBeyond.toString,
      "setup" -> Json.obj(Seq("total_s" -> Json.num(setup.totalS),
        "session_s" -> Json.num(setup.sessionS), "generate_s" -> Json.num(setup.generateS),
        "warmup_s" -> Json.num(setup.warmupS))),
      "end_to_end" -> Json.obj(endToEnd.map { case (n, v, u) => n -> metricJson(v, u) }),
      "per_layer" -> Json.obj(perLayer.map { case (n, v, u) => n -> metricJson(v, u) }),
      "ops" -> plain.results.map(r => Json.obj(Seq("label" -> Json.str(r.label),
        "items" -> r.items.toString, "latency_s" -> r.latenciesS.map(Json.num).mkString("[", ",", "]"))))
        .mkString("[", ",", "]"),
      "problems" -> problems.take(10).map(Json.str).mkString("[", ",", "]")))
    Files.write(Paths.get(conf.out, s"${conf.runId}.json"), record.getBytes(UTF_8))

    wl.teardown()
    spark.stop()

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> metricJson(v, u) })))
    println(s"GRAFTBENCH_RESULT $result")
  }

  private def metricJson(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  /** Per-layer metrics: the ones every workload's traced run measures,
    * returned; the workload's own, written to the span file with the
    * spans. */
  private def layerMetrics(conf: Conf, wl: Workload, setup: Setup, plain: Phase,
      tp: Phase, c: Ctx): Seq[(String, Double, String)] = {
    val spark = c.spark
    val spans0 = c.tracer.all
    // attach the listener's counts to every span that ran jobs
    spans0.foreach(s => {
      val counts = c.probe.snapshot(s"span-${s.id}")
      if (counts("jobs") > 0) c.tracer.annotate(s.id, counts)
    })
    val spans = c.tracer.all
    val ops = math.max(1, tp.results.map(_.latenciesS.size).sum).toDouble
    val plan = spans.filter(_.name == "plans.plan")
    val planMs = plan.map(_.durationNs / 1e6)
    val planJobs = plan.map(_.counts.getOrElse("jobs", 0.0)).sum
    val itemsTraced = tp.results.map(_.items).sum / tp.wallS
    val itemsPlain = plain.results.map(_.items).sum / plain.wallS
    val k = tp.counts
    val kernels = Kernels.run(spark, wl.kernelText(c), conf.seed)
    val own = wl.layerReport(c, tp.results)
    val self = Trace.selfTimes(spans)
    val layerSelf = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      s"layer.$l.self_s" -> ss.map(s => self(s.id) / 1e9).sum / ops }
    val common: Seq[(String, Double, String)] = Seq(
      ("session.start_s", setup.sessionS, "s"),
      ("session.warmup_s", setup.warmupS, "s"),
      ("sources.scan_s", k("scan_ms") / 1e3 / ops, "s/op"),
      ("sources.scan_mb", k("input_bytes") / 1e6 / ops, "MB/op"),
      ("plans.planning_ms_p50", Stats.median(planMs), "ms"),
      ("plans.planning_share", planMs.sum / 1e3 / tp.wallS, "fraction"),
      ("plans.planning_jobs", planJobs / ops, "jobs/op"),
      ("operators.stage.jobs_per_op", k("jobs") / ops, "jobs/op"),
      ("operators.stage.tasks_per_op", k("tasks") / ops, "tasks/op"),
      ("operators.stage.task_skew_p50", Stats.median(tp.skews), "ratio"),
      ("operators.stage.executor_busy_frac", k("task_run_ms") / 1e3 / (tp.wallS * conf.cores), "fraction"),
      ("operators.stage.sched_delay_ms_per_task", k("sched_delay_ms") / math.max(1.0, k("tasks")), "ms"),
      ("operators.stage.shuffle_read_mb", k("shuffle_read_bytes") / 1e6 / ops, "MB/op"),
      ("operators.stage.shuffle_write_mb", k("shuffle_write_bytes") / 1e6 / ops, "MB/op"),
      ("operators.stage.spill_mb", k("spill_bytes") / 1e6 / ops, "MB/op"),
      ("operators.stage.gc_s", k("gc_ms") / 1e3 / ops, "s/op"),
      ("bench.unattributed_s", Trace.unattributedNs(spans, tp.fromNs, tp.toNs) / 1e9 / ops, "s/op"),
      ("bench.tracing_overhead_frac", 1.0 - itemsTraced / itemsPlain, "fraction")) ++
      kernels.map { case (n, v) => (n, v, if (n.endsWith("rows_per_s")) "1/s" else "ratio") }

    // the set-up and the warm-up ran untraced; their measured intervals
    // join the span file as root spans of trace -1
    val setupSpans = Seq(
      Span(1000000, "GraftSession.local", -1, -1, setup.startNs, setup.sessionEndNs),
      Span(1000001, "bench.generate", -1, -1, setup.sessionEndNs, setup.generatedNs),
      Span(1000002, "GraftSession.warmup", -1, -1, setup.generatedNs, setup.endNs))
    val origin = setupSpans.head.startNs
    val file = Json.obj(Seq(
      "run_id" -> Json.str(conf.runId), "workload" -> Json.str(conf.workload),
      "seed" -> conf.seed.toString,
      "layers" -> Json.obj((common.map { case (n, v, _) => n -> v } ++ layerSelf ++ own)
        .map { case (n, v) => n -> Json.num(v) }),
      "spans" -> (setupSpans ++ spans).map(Trace.toJson(_, origin)).mkString("[\n", ",\n", "\n]")))
    Files.write(Paths.get(conf.out, s"${conf.workload}-${conf.runId}.spans.json"), file.getBytes(UTF_8))
    (own ++ layerSelf).foreach { case (n, v) => System.err.println(f"[bench] layer $n%-50s $v%.6g") }
    common
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case NonFatal(_) => "unknown" }
}

/** The live heap: heap in use right after a full collection, sampled once
  * after the measured phases (outside the timed interval), when the run
  * holds every cache it builds; it is `peak_heap_mb`. Unlike raw heap use
  * it does not depend on when the collector last ran. Later collections run
  * after Spark's context cleaner has dropped the blocks of datasets an
  * earlier one found unreachable. */
object HeapWatch {
  def liveMb(): Double = {
    for (pause <- Seq(300L, 300L, 100L)) { System.gc(); Thread.sleep(pause) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
