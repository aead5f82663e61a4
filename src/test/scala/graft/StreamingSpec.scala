package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.EventStreams
import graft.operators.Skew

class StreamingSpec extends SparkSpec {

  test("streaming dedup-on-replay drops nothing on unique keys, all on replay") {
    val got = EventStreams.dedupToTable(spark, sfDir, "spec_dedup_out")
    val batch = Tables(spark, sfDir).events
    assert(got.count() === batch.count()) // event_id unique -> nothing dropped
    assert(got.select("event_id").distinct().count() === got.count())
  }

  test("StreamRunConf knobs: partition count and pinned checkpoint honored, same result") {
    val default = EventStreams.tumblingAggToTable(spark, sfDir, "spec_knobs_a")
      .collect().map(_.toSeq)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_knobs_ckpt").toString
    val tuned = EventStreams.tumblingAggToTable(spark, sfDir, "spec_knobs_b",
      conf = EventStreams.StreamRunConf(
        shufflePartitions = 4, checkpointDir = Some(ckpt)))
      .collect().map(_.toSeq)
    assert(tuned === default)
    // the pinned checkpoint is the stream's identity: offsets were written
    val offsets = new java.io.File(s"$ckpt/offsets")
    assert(offsets.isDirectory && offsets.list().nonEmpty,
      s"expected offsets under the pinned checkpoint at $ckpt")
  }

  test("stateful per-user counts match the batch groupBy") {
    val got = EventStreams.statefulUserCounts(spark, sfDir, "spec_state_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables(spark, sfDir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("flatMapGroupsWithState sessionization: controlled stream emits exact sessions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val events = input.toDF()
      .select(col("_1").as("user_id"), timestamp_seconds(col("_2")).as("ts"),
        col("_3").as("value"))
    val q = EventStreams.sessionizeStream(events, gapMinutes = 30).toDF()
      .writeStream.format("memory").queryName("spec_sessions_mem")
      .outputMode("append").start()
    try {
      // session A: two events 10 min apart; then 5h silence -> session B
      input.addData((1L, 1000L, 1.0), (1L, 1600L, 2.0))
      q.processAllAvailable()
      input.addData((1L, 20000L, 3.0)) // advances watermark past A's end
      q.processAllAvailable()
      input.addData((2L, 100000L, 0.5)) // watermark driver: closes B
      q.processAllAvailable()
      input.addData((2L, 200000L, 0.5)) // fires B's timer
      q.processAllAvailable()
      val got = spark.table("spec_sessions_mem")
        .filter(col("user_id") === 1L)
        .select(col("session_start").cast("long"),
          col("session_end_exclusive").cast("long"), col("n_events"), col("total"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(got.toSeq === Seq(
        (1000L, 1600L + 1800L, 2L, 3.0),
        (20000L, 20000L + 1800L, 1L, 3.0)))
    } finally q.stop()
  }

  test("sessionization over fixture matches batch session_window for flushed sessions") {
    val got = EventStreams.sessionsToTable(spark, sfDir, "spec_sessions_fix")
      .withColumn("total", round(col("total"), 2))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val ev = Tables(spark, sfDir).events
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    // batch truth, restricted to sessions the watermark can have flushed
    // (ending >= gap before the stream's max event time)
    val want = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total"))
      .filter(col("session_window.end") <= lit(maxTs))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("transformWithState sessionization matches the flatMapGroupsWithState form") {
    val tws = EventStreams.sessionsToTableTws(spark, sfDir, "spec_sessions_tws")
      .withColumn("total", round(col("total"), 2))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val fmg = EventStreams.sessionsToTable(spark, sfDir, "spec_sessions_fmg")
      .withColumn("total", round(col("total"), 2))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(tws.nonEmpty)
    assert(tws === fmg)
  }

  test("checkpointed query resumes from its offsets without reprocessing (§2.10)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val input = MemoryStream[Long]
    def start() = input.toDF().select(col("value"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()

    // phase 1: process a batch, then stop (the reference's interrupted run)
    val q1 = start()
    input.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    q1.stop()
    // phase 2: restart from the same checkpoint — only NEW data processes,
    // committed offsets are not replayed (no duplicated rows in the sink)
    input.addData(4L, 5L)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(s"$base/out").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L, 5L),
      s"resume must process new data exactly once, got ${got.toSeq}")
  }

  test("streaming ingestion gate: quality filter + exact dedup on a stream") {
    // the map-only text operators compose unchanged under Structured
    // Streaming: gopherQuality is a per-row projection and the
    // fingerprint dedup rides dropDuplicates — a crawl-ingestion gate
    // (filter bad docs, drop exact replays) with NO batch-only construct
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.TextFunctions.{fingerprint, gopherQuality}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val line = "the of abcde fghij klmno pqrst"
    val good = Array.fill(10)(line).mkString(" ")       // passes every rule
    val short = "the of too short"                      // fails word count
    val input = MemoryStream[(Long, String)]
    val gated = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        gopherQuality(col("text")).getField("passes").as("passes"),
        fingerprint(col("text")).as("fp"))
      .filter(col("passes") === 1L)
      .dropDuplicates("fp")
    val q = gated.writeStream.format("memory").queryName("gate")
      .outputMode("append").start()
    input.addData((1L, good), (2L, short), (3L, good), (4L, good + " extra"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("gate").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // 2 fails the gate; 3 is an exact replay of 1; 4 is a distinct pass
    assert(kept === Set(1L, 4L))
  }

  test("streaming curation gate matches the batch gate + index-dedup composition") {
    // q130's operator: gate + sign + probe-the-persisted-index on a file
    // stream must keep exactly the docs the batch composition keeps
    import graft.streaming.DocumentStreams
    val docs = Tables(spark, sfDir).documents
    val index = curationSeed()
    val streamed = DocumentStreams.curationGateToParquetSigned(
      spark, sfDir, index, tmpDir("curation"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val gated = docs.filter(col("doc_id") % 10 =!= 0)
      .filter(DocumentStreams.qualityGate(col("text")))
    val batch = keptAgainst(gated, index)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture must keep at least one doc")
  }

  test("incremental curation: stream == sequential unroll; the growing index binds") {
    // q142's operator: per-batch dedup against the persisted index PLUS
    // survivor-signature append must equal the hand-unrolled sequential
    // composition (batch b deduped against seed ∪ survivors of 0..b-1)
    import graft.operators.Dedup
    import graft.streaming.DocumentStreams
    val docs = Tables(spark, sfDir).documents
    val seedIdx = curationSeed()
    val streamed = DocumentStreams.incrementalCurationToParquetSigned(
        spark, sfDir, seedIdx, tmpDir("inc-out"), tmpDir("inc-idx"),
        batchFiles = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val gatedAll = docs.filter(col("doc_id") % 10 =!= 0)
      .filter(DocumentStreams.qualityGate(col("text")))
    var idx = seedIdx.localCheckpoint(true)
    var unrolled = Seq.empty[(Long, String)]
    for (b <- 0 until 3) {
      val gb = gatedAll.filter(pmod(col("doc_id"), lit(3)) === b)
      val kept = gb.withColumn("doc_id", col("doc_id").cast("long"))
        .join(keptAgainst(gb, idx), Seq("doc_id")).localCheckpoint(true)
      unrolled ++= kept.select(col("doc_id"), col("lang"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      idx = idx.unionByName(Dedup.signDocs(
        kept, col("text"), col("doc_id"), numHashes = 64, bands = 4))
        .localCheckpoint(true)
    }
    assert(streamed.sorted === unrolled.sorted)
    // the maintenance semantics must BIND on the fixture: dedup against
    // the seed alone keeps strictly more docs than the growing index
    val seedOnly = keptAgainst(gatedAll, seedIdx).count()
    assert(seedOnly > streamed.size.toLong,
      "fixture must contain cross-batch near-dups for q142 to exercise")
  }

  test("incremental curation: compaction bounds index files, survivors unchanged") {
    // per-batch appends grow the table's listing O(batches); compaction
    // must rewrite it into a bounded file count WITHOUT changing the
    // survivor cascade (a batch still never sees its own signatures)
    import graft.streaming.DocumentStreams
    val seedIdx = curationSeed()
    def run(compactEvery: Int): (Seq[(Long, String)], Int) = {
      val outPath = tmpDir(s"compact-out-$compactEvery")
      val surv = DocumentStreams.incrementalCurationToParquetSigned(
          spark, sfDir, seedIdx, outPath,
          tmpDir("compact-idx"), batchFiles = 3, compactEvery = compactEvery)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      // the table's token dirs — count parquet files across all of them
      def countParquet(f: java.io.File): Int =
        Option(f.listFiles).getOrElse(Array.empty).map { c =>
          if (c.isDirectory) countParquet(c)
          else if (c.getName.endsWith(".parquet")) 1 else 0
        }.sum
      (surv, countParquet(new java.io.File(outPath)))
    }
    val (survOff, filesOff) = run(compactEvery = 0)
    val (survOn, filesOn) = run(compactEvery = 1)
    assert(survOn === survOff, "compaction must not change the cascade")
    // off: seed token + one token dir per batch; on: every batch ends
    // with a manifest swap to one ceil(bytes/128MB)=1-file compact token
    // (the replaced dirs are deleted after the swap)
    assert(filesOn === 1, s"compacted table must hold 1 file, got $filesOn")
    assert(filesOff > filesOn, "fixture must make compaction observable")
  }

  test("incremental curation: manifest commit is atomic — crash-replay is exactly-once") {
    // the crash matrix at DocumentStreams.CommitState, driven directly:
    // (1) a crash in the only window that exists (token dirs written,
    // manifest not yet swapped) leaves the store observably unchanged;
    // (2) replaying the batch commits it exactly once; (3) replaying an
    // already-committed batch (crash after swap, before the streaming
    // checkpoint) is a skip, not a double-commit.
    import graft.streaming.DocumentStreams
    val docs = Tables(spark, sfDir).documents
    val seedIdx = curationSeed()
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-spec-crash-idx").toString
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-spec-crash-out").toString
    DocumentStreams.initCurationStore(spark, seedIdx, idxPath, outPath)
    val batch0 = docs.filter(col("doc_id") % 10 =!= 0)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
    def survivors(): Seq[(Long, String)] =
      DocumentStreams.readCurated(spark, idxPath, outPath)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    // (1) injected crash between the dir writes and the manifest swap
    intercept[IllegalStateException] {
      DocumentStreams.processCurationBatch(spark, batch0, 0L, idxPath,
        outPath, numHashes = 64, bands = 4, threshold = 0.95,
        failBeforeCommit = true)
    }
    assert(survivors() === Seq.empty,
      "a pre-commit crash must leave the curated corpus unchanged")
    assert(DocumentStreams.readCommits(spark, idxPath) ===
      DocumentStreams.CommitState(Seq("seed"), -1L),
      "a pre-commit crash must leave the manifest unchanged")
    // (2) replay commits exactly once, over the partial orphan dirs
    DocumentStreams.processCurationBatch(spark, batch0, 0L, idxPath,
      outPath, numHashes = 64, bands = 4, threshold = 0.95)
    val afterReplay = survivors()
    assert(afterReplay.nonEmpty, "fixture batch must keep at least one doc")
    val expected = keptAgainst(
        batch0.filter(DocumentStreams.qualityGate(col("text"))), seedIdx)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(afterReplay === expected,
      "replayed batch must equal the batch-computed survivor set")
    // (3) a replay AFTER the swap is a skip — survivors unchanged, and
    // the index gained nothing (batch id is already in the manifest)
    val idxBefore = DocumentStreams.readCommits(spark, idxPath)
    DocumentStreams.processCurationBatch(spark, batch0, 0L, idxPath,
      outPath, numHashes = 64, bands = 4, threshold = 0.95)
    assert(survivors() === afterReplay, "post-commit replay must be a no-op")
    assert(DocumentStreams.readCommits(spark, idxPath) === idxBefore)
  }

  test("keyed incremental dedup: the two-store commit is crash-safe in " +
    "every window and replay is exactly-once across BOTH stores") {
    // the q206 crash matrix applied to the TWO-store lifecycle
    // (DocumentStreams.processKeyedDedupBatch): keyed ledger commits
    // first, index manifest second — drive each window directly.
    import graft.streaming.DocumentStreams
    import graft.sources.v2.{KeyedJsonStream => KJS}
    val docs = Tables(spark, sfDir).documents
    val seedIdx = curationSeed()
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-spec-kcrash-idx").toString
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-spec-kcrash-out").toString
    DocumentStreams.initCurationStore(spark, seedIdx, idxPath, outPath,
      seedSurvivors = false)
    val crawl = docs.filter(col("doc_id") % 10 =!= 0)
    def batch(b: Int) = crawl.filter(pmod(col("doc_id"), lit(3)) === b)
    def process(b: Int, fail: Boolean = false): Unit =
      DocumentStreams.processKeyedDedupBatch(spark, batch(b), b.toLong,
        idxPath, outPath, shards = 8, numHashes = 64, bands = 4,
        threshold = 0.95, failBeforeCommit = fail)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType)))
    def curated(): Seq[Long] =
      spark.read.format("graft-keyed").schema(outSchema)
        .option("keycol", "shard").load(outPath)
        .collect().map(_.getLong(0)).toSeq.sorted
    // batch 0 commits clean
    process(0)
    val after0 = curated()
    assert(after0.nonEmpty && KJS.isCommitted(outPath, 0L))
    // batch 1 crashes in the one non-atomic window: keyed store has
    // committed, the index manifest has NOT
    intercept[IllegalStateException] { process(1, fail = true) }
    assert(KJS.isCommitted(outPath, 1L),
      "the crash window under test is AFTER the keyed commit")
    assert(DocumentStreams.readCommits(spark, idxPath).maxBatch === 0L,
      "...and BEFORE the manifest swap")
    val afterCrash = curated()
    // replay heals: keyed append skips on its marker, the index token is
    // overwritten and swapped — and the curated rows are UNCHANGED (the
    // replay recomputed the same survivors from the unchanged manifest)
    process(1)
    assert(DocumentStreams.readCommits(spark, idxPath).maxBatch === 1L)
    assert(curated() === afterCrash,
      "replay after the mid-window crash must not change the keyed store")
    // batch 2 sees batch 1's signatures (the index healed, not just the
    // corpus); then a post-commit replay of every batch is a full no-op
    process(2)
    val settled = curated()
    (0 to 2).foreach(b => process(b))
    assert(curated() === settled, "post-commit replays must be no-ops")
    // the whole cascade equals the crash-free sequential unroll
    val cleanIdx = java.nio.file.Files
      .createTempDirectory("graft-spec-kclean-idx").toString
    val cleanOut = java.nio.file.Files
      .createTempDirectory("graft-spec-kclean-out").toString
    DocumentStreams.initCurationStore(spark, seedIdx, cleanIdx, cleanOut,
      seedSurvivors = false)
    (0 to 2).foreach(b =>
      DocumentStreams.processKeyedDedupBatch(spark, batch(b), b.toLong,
        cleanIdx, cleanOut, shards = 8, numHashes = 64, bands = 4,
        threshold = 0.95))
    val clean = spark.read.format("graft-keyed").schema(outSchema)
      .option("keycol", "shard").load(cleanOut)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(settled === clean,
      "crash+replay cascade must equal the crash-free cascade")
  }

  test("keyed incremental dedup: index compaction swaps atomically — a " +
    "crash before the swap leaves live state untouched, the replay " +
    "record rides the swap, and dedup verdicts are identical pre/post") {
    // r16 verdict #5: the keyed lifecycle's signature index accreted one
    // token dir per batch forever. Compaction rewrites the INDEX bases
    // only (the keyed survivor store has its own ledger) under the same
    // manifest atomicity as batch commits — graded here by building two
    // identical stores, compacting one, and requiring batch 2's
    // survivors to be IDENTICAL against both index states.
    import graft.streaming.DocumentStreams
    import graft.sources.v2.{KeyedJsonStream => KJS}
    val docs = Tables(spark, sfDir).documents
    val seedIdx = curationSeed()
    val crawl = docs.filter(col("doc_id") % 10 =!= 0)
    def batch(b: Int) = crawl.filter(pmod(col("doc_id"), lit(3)) === b)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType)))
    def mkStore(tag: String): (String, String) = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-spec-kcomp-$tag-idx").toString
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-spec-kcomp-$tag-out").toString
      DocumentStreams.initCurationStore(spark, seedIdx, idx, out,
        seedSurvivors = false)
      (0 to 1).foreach(b =>
        DocumentStreams.processKeyedDedupBatch(spark, batch(b), b.toLong,
          idx, out, shards = 8, numHashes = 64, bands = 4,
          threshold = 0.95))
      (idx, out)
    }
    def curated(out: String): Seq[Long] =
      spark.read.format("graft-keyed").schema(outSchema)
        .option("keycol", "shard").load(out)
        .collect().map(_.getLong(0)).toSeq.sorted
    val (idxA, outA) = mkStore("a")
    val (idxB, outB) = mkStore("b")
    // CRASH WINDOW: compact dirs written, manifest NOT swapped — the
    // live state is byte-for-byte what the manifest named before
    val stBefore = DocumentStreams.readCommits(spark, idxA)
    intercept[IllegalStateException] {
      DocumentStreams.compactCommitted(spark, idxA, outA, 1L,
        targetBytes = 128L << 20, includeSurvivors = false,
        failBeforeCommit = true)
    }
    assert(DocumentStreams.readCommits(spark, idxA) === stBefore,
      "a pre-swap compaction crash must leave the manifest untouched")
    // the real swap: single compact entry live, maxBatch CARRIED (the
    // exactly-once replay record survives compaction)
    DocumentStreams.compactCommitted(spark, idxA, outA, 1L,
      targetBytes = 128L << 20, includeSurvivors = false)
    val stAfter = DocumentStreams.readCommits(spark, idxA)
    assert(stAfter.entries === Seq("compact00001"), stAfter.toString)
    assert(stAfter.maxBatch === 1L,
      "the replay record must ride the compacted manifest")
    // replay of a committed batch against the compacted store: skipped
    // whole in both stores
    val beforeReplay = curated(outA)
    DocumentStreams.processKeyedDedupBatch(spark, batch(1), 1L,
      idxA, outA, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    assert(curated(outA) === beforeReplay,
      "post-compaction replay of a committed batch must be a no-op")
    assert(!KJS.appendBatch(
      batch(1).select(col("doc_id"), col("lang"),
        pmod(xxhash64(col("doc_id")), lit(8L)).cast("int").as("shard")),
      outA, "shard", 1L),
      "keyed ledger must still skip the committed id")
    // THE verdict grade: batch 2 probed against the compacted index (A)
    // and the uncompacted twin (B) keeps exactly the same survivors
    DocumentStreams.processKeyedDedupBatch(spark, batch(2), 2L,
      idxA, outA, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    DocumentStreams.processKeyedDedupBatch(spark, batch(2), 2L,
      idxB, outB, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    assert(curated(outA) === curated(outB),
      "compaction must move bytes, never dedup verdicts")
    // and the compaction bounded the file count: one file per index base
    def bandFiles(idx: String): Int =
      DocumentStreams.readCommits(spark, idx).entries
        .flatMap(e => Option(new java.io.File(s"$idx/$e").listFiles)
          .getOrElse(Array.empty).toSeq)
        .count(_.getName.endsWith(".parquet"))
    assert(bandFiles(idxA) < bandFiles(idxB),
      s"compaction must shrink the live file count " +
        s"(${bandFiles(idxA)} vs ${bandFiles(idxB)})")
  }

  // --- the fused compaction commit: fixtures shared by the tests below ---
  private def curationSeed() = {
    val docs = Tables(spark, sfDir).documents
    graft.operators.Dedup.signDocs(
      docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
      numHashes = 64, bands = 4)
  }
  /** The batch reference verdict: the ids of `docs` that no doc of the
    * signed `index` confirms as a near-dup. */
  private def keptAgainst(
      docs: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.operators.Dedup
    Dedup.dedupSignedAgainstIndex(
        Dedup.signDocs(docs, col("text"), col("doc_id"),
          numHashes = 64, bands = 4),
        index, threshold = 0.95)
      .select(col("doc_id"))
  }
  private def crawlBatch(b: Int) = Tables(spark, sfDir).documents
    .filter(col("doc_id") % 10 =!= 0)
    .filter(pmod(col("doc_id"), lit(3)) === b)
  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-spec-$tag").toString
  private def tokenDirs(base: String): Seq[String] =
    Option(new java.io.File(base).listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSeq.sorted
  private val keyedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.IntegerType)))
  private def keyedCurated(out: String): Seq[Long] =
    spark.read.format("graft-keyed").schema(keyedSchema)
      .option("keycol", "shard").load(out)
      .collect().map(_.getLong(0)).toSeq.sorted

  test("dedup store: the declared base schemas match what every writer " +
    "produces (seed, batch and compact tokens)") {
    // every store read goes through DocumentStreams' declared table
    // schema; a writer whose layout drifts would otherwise read back null
    // columns. Both lifecycles' table bases are checked.
    import graft.streaming.DocumentStreams
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    def check(base: String, token: String): Unit =
      assert(fields(spark.read.parquet(s"$base/$token").schema) ===
        fields(DocumentStreams.storeSchema), s"$base/$token")
    val idx = tmpDir("schema-idx")
    val out = tmpDir("schema-out")
    DocumentStreams.initCurationStore(spark, curationSeed(), idx, out)
    check(out, "seed")
    DocumentStreams.processCurationBatch(spark, crawlBatch(0), 0L, idx, out,
      numHashes = 64, bands = 4, threshold = 0.95)
    check(out, "batch00000")
    DocumentStreams.processCurationBatch(spark, crawlBatch(1), 1L, idx, out,
      numHashes = 64, bands = 4, threshold = 0.95, compactEvery = 2)
    check(out, "compact00001")
    assert(tokenDirs(idx) === Seq.empty, "the manifest dir holds no table")
    val (kIdx, kOut) = (tmpDir("schema-kidx"), tmpDir("schema-kout"))
    DocumentStreams.initCurationStore(spark, curationSeed(), kIdx, kOut,
      seedSurvivors = false)
    check(kIdx, "seed")
    DocumentStreams.processKeyedDedupBatch(spark, crawlBatch(0), 0L,
      kIdx, kOut, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    check(kIdx, "batch00000")
  }

  test("incremental curation: a compaction-due trigger commits once — a " +
    "crash before its swap changes nothing, and the replay installs one " +
    "compact token holding the crash-free survivors") {
    import graft.streaming.DocumentStreams
    val seedIdx = curationSeed()
    def process(idx: String, out: String, b: Int, compactEvery: Int,
        fail: Boolean = false): Unit =
      DocumentStreams.processCurationBatch(spark, crawlBatch(b), b.toLong,
        idx, out, numHashes = 64, bands = 4, threshold = 0.95,
        compactEvery = compactEvery, failBeforeCommit = fail)
    def survivors(idx: String, out: String): Seq[(Long, String)] =
      DocumentStreams.readCurated(spark, idx, out)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val idx = tmpDir("fused-idx")
    val out = tmpDir("fused-out")
    DocumentStreams.initCurationStore(spark, seedIdx, idx, out)
    process(idx, out, 0, compactEvery = 2)
    val before = DocumentStreams.readCommits(spark, idx)
    assert(before === DocumentStreams.CommitState(Seq("seed", "batch00000"), 0L))
    val survBefore = survivors(idx, out)
    // batch 1 is compaction-due (compactEvery = 2): crash before the swap
    intercept[IllegalStateException] {
      process(idx, out, 1, compactEvery = 2, fail = true)
    }
    assert(DocumentStreams.readCommits(spark, idx) === before,
      "a pre-swap crash must leave the manifest unchanged")
    assert(survivors(idx, out) === survBefore)
    // replay: one swap to the compacted token, maxBatch recorded
    process(idx, out, 1, compactEvery = 2)
    assert(DocumentStreams.readCommits(spark, idx) ===
      DocumentStreams.CommitState(Seq("compact00001"), 1L))
    assert(tokenDirs(out) === Seq("compact00001"),
      "the table must hold only the compacted token")
    // the verdicts equal a crash-free store that never compacts
    val cleanIdx = tmpDir("fused-clean-idx")
    val cleanOut = tmpDir("fused-clean-out")
    DocumentStreams.initCurationStore(spark, seedIdx, cleanIdx, cleanOut)
    (0 to 1).foreach(b => process(cleanIdx, cleanOut, b, compactEvery = 0))
    assert(survivors(idx, out) === survivors(cleanIdx, cleanOut))
    assert(survivors(idx, out).size > survBefore.size,
      "batch 1 must add survivors for the replay to be observable")
    // a replay after the swap is a skip
    process(idx, out, 1, compactEvery = 2)
    assert(DocumentStreams.readCommits(spark, idx) ===
      DocumentStreams.CommitState(Seq("compact00001"), 1L))
  }

  test("keyed incremental dedup: a compaction-due trigger commits the " +
    "index once — a crash after the keyed commit and before the swap " +
    "replays to one compact token, with the keyed ledger skipping") {
    import graft.streaming.DocumentStreams
    import graft.sources.v2.{KeyedJsonStream => KJS}
    val seedIdx = curationSeed()
    def process(idx: String, out: String, b: Int, compactEvery: Int,
        fail: Boolean = false): Unit =
      DocumentStreams.processKeyedDedupBatch(spark, crawlBatch(b), b.toLong,
        idx, out, shards = 8, numHashes = 64, bands = 4, threshold = 0.95,
        compactEvery = compactEvery, failBeforeCommit = fail)
    val idx = tmpDir("kfused-idx")
    val out = tmpDir("kfused-out")
    DocumentStreams.initCurationStore(spark, seedIdx, idx, out,
      seedSurvivors = false)
    process(idx, out, 0, compactEvery = 2)
    val before = DocumentStreams.readCommits(spark, idx)
    intercept[IllegalStateException] {
      process(idx, out, 1, compactEvery = 2, fail = true)
    }
    assert(KJS.isCommitted(out, 1L),
      "the crash window under test is AFTER the keyed commit")
    assert(DocumentStreams.readCommits(spark, idx) === before,
      "...and BEFORE the manifest swap")
    val afterCrash = keyedCurated(out)
    process(idx, out, 1, compactEvery = 2)
    assert(DocumentStreams.readCommits(spark, idx) ===
      DocumentStreams.CommitState(Seq("compact00001"), 1L))
    assert(tokenDirs(idx) === Seq("compact00001"),
      "the table must hold only the compacted token")
    assert(keyedCurated(out) === afterCrash,
      "the replay must not change the keyed store")
    assert(!KJS.appendBatch(
      crawlBatch(1).select(col("doc_id"), col("lang"),
        pmod(xxhash64(col("doc_id")), lit(8L)).cast("int").as("shard")),
      out, "shard", 1L),
      "the keyed ledger must skip the replayed id")
    // batch 2 against the compacted index keeps what a crash-free,
    // never-compacted store keeps
    process(idx, out, 2, compactEvery = 2)
    val cleanIdx = tmpDir("kfused-clean-idx")
    val cleanOut = tmpDir("kfused-clean-out")
    DocumentStreams.initCurationStore(spark, seedIdx, cleanIdx, cleanOut,
      seedSurvivors = false)
    (0 to 2).foreach(b => process(cleanIdx, cleanOut, b, compactEvery = 0))
    assert(keyedCurated(out) === keyedCurated(cleanOut),
      "crash+replay+compaction must equal the crash-free cascade")
  }

  test("incremental curation: a trigger's Spark-job budget, with and " +
    "without compaction (no schema inference, no second commit pass)") {
    import graft.streaming.DocumentStreams
    val idx = tmpDir("budget-idx")
    val out = tmpDir("budget-out")
    DocumentStreams.initCurationStore(spark, curationSeed(), idx, out)
    def jobsOf(b: Int, compactEvery: Int): Int =
      jobsIn(DocumentStreams.processCurationBatch(spark, crawlBatch(b),
        b.toLong, idx, out, numHashes = 64, bands = 4, threshold = 0.95,
        compactEvery = compactEvery))
    val plain = jobsOf(0, compactEvery = 0)
    val compacting = jobsOf(1, compactEvery = 1)
    assert(DocumentStreams.readCommits(spark, idx).entries ===
      Seq("compact00001"))
    info(s"Spark jobs per trigger: plain $plain, compacting $compacting")
    // the counts this layout reaches on the fixture: the signing
    // checkpoint, the probe's two broadcasts and the one table write. A
    // schema-inferring store read, a checkpoint of the probe result, a
    // shuffled probe stage or a second write would add jobs
    assert(plain <= 6, s"plain trigger ran $plain jobs")
    assert(compacting <= 6, s"compacting trigger ran $compacting jobs")
  }

  test("incremental curation: both lifecycles delete the crawl copies " +
    "they render") {
    // each call renders the crawl as batch files under java.io.tmpdir;
    // a full copy of the crawl must not outlive the call
    import graft.streaming.DocumentStreams
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def crawlCopies(): Set[String] = Option(tmp.listFiles).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("graft-crawl")).toSet
    val before = crawlCopies()
    DocumentStreams.incrementalCurationToParquetSigned(spark, sfDir,
      curationSeed(), tmpDir("tmpdir-out"), tmpDir("tmpdir-idx"),
      batchFiles = 3)
    assert(crawlCopies() -- before === Set.empty,
      "the parquet lifecycle left its crawl copies behind")
    DocumentStreams.incrementalDedupToKeyedSigned(spark, sfDir,
      curationSeed(), tmpDir("tmpdir-kout"), tmpDir("tmpdir-kidx"),
      batchFiles = 3)
    assert(crawlCopies() -- before === Set.empty,
      "the keyed lifecycle left its crawl copies behind")
  }

  test("the replay-dedup and view-conversion stream drivers delete the " +
    "dirs they render") {
    // both render their input under java.io.tmpdir and stream it into a
    // memory sink, so no rendered dir is needed once the call returns
    import graft.streaming.EventStreams
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def rendered(): Set[String] = Option(tmp.listFiles).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith("graft-dedup") || n.startsWith("graft-vconv"))
      .toSet
    val before = rendered()
    val deduped = EventStreams.dedupReplayToTable(spark, sfDir, "tmpdir_dedup")
    assert(rendered() -- before === Set.empty,
      "dedupReplayToTable left its rendered dirs behind")
    val conversions =
      EventStreams.viewConversionsToTable(spark, sfDir, "tmpdir_vconv")
    assert(rendered() -- before === Set.empty,
      "viewConversionsToTable left its rendered dirs behind")
    // the memory sinks still serve the results
    assert(deduped.count() > 0 && conversions.count() > 0)
  }

  test("registered queries delete the intermediates they render") {
    // q131 and q226 render their page fixtures on a memo miss (the
    // "/." spelling of the dataset dir is a key no earlier call built);
    // q206 renders its crawl on every call. Only the dirs that the
    // returned frames read may outlive the call
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val cases = Seq(
      ("q131_v2_page_scan", s"$sfDir/.", Seq("graft-q131-part")),
      ("q226_count_pushdown_pruned", s"$sfDir/.", Seq("graft-q226-part")),
      ("q206_stream_keyed_exactly_once", sfDir,
        Seq("graft-q206-part", "graft-q206-src", "graft-q206-ck")))
    for ((name, data, prefixes) <- cases) {
      def rendered(): Set[String] = Option(tmp.listFiles).getOrElse(Array.empty)
        .map(_.getName).filter(n => prefixes.exists(n.startsWith)).toSet
      val before = rendered()
      val rows = SparkEntry.queries(name)(spark, data).collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(rendered() -- before === Set.empty, s"$name left its intermediates")
    }
  }

  test("dedup store: the seed and every trigger of both lifecycles release " +
    "the checkpoints they create") {
    import graft.streaming.DocumentStreams
    val sc = spark.sparkContext
    def persisted(): Seq[Int] = sc.getPersistentRDDs.keys.toSeq.sorted
    val before = (persisted() :+ -1).max
    val (idx, out) = (tmpDir("release-idx"), tmpDir("release-out"))
    DocumentStreams.initCurationStore(spark, curationSeed(), idx, out)
    DocumentStreams.processCurationBatch(spark, crawlBatch(0), 0L, idx, out,
      numHashes = 64, bands = 4, threshold = 0.95)
    DocumentStreams.processCurationBatch(spark, crawlBatch(1), 1L, idx, out,
      numHashes = 64, bands = 4, threshold = 0.95, compactEvery = 2)
    assert(DocumentStreams.readCommits(spark, idx).entries ===
      Seq("compact00001"), "the second trigger must have compacted")
    val (kIdx, kOut) = (tmpDir("release-kidx"), tmpDir("release-kout"))
    DocumentStreams.initCurationStore(spark, curationSeed(), kIdx, kOut,
      seedSurvivors = false)
    DocumentStreams.processKeyedDedupBatch(spark, crawlBatch(0), 0L,
      kIdx, kOut, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    // a release unpersists asynchronously: poll to a deadline
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (persisted().exists(_ > before) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(persisted().filter(_ > before) === Seq.empty,
      "RDDs the store calls persisted are still held")
  }

  test("keyed survivor store: generation compaction swaps atomically — a " +
    "crash before the _gen swap changes nothing, the fold preserves " +
    "reads byte-for-byte, ledger markers survive, and appends continue") {
    // r17 verdict #3: the graft-keyed survivor store accreted one file
    // per shard per batch forever. KeyedJsonStream.compact folds each
    // shard's committed batch files into one generation file; the ONLY
    // visibility flip is the `_gen` manifest rename, and the `_batches`
    // ledger is carried untouched as the replay authority.
    import graft.streaming.DocumentStreams
    import graft.sources.v2.{KeyedJson, KeyedJsonStream => KJS}
    val docs = Tables(spark, sfDir).documents
    val seedIdx = curationSeed()
    val crawl = docs.filter(col("doc_id") % 10 =!= 0)
    def batch(b: Int) = crawl.filter(pmod(col("doc_id"), lit(3)) === b)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.IntegerType)))
    val idx = java.nio.file.Files
      .createTempDirectory("graft-spec-kgen-idx").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-spec-kgen-out").toString
    DocumentStreams.initCurationStore(spark, seedIdx, idx, out,
      seedSurvivors = false)
    (0 to 1).foreach(b =>
      DocumentStreams.processKeyedDedupBatch(spark, batch(b), b.toLong,
        idx, out, shards = 8, numHashes = 64, bands = 4, threshold = 0.95))
    def curated(): Seq[(Long, String)] =
      spark.read.format("graft-keyed").schema(outSchema)
        .option("keycol", "shard").load(out)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    def dataFiles(): Seq[String] = Option(new java.io.File(out).listFiles)
      .getOrElse(Array.empty).filter(d => d.isDirectory &&
        d.getName.startsWith("shard=")).toSeq
      .flatMap(d => Option(d.listFiles).getOrElse(Array.empty).toSeq)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName)
    val before = curated()
    assert(before.nonEmpty)
    assert(dataFiles().forall(_.startsWith("batch-")))
    // CRASH WINDOW: gen files written, `_gen` NOT swapped — readers see
    // the store exactly as before (a gen file is live only through the
    // manifest), and a re-run completes deterministically
    intercept[IllegalStateException] {
      KJS.compact(out, "shard", failBeforeCommit = true)
    }
    assert(KeyedJson.readGen(out).isEmpty,
      "a pre-swap compaction crash must leave no generation manifest")
    assert(curated() === before,
      "orphan gen files must be invisible to readers")
    // the real swap: one generation live, folded = max committed id
    assert(KJS.compact(out, "shard"))
    assert(KeyedJson.readGen(out) === Some(KeyedJson.GenState(1L, 1L)))
    assert(curated() === before,
      "compaction must move bytes, never rows")
    val live = dataFiles().filter(KeyedJson.liveFile(_, KeyedJson.readGen(out)))
    assert(live.nonEmpty && live.forall(_.startsWith("gen-1-")),
      s"folded batch files must be dead-by-rule: $live")
    // nothing new to fold → no-op, same generation
    assert(!KJS.compact(out, "shard"))
    assert(KeyedJson.readGen(out) === Some(KeyedJson.GenState(1L, 1L)))
    // the ledger markers survived the fold: a replay of a folded id is
    // still a whole-batch skip in both stores
    DocumentStreams.processKeyedDedupBatch(spark, batch(1), 1L,
      idx, out, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    assert(!KJS.appendBatch(
      batch(1).select(col("doc_id"), col("lang"),
        pmod(xxhash64(col("doc_id")), lit(8L)).cast("int").as("shard")),
      out, "shard", 1L),
      "ledger must still skip a folded committed id")
    assert(curated() === before)
    // life goes on: batch 2 appends normally (id 2 > folded 1 is live),
    // and a SECOND compaction folds the previous generation + batch 2
    DocumentStreams.processKeyedDedupBatch(spark, batch(2), 2L,
      idx, out, shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
    val withB2 = curated()
    assert(withB2.size > before.size)
    assert(KJS.compact(out, "shard"))
    assert(KeyedJson.readGen(out) === Some(KeyedJson.GenState(2L, 2L)))
    assert(curated() === withB2,
      "re-compaction must fold the prior generation losslessly")
  }

  test("streaming heavy hitters: MisraGriesAgg matches batch in the exact regime") {
    // the typed imperative aggregate composes under Structured Streaming
    // (complete-mode global aggregation) — frequent-items over a live
    // ingest stream with no batch-only construct; in the exact regime
    // (capacity >= distinct items) the final summary must equal the
    // batch aggregate over the same rows
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val agg = input.toDF().toDF("item")
      .agg(graft.plans.HeavyHitters.misraGries(col("item"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
    val q = agg.writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    val batch1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val batch2 = Seq.fill(2)("a") ++ Seq.fill(4)("d")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hh_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = (batch1 ++ batch2).toDF("item")
      .agg(graft.plans.HeavyHitters.misraGries(col("item"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed === Map("a" -> 7L, "b" -> 3L, "c" -> 1L, "d" -> 4L))
  }

  test("streaming CMS: CountMinAgg matches batch over the same rows") {
    // CMS is merge-exact (elementwise sum), so unlike Misra-Gries there
    // is no regime caveat: the streaming sketch must equal the batch
    // sketch cell-for-cell however the rows arrive
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .agg(graft.plans.CountMin.sketch(col("value"), 4, 64).as("cells"))
      .select(explode(col("cells")).as("e"))
      .select(col("e.row"), col("e.col"), col("e.cnt"))
    val q = sketch(input.toDF().toDF("value"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    val batch1 = Seq(10L, 10L, 10L, 20L, 20L, 30L)
    val batch2 = Seq(10L, 40L, 40L, 40L)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_stream").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val batch = sketch((batch1 ++ batch2).toDF("value"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed.collect { case ((r, _), c) if r == 0 => c }.sum === 10L)
  }

  test("stream-stream interval join matches the batch interval join") {
    val got = EventStreams.purchasesAfterSignupToTable(
        spark, sfDir, "spec_ssjoin", maxDelayMinutes = 60)
      .select(col("purchase_id"), col("signup_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    val ev = Tables(spark, sfDir).events
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    val want = p.join(s,
        col("p_user") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 60 MINUTES"))
      .select(col("event_id"), col("s_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("left-outer stream-stream join: matches emit immediately, outer " +
    "nulls emit ONLY once the watermark proves no match can arrive") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Long)] // (view_id, user, sec)
    val rIn = MemoryStream[(Long, Long, Long)] // (purchase_id, user, sec)
    val views = lIn.toDF().select(col("_1").as("view_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val purchases = rIn.toDF().select(col("_1").as("purchase_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val q = EventStreams.leftOuterIntervalJoinStreams(
        views, purchases, "user_id", "ts", maxDelayMinutes = 60)
      .select(col("l_view_id").as("view_id"),
        col("r_purchase_id").as("purchase_id"))
      .writeStream.format("memory").queryName("spec_louter_mem")
      .outputMode("append").start()
    def rows(): Set[(Long, Option[Long])] =
      spark.table("spec_louter_mem").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    try {
      // view 1 converts at +10 min; view 2 never converts
      lIn.addData((1L, 7L, 1000L), (2L, 7L, 2000L))
      rIn.addData((100L, 7L, 1600L))
      q.processAllAvailable()
      assert(rows() === Set((1L, Some(100L))),
        "the match emits; view 2's null MUST be withheld — a purchase " +
          "could still arrive inside its hour")
      // advance the watermark past view 2's window on BOTH sides (the
      // global watermark is the min across inputs) with NON-matching
      // drivers (different users): view 2's null now emits
      lIn.addData((9L, 8L, 100000L))
      rIn.addData((900L, 99L, 100000L))
      q.processAllAvailable()
      assert(rows() === Set((1L, Some(100L)), (2L, None)),
        "view 2's outer null must emit once the watermark passes; the " +
          "unmatched tail view 9 must NOT (its hour is still open)")
      // ...that withheld tail row is the drained-source failure mode the
      // sentinel discipline in viewConversionsToTable exists to close
    } finally q.stop()
  }

  test("full-outer stream-stream join: BOTH sides' outer nulls are " +
    "watermark-gated — left at ts+delay, right at ts — and both tails " +
    "are withheld on a drained source") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Long)] // (view_id, user, sec)
    val rIn = MemoryStream[(Long, Long, Long)] // (purchase_id, user, sec)
    val views = lIn.toDF().select(col("_1").as("view_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val purchases = rIn.toDF().select(col("_1").as("purchase_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val q = EventStreams.fullOuterIntervalJoinStreams(
        views, purchases, "user_id", "ts", maxDelayMinutes = 60)
      .select(col("l_view_id").as("view_id"),
        col("r_purchase_id").as("purchase_id"))
      .writeStream.format("memory").queryName("spec_fouter_mem")
      .outputMode("append").start()
    def rows(): Set[(Option[Long], Option[Long])] =
      spark.table("spec_fouter_mem").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    try {
      // view 1 converts; view 2 never converts; purchase 200 (user 9,
      // t=1700 > this batch's global wm 1600) is orphaned — no view
      lIn.addData((1L, 7L, 1000L), (2L, 7L, 2000L))
      rIn.addData((100L, 7L, 1600L), (200L, 9L, 1700L))
      q.processAllAvailable()
      assert(rows() === Set((Some(1L), Some(100L))),
        "only the match may emit: view 2's null needs wm past its hour, " +
          "purchase 200's null needs wm past its own ts")
      // push the watermark past everything with NON-matching drivers:
      // both withheld nulls emit, the new tail rows withhold in turn
      lIn.addData((9L, 8L, 100000L))
      rIn.addData((900L, 99L, 100000L))
      q.processAllAvailable()
      assert(rows() === Set(
        (Some(1L), Some(100L)), (Some(2L), None), (None, Some(200L))),
        "view 2's left-null and purchase 200's right-null must both " +
          "emit; the drained tail (view 9 / purchase 900) must NOT — " +
          "the failure mode the sentinel discipline closes")
    } finally q.stop()
  }

  test("right-outer stream-stream join: unmatched purchases surface " +
    "with view nulls, unmatched views never do") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Long)]
    val rIn = MemoryStream[(Long, Long, Long)]
    val views = lIn.toDF().select(col("_1").as("view_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val purchases = rIn.toDF().select(col("_1").as("purchase_id"),
      col("_2").as("user_id"), timestamp_seconds(col("_3")).as("ts"))
    val q = EventStreams.rightOuterIntervalJoinStreams(
        views, purchases, "user_id", "ts", maxDelayMinutes = 60)
      .select(col("l_view_id").as("view_id"),
        col("r_purchase_id").as("purchase_id"))
      .writeStream.format("memory").queryName("spec_router_mem")
      .outputMode("append").start()
    def rows(): Set[(Option[Long], Long)] =
      spark.table("spec_router_mem").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1))).toSet
    try {
      lIn.addData((1L, 7L, 1000L), (2L, 7L, 2000L)) // view 2 unmatched
      rIn.addData((100L, 7L, 1600L), (200L, 9L, 1700L)) // 200 orphaned
      q.processAllAvailable()
      lIn.addData((9L, 8L, 100000L))
      rIn.addData((900L, 99L, 100000L))
      q.processAllAvailable()
      assert(rows() === Set((Some(1L), 100L), (None, 200L)),
        "every settled purchase surfaces exactly once; unmatched views " +
          "(2, 9) must not appear in a right outer join")
    } finally q.stop()
  }

  test("salted equi-join returns exactly the plain join's rows") {
    val t = Tables(spark, sfDir)
    val (li, pt) = (t.lineitem, t.part)
    val plain = li.join(pt, li("l_partkey") === pt("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedEquiJoin(li, pt,
        "l_partkey", "p_partkey",
        saltSource = col("l_orderkey") * lit(8) + col("l_linenumber"), buckets = 8)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted === plain)
  }

  test("salted equi-join resolves same-named keys on both sides") {
    val t = Tables(spark, sfDir)
    val li = t.lineitem.select(col("l_partkey").as("partkey"),
      col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val pt = t.part.select(col("p_partkey").as("partkey"), col("p_brand"))
    val plain = li.join(pt.withColumnRenamed("partkey", "pk"),
        col("partkey") === col("pk"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // both sides name the key "partkey" — the common equi-join case that an
    // unqualified col("partkey") === col("partkey") condition would reject
    // with AMBIGUOUS_REFERENCE
    val saltedDf = Skew.saltedEquiJoin(li, pt, "partkey", "partkey",
        saltSource = col("l_orderkey") * lit(8) + col("l_linenumber"), buckets = 8)
    // the small side's duplicate key column is dropped, so downstream
    // col("partkey") resolves instead of hitting AMBIGUOUS_REFERENCE one
    // operator later
    assert(saltedDf.columns.count(_ == "partkey") === 1,
      s"output schema: ${saltedDf.columns.mkString(",")}")
    assert(!saltedDf.columns.contains("__salt"))
    val salted = saltedDf
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted === plain)
    // downstream references on the surviving key column work
    assert(saltedDf.select(col("partkey")).limit(1).count() === 1)
  }

  test("salted equi-join rejects join types broken by small-side replication") {
    val t = Tables(spark, sfDir)
    val ex = intercept[IllegalArgumentException] {
      Skew.saltedEquiJoin(t.lineitem, t.part, "l_partkey", "p_partkey",
        saltSource = col("l_orderkey"), buckets = 8, joinType = "right_outer")
    }
    assert(ex.getMessage.contains("salt-safe"))
  }

  test("incremental HLL: the multi-batch max-merge path equals the batch " +
      "register table (and the streaming plan keeps no state)") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll-stream").toString
    val events = Tables(spark, sfDir).events
    events.select("user_id").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("user_id", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/in")
    val (regs, batches) = EventStreams.hllRegistersForStream(
      spark, stream, col("user_id"), s"$tmp/out", p = 9)
    assert(batches >= 2,
      "merge discipline must be exercised across multiple micro-batches")
    val got = regs.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val want = graft.operators.Sketches
      .hllRegisters(events, col("user_id"), p = 9)
      .orderBy("j").collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got === want,
      "incremental merge must reach the whole-corpus register table")
    assert(got.length === 512, "bounded state: exactly 2^p register rows")
  }
}
