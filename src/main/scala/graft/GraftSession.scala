package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that encodes the engine's
  * deployment conventions, so a user of the reference switching to graft
  * starts from a correctly-configured session.
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions`: the native
  *    expressions are SQL functions from the first query;
  *  - UTC session timezone (the engine's documented divergence from the
  *    reference's America/Toronto, SyncTickets.php:38);
  *  - AQE on (runtime re-planning, skew-join handling);
  *  - shuffle partitioning defaulted for the local harness — a cluster
  *    deployment overrides it to ~2-3x total executor cores;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet's `ts` has
  *    been written as TIMESTAMP(NANOS) by some fixture generations, which
  *    Spark reads only as a long under this conf
  *    ([[graft.sources.Tables.events]] normalizes every layout).
  *
  * Every other conf a query or stream needs is scoped to its call by
  * [[withSessionConfs]].
  */
object GraftSession {

  /** A builder pre-loaded with the engine's conventions; callers chain
    * master/appName/conf overrides as usual and getOrCreate(). */
  def builder(shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Run `body` with the session confs `kvs` set, then give every key back
    * the value it had: a key that was set is set again, a key that was
    * unset is unset. A get/set round-trip would not do for the second
    * kind: `conf.get` of a key with no default (such as
    * `spark.sql.adaptive.autoBroadcastJoinThreshold`) is null, and setting
    * null throws. The restore runs even when `body` throws.
    *
    * The confs are SESSION state: this is safe because Verify, Bench and
    * the specs run registered queries and streams one at a time on one
    * session. A runner that shares the session between concurrent calls
    * would race the confs and must give each call its own
    * `spark.newSession()` (confs are per session). */
  def withSessionConfs[A](s: SparkSession)(kvs: (String, String)*)(
      body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The local test/bench shape (local[n] with matching partitioning). */
  def local(cores: Int = 32): SparkSession =
    builder(shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The NOTES §"Deployment at scale" knob tables rendered as CODE: one
    * value per operator-family knob, derived from the two numbers an
    * operator actually knows. Rationale lives with each knob's row in
    * the NOTES table and the named operator's scaladoc; this type exists
    * so the guidance cannot be missed or half-applied when the engine
    * moves to a real cluster. */
  final case class ScaleDefaults(
      /** 2-3× total executor cores (here 3×) — every shuffle's width. */
      shufflePartitions: Int,
      /** IVF lists / kNN-graph blocks: √N clamped [8, 2¹⁷]; use the
        * broadcast-join probe path (knnGraphJoined) past ~10³ lists. */
      nlist: Int,
      /** recall dial; probe cost ∝ nprobe/nlist of the corpus. */
      nprobe: Int,
      /** LSH-ANN OR-amplification tables for 0.95 NN recall at the
        * 8-bit signature point — see
        * [[graft.operators.Similarity.defaultLshTables]]. */
      lshTables: Int,
      /** minhash signature length for near-dup LSH. */
      minhashNumHashes: Int,
      /** banding solved by Dedup.lshPlan for the requested threshold —
        * persist these IN the index; drift probes wrong bands. */
      minhashBands: Int,
      /** winnowing per-fingerprint fan-out cap (df guard): √N clamped
        * [256, 2²⁰] — see [[defaultWinnowMaxDf]]. */
      winnowMaxDf: Long,
      /** decontamination gram length (the Lee et al. 13-gram convention). */
      deconGramLen: Int,
      /** Bloom prefilter bits per eval gram (one-sided; confirm join is
        * exact). */
      deconBitsPerGram: Int,
      /** BPE training vocabulary cap — bounds driver model state. */
      bpeMaxVocab: Int,
      /** ceBandsScalable partition count (≈ cores × 4). */
      ceBandingParts: Int,
      /** HLL precision: rel. err ≈ 1.04/√2ᵖ. */
      hllP: Int,
      /** Count-Min geometry: ε ≈ e/width, δ ≈ e^−depth. */
      cmsDepth: Int,
      cmsWidth: Int,
      /** skew-join salt buckets (only for past-broadcast dims). */
      saltBuckets: Int,
      /** ingest-time bucket count for bucketed fact tables (the q158
        * co-located-join layout): see [[defaultBuckets]]. */
      factTableBuckets: Int,
      /** driver/broadcast cap on ANN query-batch rows (the FromIndex
        * search paths collect or broadcast the query frame): see
        * [[graft.operators.Similarity.DefaultMaxQueryRows]]. */
      annMaxQueryRows: Int)

  /** Compute the 100 TB operating point from catalog corpus size and
    * total cluster cores. `nearDupThreshold` picks the minhash banding
    * S-curve (0.8 web-dedup default; a ≥0.95-only pipeline gets fewer,
    * wider bands). */
  def scaleDefaults(
      corpusRows: Long, clusterCores: Int,
      nearDupThreshold: Double = 0.8): ScaleDefaults = {
    require(clusterCores > 0, "clusterCores must be positive")
    val numHashes = 128
    val (bands, _) = graft.operators.Dedup.lshPlan(numHashes, nearDupThreshold)
    ScaleDefaults(
      shufflePartitions = clusterCores * 3,
      nlist = graft.operators.Similarity.defaultNlist(corpusRows),
      nprobe = 8,
      lshTables = graft.operators.Similarity.defaultLshTables(nbits = 8),
      minhashNumHashes = numHashes,
      minhashBands = bands,
      winnowMaxDf = defaultWinnowMaxDf(corpusRows),
      deconGramLen = 13,
      deconBitsPerGram = 12,
      bpeMaxVocab = graft.operators.Bpe.DefaultMaxVocab,
      ceBandingParts = clusterCores * 4,
      hllP = 13,
      cmsDepth = 4,
      cmsWidth = 1 << 18,
      saltBuckets = math.min(1024, math.max(64, clusterCores / 4)),
      factTableBuckets = defaultBuckets(corpusRows, clusterCores),
      annMaxQueryRows = graft.operators.Similarity.DefaultMaxQueryRows)
  }

  /** Bucket count for an ingest-time bucketed fact table — q158's layout
    * knob, derived like nlist/winnowMaxDf instead of hardcoded (8 through
    * r10 was the test scale masquerading as a constant). Two forces:
    * every cluster core should own at least one bucket (fewer ⇒ idle
    * cores on the co-located join), and each bucket's rows must fit an
    * executor's sort/merge budget (more rows ⇒ spill), so
    * `max(clusterCores, ⌈rows / targetRowsPerBucket⌉)` with 4M rows per
    * bucket (~hundreds of MB of parquet at fact-row widths). Rounded UP
    * to a power of two and clamped [8, 2¹⁵]: power-of-two counts keep
    * tables bucketed at different epochs mutually divisible, which is
    * exactly the shape `spark.sql.bucketing.coalesceBucketsInJoin` can
    * still co-locate without a shuffle; the ceiling bounds small-file
    * explosion on the write side. */
  def defaultBuckets(
      corpusRows: Long, clusterCores: Int,
      targetRowsPerBucket: Long = 4_000_000L): Int = {
    require(clusterCores > 0, "clusterCores must be positive")
    require(targetRowsPerBucket > 0, "targetRowsPerBucket must be positive")
    val rows = math.max(corpusRows, 0L)
    // overflow-safe ceil division (corpusRows may be Long.MaxValue)
    val byRows = rows / targetRowsPerBucket +
      (if (rows % targetRowsPerBucket > 0) 1L else 0L)
    val needed = math.min(1L << 15, math.max(clusterCores.toLong, byRows))
    var b = 8
    while (b < needed) b <<= 1
    b
  }

  /** Winnowing boilerplate cap derived from corpus size — the same √N
    * balance [[graft.operators.Similarity.defaultNlist]] strikes for IVF:
    * a fingerprint kept at df ≤ √N contributes at most df² ≈ N candidate
    * pairs to the bucket self-join, so the worst single-fingerprint term
    * stays linear in corpus size, while the cap itself GROWS with N — a
    * constant cap (10k through r9) silently drops the shared fingerprints
    * of any dup cluster larger than the constant once the corpus outgrows
    * it, degrading recall with scale. Clamped to [256, 2^20]: the floor
    * keeps small-corpus recall at the operator default, the ceiling
    * bounds worst-case bucket memory at the 100 TB point
    * (TextScaleProbe's 16× winnow row pins the growth stays ≈linear when
    * the cap rides this derivation). */
  def defaultWinnowMaxDf(corpusRows: Long): Long = {
    val root = math.round(math.sqrt(math.max(corpusRows, 0L).toDouble))
    math.max(256L, math.min(1L << 20, root))
  }

  /** A cluster-shaped builder: the engine conventions of [[builder]]
    * with shuffle width already sized to the cluster (the one
    * ScaleDefaults knob that is a session conf rather than an operator
    * parameter). */
  def builderFor(defaults: ScaleDefaults): SparkSession.Builder =
    builder(shufflePartitions = defaults.shufflePartitions)

  /** Pre-join planning advisory: broadcast / shuffle / salt + estimated
    * output rows, from one bounded-state sketch pass per side (CMS
    * inner-product join-size upper bound + Misra-Gries hot-key probe) —
    * see [[graft.plans.JoinAdvisor]] for the decision rule and the
    * full-control overload. At 100 TB the strategy decision costs two
    * map-only scans here vs a failed join discovered an hour in. */
  def joinAdvice(
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String): graft.plans.JoinAdvisor.JoinAdvice =
    graft.plans.JoinAdvisor.advise(
      left, org.apache.spark.sql.functions.col(key),
      right, org.apache.spark.sql.functions.col(key))
}
