package graft

/** The session entry point and the deployment-defaults calculator —
  * the "can't miss the knobs" surface. The shared test session itself is
  * built through GraftSession.builder (SparkSpec), so the convention
  * assertions here exercise the real object, not a copy.
  */
class GraftSessionSpec extends SparkSpec {

  test("builder applies the engine conventions (extensions, UTC, AQE)") {
    assert(spark.conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    // the extensions actually registered: a native graft function resolves
    // from SQL without imports (one probe is enough — GraftExtensions
    // registers them in one loop)
    assert(spark.sql(
      "SELECT jaccard_sorted(array(1L, 2L), array(1L, 2L)) AS j")
      .head().getDouble(0) === 1.0)
  }

  test("scaleDefaults derives the NOTES knob table from corpus size + cores") {
    val d = GraftSession.scaleDefaults(
      corpusRows = 10_000_000_000L, clusterCores = 8000)
    // √N sizing for IVF/kNN-graph lists, clamped to [8, 2^17]
    assert(d.nlist === graft.operators.Similarity.defaultNlist(10_000_000_000L))
    assert(d.nlist === 100000)
    // LSH-ANN OR-amplification from the collision model: 0.8^8 per-table
    // collision → 17 tables for 0.95 NN recall (4 tables measured MRR 0.0
    // at sf0.1 — recall@5 alone hid the lost true neighbor)
    assert(d.lshTables === 17)
    assert(graft.operators.Similarity.defaultLshTables(8) === 17)
    assert(graft.operators.Similarity.defaultLshTables(30) === 64) // cap
    // shuffle width 3x cores; banding parts 4x cores
    assert(d.shufflePartitions === 24000)
    assert(d.ceBandingParts === 32000)
    // 0.8-threshold web dedup on 128 hashes: lshPlan's documented (8, 16)
    assert(d.minhashNumHashes === 128)
    assert(d.minhashBands === 8)
    // a >=0.95-only pipeline gets fewer, wider bands
    assert(GraftSession.scaleDefaults(1L, 1, nearDupThreshold = 0.95)
      .minhashBands < 8)
    // operator caps ride through unchanged
    assert(d.bpeMaxVocab === graft.operators.Bpe.DefaultMaxVocab)
    assert(d.saltBuckets >= 64 && d.saltBuckets <= 1024)
    // winnowing df cap derives from corpus size (√N, clamped [256, 2^20])
    // — a constant cap would drop shared fingerprints of any dup cluster
    // larger than it once the corpus outgrows the constant
    assert(d.winnowMaxDf === 100000L)
    assert(GraftSession.defaultWinnowMaxDf(5000L) === 256L)       // floor
    assert(GraftSession.defaultWinnowMaxDf(4_000_000L) === 2000L) // √N
    assert(GraftSession.defaultWinnowMaxDf(Long.MaxValue) === (1L << 20)) // ceil
    // tiny inputs clamp instead of degenerating
    val tiny = GraftSession.scaleDefaults(corpusRows = 0L, clusterCores = 1)
    assert(tiny.nlist === 8)
    assert(tiny.shufflePartitions === 3)
    assert(tiny.winnowMaxDf === 256L)
    assert(tiny.factTableBuckets === 8)
    // fact-table buckets: max(cores, ceil(rows/4M)) rounded UP to a power
    // of two, clamped [8, 2^15] — cores bind here (10e9/4M = 2500 < 8000)
    assert(d.factTableBuckets === 8192)
    // rows bind when the corpus outgrows the cores
    assert(GraftSession.defaultBuckets(10_000_000_000L, 64) === 4096)
    assert(GraftSession.defaultBuckets(5L, 1) === 8)              // floor
    assert(GraftSession.defaultBuckets(Long.MaxValue, 1) === 32768) // ceil, no overflow
    // power-of-two round-up keeps epoch layouts mutually divisible
    assert(GraftSession.defaultBuckets(0L, 33) === 64)
  }

  test("withSessionConfs restores a set key, unsets an unset one, also on a throw") {
    val set = "spark.sql.autoBroadcastJoinThreshold"
    // no default: conf.get is null here, so a get/set restore would throw
    val unset = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(set)
    assert(spark.conf.getOption(unset).isEmpty)
    def check(): Unit = {
      assert(spark.conf.getOption(set) === prior)
      assert(spark.conf.getOption(unset).isEmpty)
    }
    val seen = GraftSession.withSessionConfs(spark)(set -> "-1", unset -> "4MB") {
      (spark.conf.get(set), spark.conf.get(unset))
    }
    assert(seen === ("-1", "4MB"))
    check()
    intercept[IllegalStateException] {
      GraftSession.withSessionConfs(spark)(set -> "1KB", unset -> "8MB") {
        throw new IllegalStateException("body failed")
      }
    }
    check()
  }

  test("builderFor sizes the session's shuffle width from the defaults") {
    val d = GraftSession.scaleDefaults(corpusRows = 1000L, clusterCores = 4)
    // inspect the builder's effect through a throwaway config clone: the
    // shared session is already running, so assert on the builder's conf
    // via a fresh session-with-same-context (getOrCreate reuses the
    // context but applies session-level confs)
    val s2 = GraftSession.builderFor(d).master("local[4]").getOrCreate()
    try assert(s2.conf.get("spark.sql.shuffle.partitions") === "12")
    finally s2.conf.set("spark.sql.shuffle.partitions",
      spark.conf.get("spark.sql.shuffle.partitions"))
  }
}
