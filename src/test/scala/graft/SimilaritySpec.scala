package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Similarity
import graft.functions.VectorFunctions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfDir).embeddings.cache()
  private lazy val queries = emb.filter(col("vec_id").isin(0L, 100L, 250L))

  test("cosine is bounded and self-cosine is 1") {
    val self = emb.limit(20)
      .select(round(cosine(col("embedding"), col("embedding")), 6).as("c"))
    assert(self.collect().forall(_.getDouble(0) === 1.0))
  }

  test("brute-force top-k returns k rows per query, ordered") {
    val got = Similarity.bruteForceTopK(emb, queries, 5).collect()
    assert(got.length === 15)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.map(_.getDouble(2)).toSeq
      assert(sims === sims.sorted.reverse, "descending similarity per query")
    }
  }

  test("LSH ANN recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.lshTopK(emb, queries, k = 5, nbits = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect truth).size.toDouble / truth.size
    assert(recall >= 0.4, s"multi-probe LSH recall too low: $recall")
  }

  test("ANN recall floors hold at sf0.1: IVF at √N nlist + scale nprobe, LSH") {
    // recall at fixed nprobe/tables DEGRADES as the corpus grows — the
    // sf0.001 floors above say nothing about the first scale-up step.
    // This is the sf0.1 row: 2000 vectors, IVF sized exactly as a 100 TB
    // deployment would size it (defaultNlist(N)=√N lists, scaleDefaults'
    // nprobe=8), LSH at the registered q48 operating point.
    // The floors are computed THROUGH Metrics.retrievalEval (q157's graded
    // operator), so the eval code path and the scale pin are the same code
    // — a regression in either the ANN or the metric trips this row.
    // retrievalEval additionally pins MRR: recall@5 can stay flat while
    // the TRUE nearest neighbor drops out of the list (the failure a
    // retrieval consumer feels first).
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val embL = Tables(spark, dir).embeddings.cache()
    try {
      val n = embL.count()
      val qs = embL.filter(col("vec_id").isin(0L, 100L, 250L))
      val truth = Similarity.bruteForceTopK(embL, qs, 5).localCheckpoint(true)
      def evalOf(retrieved: org.apache.spark.sql.DataFrame): (Double, Double) = {
        val r = graft.operators.Metrics.retrievalEval(retrieved, truth, k = 5)
          .agg(avg(col("recall_k")), avg(col("rr"))).head()
        (r.getDouble(0), r.getDouble(1))
      }
      val (ivfRecall, ivfMrr) = evalOf(Similarity.ivfTopK(embL, qs, k = 5,
        nlist = Similarity.defaultNlist(n), nprobe = 8))
      assert(ivfRecall >= 0.4, s"IVF recall@5 at sf0.1 fell to $ivfRecall")
      assert(ivfMrr >= 0.3, s"IVF MRR at sf0.1 fell to $ivfMrr")
      // LSH at the DERIVED table count (defaultLshTables(8) = 17): the
      // q48 4-table point holds recall@5 >= 0.4 here but loses the true
      // nearest neighbor outright (measured MRR 0.0) — recall@k alone
      // cannot see that failure, which is why the MRR pin rides the
      // derived OR-amplification operating point
      val (lshRecall, lshMrr) = evalOf(Similarity.lshTopK(
        embL, qs, k = 5, nbits = 8,
        tables = Similarity.defaultLshTables(nbits = 8)))
      assert(lshRecall >= 0.6, s"LSH recall@5 at sf0.1 fell to $lshRecall")
      assert(lshMrr >= 0.5, s"LSH MRR at sf0.1 fell to $lshMrr")
    } finally embL.unpersist()
  }

  test("hll approx distinct within 10% of exact") {
    val li = Tables(spark, sfDir).lineitem
    val r = li.agg(
      approx_count_distinct(col("l_orderkey")).as("a"),
      countDistinct(col("l_orderkey")).as("e")).head()
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.10, s"approx=$a exact=$e")
  }

  test("IVF ANN recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect truth).size.toDouble / truth.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("knnGraph: per-source recall vs brute force; structural invariants") {
    val g = Similarity.knnGraph(emb, k = 3, nlist = 8, nprobe = 2).collect()
    val bySrc = g.groupBy(_.getLong(0))
    // every non-null-embedding vector is a source with 1..k edges
    val nSrc = emb.filter(col("embedding").isNotNull).count()
    assert(bySrc.size === nSrc, "every vector with geometry gets edges")
    assert(g.forall(r => r.getLong(0) != r.getLong(1)), "no self edges")
    assert(bySrc.values.forall(es => es.length <= 3 &&
      es.map(_.getInt(3)).sorted.toSeq == (1 to es.length)), "dense ranks ≤ k")
    // recall vs brute force over ALL sources (the graph IS the query set)
    val truth = Similarity.bruteForceTopK(emb, emb, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = g.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect truth).size.toDouble / truth.size
    assert(recall >= 0.4, s"knnGraph recall too low: $recall")
    // blocked-join parity: edges only between a source's probed lists
    // and the dst's assigned list is implied by construction; spot-check
    // the graph agrees with ivfTopK on a few sources (same probe rule)
    val ids = Seq(0L, 100L, 250L)
    val viaQuery = Similarity.ivfTopK(emb,
        emb.filter(col("vec_id").isin(ids: _*)), k = 3, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaGraph = g.filter(r => ids.contains(r.getLong(0)))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaGraph === viaQuery, "graph edges == per-query IVF ANN")
  }

  test("knnGraphJoined is bit-identical to the expression-path knnGraph") {
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    // same trained model on both paths isolates the probe/assign parity
    val model = Similarity.kmeansCentroids(emb, 8, 3)
    val expr = edges(Similarity.knnGraph(
      emb, k = 3, nlist = 8, nprobe = 2, model = Some(model)))
    val joined = edges(Similarity.knnGraphJoined(
      emb, k = 3, nlist = Some(8), nprobe = 2, model = Some(model)))
    assert(joined === expr)
    // and end-to-end (each path trains its own — deterministic — model)
    val e2e = edges(Similarity.knnGraphJoined(emb, k = 3, nlist = Some(8),
      nprobe = 2))
    assert(e2e === expr, "independent training reproduces the same model")
  }

  test("knnGraphAdvised: three-verdict parity with the static knnGraph, " +
    "verdicts and plans match the operating points") {
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    val model = Similarity.kmeansCentroids(emb, 8, 3)
    val static = edges(Similarity.knnGraph(
      emb, k = 3, nlist = 8, nprobe = 2, model = Some(model)))
    // broadcast point: dimension-sized sides under the default threshold
    val (aB, dfB) = Similarity.knnGraphAdvised(
      emb, k = 3, nlist = 8, nprobe = 2, model = Some(model))
    assert(aB.strategy === "broadcast")
    assert(edges(dfB) === static)
    // shuffle point: broadcast disallowed, skew test unreachable
    val (aSh, dfSh) = Similarity.knnGraphAdvised(
      emb, k = 3, nlist = 8, nprobe = 2, model = Some(model),
      broadcastMaxRows = 0L, minSaltOutputRows = Long.MaxValue)
    assert(aSh.strategy === "shuffle")
    assert(edges(dfSh) === static)
    // salt point: thresholds forced down to the test scale — the hot
    // list must be MG-named, the plan must carry the salt key, and the
    // result must STILL be bit-identical (targeted hot/cold partition
    // is exact by key disjointness)
    // (maxHotShare lifted: the forced thresholds make EVERY cid breach
    // at fixture scale, so the hot share is ~1.0 and the default
    // ceiling would demote — this test grades salt-execution parity,
    // not the crossover economics, which JoinAdvisorSpec pins)
    val (aS, dfS) = Similarity.knnGraphAdvised(
      emb, k = 3, nlist = 8, nprobe = 2, model = Some(model),
      broadcastMaxRows = 0L, skewFactor = 1.01, minSaltOutputRows = 1L,
      maxSaltBuckets = 4, targetPartitions = Some(2000000),
      maxHotShare = 1.0)
    assert(aS.strategy === "salt" && aS.hotKeys.nonEmpty)
    val plan = dfS.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salted candidate join executes")
    assert(edges(dfS) === static)
    // the conf flag routes the PLAIN operator through the advisory
    spark.conf.set("spark.graft.advisor.knnGraph", "true")
    try {
      assert(edges(Similarity.knnGraph(
        emb, k = 3, nlist = 8, nprobe = 2, model = Some(model))) === static)
    } finally spark.conf.unset("spark.graft.advisor.knnGraph")
  }

  test("knnGraph paths reject a zero-norm centroid model (NaN cosine guard)") {
    // a zero-norm centroid makes its cosine NaN, and the expression/join
    // probe paths rank NaN differently — the bit-identity contract only
    // holds for non-degenerate models, so both paths must refuse one
    val degenerate = Seq(0 -> Seq.fill(64)(0.0), 1 -> Seq.fill(64)(1.0))
    val e1 = intercept[IllegalArgumentException](
      Similarity.knnGraph(emb, k = 3, nlist = 2, model = Some(degenerate)))
    val e2 = intercept[IllegalArgumentException](
      Similarity.knnGraphJoined(emb, k = 3, nlist = Some(2), model = Some(degenerate)))
    assert(e1.getMessage.contains("zero-norm centroid"))
    assert(e2.getMessage.contains("[0]"), "message names the offending cid")
  }

  test("defaultNlist: √N clamped to [8, 2^17]") {
    assert(Similarity.defaultNlist(0L) === 8)
    assert(Similarity.defaultNlist(100L) === 10)
    assert(Similarity.defaultNlist(1000000L) === 1000)
    assert(Similarity.defaultNlist(Long.MaxValue) === (1 << 17))
  }

  test("persisted LSH index: pruned-scan ANN matches in-memory lshTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    Similarity.writeLshIndex(emb, dir, nbits = 8, tables = 4)
    // geometry comes from the index's meta table, not caller params — a
    // repeated-wrong nbits/tables can no longer silently mis-probe
    val fromIndex = Similarity.lshTopKFromIndex(spark, dir, queries, k = 5)
    val direct = Similarity.lshTopK(emb, queries, k = 5, nbits = 8, tables = 4)
    val a = fromIndex.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, s"index-vs-direct mismatch: ${(a diff b) ++ (b diff a)}")
    // the scan must prune to the probe partitions, not read the index
    val planStr = fromIndex.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: ["), planStr.take(2000))
    assert(planStr.contains("tbl"), "partition filter should constrain tbl/sig")
    // probe partitions are a small fraction of tables * 2^nbits
    val totalParts = new java.io.File(s"$dir/buckets").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).count(_.isDirectory)
    assert(totalParts > 100, s"expected many sig partitions, got $totalParts")
    // empty query set returns empty, not an empty-reduce crash
    assert(Similarity.lshTopKFromIndex(
      spark, dir, queries.limit(0), k = 5).count() === 0L)
    // a pre-meta / non-index path throws instead of probing garbage
    val bare = java.nio.file.Files.createTempDirectory("graft-lsh-bare").toString
    intercept[IllegalStateException] {
      Similarity.lshTopKFromIndex(spark, bare, queries, k = 5)
    }
    // an over-cap query frame fails BY NAME before the driver collect
    // (the collect itself is limit-bounded, so the gate never OOMs)
    val big = intercept[IllegalArgumentException] {
      Similarity.lshTopKFromIndex(spark, dir, emb, k = 5, maxQueryRows = 3)
    }
    assert(big.getMessage.contains("maxQueryRows"), big.getMessage)
    // ...and a frame exactly at the cap passes
    assert(Similarity.lshTopKFromIndex(
      spark, dir, queries, k = 5,
      maxQueryRows = queries.count().toInt).count() > 0L)
  }

  test("persisted IVF index: pruned-scan ANN matches in-memory ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    Similarity.writeIvfIndex(emb, dir, nlist = 8, iters = 3)
    val fromIndex = Similarity.ivfTopKFromIndex(spark, dir, queries, k = 5, nprobe = 3)
    val direct = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 3, iters = 3)
    val a = fromIndex.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, s"index-vs-direct mismatch: ${(a diff b) ++ (b diff a)}")
    val planStr = fromIndex.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: ["), planStr.take(1500))
    // a pre-meta / non-index path throws instead of searching blind
    val bare = java.nio.file.Files.createTempDirectory("graft-ivf-bare").toString
    intercept[IllegalStateException] {
      Similarity.ivfTopKFromIndex(spark, bare, queries, k = 5, nprobe = 3)
    }
    // over-cap query frame fails by name before the probe broadcast
    val big = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(spark, dir, emb, k = 5, maxQueryRows = 3)
    }
    assert(big.getMessage.contains("maxQueryRows"), big.getMessage)
  }

  test("embedding dedup survivors drop exactly the dominated ids") {
    val pairs = Similarity.blockedCosinePairs(emb, col("label"), 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = Similarity.embeddingDedupSurvivors(emb, col("label"), 0.4)
      .collect().map(_.getLong(0)).toSet
    val droppedExpected = pairs.map(_._2)
    val all = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(survivors === (all -- droppedExpected))
  }

  test("blockedCosinePairs drops planted hot blocks, keeps cold ones intact") {
    import spark.implicits._
    // planted: a degenerate 20-row "hot" block of identical vectors (every
    // pair similar -> 190 pairs unguarded) and a 3-row "cold" block
    val hot = (0L until 20L).map(i => (i, "hot", Seq(1.0f, 0.0f)))
    val cold = Seq(
      (100L, "cold", Seq(1.0f, 0.1f)),
      (101L, "cold", Seq(1.0f, 0.2f)),
      (102L, "cold", Seq(0.9f, 0.1f)))
    val df = (hot ++ cold).toDF("vec_id", "blk_key", "embedding")

    val unguarded = Similarity.blockedCosinePairs(df, col("blk_key"), 0.5)
    assert(unguarded.count() === 190L + 3L) // C(20,2) hot + C(3,2) cold

    val guarded = Similarity.blockedCosinePairs(df, col("blk_key"), 0.5, maxBlock = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L), (100L, 102L), (101L, 102L)),
      s"hot block must be excluded whole, cold pairs untouched: $guarded")

    // survivorship under the guard: hot ids all survive (no pairs emitted)
    val survivors = Similarity.embeddingDedupSurvivors(
      df, col("blk_key"), 0.5, maxBlock = 10L)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === (0L until 20L).toSet + 100L)
  }

  test("sample-bounded quantizer training: deterministic, k centroids, sane ANN") {
    // trainCap below the corpus size forces the hash-gated subsample path
    val a = Similarity.kmeansCentroids(emb, k = 8, iters = 2, trainCap = 100L)
    val b = Similarity.kmeansCentroids(emb, k = 8, iters = 2, trainCap = 100L)
    assert(a === b, "hash-gated training sample must be replay-stable")
    assert(a.length === 8)
    assert(a.map(_._1) === (0 until 8))
    // full-corpus assignment over sample-trained centroids still answers
    val got = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 3)
    assert(got.count() === 15)

    // the 100 TB path: a caller-supplied row count replaces the sizing
    // scan; supplying the exact count reproduces the counted result
    // bit-for-bit, and a rough over-estimate still trains k centroids
    // (the fraction only sets the expected sample size)
    val n = emb.count()
    val c = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainCap = 100L, corpusRows = Some(n))
    assert(c === a, "explicit corpusRows must reproduce the counted gate")
    val over = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainCap = 100L, corpusRows = Some(n * 10))
    assert(over.length === 8)
    assert(over.map(_._1) === (0 until 8))

    // a LIED small count ("corpus fits under trainCap" when it doesn't)
    // self-corrects: the checkpoint recount exposes the truth and the
    // gated path re-enters with it — bit-for-bit the honest result, never
    // a full corpus carried through training
    val lied = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainCap = 100L, corpusRows = Some(10L))
    assert(lied === a, "a wrong small count must fall back to the counted gate")
  }

  test("lshBucketTable is the bucket directory lshTopK joins against") {
    val bt = Similarity.lshBucketTable(emb, nbits = 8, tables = 4).cache()
    val n = emb.count()
    assert(bt.count() === n * 4, "one row per corpus vector per table")
    assert(bt.select("tbl", "vec_id").distinct().count() === n * 4)
    assert(bt.filter(col("sig") < 0 || col("sig") >= 256).count() === 0,
      "signatures confined to nbits")
    // parity: the composed-Column signature form reproduces table 0's sigs
    val planes = Similarity.hyperplanes(8, 64, seed = 42L)
    val recomputed = emb.select(col("vec_id"),
      Similarity.lshSignatureViaColumns(col("embedding"), planes).as("sig2"))
    assert(bt.filter(col("tbl") === 0).join(recomputed, "vec_id")
      .filter(col("sig") =!= col("sig2")).count() === 0,
      "table-0 signatures must match the composed parity form")
    bt.unpersist()
  }

  test("ivfIndexTable: exact training centroids, every row on exactly one list") {
    val ix = Similarity.ivfIndexTable(emb, nlist = 8, iters = 3).cache()
    val n = emb.count()
    assert(ix.count() === n, "one row per corpus vector")
    assert(ix.select("vec_id").distinct().count() === n)
    val fromTable = ix.select(col("cid"), col("centroid")).distinct()
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val trained = Similarity.kmeansCentroids(emb, k = 8, iters = 3)
    assert(fromTable === trained,
      "index-table centroids must reproduce a fresh deterministic training bit-for-bit")
    ix.unpersist()
  }

  test("kmeans keeps k centroids when duplicate seeds lose every tie") {
    import spark.implicits._
    // 6 rows, only 2 distinct embeddings: with k=4 at least two seeds are
    // identical, the duplicate's centroid captures no rows (ties break to
    // the smaller cid), and the Lloyd update must carry it through rather
    // than silently shrinking the centroid set
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, k = 4, iters = 2)
    assert(centroids.length === 4, s"centroid set shrank: $centroids")
    assert(centroids.map(_._1) === Seq(0, 1, 2, 3))
    // and ivf over the same corpus still probes without crashing
    val got = Similarity.ivfTopK(df, df.filter(col("vec_id") === 1L),
      k = 2, nlist = 4, nprobe = 2, iters = 2)
    assert(got.count() === 2)
  }

  test("semanticDedupPairs == in-cluster brute-force pairs (blocking parity)") {
    // structural exactness: with the SAME deterministic model, SemDeDup
    // must return EXACTLY the above-threshold pairs whose two sides share
    // a cluster — no more (cross-cluster pairs are invisible BY DESIGN),
    // no fewer (within a cluster the comparison is exact, not approximate)
    val tau = 0.3
    val got = Similarity.semanticDedupPairs(emb, minCos = tau, nlist = 8, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val asg = Similarity.ivfIndexTable(emb, nlist = 8, iters = 3)
      .select(col("vec_id"), col("cid"))
    val a = asg.select(col("vec_id").as("id_a"), col("cid"))
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
    val b = asg.select(col("vec_id").as("id_b"), col("cid"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
    val want = a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("emb_a"), col("emb_b")), 4) >= tau)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got === want)
    assert(got.nonEmpty, "fixture should contain in-cluster near-dups at tau=0.3")
  }

  test("semanticDedupSurvivors: keep-min-id; null embeddings always survive") {
    import spark.implicits._
    // two tight duplicate groups on orthogonal axes + one null row
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.999f, 0.001f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (4L, Seq(0.001f, 0.999f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
      .unionByName(Seq(6L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val pairs = Similarity.semanticDedupPairs(df, minCos = 0.99, nlist = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each duplicate pair sits well inside one hemisphere; whatever the
    // 2-means boundary does with vec 5, the dup pairs must be found and
    // nothing else reaches cos >= 0.99
    assert(pairs === Set((1L, 2L), (3L, 4L)))
    val kept = Similarity.semanticDedupSurvivors(df, minCos = 0.99, nlist = 2, iters = 3)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L, 6L), "min ids + the unpaired + the null row")
  }

  test("q78 oracle device safety: every LSH dot keeps a wide sign margin") {
    // The q78 oracle re-derives each signature bit as sign(dot) with
    // DuckDB's list_sum, whose summation tail can differ from the
    // kernel's sequential fold by ~1e-13 relative. A bit can therefore
    // only disagree if some |dot| sits inside that noise band. This pin
    // measures the fixture's true minimum margin — orders of magnitude
    // above the noise — which makes the cross-engine compare
    // deterministic rather than probabilistic.
    val planes = Similarity.tablePlaneSets(nbits = 8, tables = 4, dim = 64)
    val dots = planes.zipWithIndex.flatMap { case (ps, t) =>
      ps.zipWithIndex.map { case (p, b) =>
        abs(dot(col("embedding"), array(p.map(lit): _*))).as(s"d_${t}_$b") }
    }
    val minAbs = emb.filter(col("embedding").isNotNull)
      .select(least(dots: _*).as("m"))
      .agg(min(col("m"))).collect()(0).getDouble(0)
    assert(minAbs > 1e-6, s"LSH sign margin too thin for the SQL oracle: $minAbs")
  }

  test("q79 oracle device safety: unique ids; argmax gaps clear the noise") {
    // Device pin 1: seedRows orders by (xxhash64(id), id, xxhash64(emb));
    // the SQL oracle drops the third key, which is only sound while
    // vec_ids are unique in the fixture.
    val n = emb.count()
    assert(emb.select(col("vec_id")).distinct().count() === n,
      "q79's seed restatement assumes unique vec_ids")
    // Device pin 2: every Lloyd assignment (and the final one) is an
    // argmax over cosines that the oracle recomputes with a different
    // summation tail (~1e-13 noise) from 9dp-snapped centroids (~1e-9
    // perturbation). An argmax can only flip if some vec's top-2 centroid
    // cosines sit closer than that; measure the true minimum gap against
    // every intermediate model state (iters = 0 is the raw seed state).
    for (it <- 0 to 3) {
      val model = Similarity.kmeansCentroids(emb, k = 8, iters = it)
      val sims = array_sort(array(model.sortBy(_._1).map { case (_, ctr) =>
        cosine(col("embedding"), array(ctr.map(lit): _*)) }: _*)).as("s")
      val gaps = emb.filter(col("embedding").isNotNull)
        .select(sims)
        .select((element_at(col("s"), 8) - element_at(col("s"), 7)).as("gap"))
        .filter(col("gap") =!= 0.0) // bit-equal ties are engine-stable
        .agg(min(col("gap"))).collect()(0).getDouble(0)
      assert(gaps > 1e-6,
        s"top-2 assignment gap too thin at iteration state $it: $gaps")
    }
  }
}
