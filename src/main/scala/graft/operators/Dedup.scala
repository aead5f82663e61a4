package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline, generalizing the
  * reference's single dedup probe (duplicate-conversation anti-join,
  * TicketProcessor.php:353-373) into the family a 100 TB corpus needs:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle on the
  *    fingerprint key, arbitrarily wide.
  *  - MinHash+LSH: shingle → minhash signature → band → bucket self-join →
  *    exact-Jaccard verify. The self-join is keyed on (band, bandHash), so
  *    only colliding docs ever meet — never an O(n²) cross join.
  *  - SimHash: 64-bit signature + hamming distance on banded buckets.
  *
  * All signature math is built-in-expression columns (TextFunctions) —
  * codegen'd, no UDFs, deterministic salts.
  *
  * FAULT-TOLERANCE NOTE on the internal lazy `localCheckpoint`s
  * (hashSets/banded, sigs' banded, winnow fps/byDoc, duplicateSpans
  * grams, baseEntities, and the Pq/Classifier/LangModel/Multimodal
  * siblings): a localCheckpoint trades lineage for executor block
  * storage — it shares a heavy subtree across consumers WITHIN one
  * execution, but the blocks are documented-unrecoverable on executor
  * loss and linger until the RDD is GC'd. On the fixture harness that
  * is the right trade everywhere it is used; a long-lived cluster
  * deployment with dynamic allocation or preemption should flip these
  * to reliable checkpoints (or persist(DISK_ONLY) with explicit
  * unpersist) — the same trade Graph.scala's scaladoc documents for
  * its eager checkpoints.
  */
object Dedup {

  /** Solve the minhash-LSH banding for a target Jaccard threshold: among
    * the (bands, rows) factorizations of `numHashes`, pick the one whose
    * S-curve midpoint (1/b)^(1/r) — the similarity at which candidate
    * probability is ≈ 1−1/e — sits closest to `targetThreshold`. The
    * deployment helper behind the NOTES banding table: a 0.95-threshold
    * pipeline on 64 hashes wants (2, 32); a 0.8-threshold web-dedup run
    * on 128 hashes wants (8, 16). Pure driver arithmetic; persist the
    * chosen parameters IN the index (signatureTable callers) — parameter
    * drift probes wrong bands. */
  def lshPlan(numHashes: Int, targetThreshold: Double): (Int, Int) = {
    require(numHashes > 0, "numHashes must be positive")
    require(targetThreshold > 0 && targetThreshold < 1,
      "targetThreshold must be in (0, 1)")
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) =>
        math.abs(math.pow(1.0 / b, 1.0 / r) - targetThreshold)
      }
  }

  /** Conditional re-widen before a heavy per-row map (the q184
    * triangleCounts device, centralized): a frame read from few files —
    * a single fixture parquet, one crawl file per micro-batch — arrives
    * with partition count = its split count, which says NOTHING about
    * per-row compute cost, so a tokenize/minhash/fingerprint pass over
    * it runs on one core while the rest idle. Repartition to the
    * session's defaultParallelism ONLY when width was genuinely lost
    * (count*2 <= width): at deployment scale inputs span many splits
    * and this is a no-op branch, so the text payload is never shuffled
    * where the scan is already wide. Hash on the id column keeps the
    * placement deterministic under retries (guide §2.5).
    *
    * Two gates in front of the probe (r19, closing the r18 regressions):
    *  - PLAN gate: probe and repartition only SCAN-ROOTED frames
    *    (leaf + Project/Filter). On anything holding a join/aggregate,
    *    `.rdd` under AQE eagerly executes every upstream shuffle stage
    *    at DataFrame-CONSTRUCTION time and the work is discarded when
    *    the repartitioned frame re-plans (the r18 ADVICE finding —
    *    q125/q152 paid the whole quality+dedup subtree twice through
    *    the contamination prefilter's re-widen). Such frames keep their
    *    existing width: a post-shuffle frame already has it.
    *  - SIZE gate: the exchange only pays when it buys parallelism
    *    worth more than its own scheduling cost (guide §2.5 — "only pay
    *    an exchange that buys parallelism"). Below
    *    `spark.graft.rewiden.minBytes` (plan-stats estimate, default
    *    256 KiB of source data) the serial map is cheaper than 32 tiny
    *    tasks plus an exchange — the r18 q231 regression re-widened a
    *    1.9k-row corpus into 60-row tasks across every consumer of the
    *    salted join. At deployment scale any real corpus clears the
    *    default; the conf exists for operators over unusually narrow
    *    projections, not for cluster tuning. */
  private[graft] def rewiden(df: DataFrame, keyCol: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    val spark = df.sparkSession
    val width = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    def scanRooted(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.LeafNode => true
      case pr: logical.Project => scanRooted(pr.child)
      case f: logical.Filter => scanRooted(f.child)
      case _ => false
    }
    val minBytes = BigInt(spark.conf.get(
      "spark.graft.rewiden.minBytes", (256L * 1024).toString).toLong)
    if (!scanRooted(plan) || plan.stats.sizeInBytes < minBytes) df
    else if (df.rdd.getNumPartitions * 2 <= width) df.repartition(width, keyCol)
    else df
  }

  /** Exact duplicate groups by normalized-content fingerprint.
    * Output: fingerprint, n, keep_id (min id survives — the idempotent
    * replay rule, SURVEY §2.10). */
  def exactDupGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame =
    df.groupBy(fingerprint(textCol).as("fp"))
      .agg(count(lit(1)).as("n"), min(idCol).as("keep_id"))

  /** Candidate near-duplicate pairs via MinHash+LSH over distinct-word
    * sets, verified with exact Jaccard.
    *
    * @param numHashes minhash signature width (bands * rowsPerBand)
    * @param bands     LSH bands; collision prob ≈ 1-(1-j^r)^b
    * @param threshold exact-Jaccard verify threshold
    * Output: id_a < id_b, jaccard (rounded 4dp). Unsorted — a global sort
    * of a corpus-cardinality frame is a needless range shuffle at 100 TB;
    * callers that need a total order (the oracle queries) sort themselves.
    */
  def minhashNearDupPairs(
      df: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.8): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    // hashSets: distinct xxhash64 per word — all downstream set math runs
    // on sorted long arrays, never on strings (hash collisions are
    // negligible for jaccard estimation at 64 bits). Re-widened input +
    // LAZY checkpoint (r18): hashSets feeds FOUR subtrees (both banded
    // self-join sides, both verify join-backs) and none shared — the
    // q100 plan audit showed zero ReusedExchange across such copies, so
    // the corpus was tokenized four times per run; the checkpoint
    // materializes it on first touch and every consumer reads arrays.
    val hashSets = rewiden(df, idCol).select(
      idCol.cast("long").as("doc_id"),
      array_sort(array_distinct(elementHashes(tokens(textCol)))).as("wh"))
      .localCheckpoint(eager = false)
    // banded carries ONLY (doc_id, band, bandHash): the self-join and the
    // pair-dedup shuffle never move arrays, and each surviving pair is
    // jaccard-verified exactly once. Lazily checkpointed for the same
    // reason (both self-join sides re-derived the minhash otherwise).
    val banded = hashSets
      .withColumn("sig", minhashFromHashes(col("wh"), numHashes))
      .select(col("doc_id"),
        posexplode(lshBandHashes(col("sig"), bands, rows)).as(Seq("band", "bh")))
      .localCheckpoint(eager = false)
    val candidates = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bh"), col("doc_id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // verify with the sorted-merge jaccard (native, allocation-free). The
    // hash-set sides join back by PLAIN keyed shuffle joins: hashSets has
    // full-corpus cardinality (every doc's token-hash array), so a
    // broadcast hint here would collect the corpus to the driver at scale —
    // the arrays shuffle once each, keyed on doc id, and AQE is still free
    // to broadcast at test scale where the side really is small.
    candidates
      .join(hashSets.select(col("doc_id").as("id_a"), col("wh").as("wh_a")), "id_a")
      .join(hashSets.select(col("doc_id").as("id_b"), col("wh").as("wh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.plans.NativeExprs.jaccardSorted(col("wh_a"), col("wh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Greedy near-dup dedup survivorship: a doc survives unless it has a
    * near-duplicate with a smaller id (single LSH+verify pass + anti-join —
    * the linear-output form of near-dup dedup; full transitive clustering
    * would need iterative connected components). */
  def minhashDedupSurvivors(
      df: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 64, bands: Int = 4, threshold: Double = 0.95): DataFrame = {
    val dropped = minhashNearDupPairs(df, textCol, idCol, numHashes, bands, threshold)
      .select(col("id_b").as("doc_id")).distinct()
    df.select(idCol.cast("long").as("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates = docs agreeing
    * on any 16-bit sub-band (4 bands), verified by hamming <= maxHamming.
    * Band-bucket join keeps this linear-ish like the MinHash path. */
  def simhashNearDupPairs(
      df: DataFrame, textCol: Column, idCol: Column,
      maxHamming: Int = 8): DataFrame = {
    // re-widened + lazily checkpointed (r18): both self-join sides
    // otherwise recompute simhash64 over the text (see
    // [[minhashNearDupPairs]]'s rationale)
    val sigs = rewiden(df, idCol).select(idCol.cast("long").as("doc_id"),
      simhash64(textCol).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
      .localCheckpoint(eager = false)
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .distinct() // dedup multi-band collisions BEFORE computing hamming
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Greedy simhash dedup survivorship (see minhashDedupSurvivors). */
  def simhashDedupSurvivors(
      df: DataFrame, textCol: Column, idCol: Column,
      maxHamming: Int = 6): DataFrame = {
    val dropped = simhashNearDupPairs(df, textCol, idCol, maxHamming)
      .select(col("id_b").as("doc_id")).distinct()
    df.select(idCol.cast("long").as("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Containment near-dup pairs via winnowing fingerprints
    * (Schleimer/Wilkerson/Aiken): docs sharing a substring of length
    * >= k+window-1 share at least one fingerprint, so a document quoted or
    * embedded inside a larger one is found even when whole-set Jaccard is
    * low — the case MinHash/SimHash dedup structurally miss.
    *
    * Plan shape: fingerprint each doc once (native codegen'd expression),
    * explode to an inverted (fp -> doc) index, self-join on fp, count
    * shared fps per pair. One shuffle keyed on the fingerprint. Boilerplate
    * fingerprints appearing in > maxDf docs are dropped before the join —
    * that's both the skew guard at 100 TB (a header shared by 1M docs would
    * otherwise produce a 10^12-row bucket) and standard winnowing practice.
    *
    * Output: id_a < id_b, shared, containment = shared / min(|fps_a|,|fps_b|)
    * (rounded 4dp), n_a, n_b (the pruned-set sizes, reused by survivorship)
    * for pairs with containment >= threshold. Unsorted (see
    * [[minhashNearDupPairs]]).
    */
  def winnowContainmentPairs(
      df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 20, window: Int = 8, threshold: Double = 0.5,
      maxDf: Long = 256L): DataFrame = {
    // re-widened + lazily checkpointed (r18): the winnowing fingerprint
    // expression is the operator's dominant per-row cost and `fps` feeds
    // the df aggregate AND the kept join (see [[minhashNearDupPairs]])
    val fps = rewiden(df, idCol).select(idCol.cast("long").as("doc_id"),
      array_distinct(
        graft.plans.NativeExprs.winnowFingerprints(textCol, k, window)).as("fps"))
      .localCheckpoint(eager = false)
    val index = fps
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    // df via ONE hash aggregate on the fp exchange, joined straight back to
    // the same exchange (Catalyst/AQE reuse it): a count per fp needs no
    // sort, so the old per-consumer Window — which re-ran its sort+count
    // for every reader of `kept` and made q44 cost 2x q43 — is gone.
    // Denominators count every fp below the boilerplate cutoff — INCLUDING
    // df=1 singletons (a doc's unique content must keep diluting its
    // containment score, or any two docs sharing one phrase score 1.0) —
    // while fps above maxDf are boilerplate excluded from both sides.
    val fpDf = index.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val kept = index.join(fpDf, Seq("fp"))
    // one per-doc rollup produces BOTH the containment denominator and the
    // pair-join postings (df>=2 only — a df=1 fp can't produce a pair, so
    // dropping them is pure shuffle-volume savings, invisible to the
    // score). Each posting then carries its doc's n_fps through the
    // self-join, so the old sizes join-backs (two extra pair-cardinality
    // shuffles) disappear entirely. The collected arrays are the same
    // per-doc fingerprint sets `fps` already materialized — bounded by doc
    // length / window, never corpus-cardinality.
    // lazily checkpointed: `pruned` feeds BOTH self-join sides below, so
    // without the cut the whole index⋈df rollup re-derives per side
    val byDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_fps"),
      collect_list(when(col("df") >= 2L, col("fp"))).as("pair_fps"))
      .localCheckpoint(eager = false)
    val pruned = byDoc.select(col("doc_id"), col("n_fps"),
      explode(col("pair_fps")).as("fp"))
    pruned.select(col("fp"), col("doc_id").as("id_a"), col("n_fps").as("n_a"))
      .join(pruned.select(col("fp"), col("doc_id").as("id_b"), col("n_fps").as("n_b")),
        Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared") / least(col("n_a"), col("n_b")), 4).as("containment"),
        col("n_a"), col("n_b"))
      .filter(col("containment") >= threshold)
  }

  /** Containment dedup survivorship: a doc is dropped when >= threshold of
    * its fingerprints appear in a LARGER doc (more fingerprints; ties by
    * smaller id surviving) — i.e. contained/quoted documents collapse into
    * their containers while the containers survive. */
  def winnowDedupSurvivors(
      df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 20, window: Int = 8, threshold: Double = 0.8,
      maxDf: Long = 256L): DataFrame = {
    // pairs already carry both pruned-set sizes — no fingerprint recompute
    val pairs = winnowContainmentPairs(df, textCol, idCol, k, window, threshold, maxDf)
    // the smaller-fingerprint-set side of each qualifying pair is dropped
    val dropped = pairs.select(
      when(col("n_a") < col("n_b") || (col("n_a") === col("n_b") && col("id_a") > col("id_b")),
        col("id_a")).otherwise(col("id_b")).as("doc_id")).distinct()
    df.select(idCol.cast("long").as("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Connected components over an undirected near-duplicate pair set —
    * the transitive-clustering step the greedy survivorship variants skip:
    * if A~B and B~C, all three land in one cluster even when A~C was never
    * a candidate pair.
    *
    * Algorithm: hash-min label propagation to a fixpoint — every node
    * starts as its own label; each iteration propagates the min label
    * across edges (one join + one min-aggregate per iteration, converges
    * in O(cluster diameter) rounds; near-dup clusters are near-cliques so
    * diameter is tiny). Lineage is cut with an eager localCheckpoint per
    * round — at cluster scale swap in `checkpoint()` on a durable dir, or
    * the two-phase large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") for O(log n) rounds
    * on high-diameter graphs.
    *
    * Input: pairs with id_a/id_b. Output: (doc_id, cluster_id = min doc_id
    * reachable), one row per vertex that appears in a pair. Unsorted (see
    * [[minhashNearDupPairs]]).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // Convergence probe: every id's label is NON-INCREASING round to
    // round (next = min(old, propagated)), so Σ label is strictly
    // monotone and "sum unchanged ⟺ fixpoint". One shuffle-free
    // aggregate over the just-checkpointed frame replaces the earlier
    // join-based changed-row probe (a keyed exchange of both label
    // frames per round). decimal(38,0): exact at any scale — 10^12 ids
    // of magnitude 2^63 sum under 10^32, far inside 38 digits, where a
    // LongType sum would wrap.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)")).as("s")).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    // partially-propagated labels are silently WRONG clusters — refuse
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(graph diameter exceeds the bound; raise maxIter or use " +
        "large-star/small-star for high-diameter graphs)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the high-diameter companion to [[connectedComponents]]:
    * hash-min needs O(diameter) rounds, this needs O(log n), so a
    * 10k-hop chain of near-dups (dedup graphs are usually near-cliques,
    * but containment chains are not) converges in ~15 rounds instead of
    * 10k.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (one symmetric groupBy + join-back);
    *  - small-star: every node links its smaller neighbors AND itself to
    *    the minimum of its smaller neighborhood (one groupBy + join-back
    *    on the child→parent orientation large-star leaves behind).
    *
    * Each round is two keyed shuffles; the fixpoint is a star forest whose
    * centers are the component minima. Same contract as
    * [[connectedComponents]]: converge-or-throw, output (doc_id,
    * cluster_id = min reachable id), one row per vertex in `pairs`.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val verts = pairs.select(col("id_a").cast("long").as("id"))
      .union(pairs.select(col("id_b").cast("long").as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical child→parent orientation (u > v), the shape small-star
    // consumes and both operations preserve
    var g = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)
    // the fixpoint of LS∘SS is exactly a star forest: every child points to
    // EXACTLY ONE parent AND no parent is itself a child (LS/SS preserve
    // components, so star-forest ⇒ every component is one star ⇒ labels
    // final). Both probes are required: checking only parent∩child wrongly
    // declares graphs like {(10,5),(20,5),(10,1),(20,2)} converged —
    // children with two parents whose parents are never children — and
    // splits one component into several clusters. Two cheap limit-1 probes
    // per round: a degree count on the same child key smallStar shuffles
    // on, then the parent∩child semi-join.
    def isStarForest(edges: DataFrame): Boolean =
      edges.groupBy("u").agg(count(lit(1)).as("deg")).filter(col("deg") > 1L).isEmpty &&
        edges.join(edges.select(col("u").as("v")), Seq("v"), "left_semi").isEmpty
    var converged = isStarForest(g)
    var i = 0
    while (!converged && i < maxIter) {
      g = smallStar(largeStar(g)).localCheckpoint(true)
      converged = isStarForest(g)
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(expected O(log n); raise maxIter)")
    verts.join(g.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** One large-star round: (v, min(Γ(u) ∪ u)) for every neighbor v > u,
    * over the symmetric neighborhood. Output keeps u > v. */
  private def largeStar(g: DataFrame): DataFrame = {
    val sym = g.unionByName(g.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round over child→parent edges (u > v): every smaller
    * neighbor and u itself link to the minimum parent. Output keeps u > v. */
  private def smallStar(g: DataFrame): DataFrame = {
    val mins = g.groupBy("u").agg(min("v").as("m"))
    val relinked = g.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
    val self = mins.select(col("u"), col("m").as("v"))
    relinked.unionByName(self)
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Train/eval decontamination: flag training documents that share at
    * least `minShared` distinct word n-grams with ANY document of a
    * held-out set — the overlap check a training corpus runs against its
    * benchmark/eval suites before anything trains on it (the reference has
    * no analog; this generalizes its dedup probe J6 across two corpora).
    *
    * Plan shape: each side explodes to distinct (gram, doc) postings; ONE
    * equi-join on the gram string (exact — no hashing, so the result is
    * SQL-restatable and q76 hash-checks it); per-train-doc rollup counts
    * shared grams and touched eval docs. Boilerplate grams appearing in
    * more than `maxDf` docs ON EITHER SIDE are dropped before the join —
    * same skew guard as the winnowing inverted index: one viral disclaimer
    * line must not produce a |train|×|eval| bucket at 100 TB.
    *
    * The df guard is a map-side-combining `groupBy(gram).count()` over the
    * postings (each task emits ONE partial count per gram, so the reduce
    * task for even a 10⁹-posting viral gram receives numPartitions rows,
    * not 10⁹), followed by an anti-join dropping the over-cap grams. The
    * postings are locally checkpointed (lazily) so the gram explode runs
    * ONCE per side, feeding both the df count and the join — without the
    * checkpoint Catalyst re-derives the explode in each subtree, which is
    * why the earlier count-window shape won the fixture-scale A/B (NOTES
    * rounds-4/5); the Window, however, shuffles EVERY posting of a gram to
    * one task to count it, which is a straggler at 10⁹ postings. The
    * over-cap gram set is tiny by construction (≤ |postings|/maxDf keys),
    * so AQE broadcasts the anti-join in the normal case and its skew-join
    * split covers the pathological one.
    *
    * Output: train_id, n_shared_grams, n_eval_docs for training docs at or
    * over the threshold (unsorted, see [[minhashNearDupPairs]]). Feed the
    * ids to an anti-join to scrub.
    */
  /** @param hashGrams join on xxhash64(gram) instead of the gram string —
    *        the 100 TB posture: postings shuffle 8 bytes per gram instead
    *        of the n-word string, at a 2⁻⁶⁴-per-pair false-positive risk.
    *        Default false (exact strings), which keeps q76 SQL-restatable. */
  def contamination(
      train: DataFrame, eval: DataFrame, textCol: Column, idCol: Column,
      n: Int = 13, minShared: Long = 1L, maxDf: Long = 1000L,
      hashGrams: Boolean = false): DataFrame = {
    def postings(df: DataFrame, as: String) = {
      val raw = df.select(idCol.cast("long").as(as),
        explode(array_distinct(shingles(textCol, n))).as("gram"))
      // Lazy local checkpoint: the explode computes once (first action) and
      // both consumers below read the persisted postings. Construction stays
      // pure — no Spark job runs until the caller acts on the result.
      // Lifecycle: the checkpointed blocks (MEMORY_AND_DISK, spill-not-OOM)
      // are released by Spark's ContextCleaner once the result frame is
      // garbage-collected — there is no earlier explicit release point
      // because the checkpoint IS part of the returned plan; a long-lived
      // driver holding many contamination results holds their postings too.
      val exploded =
        (if (hashGrams) raw.select(col(as), xxhash64(col("gram")).as("gram"))
         else raw).localCheckpoint(eager = false)
      val overCap = exploded.groupBy("gram").count()
        .filter(col("count") > maxDf)
        .select("gram")
      exploded.join(overCap, Seq("gram"), "left_anti")
    }
    postings(train, "train_id")
      .join(postings(eval, "eval_id"), Seq("gram"))
      .groupBy(col("train_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_shared_grams") >= minShared)
  }

  /** The scrub composed: training rows minus [[contamination]] hits (a
    * keyed anti-join — the cleaned corpus keeps train's full schema). */
  def decontaminate(
      train: DataFrame, eval: DataFrame, textCol: Column, idCol: Column,
      n: Int = 13, minShared: Long = 1L, maxDf: Long = 1000L): DataFrame = {
    val hits = contamination(train, eval, textCol, idCol, n, minShared, maxDf)
      .select(col("train_id"))
    train.join(hits, idCol.cast("long") === col("train_id"), "left_anti")
  }

  /** Scan-first decontamination — the 100 TB shape of [[contamination]].
    *
    * [[contamination]] explodes BOTH corpora into gram postings and
    * shuffles them; at corpus scale the train-side explode is ~n× the
    * corpus in shuffle bytes. Here the train corpus never explodes: the
    * eval side (small by definition — held-out benchmark suites) is
    * exploded once, df-capped exactly, and its distinct gram hashes are
    * collected to the driver (bounded by maxEvalGrams, default 5M ≈
    * 40 MB of longs in the task binary); the corpus then meets ONE
    * map-only codegen'd filter (`ContainsEvalGramExpr`: binary search
    * per gram, no explode, no shuffle) and only surviving candidate
    * docs explode into the exact confirm join against the broadcast
    * eval postings. The only shuffle over corpus-derived data is the
    * final groupBy over candidate postings — candidate-sized, not
    * corpus-sized.
    *
    * Semantics vs [[contamination]]: the df cap applies to the EVAL
    * side only. The train-side cap there is a shuffle-skew guard, which
    * this shape replaces structurally — a capped eval gram carries
    * ≤ maxDf eval postings, so per-gram fan-out in the confirm join is
    * bounded without dropping any train gram. Output schema is
    * identical: (train_id, n_shared_grams, n_eval_docs).
    *
    * Prefilter exactness: hash collisions (2⁻⁶⁴ per gram pair) only ADD
    * candidates; the confirm joins on gram STRINGS, so a collision-only
    * candidate aggregates zero shared grams and drops out. Equal strings
    * always hash equal, so no true hit is ever filtered — the
    * composition is output-identical to running the confirm unfiltered
    * (DedupSpec pins parity and the kernel-vs-column verdict).
    *
    * EAGER: collecting the eval hash set runs Spark jobs at call time.
    */
  def contaminationScanFirst(
      train: DataFrame, eval: DataFrame, textCol: Column, idCol: Column,
      n: Int = 13, minShared: Long = 1L, maxDf: Long = 1000L,
      maxEvalGrams: Int = 5000000): DataFrame =
    contaminationPrefiltered(train, eval, textCol, idCol, n, minShared,
      maxDf, maxEvalGrams,
      hashes => graft.plans.NativeExprs.containsEvalGram(textCol, hashes, n))

  /** [[contaminationScanFirst]] with the exact eval-gram hash set replaced
    * by a BLOOM FILTER in the prefilter (native codegen'd scan, see
    * plans.ContainsEvalGramBloomExpr). OUTPUT-IDENTICAL — a Bloom is
    * one-sided: equal strings always hash equal so no true hit is ever
    * filtered, and extra false positives (≈0.3% of clean docs' grams at
    * the default 12 bits/gram) only admit candidates whose string-equal
    * confirm join then aggregates zero shared grams. What changes is the
    * broadcast: `bitsPerGram` bits per eval gram instead of 64 (plus set
    * overhead) — a 1B-gram eval suite rides in ~1.5 GB instead of ~8 GB+,
    * and the prefilter state is sized ONCE by the eval corpus no matter
    * how large the scanned train corpus grows. k is the standard optimum
    * ln2·(m/n), Kirsch–Mitzenmacher double hashing. */
  def contaminationBloom(
      train: DataFrame, eval: DataFrame, textCol: Column, idCol: Column,
      n: Int = 13, minShared: Long = 1L, maxDf: Long = 1000L,
      maxEvalGrams: Int = 5000000, bitsPerGram: Int = 12): DataFrame = {
    require(bitsPerGram >= 1, "bitsPerGram must be >= 1")
    contaminationPrefiltered(train, eval, textCol, idCol, n, minShared,
      maxDf, maxEvalGrams,
      hashes => {
        val k = math.max(1, math.round(math.log(2.0) * bitsPerGram).toInt)
        val words = (((hashes.size.toLong max 1L) * bitsPerGram + 63L) / 64L).toInt
        val bits = new Array[Long](words)
        hashes.foreach(h => graft.plans.NativeExprKernels.bloomSet(bits, h, k))
        graft.plans.NativeExprs.containsEvalGramBloom(
          textCol, bits.toSeq, k, n)
      })
  }

  /** Shared scan-first core: eval postings (df-capped) → collected gram
    * hashes → caller-built map-only prefilter over the train corpus →
    * exact string-equal confirm join on the admitted candidates only. */
  private def contaminationPrefiltered(
      train: DataFrame, eval: DataFrame, textCol: Column, idCol: Column,
      n: Int, minShared: Long, maxDf: Long, maxEvalGrams: Int,
      mkPrefilter: Seq[Long] => Column): DataFrame = {
    val post = eval.select(idCol.cast("long").as("eval_id"),
        explode(array_distinct(shingles(textCol, n))).as("gram"))
      .localCheckpoint(eager = false)
    val overCap = post.groupBy("gram").count()
      .filter(col("count") > maxDf)
      .select("gram")
    val evalPost = post.join(overCap, Seq("gram"), "left_anti")
    val hashes = evalPost.select(xxhash64(col("gram")).as("h"))
      .distinct().limit(maxEvalGrams + 1)
      .collect().map(_.getLong(0)).toSeq
    require(hashes.size <= maxEvalGrams,
      s"eval gram set exceeds maxEvalGrams=$maxEvalGrams — " +
        "shrink the eval corpus or raise the cap")
    // re-widen (r18): the prefilter is the operator's heavy map-only
    // scan; a few-file train corpus otherwise runs it on one core
    rewiden(train, idCol)
      .filter(mkPrefilter(hashes))
      .select(idCol.cast("long").as("train_id"),
        explode(array_distinct(shingles(textCol, n))).as("gram"))
      .join(broadcast(evalPost), Seq("gram"))
      .groupBy(col("train_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_shared_grams") >= minShared)
  }

  /** Exact n-gram Jaccard between explicit row pairs (the verify primitive;
    * also a standalone operator for blocked candidate sets). `pairs` must
    * have id_a/id_b; df provides (id, text). */
  def ngramJaccardForPairs(
      df: DataFrame, pairs: DataFrame, textCol: Column, idCol: Column,
      n: Int): DataFrame = {
    val sets = df.select(idCol.cast("long").as("doc_id"),
      array_distinct(shingles(textCol, n)).as("grams"))
    pairs
      .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
      .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("grams_a"), col("grams_b")), 4).as("jaccard"))
  }

  /** The reusable near-dup signature index in LONG-FORMAT SCALAR rows
    * (doc_id, kind, idx, value): one 'wh' row per distinct sorted word
    * hash, one 'band' row per minhash LSH band, one 'sim' row carrying
    * the 64-bit simhash — the artifact a 100 TB dedup pipeline
    * materializes ONCE and every later batch probes (q77's export;
    * the DuckDB oracles of the near-dup queries read it; [[signDocs]]
    * computes the same wh and band values, which DedupSpec pins).
    * Map-only: a straight scan→write at any scale. */
  def signatureTable(docs: DataFrame, textCol: Column, idCol: Column,
      numHashes: Int = 64, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    docs
      .select(idCol.cast("long").as("doc_id"),
        array_sort(array_distinct(elementHashes(tokens(textCol)))).as("wh"),
        simhash64(textCol).as("simsig"))
      .withColumn("mh_bands",
        lshBandHashes(minhashFromHashes(col("wh"), numHashes), bands, rows))
      .select(col("doc_id"), explode(concat(
        transform(col("wh"), (v, i) =>
          struct(lit("wh").as("kind"), i.cast("long").as("idx"), v.as("value"))),
        transform(col("mh_bands"), (v, i) =>
          struct(lit("band").as("kind"), i.cast("long").as("idx"), v.as("value"))),
        array(struct(lit("sim").as("kind"), lit(0L).as("idx"),
          col("simsig").as("value"))))).as("e"))
      .select(col("doc_id"), col("e.kind").as("kind"),
        col("e.idx").as("idx"), col("e.value").as("value"))
  }

  /** ONE signing pass per batch, shared by every consumer: each doc's
    * sorted distinct word-hash array PLUS its minhash LSH band hashes,
    * as one frame (doc_id, carry..., wh, mh_bands). A caller that
    * localCheckpoints THIS frame pays the per-row signature cost
    * (tokenize→hash→minhash) exactly once and every consumer
    * ([[dedupSignedAgainstIndex]] on either side, the curation store's
    * one write) reads materialized arrays. The frame is also the
    * streaming curation store's row layout. Expressions are verbatim
    * [[signatureTable]] algebra, so `wh` and `mh_bands` are bit-identical
    * to its 'wh' and 'band' rows (DedupSpec pins the equality). */
  def signDocs(docs: DataFrame, textCol: Column, idCol: Column,
      carry: Seq[Column] = Seq.empty,
      numHashes: Int = 64, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    // conditional re-widen lives HERE so every signing call site (seed
    // init, micro-batches, q100's batch sides) parallelizes the same way
    rewiden(docs, idCol)
      .select(Seq(idCol.cast("long").as("doc_id")) ++ carry ++ Seq(
        array_sort(array_distinct(elementHashes(tokens(textCol)))).as("wh")): _*)
      .withColumn("mh_bands",
        lshBandHashes(minhashFromHashes(col("wh"), numHashes), bands, rows))
  }

  /** Incremental near-dup dedup: the rows of an INCOMING batch, signed
    * by [[signDocs]], that no doc of an EXISTING corpus's signed `index`
    * (any frame with [[signDocs]]' `wh` and `mh_bands` columns, such as
    * the streaming curation store) confirms as a near-dup — the shape a
    * continuously-crawling 100 TB pipeline actually runs: the existing
    * corpus is NEVER re-read as text or re-hashed. Both sides must be
    * signed with the SAME (numHashes, bands) — parameter drift would
    * silently probe wrong bands. Within-batch duplicates are
    * [[minhashDedupSurvivors]]' job — this operator answers only "is it
    * already in the corpus".
    *
    * One pass, no shuffle: the batch's posexploded bands, carrying each
    * doc's word hashes, are broadcast against the index's posexploded
    * bands, and the exact-Jaccard confirm runs in that same stage, so the
    * index is only ever the streamed side. The confirmed ids are then the
    * broadcast build side of a left-anti join over `signed`, so the
    * result is `signed`'s own rows and no signed row crosses a shuffle.
    * The ids are broadcast undeduped: they hold at most bands × batch
    * rows × the largest near-dup cluster a batch doc hits in the index.
    * `signed` is read twice (the band broadcast and the anti join's
    * streamed side): checkpoint it so the signing runs once. */
  def dedupSignedAgainstIndex(
      signed: DataFrame, index: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    val newBands = signed.select(col("doc_id").as("new_id"),
      col("wh").as("wh_new"),
      posexplode(col("mh_bands")).as(Seq("band", "bh")))
    val confirmed = index
      .select(col("wh").as("wh_old"),
        posexplode(col("mh_bands")).as(Seq("band", "bh")))
      .join(broadcast(newBands), Seq("band", "bh"))
      .filter(round(graft.plans.NativeExprs.jaccardSorted(
        col("wh_new"), col("wh_old")), 4) >= threshold)
      .select(col("new_id").as("doc_id"))
    signed.join(broadcast(confirmed), Seq("doc_id"), "left_anti")
  }

  /** Exact duplicate-SPAN detection — substring-level dedup in the style
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), re-expressed relationally: a token position is
    * "duplicated" when some word n-gram covering it occurs ≥ minCount
    * times in the whole corpus (another document OR another offset of the
    * same document — self-repetition counts, as in the paper's suffix
    * array). Runs of covered positions merge into maximal spans; two
    * covered intervals merge when they overlap or touch (next gram start
    * ≤ previous covered end + 1: contiguous duplicated text is one span).
    *
    * Output: (doc_id, span_id, span_start, span_end, span_tokens,
    * n_grams), token coordinates 0-based inclusive. Docs with no
    * duplicated gram emit nothing.
    *
    * Scale shape (100 TB): gram df is ONE map-side-combining hash
    * aggregate on the gram key; covered positions are a gram-keyed
    * left-semi join (never a self-join); the interval merge is a window
    * partitioned BY DOCUMENT — state bounded by a single document's
    * token count, never corpus-sized. The explode is lazily
    * local-checkpointed once and feeds both the df aggregate and the
    * semi-join probe (the q76 contamination pattern). `hashGrams` swaps
    * 8-byte xxhash64 keys for the gram strings in the shuffle — the knob
    * to flip at corpus scale (collision odds ~n²/2⁶⁵; the registered
    * query keeps strings so the DuckDB oracle is exact by construction,
    * and DedupSpec pins hashed===string parity on the fixture). */
  def duplicateSpans(
      docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 8, minCount: Long = 2L, hashGrams: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = rewiden(docs, idCol).select(idCol.cast("long").as("doc_id"),
      posexplode(shingles(textCol, n)).as(Seq("pos", "gram")))
    val grams = (if (hashGrams)
        raw.select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("gram"))
      else raw).localCheckpoint(eager = false)
    val dup = grams.groupBy("gram").count()
      .filter(col("count") >= minCount).select("gram")
    val hits = grams.join(dup, Seq("gram"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(n - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("brk",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("pos") + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
  }

  /** The aggressive scrub composed from [[duplicateSpans]]: every token
    * covered by a duplicated span is removed from every document (the
    * paper's "remove all but one" needs a global occurrence order; the
    * remove-all variant is the common conservative pipeline choice —
    * boilerplate carries no training signal wherever it appears).
    * Emits one row per input document: (doc_id, clean_text, kept_tokens)
    * — untouched docs keep their token stream verbatim, fully-covered
    * docs come back empty, never dropped.
    *
    * The reassembly groupBy is per-document (sorted-struct collect, the
    * N1 nesting device) — state bounded by one document, and the covered
    * positions ride a (doc_id, pos) anti-join, so nothing here is ever
    * corpus-cardinality wide. */
  def scrubDuplicateSpans(
      docs: DataFrame, textCol: Column, idCol: Column,
      n: Int = 8, minCount: Long = 2L): DataFrame = {
    val covered = duplicateSpans(docs, textCol, idCol, n, minCount)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = docs.select(idCol.cast("long").as("doc_id"),
      posexplode(tokens(coalesce(textCol, lit("")))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val kept = toks
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word"))).as("clean_text"),
        count(lit(1)).as("kept_tokens"))
    docs.select(idCol.cast("long").as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Cross-source overlap audit: exact distinct-bigram Jaccard and
    * containment between every pair of corpus sources — the "how much of
    * source B is already in source A" report that decides which crawls /
    * dumps are worth ingesting before any per-document dedup runs.
    *
    * Scale shape: one map-only pass emits word bigrams (adjacent-token
    * pairs, zip_with — no self-join to form grams), one shuffle
    * deduplicates (source, gram), and the pair counts come from an
    * inverted self-join ON THE GRAM: each gram meets only the sources
    * containing it, so fan-out per gram is bounded by the model-sized
    * source count (≤ S²/2 rows per gram), never corpus². All outputs are
    * exact count algebra plus single IEEE divisions — cross-engine
    * hash-exact. */
  def sourceOverlap(
      docs: DataFrame,
      textCol: Column,
      sourceCol: Column): DataFrame = {
    val toks = tokens(lower(textCol))
    val grams = docs
      .filter(size(toks) >= 2)
      .select(sourceCol.as("source"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws(" ", a, b))).as("gram"))
      .distinct()
    val sizes = grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val common = grams.as("x")
      .join(grams.as("y"),
        col("x.gram") === col("y.gram") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_grams", "n_a"), Seq("src_a"))
      .join(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_grams", "n_b"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** All single-character deletions of a string column, as an array.
    * Guarded for the empty string: sequence(1, 0) would run DESCENDING
    * (Spark infers step -1), not empty. */
  private def deleteOne(s: Column): Column =
    when(length(s) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(s)), i =>
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))

  /** The ≤k-deletion neighborhood of a string (FastSS, Bocek et al.
    * 2007): every string obtainable by deleting at most k characters,
    * the original included. |N_k(s)| ≤ Σ_{i≤k} C(|s|, i) — linear in
    * |s| for k=1, quadratic for k=2; keep k small, which is also where
    * edit-distance dedup is semantically meaningful. */
  private[operators] def deletionNeighborhood(s: Column, k: Int): Column = {
    var acc = array(s)
    for (_ <- 1 to k) acc =
      array_distinct(concat(acc, flatten(transform(acc, deleteOne(_)))))
    acc
  }

  /** Edit-distance near-dup pairs: (id_a < id_b, dist) for every pair of
    * rows whose strings are within Levenshtein distance `k` — fuzzy
    * entity matching (names, titles, URLs) as a JOIN, never an all-pairs
    * scan.
    *
    * Blocking is the FastSS deletion neighborhood: if ed(a,b) ≤ k then
    * deleting from `a` the characters an optimal script substitutes or
    * deletes (≤ k of them) and from `b` the characters it substitutes or
    * inserts (≤ k) leaves the same string — so every qualifying pair
    * shares a key in the ≤k-deletion neighborhoods, and the equi-join on
    * that key is COMPLETE (the q143 oracle brute-forces all pairs, so a
    * missed pair is a hash mismatch, not a silent recall loss).
    * Candidates then verify with the exact codegen'd `levenshtein`.
    *
    * Why not PassJoin-style segment blocking: entity corpora share long
    * constant affixes (c_name's "Customer#…" prefix), which make any
    * positional segment a single hot block — degenerate all-pairs. A
    * deletion variant, by contrast, is almost the whole string, so two
    * strings share one only if they are already near-identical: block
    * size tracks the true neighborhood size, independent of shared
    * affixes.
    *
    * Scale shape: one map-only explode (×|N_k| rows), one shuffle on the
    * variant key, one distinct on candidate pairs, exact verify on
    * candidates only. At 100 TB: cap pathological variant blocks the
    * maxBlock way only if the corpus contains adversarial mass-duplicate
    * strings — exact-equal strings all share every variant, so dedup
    * EXACT duplicates first (fingerprintDedupSurvivors), then run this on
    * survivors.
    *
    * NOTE: when `spark.graft.advisor.fuzzyJoin` is set, the advisory's
    * sketch pass runs EAGERLY at plan-construction time (one map-only
    * Spark job over the variant keys) — even if the returned frame is
    * never executed. The advice must exist before the join's shape can
    * be chosen, so the cost cannot be deferred into the frame's own
    * execution. */
  def editDistancePairs(
      df: DataFrame, strCol: Column, idCol: Column, k: Int = 1): DataFrame = {
    // config-flag gate: a session that sets spark.graft.advisor.fuzzyJoin
    // routes THIS operator's variant self-join through the pre-join
    // advisory (sketch pass → broadcast/shuffle/salt-with-N), with the
    // thresholds overridable per-conf — the r13 verdict's "the advisory
    // only matters if the engine's own joins consume it"
    // the shared spark.graft.advisor.* parse (one threshold block for
    // every conf-gated consumer; malformed values fail naming the key —
    // the r14 advisory item) lives in JoinAdvisor.confGate
    graft.plans.JoinAdvisor.confGate(
        df.sparkSession, "spark.graft.advisor.fuzzyJoin") match {
      case Some(c) =>
        editDistancePairsAdvised(df, strCol, idCol, k,
          c.broadcastMaxRows, c.skewFactor, c.minSaltOutputRows,
          c.maxSaltBuckets, c.hhCapacity, c.targetPartitions,
          c.maxHotShare)._2
      case None => editDistancePairsImpl(df, strCol, idCol, k, steer = None)
    }
  }

  /** [[editDistancePairs]] with the variant self-join STEERED by the
    * pre-join advisory ([[graft.plans.JoinAdvisor.adviseSelf]], one
    * sketch pass over the variant keys): broadcast one side while the
    * variant frame is dimension-sized, salt with the advisory's bucket
    * count when one variant block dominates, plain shuffle otherwise.
    * Returns the advice WITH the pair frame so callers (and the graded
    * queries) can pin the executed plan against the recommendation.
    * Results are identical under every strategy — steering moves shuffle
    * placement, never semantics (q223/q224 hash-grade both operating
    * points against the same brute-force oracle).
    *
    * At 100 TB this decision is the operator's whole cost story: the
    * variant frame is |corpus|×|N_k| rows, and a mass-duplicate string
    * (the maxBlock hazard in [[editDistancePairs]]'s scaladoc) turns one
    * variant into a reducer-killing block — exactly what the MG probe
    * sees BEFORE the join runs. `targetPartitions` sizes the fair share
    * for the deployment the join will run on (scaleDefaults:
    * clusterCores×3), not the planning session. */
  def editDistancePairsAdvised(
      df: DataFrame, strCol: Column, idCol: Column, k: Int = 1,
      broadcastMaxRows: Long = 1_000_000L,
      skewFactor: Double = 5.0,
      minSaltOutputRows: Long = 10_000_000L,
      maxSaltBuckets: Int = 1024,
      hhCapacity: Int = 1024,
      targetPartitions: Option[Int] = None,
      maxHotShare: Double = graft.plans.JoinAdvisor.DefaultMaxHotShare)
      : (graft.plans.JoinAdvisor.JoinAdvice, DataFrame) = {
    require(k >= 1 && k <= 2, s"k=$k: deletion-neighborhood size is C(|s|,k)")
    val base = baseEntities(df, strCol, idCol)
    val keys = variantKeys(base, k)
    // hhCapacity 1024 is now the advisory-wide default (the r14 verdict
    // promoted this operator's override: a hot key is only DETECTABLE at
    // f > N/(hhCapacity+1), and at the historical cap 16 an entity
    // cluster had to exceed ~N/17 of the |corpus|·|N_k| variant frame to
    // surface at all — the AdvisedJoinProbe finding). Kept as an explicit
    // parameter here so the conf can still opt down.
    // The advisory's EAGER sketch pass runs over the lazy variant frame
    // (variantKeys is deliberately not checkpointed, see its scaladoc):
    // the sketch and each join leg re-derive the explode from
    // baseEntities' checkpoint, so the corpus is scanned once while the
    // ~|s|x neighborhood is never materialized.
    val advice = graft.plans.JoinAdvisor.adviseSelf(
      keys, col("v"),
      broadcastMaxRows, skewFactor, minSaltOutputRows, maxSaltBuckets,
      hhCapacity = hhCapacity, targetPartitions = targetPartitions,
      maxHotShare = maxHotShare)
    (advice, pairsFromKeys(base, keys, k, Some(advice)))
  }

  /** The deduplicated entity frame every fuzzy-join consumer starts
    * from — re-widened (the heavy per-row work downstream is the
    * deletion-neighborhood explode) and lazily checkpointed (it feeds
    * the variant frame plus BOTH verify join-backs). */
  private def baseEntities(
      df: DataFrame, strCol: Column, idCol: Column): DataFrame =
    rewiden(df, idCol)
      .select(idCol.cast("long").as("eid"), strCol.as("s"))
      .filter(col("s").isNotNull)
      .localCheckpoint(eager = false)

  /** The variant-key frame the candidate self-join runs on: k=1 keeps
    * the deletion position for the completeness pruning (slot 0 = the
    * original string), k=2 explodes the unpositioned neighborhood.
    *
    * Deliberately NOT checkpointed (r19, reverting the r18 cut): the
    * explode multiplies `base` ~|s|× (every consumer of the r18
    * checkpoint re-READ a ~42 MB materialized neighborhood where the
    * map-only re-explode of the ~1 MB checkpointed base costs less —
    * guide §5: cache only when recompute beats the re-read; q224
    * measured 2.55 → 3.34 s under the materialized form). Each
    * consumer re-derives the explode from [[baseEntities]]' checkpoint,
    * so the corpus is still scanned exactly once. */
  private def variantKeys(base: DataFrame, k: Int): DataFrame =
    if (k == 1)
      base.select(col("eid"), col("s"),
        posexplode(concat(array(col("s")), deleteOne(col("s"))))
          .as(Seq("p", "v")))
    else
      base.select(col("eid"), explode(deletionNeighborhood(col("s"), k)).as("v"))

  /** The variant self-join under a strategy verdict, returning bare
    * (id_a, id_b) candidate pairs: `None` keeps Catalyst's static pick
    * (the pre-advisory behavior); an advice routes broadcast (variant
    * frame is dimension-sized), TARGETED salt, or plain shuffle. Inner
    * self-joins are salt-safe by construction (no unmatched-row
    * multiplicity to distort).
    *
    * The salt path is TARGETED (r14 advisory item): only rows whose
    * variant key is one of the advice's MG-named breaching keys
    * ([[graft.plans.JoinAdvisor.JoinAdvice.hotKeys]]) replicate
    * buckets× — the cold remainder joins plain — so the replication
    * cost is |hot rows|×buckets, not |frame|×buckets (a 1024-bucket
    * verdict on the old full-replication shape could multiply the
    * join input three orders of magnitude, dwarfing the straggler it
    * cured). Exactness: the join predicate requires a.v === b.v, so
    * the hot/cold key partition splits the pair space into two
    * disjoint self-joins whose union is the full join — no pair can
    * straddle the partition. */
  private def variantSelfJoin(
      keys: DataFrame, residual: Column,
      steer: Option[graft.plans.JoinAdvisor.JoinAdvice]): DataFrame = {
    val cond = col("a.v") === col("b.v") && residual
    def pairs(j: DataFrame): DataFrame =
      j.select(col("a.eid").as("id_a"), col("b.eid").as("id_b"))
    // WIDTH-PIN on the collision-probe stage (r19 — the Graph.scala
    // q184 device applied to a join): the probe's per-row cost is
    // |variant block|-proportional — CPU-heavy out of all proportion to
    // its ~40-byte rows — and AQE's byte-based coalescing sizes the
    // post-shuffle stage by BYTES, serializing the probe onto 2 tasks
    // at fixture scale (q224's 2×1.1 s two-task jobs in the r19 probe)
    // and onto straggler-sized tasks at any scale. An explicit
    // numPartitions repartition on the equi-key is exempt from AQE
    // coalescing, and the join reuses it (hash partitioning on the
    // equi-keys satisfies the join's required distribution), so the pin
    // costs ZERO extra exchanges. Try-parsed width as in Graph.scala.
    val width = scala.util.Try(keys.sparkSession.conf
      .get("spark.sql.shuffle.partitions").trim.toInt).getOrElse(0)
    def widen(df: DataFrame, ks: Column*): DataFrame =
      if (width > 0) df.repartition(width, ks: _*) else df
    steer.map(_.strategy).getOrElse("static") match {
      case "broadcast" =>
        pairs(keys.as("a").join(broadcast(keys.as("b")), cond))
      case "salt" =>
        val buckets = steer.get.saltBuckets
        val hot = steer.get.hotKeys
        require(hot.nonEmpty,
          "salt verdict without hotKeys — advisory contract violation")
        val isHot = col("v").isin(hot: _*)
        val hotKeysDf = keys.filter(isHot)
        val coldKeysDf = keys.filter(!isHot)
        // the hot leg pins on (v, __salt) — pinning on v alone would
        // satisfy the join's distribution and SKIP the salt exchange,
        // re-concentrating the hot block the salt exists to spread
        val salted = hotKeysDf.withColumn("__salt",
          pmod(xxhash64(col("eid")), lit(buckets)).cast("int"))
        val replicated = hotKeysDf.withColumn("__salt",
          explode(array((0 until buckets).map(lit): _*)))
        // a salt verdict ASSERTS the sides are past broadcast at the
        // deployment scale — but Catalyst's byte-stats at a small test
        // scale would happily broadcast the replicated side, executing
        // replication AND broadcast (double-pay) while un-executing the
        // advisory. The hint pins the shuffled hash join the verdict
        // means, at every scale — on the cold leg too (its sides are
        // past broadcast at that scale by the same verdict).
        val hotJoin = widen(salted, col("v"), col("__salt")).as("a")
          .hint("shuffle_hash")
          .join(widen(replicated, col("v"), col("__salt")).as("b"),
            cond && col("a.__salt") === col("b.__salt"))
        val coldJoin = widen(coldKeysDf, col("v")).as("a")
          .hint("shuffle_hash")
          .join(widen(coldKeysDf, col("v")).as("b"), cond)
        pairs(hotJoin).unionAll(pairs(coldJoin))
      case _ =>
        pairs(widen(keys, col("v")).as("a")
          .join(widen(keys, col("v")).as("b"), cond))
    }
  }

  private def editDistancePairsImpl(
      df: DataFrame, strCol: Column, idCol: Column, k: Int,
      steer: Option[graft.plans.JoinAdvisor.JoinAdvice]): DataFrame = {
    require(k >= 1 && k <= 2, s"k=$k: deletion-neighborhood size is C(|s|,k)")
    val base = baseEntities(df, strCol, idCol)
    pairsFromKeys(base, variantKeys(base, k), k, steer)
  }

  /** Candidate generation + exact verify over prebuilt (base, keys)
    * frames — shared by the static and advised paths so the advisory's
    * sketch pass and the join consume ONE variant frame. */
  private def pairsFromKeys(
      base: DataFrame, keys: DataFrame, k: Int,
      steer: Option[graft.plans.JoinAdvisor.JoinAdvice]): DataFrame = {
    val candidates =
      if (k == 1) {
        // position-pruned FastSS: every ed ≤ 1 pair matches in one of
        // three shapes — identical strings (p 0/0), one substitution
        // (same deletion position), or one indel (one side is the
        // ORIGINAL of the other's deletion, p = 0 on that side). A
        // variant collision at two DIFFERENT nonzero positions implies
        // only ed ≤ 2, so dropping those keeps k=1 completeness while
        // cutting the candidate volume roughly to the true pair count
        // (measured ~10× fewer on zero-padded entity ids, where
        // unpositioned variants collide across digit shifts).
        // posexplode index IS the deletion position: slot 0 carries the
        // original, slot i the deletion at i (deleteOne is 1-based)
        variantSelfJoin(keys,
          col("a.eid") < col("b.eid") &&
            (col("a.p") === col("b.p") ||
              col("a.p") === 0 || col("b.p") === 0), steer)
      } else {
        variantSelfJoin(keys, col("a.eid") < col("b.eid"), steer)
      }
    // Dedup BARE id pairs first and re-attach the strings through joins:
    // keeping the strings (and the levenshtein filter) on the candidate
    // frame lets Catalyst push the verify through the distinct into the
    // variant join's residual — the DP then runs per raw variant
    // COLLISION (each pair shares several variants) instead of once per
    // pair, which measured ~3× slower on the q143 fixture.
    // Width-pin on the dedup + verify stages (see variantSelfJoin for
    // the device): the final distinct and the per-pair levenshtein +
    // string join-backs are CPU-bound per row, and AQE's byte-based
    // coalescing otherwise serializes BOTH onto 2 tasks (two sequential
    // ~1.1-1.4 s two-task jobs in the r19 q143/q224 probes — 2/3 of
    // each query; pinning only the post-distinct side measured 4.0 s vs
    // 1.45 s for this form). The pin sits BEFORE the distinct: the
    // repartition's partitioning satisfies the aggregate's required
    // distribution, so the distinct collapses onto the pinned stage and
    // the broadcast verify joins inherit its width. Bytes: the pinned
    // exchange carries raw candidates where the old exchange carried
    // map-side-deduped ones — on the position-pruned k=1 path that is
    // a ~20% difference (2.8 vs 2.3 MB measured), and exact-dup-first
    // discipline (see the operator scaladoc) bounds per-pair candidate
    // multiplicity at every scale.
    val width = scala.util.Try(base.sparkSession.conf
      .get("spark.sql.shuffle.partitions").trim.toInt).getOrElse(0)
    (if (width > 0)
      candidates.repartition(width, col("id_a"), col("id_b"))
    else candidates)
      .distinct()
      .join(base.select(col("eid").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("eid").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Keep-min survivorship over [[editDistancePairs]] — same rule as
    * minhashDedupSurvivors: a row survives unless a smaller-id row sits
    * within distance k. */
  def editDistanceSurvivors(
      df: DataFrame, strCol: Column, idCol: Column, k: Int = 1): DataFrame = {
    val dropped = editDistancePairs(df, strCol, idCol, k)
      .select(col("id_b").as("eid")).distinct()
    df.select(idCol.cast("long").as("eid"))
      .join(dropped, Seq("eid"), "left_anti")
  }
}
