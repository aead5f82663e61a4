package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — the query set is broadcast (it is
  * small by definition), the corpus streams, so the plan is a single
  * broadcast-nested-loop over corpus partitions followed by a per-query
  * top-k window. No corpus self-shuffle.
  *
  * Scale path: random-hyperplane LSH — bucket the corpus by an nbits-bit
  * signature (deterministic seeded hyperplanes), join queries to matching
  * buckets (optionally with 1-bit-flip probes), re-rank inside buckets.
  * At 100 TB the bucketed corpus is written partitioned by signature so a
  * query touches only its probe partitions.
  */
object Similarity {

  /** Default cap on driver-collected ANN query rows. The ANN contract is
    * queries ≪ corpus; the FromIndex search paths collect the query frame
    * (probe signatures / LUTs are driver-side math) and then fan each
    * query out ×(1+nbits)×tables probe rows, so a corpus-sized query
    * frame would OOM the driver instead of erroring by name. 100k queries
    * × 64-dim doubles ≈ 50 MB of driver heap — comfortably model-sized;
    * callers with a genuinely bigger batch split it or raise the cap
    * explicitly. Exposed via [[graft.GraftSession.scaleDefaults]]. */
  val DefaultMaxQueryRows: Int = 100000

  /** Deterministic unit-less hyperplanes for LSH signatures. */
  def hyperplanes(nbits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nbits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** THE multi-table plane derivation (table t seeds at 42L + t) — the
    * single definition shared by lshTopK, writeLshIndex, lshTopKFromIndex,
    * and lshBucketTable, so a seed-formula change cannot silently
    * desynchronize the q48 fixture from the operator it oracles.
    * `private[graft]` so q78's generated oracle can embed the same plane
    * values as SQL literals (the model is a deterministic seed-derived
    * constant — exposing it adds no new state). */
  private[graft] def tablePlaneSets(nbits: Int, tables: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => hyperplanes(nbits, dim, seed = 42L + t))

  /** Snap a Lloyd-averaged centroid element to 9 decimal places. The avg
    * merges per-partition partial sums in shuffle-fetch order, and double
    * addition is not associative — two runs over the same corpus can
    * differ in the last ulp. Queries re-run the (cheap, deterministic)
    * training rather than sharing driver state, so the snap makes
    * "same corpus → bit-identical centroids" hold across runs instead of
    * merely "almost always"; 9dp is ~1e6× coarser than the ulp noise and
    * ~1e5× finer than any assignment-relevant distinction.
    *
    * Decimal HALF_UP (BigDecimal), NOT math.rint: the Spark `round`
    * expression and DuckDB's round() are both decimal half-up, so every
    * snapped model value stays in the same parity class as any engine-side
    * round an oracle might apply — the values are safe to re-derive with
    * SQL round(), not only to consume as exported fixtures. Model-sized
    * call volume (centroids/codewords on the driver), so BigDecimal cost
    * is irrelevant. Non-finite passes through (BigDecimal throws on
    * NaN/Infinity — same guard as Pq.snappedL2). */
  private[operators] def round9(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** nbits-bit signature column for an embedding — native one-loop
    * expression; the composed form below is its parity oracle. */
  def lshSignature(v: Column, planes: Seq[Seq[Double]]): Column =
    graft.plans.NativeExprs.lshSignature(v, planes)

  /** Composed-Column signature (nbits interpreted aggregate() passes per
    * row) — kept only for the bit-for-bit parity spec. */
  def lshSignatureViaColumns(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      graft.functions.VectorFunctions.hyperplaneBit(v, p) * lit(1 << i)
    }.reduce(_ + _)

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (self excluded). Output: q_id, vec_id, cos_sim (4dp), rank order
    * deterministic via (rounded sim desc, vec_id). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val scored = corpus.select(col(idCol), col(embCol))
      .join(broadcast(q), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(embCol), col("q_emb")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("q_id"), col("cos_sim").desc, col(idCol))
  }

  /** LSH-bucketed ANN — the scale path. Multi-table OR-amplification:
    * `tables` independent hyperplane sets of `nbits` bits each; a corpus row
    * is a candidate if it shares a bucket with the query in ANY table, plus
    * 1-bit-flip probe buckets per table. Candidates re-rank exactly. The
    * bucket join is an equi-join on (table, signature) — never all-pairs —
    * and the (small) probe side is broadcast. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, nbits: Int = 8,
      tables: Int = 4, idCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val planeSets = tablePlaneSets(nbits, tables, dim)
    // single scan: emit (table, signature[, probes]) pairs with ONE
    // posexplode instead of a per-table union (the union re-planned the
    // corpus scan `tables` times — 4x the input work)
    def signedBuckets(df: DataFrame, id: Column, emb: Column, probe: Boolean): DataFrame = {
      val entries = planeSets.zipWithIndex.flatMap { case (planes, t) =>
        val sig = lshSignature(emb, planes)
        val sigs = if (probe)
          sig +: (0 until nbits).map(b => sig.bitwiseXOR(lit(1 << b)))
        else Seq(sig)
        sigs.map(s0 => struct(lit(t).as("tbl"), s0.as("sig")))
      }
      df.select(id, emb, explode(array(entries: _*)).as("ts"))
        .select(col("ts.tbl").as("tbl"), col("ts.sig").as("sig"), id, emb)
    }
    val bucketed = signedBuckets(corpus, col(idCol), col(embCol), probe = false)
    val probes = signedBuckets(
      queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
      col("q_id"), col("q_emb"), probe = true)
    val scored = bucketed
      .join(broadcast(probes), Seq("tbl", "sig"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(embCol), col("q_emb")), 4).as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("q_id"), col("cos_sim").desc, col(idCol))
  }

  /** Deterministic mini k-means for the IVF coarse quantizer: centroids
    * seeded by the k rows with the smallest xxhash64(id) — a deterministic
    * uniform sample (no rand()) that Spark plans as TakeOrderedAndProject,
    * i.e. a distributed per-partition top-k followed by a driver merge of k
    * candidates per partition. Refined with a few distributed Lloyd
    * iterations. Only the k×dim centroid matrix (and k seed rows) ever
    * reaches the driver — model state, not data.
    *
    * Quantizer training is SAMPLE-BOUNDED (the standard IVF shape): when
    * the corpus exceeds `trainCap` rows, Lloyd runs on a deterministic
    * hash-gated subsample of ~trainCap rows instead of the full corpus —
    * at 100 TB, training the coarse quantizer must not cost `iters` full
    * scans. The training set is eagerly checkpointed so the Lloyd
    * iterations re-scan memory, not the source.
    *
    * Sizing the gate needs the corpus row count. Pass `corpusRows` (the
    * catalog/stats count a deployment already has) and NO sizing scan
    * runs — the only full pass over the corpus is then assignment time
    * (ivfTopK/writeIvfIndex). When absent, a column-pruned `count()` runs
    * first: near-free on a parquet scan (footer row counts), a real
    * extra pass on a computed frame — at 100 TB, pass the count. The
    * gate fraction only sets the expected sample size, so an estimate is
    * fine: too-low keeps more rows than trainCap, too-high trains on
    * fewer. A wild over-estimate cannot break the k-centroid contract
    * either — if the gated sample lands under a usable floor
    * (min(trainCap, max(4k, 64)) rows) the gate widens geometrically and
    * re-scans until it clears the floor, an n-free self-correction that
    * costs extra source scans only in the degenerate case. The other
    * direction self-corrects too: a supplied count AT OR BELOW trainCap
    * asserts "this corpus is small enough to train on whole" and eagerly
    * materializes the full corpus with no gate — but the checkpoint's own
    * row count (in-memory, no source scan) is then checked against the
    * claim, and a lie falls back to the gated path sized by the TRUE
    * count it just paid for. The blast radius of a wrong small count is
    * therefore one spilled checkpoint (localCheckpoint persists
    * MEMORY_AND_DISK — it spills rather than OOMs), never a full corpus
    * dragged through every Lloyd iteration. */
  def kmeansCentroids(
      corpus: DataFrame, k: Int, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    // null embeddings carry no geometry: they must not seed or pull a
    // centroid (a null seed NPEs the Lloyd broadcast); assignment still
    // gives such rows list 0 downstream (assignToCentroids' coalesce)
    val slim = corpus.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
    val training =
      boundedTrainingSample(slim, idCol, trainCap, 4L * k, corpusRows)
    var centroids: Seq[(Int, Seq[Double])] =
      seedRows(training, k, idCol, embCol)
        .collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(training, centroids, idCol, embCol)
      val updated: Map[Int, Seq[Double]] = assigned
        .select(col("cid"), posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("v")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("centroid"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).map(round9))).toMap
      // a centroid that captured no rows this round (duplicate seed losing
      // every tie, or a list emptied by a better neighbor) carries through
      // UNCHANGED rather than being dropped — the Lloyd groupBy only emits
      // assigned cids, and silently returning < k centroids would shrink
      // ivfTopK's nlist out from under the caller
      centroids = centroids.map { case (cid, old) =>
        (cid, updated.getOrElse(cid, old))
      }
    }
    centroids
  }

  /** Sample-bounded deterministic training frame, shared by the IVF
    * quantizer and PQ codebook training (see kmeansCentroids' scaladoc for
    * the full sizing contract): an eager localCheckpoint of either the
    * whole (small) corpus or a hash-gated ~trainCap-row subsample, with
    * geometric gate-widening to a `kFloor` usable floor and self-correcting
    * trusted counts in both directions. */
  private[operators] def boundedTrainingSample(
      slim: DataFrame, idCol: String, trainCap: Long, kFloor: Long,
      corpusRows: Option[Long]): DataFrame = {
    val n = corpusRows.getOrElse(slim.count())
    def gated(n: Long): DataFrame = {
      // deterministic unbiased gate (same device as Sampling's hash gate):
      // keep a row iff its id-hash falls under the target fraction — no
      // sort, no single-task gather, replay-stable
      val denom = 1000000L
      val floor = math.min(trainCap, math.max(kFloor, 64L))
      def sampleAt(keep: Long) = graft.Checkpoints.owned(
        slim.filter(pmod(xxhash64(col(idCol)), lit(denom)) < lit(keep)))
      var keep = math.max(1L, denom * trainCap / n)
      var (sample, release) = sampleAt(keep)
      // counting the checkpointed sample is in-memory, not a source scan
      while (sample.count() < floor && keep < denom) {
        keep = math.min(denom, keep * 8)
        // release the superseded eager checkpoint before widening, or
        // every rejected sample's blocks stay pinned through training
        release()
        val (wider, releaseWider) = sampleAt(keep)
        sample = wider; release = releaseWider
      }
      sample
    }
    if (n <= trainCap) {
      val (whole, release) = graft.Checkpoints.owned(slim)
      val actual = whole.count() // in-memory count of the checkpoint
      if (actual <= trainCap) whole
      else {
        // the trusted count lied; the recount above cost nothing extra
        // and IS the true count — release the oversize checkpoint and
        // re-enter the gated path sized by it
        release()
        gated(actual)
      }
    } else gated(n)
  }

  /** The k-seed sample plan (exposed for the PlanSpec scale audit): exactly
    * k rows leave the executors, however large the corpus.
    *
    * Determinism contract: the sample orders by (xxhash64(id), id,
    * xxhash64(embedding)) — with unique ids the first two keys are already
    * total, and the embedding hash settles duplicate-id corpora too, so
    * the same corpus always seeds the same centroids. */
  private[graft] def seedRows(
      corpus: DataFrame, k: Int, idCol: String, embCol: String): DataFrame =
    corpus
      .select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .orderBy(xxhash64(col(idCol)), col(idCol), xxhash64(col("e")))
      .limit(k)

  /** The (nlist × dim) centroid set as one literal nested-array column,
    * indexed by cid+1 — shared by the IVF index export's centroid attach
    * and the PQ residual expression, so the two can't desynchronize. */
  private[operators] def centroidMatrix(centroids: Seq[(Int, Seq[Double])]): Column =
    array(centroids.sortBy(_._1).map { case (_, ctr) =>
      array(ctr.map(lit): _*)
    }: _*)

  /** Nearest-centroid assignment as a PURE EXPRESSION over the (driver-
    * resident, model-sized) centroid seq: cid = first index of the max
    * cosine (ties → smallest cid, the same rule as the window form this
    * replaces — which broadcast-joined k rows onto every corpus row and
    * then SHUFFLED the whole frame through a per-id window just to pick
    * one). Map-only: Lloyd's assignment step and IVF list assignment now
    * add zero exchanges; the only shuffle left in training is the
    * map-side-combining update aggregate. Requires cids 0..k-1
    * (kmeansCentroids constructs exactly that). */
  private def assignToCentroids(
      corpus: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String, embCol: String): DataFrame = {
    require(centroids.map(_._1).sorted == centroids.indices.toSeq,
      "centroid ids must be contiguous 0..k-1")
    val sims = array(centroids.sortBy(_._1).map { case (_, ctr) =>
      cosine(col(embCol), array(ctr.map(lit): _*))
    }: _*)
    // a null embedding yields null sims — coalesce to list 0, the same
    // deterministic bucket the window form gave it (all-null __sim sorted
    // nulls-last, ties to the smallest cid), so rows never vanish through
    // downstream cid joins
    corpus.withColumn("cid",
      coalesce((array_position(sims, array_max(sims)) - 1).cast("int"), lit(0)))
  }

  /** IVF ANN: corpus partitioned into nlist inverted lists by nearest
    * centroid; a query exactly re-ranks only the rows of its nprobe
    * closest lists. At 100 TB the assigned corpus is written partitioned
    * by `cid`, so a query touches nprobe partitions of storage. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 3, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val spark = corpus.sparkSession
    val centroids =
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows)
    val cdf = spark.createDataFrame(centroids).toDF("cid", "centroid")
    val lists = assignToCentroids(corpus, centroids, idCol, embCol)
    val wq = Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cid"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .join(broadcast(cdf))
      // probe ranking at 9dp (ties → cid): the raw double is engine-fold-
      // order specific, so snapping makes the nprobe choice restatable by
      // the DuckDB oracle without betting on bit-identical float sums
      .withColumn("__sim", round(cosine(col("q_emb"), col("centroid")), 9))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))
    val scored = lists
      .join(broadcast(probes), Seq("cid"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(embCol), col("q_emb")), 4).as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("q_id"), col("cos_sim").desc, col(idCol))
  }

  /** All-corpus kNN GRAPH over the IVF blocking — every vector gets its
    * top-k approximate neighbors, the primitive SemDeDup-style semantic
    * dedup, duplicate-graph clustering, and curation pipelines consume.
    * ivfTopK cannot serve this: it broadcasts the probe set, which is
    * model-sized for a query batch but corpus-sized when every row is a
    * query. Here both sides stay distributed:
    *   - coarse quantizer: the same deterministic [[kmeansCentroids]]
    *     (sample-bounded training, 9dp-snapped Lloyd) — an in-graph run
    *     reproduces the q79 index fixture bit-for-bit;
    *   - list side: [[assignToCentroids]]' raw-argmax rule (map-only,
    *     matches the persisted index);
    *   - probe side: each vector's nprobe nearest centroids via ONE
    *     map-only expression — sort the (−round(cos, 9), cid) struct
    *     array and slice, the exact probe rule ivfTopK's window applies
    *     (9dp snap, ties → cid) with NO corpus-wide window;
    *   - candidates: ONE shuffle join on cid (nlist-way blocked; size
    *     nlist ~ √N at scale so a list, and hence a block, stays
    *     bounded), then per-source top-k as a group-limit window
    *     (partial top-k runs map-side before the exchange).
    * Rows with null embeddings have no geometry: they emit and receive
    * no edges (the oracle agrees for free — unnesting a NULL list
    * yields no rows). Edge pairs are unique by construction (each dst
    * lives in exactly one list; (src, cid) probes are distinct).
    * Output (src_id, dst_id, cos_sim at 4dp, rank), ties → dst_id.
    *
    * nlist ceiling: both centroid passes here are LITERAL expressions
    * (nlist cosine subtrees per projection) — ideal while nlist is a few
    * thousand at most; past that use [[knnGraphJoined]], the bit-
    * identical broadcast-join form sized for nlist ~ √N at 100 TB. */
  def knnGraph(
      corpus: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      model: Option[Seq[(Int, Seq[Double])]] = None): DataFrame =
    // conf gate (shared spark.graft.advisor.* thresholds): a session
    // that sets spark.graft.advisor.knnGraph routes the candidate join
    // through the pre-join advisory — NOTE the sketch pass then runs
    // EAGERLY at call time (two map-only jobs over the cid keys)
    graft.plans.JoinAdvisor.confGate(
        corpus.sparkSession, "spark.graft.advisor.knnGraph") match {
      case Some(c) =>
        knnGraphAdvised(corpus, k, nlist, nprobe, iters, idCol, embCol,
          trainCap, corpusRows, model, c.broadcastMaxRows, c.skewFactor,
          c.minSaltOutputRows, c.maxSaltBuckets, c.hhCapacity,
          c.targetPartitions, c.maxHotShare)._2
      case None =>
        val (lists, srcProbes) = knnGraphSides(
          corpus, nlist, nprobe, iters, idCol, embCol, trainCap,
          corpusRows, model)
        knnGraphTail(lists, srcProbes, k, idCol, embCol)
    }

  /** The two sides of the candidate join, extracted so [[knnGraph]] and
    * [[knnGraphAdvised]] build them identically: `lists` = every vector
    * under its nearest centroid (one row per corpus vector), `srcProbes`
    * = every (source vector, probed cid) pair (nprobe rows per vector,
    * 9dp-snapped centroid ranking, ties → cid). */
  private def knnGraphSides(
      corpus: DataFrame, nlist: Int, nprobe: Int, iters: Int,
      idCol: String, embCol: String, trainCap: Long,
      corpusRows: Option[Long],
      model: Option[Seq[(Int, Seq[Double])]]): (DataFrame, DataFrame) = {
    val centroids = model.getOrElse(
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows))
    requireNonZeroNormCentroids(centroids, "knnGraph")
    // re-widen (r18, the q184 device via Dedup.rewiden): both the
    // assignment map and the probe ranking evaluate nlist cosines per
    // row, and a single-file corpus otherwise runs each on one core
    val slim = Dedup.rewiden(
      corpus.select(col(idCol), col(embCol)).filter(col(embCol).isNotNull),
      col(idCol))
    val lists = assignToCentroids(slim, centroids, idCol, embCol)
    val probeEntries = array(centroids.sortBy(_._1).map { case (cid, ctr) =>
      struct(
        (-round(cosine(col(embCol), array(ctr.map(lit): _*)), 9)).as("ns"),
        lit(cid).as("cid"))
    }: _*)
    val srcProbes = slim
      .select(col(idCol).as("src_id"), col(embCol).as("src_emb"),
        explode(transform(slice(array_sort(probeEntries), 1, nprobe),
          p => p.getField("cid"))).as("cid"))
    (lists, srcProbes)
  }

  /** [[knnGraph]] with the candidate join STEERED by the pre-join
    * advisory ([[graft.plans.JoinAdvisor.advise]] over the two sides'
    * cid keys) — the third engine consumer of the advisory, and the one
    * whose skew hazard is STRUCTURAL rather than adversarial: IVF list
    * sizes follow the data's cluster structure, so a corpus with a
    * dominant semantic cluster (near-duplicate scrape bursts, template
    * boilerplate — the norm in web-scale training data, not the
    * exception) concentrates both list rows AND probe rows on one cid,
    * and the nlist-way blocked join develops a reducer-killing hot
    * block no static plan anticipates. The sketch pass (one map-only
    * scan per side over the cid keys) prices that BEFORE the join runs:
    * broadcast while a side is dimension-sized, TARGETED salt when one
    * list dominates the fair share (only hot-cid rows replicate — cost
    * |hot rows|×buckets), plain shuffle otherwise.
    *
    * Results are identical under every verdict — the join predicate is
    * cid equality (plus the salt key on the hot leg), so the hot/cold
    * partition splits the pair space into disjoint joins whose union is
    * the full join; the per-source top-k window runs after the union and
    * never sees the placement (q230/q231 hash-grade a broadcast and a
    * salt operating point against the same oracle family as q120).
    *
    * NOTE: the sketch pass runs EAGERLY at call time (two map-only jobs
    * — the advice must exist before the join's shape can be chosen);
    * the centroid-assignment projections are recomputed by the join
    * itself. `targetPartitions` sizes the fair share for the deployment
    * the join will run on, not the planning session. */
  def knnGraphAdvised(
      corpus: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 2, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      model: Option[Seq[(Int, Seq[Double])]] = None,
      broadcastMaxRows: Long = 1_000_000L,
      skewFactor: Double = 5.0,
      minSaltOutputRows: Long = 10_000_000L,
      maxSaltBuckets: Int = 1024,
      hhCapacity: Int = 1024,
      targetPartitions: Option[Int] = None,
      maxHotShare: Double = graft.plans.JoinAdvisor.DefaultMaxHotShare)
      : (graft.plans.JoinAdvisor.JoinAdvice, DataFrame) = {
    val (lists, srcProbes) = knnGraphSides(
      corpus, nlist, nprobe, iters, idCol, embCol, trainCap, corpusRows, model)
    val advice = graft.plans.JoinAdvisor.advise(
      lists.select(col("cid")), col("cid"),
      srcProbes.select(col("cid")), col("cid"),
      broadcastMaxRows, skewFactor, minSaltOutputRows, maxSaltBuckets,
      hhCapacity, targetPartitions, maxHotShare)
    (advice, knnGraphTail(lists, srcProbes, k, idCol, embCol, Some(advice)))
  }

  /** The knnGraph/knnGraphJoined bit-identity contract assumes every
    * centroid cosine is a real number: a zero-norm centroid yields NaN,
    * which the expression path's array_sort ranks LARGEST (NaN sorts
    * last in Spark, so the negated entry sorts first) while the join
    * path's min(struct(-sim, cid)) ranks it by NaN-vs-double struct
    * comparison — divergent cid assignment. Unreachable with healthy
    * kmeans output (a centroid is a mean of unit-normed members), so
    * guard the MODEL input (model-sized driver check) rather than
    * nan-guarding every per-row cosine in the hot path. */
  private def requireNonZeroNormCentroids(
      centroids: Seq[(Int, Seq[Double])], caller: String): Unit =
    require(centroids.forall(_._2.exists(_ != 0.0)),
      s"$caller: zero-norm centroid(s) " +
        centroids.filter(!_._2.exists(_ != 0.0)).map(_._1).mkString("[", ",", "]") +
        " — cosine would be NaN and the expression/join probe paths diverge")

  /** Candidate join + per-source top-k shared by [[knnGraph]],
    * [[knnGraphJoined]] and [[knnGraphAdvised]] — one shuffle join on
    * cid (nlist-way blocked), then a group-limit window (partial top-k
    * runs map-side before the exchange). `steer = None` keeps Catalyst's
    * static pick; an advice routes broadcast / TARGETED salt / plain
    * shuffle (see [[knnGraphAdvised]]). The salt leg replicates the
    * LIST side's hot-cid rows (the probe side is the larger one —
    * nprobe rows per vector — so it takes the cheap hash salt) and pins
    * shuffle_hash on both legs: a salt verdict asserts the sides are
    * past broadcast at deployment scale, and Catalyst's byte-stats at
    * test scale would otherwise broadcast the replicated side —
    * executing replication AND broadcast while un-executing the
    * advisory. */
  private def knnGraphTail(lists: DataFrame, srcProbes: DataFrame, k: Int,
      idCol: String, embCol: String,
      steer: Option[graft.plans.JoinAdvisor.JoinAdvice] = None): DataFrame = {
    val joined = steer.map(_.strategy).getOrElse("static") match {
      case "broadcast" =>
        // advise() was called with lists as the LEFT side
        if (steer.get.broadcastSide.contains("left"))
          broadcast(lists).join(srcProbes, Seq("cid"))
        else lists.join(broadcast(srcProbes), Seq("cid"))
      case "salt" =>
        val buckets = steer.get.saltBuckets
        require(steer.get.hotKeys.nonEmpty,
          "salt verdict without hotKeys — advisory contract violation")
        // MG display strings of an int cid key parse back exactly; a
        // display that does NOT parse (a "null" key, or a future reuse
        // of this tail with a non-int key column) cannot match any int
        // cid, so it is dropped rather than thrown from plan-build —
        // with a named require so an ALL-unparseable set (the reuse
        // case) fails loudly instead of silently un-salting
        val hot = steer.get.hotKeys.flatMap(_.toIntOption)
        require(hot.nonEmpty,
          "salt verdict whose hotKeys contain no parseable int cid " +
            s"(${steer.get.hotKeys.take(3).mkString(", ")}...) — " +
            "knnGraphTail salts on the int cid key; advisory contract " +
            "violation or non-int key reuse")
        val isHot = col("cid").isin(hot: _*)
        // WIDTH-PIN on the salted join (r19 — the Graph.scala q184
        // device; same fix as Dedup.variantSelfJoin): the candidate
        // join's INPUT is key-sized (tiny bytes) while its OUTPUT is
        // the |hot list|×|hot probes| explosion the salt exists to
        // spread — AQE's byte-based coalescing saw 0.2 MB of input and
        // merged the salt buckets back onto ONE task (q231's whole
        // cost was a single 2.9 s one-task join+window job in the r19
        // probe). An explicit-numPartitions repartition on the salt
        // keys is exempt from coalescing and the join reuses it — zero
        // extra exchanges; the cold leg pins on cid alone.
        val width = scala.util.Try(lists.sparkSession.conf
          .get("spark.sql.shuffle.partitions").trim.toInt).getOrElse(0)
        def widen(df: DataFrame, ks: Column*): DataFrame =
          if (width > 0) df.repartition(width, ks: _*) else df
        val hotProbes = widen(srcProbes.filter(isHot).withColumn("__salt",
          pmod(xxhash64(col("src_id")), lit(buckets)).cast("int")),
          col("cid"), col("__salt"))
        val hotLists = widen(lists.filter(isHot).withColumn("__salt",
          explode(array((0 until buckets).map(lit): _*))),
          col("cid"), col("__salt"))
        val hotJoin = hotProbes.hint("shuffle_hash")
          .join(hotLists, Seq("cid", "__salt")).drop("__salt")
        val coldJoin = widen(srcProbes.filter(!isHot), col("cid"))
          .hint("shuffle_hash")
          .join(widen(lists.filter(!isHot), col("cid")), Seq("cid"))
        hotJoin.unionByName(coldJoin)
      case _ =>
        lists.join(srcProbes, Seq("cid"))
    }
    val scored = joined
      .filter(col(idCol) =!= col("src_id"))
      .select(col("src_id"), col(idCol).as("dst_id"),
        round(cosine(col(embCol), col("src_emb")), 4).as("cos_sim"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos_sim").desc, col("dst_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("src_id"), col("rank"))
  }

  /** √N list-count heuristic (the standard IVF sizing: per-list size ≈
    * list count ≈ √N balances probe cost against list-scan cost),
    * clamped to [8, 2^17]. */
  def defaultNlist(corpusRows: Long): Int = {
    // clamp BEFORE narrowing: √Long.MaxValue is ~3e9, which .toInt
    // would wrap negative
    val root = math.round(math.sqrt(math.max(corpusRows, 0L).toDouble))
    math.max(8L, math.min(1L << 17, root)).toInt
  }

  /** OR-amplification table count for [[lshTopK]] at a target
    * NEAREST-NEIGHBOR recall — the LSH recall dial, derived from the
    * hyperplane collision model instead of guessed. A true neighbor at
    * angle θ agrees with a random hyperplane bit w.p. 1−θ/π; call that
    * `bitAgreement` (default 0.8 ≈ 36°, the "clearly nearest" regime a
    * retrieval consumer cares about). One table of `nbits` bits catches
    * the pair w.p. p = bitAgreement^nbits, so T independent tables reach
    * recall 1−(1−p)^T, giving T = ln(1−target)/ln(1−p). At the q48 point
    * (nbits=8) this lands at 17 tables for 0.95 NN-recall — and the
    * measured sf0.1 floor bears it out: 4 tables hold recall@5 ≥ 0.4 but
    * lose the TRUE nearest neighbor entirely (MRR 0.0), 16–17 recover
    * both to 1.0. Capped at 64: past that the corpus signing scan (one
    * posexplode row per table) dominates and nbits should drop instead. */
  def defaultLshTables(
      nbits: Int, targetRecall: Double = 0.95,
      bitAgreement: Double = 0.8): Int = {
    require(nbits >= 1 && nbits <= 30, "nbits out of range")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0,1)")
    require(bitAgreement > 0 && bitAgreement < 1, "bitAgreement in (0,1)")
    val pTable = math.pow(bitAgreement, nbits)
    val t = math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable))
    math.min(64, math.max(1, t.toInt))
  }

  /** [[knnGraph]] with BOTH centroid passes as broadcast joins instead of
    * literal-centroid expressions — the nlist-beyond-codegen path.
    * The expression form embeds nlist cosine subtrees in one projection,
    * which stops codegenning (and eventually overflows plan conversion)
    * past a few thousand centroids; at the √N heuristic a 100 TB corpus
    * wants nlist ~10⁵, so here the centroid matrix rides as a broadcast
    * TABLE (model-sized: nlist × dim doubles) and each side meets it
    * relationally:
    *   - list side: corpus × centroids broadcast join scored by the same
    *     cosine kernel, argmax-reduced by a map-side-combining
    *     min(struct(−sim, cid)) aggregate — ONE corpus-sized shuffle of
    *     pre-combined rows, no window;
    *   - probe side: the same broadcast join ranked by the 9dp-snapped
    *     (−cos, cid) rule through a group-limit window (partial top-nprobe
    *     runs map-side, so the corpus×nlist blowup collapses before the
    *     exchange);
    *   - both blown-up stages carry only (id, ns, cid) — embeddings are
    *     re-attached by a corpus-sized equi-join AFTER the collapse, so
    *     no dim-sized array is ever replicated nlist-fold through a sort
    *     or shuffle.
    * Output is BIT-IDENTICAL to [[knnGraph]] given the same model
    * (argmax rule: equal sims → smallest cid, the expression form's
    * array_position-of-max; probe rule: identical snap + tie order) —
    * parity-pinned in SimilaritySpec. `nlist = None` derives the list
    * count from `corpusRows` (or one column-pruned count) via
    * [[defaultNlist]]. */
  def knnGraphJoined(
      corpus: DataFrame, k: Int,
      nlist: Option[Int] = None, nprobe: Int = 2, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      model: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val spark = corpus.sparkSession
    val slim = corpus.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
    lazy val rowCount: Long = corpusRows.getOrElse(slim.count())
    val nl = nlist.orElse(model.map(_.size)).getOrElse(defaultNlist(rowCount))
    val knownRows =
      if (nlist.isEmpty && model.isEmpty) Some(rowCount) else corpusRows
    val centroids = model.getOrElse(
      kmeansCentroids(corpus, nl, iters, idCol, embCol, trainCap, knownRows))
    requireNonZeroNormCentroids(centroids, "knnGraphJoined")
    val cdf = broadcast(
      spark.createDataFrame(centroids.sortBy(_._1)).toDF("cid", "ctr"))
    // both blown-up (corpus × nlist) stages stay ARRAY-FREE: the
    // embedding is consumed by the cosine and dropped, so the partial
    // aggregate / group-limit window sort and the exchange move ~20-byte
    // (id, ns, cid) rows, not dim-sized vectors replicated nlist times;
    // each side re-meets the slim (id, embedding) frame by id afterwards
    // — a corpus-sized equi-join, NOT a blown-up one
    val assigned = slim.crossJoin(cdf)
      .select(col(idCol), col("cid"),
        cosine(col(embCol), col("ctr")).as("__sim"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__sim")).as("ns"), col("cid").as("cid"))).as("__m"))
      .select(col(idCol), col("__m.cid").as("cid"))
    val lists = assigned.join(slim, Seq(idCol))
    val pw = Window.partitionBy(col("src_id")).orderBy(col("ns"), col("cid"))
    val probePicks = slim
      .select(col(idCol).as("src_id"), col(embCol).as("src_emb"))
      .crossJoin(cdf)
      .select(col("src_id"), col("cid"),
        (-round(cosine(col("src_emb"), col("ctr")), 9)).as("ns"))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nprobe)
      .select(col("src_id"), col("cid"))
    val srcProbes = probePicks.join(
      slim.select(col(idCol).as("src_id"), col(embCol).as("src_emb")),
      Seq("src_id"))
    knnGraphTail(lists, srcProbes, k, idCol, embCol)
  }

  /** Persist the IVF inverted lists as parquet PARTITIONED BY cid, plus
    * the centroid matrix as a small side table — the "at 100 TB the
    * assigned corpus is written partitioned by cid" path of ivfTopK made
    * real. Assignment is computed once; every subsequent query touches
    * nprobe partitions of storage. */
  def writeIvfIndex(
      corpus: DataFrame, path: String, nlist: Int = 8, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): Unit = {
    val spark = corpus.sparkSession
    val centroids =
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows)
    val cdf = spark.createDataFrame(centroids).toDF("cid", "centroid")
    assignToCentroids(corpus, centroids, idCol, embCol)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    cdf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // self-describing index (same pattern as writePqIvfIndex's meta): the
    // geometry rides with the lists so the search side can cross-check
    // the centroid table instead of trusting the layout blindly
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    spark.createDataFrame(Seq((nlist, dim)))
      .toDF("nlist", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** ANN over a persisted IVF index: the nprobe nearest centroids per
    * query come from the (tiny) centroid table driver-side, and the lists
    * scan statically prunes to those cid partitions before the exact
    * re-rank. Same output contract as ivfTopK when built with the same
    * nlist/iters. */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
      k: Int, nprobe: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxQueryRows: Int = DefaultMaxQueryRows): DataFrame = {
    require(maxQueryRows > 0, "maxQueryRows must be positive")
    // the probe frame ((q_id, q_emb, cid) × nprobe) is broadcast below —
    // a corpus-sized query frame would OOM every executor, not just the
    // driver; limit+count early-stops, so the gate is cheap
    require(queries.limit(maxQueryRows + 1).count() <= maxQueryRows,
      s"ivfTopKFromIndex: query frame exceeds maxQueryRows=$maxQueryRows " +
        "— the ANN contract is queries << corpus (the probe frame is " +
        "broadcast x nprobe); split the batch or raise maxQueryRows")
    // the index says what it is: meta is required (a path without one is
    // not a writeIvfIndex layout) and must AGREE with the centroid table —
    // a mixed or partially-overwritten index throws instead of silently
    // probing against the wrong quantizer
    val meta =
      try spark.read.parquet(s"$path/meta").select("nlist", "dim").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"$path has no readable meta table — not a writeIvfIndex " +
              "layout (or written by a pre-meta version; rewrite the index)", e)
      }
    val cdf = spark.read.parquet(s"$path/centroids")
    val ctrs = cdf.collect()
    require(ctrs.length == meta.getInt(0),
      s"index meta says nlist=${meta.getInt(0)} but centroid table has " +
        s"${ctrs.length} rows — mixed or corrupted index at $path")
    require(ctrs.forall(_.getSeq[Double](1).length == meta.getInt(1)),
      s"index meta says dim=${meta.getInt(1)} but a centroid disagrees " +
        s"— mixed or corrupted index at $path")
    val wq = Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cid"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .join(broadcast(cdf))
      // probe ranking at 9dp (ties → cid): the raw double is engine-fold-
      // order specific, so snapping makes the nprobe choice restatable by
      // the DuckDB oracle without betting on bit-identical float sums
      .withColumn("__sim", round(cosine(col("q_emb"), col("centroid")), 9))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cid"))
    // the probed cids are few (|queries| x nprobe) — collect them so the
    // scan prunes partitions statically
    val probeCids = probes.select("cid").distinct().collect().map(_.getInt(0))
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("cid").isin(probeCids.toSeq: _*))
    val scored = lists
      .join(broadcast(probes), Seq("cid"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(embCol), col("q_emb")), 4).as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("q_id"), col("cos_sim").desc, col(idCol))
  }

  /** Blocked near-duplicate pairs by embedding cosine: candidate pairs are
    * generated only inside a blocking key (here any column, e.g. a cluster
    * label or LSH bucket), never across the full corpus.
    *
    * Hot-block guard: the pair join is quadratic WITHIN a block, so one
    * degenerate block (a catch-all cluster label, an overloaded LSH bucket)
    * would emit O(n²) pairs at 100 TB. Blocks larger than `maxBlock` rows
    * are dropped whole before the self-join — the same
    * boilerplate-exclusion discipline as the winnowing df cap
    * (Dedup.winnowContainmentPairs): a block that big means the blocking
    * key has stopped discriminating, and its pairs are noise, not
    * candidates. The count rides a window over the SAME blk exchange the
    * self-join uses — no extra shuffle, no cache barrier. Pair output is
    * thereby bounded by |blocks| × maxBlock². */
  def blockedCosinePairs(
      corpus: DataFrame, blockCol: Column, minCos: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxBlock: Long = 10000L): DataFrame = {
    val e = corpus.select(blockCol.as("blk"), col(idCol), col(embCol))
      .withColumn("__bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .filter(col("__bn") <= maxBlock)
      .drop("__bn")
    val a = e.select(col("blk"), col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = e.select(col("blk"), col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Write the LSH-bucketed corpus as a parquet index PARTITIONED BY
    * (tbl, sig) under `$path/buckets` — the persisted form of lshTopK's
    * bucketing. At 100 TB the corpus is bucketed once and queried many
    * times; a query's probe set touches tables x (nbits+1) of the
    * tables x 2^nbits partitions, and the scan below prunes to exactly
    * those directories.
    *
    * Self-describing (same pattern as writePqIvfIndex's meta): the
    * (nbits, tables, dim) geometry that derived the signatures rides in
    * `$path/meta`, and the search side reads it from there instead of
    * trusting the caller to repeat it — a repeated-wrong nbits/tables
    * would silently probe the wrong buckets (empty or wrong candidates),
    * not error. The buckets moved into a subdirectory because a meta
    * sibling inside a partitioned dataset root would break partition
    * discovery. */
  def writeLshIndex(
      corpus: DataFrame, path: String, nbits: Int = 8, tables: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): Unit = {
    val planeSets = tablePlaneSets(nbits, tables, dim)
    val entries = planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("tbl"), lshSignature(col(embCol), planes).as("sig"))
    }
    corpus.select(col(idCol), col(embCol), explode(array(entries: _*)).as("ts"))
      .select(col("ts.tbl").as("tbl"), col("ts.sig").as("sig"), col(idCol), col(embCol))
      .write.mode("overwrite").partitionBy("tbl", "sig").parquet(s"$path/buckets")
    corpus.sparkSession.createDataFrame(Seq((nbits, tables, dim)))
      .toDF("nbits", "tables", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Driver-side signature of one embedding (same math as the native
    * expression; the query set is small by definition, so computing its
    * probe signatures on the driver is free and buys STATIC partition
    * pruning instead of hoping for runtime DPP). */
  private def signatureOf(emb: Seq[Double], planes: Seq[Seq[Double]]): Int =
    planes.zipWithIndex.foldLeft(0) { case (sig, (p, i)) =>
      val dot = p.iterator.zip(emb.iterator).map { case (a, b) => a * b }.sum
      if (dot >= 0.0) sig | (1 << i) else sig
    }

  /** ANN over a persisted LSH index: probe signatures (exact + 1-bit
    * flips) are computed driver-side from the query vectors, the parquet
    * scan prunes to exactly the probe partitions (PartitionFilters on
    * tbl/sig — check with .explain), and candidates re-rank by exact
    * cosine. Same output contract as lshTopK.
    *
    * The (nbits, tables, dim) geometry is read from the index's meta
    * table, by name — never repeated by the caller (a silent mismatch
    * would probe the wrong buckets, not error); a path without meta
    * throws instead of searching garbage. */
  def lshTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
      k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxQueryRows: Int = DefaultMaxQueryRows): DataFrame = {
    import spark.implicits._
    require(maxQueryRows > 0, "maxQueryRows must be positive")
    val meta =
      try spark.read.parquet(s"$path/meta").select("nbits", "tables", "dim").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"$path has no readable meta table — not a writeLshIndex " +
              "layout (or written by a pre-meta version; rewrite the index)", e)
      }
    val (nbits, tables, dim) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val planeSets = tablePlaneSets(nbits, tables, dim)
    // the limit BOUNDS the collect itself (never cap+1 rows on the
    // driver), then the length check turns an over-cap frame into a
    // named error instead of a driver OOM — the probe fan-out below is
    // ×(1+nbits)×tables per query, so the query frame must be small
    val qRows = queries
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .limit(maxQueryRows + 1).collect()
    require(qRows.length <= maxQueryRows,
      s"lshTopKFromIndex: query frame exceeds maxQueryRows=$maxQueryRows " +
        "— the ANN contract is queries << corpus (probe fan-out is " +
        s"(1+$nbits)x$tables rows per query on the driver); split the " +
        "batch or raise maxQueryRows")
    val probeRows: Seq[(Long, Int, Int, Seq[Double])] = (for {
      r <- qRows.toSeq
      emb = r.getSeq[Double](1)
      (planes, t) <- planeSets.zipWithIndex
      sig = signatureOf(emb, planes)
      s <- sig +: (0 until nbits).map(b => sig ^ (1 << b))
    } yield (r.getLong(0), t, s, emb)).distinct
    val probeDf = probeRows.toDF("q_id", "tbl", "sig", "q_emb")
    // static pruning: the scan reads ONLY the probe partitions (an empty
    // query set prunes everything rather than crashing an empty reduce)
    val probeFilter = probeRows.map(p => (p._2, p._3)).distinct
      .groupBy(_._1).toSeq
      .map { case (t, sigs) =>
        col("tbl") === t && col("sig").isin(sigs.map(_._2).distinct: _*)
      }
      .reduceOption(_ || _).getOrElse(lit(false))
    val index = spark.read.parquet(s"$path/buckets")
    val scored = index.filter(probeFilter)
      .join(broadcast(probeDf), Seq("tbl", "sig"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(embCol), col("q_emb")), 4).as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("q_id"), col("cos_sim").desc, col(idCol))
  }

  /** The LSH bucket membership as a query-able table: one (tbl, sig,
    * vec_id) row per corpus row per hyperplane table — the same seeded
    * planes and native signature expression lshTopK buckets by, so the
    * table IS the index's bucket directory. Map-only (no shuffle; at
    * scale a straight scan→write, the tabular twin of writeLshIndex's
    * partitioned layout). Doubles as the cross-engine fixture for q48's
    * oracle (both engines re-derive the probe expansion, bucket join, and
    * exact re-rank from these rows) — and since round 9 the table itself
    * is fully oracled too: q78's generated SQL embeds the seed-derived
    * plane constants as literals and re-derives every signature bit. */
  def lshBucketTable(
      corpus: DataFrame, nbits: Int = 8, tables: Int = 4,
      idCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val planeSets = tablePlaneSets(nbits, tables, dim)
    val entries = planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("tbl"), lshSignature(col(embCol), planes).as("sig"))
    }
    corpus.select(col(idCol), explode(array(entries: _*)).as("ts"))
      .select(col("ts.tbl").as("tbl"), col("ts.sig").as("sig"), col(idCol))
  }

  /** The IVF index as one denormalized table: (cid, centroid, vec_id) —
    * every corpus row tagged with its inverted list plus that list's
    * centroid, i.e. writeIvfIndex's lists+centroids joined back together.
    * One quantizer training + one assignment pass (training is
    * deterministic: seeded hash-gated sample, Lloyd updates snapped to
    * 9dp — see round9 — so a re-run reproduces it bit-for-bit). Doubles
    * as the fixture for q49's oracle: kmeans state is not
    * SQL-restatable, so DuckDB takes centroids/assignments as given and
    * re-derives the nprobe centroid ranking, list join, and exact
    * re-rank. */
  def ivfIndexTable(
      corpus: DataFrame, nlist: Int = 8, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val centroids =
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows)
    // centroid attached via element_at over the literal (nlist × dim)
    // matrix — like the assignment itself, a pure expression: the whole
    // export plans as one map-only scan (no broadcast join, no exchange)
    assignToCentroids(corpus, centroids, idCol, embCol)
      .select(col("cid"),
        element_at(centroidMatrix(centroids), col("cid") + 1).as("centroid"),
        col(idCol))
  }

  /** ivfIndexTable's driver-sortable twin: the same deterministic model
    * and assignment, exported as LONG-FORMAT SCALAR rows — kind 'c' rows
    * carry one centroid element each (cid, pos, value), kind 'v' rows one
    * list membership each (cid, vec_id). The registered q79 export uses
    * this shape because the driver's rows-only checker sorts frames in
    * pandas, which cannot sort array cells (the CORRECTNESS_r06 q79 RED
    * row); the q49 oracle re-assembles centroids with
    * list(value ORDER BY pos). Centroid rows come from the driver-resident
    * model (LocalTableScan), membership stays the same map-only assignment
    * scan — the union still plans with no exchange and no join
    * (PlanSpec pins it). */
  def ivfIndexScalarTable(
      corpus: DataFrame, nlist: Int = 8, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val spark = corpus.sparkSession
    val centroids =
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows)
    val cents = spark.createDataFrame(
        centroids.flatMap { case (cid, ctr) =>
          ctr.zipWithIndex.map { case (v, pos) => (cid, pos, v) }
        })
      .toDF("cid", "pos", "value")
      .select(lit("c").as("kind"), col("cid"), col("pos"), col("value"),
        lit(null).cast("long").as("vec_id"))
    val members = assignToCentroids(corpus, centroids, idCol, embCol)
      .select(lit("v").as("kind"), col("cid"),
        lit(null).cast("int").as("pos"), lit(null).cast("double").as("value"),
        col(idCol).cast("long").as("vec_id"))
    cents.unionByName(members)
  }

  /** Embedding-cosine near-dup dedup survivorship (greedy keep-min-id, the
    * same rule as Dedup.minhashDedupSurvivors): a vector survives unless a
    * same-block vector with smaller id sits within the cosine threshold.
    * Transitive clustering instead: feed the pairs to
    * Dedup.connectedComponents. */
  def embeddingDedupSurvivors(
      corpus: DataFrame, blockCol: Column, minCos: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxBlock: Long = 10000L): DataFrame = {
    val dropped = blockedCosinePairs(corpus, blockCol, minCos, idCol, embCol, maxBlock)
      .select(col("id_b").as("vec_id")).distinct()
    corpus.select(col(idCol).cast("long").as("vec_id"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-dup pairs found INSIDE
    * k-means clusters — the paper's device for making corpus-wide
    * embedding dedup tractable: train k centroids, assign every vector
    * (the zero-shuffle expression above), then compare pairs only within
    * a cluster. Same deterministic trainer and assignment as the IVF
    * family — with matching (nlist, iters) the clustering is
    * bit-identical to q79's exported index, which is what lets a SQL
    * oracle re-derive these pairs from that fixture.
    *
    * Known and intended blindness (the paper's too): a near-dup pair
    * split across two clusters is not compared. Recall at a given k is a
    * property of the clustering, not of this operator; the planted spec
    * pins both directions.
    *
    * Scale shape: assignment is map-only; the pair join shuffles on cid
    * exactly once; maxBlock caps a degenerate cluster the same way
    * blockedCosinePairs guards a hot block (at 100 TB pick nlist ≈
    * corpus/targetClusterRows so clusters stay comparison-sized). */
  def semanticDedupPairs(
      corpus: DataFrame, minCos: Double, nlist: Int = 8, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      maxBlock: Long = 10000L,
      model: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val centroids = model.getOrElse(
      kmeansCentroids(corpus, nlist, iters, idCol, embCol, trainCap, corpusRows))
    blockedCosinePairs(assignToCentroids(corpus, centroids, idCol, embCol),
      col("cid"), minCos, idCol, embCol, maxBlock)
  }

  /** SemDeDup survivorship: greedy keep-min-id over the within-cluster
    * pairs (the same rule as every other dedup family here — the paper
    * keeps one arbitrary member per duplicate group; min-id makes that
    * choice deterministic). Rows with null embeddings survive: they
    * have no defined similarity to anything. */
  def semanticDedupSurvivors(
      corpus: DataFrame, minCos: Double, nlist: Int = 8, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      maxBlock: Long = 10000L,
      model: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val dropped = semanticDedupPairs(corpus, minCos, nlist, iters, idCol,
        embCol, trainCap, corpusRows, maxBlock, model)
      .select(col("id_b").as("vec_id")).distinct()
    corpus.select(col(idCol).cast("long").as("vec_id"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Embedding-level train/eval decontamination — the semantic sibling of
    * Dedup.contamination's n-gram guard: flag every training vector whose
    * cosine to ANY eval-benchmark vector reaches `minCos` (eval items
    * paraphrased into the training set evade the n-gram check; this one
    * catches them). Output one row per corpus row: (vec_id, near_eval_id,
    * max_cos 4dp, contaminated 0/1); ties on the ROUNDED cosine keep the
    * smallest eval id; null-embedding corpus rows keep NULL score and
    * flag 0 — never dropped.
    *
    * Scale shape: the eval set is benchmark-sized (thousands), the corpus
    * 100 TB — so the eval side is driver-collected bounded state (the
    * same model-sized-collect contract as kmeans/PQ) baked into ONE
    * native codegen'd expression (plans.BestCosineExpr): the scan is pure
    * map-only, no shuffle, no pair blow-up, no blocking structure to
    * maintain. Per-row cost is |eval|·d multiplies in a tight JVM loop —
    * the interpreted higher-order-function form of the same scan (kept
    * below as the parity reference) measured 12× slower at sf0.1. */
  def embeddingDecontamination(
      corpus: DataFrame, evalSet: DataFrame, minCos: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val evRows = evalSet.filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val nulls = corpus.filter(col(embCol).isNull)
      .select(col(idCol).cast("long").as("vec_id"),
        lit(null).cast("long").as("near_eval_id"),
        lit(null).cast("double").as("max_cos"),
        lit(0L).as("contaminated"))
    if (evRows.isEmpty)
      return corpus.filter(col(embCol).isNotNull)
        .select(col(idCol).cast("long").as("vec_id"),
          lit(null).cast("long").as("near_eval_id"),
          lit(null).cast("double").as("max_cos"),
          lit(0L).as("contaminated"))
        .unionByName(nulls)
    val dim = evRows.head._2.length
    require(evRows.forall(_._2.length == dim),
      "eval embeddings must share one dimensionality")
    val norms = evRows.map { case (_, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val best = graft.plans.NativeExprs.bestCosine(
      col(embCol), evRows.flatMap(_._2).toSeq, evRows.map(_._1).toSeq,
      norms.toSeq, dim)
    val scored = corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"), best.as("b"))
      .select(col("vec_id"),
        when(col("b.bc") > -2.0, col("b.bid")).as("near_eval_id"),
        when(col("b.bc") > -2.0, col("b.bc")).as("max_cos"),
        when(col("b.bc") >= minCos, 1L).otherwise(0L).as("contaminated"))
    scored.unionByName(nulls)
  }

  /** Composed-Column form of the decontamination scan (broadcast 1-row
    * eval array + interpreted higher-order fold) — kept ONLY as the
    * bit-for-bit parity reference for the native expression above. */
  def embeddingDecontaminationViaColumns(
      corpus: DataFrame, evalSet: DataFrame, minCos: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val ev = evalSet.filter(col(embCol).isNotNull)
      .select(struct(
        col(idCol).cast("long").as("eid"),
        col(embCol).cast("array<double>").as("evec"),
        sqrt(aggregate(transform(col(embCol).cast("array<double>"), x => x * x),
          lit(0.0), _ + _)).as("ne")).as("e"))
      .agg(array_sort(collect_list(col("e"))).as("evals"))
    val v = col(embCol).cast("array<double>")
    val nv = sqrt(aggregate(transform(v, x => x * x), lit(0.0), _ + _))
    val best = aggregate(col("evals"),
      struct(lit(-2.0).as("bc"), lit(null).cast("long").as("bid")),
      (acc, e) => {
        // try_divide: ANSI throws on a 0.0 divisor (zero-norm vector)
        // where the kernel's Java division yields NaN/Inf — null here and
        // the guard below skip the candidate either way
        val c = round(try_divide(
          aggregate(zip_with(v, e.getField("evec"), (a, b) => a * b),
            lit(0.0), _ + _), nv * e.getField("ne")), 4)
        // Spark SQL orders NaN ABOVE every value (a bare c > bc would let
        // a zero-norm vector's NaN cosine win); the native kernel uses
        // Java semantics where NaN/Inf never wins — guard to match
        when(!isnan(c) && c =!= lit(Double.PositiveInfinity) &&
            c > acc.getField("bc"),
          struct(c.as("bc"), e.getField("eid").as("bid"))).otherwise(acc)
      })
    val scored = corpus.filter(col(embCol).isNotNull)
      .crossJoin(broadcast(ev))
      .select(col(idCol).cast("long").as("vec_id"), best.as("b"))
      .select(col("vec_id"),
        when(col("b.bc") > -2.0, col("b.bid")).as("near_eval_id"),
        when(col("b.bc") > -2.0, col("b.bc")).as("max_cos"),
        when(col("b.bc") >= minCos, 1L).otherwise(0L).as("contaminated"))
    val nulls = corpus.filter(col(embCol).isNull)
      .select(col(idCol).cast("long").as("vec_id"),
        lit(null).cast("long").as("near_eval_id"),
        lit(null).cast("double").as("max_cos"),
        lit(0L).as("contaminated"))
    scored.unionByName(nulls)
  }
}
