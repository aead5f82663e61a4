package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Product quantization — the ANN memory-footprint path at 100 TB.
  *
  * A 64-dim float32 embedding is 256 bytes; its PQ code (m=8 subspaces,
  * ksub=16 codewords each here, 256 in production) is ONE BIGINT. The
  * candidate-generation scan then reads an 8-byte column instead of the
  * vector itself — a ~32× reduction in scan bytes that composes with the
  * IVF layout (store codes partitioned by cid) — and only the `refine`
  * survivors per query ever touch the real vectors for the exact re-rank.
  *
  * Everything is metric-L2 (the standard PQ formulation); for cosine
  * semantics, l2-normalize first (VectorFunctions.l2Normalize) — on unit
  * vectors L2 ranking and cosine ranking coincide.
  *
  * Determinism contract (what makes the cross-engine oracles sound, same
  * discipline as Similarity.kmeansCentroids): codebook training seeds from
  * the ksub smallest id-hashes, Lloyd updates are snapped to 9dp, and
  * every distance used for an argmin/rank is snapped to 9dp with an
  * explicit (code / vec_id) tiebreak — so a re-run reproduces codebooks,
  * codes, and candidate sets bit-for-bit, and a same-order SQL restatement
  * agrees without betting on identical float folds.
  */
object Pq {

  /** Train per-subspace codebooks with ONE distributed pipeline (not m
    * independent kmeans runs): the training sample explodes into
    * (sub, subvector) rows once, every Lloyd iteration assigns all
    * subspaces in a single broadcast join + window pass, and the update
    * aggregates by (sub, code). Training is sample-bounded exactly like
    * the IVF quantizer (shared boundedTrainingSample; pass `corpusRows`
    * at 100 TB and no sizing scan runs). Returns (sub, code, codeword)
    * triples — m×ksub×dsub doubles of model state on the driver.
    *
    * Seeding: the ksub rows with the smallest id-hash (one distributed
    * top-k via Similarity.seedRows) seed ALL subspaces — codeword (s, c)
    * starts as seed row c's s-th subvector. A codeword that captures no
    * rows in an iteration carries through unchanged (duplicate-seed ties
    * lose every row to the smaller code; silently shrinking the codebook
    * would break the fixed-width code layout). */
  def pqCodebooks(
      corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding", dim: Int = 64,
      trainCap: Long = 65536L,
      corpusRows: Option[Long] = None): Seq[(Int, Int, Seq[Double])] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(ksub <= 256, s"ksub=$ksub exceeds one code byte")
    require(m <= 8, s"m=$m code bytes exceed one BIGINT")
    val dsub = dim / m
    val spark = corpus.sparkSession
    // null embeddings carry no geometry — excluded from training (same
    // rule as kmeansCentroids); encode still emits them with a null code
    val slim = corpus.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull)
    val (training, releaseTraining) = Similarity.boundedTrainingSample(
      slim, idCol, trainCap, 4L * ksub, corpusRows)
    // one explode → (id, sub, subvec); reused by every Lloyd pass.
    // Lazily checkpointed (r18): every Lloyd pass re-derived the explode
    // from the training sample otherwise
    val (subRows, releaseSubRows) = graft.Checkpoints.owned(training
      .select(col(idCol), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(col(embCol).cast("array<double>"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col(idCol), col("e.sub").as("sub"), col("e.sv").as("sv")),
      eager = false)
    try {
      var books: Seq[(Int, Int, Seq[Double])] =
        Similarity.seedRows(training, ksub, idCol, embCol)
          .collect().zipWithIndex.flatMap { case (r, c) =>
            val e = r.getSeq[Double](1)
            (0 until m).map(s => (s, c, e.slice(s * dsub, (s + 1) * dsub)))
          }.toSeq
      for (_ <- 0 until iters) {
        val cbDf = spark.createDataFrame(books).toDF("sub", "code", "cw")
        // per-(vector, sub) argmin as ONE partial-aggregating min(struct)
        // instead of the former row_number window (r18, guide §4 prefer
        // aggregates over sorts): (__d, code) pairs are distinct within a
        // group (one row per candidate code), so the struct min picks
        // exactly the window's (min __d, then min code) winner and `sv`
        // (functionally dependent on the group key) is never compared —
        // and the map-side combine replaces a full per-iteration sort.
        val assigned = subRows.join(broadcast(cbDf), Seq("sub"))
          .withColumn("__d", round(l2Sq(col("sv"), col("cw")), 9))
          .groupBy(col(idCol), col("sub"))
          .agg(min(struct(col("__d"), col("code"), col("sv"))).as("w"))
          .select(col("sub"), col("w.code").as("code"), col("w.sv").as("sv"))
        val updated: Map[(Int, Int), Seq[Double]] = assigned
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
          .groupBy(col("sub"), col("code"), col("pos")).agg(avg(col("v")).as("mu"))
          .groupBy(col("sub"), col("code"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("ps"))
          .select(col("sub"), col("code"),
            transform(col("ps"), p => p.getField("mu")).as("cw"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)),
            r.getSeq[Double](2).map(Similarity.round9))).toMap
        books = books.map { case (s, c, old) =>
          (s, c, updated.getOrElse((s, c), old))
        }
      }
      books
    } finally { releaseSubRows(); releaseTraining() }
  }

  /** The codebooks as a small (sub, code, codeword) table — model state
    * made query-able, and the cross-engine fixture for the q81/q82
    * oracles (kmeans training is not SQL-restatable; encode and search
    * are, once the codewords are given). */
  def pqCodebookTable(
      corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding", dim: Int = 64,
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val books =
      pqCodebooks(corpus, m, ksub, iters, idCol, embCol, dim, trainCap, corpusRows)
    corpus.sparkSession.createDataFrame(books).toDF("sub", "code", "codeword")
  }

  /** Map-only encode: per subspace, the code of the nearest codeword
    * (9dp-snapped L2², first-min ⇒ smallest code), all m bytes packed
    * into one BIGINT (sub s occupies bits [8s, 8s+8)). The codebook rides
    * as a double[] reference object inside a native Catalyst expression
    * (graft.plans.PqEncodeExpr) — one loop per row, no join, no shuffle,
    * a straight scan→write at 100 TB. The composed-Column form below is
    * its bit-for-bit parity oracle (PqSpec). */
  def encodeExpr(
      emb: Column, books: Seq[(Int, Int, Seq[Double])], dsub: Int): Column = {
    val m = books.map(_._1).max + 1
    val ksub = books.map(_._2).max + 1
    require(books.length == m * ksub, s"codebook must be complete: $m×$ksub")
    val flat = books.sortBy(t => (t._1, t._2)).flatMap(_._3)
    graft.plans.NativeExprs.pqEncode(emb, flat, m, ksub, dsub)
  }

  /** Composed-Column encode (m×ksub interpreted aggregate() passes per
    * row) — kept only as the parity reference for the native kernel. */
  def encodeExprViaColumns(
      emb: Column, books: Seq[(Int, Int, Seq[Double])], dsub: Int): Column = {
    val bySub = books.groupBy(_._1).toSeq.sortBy(_._1)
    bySub.map { case (s, cws) =>
      val sub = slice(emb.cast("array<double>"), s * dsub + 1, dsub)
      val dists = array(cws.sortBy(_._2).map { case (_, _, cw) =>
        round(aggregate(zip_with(sub, array(cw.map(lit): _*),
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _), 9)
      }: _*)
      // array_position finds the FIRST equal element → ties break to the
      // smallest code, matching the oracle's (dist, code) row_number order
      (array_position(dists, array_min(dists)) - 1).cast("long") *
        lit(1L << (8 * s))
    }.reduce(_ + _)
  }

  /** (id, code) for every corpus row — the 8-byte search column a 100 TB
    * deployment materializes next to (or instead of) the raw vectors. */
  def pqEncode(
      corpus: DataFrame, books: Seq[(Int, Int, Seq[Double])],
      idCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val m = books.map(_._1).max + 1
    corpus.select(col(idCol),
      encodeExpr(col(embCol), books, dim / m).as("code"))
  }

  /** ADC (asymmetric distance computation) top-k: per query, a lookup
    * table of 9dp-snapped subspace distances to every codeword is built
    * DRIVER-side (m×ksub doubles — model-sized, not data-sized) and
    * broadcast; a corpus row's approximate distance is then m array
    * lookups summed — no vector math on the scan side at all. The
    * `refine` closest candidates per query re-rank by exact L2 (4dp) on
    * the real vectors. Corpus scans stream; only query/LUT state
    * broadcasts; the windows are per-query top-k, never a global sort. */
  def pqAdcTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      books: Seq[(Int, Int, Seq[Double])], refine: Int = 50,
      idCol: String = "vec_id", embCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val lut = new LutBuilder(books, dim)
    val qRows = collectQueries(queries, idCol, embCol)
    val qLuts = qRows.map { case (qid, emb) => (qid, lut(emb)) }
      .toDF("q_id", "lut")
    val paired = pqEncode(corpus, books, idCol, embCol, dim)
      .join(broadcast(qLuts), col(idCol) =!= col("q_id"))
    adcRefineTopK(paired, qRows.toDF("q_id", "q_emb"), corpus,
      k, refine, lut.m, lut.ksub, idCol, embCol)
  }

  /** The (id, embedding) query rows, collected ONCE per search — the
    * query set is model-sized by contract (same as the LSH/IVF index
    * probes), so driver-side LUT/probe math on it is free. Null-embedding
    * queries are dropped (nothing to search with — they return no rows
    * rather than NPE-ing the LUT build for the whole batch). */
  private def collectQueries(
      queries: DataFrame, idCol: String, embCol: String): Seq[(Long, Seq[Double])] = {
    // the limit bounds the collect itself; the length check then turns an
    // over-cap query frame into a named error instead of a driver OOM —
    // same guard as Similarity.lshTopKFromIndex
    val cap = graft.operators.Similarity.DefaultMaxQueryRows
    val rows = queries
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .filter(col(embCol).isNotNull)
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"Pq search: query frame exceeds $cap rows — the ANN contract is " +
        "queries << corpus (per-query LUTs are built driver-side); " +
        "split the batch")
    rows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
  }

  /** 9dp-snapped L2² between a[aOff, aOff+n) and b[0, n) — the ONE
    * driver-side distance used for both LUT entries and probe selection,
    * so the two can never desynchronize. Snapping is decimal HALF_UP like
    * the Spark `round` expression (and DuckDB's round) — NOT math.rint:
    * these values are re-derived by the q82 oracle, so driver-side
    * rounding must sit in the same parity class as the engine-side
    * rounds it is compared against. A length mismatch throws instead of
    * silently truncating the distance. */
  private def snappedL2(a: Seq[Double], b: Seq[Double], aOff: Int, n: Int): Double = {
    require(aOff + n <= a.length && b.length == n,
      s"dimension mismatch: |a|=${a.length} offset=$aOff n=$n |b|=${b.length}")
    var d = 0.0
    var i = 0
    while (i < n) {
      val diff = a(aOff + i) - b(i)
      d += diff * diff
      i += 1
    }
    // non-finite guard matches Catalyst Round (Scala BigDecimal throws on
    // NaN/Infinity) — a NaN query element degrades ranking, not the job
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** ADC lookup-table factory: resolves the codebook geometry ONCE per
    * search, then builds each table (entry (s*ksub + c) = snappedL2
    * between the vector's subvector s and codeword (s, c)) without
    * re-deriving m/ksub or rebuilding the codeword map per call — the
    * residual path calls this once per (query, probed list). */
  private final class LutBuilder(books: Seq[(Int, Int, Seq[Double])], dim: Int) {
    val m: Int = books.map(_._1).max + 1
    val ksub: Int = books.map(_._2).max + 1
    private val dsub = dim / m
    private val byKey = books.map { case (s, c, cw) => ((s, c), cw) }.toMap
    def apply(vec: Seq[Double]): Seq[Double] =
      for (s <- 0 until m; c <- 0 until ksub)
        yield snappedL2(vec, byKey((s, c)), s * dsub, dsub)
  }

  /** ADC scoring + refine cut + exact re-rank. `paired` is the
    * already-paired (q_id, id, code, lut) frame — the pairing is where
    * per-query nprobe semantics live, so it stays with the caller (flat
    * search: every query × every code; persisted index: each query ×
    * ONLY its probed lists). `qEmb` is the DRIVER-BUILT model-sized
    * (q_id, q_emb) frame — the refine survivors fetch their query vector
    * from it by broadcast, so neither the wide embedding nor the m×ksub
    * lut ever rides the group-limit sort/shuffle, and no second
    * data-sized pass is planned to recover them. */
  private def adcRefineTopK(
      paired: DataFrame, qEmb: DataFrame, corpus: DataFrame, k: Int,
      refine: Int, m: Int, ksub: Int, idCol: String, embCol: String): DataFrame = {
    // adc = Σ_s lut[s*ksub + byte_s(code)] — m element_at lookups, summed
    // in subspace order (the oracle re-sums the same 9dp-snapped entries).
    // Null codes (null-embedding rows carried on list 0) are dropped
    // HERE, explicitly — Spark's ascending sort is NULLS FIRST, so a null
    // __adc left in the window would surface at rank 1, not last
    val adc = (0 until m).map { s =>
      val byte = shiftright(col("code"), 8 * s).bitwiseAND(lit(255)).cast("int")
      element_at(col("lut"), lit(s * ksub) + byte + lit(1))
    }.reduce(_ + _)
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("__adc"), col(idCol))
    val cands = paired
      .filter(col("code").isNotNull)
      .withColumn("__adc", round(adc, 9))
      .select(col("q_id"), col(idCol), col("__adc"))
      .withColumn("__rn", row_number().over(wAdc))
      .filter(col("__rn") <= refine)
      .join(broadcast(qEmb), Seq("q_id"))
      .select(col("q_id"), col(idCol), col("q_emb"))
    // exact re-rank touches only |queries| × refine real vectors;
    // nulls-last defensively (a corpus frame that disagrees with the
    // index could hand a candidate a null vector → null l2_dist)
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("l2_dist").asc_nulls_last, col(idCol))
    cands.join(corpus.select(col(idCol), col(embCol)), Seq(idCol))
      .select(col("q_id"), col(idCol),
        round(l2Dist(col(embCol), col("q_emb")), 4).as("l2_dist"))
      .withColumn("__rn", row_number().over(wK))
      .filter(col("__rn") <= k)
      .drop("__rn")
      .orderBy(col("q_id"), col("l2_dist").asc_nulls_last, col(idCol))
  }

  /** Zero-shuffle list-assignment expression: first-min over 9dp-snapped
    * L2² against the (tiny, literal) centroid set ⇒ ties to the smallest
    * cid — the same rule the probe side applies driver-side. */
  private def assignCidExpr(
      embCol: String, centroids: Seq[(Int, Seq[Double])]): Column = {
    val cdists = array(centroids.sortBy(_._1).map { case (_, ctr) =>
      round(l2Sq(col(embCol), array(ctr.map(lit): _*)), 9)
    }: _*)
    // null embeddings land on list 0 (same convention as the IVF path's
    // assignToCentroids) rather than the invisible default partition;
    // their code is null and a null ADC distance sorts last, so they are
    // carried but never surface as candidates
    coalesce((array_position(cdists, array_min(cdists)) - 1).cast("int"), lit(0))
  }

  /** Residual of a vector against its assigned centroid, as a pure
    * column over the shared literal centroid matrix. */
  private def residualExpr(
      embCol: String, cidCol: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    zip_with(col(embCol).cast("array<double>"),
      element_at(Similarity.centroidMatrix(centroids), cidCol + 1),
      (x, c) => x - c)

  /** Persist the IVF×PQ index — the 100 TB ANN layout in full: PQ codes
    * written PARTITIONED BY the coarse inverted list (`cid`), plus the
    * centroid and codebook model tables. A query then touches nprobe
    * partitions of 8-byte codes, and raw vectors only for its refine
    * survivors. Coarse assignment is by L2 to the centroid (9dp-snapped,
    * ties → cid) — self-consistent with the PQ metric; the centroids
    * come from the same deterministic kmeans training as the IVF path
    * (which is a partitioner here, not a ranking). Assignment and encode
    * are pure expressions, so the whole write is a zero-shuffle
    * scan→write (plus the training passes).
    *
    * `residual = true` is the FAISS-style refinement: the codebooks are
    * trained on, and the codes encode, r = v − centroid(v) instead of v
    * itself. Residuals are smaller in norm than raw vectors, so the same
    * ksub codewords quantize them with less error — better ADC fidelity
    * at the identical 8-byte code size. The flag is PERSISTED in the
    * index's meta table, so the search side reads what the codes mean
    * instead of trusting the caller to repeat it (a silent mismatch
    * would produce meaningless ADC distances, not an error). */
  /** The deterministic IVF×PQ model plus the encoded corpus frame —
    * (centroids, codebooks, (cid, id, code) codes) — shared by the
    * persisted-index writer (writePqIvfIndex), the q83 model export
    * (ivfPqResidualModelTable), and the inline q84 search
    * (pqIvfResidualTopK), so the three can never desynchronize. The PQ
    * training/encode vector is the raw embedding, or in residual mode its
    * residual to the assigned centroid (training then samples the RESIDUAL
    * frame, so the codebooks model exactly what the codes will encode). */
  private[graft] def ivfPqModel(
      corpus: DataFrame, nlist: Int, iters: Int, m: Int, ksub: Int,
      idCol: String, embCol: String, dim: Int,
      trainCap: Long, corpusRows: Option[Long], residual: Boolean)
    : (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])], DataFrame) = {
    val centroids = Similarity.kmeansCentroids(
      corpus, nlist, iters, idCol, embCol, trainCap, corpusRows)
    val withCid = corpus.select(col(idCol), col(embCol))
      .withColumn("cid", assignCidExpr(embCol, centroids))
    val pqv =
      if (residual) residualExpr(embCol, col("cid"), centroids) else col(embCol)
    val frame = withCid.withColumn("__pqv", pqv)
    val books =
      pqCodebooks(frame, m, ksub, iters, idCol, "__pqv", dim, trainCap, corpusRows)
    val codes = frame.select(col("cid"), col(idCol),
      encodeExpr(col("__pqv"), books, dim / m).as("code"))
    (centroids, books, codes)
  }

  def writePqIvfIndex(
      corpus: DataFrame, path: String, nlist: Int = 8, iters: Int = 3,
      m: Int = 8, ksub: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding", dim: Int = 64,
      trainCap: Long = 65536L, corpusRows: Option[Long] = None,
      residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val (centroids, books, codes) = ivfPqModel(
      corpus, nlist, iters, m, ksub, idCol, embCol, dim,
      trainCap, corpusRows, residual)
    codes.write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    spark.createDataFrame(centroids).toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    spark.createDataFrame(books).toDF("sub", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    // self-describing index: what the codes MEAN rides with them
    spark.createDataFrame(Seq((residual, m, ksub, nlist, dim)))
      .toDF("residual", "m", "ksub", "nlist", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** ANN over the persisted IVF×PQ index: the nprobe nearest lists per
    * query come from the (tiny) centroid table driver-side (same
    * snappedL2 rule as the write-side assignment), the codes scan
    * statically prunes to the union of probed cid partitions, and each
    * query is then paired with ONLY its own probed lists (an equi-join
    * on the (q_id, cid) probe pairs — a query's candidates, and thus its
    * result, never depend on what else is in the batch). ADC scores the
    * paired codes; only refine survivors touch the raw corpus vectors.
    * With nprobe = nlist this reproduces pqAdcTopK exactly (PqSpec pins
    * it). */
  def pqIvfTopKFromIndex(
      spark: SparkSession, path: String, corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 3, refine: Int = 50,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val books = spark.read.parquet(s"$path/books")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    val centroids = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    // the index says what its codes mean — encoding mode AND geometry are
    // read from the meta table, by name (ordinal reads would silently
    // follow a future column reorder), never repeated by the caller
    val meta =
      try spark.read.parquet(s"$path/meta").select("residual", "dim").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"$path has no readable meta table — not a writePqIvfIndex " +
              "layout (or written by a pre-meta version; rewrite the index)", e)
      }
    val residual = meta.getBoolean(0)
    val dim = meta.getInt(1)
    ivfPqSearch(spark.read.parquet(s"$path/lists"), corpus, queries,
      centroids, books, residual, dim, k, nprobe, refine, idCol, embCol)
  }

  /** The IVF×PQ search core over an already-encoded (cid, id, code) frame
    * — shared by the persisted-index path (where the cid isin filter
    * becomes static partition pruning on the parquet layout) and the
    * inline q84 residual search (where it just drops unprobed lists).
    * Probe selection is driver-side (queries × nlist snappedL2 distances —
    * model-sized), and each query is paired with ONLY its own probed lists
    * (an equi-join on the (q_id, cid) probe pairs — a query's candidates,
    * and thus its result, never depend on what else is in the batch). In
    * residual mode each pair carries its OWN lut, built against the
    * query's residual to THAT list's centroid (the codes encode corpus
    * residuals, so ADC must compare residual to residual); in absolute
    * mode every pair of a query shares one lut. */
  private[graft] def ivfPqSearch(
      codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      centroids: Seq[(Int, Seq[Double])], books: Seq[(Int, Int, Seq[Double])],
      residual: Boolean, dim: Int, k: Int, nprobe: Int, refine: Int,
      idCol: String, embCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = collectQueries(queries, idCol, embCol)
    val probes: Seq[(Long, Seq[Double], Seq[(Int, Seq[Double])])] =
      qRows.map { case (qid, emb) =>
        val picked = centroids
          .map { case (cid, ctr) => (snappedL2(emb, ctr, 0, ctr.length), cid, ctr) }
          .sortBy(t => (t._1, t._2)).take(nprobe)
        (qid, emb, picked.map(t => (t._2, t._3)))
      }
    val lut = new LutBuilder(books, dim)
    lazy val sharedLut: Map[Long, Seq[Double]] =
      qRows.map { case (qid, emb) => qid -> lut(emb) }.toMap
    val pairRows: Seq[(Long, Int, Seq[Double])] = for {
      (qid, emb, picked) <- probes
      (cid, ctr) <- picked
    } yield {
      val pairLut =
        if (residual) lut(emb.indices.map(i => emb(i) - ctr(i)))
        else sharedLut(qid)
      (qid, cid, pairLut)
    }
    val probeDf = pairRows.toDF("q_id", "cid", "lut")
    val pruned = codes
      .filter(col("cid").isin(pairRows.map(_._2).distinct: _*))
      .select(col("cid"), col(idCol), col("code"))
    val paired = pruned
      .join(broadcast(probeDf), Seq("cid"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol), col("code"), col("lut"))
    adcRefineTopK(paired, qRows.toDF("q_id", "q_emb"), corpus,
      k, refine, lut.m, lut.ksub, idCol, embCol)
  }

  /** Residual IVF×PQ search WITHOUT a persisted index: trains the full
    * model inline (deterministic — seeded sampling, 9dp-snapped Lloyd —
    * so a re-run, and q83's export, reproduce it bit-for-bit), encodes
    * residuals, and searches with per-(query, list) residual LUTs. The
    * q84 operator; the persisted twin is writePqIvfIndex(residual=true) +
    * pqIvfTopKFromIndex, which PqSpec pins against this output. */
  def pqIvfResidualTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 8, nprobe: Int = 3, m: Int = 8, ksub: Int = 16,
      iters: Int = 3, refine: Int = 50,
      idCol: String = "vec_id", embCol: String = "embedding", dim: Int = 64,
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val (centroids, books, codes) = ivfPqModel(
      corpus, nlist, iters, m, ksub, idCol, embCol, dim,
      trainCap, corpusRows, residual = true)
    ivfPqSearch(codes, corpus, queries, centroids, books,
      residual = true, dim, k, nprobe, refine, idCol, embCol)
  }

  /** The residual IVF×PQ model as one driver-sortable scalar table: kind
    * 'c' rows are centroid elements (i=cid, j=0, pos, value), kind 'b'
    * rows codeword elements (i=sub, j=code, pos, value). Entirely
    * driver-resident model state (LocalTableScan — the training passes
    * are the only cluster work). The q83 export, and the fixture the q84
    * oracle reads: kmeans training is not SQL-restatable, so DuckDB takes
    * the model as given and re-derives assignment, residuals, encode,
    * per-(query, list) LUTs, ADC, and the refine/re-rank algebra. */
  def ivfPqResidualModelTable(
      corpus: DataFrame, nlist: Int = 8, m: Int = 8, ksub: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding", dim: Int = 64,
      trainCap: Long = 65536L, corpusRows: Option[Long] = None): DataFrame = {
    val (centroids, books, _) = ivfPqModel(
      corpus, nlist, iters, m, ksub, idCol, embCol, dim,
      trainCap, corpusRows, residual = true)
    modelTable(corpus.sparkSession, centroids, books)
  }

  /** The scalar (kind, i, j, pos, value) rendering of an IVF×PQ model —
    * shared by ivfPqResidualModelTable and the q83 registered query's
    * memoized path, so the export shape has one definition. */
  private[graft] def modelTable(
      spark: SparkSession, centroids: Seq[(Int, Seq[Double])],
      books: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val cents = centroids.flatMap { case (cid, ctr) =>
      ctr.zipWithIndex.map { case (v, pos) => ("c", cid, 0, pos, v) }
    }
    val cws = books.flatMap { case (sub, code, cw) =>
      cw.zipWithIndex.map { case (v, pos) => ("b", sub, code, pos, v) }
    }
    spark.createDataFrame(cents ++ cws)
      .toDF("kind", "i", "j", "pos", "value")
  }
}
