package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.VectorFunctions._
import graft.operators.{Graph, Pq, Projection, Similarity}

/** Similarity-search surface over the `embeddings` table (64-dim float
  * vectors): vector math via higher-order functions, brute-force cosine
  * top-k with a full DuckDB oracle, blocked near-dup pairs, and the
  * LSH/IVF ANN scale paths — fully oracled via the q78/q79 index-table
  * fixtures (the non-restatable float geometry is exported once; DuckDB
  * re-derives the bucket/probe/re-rank algebra), with recall vs brute
  * force additionally asserted in ScalaTest.
  */
object VectorQueries extends QueryPack {

  /** Per-dataset memo of the deterministic PQ/IVF×PQ model state — the
    * query-layer rendering of "a deployment trains the model ONCE and
    * every query reuses it". Training is bit-for-bit deterministic
    * (seeded sampling, 9dp HALF_UP Lloyd snaps), so memoization cannot
    * change any result, only remove repeated fixed cost from the gate
    * and bench runs. The determinism evidence is deliberately preserved:
    * q81 ALWAYS re-trains independently and must reproduce q80's export
    * bit-for-bit (its oracle reads the q80 fixture), and PqSpec pins
    * re-train equality besides — only q80 (export), q82, q83 (export)
    * and q84 share the memo. Keyed by the data directory (the corpus
    * identity in this engine); a session touching several SFs keeps one
    * model per SF. */
  private val absBooks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Int, Seq[Double])]]
  private def sharedBooks(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Int, Int, Seq[Double])] =
    absBooks.getOrElseUpdate(dir,
      Pq.pqCodebooks(Tables(s, dir).embeddings, m = 8, ksub = 16, iters = 3))
  /** Shared deterministic coarse-quantizer centroids (nlist=8, iters=3 —
    * the q79 geometry) for the queries that CONSUME the clustering
    * (q96/q97 SemDeDup, q120/q121 kNN graph): one training per dataset,
    * the model-reuse semantics of sharedBooks. The determinism evidence
    * is untouched — q79 (export) and q49 (search) still train
    * independently and their oracles pin bit-for-bit agreement. */
  private val coarseCentroids =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]
  private def sharedCentroids(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    coarseCentroids.getOrElseUpdate(dir,
      Similarity.kmeansCentroids(Tables(s, dir).embeddings, k = 8, iters = 3))

  /** Per-dataset memo ([[graft.Checkpoints.memo]]) of the PERSISTED
    * kNN-graph edge table — the writeIvfIndex lifecycle applied to the
    * graph: a deployment materializes the k-NN edge set ONCE on
    * distributed storage and every
    * downstream consumer (dedup, clustering, analysis) reads the parquet
    * instead of re-probing the corpus. Parquet round-trips the (long,
    * long, double, int) edge rows exactly, so consuming the persisted
    * graph is bit-identical to consuming the live frame; determinism
    * evidence is untouched — q128 still re-derives the graph live through
    * the independent joined-probe path against the SAME oracle. First
    * caller builds (k=3, nlist=8, nprobe=2 — the q120 geometry, shared
    * centroids); q120 exports via this memo, q121 consumes it. */
  private def sharedKnnGraph(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "knn-graph", dir) { p =>
      Similarity.knnGraph(
          Tables(s, dir).embeddings, k = 3, nlist = 8, nprobe = 2,
          model = Some(sharedCentroids(s, dir)))
        .write.mode("overwrite").parquet(p)
    })

  private val resModel = scala.collection.concurrent.TrieMap.empty[
    String,
    (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])],
      org.apache.spark.sql.DataFrame)]
  private def sharedResidualModel(s: org.apache.spark.sql.SparkSession, dir: String)
    : (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])],
        org.apache.spark.sql.DataFrame) =
    resModel.getOrElseUpdate(dir, Pq.ivfPqModel(
      Tables(s, dir).embeddings, nlist = 8, iters = 3, m = 8, ksub = 16,
      idCol = "vec_id", embCol = "embedding", dim = 64,
      trainCap = 65536L, corpusRows = None, residual = true))

  /** Norms via transform/aggregate — elementwise math parity with a
    * double-casting DuckDB lambda oracle. */
  private val q45 = Q(
    "q45_embedding_norms",
    (s, dir) => Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"),
        round(norm(col("embedding")), 4).as("l2_norm"),
        round(aggregate(col("embedding").cast("array<double>"), lit(0.0), _ + _), 4).as("sum_elems"))
      .orderBy(col("vec_id")),
    Some("""SELECT vec_id, label,
      round(sqrt(list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
      round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS sum_elems
      FROM embeddings ORDER BY vec_id"""))

  /** Brute-force cosine top-5 for three fixed query vectors — broadcast
    * queries over a streaming corpus + per-query top-k window; oracle
    * recomputes cosine in SQL via zipped unnest. */
  private val q46 = Q(
    "q46_knn_bruteforce",
    (s, dir) => {
      val t = Tables(s, dir)
      Similarity.bruteForceTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L)), 5)
    },
    Some("""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 100, 250)),
      pairs AS (SELECT q.q_id, e.vec_id,
        unnest(e.embedding) AS x, unnest(q.q_emb) AS y
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
      d AS (SELECT q_id, vec_id,
        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM pairs GROUP BY q_id, vec_id),
      s AS (SELECT q_id, vec_id,
        round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim,
        row_number() OVER (PARTITION BY q_id
          ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id) AS rn
        FROM d)
      SELECT q_id, vec_id, cos_sim FROM s WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Label-blocked near-dup pairs by cosine — candidate pairs only within a
    * blocking key, the realistic 100 TB pattern (never all-pairs). */
  private val q47 = Q(
    "q47_blocked_cosine_pairs",
    (s, dir) => Similarity.blockedCosinePairs(
        Tables(s, dir).embeddings, col("label"), 0.4)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH e AS (SELECT label, vec_id, embedding FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      d AS (SELECT id_a, id_b,
        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM p GROUP BY id_a, id_b)
      SELECT id_a, id_b, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim
      FROM d WHERE round(dot / (sqrt(nx) * sqrt(ny)), 4) >= 0.4
      ORDER BY id_a, id_b"""))

  /** The LSH index's bucket directory as a table (one row per corpus row
    * per hyperplane table) — the reusable artifact a 100 TB ANN pipeline
    * materializes once; its parquet output is also the cross-engine
    * fixture q48's oracle reads. FULL ORACLE (was rows-only through r8):
    * the hyperplanes are deterministic seed-derived model CONSTANTS, so
    * the generated SQL embeds them as list literals (the q105 sign-matrix
    * device) and re-derives every signature bit from scratch — dot =
    * position-ordered fold of emb[i]·plane[i], bit = (dot >= 0), sig =
    * Σ bit·2^b. The restatement is bit-exact, not approximate: plane
    * literals go through a string→DOUBLE cast (a bare decimal literal
    * would parse as DECIMAL and re-round), and DuckDB's list_sum over an
    * ORDER BY pos list reproduces the kernel's sequential left fold
    * bit-for-bit (measured) — so both engines compute the identical
    * IEEE dot and the sign can never disagree. SimilaritySpec's margin
    * pin (min |dot| ≈ 1e-3) stays as belt-and-suspenders evidence that
    * even a summation-tail divergence could not flip a bit. */
  /** q78's signature-re-derivation oracle, parameterized by table count
    * so the derived OR-amplification point (q161, 17 tables) grades
    * through the identical device. */
  private def lshBucketOracleSql(nbits: Int, tables: Int): String = {
    val rows = Similarity.tablePlaneSets(nbits = nbits, tables = tables, dim = 64)
      .zipWithIndex.flatMap { case (ps, t) =>
        ps.zipWithIndex.map { case (p, b) =>
          s"($t, $b, [${p.map(w => s"'$w'::DOUBLE").mkString(", ")}])" }
      }.mkString(", ")
    s"""WITH pl AS (SELECT * FROM (VALUES $rows) t(tbl, b, w)),
      pw AS (SELECT tbl, b, CAST(unnest(w) AS DOUBLE) AS wv,
          generate_subscripts(w, 1) AS pos FROM pl),
      x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE embedding IS NOT NULL),
      d AS (SELECT x.vec_id, pw.tbl, pw.b,
          list_sum(list(x.v * pw.wv ORDER BY x.pos)) AS dot
        FROM x JOIN pw USING (pos) GROUP BY x.vec_id, pw.tbl, pw.b),
      sg AS (SELECT vec_id, tbl,
          CAST(sum(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS INT) AS sig
        FROM d GROUP BY vec_id, tbl)
      SELECT CAST(tbl AS INT) AS tbl, sig, vec_id FROM sg
      UNION ALL
      SELECT CAST(r.range AS INT) AS tbl, CAST(NULL AS INT) AS sig, e.vec_id
      FROM embeddings e CROSS JOIN range($tables) r WHERE e.embedding IS NULL
      ORDER BY tbl, sig, vec_id"""
  }

  private val q78 = Q(
    "q78_lsh_bucket_table",
    // no orderBy: the PlanSpec pin keeps this export a straight
    // scan→write (the driver's compare sorts both sides anyway)
    (s, dir) => Similarity.lshBucketTable(
        Tables(s, dir).embeddings, nbits = 8, tables = 4),
    Some(lshBucketOracleSql(nbits = 8, tables = 4)))

  /** The IVF index exported as LONG-FORMAT SCALAR rows — kind 'c' rows
    * carry one centroid element (cid, pos, value), kind 'v' rows one list
    * membership (cid, vec_id); deterministic via seeded sampling +
    * 9dp-snapped Lloyd updates, so q49's internal re-training reproduces
    * it bit-for-bit. Also the fixture for q49's oracle (kmeans state is
    * not SQL-restatable; the SQL re-assembles centroids with
    * list(value ORDER BY pos)). Rows-only for itself — scalar columns
    * only, because the driver's checker sorts frames in pandas, which
    * cannot sort the array cells the previous (cid, centroid, vec_id)
    * shape exported (the CORRECTNESS_r06 q79 RED row). */
  /** FULL ORACLE for the IVF index export (was rows-only through r8) —
    * the whole k-means lifecycle re-derived in SQL:
    *  - seeds: the corpus ordered by (signed XXH64(vec_id, 42), vec_id)
    *    — the closed-formula hash chain from [[TextQueries.XxhashSqlGen]]
    *    — first nlist rows become centroid 0..nlist-1 (vec_ids are unique
    *    in the fixture, so seedRows' third tie key never binds; the
    *    SimilaritySpec device pin asserts that);
    *  - three unrolled Lloyd iterations: cosine argmax assignment
    *    (row_number ties → smallest cid, matching array_position's
    *    first-max), per-(cid,pos) mean snapped to 9dp, empty clusters
    *    carried through by the LEFT JOIN COALESCE;
    *  - 'c' rows are verdict-checked: the exported value rides 1:1 and
    *    `val_ok` pins it within 2e-9 of the SQL re-derivation (the float
    *    mean is summation-order sensitive, so exact-hash would bet on
    *    cross-engine ulp agreement at a rounding boundary — the q93
    *    tolerance-verdict device instead);
    *  - 'v' rows are EXACT: the final assignment is re-computed from the
    *    EXPORTED centroid values (riding 1:1) with ordered-list folds
    *    that reproduce the cosine kernel's sequential IEEE fold
    *    bit-for-bit (measured — see the q78 scaladoc), and the
    *    SimilaritySpec margin pin additionally shows every vec's top-2
    *    centroid gap clears any conceivable fold noise by orders of
    *    magnitude. */
  /** Generated-SQL fragments shared by the k-means-family full oracles
    * (q79 IVF centroids, q80 PQ codebooks, q83 residual IVF×PQ model):
    * every fragment restates the Scala trainer 1:1 —
    *  - [[prolog]]: `x` (1-based double-cast embedding elements), `xn`
    *    (squared norms), and `hk` (each vec's rank under (signed
    *    XXH64(vec_id, 42), vec_id) — seedRows' order; the third tie key
    *    never binds because fixture vec_ids are unique, SimilaritySpec
    *    pin);
    *  - [[coarseLloyd]]: c0 = the first 8 hash-ranked embeddings, then
    *    three cosine-argmax Lloyd iterations (row_number ties → smallest
    *    cid = array_position first-max; per-(cid,pos) mean snapped to
    *    9dp; empty clusters carried by LEFT JOIN COALESCE) ending in
    *    `c3`;
    *  - [[pqLloyd]]: the same shape per subspace over a `(vec_id, sub,
    *    spos, v)` source CTE — seeds are the first 16 hash-ranked
    *    vectors' slices, assignment is argmin of the 9dp-snapped L2²
    *    (ties → smallest code, matching the window's (__d, code)
    *    order) — ending in `<pfx>b3`.
    * All folds are ORDER BY ordered-list sums, which reproduce the
    * kernels' sequential IEEE folds bit-for-bit (measured); only the
    * Lloyd means are summation-order sensitive, which is why the model
    * exports are verdict-checked at 2e-9 instead of exact-hashed. */
  private object KmeansSql {
    import TextQueries.XxhashSqlGen._
    val prolog: String = {
      val qbase = s"qbase AS (SELECT vec_id, CASE WHEN vec_id < 0 THEN " +
        s"vec_id + $big ELSE CAST(vec_id AS HUGEINT) END AS v " +
        "FROM embeddings WHERE embedding IS NOT NULL)"
      val (hashCtes, hashLast) = stages("s", "v", "42::HUGEINT", "qbase")
      (Seq(qbase) ++ hashCtes).mkString("", ",\n      ", ",\n      ") +
      s"""x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE embedding IS NOT NULL),
      xn AS (SELECT vec_id, list_sum(list(v * v ORDER BY pos)) AS nx
        FROM x GROUP BY vec_id),
      hk AS (SELECT vec_id, row_number() OVER (ORDER BY
          CASE WHEN hs >= 9223372036854775808::HUGEINT
            THEN hs - $big ELSE hs END, vec_id) AS hrank
        FROM $hashLast)"""
    }
    val coarseLloyd: String = {
      def lloyd(i: Int): String = {
        val prev = s"c${i - 1}"
        s"""cn$i AS (SELECT cid, list_sum(list(value * value ORDER BY pos)) AS ny
        FROM $prev GROUP BY cid),
      dt$i AS (SELECT x.vec_id, c.cid,
          list_sum(list(x.v * c.value ORDER BY x.pos)) AS dot
        FROM x JOIN $prev c ON c.pos = x.pos GROUP BY x.vec_id, c.cid),
      sm$i AS (SELECT d.vec_id, d.cid, d.dot / (sqrt(n.nx) * sqrt(cn.ny)) AS sim
        FROM dt$i d JOIN xn n ON n.vec_id = d.vec_id
        JOIN cn$i cn ON cn.cid = d.cid),
      ag$i AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM sm$i) WHERE rn = 1),
      up$i AS (SELECT a.cid, x.pos,
          round(list_sum(list(x.v ORDER BY x.vec_id)) / count(*), 9) AS value
        FROM ag$i a JOIN x ON x.vec_id = a.vec_id GROUP BY a.cid, x.pos),
      c$i AS (SELECT p.cid, p.pos, COALESCE(u.value, p.value) AS value
        FROM $prev p LEFT JOIN up$i u ON u.cid = p.cid AND u.pos = p.pos)"""
      }
      s"""c0 AS (SELECT CAST(h.hrank AS INT) - 1 AS cid, x.pos, x.v AS value
        FROM hk h JOIN x ON x.vec_id = h.vec_id WHERE h.hrank <= 8),
      ${lloyd(1)},
      ${lloyd(2)},
      ${lloyd(3)}"""
    }
    def pqLloyd(src: String, pfx: String): String = {
      def it(i: Int): String = {
        val prev = s"${pfx}b${i - 1}"
        s"""${pfx}dp$i AS (SELECT s.vec_id, s.sub, b.code,
          round(list_sum(list((s.v - b.value) * (s.v - b.value)
            ORDER BY s.spos)), 9) AS d
        FROM $src s JOIN $prev b ON b.sub = s.sub AND b.spos = s.spos
        GROUP BY s.vec_id, s.sub, b.code),
      ${pfx}ap$i AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
        FROM ${pfx}dp$i) WHERE rn = 1),
      ${pfx}up$i AS (SELECT a.sub, a.code, s.spos,
          round(list_sum(list(s.v ORDER BY s.vec_id)) / count(*), 9) AS value
        FROM ${pfx}ap$i a JOIN $src s
          ON s.vec_id = a.vec_id AND s.sub = a.sub
        GROUP BY a.sub, a.code, s.spos),
      ${pfx}b$i AS (SELECT p.sub, p.code, p.spos,
          COALESCE(u.value, p.value) AS value
        FROM $prev p LEFT JOIN ${pfx}up$i u
          ON u.sub = p.sub AND u.code = p.code AND u.spos = p.spos)"""
      }
      s"""${pfx}b0 AS (SELECT s.sub, CAST(h.hrank AS INT) - 1 AS code,
          s.spos, s.v AS value
        FROM hk h JOIN $src s ON s.vec_id = h.vec_id WHERE h.hrank <= 16),
      ${it(1)},
      ${it(2)},
      ${it(3)}"""
    }
  }

  private val q79 = Q(
    "q79_ivf_index_table",
    (s, dir) => Similarity.ivfIndexScalarTable(
        Tables(s, dir).embeddings, nlist = 8, iters = 3)
      .withColumn("val_ok", lit(true)),
    Some {
      import KmeansSql._
      s"""WITH $prolog,
      $coarseLloyd,
      ec AS (SELECT cid, pos, value FROM
        read_parquet('__VERIFY_OUT__/q79_ivf_index_table/*.parquet')
        WHERE kind = 'c'),
      fc AS (SELECT cid, pos + 1 AS pos, value FROM ec),
      fn AS (SELECT cid, list_sum(list(value * value ORDER BY pos)) AS ny
        FROM fc GROUP BY cid),
      fd AS (SELECT x.vec_id, c.cid,
          list_sum(list(x.v * c.value ORDER BY x.pos)) AS dot
        FROM x JOIN fc c ON c.pos = x.pos GROUP BY x.vec_id, c.cid),
      fs AS (SELECT d.vec_id, d.cid, d.dot / (sqrt(n.nx) * sqrt(f.ny)) AS sim
        FROM fd d JOIN xn n ON n.vec_id = d.vec_id JOIN fn f ON f.cid = d.cid),
      fa AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM fs) WHERE rn = 1)
      SELECT 'c' AS kind, ec.cid, CAST(ec.pos AS INT) AS pos, ec.value,
        CAST(NULL AS BIGINT) AS vec_id,
        (abs(ec.value - c3.value) <= 2e-9) AS val_ok
      FROM ec JOIN c3 ON c3.cid = ec.cid AND c3.pos = ec.pos + 1
      UNION ALL
      SELECT 'v' AS kind, fa.cid, CAST(NULL AS INT) AS pos,
        CAST(NULL AS DOUBLE) AS value, fa.vec_id, TRUE AS val_ok FROM fa
      UNION ALL
      SELECT 'v' AS kind, CAST(0 AS INT) AS cid, CAST(NULL AS INT) AS pos,
        CAST(NULL AS DOUBLE) AS value, e.vec_id, TRUE AS val_ok
      FROM embeddings e WHERE e.embedding IS NULL
      ORDER BY kind, cid, pos, vec_id"""
    })

  /** LSH-bucketed ANN (random hyperplanes, multi-probe) — the scale path.
    * FULL ORACLE via the q78 bucket fixture (`__VERIFY_OUT__` is the
    * absolute Verify dump dir, substituted by graft.Verify): DuckDB takes
    * the signatures as given, re-derives the probe set (exact signature
    * plus every 1-bit flip, per table), joins probes to buckets for
    * candidates, and re-ranks by exact cosine at 4dp with the same
    * (sim desc, vec_id) tie order — cross-checking the bucket-join /
    * probe-expansion / top-k algebra. Recall vs q46's brute-force ground
    * truth stays asserted in ScalaTest. */
  /** q48's probe/candidate/top-k re-derivation, parameterized by the
    * bucket-table fixture it reads (the table count is implicit in the
    * fixture's tbl rows; the probe set is always sig + every 1-bit
    * flip of the nbits signature). */
  private def lshKnnOracleSql(fixture: String, nbits: Int): String =
    s"""WITH bt AS (SELECT tbl, sig, vec_id
        FROM read_parquet('__VERIFY_OUT__/$fixture/*.parquet')),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 100, 250)),
      qsig AS (SELECT q.q_id, b.tbl, b.sig FROM q JOIN bt b ON b.vec_id = q.q_id),
      probes AS (
        SELECT q_id, tbl, sig FROM qsig
        UNION
        SELECT q_id, tbl, xor(sig, 1 << f.b) AS sig
        FROM qsig CROSS JOIN (SELECT unnest(range($nbits)) AS b) f),
      cand AS (SELECT DISTINCT p.q_id, b.vec_id
        FROM probes p JOIN bt b ON b.tbl = p.tbl AND b.sig = p.sig
        WHERE b.vec_id <> p.q_id),
      pr AS (SELECT c.q_id, c.vec_id,
          unnest(e.embedding) AS x, unnest(q.q_emb) AS y
        FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN q ON q.q_id = c.q_id),
      d AS (SELECT q_id, vec_id,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM pr GROUP BY q_id, vec_id),
      s AS (SELECT q_id, vec_id,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim,
          row_number() OVER (PARTITION BY q_id
            ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id) AS rn
        FROM d)
      SELECT q_id, vec_id, cos_sim FROM s WHERE rn <= 5 ORDER BY q_id, rn"""

  private val q48 = Q(
    "q48_knn_lsh",
    (s, dir) => {
      val t = Tables(s, dir)
      Similarity.lshTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L)),
        k = 5, nbits = 8)
    },
    Some(lshKnnOracleSql("q78_lsh_bucket_table", nbits = 8)))

  /** The q78 bucket directory at the DERIVED OR-amplification point
    * ([[graft.operators.Similarity.defaultLshTables]](8) = 17 tables for
    * 0.95 NN recall) — the operating point the r11 sf0.1 MRR pin showed
    * a retrieval consumer actually needs (4 tables lose the true nearest
    * neighbor outright). Same generated-SQL signature re-derivation as
    * q78, just 17 plane sets; the export is 17/4× q78's rows, still one
    * map-only scan at any scale. */
  private val q161 = Q(
    "q161_lsh_table_derived",
    (s, dir) => Similarity.lshBucketTable(
        Tables(s, dir).embeddings, nbits = 8,
        tables = Similarity.defaultLshTables(nbits = 8)),
    Some(lshBucketOracleSql(
      nbits = 8, tables = Similarity.defaultLshTables(nbits = 8))))

  /** LSH ANN at the derived table count — q48's algebra over the q161
    * fixture, so the defaultLshTables derivation is graded end-to-end:
    * signatures (q161), then probe expansion / bucket join / exact
    * re-rank here, all cross-engine-checked. The ScalaTest side pins
    * that THIS operating point recovers MRR at sf0.1 where q48's
    * 4-table point measured 0.0. */
  private val q162 = Q(
    "q162_knn_lsh_derived",
    (s, dir) => {
      val t = Tables(s, dir)
      Similarity.lshTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L)),
        k = 5, nbits = 8, tables = Similarity.defaultLshTables(nbits = 8))
    },
    Some(lshKnnOracleSql("q161_lsh_table_derived", nbits = 8)))

  /** IVF ANN (mini-k-means coarse quantizer + nprobe inverted lists).
    * FULL ORACLE via the q79 index fixture (see q48): DuckDB takes the
    * centroids and list assignments as given, re-ranks centroids per
    * query by cosine snapped to 9dp (the exact probe rule ivfTopK uses —
    * ties → cid) to pick the nprobe lists, joins for candidates, and
    * re-ranks exactly at 4dp — cross-checking the probe-selection /
    * inverted-list-join / top-k algebra. Recall vs q46 stays in
    * ScalaTest. */
  private val q49 = Q(
    "q49_knn_ivf",
    (s, dir) => {
      val t = Tables(s, dir)
      Similarity.ivfTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L)),
        k = 5, nlist = 8, nprobe = 3)
    },
    Some("""WITH raw AS (SELECT kind, cid, pos, value, vec_id
        FROM read_parquet('__VERIFY_OUT__/q79_ivf_index_table/*.parquet')),
      c AS (SELECT cid, list(value ORDER BY pos) AS centroid
        FROM raw WHERE kind = 'c' GROUP BY cid),
      ix AS (SELECT cid, vec_id FROM raw WHERE kind = 'v'),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 100, 250)),
      qc AS (SELECT q.q_id, c.cid,
          unnest(c.centroid) AS cx, unnest(q.q_emb) AS qy
        FROM q CROSS JOIN c),
      qd AS (SELECT q_id, cid,
          sum(CAST(cx AS DOUBLE) * CAST(qy AS DOUBLE)) AS dot,
          sum(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)) AS nc,
          sum(CAST(qy AS DOUBLE) * CAST(qy AS DOUBLE)) AS nq
        FROM qc GROUP BY q_id, cid),
      probes AS (SELECT q_id, cid FROM (
          SELECT q_id, cid, row_number() OVER (PARTITION BY q_id
            ORDER BY round(dot / (sqrt(nc) * sqrt(nq)), 9) DESC, cid) AS rn
          FROM qd) WHERE rn <= 3),
      cand AS (SELECT DISTINCT p.q_id, ix.vec_id
        FROM probes p JOIN ix ON ix.cid = p.cid
        WHERE ix.vec_id <> p.q_id),
      pr AS (SELECT c2.q_id, c2.vec_id,
          unnest(e.embedding) AS x, unnest(q.q_emb) AS y
        FROM cand c2 JOIN embeddings e ON e.vec_id = c2.vec_id
          JOIN q ON q.q_id = c2.q_id),
      d AS (SELECT q_id, vec_id,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM pr GROUP BY q_id, vec_id),
      s AS (SELECT q_id, vec_id,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim,
          row_number() OVER (PARTITION BY q_id
            ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id) AS rn
        FROM d)
      SELECT q_id, vec_id, cos_sim FROM s WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** Embedding-cosine near-dup dedup survivorship (greedy keep-min-id over
    * q47's blocked pairs) — completes the dedup family on vectors. */
  private val q57 = Q(
    "q57_embedding_dedup",
    (s, dir) => Similarity.embeddingDedupSurvivors(
        Tables(s, dir).embeddings, col("label"), 0.4)
      .orderBy(col("vec_id")),
    Some("""WITH e AS (SELECT label, vec_id, embedding FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
      d AS (SELECT id_a, id_b,
        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM p GROUP BY id_a, id_b),
      dropped AS (SELECT DISTINCT id_b FROM d
        WHERE round(dot / (sqrt(nx) * sqrt(ny)), 4) >= 0.4)
      SELECT vec_id FROM embeddings
      WHERE vec_id NOT IN (SELECT id_b FROM dropped)
      ORDER BY vec_id"""))

  /** Int8 scalar quantization (FAISS SQ8-style) round-trip error: per-dim
    * corpus [min, max] ranges → 255-step uniform grid → per-vector
    * reconstruction MSE. The OTHER standard embedding compression next to
    * PQ (4× smaller than float32 at much higher fidelity than PQ's 32×).
    * min/max are fold-order-INSENSITIVE aggregates, so the corpus-wide
    * ranges are deterministic and cross-engine exact with no snapping
    * device needed; they ride as 64-element literals (model-sized driver
    * state, same pattern as centroids), making the error computation
    * map-only — no join in the plan (PlanSpec pins it). Degenerate dims
    * (max == min) quantize to the constant exactly → error 0, guarded on
    * both sides. The per-vector sum folds in dim order in BOTH engines
    * (Spark aggregate() left fold; DuckDB list_sum over list(... ORDER BY
    * pos)) — fold-order parity by construction, not by luck. */
  private val q89 = Q(
    "q89_sq8_error",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val st = emb
        .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(min(col("v")).as("minv"), max(col("v")).as("maxv"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val minLit = array(st.map(t => lit(t._2)): _*)
      val scaleLit = array(st.map(t => lit((t._3 - t._2) / 255.0)): _*)
      val errs = zip_with(
        col("embedding").cast("array<double>"),
        zip_with(minLit, scaleLit, (mn, sc) => struct(mn.as("mn"), sc.as("sc"))),
        (v, ms) => {
          val mn = ms.getField("mn")
          val sc = ms.getField("sc")
          val dq = mn + round((v - mn) / sc) * sc
          when(sc > 0.0, (v - dq) * (v - dq)).otherwise(0.0)
        })
      emb.filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          round(aggregate(errs, lit(0.0), _ + _) / 64.0, 9).as("sq8_mse"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS pos FROM embeddings),
      st AS (SELECT pos, min(v) AS minv, max(v) AS maxv FROM x GROUP BY pos),
      e AS (SELECT x.vec_id, x.pos, x.v, st.minv,
          (st.maxv - st.minv) / 255.0 AS scale
        FROM x JOIN st USING (pos)),
      er AS (SELECT vec_id, pos,
          CASE WHEN scale > 0
            THEN (v - (minv + round((v - minv) / scale, 0) * scale))
               * (v - (minv + round((v - minv) / scale, 0) * scale))
            ELSE 0.0 END AS err
        FROM e)
      SELECT vec_id,
        round(list_sum(list(err ORDER BY pos)) / 64.0, 9) AS sq8_mse
      FROM er GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ codebooks (m=8 subspaces × ksub=16 codewords over 64 dims) as a
    * table — the model a 100 TB deployment trains once; the fixture for
    * the q81/q82 oracles (kmeans training is not SQL-restatable; encode
    * and ADC search are, once codewords are given). Rows-only itself.
    * Exported one codeword ELEMENT per row (sub, code, pos, value) — the
    * driver's checker sorts frames in pandas, which cannot sort the array
    * cells the previous codeword-array shape exported (the
    * CORRECTNESS_r06 q80 RED row); the oracles re-assemble with
    * list(value ORDER BY pos) GROUP BY sub, code. */
  /** FULL ORACLE for the PQ codebook export (was rows-only through r8):
    * the per-subspace k-means re-derived with [[KmeansSql.pqLloyd]] —
    * seeds are the first 16 hash-ranked embeddings' 8-dim slices,
    * assignment is argmin of the 9dp-snapped L2² (a bit-identical
    * ordered fold; ties → smallest code), means snap to 9dp. Codeword
    * values are verdict-checked at 2e-9 (the mean is summation-order
    * sensitive — the q79 'c'-row device). */
  private val q80 = Q(
    "q80_pq_codebooks",
    (s, dir) => s.createDataFrame(sharedBooks(s, dir))
      .toDF("sub", "code", "codeword")
      .select(col("sub"), col("code"),
        posexplode(col("codeword")).as(Seq("pos", "value")))
      .withColumn("val_ok", lit(true)),
    Some {
      import KmeansSql._
      s"""WITH $prolog,
      sx AS (SELECT vec_id, CAST((pos - 1) // 8 AS INT) AS sub,
          CAST((pos - 1) % 8 AS INT) + 1 AS spos, v FROM x),
      ${pqLloyd("sx", "k")},
      eb AS (SELECT sub, code, pos, value FROM
        read_parquet('__VERIFY_OUT__/q80_pq_codebooks/*.parquet'))
      SELECT eb.sub, eb.code, eb.pos, eb.value,
        (abs(eb.value - b.value) <= 2e-9) AS val_ok
      FROM eb JOIN kb3 b
        ON b.sub = eb.sub AND b.code = eb.code AND b.spos = eb.pos + 1
      ORDER BY eb.sub, eb.code, eb.pos"""
    })

  /** PQ encode: every embedding compressed to ONE BIGINT (8 subspace
    * bytes) — the 8-byte search column that replaces 256-byte vectors in
    * the 100 TB candidate scan. FULL ORACLE via the q80 codebook fixture:
    * DuckDB re-derives each subspace's nearest codeword (9dp-snapped L2²,
    * ties → smallest code — exactly encodeExpr's first-min rule) and
    * repacks the bytes. Training re-runs deterministically (snapped Lloyd
    * updates), so the codewords match q80's export bit-for-bit. */
  private val q81 = Q(
    "q81_pq_codes",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Pq.pqEncode(emb, Pq.pqCodebooks(emb, m = 8, ksub = 16, iters = 3))
        .orderBy(col("vec_id"))
    },
    Some("""WITH cb AS (SELECT sub, code, list(value ORDER BY pos) AS codeword
        FROM read_parquet('__VERIFY_OUT__/q80_pq_codebooks/*.parquet')
        GROUP BY sub, code),
      sv AS (SELECT e.vec_id, cb.sub, cb.code,
          round(list_sum(list_transform(
            list_zip(e.embedding[cb.sub*8+1 : cb.sub*8+8], cb.codeword),
            p -> (CAST(p[1] AS DOUBLE) - p[2])
               * (CAST(p[1] AS DOUBLE) - p[2]))), 9) AS d
        FROM embeddings e CROSS JOIN cb
        WHERE e.embedding IS NOT NULL),
      pick AS (SELECT vec_id, sub, code,
          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
        FROM sv)
      SELECT vec_id, CAST(sum(code * (1::BIGINT << (8*sub))) AS BIGINT) AS code
      FROM pick WHERE rn = 1 GROUP BY vec_id
      UNION ALL
      SELECT vec_id, CAST(NULL AS BIGINT) AS code FROM embeddings
      WHERE embedding IS NULL
      ORDER BY vec_id"""))

  /** PQ ANN via ADC + exact refine. FULL ORACLE via the q80+q81 fixtures:
    * DuckDB rebuilds each query's lookup table from the codewords
    * (9dp-snapped subspace L2²), sums the m looked-up entries per corpus
    * code (re-snapped at 9dp, ties → vec_id) for the refine=50 candidate
    * cut, and re-ranks candidates by exact L2 at 4dp — cross-checking the
    * byte-unpack / LUT-lookup / top-k algebra end to end. Recall vs exact
    * brute force is asserted in PqSpec. */
  private val q82 = Q(
    "q82_knn_pq",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Pq.pqAdcTopK(
        emb, emb.filter(col("vec_id").isin(0L, 100L, 250L)), k = 5,
        books = sharedBooks(s, dir), refine = 50)
    },
    Some("""WITH cb AS (SELECT sub, code, list(value ORDER BY pos) AS codeword
        FROM read_parquet('__VERIFY_OUT__/q80_pq_codebooks/*.parquet')
        GROUP BY sub, code),
      codes AS (SELECT vec_id, code
        FROM read_parquet('__VERIFY_OUT__/q81_pq_codes/*.parquet')),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 100, 250)),
      lut AS (SELECT q.q_id, cb.sub, cb.code,
          round(list_sum(list_transform(
            list_zip(q.q_emb[cb.sub*8+1 : cb.sub*8+8], cb.codeword),
            p -> (CAST(p[1] AS DOUBLE) - p[2])
               * (CAST(p[1] AS DOUBLE) - p[2]))), 9) AS d
        FROM q CROSS JOIN cb),
      cx AS (SELECT c.vec_id, f.sub,
          CAST((c.code >> (8*f.sub)) & 255 AS INTEGER) AS bcode
        FROM codes c CROSS JOIN (SELECT unnest(range(8)) AS sub) f),
      adc AS (SELECT l.q_id, c.vec_id, round(sum(l.d), 9) AS adist
        FROM cx c JOIN lut l ON l.sub = c.sub AND l.code = c.bcode
        WHERE c.vec_id <> l.q_id
        GROUP BY l.q_id, c.vec_id),
      cand AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
            ORDER BY adist, vec_id) AS rn FROM adc) WHERE rn <= 50),
      ex AS (SELECT cand.q_id, cand.vec_id,
          unnest(e.embedding) AS x, unnest(q.q_emb) AS y
        FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
          JOIN q ON q.q_id = cand.q_id),
      d2 AS (SELECT q_id, vec_id,
          sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
            * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))) AS ss
        FROM ex GROUP BY q_id, vec_id),
      s AS (SELECT q_id, vec_id, round(sqrt(ss), 4) AS l2_dist,
          row_number() OVER (PARTITION BY q_id
            ORDER BY round(sqrt(ss), 4), vec_id) AS rn
        FROM d2)
      SELECT q_id, vec_id, l2_dist FROM s WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** The residual IVF×PQ model (coarse centroids + residual codebooks) as
    * one scalar table — the FAISS-style index's trained state, exported
    * once; the fixture for the q84 oracle. Rows-only itself (kmeans
    * training is not SQL-restatable). q83 and q84 deliberately SHARE one
    * memoized training (model-reuse semantics — see sharedResidualModel);
    * the training-determinism evidence lives in the q81-vs-q80 pair and
    * PqSpec's re-train pins. */
  /** FULL ORACLE for the residual IVF×PQ model export (was rows-only
    * through r8) — the whole two-stage training re-derived:
    *  - 'c' rows: the coarse centroids via [[KmeansSql.coarseLloyd]]
    *    (identical training to q79), verdict-checked at 2e-9;
    *  - 'b' rows: corpus assignment by 9dp-snapped L2² against the
    *    EXPORTED centroids (riding 1:1 — so centroid-mean fold noise
    *    cannot leak into the assignment), residuals r = v − centroid(v)
    *    elementwise, then the per-subspace k-means over the residuals
    *    via [[KmeansSql.pqLloyd]] (seeds = the first 16 hash-ranked
    *    vectors' residual slices), verdict-checked at 2e-9. */
  private val q83 = Q(
    "q83_pq_residual_model",
    (s, dir) => {
      val (centroids, books, _) = sharedResidualModel(s, dir)
      Pq.modelTable(s, centroids, books).withColumn("val_ok", lit(true))
    },
    Some {
      import KmeansSql._
      s"""WITH $prolog,
      $coarseLloyd,
      raw AS (SELECT kind, i, j, pos, value FROM
        read_parquet('__VERIFY_OUT__/q83_pq_residual_model/*.parquet')),
      fc AS (SELECT i AS cid, pos + 1 AS pos, value FROM raw WHERE kind = 'c'),
      ad AS (SELECT x.vec_id, c.cid,
          round(list_sum(list((x.v - c.value) * (x.v - c.value)
            ORDER BY x.pos)), 9) AS d
        FROM x JOIN fc c ON c.pos = x.pos GROUP BY x.vec_id, c.cid),
      asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM ad) WHERE rn = 1),
      rv AS (SELECT x.vec_id, x.pos, x.v - c.value AS v
        FROM x JOIN asg a ON a.vec_id = x.vec_id
        JOIN fc c ON c.cid = a.cid AND c.pos = x.pos),
      rsx AS (SELECT vec_id, CAST((pos - 1) // 8 AS INT) AS sub,
          CAST((pos - 1) % 8 AS INT) + 1 AS spos, v FROM rv),
      ${pqLloyd("rsx", "r")}
      SELECT 'c' AS kind, r.i, r.j, r.pos, r.value,
        (abs(r.value - c3.value) <= 2e-9) AS val_ok
      FROM raw r JOIN c3 ON c3.cid = r.i AND c3.pos = r.pos + 1
      WHERE r.kind = 'c'
      UNION ALL
      SELECT 'b' AS kind, r.i, r.j, r.pos, r.value,
        (abs(r.value - b.value) <= 2e-9) AS val_ok
      FROM raw r JOIN rb3 b
        ON b.sub = r.i AND b.code = r.j AND b.spos = r.pos + 1
      WHERE r.kind = 'b'
      ORDER BY kind, i, j, pos"""
    })

  /** Residual IVF×PQ ANN — the strongest ANN composition (FAISS-style:
    * codes encode v − centroid(v), so the same 8-byte budget quantizes
    * with less error). FULL ORACLE via the q83 model fixture: DuckDB takes
    * centroids/codebooks as given and re-derives EVERYTHING else — corpus
    * assignment (9dp-snapped L2², ties → cid), residuals, per-subspace
    * encode (ties → code), the nprobe probe choice per query, the
    * per-(query, list) residual LUTs, ADC scoring (ties → vec_id), the
    * refine=50 cut, and the exact L2 re-rank at 4dp — cross-checking the
    * entire assignment/encode/probe/ADC/refine algebra end to end. */
  private val q84 = Q(
    "q84_knn_pq_residual",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val (centroids, books, codes) = sharedResidualModel(s, dir)
      Pq.ivfPqSearch(codes, emb,
        emb.filter(col("vec_id").isin(0L, 100L, 250L)),
        centroids, books, residual = true, dim = 64, k = 5, nprobe = 3,
        refine = 50, idCol = "vec_id", embCol = "embedding")
    },
    Some("""WITH raw AS (SELECT kind, i, j, pos, value
        FROM read_parquet('__VERIFY_OUT__/q83_pq_residual_model/*.parquet')),
      c AS (SELECT i AS cid, list(value ORDER BY pos) AS centroid
        FROM raw WHERE kind = 'c' GROUP BY i),
      cb AS (SELECT i AS sub, j AS code, list(value ORDER BY pos) AS codeword
        FROM raw WHERE kind = 'b' GROUP BY i, j),
      ad AS (SELECT e.vec_id, c.cid, c.centroid,
          round(list_sum(list_transform(list_zip(e.embedding, c.centroid),
            p -> (CAST(p[1] AS DOUBLE) - p[2])
               * (CAST(p[1] AS DOUBLE) - p[2]))), 9) AS d
        FROM embeddings e CROSS JOIN c
        WHERE e.embedding IS NOT NULL),
      asg AS (SELECT vec_id, cid, centroid FROM (
          SELECT vec_id, cid, centroid,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM ad) WHERE rn = 1),
      res AS (SELECT a.vec_id, a.cid,
          list_transform(list_zip(e.embedding, a.centroid),
            p -> CAST(p[1] AS DOUBLE) - p[2]) AS r
        FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id),
      sv AS (SELECT r.vec_id, r.cid, cb.sub, cb.code,
          round(list_sum(list_transform(
            list_zip(r.r[cb.sub*8+1 : cb.sub*8+8], cb.codeword),
            p -> (p[1] - p[2]) * (p[1] - p[2]))), 9) AS d
        FROM res r CROSS JOIN cb),
      codes AS (SELECT vec_id, cid,
          CAST(sum(code * (1::BIGINT << (8*sub))) AS BIGINT) AS code
        FROM (SELECT vec_id, cid, sub, code,
            row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
          FROM sv) WHERE rn = 1 GROUP BY vec_id, cid),
      q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN (0, 100, 250)),
      qd AS (SELECT q.q_id, c.cid, c.centroid,
          round(list_sum(list_transform(list_zip(q.q_emb, c.centroid),
            p -> (CAST(p[1] AS DOUBLE) - p[2])
               * (CAST(p[1] AS DOUBLE) - p[2]))), 9) AS d
        FROM q CROSS JOIN c),
      probes AS (SELECT q_id, cid, centroid FROM (
          SELECT q_id, cid, centroid,
            row_number() OVER (PARTITION BY q_id ORDER BY d, cid) AS rn
          FROM qd) WHERE rn <= 3),
      qres AS (SELECT p.q_id, p.cid,
          list_transform(list_zip(q.q_emb, p.centroid),
            x -> CAST(x[1] AS DOUBLE) - x[2]) AS qr
        FROM probes p JOIN q ON q.q_id = p.q_id),
      lut AS (SELECT qr.q_id, qr.cid, cb.sub, cb.code,
          round(list_sum(list_transform(
            list_zip(qr.qr[cb.sub*8+1 : cb.sub*8+8], cb.codeword),
            p -> (p[1] - p[2]) * (p[1] - p[2]))), 9) AS d
        FROM qres qr CROSS JOIN cb),
      cx AS (SELECT co.vec_id, co.cid, f.sub,
          CAST((co.code >> (8*f.sub)) & 255 AS INTEGER) AS bcode
        FROM codes co CROSS JOIN (SELECT unnest(range(8)) AS sub) f),
      adc AS (SELECT l.q_id, c2.vec_id, round(sum(l.d), 9) AS adist
        FROM cx c2 JOIN lut l
          ON l.cid = c2.cid AND l.sub = c2.sub AND l.code = c2.bcode
        WHERE c2.vec_id <> l.q_id
        GROUP BY l.q_id, c2.vec_id),
      cand AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
            ORDER BY adist, vec_id) AS rn FROM adc) WHERE rn <= 50),
      ex AS (SELECT cand.q_id, cand.vec_id,
          unnest(e.embedding) AS x, unnest(q.q_emb) AS y
        FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
          JOIN q ON q.q_id = cand.q_id),
      d2 AS (SELECT q_id, vec_id,
          sum((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
            * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))) AS ss
        FROM ex GROUP BY q_id, vec_id),
      s AS (SELECT q_id, vec_id, round(sqrt(ss), 4) AS l2_dist,
          row_number() OVER (PARTITION BY q_id
            ORDER BY round(sqrt(ss), 4), vec_id) AS rn
        FROM d2)
      SELECT q_id, vec_id, l2_dist FROM s WHERE rn <= 5 ORDER BY q_id, rn"""))

  /** SemDeDup within-cluster near-dup pairs
    * (operators.Similarity.semanticDedupPairs — Abbas et al. 2023): the
    * same deterministic (nlist=8, iters=3) model as q79, so the oracle
    * re-derives the pairs ENTIRELY from that fixture's membership rows —
    * assignment taken as given, pairwise cosine and the threshold cut
    * re-computed in SQL (the q47 algebra restricted to cid blocks).
    * Null embeddings never pair (cosine undefined) — filtered
    * symmetrically on both sides. */
  private val q96 = Q(
    "q96_semantic_dup_pairs",
    (s, dir) => Similarity.semanticDedupPairs(
        Tables(s, dir).embeddings, minCos = 0.35, nlist = 8, iters = 3,
        model = Some(sharedCentroids(s, dir)))
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH asg AS (SELECT cid, vec_id FROM
        read_parquet('__VERIFY_OUT__/q79_ivf_index_table/*.parquet')
        WHERE kind = 'v'),
      e AS (SELECT asg.cid, emb.vec_id, emb.embedding
        FROM asg JOIN embeddings emb USING (vec_id)
        WHERE emb.embedding IS NOT NULL),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      d AS (SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM p GROUP BY id_a, id_b)
      SELECT id_a, id_b, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim
      FROM d WHERE round(dot / (sqrt(nx) * sqrt(ny)), 4) >= 0.35
      ORDER BY id_a, id_b"""))

  /** SemDeDup survivorship (keep-min-id over q96's pairs; null-embedding
    * rows always survive). Same fixture-derived oracle. */
  private val q97 = Q(
    "q97_semantic_dedup",
    (s, dir) => Similarity.semanticDedupSurvivors(
        Tables(s, dir).embeddings, minCos = 0.35, nlist = 8, iters = 3,
        model = Some(sharedCentroids(s, dir)))
      .orderBy(col("vec_id")),
    Some("""WITH asg AS (SELECT cid, vec_id FROM
        read_parquet('__VERIFY_OUT__/q79_ivf_index_table/*.parquet')
        WHERE kind = 'v'),
      e AS (SELECT asg.cid, emb.vec_id, emb.embedding
        FROM asg JOIN embeddings emb USING (vec_id)
        WHERE emb.embedding IS NOT NULL),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM e a JOIN e b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      d AS (SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM p GROUP BY id_a, id_b),
      dropped AS (SELECT DISTINCT id_b FROM d
        WHERE round(dot / (sqrt(nx) * sqrt(ny)), 4) >= 0.35)
      SELECT vec_id FROM embeddings
      WHERE vec_id NOT IN (SELECT id_b FROM dropped)
      ORDER BY vec_id"""))

  /** Johnson–Lindenstrauss ±1 random projection
    * (operators.Projection.jlProject): 64→16 dims, long-format scalar
    * rows. Map-only — one scan, one posexplode, no shuffle (the 100 TB
    * pre-step that cuts every ANN distance computation 4×). FULL ORACLE:
    * the oracle SQL is GENERATED from the same SplitMix64 sign matrix
    * (compact '+'/'-' strings — the q98 generated-oracle device) and
    * re-derives every value with the position-ordered IEEE fold, so the
    * compare is bit-exact with no RNG on either side. */
  private val q105 = Q(
    "q105_jl_project",
    (s, dir) => Projection.jlProject(
        Tables(s, dir).embeddings, col("embedding"), col("vec_id"),
        inDim = 64, outDim = 16, seed = 7L)
      .orderBy(col("vec_id"), col("odim")),
    Some {
      val values = Projection.signStrings(64, 16, 7L).zipWithIndex
        .map { case (str, j) => s"($j, '$str')" }.mkString(", ")
      s"""WITH sm AS (SELECT * FROM (VALUES $values) t(j, s)),
      x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE embedding IS NOT NULL),
      trm AS (SELECT x.vec_id, sm.j, x.pos,
          x.v * (CASE WHEN substr(sm.s, x.pos, 1) = '+'
                 THEN 1.0 ELSE -1.0 END) AS term
        FROM x CROSS JOIN sm),
      p AS (SELECT vec_id, j,
          list_sum(list(term ORDER BY pos)) / sqrt(16.0) AS value
        FROM trm GROUP BY vec_id, j)
      SELECT vec_id, CAST(j AS INT) AS odim, round(value, 9) + 0.0 AS value
      FROM p
      UNION ALL
      SELECT e.vec_id, CAST(r.range AS INT) AS odim,
        CAST(NULL AS DOUBLE) AS value
      FROM embeddings e CROSS JOIN range(16) r WHERE e.embedding IS NULL
      ORDER BY vec_id, odim"""
    })

  /** Embedding-level train/eval decontamination
    * (operators.Similarity.embeddingDecontamination): every-10th vector
    * plays the eval benchmark, the rest the training corpus; a training
    * vector is flagged when its best eval cosine reaches 0.35. Engine
    * side is ONE broadcast eval array + a map-only per-row fold (no
    * shuffle); oracle re-derives the full cross product with the q47
    * cosine algebra and picks per-corpus-row argmax on the rounded
    * cosine (ties → smallest eval id). */
  private val q106 = Q(
    "q106_embed_decontaminate",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.embeddingDecontamination(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0), minCos = 0.35)
        .orderBy(col("vec_id"))
    },
    Some("""WITH c AS (SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id % 10 <> 0),
      e AS (SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id % 10 = 0),
      p AS (SELECT c.vec_id AS cid, e.vec_id AS eid,
          unnest(c.embedding) AS x, unnest(e.embedding) AS y
        FROM c JOIN e ON true),
      d AS (SELECT cid, eid,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM p GROUP BY cid, eid),
      sc AS (SELECT cid, eid,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos FROM d),
      pick AS (SELECT cid, eid, cos,
          row_number() OVER (PARTITION BY cid ORDER BY cos DESC, eid) AS rn
        FROM sc)
      SELECT cid AS vec_id, eid AS near_eval_id, cos AS max_cos,
        CAST(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      FROM pick WHERE rn = 1
      UNION ALL
      SELECT vec_id, CAST(NULL AS BIGINT) AS near_eval_id,
        CAST(NULL AS DOUBLE) AS max_cos, CAST(0 AS BIGINT) AS contaminated
      FROM embeddings WHERE embedding IS NULL AND vec_id % 10 <> 0
      ORDER BY vec_id"""))

  /** JL-accelerated ANN (operators.Projection.jlRefineTopK): candidates
    * by 16-dim PROJECTED cosine (top-50 overfetch), exact 64-dim re-rank
    * to top-5 — same query set as q46 so the two results are directly
    * comparable. FULL ORACLE, fully re-derived: the generated sign CTE
    * reproduces the projection (ordered fold — bit-identical projected
    * values), then candidate and refine ranks restate the q46 cosine
    * algebra at 4dp. */
  private val q109 = Q(
    "q109_knn_jl_refine",
    (s, dir) => {
      val t = Tables(s, dir)
      Projection.jlRefineTopK(
        t.embeddings, t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L)),
        k = 5, overfetch = 50, inDim = 64, outDim = 16, seed = 7L)
    },
    Some {
      val values = Projection.signStrings(64, 16, 7L).zipWithIndex
        .map { case (str, j) => s"($j, '$str')" }.mkString(", ")
      s"""WITH sm AS (SELECT * FROM (VALUES $values) t(j, s)),
      cx AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE embedding IS NOT NULL),
      pc AS (SELECT vec_id, j,
          list_sum(list(v * (CASE WHEN substr(s, pos, 1) = '+'
            THEN 1.0 ELSE -1.0 END) ORDER BY pos)) / sqrt(16.0) AS pv
        FROM cx CROSS JOIN sm GROUP BY vec_id, j),
      qp AS (SELECT vec_id AS q_id, j, pv FROM pc
        WHERE vec_id IN (0, 100, 250)),
      pd AS (SELECT qp.q_id, pc.vec_id,
          sum(pc.pv * qp.pv) AS dot, sum(pc.pv * pc.pv) AS nx,
          sum(qp.pv * qp.pv) AS ny
        FROM pc JOIN qp ON pc.j = qp.j AND pc.vec_id <> qp.q_id
        GROUP BY qp.q_id, pc.vec_id),
      ps AS (SELECT q_id, vec_id,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS pcos FROM pd),
      cand AS (SELECT q_id, vec_id FROM (SELECT *,
          row_number() OVER (PARTITION BY q_id
            ORDER BY pcos DESC, vec_id) AS rn FROM ps) WHERE rn <= 50),
      fx AS (SELECT cand.q_id, cand.vec_id,
          unnest(e.embedding) AS x, unnest(q.embedding) AS y
        FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
          JOIN embeddings q ON q.vec_id = cand.q_id),
      fd AS (SELECT q_id, vec_id,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM fx GROUP BY q_id, vec_id),
      fs AS (SELECT q_id, vec_id,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim,
          row_number() OVER (PARTITION BY q_id
            ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id) AS rn
        FROM fd)
      SELECT q_id, vec_id, cos_sim FROM fs WHERE rn <= 5 ORDER BY q_id, rn"""
    })

  /** All-corpus kNN graph (every vector → its top-3 approximate
    * neighbors over the IVF blocking) — the SemDeDup/duplicate-graph
    * primitive. FULL ORACLE via the q79 index fixture, the q49 device
    * widened to every source: DuckDB takes centroids + list assignments
    * as given, re-derives each vector's nprobe probe lists (9dp snap,
    * ties → cid), joins lists for candidates, and re-ranks exactly at
    * 4dp with the same (sim desc, dst_id) tie order. The in-graph
    * re-training reproduces the fixture bit-for-bit (same deterministic
    * kmeans, same params as q79). */
  private val q120 = Q(
    "q120_knn_graph",
    (s, dir) => sharedKnnGraph(s, dir)
      .orderBy(col("src_id"), col("rank")),
    Some(knnGraphOracleSql))

  /** The q120/q128 oracle body — shared verbatim because the two
    * registered implementations are bit-identical by contract. */
  private lazy val knnGraphOracleSql: String = ("""WITH raw AS (SELECT kind, cid, pos, value, vec_id
        FROM read_parquet('__VERIFY_OUT__/q79_ivf_index_table/*.parquet')),
      c AS (SELECT cid, list(value ORDER BY pos) AS centroid
        FROM raw WHERE kind = 'c' GROUP BY cid),
      ix AS (SELECT cid, vec_id FROM raw WHERE kind = 'v'),
      q AS (SELECT vec_id AS src_id, embedding AS src_emb FROM embeddings
        WHERE embedding IS NOT NULL),
      qc AS (SELECT q.src_id, c.cid,
          unnest(c.centroid) AS cx, unnest(q.src_emb) AS qy
        FROM q CROSS JOIN c),
      qd AS (SELECT src_id, cid,
          sum(CAST(cx AS DOUBLE) * CAST(qy AS DOUBLE)) AS dot,
          sum(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)) AS nc,
          sum(CAST(qy AS DOUBLE) * CAST(qy AS DOUBLE)) AS nq
        FROM qc GROUP BY src_id, cid),
      probes AS (SELECT src_id, cid FROM (
          SELECT src_id, cid, row_number() OVER (PARTITION BY src_id
            ORDER BY round(dot / (sqrt(nc) * sqrt(nq)), 9) DESC, cid) AS rn
          FROM qd) WHERE rn <= 2),
      cand AS (SELECT DISTINCT p.src_id, ix.vec_id AS dst_id
        FROM probes p JOIN ix ON ix.cid = p.cid
        WHERE ix.vec_id <> p.src_id),
      pr AS (SELECT c2.src_id, c2.dst_id,
          unnest(e.embedding) AS x, unnest(q.src_emb) AS y
        FROM cand c2 JOIN embeddings e ON e.vec_id = c2.dst_id
          JOIN q ON q.src_id = c2.src_id),
      d AS (SELECT src_id, dst_id,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
        FROM pr GROUP BY src_id, dst_id),
      s AS (SELECT src_id, dst_id,
          round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cos_sim,
          row_number() OVER (PARTITION BY src_id
            ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, dst_id) AS rn
        FROM d)
      SELECT src_id, dst_id, cos_sim, CAST(rn AS INT) AS rank
      FROM s WHERE rn <= 3 ORDER BY src_id, rank""")

  /** q120 re-expressed through the broadcast-join probe path
    * (operators.Similarity.knnGraphJoined) — the nlist-beyond-codegen
    * form a 100 TB corpus needs (nlist ~ sqrt(N)). Registered with the SAME
    * oracle as q120: the two implementations are bit-identical given the
    * same model (parity also pinned in SimilaritySpec), so this row
    * hash-proves the scale path end-to-end rather than trusting the
    * spec alone. */
  private val q128 = Q(
    "q128_knn_graph_joined",
    (s, dir) => Similarity.knnGraphJoined(
      Tables(s, dir).embeddings, k = 3, nlist = Some(8), nprobe = 2,
      model = Some(sharedCentroids(s, dir))),
    Some(knnGraphOracleSql))

  /** The advisory-steered kNN graph at its BROADCAST operating point —
    * the third engine consumer of the pre-join advisory
    * ([[graft.operators.Similarity.knnGraphAdvised]]), on q120's exact
    * geometry (k=3, nlist=8, nprobe=2, shared centroids): the list side
    * is dimension-sized at this scale, so the advisory must say
    * broadcast (require()d) and the executed candidate join must BE a
    * BroadcastHashJoin (PlanSpec's q230 row). Same oracle as q120/q128 — steering moves
    * shuffle placement, never semantics. */
  private val q230 = Q(
    "q230_advised_knn_broadcast",
    (s, dir) => {
      val (advice, edges) = Similarity.knnGraphAdvised(
        Tables(s, dir).embeddings, k = 3, nlist = 8, nprobe = 2,
        model = Some(sharedCentroids(s, dir)))
      require(advice.strategy == "broadcast",
        s"dimension-sized list side must advise broadcast: $advice")
      edges
    },
    Some(knnGraphOracleSql))

  /** The advisory-steered kNN graph at its SALT operating point: a
    * 2-D corpus derived from `customer` where 80% of the vectors fold
    * onto one direction (the web-scale near-duplicate-cluster shape —
    * scrape bursts and template boilerplate concentrate an IVF list),
    * so centroid 0's list dominates the candidate join. Broadcast is
    * disallowed (broadcastMaxRows=0 — past-dimension sides at the
    * deployment scale this models) and the fair share is computed for a
    * 100 TB deployment's shuffle width (targetPartitions=200k): the
    * advisory must pick salt, name cid 0 among the hot keys, and the
    * operator must execute the TARGETED salted join (PlanSpec's q231 row:
    * the candidate join carries `__salt` and is NOT a broadcast). All
    * fixture geometry is dyadic-rational 2-D (k/256 components, ±1
    * axes), so every cosine is a correctly-rounded IEEE expression both
    * engines compute bit-identically — the oracle re-derives
    * assignment (raw-cosine argmax, ties → smallest cid), probes
    * (9dp-snapped rank, ties → cid), candidates, and the 4dp top-k
    * from the same `customer` rows with explicit centroid literals. */
  private val q231 = Q(
    "q231_advised_knn_salted",
    (s, dir) => {
      val key = col("c_custkey")
      val j = (key % 124).cast("double") / 256.0
      val emb = when(key % 5 =!= 0, array(lit(1.0), j))
        .when(key % 3 === 0, array(lit(-1.0), j))
        .when(key % 3 === 1, array(j, lit(1.0)))
        .otherwise(array(j, lit(-1.0)))
      val corpus = Tables(s, dir).customer.filter(key % 8 === 0)
        .select(key.as("vec_id"), emb.as("embedding"))
      val model = Seq(
        0 -> Seq(1.0, 0.0), 1 -> Seq(-1.0, 0.0),
        2 -> Seq(0.0, 1.0), 3 -> Seq(0.0, -1.0))
      // maxHotShare lifted: the fixture's dominant direction makes the
      // hot list MOST of both sides by construction, past the default
      // demotion ceiling (r16: past the SaltShareProbe crossover a salt
      // verdict demotes to shuffle+AQE) — this query grades the salted
      // EXECUTION path; the crossover economics are JoinAdvisorSpec's
      // pin and the demotion is itself the advisory's verdict for
      // shapes like this at deployment scale
      val (advice, edges) = Similarity.knnGraphAdvised(
        corpus, k = 3, nlist = 4, nprobe = 2, model = Some(model),
        broadcastMaxRows = 0L, skewFactor = 1.5, minSaltOutputRows = 100L,
        maxSaltBuckets = 8, targetPartitions = Some(200000),
        maxHotShare = 1.0)
      require(advice.strategy == "salt" && advice.saltBuckets >= 2,
        s"a dominant IVF list at 200k-partition fair share must salt: $advice")
      require(advice.hotKeys.contains("0"),
        s"the folded direction's cid 0 must be MG-named hot: $advice")
      edges
    },
    Some("""WITH v AS (SELECT c_custkey AS vec_id,
        CASE WHEN c_custkey % 5 <> 0 THEN CAST(1 AS DOUBLE)
          WHEN c_custkey % 3 = 0 THEN CAST(-1 AS DOUBLE)
          WHEN c_custkey % 3 = 1 THEN CAST(c_custkey % 124 AS DOUBLE) / 256
          ELSE CAST(c_custkey % 124 AS DOUBLE) / 256 END AS e1,
        CASE WHEN c_custkey % 5 <> 0 THEN CAST(c_custkey % 124 AS DOUBLE) / 256
          WHEN c_custkey % 3 = 0 THEN CAST(c_custkey % 124 AS DOUBLE) / 256
          WHEN c_custkey % 3 = 1 THEN CAST(1 AS DOUBLE)
          ELSE CAST(-1 AS DOUBLE) END AS e2
        FROM customer WHERE c_custkey % 8 = 0),
      c(cid, c1, c2) AS (SELECT * FROM (VALUES
        (0, CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)),
        (1, CAST(-1 AS DOUBLE), CAST(0 AS DOUBLE)),
        (2, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)),
        (3, CAST(0 AS DOUBLE), CAST(-1 AS DOUBLE)))),
      a AS (SELECT vec_id, e1, e2, cid,
          (e1*c1 + e2*c2) / (sqrt(e1*e1 + e2*e2) * sqrt(c1*c1 + c2*c2))
            AS cos_c
        FROM v CROSS JOIN c),
      lists AS (SELECT vec_id, e1, e2, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cos_c DESC, cid) AS rn FROM a) WHERE rn = 1),
      probes AS (SELECT vec_id AS src_id, e1 AS s1, e2 AS s2, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY round(cos_c, 9) DESC, cid) AS rn FROM a)
        WHERE rn <= 2),
      s AS (SELECT p.src_id, l.vec_id AS dst_id,
          round((p.s1*l.e1 + p.s2*l.e2) /
            (sqrt(l.e1*l.e1 + l.e2*l.e2) * sqrt(p.s1*p.s1 + p.s2*p.s2)), 4)
            AS cos_sim
        FROM probes p JOIN lists l
          ON l.cid = p.cid AND l.vec_id <> p.src_id),
      r AS (SELECT src_id, dst_id, cos_sim,
          row_number() OVER (PARTITION BY src_id
            ORDER BY cos_sim DESC, dst_id) AS rn FROM s)
      SELECT src_id, dst_id, cos_sim, CAST(rn AS INT) AS rank
      FROM r WHERE rn <= 3 ORDER BY src_id, rank"""))

  /** The graph-dedup lifecycle composed end-to-end: kNN graph → edges at
    * cos ≥ 0.35 (q96's threshold) as undirected pairs → transitive
    * clustering (hash-min CC) → keep each cluster's minimum id. The
    * SemDeDup-graph variant: where q97 drops against EVERY within-cluster
    * duplicate, this only links a vector to its top-k nearest — the
    * bounded-degree duplicate graph a 100 TB curation run actually
    * materializes (edge volume ≤ k·N regardless of cluster skew).
    * Null-embedding rows have no graph presence and always survive.
    * Consumes the PERSISTED edge table (sharedKnnGraph — built once per
    * dataset, exactly what its own oracle does by reading q120's export):
    * the CC iterations re-read cheap parquet edges instead of re-probing
    * the corpus per iteration. FULL oracle via the q120 fixture: a
    * recursive-CTE closure (the q118 device) re-derives the clusters and
    * drops non-minima. */
  private val q121 = Q(
    "q121_knn_graph_dedup",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pairs = sharedKnnGraph(s, dir)
        .filter(col("cos_sim") >= 0.35)
        .select(least(col("src_id"), col("dst_id")).as("id_a"),
          greatest(col("src_id"), col("dst_id")).as("id_b"))
        .distinct()
      val dropped = graft.operators.Dedup.connectedComponents(pairs)
        .filter(col("cluster_id") < col("doc_id"))
        .select(col("doc_id").as("vec_id"))
      emb.select(col("vec_id"))
        .join(dropped, Seq("vec_id"), "left_anti")
        .orderBy(col("vec_id"))
    },
    Some("""WITH RECURSIVE
      g AS (SELECT src_id, dst_id
        FROM read_parquet('__VERIFY_OUT__/q120_knn_graph/*.parquet')
        WHERE cos_sim >= 0.35),
      p AS (SELECT DISTINCT least(src_id, dst_id) AS id_a,
          greatest(src_id, dst_id) AS id_b FROM g),
      ee AS (SELECT id_a AS src, id_b AS dst FROM p
        UNION SELECT id_b, id_a FROM p),
      cc AS (SELECT src AS id, src AS label FROM ee
        UNION SELECT ee.dst AS id, cc.label FROM cc JOIN ee ON cc.id = ee.src),
      dropped AS (SELECT id FROM cc GROUP BY id HAVING min(label) < id)
      SELECT vec_id FROM embeddings
      WHERE vec_id NOT IN (SELECT id FROM dropped)
      ORDER BY vec_id"""))

  /** PageRank centrality over the persisted kNN graph
    * ([[graft.operators.Graph.pageRank]], 5 iterations, d = 0.85) — the
    * centrality-based corpus-subsampling signal, consuming the SAME
    * persisted edge artifact as q121 (the shared-index lifecycle).
    *
    * FULL exact-hash oracle, no tolerance: rank arithmetic is +,·,/
    * only (no libm), corpus constants divide exact counts, the engine
    * folds in-neighbor contributions in pinned src order
    * (OrderedSumAgg) while DuckDB folds `list_sum(list(_ ORDER BY
    * src))`, and both snap each iteration to 9dp — so five unrolled
    * iterations reproduce the doubles bit-for-bit. `in_deg` adds the
    * exact integer structure check. Every double literal is CAST to
    * DOUBLE in the SQL: DuckDB would otherwise parse `0.85` as
    * DECIMAL(3,2) and compute exact decimal 0.15 for the teleport
    * term — one ulp off the engine's binary `1.0 − 0.85`. */
  private val q138 = Q(
    "q138_pagerank",
    (s, dir) => {
      val g = sharedKnnGraph(s, dir)
      val inDeg = g.groupBy(col("dst_id").as("node"))
        .agg(count(lit(1)).as("in_deg"))
      Graph.pageRank(g, col("src_id"), col("dst_id"),
          iterations = 5, damping = 0.85)
        .join(inDeg, Seq("node"), "left")
        .select(col("node").as("vec_id"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"), col("pr"))
        .orderBy(col("vec_id"))
    },
    Some {
      // Five unrolled iterations of the identical update rule: DuckDB's
      // recursive CTEs reject aggregation in the recursive term, so the
      // fixed iteration count is expanded programmatically.
      // Snap mirrors the engine's floor(x·1e9 + 0.5)/1e9 — NOT round():
      // Spark's double round() rounds the shortest decimal repr and
      // disagrees with numeric rounding at repr half-boundaries.
      def step(i: Int, prev: String) =
        s"""it$i AS (SELECT nd.node,
          floor(((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
            + CAST(0.85 AS DOUBLE) * coalesce(s.insum, CAST(0 AS DOUBLE)))
            * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS pr
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (SELECT e.dst AS node,
            list_sum(list(r.pr / od.outdeg ORDER BY e.src)) AS insum
          FROM e JOIN $prev r ON r.node = e.src
          JOIN od ON od.src = e.src
          GROUP BY e.dst) s ON s.node = nd.node)"""
      val iters = (1 to 5).map(i => step(i, if (i == 1) "r0" else s"it${i - 1}"))
        .mkString(",\n      ")
      s"""WITH e AS (SELECT src_id AS src, dst_id AS dst
        FROM read_parquet('__VERIFY_OUT__/q120_knn_graph/*.parquet')),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      od AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr
        FROM nodes CROSS JOIN nn),
      $iters,
      ind AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
        FROM e GROUP BY dst)
      SELECT t.node AS vec_id, coalesce(i.in_deg, 0) AS in_deg, t.pr
      FROM it5 t LEFT JOIN ind i ON i.node = t.node
      ORDER BY vec_id"""
    })

  /** Retrieval-quality eval ([[graft.operators.Metrics.retrievalEval]]):
    * per-query recall@5 and reciprocal rank of the true nearest neighbor
    * for the IVF ANN path (q49's operating point) against the exact
    * brute-force top-5 (q46) — the measurement loop a deployment runs
    * before trusting an ANN index at scale, as a GRADED row rather than
    * a ScalaTest floor. Every output value is a count or one IEEE
    * division, so the oracle is exact: DuckDB re-ranks both persisted
    * fixtures with the family's (sim desc, id) tie order and re-derives
    * the same joins. */
  private val q157 = Q(
    "q157_retrieval_eval",
    (s, dir) => {
      val t = Tables(s, dir)
      val qs = t.embeddings.filter(col("vec_id").isin(0L, 100L, 250L))
      val truth = Similarity.bruteForceTopK(t.embeddings, qs, 5)
      val retrieved = Similarity.ivfTopK(
        t.embeddings, qs, k = 5, nlist = 8, nprobe = 3)
      graft.operators.Metrics.retrievalEval(retrieved, truth, k = 5)
        .orderBy(col("q_id"))
    },
    Some("""WITH r AS (SELECT q_id, vec_id, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
        FROM read_parquet('__VERIFY_OUT__/q49_knn_ivf/*.parquet')),
      rk AS (SELECT * FROM r WHERE rank <= 5),
      t AS (SELECT q_id, vec_id, row_number() OVER (
          PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS t_rank
        FROM read_parquet('__VERIFY_OUT__/q46_knn_bruteforce/*.parquet')),
      tk AS (SELECT * FROM t WHERE t_rank <= 5),
      h AS (SELECT rk.q_id, count(*) AS n_hits,
          min(CASE WHEN tk.t_rank = 1 THEN rk.rank END) AS nn_rank
        FROM rk JOIN tk ON tk.q_id = rk.q_id AND tk.vec_id = rk.vec_id
        GROUP BY rk.q_id)
      SELECT q.q_id AS q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5 AS recall_k,
        CASE WHEN h.nn_rank IS NOT NULL
          THEN CAST(1 AS DOUBLE) / h.nn_rank ELSE 0.0 END AS rr
      FROM (SELECT DISTINCT q_id FROM tk) q
      LEFT JOIN h ON h.q_id = q.q_id
      ORDER BY q_id"""))

  override val all: Seq[Q] =
    Seq(q45, q46, q47, q48, q49, q57, q78, q79, q80, q81, q82, q83, q84, q89,
      q96, q97, q105, q106, q109, q120, q121, q128, q138, q157, q161, q162,
      q230, q231)
}
