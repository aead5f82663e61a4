package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Multimodal

/** Multimodal binary-column surface: ingestion metadata (oracle-checked —
  * byte counts and content hashes are recomputable in SQL), the batched
  * feature-extraction plumbing (rows-only; decode is a documented stub),
  * and frame-sampling window math (oracle-checked).
  *
  * Every query observes the media frame (Multimodal.observedMedia): the
  * per-stage counters (n_media, n_null_payloads, total_bytes) accumulate on
  * the SAME pass that answers the query — the A2/A5 zero-extra-scan
  * discipline applied to the media pipeline; MultimodalSpec reads them via
  * ObservedMetrics.capture. */
object MultimodalQueries extends QueryPack {

  private val q70 = Q(
    "q70_media_metadata",
    (s, dir) => Multimodal.observedMedia(
        Multimodal.ingestFromDocuments(Tables(s, dir).documents))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        countDistinct(col("content_hash")).as("n_distinct_hash"))
      .orderBy(col("kind")),
    Some("""SELECT 'media/' || lang AS kind, count(*) AS n_media,
      CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
      count(DISTINCT md5(text)) AS n_distinct_hash
      FROM documents GROUP BY 1 ORDER BY kind"""))

  /** Decode → per-kind feature stats. The fixture payloads are text bytes,
    * so every row takes the stub path (magic-number gate), and the stub is
    * DESIGNED restatable: integer per-lane byte sums normalized once in
    * double, cast to float32 — the oracle mirrors the arithmetic
    * step-for-step (s/255.0/len*8 then REAL cast) and re-derives the lane
    * membership from 1-based character positions. Docs with empty text
    * produce the stub's all-zero vector via the left-join coalesce.
    * ASSUMES ASCII fixture text: the stub lanes over UTF-8 BYTES, the
    * oracle over CHARACTERS (unicode(ch)) — identical only while every
    * char is one byte (FixtureSpec pins length == octet_length at all
    * three driver SFs, so a multi-byte fixture fails a named test
    * instead of this oracle's driver hash). */
  private val q71 = Q(
    "q71_media_features",
    (s, dir) => {
      val media = Multimodal.ingestFromDocuments(Tables(s, dir).documents)
      // featureTable inlined so ONLY the decode branch is observed — the
      // media frame forks into (features ⋈ metadata) and observing both
      // branches would double-count (see observedMedia scaladoc)
      Multimodal.extractFeatures(Multimodal.observedMedia(media))
        .toDF("media_id", "feature")
        .join(media.drop("payload"), Seq("media_id"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          round(avg(element_at(col("feature"), 1)), 4).as("avg_f0"),
          round(avg(element_at(col("feature"), Multimodal.FeatureDim)), 4).as("avg_flast"))
        .orderBy(col("kind"))
    },
    Some("""WITH cs AS (
        SELECT doc_id, lang, unnest(string_split(text,'')) AS ch,
               generate_subscripts(string_split(text,''),1) AS i
        FROM documents),
      per_doc AS (
        SELECT doc_id, lang,
          sum(CASE WHEN (i-1)%8 = 0 THEN unicode(ch) ELSE 0 END) AS s0,
          sum(CASE WHEN (i-1)%8 = 7 THEN unicode(ch) ELSE 0 END) AS s7,
          count(*) AS len
        FROM cs GROUP BY doc_id, lang),
      feat AS (
        SELECT d.doc_id, d.lang,
          CAST(coalesce(p.s0 / 255.0 / p.len * 8, 0.0) AS REAL) AS f0,
          CAST(coalesce(p.s7 / 255.0 / p.len * 8, 0.0) AS REAL) AS f7
        FROM documents d LEFT JOIN per_doc p USING (doc_id, lang))
      SELECT 'media/' || lang AS kind, count(*) AS n,
        round(avg(f0), 4) AS avg_f0, round(avg(f7), 4) AS avg_flast
      FROM feat GROUP BY 1 ORDER BY kind"""))

  private val q72 = Q(
    "q72_frame_sampling",
    (s, dir) => {
      val media = Multimodal.observedMedia(
        Multimodal.ingestFromDocuments(Tables(s, dir).documents))
      // no global orderBy: a full sort of a map-only frame would (a) be the
      // wrong shape at 100 TB and (b) double-scan the input — the range
      // partitioner samples the unshuffled child, so the observed metrics
      // would count every row twice (driver compare sorts rows itself)
      Multimodal.frameSample(media, frameBytes = 100, maxFrames = 4)
        .select(col("media_id"), col("n_frames"),
          aggregate(col("frames"), lit(0L), (acc, f) => acc + f.getField("length"))
            .as("covered_bytes"))
    },
    Some("""SELECT doc_id AS media_id,
      CAST(least(ceil(strlen(text) / 100.0), 4) AS INTEGER) AS n_frames,
      CAST(least(strlen(text), 400) AS BIGINT) AS covered_bytes
      FROM documents ORDER BY media_id"""))

  /** Perceptual dHash per media blob (Multimodal.dhash64). The fixture
    * payloads are text bytes → every row takes the STUB grid (bytes laid
    * row-major on the 8×9 grid, wrapped modulo length), which is
    * DESIGNED restatable: the oracle rebuilds each of the 64 compare
    * bits from 1-based character positions (ASCII ⇒ byte == unicode —
    * the q71 FixtureSpec tripwire covers this assumption) and packs the
    * HUGEINT sum back to the signed BIGINT Spark emits. Real-image
    * hashing (integer block-average luma) is hand-pinned on planted
    * PNGs in MultimodalSpec. */
  private val q116 = Q(
    "q116_media_dhash",
    (s, dir) => Multimodal.dhashTable(
        Multimodal.ingestFromDocuments(Tables(s, dir).documents))
      .select(col("media_id"), col("kind"), col("dhash"))
      .orderBy(col("media_id")),
    Some("""WITH d AS (SELECT doc_id, 'media/' || lang AS kind, text,
          length(text) AS len FROM documents),
      bb AS (SELECT unnest(range(0, 64)) AS b),
      bits AS (SELECT d.doc_id, d.kind, bb.b,
          CASE WHEN d.len = 0 THEN 0
            WHEN unicode(substr(d.text,
                CAST(((bb.b // 8) * 9 + (bb.b % 8) + 1) % greatest(d.len, 1) AS INTEGER) + 1, 1))
              > unicode(substr(d.text,
                CAST(((bb.b // 8) * 9 + (bb.b % 8)) % greatest(d.len, 1) AS INTEGER) + 1, 1))
            THEN 1 ELSE 0 END AS bit
        FROM d CROSS JOIN bb),
      s AS (SELECT doc_id, kind,
          sum(CAST(bit AS HUGEINT) * CAST(1::UBIGINT << b AS HUGEINT)) AS h
        FROM bits GROUP BY doc_id, kind)
      SELECT doc_id AS media_id, kind,
        CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
          THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS dhash
      FROM s ORDER BY media_id"""))

  /** Banded Hamming near-dup pairs over q116's hashes. maxHamming 3 <
    * 4 bands ⇒ banding is exhaustive by pigeonhole, so the oracle can
    * ignore it entirely: every same-kind pair within Hamming 3 of the
    * q116 fixture, re-derived with UBIGINT xor + bit_count. */
  private val q117 = Q(
    "q117_media_neardup",
    (s, dir) => Multimodal.dhashNearDupPairs(
        Multimodal.dhashTable(
          Multimodal.ingestFromDocuments(Tables(s, dir).documents)))
      .orderBy(col("kind"), col("id_a"), col("id_b")),
    Some("""WITH h AS (SELECT media_id, kind, dhash
        FROM read_parquet('__VERIFY_OUT__/q116_media_dhash/*.parquet')),
      u AS (SELECT media_id, kind,
          CAST(CASE WHEN dhash < 0 THEN dhash + 18446744073709551616::HUGEINT
            ELSE CAST(dhash AS HUGEINT) END AS UBIGINT) AS uh
        FROM h)
      SELECT a.kind, a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.uh, b.uh)) AS INTEGER) AS hamming
      FROM u a JOIN u b ON a.kind = b.kind AND a.media_id < b.media_id
      WHERE bit_count(xor(a.uh, b.uh)) <= 3
      ORDER BY a.kind, id_a, id_b"""))

  /** The image-dedup lifecycle composed end-to-end: dHash → banded
    * Hamming pairs → transitive clustering (hash-min CC) → keep each
    * cluster's minimum id. One output row per surviving blob. FULL
    * oracle via the q117 fixture: a recursive-CTE closure (the q56
    * device) re-derives the clusters and drops non-minima. */
  private val q118 = Q(
    "q118_media_dedup",
    (s, dir) => {
      val media = Multimodal.ingestFromDocuments(Tables(s, dir).documents)
      val pairs = Multimodal.dhashNearDupPairs(Multimodal.dhashTable(media))
      val dropped = graft.operators.Dedup
        .connectedComponents(pairs.select(col("id_a"), col("id_b")))
        .filter(col("cluster_id") < col("doc_id"))
        .select(col("doc_id").as("media_id"))
      // the clustering has materialized the pairs: the banded-hash
      // checkpoint under them is read no more
      graft.Checkpoints.releaseRead(pairs)
      media.select(col("media_id"))
        .join(dropped, Seq("media_id"), "left_anti")
        .orderBy(col("media_id"))
    },
    Some("""WITH RECURSIVE
      p AS (SELECT id_a, id_b FROM read_parquet('__VERIFY_OUT__/q117_media_neardup/*.parquet')),
      ee AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
      cc AS (SELECT src AS id, src AS label FROM ee
        UNION SELECT ee.dst AS id, cc.label FROM cc JOIN ee ON cc.id = ee.src),
      dropped AS (SELECT id FROM cc GROUP BY id HAVING min(label) < id)
      SELECT doc_id AS media_id FROM documents
      WHERE doc_id NOT IN (SELECT id FROM dropped)
      ORDER BY media_id"""))

  /** Audio fingerprint per media blob (Multimodal.ahash64): sign of the
    * OCTAVE-bucketed energy gradient over 65 time segments. The fixture
    * payloads are text bytes → every row takes the byte-energy STUB
    * (Σ byte² per segment, seg = i·65/len — exact integer arithmetic,
    * bucket = bitLength = floor(log2)+1), which the oracle re-derives
    * with HUGEINT sums and the q116 bit-packing device. Real WAV/AIFF PCM fingerprints (ramp ⇒ all-ones, constant
    * tone ⇒ zero, volume-invariance) are hand-pinned in
    * MultimodalSpec. */
  private val q149 = Q(
    "q149_media_ahash",
    (s, dir) => {
      // the oracle speaks unicode() code points over CHAR indices while
      // the engine hashes UTF-8 payload BYTES — equivalent only on pure
      // ASCII. Check the assumption row-level instead of assuming it:
      // octet_length == length iff the text is ASCII; assert_true is
      // codegen'd inside the same scan (no extra job) and aborts the
      // query on the first non-ASCII document rather than silently
      // hash-diverging. coalesce(NULL-on-success, true) keeps the
      // predicate a no-op filter.
      val docs = Tables(s, dir).documents.where(coalesce(
        assert_true(octet_length(col("text")) === length(col("text")),
          lit("q149 oracle equivalence needs ASCII payloads")), lit(true)))
      Multimodal.ahashTable(Multimodal.ingestFromDocuments(docs))
        .select(col("media_id"), col("kind"), col("ahash"))
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (SELECT doc_id, 'media/' || lang AS kind, text,
          length(text) AS len FROM documents),
      cv AS (SELECT doc_id, unnest(range(0, len)) AS i FROM d),
      es AS (SELECT cv.doc_id,
          CAST((cv.i * 65) // d.len AS INT) AS seg,
          sum(CAST(unicode(substr(d.text, CAST(cv.i AS INT) + 1, 1)) AS HUGEINT)
            * CAST(unicode(substr(d.text, CAST(cv.i AS INT) + 1, 1)) AS HUGEINT))
            AS e
        FROM cv JOIN d ON d.doc_id = cv.doc_id GROUP BY 1, 2),
      segs AS (SELECT d.doc_id, d.kind, sg.s AS seg,
          coalesce(es.e, 0::HUGEINT) AS e
        FROM d CROSS JOIN (SELECT unnest(range(0, 65)) AS s) sg
        LEFT JOIN es ON es.doc_id = d.doc_id AND es.seg = sg.s),
      bk AS (SELECT doc_id, kind, seg,
          CASE WHEN e = 0 THEN 0
            ELSE CAST(floor(log2(CAST(e AS DOUBLE))) AS INT) + 1 END AS eb
        FROM segs),
      bits AS (SELECT a.doc_id, a.kind, CAST(a.seg AS INT) AS b,
          CASE WHEN n.eb > a.eb THEN 1 ELSE 0 END AS bit
        FROM bk a JOIN bk n
          ON n.doc_id = a.doc_id AND n.seg = a.seg + 1
        WHERE a.seg < 64),
      s AS (SELECT doc_id, kind,
          sum(CAST(bit AS HUGEINT) * CAST(1::UBIGINT << b AS HUGEINT)) AS h
        FROM bits GROUP BY doc_id, kind)
      SELECT doc_id AS media_id, kind,
        CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
          THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS ahash
      FROM s ORDER BY media_id"""))

  /** Banded Hamming near-dup pairs over q149's audio fingerprints —
    * identical machinery and oracle device as q117 (maxHamming 3 < 4
    * bands ⇒ banding exhaustive by pigeonhole, so the oracle re-derives
    * pairs from the hashes alone). */
  private val q150 = Q(
    "q150_media_audio_neardup",
    (s, dir) => Multimodal.ahashNearDupPairs(
        Multimodal.ahashTable(
          Multimodal.ingestFromDocuments(Tables(s, dir).documents)))
      .orderBy(col("kind"), col("id_a"), col("id_b")),
    Some("""WITH h AS (SELECT media_id, kind, ahash
        FROM read_parquet('__VERIFY_OUT__/q149_media_ahash/*.parquet')),
      u AS (SELECT media_id, kind,
          CAST(CASE WHEN ahash < 0 THEN ahash + 18446744073709551616::HUGEINT
            ELSE CAST(ahash AS HUGEINT) END AS UBIGINT) AS uh
        FROM h)
      SELECT a.kind, a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.uh, b.uh)) AS INTEGER) AS hamming
      FROM u a JOIN u b ON a.kind = b.kind AND a.media_id < b.media_id
      WHERE bit_count(xor(a.uh, b.uh)) <= 3
      ORDER BY a.kind, id_a, id_b"""))

  /** DCT perceptual hash per media blob ([[Multimodal.phash16]]) —
    * q116's dHash reads local gradients; the pHash bits read the GLOBAL
    * low-frequency shape, the second leg of the standard perceptual-
    * dedup ensemble. Everything is exact integer arithmetic (quantized
    * cosine table shared verbatim with this oracle), so the DuckDB
    * restatement is relational: the 8×8 stub grid unnests to cells, two
    * joins against the 32-row cosine VALUES table and one GROUP BY
    * compute all 16 DCT coefficients, the median is the 8th-smallest AC
    * value (odd count — a pure multiset position, tie-proof), and the
    * bits pack with integer shifts. Real-image payloads take the
    * block-average-luma grid (hand-pinned in MultimodalSpec along with
    * the EXACT brightness invariance the zero-sum AC rows buy). */
  private val q216 = Q(
    "q216_media_phash",
    (s, dir) => Multimodal.phashTable(
        Multimodal.ingestFromDocuments(Tables(s, dir).documents))
      .select(col("media_id"), col("kind"), col("phash"))
      .orderBy(col("media_id")),
    Some {
      val cosRows = (for (u <- 0 until 4; x <- 0 until 8)
        yield s"($u, $x, ${graft.operators.Multimodal.CosQ(u)(x)})")
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, 'media/' || lang AS kind, text,
            length(text) AS len FROM documents),
        cells AS (SELECT d.doc_id, d.kind, u.i AS i,
            CASE WHEN d.len = 0 THEN 0
              ELSE unicode(substr(d.text,
                CAST(u.i % d.len AS INTEGER) + 1, 1)) END AS pix
          FROM d CROSS JOIN (SELECT unnest(range(0, 64)) AS i) u),
        cosq AS (SELECT * FROM (VALUES $cosRows) t(u, x, c)),
        f AS (SELECT c.doc_id, c.kind, cu.u AS u, cv.u AS v,
            CAST(sum(CAST(c.pix AS BIGINT) * cu.c * cv.c) AS BIGINT) AS f
          FROM cells c
          JOIN cosq cu ON cu.x = c.i % 8
          JOIN cosq cv ON cv.x = c.i // 8
          GROUP BY 1, 2, 3, 4),
        ac AS (SELECT doc_id, kind, u, v, f FROM f
          WHERE NOT (u = 0 AND v = 0)),
        med AS (SELECT doc_id, kind, f AS med FROM (
            SELECT doc_id, kind, f, row_number()
              OVER (PARTITION BY doc_id, kind ORDER BY f) AS rn
            FROM ac) WHERE rn = 8),
        h AS (SELECT a.doc_id, a.kind,
            sum(CASE WHEN a.f > m.med
              THEN 1 << (a.v * 4 + a.u) ELSE 0 END) AS phash
          FROM ac a JOIN med m USING (doc_id, kind) GROUP BY 1, 2)
        SELECT doc_id AS media_id, kind, CAST(phash AS INTEGER) AS phash
        FROM h ORDER BY media_id"""
    })

  /** Perceptual-dedup ENSEMBLE: a near-dup pair must agree under both
    * hashes — q117's banded dHash candidates (local gradients, Hamming
    * ≤ 3) intersected with pHash agreement (global DCT shape, Hamming
    * ≤ 2 over 15 bits). The standard production discipline: either
    * hash alone false-positives on its blind spot (dHash on smooth
    * gradients, pHash on texture), the conjunction keeps only pairs
    * alike in BOTH senses. Plan shape: the banded dHash self-join does
    * the candidate generation (only colliding blobs meet); the pHash
    * check is two model-sized hash-table joins + one codegen'd
    * bit_count — no second pair-generation pass. Oracle: the q117 pair
    * SQL re-derived from both fixture hash tables. */
  private val q218 = Q(
    "q218_phash_ensemble",
    (s, dir) => {
      val media = Multimodal.ingestFromDocuments(Tables(s, dir).documents)
      val pairs = Multimodal.dhashNearDupPairs(Multimodal.dhashTable(media))
      val ph = Multimodal.phashTable(media)
        .select(col("media_id"), col("phash"))
      pairs
        .join(ph.select(col("media_id").as("id_a"), col("phash").as("ph_a")),
          Seq("id_a"))
        .join(ph.select(col("media_id").as("id_b"), col("phash").as("ph_b")),
          Seq("id_b"))
        .withColumn("phash_hamming",
          bit_count(expr("ph_a ^ ph_b")).cast("int"))
        .filter(col("phash_hamming") <= 2)
        .select(col("kind"), col("id_a"), col("id_b"), col("hamming"),
          col("phash_hamming"))
        .orderBy(col("kind"), col("id_a"), col("id_b"))
    },
    Some("""WITH h AS (SELECT media_id, kind, dhash
        FROM read_parquet('__VERIFY_OUT__/q116_media_dhash/*.parquet')),
      p AS (SELECT media_id, phash
        FROM read_parquet('__VERIFY_OUT__/q216_media_phash/*.parquet')),
      u AS (SELECT media_id, kind,
          CAST(CASE WHEN dhash < 0 THEN dhash + 18446744073709551616::HUGEINT
            ELSE CAST(dhash AS HUGEINT) END AS UBIGINT) AS uh
        FROM h)
      SELECT a.kind, a.media_id AS id_a, b.media_id AS id_b,
        CAST(bit_count(xor(a.uh, b.uh)) AS INTEGER) AS hamming,
        CAST(bit_count(xor(CAST(pa.phash AS UBIGINT),
          CAST(pb.phash AS UBIGINT))) AS INTEGER) AS phash_hamming
      FROM u a JOIN u b ON a.kind = b.kind AND a.media_id < b.media_id
      JOIN p pa ON pa.media_id = a.media_id
      JOIN p pb ON pb.media_id = b.media_id
      WHERE bit_count(xor(a.uh, b.uh)) <= 3
        AND bit_count(xor(CAST(pa.phash AS UBIGINT),
          CAST(pb.phash AS UBIGINT))) <= 2
      ORDER BY a.kind, id_a, id_b"""))

  override val all: Seq[Q] =
    Seq(q70, q71, q72, q116, q117, q118, q149, q150, q216, q218)
}
