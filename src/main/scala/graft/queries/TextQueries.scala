package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.sources.Tables
import graft.functions.TextFunctions._
import graft.operators.{Bpe, Classifier, Dedup, Dsir, LangModel, Metrics, Sampling, Sketches}

/** Text-analysis + dedup surface over the `documents` table — the
  * LLM-training-data operators (BASELINE.json north star) layered on the
  * reference's content-dedup idea (TicketProcessor.php:353-373).
  * SQL-expressible ops carry a DuckDB oracle. Signature-BASED ops go one
  * step further: the signatures themselves (xxhash64-derived — not
  * SQL-restatable) are exported once by q77 as a parquet fixture BOTH
  * engines read, and the q38/q39 oracles re-derive all downstream algebra
  * (banding, Hamming, verify, survivorship) from the shared signatures.
  * Only the sketch internals stay rows-only (HLL) — those are pinned
  * against brute-force ground truth in ScalaTest.
  */
object TextQueries extends QueryPack {

  /** Decomposed-combining-character suffix planted by q153 (e + U+0301,
    * n + U+0303): NFC composes both, shrinking it by exactly 2 code
    * points. One definition feeds the Spark literal AND the oracle SQL
    * so the two engines normalize identical bytes. */
  private val NfcSuffix = " caf\u0065\u0301 ma\u006E\u0303ana"


  /** Content fingerprinting (rolling dedup key): md5 of normalized text. */
  private val q30 = Q(
    "q30_doc_fingerprint",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id"""))

  /** Exact-dedup groups on the fingerprint (keep-min-id survivorship). */
  private val q31 = Q(
    "q31_exact_dedup_groups",
    (s, dir) => Dedup.exactDupGroups(
        Tables(s, dir).documents, col("text"), col("doc_id"))
      .orderBy(col("fp")),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      count(*) AS n, min(doc_id) AS keep_id
      FROM documents GROUP BY 1 ORDER BY fp"""))

  /** Token / punctuation counting (whitespace + punct classes). */
  private val q32 = Q(
    "q32_token_stats",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
      CAST(length(text) AS BIGINT) AS n_chars_measured
      FROM documents ORDER BY doc_id"""))

  /** Composite quality score — length/stopword/punctuation mix, mirrored
    * term-for-term in the oracle so float trees evaluate identically. */
  private val q33 = Q(
    "q33_quality_score",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, round(
        least(1.0, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 200.0) * 0.5
      + least(1.0, (CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE)
          / greatest(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0)) * 4.0) * 0.3
      + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
          / greatest(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0)) * 10.0)) * 0.2
      , 4) AS quality FROM documents ORDER BY doc_id"""))

  /** Stopword-profile language ID with fixed argmax tie order. */
  private val q34 = Q(
    "q34_lang_id",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        stopwordHits(col("text"), "en").as("s_en"),
        stopwordHits(col("text"), "es").as("s_es"),
        stopwordHits(col("text"), "de").as("s_de"),
        stopwordHits(col("text"), "fr").as("s_fr"),
        langPredict(col("text")).as("lang_pred"))
      .orderBy(col("doc_id")),
    Some("""WITH s AS (SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS BIGINT) AS s_en,
        CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los)\b')) AS BIGINT) AS s_es,
        CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|ein|zu)\b')) AS BIGINT) AS s_de,
        CAST(len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|un|une)\b')) AS BIGINT) AS s_fr
        FROM documents)
      SELECT doc_id, s_en, s_es, s_de, s_fr,
        CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred
      FROM s ORDER BY doc_id"""))

  /** Corpus rollup by (lang, source) — doc volume + char mass. */
  private val q35 = Q(
    "q35_corpus_stats",
    (s, dir) => Tables(s, dir).documents
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"), col("source")),
    Some("""SELECT lang, source, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars, round(avg(n_chars), 2) AS avg_chars
      FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Word-trigram shingling stats (the MinHash building block, with a
    * pure-SQL oracle via positional self-joins). */
  private val q36 = Q(
    "q36_shingle_stats",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        graft.plans.NativeExprs.shingleStats(col("text"), 3).as("st"))
      .select(col("doc_id"), col("st.n_shingles").as("n_shingles"),
        col("st.n_distinct_shingles").as("n_distinct_shingles"))
      .filter(col("n_shingles") > 0)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id,
        unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos
        FROM documents),
      t AS (SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
      SELECT doc_id, count(*) AS n_shingles,
        count(DISTINCT sh) AS n_distinct_shingles
      FROM t GROUP BY doc_id ORDER BY doc_id"""))

  /** Exact word-set Jaccard over a deterministic blocked pairset (adjacent
    * doc ids) — the n-gram-Jaccard dedup primitive with a full oracle. */
  private val q37 = Q(
    "q37_adjacent_jaccard",
    (s, dir) => {
      val t = Tables(s, dir)
      val sets = t.documents.select(col("doc_id"),
        array_distinct(tokens(col("text"))).as("words"))
      val a = sets.select(col("doc_id").as("id_a"), col("words").as("words_a"))
      val b = sets.select(col("doc_id").as("id_b"), col("words").as("words_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(jaccard(col("words_a"), col("words_b")), 4).as("jaccard"))
        .orderBy(col("id_a"))
    },
    Some("""WITH w AS (SELECT doc_id,
        list_distinct(regexp_extract_all(text, '\S+')) AS ws FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
          / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jaccard
      FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 ORDER BY id_a"""))

  /** Persisted signature table: per-doc sorted distinct word hashes, the
    * LSH band hashes of the 64-slot minhash signature (4 bands × 16 rows —
    * q38's exact parameters), and the 64-bit simhash — the reusable index
    * artifact a 100 TB dedup pipeline materializes ONCE and shares across
    * runs instead of re-hashing the corpus per query. Map-only (no shuffle,
    * no sort — at scale this is a straight scan→write).
    *
    * FULL ORACLE (the q93 verdict device): xxhash64-of-a-STRING is the one
    * step SQL cannot restate, so the 'wh' rows ride from the export 1:1 —
    * but everything DOWNSTREAM of the word hashes is integer lane
    * arithmetic, and DuckDB re-derives ALL of it from those rows with the
    * [[XxhashSqlGen]] closed formulas: the 64 minhash slots (min over
    * signed longs of hashInt(k, hashLong(wh, 42)) — the exact
    * NativeExprKernels.minhashSig chain), the four band hashes (a
    * recursive-CTE fold of hashLong lanes over the 16 raw slots plus the
    * band index — the exact multi-arg xxhash64 chaining lshBandHashes
    * emits), and the 64-bit simhash (per-bit majority over the wh rows,
    * excluding the empty-token hash the native kernel skips). A drifted
    * slot, band, or sim bit anywhere breaks the driver's frame hash.
    *
    * Registered-query contract: the export is LONG-FORMAT SCALAR rows
    * (doc_id, kind, idx, value) — one row per word hash (kind 'wh'), per
    * band hash (kind 'band'), and one 'sim' row per doc — because the
    * driver's rows-only checker sorts the frame in pandas, which cannot
    * sort array cells (the CORRECTNESS_r06 q77 RED row). The oracles
    * re-assemble arrays with list(value ORDER BY idx) where they need
    * them. One explode over the map-only scan; still no shuffle. */
  private val q77 = Q(
    "q77_signature_table",
    (s, dir) => Dedup.signatureTable(
      Tables(s, dir).documents, col("text"), col("doc_id"),
      numHashes = 64, bands = 4),
    Some(q77OracleSql))

  /** MinHash+LSH near-dup dedup (banded bucket join + exact-jaccard verify
    * + greedy keep-min survivorship). FULL ORACLE via the q77 signature
    * fixture (`__VERIFY_OUT__` is substituted by graft.Verify with the
    * absolute output dir, so DuckDB reads the same signatures Spark wrote
    * in the same gate run): the SQL re-derives candidates from exact band-
    * hash agreement, verifies with list-intersection Jaccard (identical
    * arithmetic to the sorted-merge native kernel: |∩|/(|a|+|b|-|∩|) on
    * distinct sorted arrays, rounded 4dp), and drops every id_b of a
    * passing pair — cross-checking the operator's join/dedup/survivor
    * algebra. Pair precision/recall vs brute force stays in ScalaTest. */
  private val q38 = Q(
    "q38_minhash_dedup",
    (s, dir) => Dedup.minhashDedupSurvivors(
      Tables(s, dir).documents, col("text"), col("doc_id"),
      numHashes = 64, bands = 4, threshold = 0.95),
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      cand AS (SELECT DISTINCT a1.doc_id AS id_a, a2.doc_id AS id_b
        FROM b a1 JOIN b a2
          ON a1.band = a2.band AND a1.bh = a2.bh AND a1.doc_id < a2.doc_id),
      pairs AS (SELECT id_a, id_b,
          round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
            / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
            4) AS j
        FROM cand JOIN s sa ON sa.doc_id = cand.id_a
                  JOIN s sb ON sb.doc_id = cand.id_b),
      dropped AS (SELECT DISTINCT id_b FROM pairs WHERE j >= 0.95)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM dropped) ORDER BY doc_id"""))

  /** SimHash near-dup dedup (16-bit bands, hamming verify, survivorship).
    * FULL ORACLE via the q77 fixture (see q38): DuckDB re-derives the four
    * 16-bit bands from the shared signature with the same arithmetic-shift
    * + mask the operator uses ((sig >> 16b) & 0xFFFF — identical for any
    * sign after the mask), candidates from exact band agreement, and drops
    * id_b where bit_count(xor) <= 6. */
  private val q39 = Q(
    "q39_simhash_dedup",
    (s, dir) => Dedup.simhashDedupSurvivors(
      Tables(s, dir).documents, col("text"), col("doc_id"), maxHamming = 6),
    Some("""WITH s AS (SELECT doc_id, value AS simsig
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')
        WHERE kind = 'sim'),
      b AS (SELECT doc_id, simsig, band, (simsig >> (band * 16)) & 65535 AS bh
        FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
      dropped AS (SELECT DISTINCT a2.doc_id AS id_b
        FROM b a1 JOIN b a2
          ON a1.band = a2.band AND a1.bh = a2.bh AND a1.doc_id < a2.doc_id
        WHERE bit_count(xor(a1.simsig, a2.simsig)) <= 6)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM dropped) ORDER BY doc_id"""))

  /** Shared q85/q86 projection: the repetition profile fractions at 4dp
    * from the one-pass native kernel (raw counts → fractions here, so all
    * rounding is the engine's own round()). n_lines >= 1 always (split
    * yields at least one line); the char/gram denominators are guarded. */
  private def repetitionFractions(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir).documents
      .select(col("doc_id"),
        graft.plans.NativeExprs.repetitionStats(col("text"), 2).as("rs"))
      .select(col("doc_id"),
        col("rs.n_lines").as("n_lines"),
        round(col("rs.n_dup_lines").cast("double") / col("rs.n_lines"), 4)
          .as("dup_line_frac"),
        when(col("rs.line_chars") > 0,
          round(col("rs.dup_line_chars").cast("double") / col("rs.line_chars"), 4))
          .otherwise(0.0).as("dup_line_char_frac"),
        when(col("rs.n_ngrams") > 0,
          round(col("rs.top_ngram_count").cast("double") / col("rs.n_ngrams"), 4))
          .otherwise(0.0).as("top_2gram_frac"))

  /** The SQL restatement of the repetition profile, shared by the q85/q86
    * oracles: lines via string_split on chr(10) (the kernel splits with
    * limit -1 for exactly this parity), duplicate chars as Σ (cnt−1)·len
    * over distinct lines, 2-gram dominance via the positional self-join
    * device (see q36). */
  private val repetitionSql = """WITH l AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
      lx AS (SELECT doc_id, unnest(lines) AS line FROM l),
      lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS ln
        FROM lx GROUP BY doc_id, line),
      ls AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
          CAST(sum(cnt - 1) AS BIGINT) AS n_dup_lines,
          CAST(sum((cnt - 1) * ln) AS BIGINT) AS dup_chars,
          CAST(sum(cnt * ln) AS BIGINT) AS line_chars
        FROM lc GROUP BY doc_id),
      w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos
        FROM documents),
      g AS (SELECT a.doc_id, a.word || ' ' || b.word AS gram
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      gc AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_grams FROM (
          SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
        GROUP BY doc_id),
      f AS (SELECT d.doc_id, ls.n_lines,
          round(CAST(ls.n_dup_lines AS DOUBLE) / ls.n_lines, 4) AS dup_line_frac,
          CASE WHEN ls.line_chars > 0
            THEN round(CAST(ls.dup_chars AS DOUBLE) / ls.line_chars, 4)
            ELSE 0.0 END AS dup_line_char_frac,
          CASE WHEN COALESCE(gc.n_grams, 0) > 0
            THEN round(CAST(gc.top_cnt AS DOUBLE) / gc.n_grams, 4)
            ELSE 0.0 END AS top_2gram_frac
        FROM documents d JOIN ls ON ls.doc_id = d.doc_id
        LEFT JOIN gc ON gc.doc_id = d.doc_id)"""

  /** Repetition profile (Gopher/FineWeb-style quality signals): duplicate-
    * line fraction, the char mass of duplicate copies, and top word-2-gram
    * dominance — per doc, map-only (one native kernel pass per row, no
    * shuffle; at 100 TB a straight scan). */
  private val q85 = Q(
    "q85_repetition_stats",
    (s, dir) => repetitionFractions(s, dir).orderBy(col("doc_id")),
    Some(repetitionSql +
      " SELECT * FROM f ORDER BY doc_id"))

  /** Repetition-based quality gate (the filter the profile exists for):
    * keep docs under Gopher-ish thresholds. Same map-only scan. */
  private val q86 = Q(
    "q86_repetition_filter",
    (s, dir) => repetitionFractions(s, dir)
      .filter(col("dup_line_frac") <= 0.3 &&
        col("dup_line_char_frac") <= 0.2 && col("top_2gram_frac") <= 0.2)
      .select(col("doc_id"))
      .orderBy(col("doc_id")),
    Some(repetitionSql +
      """ SELECT doc_id FROM f
      WHERE dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2
        AND top_2gram_frac <= 0.2 ORDER BY doc_id"""))

  /** Per-source quota cap (the FineWeb-style per-domain cap): keep the 50
    * best docs per source by quality score, ties → doc_id. Plans as a
    * WindowGroupLimit over one exchange on `source` — the per-group
    * top-k never global-sorts, and at 100 TB the cap bounds every
    * source's contribution to the training mix regardless of its crawl
    * volume. */
  private val q87 = Q(
    "q87_source_quota",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      Tables(s, dir).documents
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("quality"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .select(col("doc_id"), col("source"), col("quality"))
        .orderBy(col("source"), col("doc_id"))
    },
    Some("""WITH q AS (SELECT doc_id, source, round(
        least(1.0, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 200.0) * 0.5
      + least(1.0, (CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE)
          / greatest(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0)) * 4.0) * 0.3
      + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
          / greatest(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0)) * 10.0)) * 0.2
      , 4) AS quality FROM documents),
      r AS (SELECT doc_id, source, quality, row_number() OVER (
          PARTITION BY source ORDER BY quality DESC, doc_id) AS rn FROM q)
      SELECT doc_id, source, quality FROM r WHERE rn <= 50
      ORDER BY source, doc_id"""))

  /** Per-doc top-3 TF-IDF keywords — the corpus-wide two-pass analytic
    * (term document-frequencies need the whole corpus; everything else is
    * per-doc): one shuffle to (doc_id, term) counts, one term-keyed
    * aggregate for df, a shuffle join back on term (AQE handles stopword
    * skew; the df side is pre-aggregated to one row per term), the corpus
    * size as a 1-row broadcast, and a per-doc group-limit window. idf is
    * the RATIONAL (N+1)/(df+1) variant, not ln — monotone in 1/df like
    * log-idf but pure arithmetic, so the oracle restates the float tree
    * exactly in the engine's round() parity class (the same discipline as
    * q33's quality score; ln would bet on libm agreement). */
  private val q88 = Q(
    "q88_tfidf_keywords",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val tc = docs
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf_raw"))
      val dl = tc.groupBy(col("doc_id")).agg(sum(col("tf_raw")).as("n_tokens"))
      val dfT = tc.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tc.join(dl, "doc_id").join(dfT, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round((col("tf_raw").cast("double") / col("n_tokens")) *
            ((col("n_docs") + 1.0) / (col("df") + 1.0)), 4).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },
    Some("""WITH toks AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '\S+')) AS term
        FROM documents),
      tc AS (SELECT doc_id, term, count(*) AS tf_raw
        FROM toks GROUP BY doc_id, term),
      dl AS (SELECT doc_id, sum(tf_raw) AS n_tokens FROM tc GROUP BY doc_id),
      df AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      sc AS (SELECT tc.doc_id, tc.term,
          round((CAST(tc.tf_raw AS DOUBLE) / dl.n_tokens)
            * ((n.n_docs + 1.0) / (df.df + 1.0)), 4) AS score
        FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n),
      r AS (SELECT doc_id, term, score, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
      SELECT doc_id, term, score FROM r WHERE rn <= 3
      ORDER BY doc_id, score DESC, term"""))

  /** HLL approximate distinct (approx_count_distinct) next to exact — the
    * sketch surface. HLL++ internals differ across engines by design, so
    * the float estimate itself is not oracle-comparable; instead the
    * registered output is a TOLERANCE VERDICT — the exact counts (hash-
    * compared against DuckDB's own `count(DISTINCT ...)`) plus a boolean
    * per column asserting |approx−exact|/exact ≤ 3·rsd (rsd = 0.05, the
    * approx_count_distinct default). The oracle claims TRUE; if Spark's
    * sketch ever drifts out of tolerance the Spark side emits FALSE and
    * the row hash-mismatches — a real pass/fail row, not rows-only. */
  private val q40 = Q(
    "q40_approx_distinct",
    (s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.agg(
          approx_count_distinct(col("l_orderkey")).as("a_o"),
          approx_count_distinct(col("l_partkey")).as("a_p"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_orders"), col("exact_parts"),
          lit(0.15).as("rel_tol"),
          (abs(col("a_o") - col("exact_orders")).cast("double")
            / col("exact_orders") <= lit(0.15)).as("orders_within_tol"),
          (abs(col("a_p") - col("exact_parts")).cast("double")
            / col("exact_parts") <= lit(0.15)).as("parts_within_tol"))
    },
    Some("""SELECT
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        CAST(0.15 AS DOUBLE) AS rel_tol,
        TRUE AS orders_within_tol, TRUE AS parts_within_tol
      FROM lineitem"""))

  /** BPE-ish subword tokenization (letter runs / digit runs / single
    * punctuation) — the regex token counter for training-data budgeting. */
  private val q41 = Q(
    "q41_bpeish_tokens",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        size(bpeishTokens(col("text"))).cast("long").as("n_subwords"),
        size(array_distinct(bpeishTokens(col("text")))).cast("long").as("n_unique_subwords"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
      CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_unique_subwords
      FROM documents ORDER BY doc_id"""))

  /** The winnowing scheme restated for the DuckDB oracle — full cross-
    * engine hash-match, not rows-only. The kernel
    * (NativeExprKernels.winnowFingerprints) is: normalize (lowercase,
    * trim, collapse \s+), rolling k-gram polynomial hash base 1000003
    * with Java wrap-around (= mod 2^64, compared SIGNED), rightmost
    * minimum per sliding window of `w` hashes, deduped by position. The
    * SQL computes each gram hash as a k-term Σ c·Bᵉ in HUGEINT mod 2^64
    * (the Bᵉ mod 2^64 constants below come from Scala's own wrapping
    * Long multiply), maps to signed BIGINT, and picks window minima with
    * arg_min over a composite (signed h, rightmost pos) key packed into
    * one HUGEINT. Every CTE mirrors one stage of the operator:
    * norm/chars/grams = the kernel, wins/picks = window-min + positional
    * dedup, postings..scored = Dedup.winnowContainmentPairs' inverted-
    * index plan (df cap, df>=2 pair pruning, containment score).
    *
    * ASSUMES ASCII fixture text (same caveat as q71): the kernel hashes
    * UTF-16 code units (charAt) while the SQL hashes DuckDB unicode(ch)
    * codepoints — identical only while every char is single-byte/BMP.
    * FixtureSpec pins `length(text) == octet_length(text)` at every
    * driver SF, so a future non-ASCII fixture fails a named test instead
    * of silently breaking the q42-q44 driver hashes. */
  private def winnowOracleCore(k: Int, w: Int, maxDf: Long): String = {
    val pows = Iterator.iterate(1L)(_ * 1000003L).take(k)
      .map(p => s"${java.lang.Long.toUnsignedString(p)}::HUGEINT")
      .mkString("[", ",", "]")
    s"""WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents),
    chars AS (
      SELECT doc_id, unnest(string_split(t, '')) AS ch,
             generate_subscripts(string_split(t, ''), 1) AS i FROM norm),
    grams AS (
      SELECT doc_id, i AS pos,
        CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
             THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS h
      FROM (
        SELECT a.doc_id, a.i,
          sum(CAST(unicode(b.ch) AS HUGEINT) * ($pows)[a.i + $k - b.i])
            % 18446744073709551616::HUGEINT AS m
        FROM chars a JOIN chars b
          ON b.doc_id = a.doc_id AND b.i BETWEEN a.i AND a.i + ${k - 1}
        GROUP BY a.doc_id, a.i HAVING count(*) = $k) t(doc_id, i, m)),
    wins AS (
      SELECT doc_id, pos,
        arg_min(pos,
          (CAST(h AS HUGEINT) + 9223372036854775808::HUGEINT)
            * 4294967296::HUGEINT + (4294967295 - pos))
          OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mpos,
        count(*) OVER (PARTITION BY doc_id) AS g FROM grams),
    picks AS (
      SELECT DISTINCT w.doc_id, w.mpos FROM wins w
      WHERE w.pos <= greatest(1, w.g - $w + 1)),
    postings AS (
      SELECT DISTINCT p.doc_id, g.h AS fp
      FROM picks p JOIN grams g ON g.doc_id = p.doc_id AND g.pos = p.mpos),
    fpdf AS (
      SELECT fp, count(*) AS df FROM postings
      GROUP BY fp HAVING count(*) <= $maxDf),
    kept AS (SELECT p.doc_id, p.fp, f.df FROM postings p JOIN fpdf f USING (fp)),
    bydoc AS (SELECT doc_id, count(*) AS n_fps FROM kept GROUP BY doc_id),
    pairfps AS (SELECT doc_id, fp FROM kept WHERE df >= 2),
    rawpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM pairfps a JOIN pairfps b
        ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
        round(shared / least(na.n_fps, nb.n_fps), 4) AS containment,
        CAST(na.n_fps AS BIGINT) AS n_a, CAST(nb.n_fps AS BIGINT) AS n_b
      FROM rawpairs JOIN bydoc na ON id_a = na.doc_id
                    JOIN bydoc nb ON id_b = nb.doc_id)"""
  }

  /** Winnowing document fingerprints (rolling k-gram hashes, min per
    * window — the MOSS scheme) via the native expression. Full oracle:
    * see [[winnowOracleCore]]. */
  private val q42 = Q(
    "q42_winnow_fingerprints",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        graft.plans.NativeExprs.winnowFingerprints(col("text"), 5, 4).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        element_at(col("fps"), 1).as("first_fp"))
      .orderBy(col("doc_id")),
    Some(winnowOracleCore(k = 5, w = 4, maxDf = 256L) + """
      SELECT d.doc_id,
        CAST(coalesce(f.n, 0) AS BIGINT) AS n_fingerprints, f.first_fp
      FROM documents d LEFT JOIN (
        SELECT p.doc_id, count(*) AS n, arg_min(g.h, p.mpos) AS first_fp
        FROM picks p JOIN grams g ON g.doc_id = p.doc_id AND g.pos = p.mpos
        GROUP BY p.doc_id) f USING (doc_id)
      ORDER BY d.doc_id"""))

  /** Containment dedup over winnowing fingerprints: inverted fp index
    * self-join with document-frequency skew guard — finds quoted/embedded
    * documents whole-set Jaccard misses. Full oracle: the same inverted-
    * index algebra over [[winnowOracleCore]]'s fingerprints. */
  private val q43 = Q(
    "q43_winnow_containment",
    (s, dir) => Dedup.winnowContainmentPairs(
      Tables(s, dir).documents, col("text"), col("doc_id"),
      k = 20, window = 8, threshold = 0.5),
    Some(winnowOracleCore(k = 20, w = 8, maxDf = 256L) +
      " SELECT * FROM scored WHERE containment >= 0.5"))

  /** Containment dedup survivorship: contained docs collapse into their
    * containers (larger fingerprint set survives). Full oracle. */
  private val q44 = Q(
    "q44_winnow_dedup",
    (s, dir) => Dedup.winnowDedupSurvivors(
      Tables(s, dir).documents, col("text"), col("doc_id"),
      k = 20, window = 8, threshold = 0.8),
    Some(winnowOracleCore(k = 20, w = 8, maxDf = 256L) + """
      , dropped AS (
        SELECT DISTINCT CASE WHEN n_a < n_b OR (n_a = n_b AND id_a > id_b)
          THEN id_a ELSE id_b END AS doc_id
        FROM scored WHERE containment >= 0.8)
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)"""))

  /** The q56/q73 blocking graph: a union of two blocking relations (shared
    * 120-char prefix, shared 100-char suffix) — the union is NOT
    * transitive, so label propagation does real work. */
  private def blockingPairs(docs: org.apache.spark.sql.DataFrame) = {
    def keyPairs(key: org.apache.spark.sql.Column, minLen: Int) = {
      val keyed = docs.filter(length(col("text")) >= minLen)
        .select(col("doc_id"), key.as("k"))
      keyed.select(col("k"), col("doc_id").as("id_a"))
        .join(keyed.select(col("k"), col("doc_id").as("id_b")), Seq("k"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    keyPairs(substring(col("text"), 1, 120), 120)
      .union(keyPairs(expr("substring(text, length(text) - 99, 100)"), 100))
      .distinct()
  }

  /** The q56/q73 ground truth: a recursive-CTE reachability closure. */
  private val closureOracle =
    """WITH RECURSIVE
      pk AS (SELECT doc_id, substr(text, 1, 120) AS k FROM documents WHERE length(text) >= 120),
      sk AS (SELECT doc_id, substr(text, length(text) - 99, 100) AS k FROM documents WHERE length(text) >= 100),
      e AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM pk a JOIN pk b ON a.k = b.k AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM sk a JOIN sk b ON a.k = b.k AND a.doc_id < b.doc_id),
      ee AS (SELECT ida AS src, idb AS dst FROM e UNION SELECT idb, ida FROM e),
      cc AS (
        SELECT src AS id, src AS label FROM ee
        UNION
        SELECT ee.dst AS id, cc.label FROM cc JOIN ee ON cc.id = ee.src)
      SELECT id AS doc_id, min(label) AS cluster_id FROM cc GROUP BY id ORDER BY doc_id"""

  /** Transitive dedup clustering via hash-min label propagation
    * (O(diameter) rounds — near-clique dedup graphs converge fast). */
  private val q56 = Q(
    "q56_dedup_clusters",
    (s, dir) => Dedup.connectedComponents(blockingPairs(Tables(s, dir).documents))
      .orderBy(col("doc_id")),
    Some(closureOracle))

  /** Same clustering via large-star/small-star (O(log n) rounds — the
    * high-diameter scale path), against the same closure oracle: both
    * algorithms must produce the identical component labeling. */
  private val q73 = Q(
    "q73_dedup_clusters_star",
    (s, dir) => Dedup.connectedComponentsStar(blockingPairs(Tables(s, dir).documents))
      .orderBy(col("doc_id")),
    Some(closureOracle))

  /** PII scrubbing (emails/URLs/phone-ish runs -> typed tags) with per-kind
    * audit counts — the standard first pass before text enters a training
    * corpus. Oracle mirrors the regex chain in the same order (URLs first
    * so path/port digits don't double-mask as phones). */
  private val q66 = Q(
    "q66_redact_pii",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        redactPii(col("text")).as("redacted"),
        piiCounts(col("text")).as("pii"))
      .select(col("doc_id"), col("redacted"),
        col("pii.n_emails").as("n_emails"),
        col("pii.n_urls").as("n_urls"),
        col("pii.n_phones").as("n_phones"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(text,
        'https?://[^\s]+', '<URL>', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\+?[0-9][0-9()\[\]. -]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
      CAST(len(regexp_extract_all(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
      CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\+?[0-9][0-9()\[\]. -]{6,}[0-9]')) AS BIGINT) AS n_phones
      FROM documents ORDER BY doc_id"""))

  /** Character-class quality profile (alpha/digit/space/other ratios) —
    * the cheap corpus-filter signals, 4dp-rounded on both sides. */
  private val q67 = Q(
    "q67_char_classes",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), charClassProfile(col("text")).as("p"))
      .select(col("doc_id"),
        col("p.alpha_ratio").as("alpha_ratio"),
        col("p.digit_ratio").as("digit_ratio"),
        col("p.space_ratio").as("space_ratio"),
        col("p.other_ratio").as("other_ratio"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      round(CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / greatest(length(text), 1), 4) AS alpha_ratio,
      round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1), 4) AS digit_ratio,
      round(CAST(len(regexp_extract_all(text, '\s')) AS DOUBLE) / greatest(length(text), 1), 4) AS space_ratio,
      round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1), 4) AS other_ratio
      FROM documents ORDER BY doc_id"""))

  /** Sequence packing for training batches (operators.Packing): two-phase
    * distributed exclusive cumsum (range partition -> parallel local
    * windows -> broadcast prefix offsets; a naive global window would
    * collapse to one partition), bin = floor(cum / budget). Oracle = the
    * same arithmetic as one DuckDB window. */
  private val q68 = Q(
    "q68_sequence_packing",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      graft.operators.Packing.packedBins(
        docs, col("doc_id"), col("n_tokens"), budget = 2048L)
        .orderBy(col("bin"))
    },
    Some("""WITH t AS (SELECT doc_id,
        CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
        CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
        FROM t)
      SELECT bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b GROUP BY bin ORDER BY bin"""))

  /** Spark's `xxhash64(doc_id, lit(42))` restated for DuckDB — the survival
    * hash behind Sampling's deterministic gates (q69/q75). XXH64 of one
    * 8-byte long is a CLOSED FORMULA (no byte loop): seed mix, one
    * multiply-rotate-multiply lane, merge, avalanche — every step 64-bit
    * wrapping arithmetic DuckDB does in HUGEINT (mulmod via 32-bit limb
    * split: a·b mod 2^64 = (a_lo·b + ((a_hi·b) mod 2^32)·2^32) mod 2^64,
    * keeping intermediates under 2^96), with xor/logical-shift through
    * lossless UBIGINT casts. Spark chains multi-arg xxhash64 by feeding
    * each column's hash in as the next seed (seed 42 start), so the gate is
    * XXH64(42, seed = XXH64(doc_id, 42)); `unit` then applies Spark's
    * pmod(·, 1e9)/1e9 to the signed value. Emits CTEs ending in
    * `unit(doc_id, lang, u)`. */
  private def xxhashUnitOracleCore: String = {
    import XxhashSqlGen._
    val base = "base AS (SELECT doc_id, lang, CASE WHEN doc_id < 0" +
      s" THEN doc_id + $big ELSE CAST(doc_id AS HUGEINT) END AS v FROM documents)"
    val (c1, last1) = stages("p", "v", "42::HUGEINT", "base")
    val (c2, last2) = stages("q", "42::HUGEINT", "hp", last1)
    (Seq(base) ++ c1 ++ c2).mkString("WITH ", ",\n", ",\n") +
      s"""unit AS (
        SELECT doc_id, lang,
          (((CASE WHEN hq >= 9223372036854775808::HUGEINT
              THEN hq - $big ELSE hq END
             % 1000000000) + 1000000000) % 1000000000) / 1e9 AS u
        FROM $last2)"""
  }

  /** XXH64-of-one-8-byte-lane as DuckDB SQL text — the closed-formula
    * chain behind [[xxhashUnitOracleCore]], factored out so any oracle
    * needing Spark's `xxhash64(longCol, ...)` (the CMS bucket rule, the
    * sampling gates) generates the identical arithmetic. See the
    * mulmod/limb-split notes on [[xxhashUnitOracleCore]]. */
  private[queries] object XxhashSqlGen {
    val M: BigInt = BigInt(2).pow(64)
    val (p1, p2, p3) = (BigInt("11400714785074694791"),
      BigInt("14029467366897019727"), BigInt("1609587929392839161"))
    val (p4, p5) = (BigInt("9650029242287828579"), BigInt("2870177450012600261"))
    val big = s"$M::HUGEINT"
    def mulmod(a: String, b: BigInt): String =
      s"((($a % 4294967296::HUGEINT) * $b::HUGEINT" +
        s" + ((($a // 4294967296::HUGEINT) * $b::HUGEINT) % 4294967296::HUGEINT)" +
        s" * 4294967296::HUGEINT) % $big)"
    def rotl(x: String, r: Int): String =
      s"((($x * ${BigInt(2).pow(r)}::HUGEINT) % $big) + ($x // ${BigInt(2).pow(64 - r)}::HUGEINT))"
    def xor(a: String, b: String): String =
      s"CAST(xor(CAST($a AS UBIGINT), CAST($b AS UBIGINT)) AS HUGEINT)"
    def shr(x: String, s: Int): String = s"($x // ${BigInt(2).pow(s)}::HUGEINT)"
    /** One XXH64(v, seed) chain as CTEs tagged `t`, result column `h$t`;
      * returns (ctes, lastCteName). `v`/`seed` are HUGEINT expressions
      * valid in `src`'s row scope. */
    def stages(t: String, v: String, seed: String, src: String): (Seq[String], String) = (Seq(
      s"x${t}a AS (SELECT *, ($seed + ${p5 + 8}::HUGEINT) % $big AS ${t}h0, ${mulmod(v, p2)} AS ${t}k1a FROM $src)",
      s"x${t}b AS (SELECT *, ${rotl(s"${t}k1a", 31)} AS ${t}k1b FROM x${t}a)",
      s"x${t}c AS (SELECT *, ${mulmod(s"${t}k1b", p1)} AS ${t}k1c FROM x${t}b)",
      s"x${t}d AS (SELECT *, ${xor(s"${t}h0", s"${t}k1c")} AS ${t}h1 FROM x${t}c)",
      s"x${t}e AS (SELECT *, ${rotl(s"${t}h1", 27)} AS ${t}h1r FROM x${t}d)",
      s"x${t}f AS (SELECT *, (${mulmod(s"${t}h1r", p1)} + $p4::HUGEINT) % $big AS ${t}h2 FROM x${t}e)",
      s"x${t}g AS (SELECT *, ${xor(s"${t}h2", shr(s"${t}h2", 33))} AS ${t}f1 FROM x${t}f)",
      s"x${t}h AS (SELECT *, ${mulmod(s"${t}f1", p2)} AS ${t}f2 FROM x${t}g)",
      s"x${t}i AS (SELECT *, ${xor(s"${t}f2", shr(s"${t}f2", 29))} AS ${t}f3 FROM x${t}h)",
      s"x${t}j AS (SELECT *, ${mulmod(s"${t}f3", p3)} AS ${t}f4 FROM x${t}i)",
      s"x${t}k AS (SELECT *, ${xor(s"${t}f4", shr(s"${t}f4", 32))} AS h$t FROM x${t}j)"),
      s"x${t}k")
    /** One XXH64-of-one-4-BYTE-INT chain (Spark XXH64.hashInt — the lane
      * the minhash kernel folds the slot index k through): seed+P5+4,
      * xor with v·P1, rotl 23, ·P2+P3, fmix. Same CTE contract as
      * [[stages]]; `v` must be a non-negative HUGEINT < 2³². */
    def stagesInt(t: String, v: String, seed: String, src: String): (Seq[String], String) = (Seq(
      s"x${t}a AS (SELECT *, ($seed + ${p5 + 4}::HUGEINT) % $big AS ${t}h0, ${mulmod(v, p1)} AS ${t}k1 FROM $src)",
      s"x${t}b AS (SELECT *, ${xor(s"${t}h0", s"${t}k1")} AS ${t}h1 FROM x${t}a)",
      s"x${t}c AS (SELECT *, ${rotl(s"${t}h1", 23)} AS ${t}h1r FROM x${t}b)",
      s"x${t}d AS (SELECT *, (${mulmod(s"${t}h1r", p2)} + $p3::HUGEINT) % $big AS ${t}h2 FROM x${t}c)",
      s"x${t}e AS (SELECT *, ${xor(s"${t}h2", shr(s"${t}h2", 33))} AS ${t}f1 FROM x${t}d)",
      s"x${t}f AS (SELECT *, ${mulmod(s"${t}f1", p2)} AS ${t}f2 FROM x${t}e)",
      s"x${t}g AS (SELECT *, ${xor(s"${t}f2", shr(s"${t}f2", 29))} AS ${t}f3 FROM x${t}f)",
      s"x${t}h AS (SELECT *, ${mulmod(s"${t}f3", p3)} AS ${t}f4 FROM x${t}g)",
      s"x${t}i AS (SELECT *, ${xor(s"${t}f4", shr(s"${t}f4", 32))} AS h$t FROM x${t}h)"),
      s"x${t}i")
    /** XXH64.hashLong(v, seed) as ONE nested-subselect pipeline (no CTEs)
      * — the form a recursive CTE's recursive term can hold, where the
      * [[stages]] CTE chain is not allowed. `inner` is a SELECT producing
      * HUGEINT columns `v` and `seed` plus the `carry` columns; the
      * result SELECT emits `carry` plus the hash as column `h`. Linear
      * text growth: each of the 12 steps adds one column to a wrapping
      * SELECT *. */
    def hashLongNestedSelect(inner: String, carry: Seq[String]): String = {
      val steps: Seq[(String, String)] = Seq(
        "nh0" -> s"(seed + ${p5 + 8}::HUGEINT) % $big",
        "nk1a" -> mulmod("v", p2),
        "nk1b" -> rotl("nk1a", 31),
        "nk1c" -> mulmod("nk1b", p1),
        "nh1" -> xor("nh0", "nk1c"),
        "nh1r" -> rotl("nh1", 27),
        "nh2" -> s"(${mulmod("nh1r", p1)} + $p4::HUGEINT) % $big",
        "nf1" -> xor("nh2", shr("nh2", 33)),
        "nf2" -> mulmod("nf1", p2),
        "nf3" -> xor("nf2", shr("nf2", 29)),
        "nf4" -> mulmod("nf3", p3),
        "nhh" -> xor("nf4", shr("nf4", 32)))
      val piped = steps.foldLeft(s"($inner)") { case (src, (c, e)) =>
        s"(SELECT *, $e AS $c FROM $src)"
      }
      s"SELECT ${carry.mkString(", ")}, nhh AS h FROM $piped"
    }
  }

  /** CTE chain computing the CMS bucket for every row of a `wh`-value
    * stream read from the q77 fixture: `b$j` = Spark's
    * `pmod(xxhash64(value, lit($j)), width)` for j < depth, re-derived
    * with [[XxhashSqlGen]]. Ends with CTE `buckets(doc_id, value, b0..)`. */
  private def cmsBucketsCore(depth: Int, width: Int): String = {
    import XxhashSqlGen._
    val base = "base AS (SELECT doc_id, value, CASE WHEN value < 0" +
      s" THEN value + $big ELSE CAST(value AS HUGEINT) END AS v" +
      " FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')" +
      " WHERE kind = 'wh')"
    val (c1, last1) = stages("s", "v", "42::HUGEINT", "base")
    var ctes = Seq(base) ++ c1
    var last = last1
    val bucketCols = (0 until depth).map { j =>
      val (cj, lastj) = stages(s"j$j", s"$j::HUGEINT", "hs", last)
      ctes ++= cj
      last = lastj
      // signed(h) then Spark pmod semantics: ((h % w) + w) % w
      s"""(((CASE WHEN hj$j >= 9223372036854775808::HUGEINT
          THEN hj$j - $big ELSE hj$j END % $width) + $width) % $width) AS b$j"""
    }
    (ctes :+ (s"buckets AS (SELECT doc_id, value, ${bucketCols.mkString(", ")}" +
      s" FROM $last)")).mkString("WITH ", ",\n", "")
  }

  /** Spark's `xxhash64("", 42)` — the hash the 'wh' rows carry for the
    * empty token (whitespace-only text splits to [""]), which the native
    * simhash kernel SKIPS; the q77 oracle's sim derivation excludes it to
    * restate that skip. Closed form: avalanche(42 + PRIME64_5). */
  private val EmptyTokenHash = -7444071767201028348L

  /** The q77 full oracle: 'wh' rows ride from the export 1:1 (string
    * hashing is the one non-restatable step); minhash slots, band hashes,
    * and the simhash are RE-DERIVED from them with [[XxhashSqlGen]]'s
    * closed formulas. Slots: min over signed longs of
    * hashInt(k, hashLong(wh, 42)) — NativeExprKernels.minhashSig exactly.
    * Bands: the multi-arg xxhash64 chain of lshBandHashes (seed 42, one
    * hashLong lane per slot, band index last) as a 17-step recursive-CTE
    * fold. Sim: strict per-bit majority over the wh rows, empty-token
    * hash excluded (the kernel's non-empty filter). */
  private def q77OracleSql: String = {
    import XxhashSqlGen._
    val half = "9223372036854775808::HUGEINT"
    def signed(x: String): String =
      s"CASE WHEN $x >= $half THEN $x - $big ELSE $x END"
    val fx = "fx AS (SELECT doc_id, kind, idx, value FROM" +
      " read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet'))"
    val whr = "whr AS (SELECT doc_id, idx, value FROM fx WHERE kind = 'wh')"
    val docs = "docs AS (SELECT DISTINCT doc_id FROM fx)"
    val wbase = "wbase AS (SELECT doc_id, CASE WHEN value < 0" +
      s" THEN value + $big ELSE CAST(value AS HUGEINT) END AS v FROM whr)"
    val (wCtes, wLast) = stages("w", "v", "42::HUGEINT", "wbase")
    val ks = "ks AS (SELECT CAST(unnest(range(0, 64)) AS HUGEINT) AS k)"
    val wk = s"wk AS (SELECT doc_id, hw, k FROM $wLast CROSS JOIN ks)"
    val (mCtes, mLast) = stagesInt("m", "k", "hw", "wk")
    val slots = s"""slots AS (SELECT doc_id, CAST(k AS BIGINT) AS k,
        min(${signed("hm")}) AS slot
      FROM $mLast GROUP BY doc_id, k)"""
    val bandin = s"""bandin AS (
      SELECT doc_id, k // 16 AS band, (k % 16) + 1 AS i,
        CASE WHEN slot < 0 THEN slot + $big ELSE slot END AS v
      FROM slots
      UNION ALL
      SELECT doc_id, bb.band, CAST(17 AS BIGINT) AS i, CAST(bb.band AS HUGEINT) AS v
      FROM docs CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS band) bb)"""
    val fold = s"""fold AS (
      SELECT doc_id, band, CAST(0 AS BIGINT) AS i, 42::HUGEINT AS h
      FROM (SELECT DISTINCT doc_id, band FROM bandin)
      UNION ALL
      ${hashLongNestedSelect(
        "SELECT f.doc_id AS doc_id, f.band AS band, f.i + 1 AS i, b.v AS v, f.h AS seed" +
          " FROM fold f JOIN bandin b ON b.doc_id = f.doc_id" +
          " AND b.band = f.band AND b.i = f.i + 1",
        Seq("doc_id", "band", "i"))})"""
    val bandh = "bandh AS (SELECT doc_id, band, h FROM fold WHERE i = 17)"
    val simsrc = s"""simsrc AS (SELECT doc_id,
        CASE WHEN value < 0 THEN CAST(value + $big AS UBIGINT)
          ELSE CAST(value AS UBIGINT) END AS u
      FROM whr WHERE value <> $EmptyTokenHash)"""
    val simb = """simb AS (SELECT doc_id, bb.b AS b,
        sum(CASE WHEN ((u >> bb.b) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE 0 END) AS votes,
        count(*) AS n
      FROM simsrc CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS b) bb
      GROUP BY doc_id, bb.b)"""
    val simh = """simh AS (SELECT doc_id,
        sum(CASE WHEN votes * 2 > n THEN CAST(1::UBIGINT << b AS HUGEINT)
          ELSE 0::HUGEINT END) AS sh
      FROM simb GROUP BY doc_id)"""
    val simall = "simall AS (SELECT d.doc_id, coalesce(s.sh, 0::HUGEINT) AS sh" +
      " FROM docs d LEFT JOIN simh s USING (doc_id))"
    (Seq(fx, whr, docs, wbase) ++ wCtes ++ Seq(ks, wk) ++ mCtes ++
      Seq(slots, bandin, fold, bandh, simsrc, simb, simh, simall))
      .mkString("WITH RECURSIVE ", ",\n", "\n") +
      s"""SELECT doc_id, 'wh' AS kind, idx, value FROM whr
        UNION ALL
        SELECT doc_id, 'band' AS kind, CAST(band AS BIGINT) AS idx,
          CAST(${signed("h")} AS BIGINT) AS value FROM bandh
        UNION ALL
        SELECT doc_id, 'sim' AS kind, CAST(0 AS BIGINT) AS idx,
          CAST(${signed("sh")} AS BIGINT) AS value FROM simall"""
  }

  /** Corpus mixture resampling (operators.Sampling): deterministic
    * hash-gated stratified subsample toward an equal-language mixture.
    * Full oracle: [[xxhashUnitOracleCore]] reproduces the survival hash
    * and the mixture fractions are recomputed from per-stratum counts with
    * the identical IEEE double steps (c/share, min, n·share/c). */
  private val q69 = Q(
    "q69_mixture_resample",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val langs = Seq("en", "es", "de", "fr")
      Sampling.resampleToMixture(
          docs, col("lang"), col("doc_id"),
          langs.map(_ -> 0.25).toMap)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    Some(xxhashUnitOracleCore + """,
      counts AS (SELECT lang AS s, count(*) AS c FROM documents
        WHERE lang IN ('en','es','de','fr') GROUP BY lang),
      nmax AS (SELECT min(c / 0.25) AS n FROM counts),
      fr AS (SELECT s, least(1.0, (SELECT n FROM nmax) * 0.25 / c) AS f
        FROM counts)
      SELECT u.doc_id, u.lang
      FROM unit u LEFT JOIN fr ON u.lang = fr.s
      WHERE u.u < coalesce(fr.f, 0.0)
      ORDER BY u.doc_id"""))

  /** Context-window document chunking (operators.Packing.chunkDocuments):
    * 200-char windows, 50-char overlap. Map-only (no orderBy: the driver
    * compare sorts rows; a global sort of a map-only frame would add a
    * sampling re-scan). Full oracle: DuckDB lateral generate_series +
    * substr reproduce the window math exactly. */
  private val q74 = Q(
    "q74_doc_chunking",
    (s, dir) => graft.operators.Packing.chunkDocuments(
      Tables(s, dir).documents, col("text"), col("doc_id"),
      chunkChars = 200, overlapChars = 50),
    Some("""WITH e AS (
        SELECT doc_id, text,
          unnest(range(0, CAST(greatest(0, (length(text) - 200 + 149) // 150) AS BIGINT) + 1)) AS i
        FROM documents WHERE length(text) > 0)
      SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        substr(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk,
        CAST(length(substr(text, CAST(i * 150 + 1 AS INTEGER), 200)) AS INTEGER) AS chunk_len
      FROM e"""))

  /** Deterministic train/val/test split (operators.Sampling.assignSplits).
    * Full oracle: [[xxhashUnitOracleCore]] reproduces the split hash; the
    * CASE bounds are the exact doubles Scala's cumulative scanLeft
    * produces (0.8 + 0.1 = 0.9000000000000001 — embedding "0.9" would
    * misclassify a row whose unit hash lands exactly on the bound). */
  private val q75 = Q(
    "q75_train_val_test_split",
    (s, dir) => Sampling.assignSplits(
        Tables(s, dir).documents,
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split")),
    Some {
      val bounds = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
      xxhashUnitOracleCore + s"""
      SELECT doc_id,
        CASE WHEN u < ${bounds(0)} THEN 'train'
             WHEN u < ${bounds(1)} THEN 'val'
             ELSE 'test' END AS split
      FROM unit"""
    })

  /** Deterministic per-language bottom-k sample (operators.Sampling
    * .bottomKSample): the k = 7 smallest unit hashes per lang, ties by
    * doc_id. Full oracle: [[xxhashUnitOracleCore]] reproduces the hash
    * and row_number() restates the rank — both engines derive the
    * identical sample from pure arithmetic. */
  private val q112 = Q(
    "q112_bottomk_sample",
    (s, dir) => Sampling.bottomKSample(
        Tables(s, dir).documents, col("lang"), col("doc_id"), k = 7)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank")),
    Some(xxhashUnitOracleCore + """,
      ranked AS (SELECT doc_id, lang,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT)
            AS sample_rank
        FROM unit)
      SELECT doc_id, lang, sample_rank FROM ranked
      WHERE sample_rank <= 7 ORDER BY lang, sample_rank"""))

  /** Naive-Bayes classifier model (operators.Classifier.naiveBayes):
    * multinomial NB trained with `lang` as the class — a trainable
    * language-ID model. FULL ORACLE by the q93 verdict device: DuckDB
    * re-derives the model's complete integer state — (cls, word) counts,
    * class token totals, vocabulary size, per-class doc counts — so keys
    * and counts hash-verify cross-engine; the logp doubles ride from the
    * export 1:1 (inner join) and each is checked against DuckDB's own
    * round(log2(·), 9) within 2e-9 in the `logp_close` verdict. The
    * export stays the fixture q114/q115 score from (exact bit-identity
    * transitively verified there), and the arithmetic is hand-pinned in
    * ClassifierSpec. */
  /** Per-dataset PERSISTED NB model and score table
    * ([[graft.Checkpoints.memo]]): a deployment trains the model
    * once, materializes the corpus score table once, and every consumer
    * (export, labeling, mismatch audit) reads the parquet instead of
    * re-training / re-scoring per query — q113/q114/q115/q119 used to
    * run the training aggregate four times and the corpus scoring pass
    * three times each bench round. Parquet round-trips the model's and
    * scores' doubles bit-exactly, so all four oracles are unchanged. */
  private def sharedNbModel(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "nb-model", dir) { p =>
      Classifier.naiveBayes(
          Tables(s, dir).documents, col("text"), col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(p)
    })
  private def sharedNbScores(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "nb-scores", dir) { p =>
      Classifier.nbScores(Tables(s, dir).documents, sharedNbModel(s, dir),
          col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(p)
    })

  private val q113 = Q(
    "q113_nb_model",
    (s, dir) => sharedNbModel(s, dir)
      .withColumn("logp_close", lit(true))
      .orderBy(col("kind"), col("cls"), col("word")),
    Some("""WITH w AS (SELECT CAST(lang AS VARCHAR) AS cls,
          unnest(regexp_extract_all(text, '\S+')) AS word
        FROM documents),
      wc AS (SELECT cls, word, count(*) AS cnt FROM w GROUP BY cls, word),
      v AS (SELECT count(DISTINCT word) AS vocab FROM w),
      tot AS (SELECT cls, sum(cnt) AS tot FROM wc GROUP BY cls),
      pr AS (SELECT CAST(lang AS VARCHAR) AS cls, count(*) AS cnt
        FROM documents GROUP BY lang),
      n AS (SELECT sum(cnt) AS n_docs FROM pr),
      drv AS (
        SELECT 'obs' AS kind, wc.word, wc.cls, CAST(wc.cnt AS BIGINT) AS cnt,
          round(log2(CAST(wc.cnt + 1 AS DOUBLE)
            / CAST(tot.tot + v.vocab AS DOUBLE)), 9) AS lp
        FROM wc JOIN tot USING (cls) CROSS JOIN v
        UNION ALL
        SELECT 'oov', '', tot.cls, CAST(0 AS BIGINT),
          round(log2(1.0 / CAST(tot.tot + v.vocab AS DOUBLE)), 9)
        FROM tot CROSS JOIN v
        UNION ALL
        SELECT 'prior', '', pr.cls, CAST(pr.cnt AS BIGINT),
          round(log2(CAST(pr.cnt AS DOUBLE) / CAST(n.n_docs AS DOUBLE)), 9)
        FROM pr CROSS JOIN n),
      f AS (SELECT kind, word, cls, logp
        FROM read_parquet('__VERIFY_OUT__/q113_nb_model/*.parquet'))
      SELECT drv.kind, drv.word, drv.cls, drv.cnt, f.logp,
        (abs(f.logp - drv.lp) <= 2e-9) AS logp_close
      FROM drv JOIN f ON drv.kind = f.kind AND drv.word = f.word
        AND drv.cls = f.cls
      ORDER BY drv.kind, drv.cls, drv.word"""))

  /** Per-(doc, class) NB log-posteriors. FULL oracle via the q113
    * fixture: DuckDB rebuilds the token stream, coalesces obs → class
    * OOV, folds the same snapped doubles in position order
    * (list_sum(list(lp ORDER BY pos)) — the q94 parity device), and adds
    * the prior inside the identical round(·, 6). The in-query re-train
    * must reproduce q113's export bit-for-bit (the q81-style determinism
    * cross-check). */
  private val q114 = Q(
    "q114_nb_scores",
    // LIVE scoring over the persisted model (not sharedNbScores): q114 is
    // where PlanSpec pins the scoring plan's broadcast shape, so the
    // registered query keeps the full corpus x model plan; q115/q119
    // consume the persisted score table instead of re-scoring.
    (s, dir) => Classifier.nbScores(Tables(s, dir).documents,
        sharedNbModel(s, dir), col("text"), col("doc_id"))
      .orderBy(col("doc_id"), col("cls")),
    Some("""WITH m AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q113_nb_model/*.parquet')),
      w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos
        FROM documents),
      cls AS (SELECT cls, logp AS lp_prior FROM m WHERE kind = 'prior'),
      obs AS (SELECT word, cls, logp FROM m WHERE kind = 'obs'),
      oov AS (SELECT cls, logp AS lp_oov FROM m WHERE kind = 'oov'),
      lp AS (SELECT w.doc_id, w.pos, c.cls, coalesce(o.logp, v.lp_oov) AS lp
        FROM w CROSS JOIN cls c
        LEFT JOIN obs o ON o.word = w.word AND o.cls = c.cls
        LEFT JOIN oov v ON v.cls = c.cls),
      agg AS (SELECT doc_id, cls, count(*) AS n_tokens,
          list_sum(list(lp ORDER BY pos)) AS s
        FROM lp GROUP BY doc_id, cls)
      SELECT d.doc_id, c.cls,
        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
        round(c.lp_prior + coalesce(a.s, 0.0), 6) + 0.0 AS score
      FROM documents d CROSS JOIN cls c
      LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.cls = c.cls
      ORDER BY d.doc_id, c.cls"""))

  /** The SPARSE many-class scoring path (Classifier.nbScoresSparse)
    * graded as its own row — q114's semantics under the plan a C≥100
    * deployment needs (observed-hits shuffle, no ×C blowup; see the
    * operator scaladoc and the TextScaleProbe 128-class rows). The wide
    * fold adds oov_c per unseen token, the sparse form adds n·oov_c in
    * one multiply, so pre-round scores differ by ~1 ulp — the oracle is
    * therefore a VERDICT row (the q93 device): keys and n_tokens
    * re-derived exactly, the exported score rides 1:1, and `score_close`
    * asserts it sits within one 6dp rounding step (1.5e-6) of DuckDB's
    * own wide-form score — a real plan bug lands parsecs outside that. */
  private val q135 = Q(
    "q135_nb_scores_sparse",
    (s, dir) => Classifier.nbScoresSparse(Tables(s, dir).documents,
        sharedNbModel(s, dir), col("text"), col("doc_id"))
      .withColumn("score_close", lit(true))
      .orderBy(col("doc_id"), col("cls")),
    Some("""WITH m AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q113_nb_model/*.parquet')),
      w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos
        FROM documents),
      cls AS (SELECT cls, logp AS lp_prior FROM m WHERE kind = 'prior'),
      obs AS (SELECT word, cls, logp FROM m WHERE kind = 'obs'),
      oov AS (SELECT cls, logp AS lp_oov FROM m WHERE kind = 'oov'),
      lp AS (SELECT w.doc_id, w.pos, c.cls, coalesce(o.logp, v.lp_oov) AS lp
        FROM w CROSS JOIN cls c
        LEFT JOIN obs o ON o.word = w.word AND o.cls = c.cls
        LEFT JOIN oov v ON v.cls = c.cls),
      agg AS (SELECT doc_id, cls, count(*) AS n_tokens,
          list_sum(list(lp ORDER BY pos)) AS s
        FROM lp GROUP BY doc_id, cls),
      wide AS (SELECT d.doc_id, c.cls,
          CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          round(c.lp_prior + coalesce(a.s, 0.0), 6) + 0.0 AS ws
        FROM documents d CROSS JOIN cls c
        LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.cls = c.cls),
      ex AS (SELECT doc_id, cls, score
        FROM read_parquet('__VERIFY_OUT__/q135_nb_scores_sparse/*.parquet'))
      SELECT wi.doc_id, wi.cls, wi.n_tokens, e.score,
        (abs(e.score - wi.ws) < 1.5e-6) AS score_close
      FROM wide wi JOIN ex e ON e.doc_id = wi.doc_id AND e.cls = wi.cls
      ORDER BY wi.doc_id, wi.cls"""))

  /** Argmax NB label per document (ties → smallest class). FULL oracle
    * via the q114 fixture: row_number over (score DESC, cls) restates
    * the min-struct argmax exactly. */
  private val q115 = Q(
    "q115_nb_label",
    (s, dir) => Classifier.nbLabel(sharedNbScores(s, dir))
      .orderBy(col("doc_id")),
    Some("""WITH s AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q114_nb_scores/*.parquet')),
      r AS (SELECT doc_id, cls,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        FROM s)
      SELECT doc_id, cls AS label FROM r WHERE rn = 1 ORDER BY doc_id"""))

  /** Classifier/metadata language-mismatch filter — the CCNet-style
    * "drop docs whose classifier label disagrees with the declared
    * language" gate, composed from q115's labels. FULL oracle via the
    * q115 fixture. */
  private val q119 = Q(
    "q119_lang_mismatch",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      docs.select(col("doc_id"), col("lang"))
        .join(Classifier.nbLabel(sharedNbScores(s, dir)), Seq("doc_id"))
        .filter(col("label") =!= col("lang"))
        .select(col("doc_id"), col("lang").as("declared_lang"),
          col("label").as("predicted_lang"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT d.doc_id, d.lang AS declared_lang, l.label AS predicted_lang
      FROM documents d
      JOIN read_parquet('__VERIFY_OUT__/q115_nb_label/*.parquet') l
        ON l.doc_id = d.doc_id
      WHERE l.label <> d.lang ORDER BY d.doc_id"""))

  /** Temperature-scaled mixture resampling (Sampling.resampleToTemperature,
    * α = 0.5) — the XLM-R/mT5 multilingual smoothing rule as a graded
    * operator: share_s ∝ √c_s, then the same deterministic hash-gated
    * stratified subsample as q69. FULL oracle: α = 0.5 keeps the share
    * arithmetic inside IEEE-exact territory (sqrt is correctly rounded by
    * both engines — generic libm pow parity is never assumed here), the
    * normalizer is re-summed in the SAME ascending-lang order via
    * list_sum(list(p ORDER BY s)), and the survival gate reuses
    * [[xxhashUnitOracleCore]]. Fractions chain min(1, n·share/c) with n =
    * min over strata of c/share — every step mirrored left-associative. */
  private val q133 = Q(
    "q133_temperature_mixture",
    (s, dir) => Sampling.resampleToTemperature(
        Tables(s, dir).documents, col("lang"), col("doc_id"), alpha = 0.5)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id")),
    Some(xxhashUnitOracleCore + """,
      counts AS (SELECT lang AS s, CAST(count(*) AS DOUBLE) AS c
        FROM documents GROUP BY lang),
      pows AS (SELECT s, c, sqrt(c) AS p FROM counts),
      z AS (SELECT list_sum(list(p ORDER BY s)) AS z FROM pows),
      shares AS (SELECT s, c, p / (SELECT z FROM z) AS share FROM pows),
      nfeas AS (SELECT min(c / share) AS n FROM shares),
      fr AS (SELECT s, least(1.0, (SELECT n FROM nfeas) * share / c) AS f
        FROM shares)
      SELECT u.doc_id, u.lang FROM unit u JOIN fr ON u.lang = fr.s
      WHERE u.u < fr.f ORDER BY u.doc_id"""))

  /** Train/eval decontamination (operators.Dedup.contamination): the
    * held-out slice is doc_id % 10 == 0; word 8-grams; full oracle via
    * DuckDB window string_agg n-gram construction (the q36 pattern
    * generalized to a frame) — both engines build the grams and the
    * cross-corpus join independently. The operator's boilerplate guard
    * (drop grams with per-side df > maxDf) is restated in the oracle as a
    * per-side count window over the distinct postings, so the two engines
    * agree BY CONSTRUCTION, not merely while no fixture gram crosses the
    * cap; the planted over-cap case is pinned in DedupSpec. (The Spark
    * side computes the same df via a map-side-combining aggregate + anti
    * join — skew-safe at scale; the window form is fine for the oracle,
    * which only ever runs at fixture SFs.) */
  private val q76 = Q(
    "q76_decontamination",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      graft.operators.Dedup.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"), n = 8)
        .orderBy(col("train_id"))
    },
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos FROM documents),
      g0 AS (SELECT doc_id,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wc
        FROM w),
      g AS (SELECT DISTINCT doc_id, gram FROM g0 WHERE wc = 8),
      tr AS (SELECT doc_id, gram FROM (
          SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
          FROM g WHERE doc_id % 10 <> 0) WHERE df <= 1000),
      te AS (SELECT doc_id, gram FROM (
          SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
          FROM g WHERE doc_id % 10 = 0) WHERE df <= 1000)
      SELECT tr.doc_id AS train_id,
        CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
        CAST(count(DISTINCT te.doc_id) AS BIGINT) AS n_eval_docs
      FROM tr JOIN te ON tr.gram = te.gram
      GROUP BY tr.doc_id ORDER BY train_id"""))

  /** Scan-first decontamination (operators.Dedup.contaminationScanFirst):
    * same corpus split and 8-grams as q76, but the train corpus never
    * explodes — a driver-collected eval-gram hash set drives one
    * map-only codegen'd prefilter (ContainsEvalGramExpr) and only
    * candidate docs meet the exact confirm join. Semantics differ from
    * q76 in ONE documented way: the df cap applies to the eval side
    * only (the train-side cap was a shuffle-skew guard this shape
    * replaces structurally), so the oracle is q76's SQL with the train
    * df filter removed. The prefilter is invisible to the oracle:
    * hash collisions only add candidates, and a collision-only
    * candidate aggregates zero string-equal shared grams. */
  private val q110 = Q(
    "q110_decon_scan",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      graft.operators.Dedup.contaminationScanFirst(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"), n = 8)
        .orderBy(col("train_id"))
    },
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos FROM documents),
      g0 AS (SELECT doc_id,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wc
        FROM w),
      g AS (SELECT DISTINCT doc_id, gram FROM g0 WHERE wc = 8),
      tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
      te AS (SELECT doc_id, gram FROM (
          SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
          FROM g WHERE doc_id % 10 = 0) WHERE df <= 1000)
      SELECT tr.doc_id AS train_id,
        CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
        CAST(count(DISTINCT te.doc_id) AS BIGINT) AS n_eval_docs
      FROM tr JOIN te ON tr.gram = te.gram
      GROUP BY tr.doc_id ORDER BY train_id"""))

  /** Bloom-prefiltered decontamination
    * (operators.Dedup.contaminationBloom): q110's scan-first shape with
    * the exact eval-gram hash set replaced by a 12-bits/gram Bloom
    * filter in the map-only prefilter — the configuration that keeps a
    * billion-gram eval suite executor-resident at 100 TB. The Bloom is
    * one-sided (no false negatives; false positives only admit
    * candidates the string-equal confirm join discards), so the output
    * is identical to q110's and the oracle IS q110's SQL. The
    * no-false-negative and FPR properties are pinned in DedupSpec. */
  private val q122 = Q(
    "q122_decon_bloom",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      graft.operators.Dedup.contaminationBloom(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"), n = 8)
        .orderBy(col("train_id"))
    },
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos FROM documents),
      g0 AS (SELECT doc_id,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wc
        FROM w),
      g AS (SELECT DISTINCT doc_id, gram FROM g0 WHERE wc = 8),
      tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
      te AS (SELECT doc_id, gram FROM (
          SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
          FROM g WHERE doc_id % 10 = 0) WHERE df <= 1000)
      SELECT tr.doc_id AS train_id,
        CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
        CAST(count(DISTINCT te.doc_id) AS BIGINT) AS n_eval_docs
      FROM tr JOIN te ON tr.gram = te.gram
      GROUP BY tr.doc_id ORDER BY train_id"""))

  /** Count-Min sketch of the per-doc word-hash stream (q77's 'wh' rows —
    * so each counter accumulates document frequency), via the native
    * mergeable typed imperative aggregate (plans.CountMinAgg, 4×512).
    * Each map task ships ONE 16 KiB summary through the exchange at any
    * corpus scale. FULL ORACLE: the bucket rule is Spark's own
    * `pmod(xxhash64(value, j), width)` long chain, which the oracle
    * re-derives from the q77 fixture with the closed-formula HUGEINT
    * XXH64 CTEs ([[XxhashSqlGen]]) and re-counts per cell — every
    * counter in the sketch is hash-checked, not just sampled. */
  private val q123 = Q(
    "q123_cms_sketch",
    (s, dir) => {
      val wh = graft.operators.Dedup.signatureTable(
          Tables(s, dir).documents, col("text"), col("doc_id"),
          numHashes = 64, bands = 4)
        .filter(col("kind") === "wh")
        .select(col("value"))
      wh.agg(graft.plans.CountMin.sketch(col("value"), 4, 512).as("cells"))
        .select(explode(col("cells")).as("e"))
        .select(col("e.row").as("row"), col("e.col").as("col"),
          col("e.cnt").as("cnt"))
        .orderBy(col("row"), col("col"))
    },
    Some(cmsBucketsCore(4, 512) + """,
      cells AS (SELECT j.row, j.col, count(*) AS cnt FROM (
          SELECT 0 AS row, b0 AS col FROM buckets
          UNION ALL SELECT 1, b1 FROM buckets
          UNION ALL SELECT 2, b2 FROM buckets
          UNION ALL SELECT 3, b3 FROM buckets) j
        GROUP BY j.row, j.col)
      SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
        CAST(cnt AS BIGINT) AS cnt
      FROM cells ORDER BY row, col"""))

  /** CMS point estimates vs exact document frequency for the top-50
    * words: the "how often did THIS key occur" answer a 4×512-long
    * sketch gives after one pass. Estimation is PURE CODEGEN'D COLUMNS —
    * the collected sketch re-enters as literal arrays and buckets come
    * from the stock `pmod(xxhash64(value, j), width)` chain, bit-identical
    * to the aggregate's update rule (plans.CountMin.estimate). FULL
    * ORACLE via the q123 + q77 fixtures: DuckDB re-derives each top
    * item's four buckets, reads the addressed counters, and takes the
    * min; est ≥ df (overcount-only) is pinned in CountMinSpec. */
  private val q124 = Q(
    "q124_cms_estimate",
    (s, dir) => {
      val wh = graft.operators.Dedup.signatureTable(
          Tables(s, dir).documents, col("text"), col("doc_id"),
          numHashes = 64, bands = 4)
        .filter(col("kind") === "wh")
        .select(col("value"))
      val cells = wh
        .agg(graft.plans.CountMin.sketch(col("value"), 4, 512).as("cells"))
        .select(explode(col("cells")).as("e"))
        .select(col("e.row"), col("e.col"), col("e.cnt"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      wh.groupBy(col("value")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("value"))
        .limit(50)
        .withColumn("est",
          graft.plans.CountMin.estimate(col("value"), cells, 4, 512))
        .select(col("value"), col("df"), col("est"))
    },
    Some(cmsBucketsCore(4, 512) + """,
      cells AS (SELECT row, col, cnt
        FROM read_parquet('__VERIFY_OUT__/q123_cms_sketch/*.parquet')),
      df AS (SELECT value, count(*) AS df FROM base GROUP BY value),
      top AS (SELECT value, df FROM (
          SELECT value, df, row_number() OVER (ORDER BY df DESC, value) AS rn
          FROM df) WHERE rn <= 50),
      tb AS (SELECT DISTINCT b.value, b.b0, b.b1, b.b2, b.b3
        FROM buckets b JOIN top t ON b.value = t.value)
      SELECT t.value, CAST(t.df AS BIGINT) AS df,
        CAST(least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) AS BIGINT) AS est
      FROM top t JOIN tb ON tb.value = t.value
      JOIN cells c0 ON c0.row = 0 AND c0.col = tb.b0
      JOIN cells c1 ON c1.row = 1 AND c1.col = tb.b1
      JOIN cells c2 ON c2.row = 2 AND c2.col = tb.b2
      JOIN cells c3 ON c3.row = 3 AND c3.col = tb.b3
      ORDER BY t.df DESC, t.value"""))

  /** The curation pipeline composed END-TO-END in one registered query —
    * what a user of the engine actually runs nightly at 100 TB: Gopher
    * quality gate (map-only codegen scan) → keep-min exact dedup (one
    * fingerprint aggregate + semi join) → eval-suite decontamination
    * (scan-first: the corpus never explodes) → deterministic
    * train/val/test split (map-only hash gate). Stage order is
    * quality-first so every later shuffle sees only surviving rows.
    * The quality cut uses the Gopher SIGNALS with thresholds tuned to
    * this corpus (the practitioner step — the canonical §A1.1 cuts pass
    * zero synthetic docs, which would make the whole gate an empty,
    * evidence-free match): n_words ≥ 30, mean_word_len ≤ 10,
    * symbol_ratio ≤ 0.1, alpha_word_frac ≥ 0.8.
    * Decontamination is per-doc subset-independent (flags depend only on
    * the doc's text and the eval postings), which is what lets the
    * oracle re-derive stage 3 from the q110 fixture restricted to the
    * survivor set; stages 1 and 4 come from the q92/q75 fixtures and
    * stage 2 is re-fingerprinted in SQL (the q31 md5 restatement). */
  private val q125 = Q(
    "q125_curation_pipeline",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val evalDocs = docs.filter(col("doc_id") % 10 === 0)
      // body-level lazy checkpoints (r19, the deferred r18 item): the
      // gate+fingerprint subtree fed FOUR consumers (keep, the semi
      // join, the contamination prefilter, the final anti-join), each
      // re-scanning documents and re-evaluating gopherQuality — 8 scans
      // in the r18 plan. `quality` materializes the gate once;
      // `deduped` materializes the survivor join once for the two
      // downstream stages (guide §1.2-1 / §2.4 share-don't-recompute).
      val quality = train
        .withColumn("g", gopherQuality(col("text")))
        .filter(col("g.n_words") >= 30 && col("g.mean_word_len") <= 10 &&
          col("g.symbol_ratio") <= 0.1 && col("g.alpha_word_frac") >= 0.8)
        .drop("g")
        .localCheckpoint(eager = false)
      val keep = graft.operators.Dedup.exactDupGroups(
          quality, col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"))
      val deduped = quality.join(keep, Seq("doc_id"), "left_semi")
        .localCheckpoint(eager = false)
      val flagged = graft.operators.Dedup.contaminationScanFirst(
          deduped, evalDocs, col("text"), col("doc_id"), n = 8)
        .select(col("train_id").as("doc_id"))
      val clean = deduped.join(flagged, Seq("doc_id"), "left_anti")
      graft.operators.Sampling.assignSplits(
          clean, col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH q AS (SELECT doc_id FROM
        read_parquet('__VERIFY_OUT__/q92_gopher_quality/*.parquet')
        WHERE n_words >= 30 AND mean_word_len <= 10
          AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8),
      surv AS (SELECT d.doc_id, d.lang,
          md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))) AS fp
        FROM documents d JOIN q ON q.doc_id = d.doc_id
        WHERE d.doc_id % 10 <> 0),
      keep AS (SELECT fp, min(doc_id) AS keep_id FROM surv GROUP BY fp),
      ded AS (SELECT s.doc_id, s.lang FROM surv s
        JOIN keep k ON k.fp = s.fp AND k.keep_id = s.doc_id),
      clean AS (SELECT ded.doc_id, ded.lang FROM ded
        LEFT JOIN read_parquet('__VERIFY_OUT__/q110_decon_scan/*.parquet') c
          ON c.train_id = ded.doc_id
        WHERE c.train_id IS NULL)
      SELECT c.doc_id, c.lang, sp.split
      FROM clean c
      JOIN read_parquet('__VERIFY_OUT__/q75_train_val_test_split/*.parquet') sp
        ON sp.doc_id = c.doc_id
      ORDER BY c.doc_id"""))

  /** The curation FUNNEL report: q125's exact pipeline re-expressed as
    * per-source attrition counts — every incoming train doc attributed
    * to its FIRST drop stage (quality gate → exact dedup → eval
    * decontamination) or to 'kept'. This is the governance artifact a
    * pipeline publishes with each corpus release ("where did the data
    * go, per source"); counts are all integers, so the oracle compare is
    * exact. Composes the same stage semantics (and fixtures) as q125;
    * the decon flag is per-doc subset-independent, which is what lets
    * the q110 fixture restrict to the deduped subset exactly. */
  private val q152 = Q(
    "q152_curation_funnel",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val evalDocs = docs.filter(col("doc_id") % 10 === 0)
      // body-level lazy checkpoint (r19, see q125): `labeled` feeds the
      // keep aggregate, the semi join AND the final attribution join —
      // uncut, each re-ran the gopher gate over its own scan.
      val labeled = train.withColumn("g", gopherQuality(col("text")))
        .withColumn("gate_ok",
          col("g.n_words") >= 30 && col("g.mean_word_len") <= 10 &&
            col("g.symbol_ratio") <= 0.1 && col("g.alpha_word_frac") >= 0.8)
        .drop("g")
        .localCheckpoint(eager = false)
      val gated = labeled.filter(col("gate_ok"))
      val keep = graft.operators.Dedup.exactDupGroups(
          gated, col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"), lit(true).as("is_keeper"))
        .distinct()
      val deduped = gated.join(keep, Seq("doc_id"), "left_semi")
      val flagged = graft.operators.Dedup.contaminationScanFirst(
          deduped, evalDocs, col("text"), col("doc_id"), n = 8)
        .select(col("train_id").as("doc_id"), lit(true).as("is_flagged"))
        .distinct()
      labeled
        .join(keep, Seq("doc_id"), "left")
        .join(flagged, Seq("doc_id"), "left")
        .withColumn("stage",
          when(!col("gate_ok"), "gate")
            .when(col("is_keeper").isNull, "exact_dup")
            .when(col("is_flagged").isNotNull, "contaminated")
            .otherwise("kept"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("stage") === "gate", 1L).otherwise(0L))
            .as("n_gate_fail"),
          sum(when(col("stage") === "exact_dup", 1L).otherwise(0L))
            .as("n_exact_dup"),
          sum(when(col("stage") === "contaminated", 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some("""WITH q AS (SELECT doc_id FROM
        read_parquet('__VERIFY_OUT__/q92_gopher_quality/*.parquet')
        WHERE n_words >= 30 AND mean_word_len <= 10
          AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8),
      tr AS (SELECT doc_id, source, text FROM documents
        WHERE doc_id % 10 <> 0),
      surv AS (SELECT t.doc_id,
          md5(trim(regexp_replace(lower(t.text), '\s+', ' ', 'g'))) AS fp
        FROM tr t JOIN q ON q.doc_id = t.doc_id),
      keep AS (SELECT fp, min(doc_id) AS keep_id FROM surv GROUP BY fp),
      ded AS (SELECT s.doc_id FROM surv s
        JOIN keep k ON k.fp = s.fp AND k.keep_id = s.doc_id),
      flag AS (SELECT train_id FROM
        read_parquet('__VERIFY_OUT__/q110_decon_scan/*.parquet')),
      lab AS (SELECT t.doc_id, t.source,
          CASE WHEN q.doc_id IS NULL THEN 'gate'
               WHEN d.doc_id IS NULL THEN 'exact_dup'
               WHEN f.train_id IS NOT NULL THEN 'contaminated'
               ELSE 'kept' END AS stage
        FROM tr t
        LEFT JOIN q ON q.doc_id = t.doc_id
        LEFT JOIN ded d ON d.doc_id = t.doc_id
        LEFT JOIN flag f ON f.train_id = t.doc_id)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN stage = 'gate' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_gate_fail,
        CAST(sum(CASE WHEN stage = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exact_dup,
        CAST(sum(CASE WHEN stage = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_contaminated,
        CAST(sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept
      FROM lab GROUP BY source ORDER BY source"""))

  /** Unicode NFC normalization ([[graft.plans.NfcExpr]]) — the
    * canonical-composition pass that precedes every hash-based operator
    * in a multilingual pipeline (decomposed "é" = e + U+0301 is a
    * different byte string to every fingerprint and join key). The
    * fixture text is ASCII, so a DECOMPOSED suffix is planted on every
    * row — the same Scala string literal feeds both engines, and NFC
    * composes exactly its two combining sequences (é, ñ), so n_composed
    * is 2 everywhere unless normalization misfires. Spark's codegen'd
    * java.text.Normalizer and DuckDB's nfc_normalize implement the same
    * Unicode algorithm; both `length`s count code points. */
  private val q153 = Q(
    "q153_nfc_normalize", {
      (s, dir) =>
        Tables(s, dir).documents.select(col("doc_id"),
            length(concat(col("text"), lit(NfcSuffix))).as("n_before"),
            length(graft.plans.NfcExpr.nfcNormalize(
              concat(col("text"), lit(NfcSuffix)))).as("n_after"))
          .withColumn("n_composed", (col("n_before") - col("n_after")).cast("int"))
          .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id,
        CAST(length(text || '$NfcSuffix') AS INT) AS n_before,
        CAST(length(nfc_normalize(text || '$NfcSuffix')) AS INT) AS n_after,
        CAST(length(text || '$NfcSuffix')
          - length(nfc_normalize(text || '$NfcSuffix')) AS INT) AS n_composed
      FROM documents ORDER BY doc_id"""))

  /** The SQL ENTRY PATH graded end-to-end: the whole query is one
    * `spark.sql(...)` text over a temp view, calling the engine's
    * injected `nfc_normalize` — so what's under test is the
    * SparkSessionExtensions injectFunction surface (GraftExtensions),
    * the analyzer resolving a graft native expression FROM SQL, and the
    * temp-view lifecycle, not just the Column API the other 170+ queries
    * exercise. Same codegen'd NfcExpr either way (q153's device, suffix
    * appended to force real decomposed→composed work); DuckDB's built-in
    * nfc_normalize is the oracle's side of the same Unicode contract. */
  private val q174 = Q(
    "q174_sql_surface", {
      (s, dir) =>
        Tables(s, dir).documents.createOrReplaceTempView("graft_docs_q174")
        s.sql(s"""SELECT lang, count(*) AS n,
            CAST(sum(CASE WHEN length(nfc_normalize(text || '$NfcSuffix'))
                < length(text || '$NfcSuffix') THEN 1 ELSE 0 END) AS BIGINT)
              AS n_decomposed,
            CAST(sum(length(text || '$NfcSuffix')
                - length(nfc_normalize(text || '$NfcSuffix'))) AS BIGINT)
              AS chars_composed
          FROM graft_docs_q174 GROUP BY lang ORDER BY lang""")
    },
    Some(s"""SELECT lang, count(*) AS n,
        CAST(sum(CASE WHEN length(nfc_normalize(text || '$NfcSuffix'))
            < length(text || '$NfcSuffix') THEN 1 ELSE 0 END) AS BIGINT)
          AS n_decomposed,
        CAST(sum(length(text || '$NfcSuffix')
            - length(nfc_normalize(text || '$NfcSuffix'))) AS BIGINT)
          AS chars_composed
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Heavy-hitter word 2-grams via the native Misra-Gries typed
    * imperative aggregate (plans.MisraGriesAgg): each map task ships one
    * ≤ capacity-entry summary (ObjectHashAggregate partial — map-side
    * combine; a per-item shuffle never happens). Registered in the EXACT
    * regime — capacity 2048 ≥ the fixture's distinct 2-grams at every
    * driver SF, so no decrement can fire and every count is exact and
    * merge-order-independent, which is what makes the plain-count DuckDB
    * oracle valid. The lossy N/(k+1) bound and merge math are pinned in
    * HeavyHittersSpec. */
  private val q111 = Q(
    "q111_heavy_hitters",
    (s, dir) => Tables(s, dir).documents
      .select(explode(shingles(col("text"), 2)).as("item"))
      .agg(graft.plans.HeavyHitters.misraGries(col("item"), 2048).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est_count"))
      .orderBy(col("est_count").desc, col("item"))
      .limit(50),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) AS pos FROM documents),
      g0 AS (SELECT doc_id,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS item,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS wc FROM w),
      c AS (SELECT item, CAST(count(*) AS BIGINT) AS est_count
        FROM g0 WHERE wc = 2 GROUP BY item)
      SELECT item, est_count FROM c
      ORDER BY est_count DESC, item LIMIT 50"""))

  /** Exact duplicate-span detection (operators.Dedup.duplicateSpans —
    * Lee et al. substring dedup): maximal runs of token positions covered
    * by a word 8-gram occurring ≥2 times corpus-wide. Full oracle: DuckDB
    * rebuilds the grams with the q76 window device (0-based positions),
    * re-derives the ≥2 occurrence filter, and replays the identical
    * interval-merge (running max of covered end, break when the next gram
    * starts past prev_end+1) — parity by construction, including the
    * self-repetition case (df counts occurrences, not documents). */
  private val q90 = Q(
    "q90_duplicate_spans",
    (s, dir) => Dedup.duplicateSpans(
        Tables(s, dir).documents, col("text"), col("doc_id"), n = 8)
      .orderBy(col("doc_id"), col("span_id")),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos FROM documents),
      g0 AS (SELECT doc_id, pos,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wc FROM w),
      g AS (SELECT doc_id, pos, gram FROM g0 WHERE wc = 8),
      d AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        WHERE df >= 2),
      h AS (SELECT doc_id, pos FROM g SEMI JOIN d USING (gram)),
      i AS (SELECT doc_id, pos,
          max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM h),
      j AS (SELECT doc_id, pos,
          sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM i)
      SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
        CAST(min(pos) AS BIGINT) AS span_start,
        CAST(max(pos + 7) AS BIGINT) AS span_end,
        CAST(max(pos + 7) - min(pos) + 1 AS BIGINT) AS span_tokens,
        CAST(count(*) AS BIGINT) AS n_grams
      FROM j GROUP BY doc_id, span_id ORDER BY doc_id, span_id"""))

  /** The scrub composed (operators.Dedup.scrubDuplicateSpans): every
    * token covered by a q90 span removed, documents reassembled in token
    * order — one output row per input document (untouched docs verbatim,
    * fully-covered docs empty, none dropped). The oracle re-derives the
    * spans exactly as q90 does, expands them to covered positions, and
    * string_aggs the surviving tokens; the final LEFT JOIN + coalesce
    * restates the operator's docs-total contract. */
  private val q91 = Q(
    "q91_span_scrub",
    (s, dir) => Dedup.scrubDuplicateSpans(
        Tables(s, dir).documents, col("text"), col("doc_id"), n = 8)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
        generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos FROM documents),
      g0 AS (SELECT doc_id, pos,
          string_agg(word, ' ') OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
          count(*) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wc FROM w),
      g AS (SELECT doc_id, pos, gram FROM g0 WHERE wc = 8),
      d AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        WHERE df >= 2),
      h AS (SELECT doc_id, pos FROM g SEMI JOIN d USING (gram)),
      i AS (SELECT doc_id, pos,
          max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM h),
      j AS (SELECT doc_id, pos,
          sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM i),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos + 7) AS e
        FROM j GROUP BY doc_id, span_id),
      cov AS (SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS pos FROM spans),
      kept AS (SELECT w.doc_id,
          string_agg(w.word, ' ' ORDER BY w.pos) AS clean_text,
          CAST(count(*) AS BIGINT) AS kept_tokens
        FROM w ANTI JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos
        GROUP BY w.doc_id)
      SELECT documents.doc_id,
        coalesce(kept.clean_text, '') AS clean_text,
        coalesce(kept.kept_tokens, 0) AS kept_tokens
      FROM documents LEFT JOIN kept ON documents.doc_id = kept.doc_id
      ORDER BY documents.doc_id"""))

  /** The full Gopher document-level quality rule set
    * (TextFunctions.gopherQuality — Rae et al. 2021 §A1.1): word-count /
    * mean-word-length bounds, symbol and bullet/ellipsis line ratios,
    * alphabetic-word fraction, required-stopword presence, plus the
    * composed gate. One map-only codegen scan. Gate comparisons happen on
    * UNROUNDED exact-IEEE ratios in both engines (see the function's
    * scaladoc); emitted fractions are 4dp. */
  private val q92 = Q(
    "q92_gopher_quality",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"), gopherQuality(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_words").as("n_words"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.symbol_ratio").as("symbol_ratio"),
        col("g.bullet_line_frac").as("bullet_line_frac"),
        col("g.ellipsis_line_frac").as("ellipsis_line_frac"),
        col("g.alpha_word_frac").as("alpha_word_frac"),
        col("g.stopword_distinct").as("stopword_distinct"),
        col("g.passes").as("passes"))
      .orderBy(col("doc_id")),
    Some("""WITH s AS (SELECT doc_id,
          len(regexp_extract_all(text, '\S+')) AS n_words,
          length(regexp_replace(text, '\s+', '', 'g')) AS word_chars,
          len(regexp_extract_all(text, '#'))
            + len(regexp_extract_all(text, '\.\.\.|…')) AS n_symbols,
          string_split(text, chr(10)) AS lines,
          len(regexp_extract_all(text, '[^\s]*[A-Za-z][^\s]*')) AS alpha_words,
          regexp_extract_all(text, '\S+') AS toks
        FROM documents),
      t AS (SELECT doc_id, n_words,
          CAST(word_chars AS DOUBLE) / n_words AS mean_len,
          CAST(n_symbols AS DOUBLE) / n_words AS symbol_ratio,
          CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
            AS DOUBLE) / len(lines) AS bullet_frac,
          CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
            AS DOUBLE) / len(lines) AS ellipsis_frac,
          CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
          (list_contains(toks, 'the')::BIGINT + list_contains(toks, 'be')::BIGINT
           + list_contains(toks, 'to')::BIGINT + list_contains(toks, 'of')::BIGINT
           + list_contains(toks, 'and')::BIGINT + list_contains(toks, 'that')::BIGINT
           + list_contains(toks, 'have')::BIGINT
           + list_contains(toks, 'with')::BIGINT) AS stop_distinct
        FROM s)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        CASE WHEN n_words > 0 THEN round(mean_len, 4) ELSE 0.0 END AS mean_word_len,
        CASE WHEN n_words > 0 THEN round(symbol_ratio, 4) ELSE 0.0 END AS symbol_ratio,
        round(bullet_frac, 4) AS bullet_line_frac,
        round(ellipsis_frac, 4) AS ellipsis_line_frac,
        CASE WHEN n_words > 0 THEN round(alpha_frac, 4) ELSE 0.0 END AS alpha_word_frac,
        CAST(stop_distinct AS BIGINT) AS stopword_distinct,
        CASE WHEN n_words BETWEEN 50 AND 100000
          AND mean_len >= 3.0 AND mean_len <= 10.0
          AND symbol_ratio <= 0.1
          AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
          AND alpha_frac >= 0.8 AND stop_distinct >= 2
          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS passes
      FROM t ORDER BY doc_id"""))

  /** Laplace-smoothed corpus bigram LM (operators.LangModel.bigramLm):
    * observed (w1,w2,cnt,logp) rows + per-prefix unseen rows (w2 = '') +
    * one global OOV row (w1 = w2 = ''). FULL ORACLE by the verdict
    * device (the q40/q127 pattern applied per row): DuckDB re-derives the
    * COMPLETE integer state from documents — every (w1,w2) key, every
    * count, the prefix totals and the vocabulary size — so the key set
    * and counts are hash-verified cross-engine; the logp doubles (engine
    * log2, which has no cross-libm-EXACT SQL restatement) ride from the
    * export 1:1 (an inner join — any key drift breaks the row counts)
    * and are each checked against DuckDB's own
    * round(log2((cnt+1)/(c1+V)), 9) within 2e-9 (one 9dp rounding step
    * plus libm slack) in the `logp_close` verdict the Spark side claims
    * TRUE: a drifting double flips the oracle's verdict to FALSE and the
    * row goes red. Exact bit-identity of the doubles is additionally
    * pinned transitively by q94's full oracle (which folds these very
    * values) and by hand-computed logp in LangModelSpec. */
  /** Persisted corpus bigram LM + per-doc CE table
    * ([[graft.Checkpoints.memo]]): train once, score once, and
    * q93/q94/q95 read parquet instead of re-running the corpus aggregate
    * (×3) and the scoring pass (×2) per round. Bit-exact round-trip. */
  private def sharedBigramLm(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "bigram-lm", dir) { p =>
      LangModel.bigramLm(Tables(s, dir).documents, col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(p)
    })
  private def sharedDocCe(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "doc-ce", dir) { p =>
      LangModel.crossEntropy(Tables(s, dir).documents, sharedBigramLm(s, dir),
          col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(p)
    })

  private val q93 = Q(
    "q93_bigram_lm",
    (s, dir) => sharedBigramLm(s, dir)
      .withColumn("logp_close", lit(true))
      .orderBy(col("w1"), col("w2")),
    Some(bigramLmVerdictOracle("q93_bigram_lm", langFilter = None)))

  /** The q93/q102 oracle body: re-derive the LM's integer state from
    * `documents` (optionally language-sliced), join the exported logp
    * back by key, and emit the per-row libm-tolerance verdict. */
  private def bigramLmVerdictOracle(
      fixture: String, langFilter: Option[String]): String = {
    val where = langFilter.map(l => s"WHERE lang = '$l'").getOrElse("")
    s"""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\\S+'), 1) - 1 AS pos
        FROM documents $where),
      bg AS (SELECT a.doc_id, a.word AS w1, b.word AS w2
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      c2 AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, sum(cnt) AS c1 FROM c2 GROUP BY w1),
      v AS (SELECT count(DISTINCT word) AS vocab FROM w),
      drv AS (
        SELECT c2.w1, c2.w2, CAST(c2.cnt AS BIGINT) AS cnt,
          round(log2(CAST(c2.cnt + 1 AS DOUBLE)
            / CAST(c1.c1 + v.vocab AS DOUBLE)), 9) AS lp
        FROM c2 JOIN c1 USING (w1) CROSS JOIN v
        UNION ALL
        SELECT c1.w1, '', CAST(0 AS BIGINT),
          round(log2(1.0 / CAST(c1.c1 + v.vocab AS DOUBLE)), 9)
        FROM c1 CROSS JOIN v
        UNION ALL
        SELECT '', '', CAST(0 AS BIGINT),
          round(log2(1.0 / CAST(v.vocab AS DOUBLE)), 9)
        FROM v),
      f AS (SELECT w1, w2, logp
        FROM read_parquet('__VERIFY_OUT__/$fixture/*.parquet'))
      SELECT drv.w1, drv.w2, drv.cnt, f.logp,
        (abs(f.logp - drv.lp) <= 2e-9) AS logp_close
      FROM drv JOIN f ON drv.w1 = f.w1 AND drv.w2 = f.w2
      ORDER BY drv.w1, drv.w2"""
  }

  /** Per-document cross-entropy under the q93 LM
    * (operators.LangModel.crossEntropy) — the CCNet perplexity filter's
    * scoring pass. FULL oracle via the fixture device: DuckDB reads q93's
    * exported logp doubles, replays the identical coalesce chain
    * (observed → prefix-unseen → OOV) and the identical position-ordered
    * IEEE fold (`list_sum(list(lp ORDER BY pos))` — the q89 device), so
    * the compare is exact with no libm call on the oracle side. */
  private val q94 = Q(
    "q94_doc_ce",
    // LIVE scoring over the persisted LM (not sharedDocCe): q94 carries
    // the PlanSpec broadcast-lookup pin, so the registered query keeps
    // the corpus x LM scoring plan; q95 consumes the persisted CE table.
    (s, dir) => LangModel.crossEntropy(Tables(s, dir).documents,
        sharedBigramLm(s, dir), col("text"), col("doc_id"))
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos
        FROM documents),
      b AS (SELECT a.doc_id, a.pos, a.word AS w1, b.word AS w2
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      lm AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q93_bigram_lm/*.parquet')),
      obs AS (SELECT w1, w2, logp FROM lm WHERE w1 <> '' AND w2 <> ''),
      uns AS (SELECT w1, logp AS lp_unseen FROM lm WHERE w1 <> '' AND w2 = ''),
      oov AS (SELECT logp AS lp_oov FROM lm WHERE w1 = '' AND w2 = ''),
      lp AS (SELECT b.doc_id, b.pos,
          coalesce(obs.logp, uns.lp_unseen, (SELECT lp_oov FROM oov)) AS lp
        FROM b LEFT JOIN obs ON b.w1 = obs.w1 AND b.w2 = obs.w2
          LEFT JOIN uns ON b.w1 = uns.w1),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          list_sum(list(lp ORDER BY pos)) AS s FROM lp GROUP BY doc_id)
      SELECT d.doc_id, coalesce(agg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        round(coalesce(-1.0 * agg.s, 0.0), 6) + 0.0 AS total_bits,
        CASE WHEN agg.n_bigrams > 0
          THEN round(-1.0 * agg.s / agg.n_bigrams, 6) + 0.0 END AS bits_per_token
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id"""))

  /** CCNet head/middle/tail banding (operators.LangModel.ceBandsScalable):
    * exact terciles of q94's bits_per_token (ties → doc_id). Oracle reads
    * q94's own (fully hash-verified) export and re-ranks with a plain
    * ntile — transitively exact. The registered implementation is the
    * DISTRIBUTED exact rank (GK-partitioned two-phase rank + literal
    * prefix offsets): bit-identical output to the single-partition ntile
    * (equality-pinned in LangModelSpec) with no global window in the plan
    * (pinned in PlanSpec — no SinglePartition exchange). */
  private val q95 = Q(
    "q95_ce_bands",
    (s, dir) => LangModel.ceBandsScalable(sharedDocCe(s, dir), 3)
      .select(col("doc_id"), col("bits_per_token"),
        col("band").cast("long").as("band"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, bits_per_token,
        CAST(ntile(3) OVER (ORDER BY bits_per_token, doc_id) AS BIGINT) AS band
      FROM read_parquet('__VERIFY_OUT__/q94_doc_ce/*.parquet')
      WHERE n_bigrams > 0 ORDER BY doc_id"""))

  /** The BPE training loop, replayed in SQL: the oracle is GENERATED —
    * one CTE block per merge round (pair count → argmax with the same
    * (cnt DESC, l, r) tie order → greedy island-parity apply), every
    * intermediate state MATERIALIZED so DuckDB never inlines the chain
    * exponentially. Everything is integer/string arithmetic, so the
    * replay is exact with no snapping device. Exhaustion is parity-safe
    * too: an empty argmax leaves the state fixed and emits no row on
    * either side. */
  private def bpeChainSql(n: Int, maxVocab: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS word
        FROM documents),
      wfall AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY word),
      wf AS MATERIALIZED (SELECT word, freq FROM wfall
        ORDER BY freq DESC, word LIMIT $maxVocab),
      s0 AS MATERIALIZED (SELECT word, freq,
        generate_subscripts(regexp_extract_all(word, '.'), 1) - 1 AS pos,
        unnest(regexp_extract_all(word, '.')) AS sym FROM wf)"""
    for (i <- 1 to n) {
      val p = i - 1
      sb ++= s""",
      p$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
          SELECT freq, sym AS l, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r FROM s$p)
        WHERE r IS NOT NULL GROUP BY l, r),
      b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
      e$i AS (SELECT word, freq, pos, sym, site,
          site AND ((pos - max(rs_pos) OVER (PARTITION BY word ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) % 2 = 0) AS applied
        FROM (SELECT *, CASE WHEN site AND NOT coalesce(lag(site) OVER (PARTITION BY word ORDER BY pos), FALSE) THEN pos END AS rs_pos
          FROM (SELECT word, freq, pos, sym,
              coalesce(sym = (SELECT l FROM b$i) AND lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM b$i), FALSE) AS site
            FROM s$p))),
      s$i AS MATERIALIZED (SELECT word, freq,
          row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
          CASE WHEN applied THEN (SELECT l FROM b$i) || (SELECT r FROM b$i) ELSE sym END AS sym
        FROM (SELECT *, coalesce(lag(applied) OVER (PARTITION BY word ORDER BY pos), FALSE) AS dropped FROM e$i)
        WHERE NOT dropped)"""
    }
    sb.toString
  }

  private val BpeRounds = 6

  /** The registered-query vocab cap. DELIBERATELY BINDING at the test
    * scale factors (the fixture vocabulary is 31 distinct words, so 20
    * caps it) — the graded plan must exercise the same bounded-driver-
    * state shape it would run at 100 TB (operator default 65536), and the
    * oracle must prove the cap semantics (keep most-frequent, ties →
    * word; out-of-vocab words segment as themselves), not just replay the
    * uncapped loop. */
  private val BpeVocabCap = 20

  /** BPE merge learning (operators.Bpe — Sennrich et al. 2016): the
    * learned merge table after 6 greedy rounds over the `BpeVocabCap`
    * most frequent words. FULL generated-SQL oracle — see
    * [[bpeChainSql]]. */
  private val q98 = Q(
    "q98_bpe_merges",
    (s, dir) => Bpe.mergeTable(
        Tables(s, dir).documents, col("text"), BpeRounds,
        maxVocab = Some(BpeVocabCap))
      .orderBy(col("step")),
    Some(bpeChainSql(BpeRounds, BpeVocabCap) + " " +
      (1 to BpeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, l AS lhs, r AS rhs, cnt AS pair_count FROM b$i")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY step")))

  /** Per-document segmentation stats under the learned merges (the
    * tokenizer applied back to its training corpus): token count and
    * distinct-symbol count per doc, docs never dropped. Same generated
    * chain, aggregated at the final state; words outside the vocab cap
    * count one token of one distinct symbol (the whole word) — the LEFT
    * joins + coalesce restate segmentStats' OOV rule. */
  private val q99 = Q(
    "q99_bpe_segment",
    (s, dir) => Bpe.segmentStats(
        Tables(s, dir).documents, col("text"), col("doc_id"), BpeRounds,
        maxVocab = Some(BpeVocabCap))
      .orderBy(col("doc_id")),
    Some(bpeChainSql(BpeRounds, BpeVocabCap) + s""",
      pw AS (SELECT word, CAST(count(*) AS BIGINT) AS w_tokens
        FROM s$BpeRounds GROUP BY word),
      nt AS (SELECT doc_id, CAST(sum(coalesce(w_tokens, 1)) AS BIGINT) AS n_tokens
        FROM tok LEFT JOIN pw USING (word) GROUP BY doc_id),
      dt AS (SELECT doc_id, CAST(count(DISTINCT sym) AS BIGINT) AS distinct_tokens
        FROM (SELECT o.doc_id, coalesce(y.sym, o.word) AS sym
          FROM (SELECT DISTINCT doc_id, word FROM tok) o
          LEFT JOIN (SELECT DISTINCT word, sym FROM s$BpeRounds) y
            ON o.word = y.word)
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(nt.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        coalesce(dt.distinct_tokens, CAST(0 AS BIGINT)) AS distinct_tokens
      FROM documents d LEFT JOIN nt ON d.doc_id = nt.doc_id
        LEFT JOIN dt ON d.doc_id = dt.doc_id
      ORDER BY d.doc_id"""))

  /** Incremental dedup against the persisted signature index
    * (operators.Dedup.dedupSignedAgainstIndex): odd doc_ids play the
    * incoming crawl batch, even doc_ids the already-indexed corpus.
    * FULL ORACLE via the q77 fixture: because the operator's map-only
    * signing of the incoming side is the SAME expression q77 ran over
    * every doc, DuckDB reads both sides' signatures from the one fixture
    * and re-derives the cross-corpus band join + jaccard verify +
    * survivorship (the q38 algebra with a parity split). */
  private val q100 = Q(
    "q100_incremental_dedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val signedIdx = Dedup.signDocs(
        docs.filter(col("doc_id") % 2 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      // the incoming side signs once into an eager checkpoint: the probe
      // reads it twice (its band broadcast and the anti join), and lazy
      // subtrees are not shared across a plan
      val signedIn = Dedup.signDocs(
        docs.filter(col("doc_id") % 2 === 1), col("text"), col("doc_id"),
        numHashes = 64, bands = 4).localCheckpoint(true)
      Dedup.dedupSignedAgainstIndex(signedIn, signedIdx, threshold = 0.95)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      cand AS (SELECT DISTINCT a1.doc_id AS id_new, a2.doc_id AS id_old
        FROM b a1 JOIN b a2 ON a1.band = a2.band AND a1.bh = a2.bh
        WHERE a1.doc_id % 2 = 1 AND a2.doc_id % 2 = 0),
      dropped AS (SELECT DISTINCT id_new FROM cand
        JOIN s sa ON sa.doc_id = cand.id_new
        JOIN s sb ON sb.doc_id = cand.id_old
        WHERE round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
          / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
          4) >= 0.95)
      SELECT doc_id FROM documents
      WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT id_new FROM dropped)
      ORDER BY doc_id"""))

  /** C4-style line/page cleaning (operators.Cleaning, Raffel et al. 2020
    * §2.2) under the driver's gate. The fixture corpus has no newlines or
    * punctuation, so the query first SYNTHESIZES multi-line pages
    * deterministically from the corpus (8 docs per page; each doc
    * contributes one line whose length, terminal punctuation, and
    * rule-poison suffixes all derive from doc_id), then cleans them.
    * Every C4 rule fires somewhere in the fixture: short lines (%5),
    * no-terminal-punct lines (%4==2), "javascript" lines (%7),
    * page-level "lorem ipsum" (%47) and '{' (%53) poisons, and the
    * minLines page gate. FULL ORACLE: DuckDB restates the synthesis
    * (string_agg ORDER BY doc_id) and every rule. */
  private val q101 = Q(
    "q101_c4_clean",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val lineLen = when(col("doc_id") % 5 === 0, lit(8))
        .otherwise((lit(40) + col("doc_id") % 40).cast("int"))
      val line = concat(
        col("text").substr(lit(1), lineLen),
        when(col("doc_id") % 53 === 0, lit(" {")).otherwise(lit("")),
        when(col("doc_id") % 47 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" javascript")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("."))
          .when(col("doc_id") % 4 === 1, lit("!"))
          .when(col("doc_id") % 4 === 2, lit(""))
          .otherwise(lit("?")))
      val pages = d
        .select(floor(col("doc_id") / 8).cast("long").as("page_id"),
          col("doc_id"), line.as("line"))
        .groupBy(col("page_id"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"), col("line")))),
            x => x.getField("line"))).as("text"))
      graft.operators.Cleaning
        .c4Clean(pages, col("text"), col("page_id"), minLines = 4)
        .orderBy(col("doc_id"))
    },
    Some("""WITH ln AS (SELECT CAST(doc_id // 8 AS BIGINT) AS page_id, doc_id,
          substr(text, 1,
            CASE WHEN doc_id % 5 = 0 THEN 8
                 ELSE CAST(40 + doc_id % 40 AS INT) END)
          || CASE WHEN doc_id % 53 = 0 THEN ' {' ELSE '' END
          || CASE WHEN doc_id % 47 = 0 THEN ' lorem ipsum' ELSE '' END
          || CASE WHEN doc_id % 7 = 0 THEN ' javascript' ELSE '' END
          || CASE WHEN doc_id % 4 = 0 THEN '.'
                  WHEN doc_id % 4 = 1 THEN '!'
                  WHEN doc_id % 4 = 2 THEN ''
                  ELSE '?' END AS line
        FROM documents),
      pg AS (SELECT page_id, string_agg(line, chr(10) ORDER BY doc_id) AS text
        FROM ln GROUP BY page_id),
      kl AS (SELECT page_id, text,
          list_filter(string_split(text, chr(10)),
            l -> regexp_matches(l, '[.!?]["'']?\s*$')
              AND len(regexp_split_to_array(trim(l), '\s+')) >= 3
              AND NOT contains(lower(l), 'javascript')) AS kept,
          len(string_split(text, chr(10))) AS n_lines
        FROM pg),
      pk AS (SELECT *,
          (len(kept) >= 4 AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS ok
        FROM kl)
      SELECT page_id AS doc_id,
        CASE WHEN ok THEN array_to_string(kept, chr(10)) ELSE '' END AS clean_text,
        CAST(len(kept) AS BIGINT) AS kept_lines,
        CAST(n_lines - len(kept) AS BIGINT) AS dropped_lines,
        CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS page_kept
      FROM pk ORDER BY doc_id"""))

  /** DSIR target-domain LM (operators.Dsir): the bigram LM of the
    * English-language slice — the "target distribution" a DSIR selection
    * steers the raw multilingual corpus toward (the paper's canonical
    * use). FULL ORACLE by the same verdict device as q93 (integer state
    * re-derived from the lang='en' slice, logp joined 1:1 from the
    * export and libm-tolerance-checked per row); the export stays the
    * fixture q103/q104's oracles consume, and every logp double is
    * additionally transitively hash-verified through q103. */
  private val q102 = Q(
    "q102_dsir_target_lm",
    // Exports the PAIR-TRAINED target LM (sharedDsirPair), not a separate
    // en-sliced training: the oracle re-derives the en-sliced model from
    // scratch, so this row now gate-checks bigramLmPair's bit-identity to
    // a standalone training (previously only a LangModelSpec pin) while
    // the pair trains once for q102/q103/q104.
    (s, dir) => sharedDsirPair(s, dir)._1
      .withColumn("logp_close", lit(true))
      .orderBy(col("w1"), col("w2")),
    Some(bigramLmVerdictOracle("q102_dsir_target_lm", langFilter = Some("en"))))

  /** DSIR importance weights (operators.Dsir.importanceWeights): per-doc
    * log-likelihood ratio under the q102 target LM vs the q93 source LM.
    * FULL ORACLE via BOTH fixtures: DuckDB re-derives the bigram stream,
    * replays each LM's coalesce chain (observed → prefix-unseen → OOV)
    * positionwise, subtracts, and folds in position order (the q89
    * device) — no libm on the oracle side; in-query re-training must
    * reproduce both exports bit-for-bit (the q81-style cross-check). */
  /** Persisted DSIR pair LMs + importance-weight table
    * ([[graft.Checkpoints.memo]]): the target/source pair trains once,
    * the corpus weights materialize once; q102 exports the target LM, q103 keeps the
    * LIVE scoring plan (its PlanSpec broadcast pin) over the persisted
    * pair, q104's top-k reads the persisted weights. */
  private def sharedDsirPair(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val path = graft.Checkpoints.memo(s, "dsir-pair", dir) { p =>
      val (lmT, lmS) = LangModel.bigramLmPair(
        Tables(s, dir).documents, col("text"), col("doc_id"),
        col("lang") === "en")
      lmT.write.mode("overwrite").parquet(s"$p/target")
      lmS.write.mode("overwrite").parquet(s"$p/source")
    }
    (s.read.parquet(s"$path/target"), s.read.parquet(s"$path/source"))
  }
  private def sharedDsirWeights(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.Checkpoints.memo(s, "dsir-weights", dir) { p =>
      val (lmT, lmS) = sharedDsirPair(s, dir)
      Dsir.importanceWeights(Tables(s, dir).documents, lmT, lmS,
          col("text"), col("doc_id"))
        .write.mode("overwrite").parquet(p)
    })

  private val q103 = Q(
    "q103_dsir_weights",
    (s, dir) => {
      val (lmT, lmS) = sharedDsirPair(s, dir)
      Dsir.importanceWeights(Tables(s, dir).documents, lmT, lmS,
          col("text"), col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(dsirWeightsSql + """
      SELECT d.doc_id, coalesce(agg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        round(coalesce(agg.s, 0.0), 6) + 0.0 AS logw
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id"""))

  /** DSIR top-k selection (operators.Dsir.selectTopK): the resampling
    * step — keep the 100 documents with the strongest target pull
    * (logw DESC, ties → doc_id). Engine plans TakeOrderedAndProject (no
    * global sort shuffle); oracle re-ranks the same weights. */
  private val q104 = Q(
    "q104_dsir_select",
    (s, dir) => Dsir.selectTopK(sharedDsirWeights(s, dir), 100),
    Some(dsirWeightsSql + """,
      wts AS (SELECT d.doc_id,
          coalesce(agg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
          round(coalesce(agg.s, 0.0), 6) + 0.0 AS logw
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id)
      SELECT CAST(row_number() OVER (ORDER BY logw DESC, doc_id) AS INT) AS rank,
        doc_id, logw
      FROM wts WHERE n_bigrams > 0
      ORDER BY logw DESC, doc_id LIMIT 100"""))

  /** Shared oracle core for q103/q104: the positionwise Δlogp stream and
    * its per-doc ordered fold, reading both LM fixtures. */
  private def dsirWeightsSql: String =
    """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos
        FROM documents),
      b AS (SELECT a.doc_id, a.pos, a.word AS w1, b.word AS w2
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      lmt AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q102_dsir_target_lm/*.parquet')),
      lms AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q93_bigram_lm/*.parquet')),
      obst AS (SELECT w1, w2, logp FROM lmt WHERE w1 <> '' AND w2 <> ''),
      unst AS (SELECT w1, logp AS lp_unseen FROM lmt WHERE w1 <> '' AND w2 = ''),
      oovt AS (SELECT logp AS lp_oov FROM lmt WHERE w1 = '' AND w2 = ''),
      obss AS (SELECT w1, w2, logp FROM lms WHERE w1 <> '' AND w2 <> ''),
      unss AS (SELECT w1, logp AS lp_unseen FROM lms WHERE w1 <> '' AND w2 = ''),
      oovs AS (SELECT logp AS lp_oov FROM lms WHERE w1 = '' AND w2 = ''),
      dlp AS (SELECT b.doc_id, b.pos,
          coalesce(obst.logp, unst.lp_unseen, (SELECT lp_oov FROM oovt))
          - coalesce(obss.logp, unss.lp_unseen, (SELECT lp_oov FROM oovs)) AS dlp
        FROM b LEFT JOIN obst ON b.w1 = obst.w1 AND b.w2 = obst.w2
          LEFT JOIN unst ON b.w1 = unst.w1
          LEFT JOIN obss ON b.w1 = obss.w1 AND b.w2 = obss.w2
          LEFT JOIN unss ON b.w1 = unss.w1),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          list_sum(list(dlp ORDER BY pos)) AS s FROM dlp GROUP BY doc_id)"""

  /** Token-budget mixture allocation
    * (operators.Sampling.tokenBudgetMix): the data-constrained-scaling
    * planning step — uniform per-source token target, capped at
    * availability × maxRepeat, leftover reported not hidden. One corpus
    * aggregate; the allocation arithmetic is S-sized. Oracle restates
    * the identical IEEE steps over the same aggregate. */
  private val q107 = Q(
    "q107_token_budget_mix",
    (s, dir) => Sampling.tokenBudgetMix(
        Tables(s, dir).documents, col("text"), col("source"),
        budget = 100000L, maxRepeat = 4.0)
      .orderBy(col("source")),
    Some("""WITH avail AS (SELECT source,
          CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY source),
      t AS (SELECT *, 100000.0 / count(*) OVER () AS target FROM avail),
      a AS (SELECT *,
          least(CAST(avail_tokens AS DOUBLE) * 4.0, target) AS alloc FROM t)
      SELECT source, avail_tokens,
        round(alloc, 2) AS alloc_tokens,
        round(alloc / CAST(avail_tokens AS DOUBLE), 4) AS epochs,
        CAST(CASE WHEN CAST(avail_tokens AS DOUBLE) * 4.0 < target
          THEN 1 ELSE 0 END AS BIGINT) AS capped,
        round(100000.0 - sum(alloc) OVER (), 2) AS leftover_tokens
      FROM a ORDER BY source"""))

  /** Deterministic epoch-shard shuffle
    * (operators.Sampling.shardAssignment): every doc gets a (shard, pos)
    * address from its xxhash64 unit — the reproducible global read order
    * of a training run, with order only ever defined WITHIN a shard (no
    * global sort). FULL ORACLE: [[xxhashUnitOracleCore]] reproduces the
    * unit hash; shard and in-shard rank are pure SQL over it. */
  private val q108 = Q(
    "q108_epoch_shards",
    (s, dir) => Sampling.shardAssignment(
        Tables(s, dir).documents, col("doc_id"), nShards = 8)
      .orderBy(col("doc_id")),
    Some(xxhashUnitOracleCore + """
      SELECT doc_id, CAST(floor(u * 8) AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY CAST(floor(u * 8) AS BIGINT)
          ORDER BY u, doc_id) AS BIGINT) AS pos
      FROM unit ORDER BY doc_id"""))

  /** Relational HLL register table (operators.Sketches.hllRegisters):
    * p = 9 → 512 registers over `xxhash64(pmod(doc_id, 997))` — a value
    * stream with known true cardinality min(n, 997) so the q127 estimate
    * is auditable. FULL ORACLE — unlike Spark's sealed HLL++ sketch
    * (q40), the register table is re-derived by DuckDB end-to-end:
    * [[XxhashSqlGen]] restates the hash, `%`/`//` restate the signed
    * bit-ops (hp is the UNSIGNED image of Spark's signed hash, so low-p
    * bits = `hp % 512` and shiftrightunsigned = `hp // 512`), and
    * DuckDB's minimal-width `bin` restates the rho bit-length trick. */
  /** The q126 whole-corpus register oracle — shared verbatim by q175:
    * the merge of per-split sketches must equal exactly this. */
  private def q126OracleSql: String = {
    import XxhashSqlGen._
    val base = "base AS (SELECT CAST(((doc_id % 997) + 997) % 997" +
      " AS HUGEINT) AS v FROM documents)"
    val (c1, last1) = stages("p", "v", "42::HUGEINT", "base")
    (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
    reg AS (SELECT hp % 512 AS j,
        CASE WHEN hp // 512 = 0 THEN 56
             ELSE 56 - length(bin(hp // 512)) END AS rho
      FROM $last1),
    mx AS (SELECT j, max(rho) AS rho FROM reg GROUP BY j)
    SELECT CAST(g.j AS INTEGER) AS j,
      CAST(coalesce(mx.rho, 0) AS INTEGER) AS rho
    FROM (SELECT unnest(range(0, 512)) AS j) g LEFT JOIN mx ON g.j = mx.j
    ORDER BY j"""
  }

  private val q126 = Q(
    "q126_hll_registers",
    (s, dir) => Sketches.hllRegisters(
        Tables(s, dir).documents, pmod(col("doc_id"), lit(997L)), p = 9)
      .orderBy(col("j")),
    Some(q126OracleSql))

  /** HLL MERGEABILITY graded (spec-pinned since round 7; now an oracle
    * row): the corpus is partitioned by doc_id parity, each split
    * sketched INDEPENDENTLY (two separate hllRegisters passes — the
    * "sketch each shard where it lives, ship only registers" posture a
    * 100 TB deployment runs), and the two register tables are merged
    * relationally (union + re-max per register). The oracle is q126's
    * WHOLE-CORPUS SQL verbatim — the merge must be bit-equal to
    * sketching the corpus in one pass, which is exactly the mergeable-
    * summaries contract (max is associative/commutative over splits). */
  private val q175 = Q(
    "q175_hll_merge",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val v = pmod(col("doc_id"), lit(997L))
      val a = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0), v, p = 9)
      val b = Sketches.hllRegisters(
        docs.filter(pmod(col("doc_id"), lit(2L)) =!= 0), v, p = 9)
      a.union(b).groupBy(col("j")).agg(max(col("rho")).as("rho"))
        .orderBy(col("j"))
    },
    Some(q126OracleSql))

  /** Raw HLL estimate off the q126 register table
    * (operators.Sketches.hllEstimateRaw): αₘ·m²/Σ2^−rho, computed as
    * αₘ·m²·2^56/Σ2^(56−rho); every term 2^(56−rho) is an exact power-of-two
    * double and the indicator sum folds in register order (native
    * ordered-sum aggregate ↔ `list_sum(list(term ORDER BY j))`), so both
    * engines reach the identical IEEE double. αₘ is embedded as a
    * shortest-round-trip literal CAST from VARCHAR (a bare DuckDB decimal
    * literal of that length would parse as DECIMAL and change the
    * arithmetic type). FULL ORACLE via the q126 fixture. */
  private val q127 = Q(
    "q127_hll_estimate",
    (s, dir) => Sketches.hllEstimateRaw(
      Sketches.hllRegisters(
        Tables(s, dir).documents, pmod(col("doc_id"), lit(997L)), p = 9),
      p = 9),
    Some(s"""WITH reg AS (SELECT j, rho
        FROM read_parquet('__VERIFY_OUT__/q126_hll_registers/*.parquet')),
      t AS (SELECT j, rho,
        CAST((1::HUGEINT << (56 - rho)) AS DOUBLE) AS term FROM reg)
      SELECT CAST(512 AS INTEGER) AS m,
        CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zeros,
        round(CAST('${Sketches.alphaLiteral(9)}' AS DOUBLE)
          * 512.0 * 512.0 * 72057594037927936.0
          / list_sum(list(term ORDER BY j)), 4) AS est_raw
      FROM t"""))

  /** KMV shard-overlap estimation (operators.Sketches.kmvOverlap) — the
    * multiset question the HLL rows (q126/q127) cannot answer: distinct
    * counts, union, Jaccard, and INTERSECTION of two corpus shards from
    * two 128-minimum-value summaries built in ONE aggregation pass over
    * one scan (null-gated inputs into the same ObjectHashAggregate — no
    * second scan, no distinct-join). The 100 TB use: "how much of crawl
    * snapshot B is already in snapshot A" decided from 2·k·8 bytes before
    * scheduling a re-dedup run. Shards are doc_id thirds (A = thirds
    * {0,1}, B = {1,2} → true J = 1/3) so the gate is INDEPENDENT of the
    * sketch hash — gating on the sketch hash itself would restrict each
    * shard's hash range and break KMV's uniformity assumption. FULL
    * ORACLE: the k-min set of distinct values is order-independent, so
    * DuckDB re-derives it as DISTINCT h ORDER BY h LIMIT k over the
    * [[XxhashSqlGen]] chain (hq's signed image), and every estimate is
    * the same closed formula: u = (h + 2⁶³)/2⁶⁴ via string→DOUBLE casts
    * of the exact power-of-two constants (a bare literal of that length
    * would parse as DECIMAL — the q127 device), est = (k−1)/u(k-th min),
    * J = shared/|kmin(A∪B)|, |A∩B| = J·est(A∪B), each rounded 6dp on
    * both engines so the single IEEE division cannot flip the compare. */
  private val q167 = Q(
    "q167_kmv_overlap",
    (s, dir) => Sketches.kmvOverlap(
      Tables(s, dir).documents,
      inA = pmod(col("doc_id"), lit(3L)) < 2,
      inB = pmod(col("doc_id"), lit(3L)) >= 1,
      value = col("doc_id"), k = 128),
    Some {
      import XxhashSqlGen._
      val base = "base AS (SELECT doc_id, CASE WHEN doc_id < 0 THEN " +
        s"doc_id + $big ELSE CAST(doc_id AS HUGEINT) END AS v FROM documents)"
      val (c1, last1) = stages("q", "v", "42::HUGEINT", "base")
      val p63 = "CAST('9223372036854775808' AS DOUBLE)"
      val p64 = "CAST('18446744073709551616' AS DOUBLE)"
      def est(n: String, kth: String) =
        s"round(CASE WHEN $n < 128 THEN CAST($n AS DOUBLE) " +
          s"ELSE 127.0 / ((CAST($kth AS DOUBLE) + $p63) / $p64) END, 6)"
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      hh AS (SELECT doc_id,
          CASE WHEN hq >= 9223372036854775808::HUGEINT
               THEN hq - $big ELSE hq END AS h FROM $last1),
      a AS (SELECT DISTINCT h FROM hh
        WHERE ((doc_id % 3) + 3) % 3 < 2 ORDER BY h LIMIT 128),
      b AS (SELECT DISTINCT h FROM hh
        WHERE ((doc_id % 3) + 3) % 3 >= 1 ORDER BY h LIMIT 128),
      u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
        ORDER BY h LIMIT 128),
      stats AS (SELECT
        (SELECT count(*) FROM a) AS n_a, (SELECT max(h) FROM a) AS kth_a,
        (SELECT count(*) FROM b) AS n_b, (SELECT max(h) FROM b) AS kth_b,
        (SELECT count(*) FROM u) AS n_u, (SELECT max(h) FROM u) AS kth_u,
        (SELECT count(*) FROM u
          WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b))
          AS shared),
      ests AS (SELECT n_a, n_b, n_u, shared,
        ${est("n_a", "kth_a")} AS est_a,
        ${est("n_b", "kth_b")} AS est_b,
        ${est("n_u", "kth_u")} AS est_union,
        round(CAST(shared AS DOUBLE) / n_u, 6) AS jaccard FROM stats)
      SELECT CAST(n_a AS INTEGER) AS n_a, CAST(n_b AS INTEGER) AS n_b,
        est_a, est_b, CAST(n_u AS INTEGER) AS n_union, est_union,
        CAST(shared AS INTEGER) AS shared, jaccard,
        round(CAST(shared AS DOUBLE) / n_u * est_union, 6) AS est_intersect
      FROM ests"""
    })

  /** Deterministic weighted fixed-size sampling
    * (operators.Sampling.weightedBottomK) — the "pick k docs, favoring
    * the good ones" curation step: quality weights (here a 1..8 bucket
    * from n_chars) expand each doc into `weight` virtual lottery tickets
    * keyed xxhash64(doc_id, j), and the k docs with the smallest
    * per-doc minimum win — EXACTLY uniform bottom-k over the expanded
    * corpus, so the sample is a pure function of (id, weight, k):
    * reproducible across runs/layouts and — unlike any RNG-based
    * weighted sampler — exactly re-derivable by an external oracle.
    * FULL ORACLE: the two-stage XXH64 chain (multi-arg xxhash64 feeds
    * each column's hash in as the next seed — the xxhashUnitOracleCore
    * convention), j unnested per weight, min per doc, ORDER BY
    * (priority, doc_id) LIMIT k on both engines. */
  private val q172 = Q(
    "q172_weighted_sample",
    (s, dir) => Sampling.weightedBottomK(
      Tables(s, dir).documents, col("doc_id"),
      pmod(col("n_chars"), lit(8L)) + 1L, k = 100),
    Some {
      import XxhashSqlGen._
      val base = "base AS (SELECT doc_id," +
        " ((n_chars % 8) + 8) % 8 + 1 AS weight FROM documents)"
      val ex = "ex AS (SELECT doc_id, weight," +
        " unnest(range(0, weight)) AS j FROM base)"
      val b2 = "b2 AS (SELECT doc_id, weight, CASE WHEN doc_id < 0" +
        s" THEN doc_id + $big ELSE CAST(doc_id AS HUGEINT) END AS v," +
        " CAST(j AS HUGEINT) AS vj FROM ex)"
      val (c1, last1) = stages("p", "v", "42::HUGEINT", "b2")
      val (c2, last2) = stages("q", "vj", "hp", last1)
      (Seq(base, ex, b2) ++ c1 ++ c2).mkString("WITH ", ",\n", ",\n") + s"""
      pri AS (SELECT doc_id, max(weight) AS weight,
          min(CASE WHEN hq >= 9223372036854775808::HUGEINT
              THEN hq - $big ELSE hq END) AS priority
        FROM $last2 GROUP BY doc_id)
      SELECT doc_id, CAST(weight AS BIGINT) AS weight,
        CAST(priority AS BIGINT) AS priority
      FROM pri ORDER BY priority, doc_id LIMIT 100"""
    })

  /** KMV MERGEABILITY graded (q175's device for the round's new
    * sketch): the corpus is split by doc_id parity, each split sketched
    * independently (one aggregation pass, null-gated — both summaries
    * from one scan), and the two ≤k arrays merged relationally (k
    * smallest of the sorted union). The oracle is the WHOLE-CORPUS k-min
    * set (DISTINCT h ORDER BY h LIMIT k over the XXH64 chain): every
    * global minimum lives in one split and within that split's k
    * smallest, so the merge must be bit-equal to one-pass sketching —
    * the property that lets shard-local sketches answer corpus-wide
    * overlap questions. Output exploded to (rank, h) scalars. */
  private val q177 = Q(
    "q177_kmv_merge",
    (s, dir) => {
      val h = xxhash64(col("doc_id"))
      val even = pmod(col("doc_id"), lit(2L)) === 0
      Tables(s, dir).documents
        .agg(
          graft.plans.Kmv.kmvMinima(when(even, h), 128).as("a"),
          graft.plans.Kmv.kmvMinima(when(!even, h), 128).as("b"))
        .select(posexplode(
          slice(array_sort(array_union(col("a"), col("b"))), 1, 128)))
        .select((col("pos") + 1).cast("int").as("rank"), col("col").as("h"))
        .orderBy(col("rank"))
    },
    Some {
      import XxhashSqlGen._
      val base = "base AS (SELECT CASE WHEN doc_id < 0 THEN doc_id + " +
        s"$big ELSE CAST(doc_id AS HUGEINT) END AS v FROM documents)"
      val (c1, last1) = stages("q", "v", "42::HUGEINT", "base")
      (Seq(base) ++ c1).mkString("WITH ", ",\n", ",\n") + s"""
      hh AS (SELECT DISTINCT CASE WHEN hq >= 9223372036854775808::HUGEINT
          THEN hq - $big ELSE hq END AS h FROM $last1),
      r AS (SELECT h, row_number() OVER (ORDER BY h) AS rank FROM hh)
      SELECT CAST(rank AS INTEGER) AS rank, CAST(h AS BIGINT) AS h
      FROM r WHERE rank <= 128 ORDER BY rank"""
    })

  /** The q125 curation gate + decontamination stage as a STRUCTURED
    * STREAM (streaming.DocumentStreams.curationGateToParquetSigned): the
    * train split arrives as file-source micro-batches under
    * Trigger.AvailableNow; inside foreachBatch each batch is
    * Gopher-gated, signed with the index's own minhash/LSH parameters
    * and probed against the checkpointed signature index of the eval
    * split (no stream-stream join). The per-doc confirm verdict is
    * computed PER BATCH (a file source delivers each doc in exactly one
    * micro-batch), with survivors appended to parquet — a stateless
    * streaming plan (zero state-store operators, asserted on every run)
    * with no driver-side result table. FULL ORACLE via the q77 signature
    * fixture (the q100 SQL shape: band-equality candidates +
    * sorted-word-hash jaccard ≥ 0.95) gated by the q92 Gopher fixture —
    * so the streaming row is hash-verified end-to-end, and StreamingSpec
    * additionally pins batch parity against the same gate +
    * dedupSignedAgainstIndex composition. */
  private val q130 = Q(
    "q130_stream_curation_gate",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val index = Dedup.signDocs(
        docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      graft.streaming.DocumentStreams.curationGateToParquetSigned(
        s, dir, index,
        graft.Checkpoints.scratchDir(s, "graft-q130-out"),
        numHashes = 64, bands = 4, threshold = 0.95)
    },
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      g AS (SELECT doc_id FROM
        read_parquet('__VERIFY_OUT__/q92_gopher_quality/*.parquet')
        WHERE n_words >= 30 AND mean_word_len <= 10
          AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8),
      inc AS (SELECT d.doc_id, d.lang FROM documents d
        JOIN g ON g.doc_id = d.doc_id WHERE d.doc_id % 10 <> 0),
      cand AS (SELECT DISTINCT a1.doc_id AS id_new, a2.doc_id AS id_old
        FROM b a1 JOIN b a2 ON a1.band = a2.band AND a1.bh = a2.bh
        WHERE a1.doc_id % 10 <> 0 AND a2.doc_id % 10 = 0),
      dropped AS (SELECT DISTINCT id_new FROM cand
        JOIN s sa ON sa.doc_id = cand.id_new
        JOIN s sb ON sb.doc_id = cand.id_old
        WHERE round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
          / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
          4) >= 0.95)
      SELECT doc_id, lang FROM inc
      WHERE doc_id NOT IN (SELECT id_new FROM dropped)
      ORDER BY doc_id"""))

  /** Streaming curation with index MAINTENANCE
    * ([[graft.streaming.DocumentStreams.incrementalCurationToParquetSigned]]):
    * the q130 gate+dedup lifecycle plus the piece a real continuous crawl
    * needs — each micro-batch's survivors append their OWN signatures to
    * the persisted index, so batch 1 dedups against the seed corpus AND
    * batch 0's survivors, batch 2 against all of it. The crawl is
    * rendered as one file per batch (batch = doc_id % 3) with forced
    * mtime order and maxFilesPerTrigger=1, so the cascade is
    * deterministic. ALL cross-batch state is the on-disk index (streaming
    * plan stateless, require()-asserted); within-batch new-new pairs are
    * intentionally out of scope (the incremental probe's contract).
    *
    * FULL ORACLE: the q130 SQL widened to the 3-batch unroll — `near` is
    * the role-agnostic banded-candidate + exact-jaccard pair set from the
    * q77 fixture, and s0/s1/s2 chain NOT EXISTS against seed ∪ earlier
    * survivors, exactly the sequential semantics the mtime order pins. */
  private val q142 = Q(
    "q142_stream_index_maintenance",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val seedIdx = Dedup.signDocs(
        docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      graft.streaming.DocumentStreams.incrementalCurationToParquetSigned(
        s, dir, seedIdx,
        graft.Checkpoints.scratchDir(s, "graft-q142-out"),
        graft.Checkpoints.scratchDir(s, "graft-q142-idx"),
        batchFiles = 3, numHashes = 64, bands = 4, threshold = 0.95)
    },
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      g AS (SELECT doc_id FROM
        read_parquet('__VERIFY_OUT__/q92_gopher_quality/*.parquet')
        WHERE n_words >= 30 AND mean_word_len <= 10
          AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8),
      cand AS (SELECT DISTINCT a1.doc_id AS id_new, a2.doc_id AS id_old
        FROM b a1 JOIN b a2 ON a1.band = a2.band AND a1.bh = a2.bh
        WHERE a1.doc_id <> a2.doc_id),
      near AS (SELECT DISTINCT id_new, id_old FROM cand
        JOIN s sa ON sa.doc_id = cand.id_new
        JOIN s sb ON sb.doc_id = cand.id_old
        WHERE round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
          / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
          4) >= 0.95),
      inc AS (SELECT d.doc_id, d.lang, d.doc_id % 3 AS bat FROM documents d
        JOIN g ON g.doc_id = d.doc_id WHERE d.doc_id % 10 <> 0),
      seed AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      s0 AS (SELECT doc_id, lang FROM inc i WHERE bat = 0 AND NOT EXISTS (
        SELECT 1 FROM near n JOIN seed sd ON sd.doc_id = n.id_old
        WHERE n.id_new = i.doc_id)),
      s1 AS (SELECT doc_id, lang FROM inc i WHERE bat = 1 AND NOT EXISTS (
        SELECT 1 FROM near n WHERE n.id_new = i.doc_id AND (
          n.id_old IN (SELECT doc_id FROM seed)
          OR n.id_old IN (SELECT doc_id FROM s0)))),
      s2 AS (SELECT doc_id, lang FROM inc i WHERE bat = 2 AND NOT EXISTS (
        SELECT 1 FROM near n WHERE n.id_new = i.doc_id AND (
          n.id_old IN (SELECT doc_id FROM seed)
          OR n.id_old IN (SELECT doc_id FROM s0)
          OR n.id_old IN (SELECT doc_id FROM s1))))
      SELECT doc_id, lang FROM s0
      UNION ALL SELECT doc_id, lang FROM s1
      UNION ALL SELECT doc_id, lang FROM s2
      ORDER BY doc_id"""))

  /** The q142 cascade driven through the manifest-commit protocol WITH A
    * CRASH IN THE LOOP ([[graft.streaming.DocumentStreams
    * .processCurationBatch]]): batch 1 is first killed in the only
    * window the protocol leaves (token dirs written, manifest not yet
    * swapped), then replayed; every batch is additionally processed a
    * second time after its commit (the crash-after-swap replay). If any
    * window lost survivors, double-committed a batch, or let a replayed
    * doc meet its own signatures, the result diverges from the
    * crash-free cascade — so the FULL q142 oracle re-derivation is the
    * grader of the protocol's exactly-once claim, not just a spec
    * assertion. Shares q142's oracle SQL verbatim (identical semantics
    * is the point). */
  private val q159 = Q(
    "q159_crash_consistent_curation",
    (s, dir) => {
      import graft.streaming.DocumentStreams
      val docs = Tables(s, dir).documents
      val seedIdx = Dedup.signDocs(
        docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      val idxPath = graft.Checkpoints.scratchDir(s, "graft-q159-idx")
      val outPath = graft.Checkpoints.scratchDir(s, "graft-q159-out")
      DocumentStreams.initCurationStore(s, seedIdx, idxPath, outPath)
      val crawl = docs.filter(col("doc_id") % 10 =!= 0)
      (0 until 3).foreach { b =>
        val batch = crawl.filter(pmod(col("doc_id"), lit(3)) === b)
        def process(fail: Boolean): Unit =
          DocumentStreams.processCurationBatch(s, batch, b.toLong, idxPath,
            outPath, numHashes = 64, bands = 4, threshold = 0.95,
            failBeforeCommit = fail)
        if (b == 1) {
          // crash in the pre-swap window, leaving orphan token dirs the
          // replay must overwrite
          try { process(fail = true); sys.error("injected crash did not fire") }
          catch { case _: IllegalStateException => () }
        }
        process(fail = false)
        process(fail = false) // crash-after-swap replay: must be a skip
      }
      DocumentStreams.readCurated(s, idxPath, outPath).orderBy(col("doc_id"))
    },
    q142.oracle)

  /** Split-leakage audit: near-duplicate document pairs that STRADDLE a
    * train/val/test boundary — the pairs that silently inflate eval
    * scores when a model memorizes the train twin. Composes the q38
    * banded minhash pair generation with the q75 deterministic split
    * assignment; the filter keeps only cross-split pairs. At 100 TB this
    * is the q38 join plus two keyed split joins — no new shuffle shape.
    * FULL ORACLE: q38's pair SQL over the q77 signature fixture joined
    * against the q75 split fixture. */
  private val q144 = Q(
    "q144_split_leakage_audit",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = Dedup.minhashNearDupPairs(
        docs, col("text"), col("doc_id"),
        numHashes = 64, bands = 4, threshold = 0.95)
      val splits = Sampling.assignSplits(
          docs, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      cand AS (SELECT DISTINCT a1.doc_id AS id_a, a2.doc_id AS id_b
        FROM b a1 JOIN b a2
          ON a1.band = a2.band AND a1.bh = a2.bh AND a1.doc_id < a2.doc_id),
      pairs AS (SELECT id_a, id_b,
          round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
            / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
            4) AS jaccard
        FROM cand JOIN s sa ON sa.doc_id = cand.id_a
                  JOIN s sb ON sb.doc_id = cand.id_b),
      sp AS (SELECT doc_id, split FROM
        read_parquet('__VERIFY_OUT__/q75_train_val_test_split/*.parquet'))
      SELECT p.id_a, p.id_b, pa.split AS split_a, pb.split AS split_b,
        p.jaccard
      FROM pairs p JOIN sp pa ON pa.doc_id = p.id_a
                   JOIN sp pb ON pb.doc_id = p.id_b
      WHERE p.jaccard >= 0.95 AND pa.split <> pb.split
      ORDER BY id_a, id_b"""))

  /** Binary ROC AUC ([[graft.operators.Metrics.binaryAuc]]) of the NB
    * classifier's 'en' log-score against the declared language — the
    * "does this quality/lang score actually separate the classes" gate a
    * pipeline must pass before filtering 100 TB on a threshold. The
    * Mann-Whitney u2 stays in LONG arithmetic (half-credit ties ×2), so
    * the compare is exact except the final 9dp ratio; the cumulative
    * counts use bucketed per-partition windows (no SinglePartition
    * exchange — PlanSpec pin). Oracle re-derives the whole statistic
    * from the q114 score fixture with a plain ordered window. */
  private val q145 = Q(
    "q145_nb_score_auc",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Metrics.binaryAuc(
        sharedNbScores(s, dir).filter(col("cls") === "en")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").as("y")), Seq("doc_id")),
        col("score"), col("y"))
    },
    Some("""WITH sc AS (SELECT s.doc_id, s.score, (d.lang = 'en') AS y
        FROM read_parquet('__VERIFY_OUT__/q114_nb_scores/*.parquet') s
        JOIN documents d ON d.doc_id = s.doc_id
        WHERE s.cls = 'en'),
      agg AS (SELECT score,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        FROM sc GROUP BY score),
      cum AS (SELECT score, n_pos, n_neg,
          CAST(coalesce(sum(n_neg) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cnb
        FROM agg)
      SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
        CAST(sum(n_neg) AS BIGINT) AS n_neg,
        CAST(sum(n_pos * (2 * cnb + n_neg)) AS BIGINT) AS u2,
        round(CAST(sum(n_pos * (2 * cnb + n_neg)) AS DOUBLE)
          / (2.0 * sum(n_pos) * sum(n_neg)), 9) AS auc
      FROM cum"""))

  /** The full precision/recall curve ([[graft.operators.Metrics
    * .prCurve]]) for the same score/label pair — one row per distinct
    * score for the rule "positive iff score ≥ s": exact LONG tp/fp/fn
    * plus 6dp precision/recall. Same bucketed-cumsum engine as q145. */
  private val q146 = Q(
    "q146_nb_score_pr_curve",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Metrics.prCurve(
        sharedNbScores(s, dir).filter(col("cls") === "en")
          .join(docs.select(col("doc_id"),
            (col("lang") === "en").as("y")), Seq("doc_id")),
        col("score"), col("y"))
    },
    Some("""WITH sc AS (SELECT s.doc_id, s.score, (d.lang = 'en') AS y
        FROM read_parquet('__VERIFY_OUT__/q114_nb_scores/*.parquet') s
        JOIN documents d ON d.doc_id = s.doc_id
        WHERE s.cls = 'en'),
      agg AS (SELECT score,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        FROM sc GROUP BY score),
      cum AS (SELECT score, n_pos, n_neg,
          CAST(coalesce(sum(n_pos) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cpb,
          CAST(coalesce(sum(n_neg) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cnb
        FROM agg),
      tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p,
          CAST(sum(n_neg) AS BIGINT) AS n FROM agg)
      SELECT c.score, (t.p - c.cpb) AS tp, (t.n - c.cnb) AS fp,
        c.cpb AS fn,
        round(CAST(t.p - c.cpb AS DOUBLE)
          / ((t.p - c.cpb) + (t.n - c.cnb)), 6) AS precision,
        round(CAST(t.p - c.cpb AS DOUBLE) / t.p, 6) AS recall
      FROM cum c CROSS JOIN tot t
      ORDER BY c.score DESC"""))

  /** Corpus snapshot diff ([[graft.operators.Snapshot.snapshotDiff]]):
    * added/removed/changed rows between two versions of the documents
    * table — the refresh audit before retraining. The v2 snapshot is a
    * deterministic transform both engines derive independently (every
    * 7th doc removed, every 11th survivor revised, every 13th doc
    * re-added under a shifted id), so the oracle rebuilds both versions
    * and diffs raw text while the engine diffs 64-bit content hashes —
    * a hash collision would surface as a hash mismatch here. */
  private val q147 = Q(
    "q147_snapshot_diff",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("added revision of "), col("doc_id")).as("text")))
      graft.operators.Snapshot.snapshotDiff(
          docs, v2, col("doc_id"), Seq(col("text")))
        .orderBy(col("change"), col("id"))
    },
    Some("""WITH old AS (SELECT doc_id AS id, text FROM documents),
      v2 AS (SELECT doc_id AS id,
          CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS id,
          'added revision of ' || doc_id AS text
        FROM documents WHERE doc_id % 13 = 0),
      j AS (SELECT coalesce(o.id, n.id) AS id,
          CASE WHEN o.id IS NULL THEN 'added'
               WHEN n.id IS NULL THEN 'removed'
               WHEN o.text <> n.text THEN 'changed'
               ELSE 'unchanged' END AS change
        FROM old o FULL OUTER JOIN v2 n ON o.id = n.id)
      SELECT id, change FROM j WHERE change <> 'unchanged'
      ORDER BY change, id"""))

  /** Column-level snapshot diff ([[graft.operators.Snapshot.columnDiff]],
    * q147's row verdict sharpened to WHICH columns moved): a synthetic
    * re-crawl touches lang for id%7, n_chars for id%11 (both at %77 by
    * arithmetic), and the diff must name exactly the touched columns
    * per id, comma-joined in declaration order. Null-safe comparisons;
    * one equi-join; every check codegen'd. */
  private val q222 = Q(
    "q222_column_diff",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val v2 = docs
        .withColumn("lang",
          when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang")))
        .withColumn("n_chars",
          when(col("doc_id") % 11 === 0, col("n_chars") + 1L)
            .otherwise(col("n_chars")))
      graft.operators.Snapshot.columnDiff(
          docs, v2, col("doc_id"), Seq("lang", "n_chars"))
        .orderBy(col("id"))
    },
    Some("""SELECT doc_id AS id, concat_ws(',',
        CASE WHEN doc_id % 7 = 0 THEN 'lang' END,
        CASE WHEN doc_id % 11 = 0 THEN 'n_chars' END) AS changed_cols
      FROM documents WHERE doc_id % 7 = 0 OR doc_id % 11 = 0
      ORDER BY id"""))

  /** Winsorized (outlier-clamped) per-language token statistics — the
    * robust-mean report a curation pipeline uses where raw means are
    * wrecked by boilerplate giants and empty stubs: clamp every count to
    * the approximate [p05, p95] of its language, then average. One GK
    * aggregate for the cuts (map-side-mergeable, q136's shape) + one
    * broadcast-joined clamp pass. Oracle = the q136 rank-bound verdict
    * on BOTH cuts, and — because GK cuts are actual data values, hence
    * integers here — the clamped sum is EXACT integer arithmetic
    * re-derived from the riding cuts (only the final mean rounds). */
  private val q148 = Q(
    "q148_winsorized_stats",
    (s, dir) => {
      val t = Tables(s, dir).documents.select(col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      val cuts = t.groupBy(col("lang"))
        .agg(percentile_approx(col("n"),
          array(lit(0.05), lit(0.95)), lit(100)).as("cs"))
        .select(col("lang"), element_at(col("cs"), 1).as("lo"),
          element_at(col("cs"), 2).as("hi"))
      t.join(broadcast(cuts), Seq("lang"))
        .groupBy(col("lang"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("n") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(greatest(col("lo"), least(col("hi"), col("n")))).as("wsum"))
        .select(col("lang"), col("lo"), col("hi"), col("n"),
          col("n_clip_lo"), col("n_clip_hi"),
          round(col("wsum").cast("double") / col("n"), 6).as("wins_mean"),
          lit(true).as("rank_ok_lo"), lit(true).as("rank_ok_hi"))
        .orderBy(col("lang"))
    },
    Some("""WITH fx AS (SELECT lang, lo, hi FROM
        read_parquet('__VERIFY_OUT__/q148_winsorized_stats/*.parquet')),
      t AS (SELECT lang,
          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
        FROM documents),
      agg AS (SELECT f.lang, f.lo, f.hi,
          count(*) AS n,
          CAST(sum(CASE WHEN t.n < f.lo THEN 1 ELSE 0 END) AS BIGINT)
            AS n_clip_lo,
          CAST(sum(CASE WHEN t.n > f.hi THEN 1 ELSE 0 END) AS BIGINT)
            AS n_clip_hi,
          sum(greatest(f.lo, least(f.hi, t.n))) AS wsum,
          sum(CASE WHEN t.n <= f.lo THEN 1 ELSE 0 END) AS r_lo_hi,
          sum(CASE WHEN t.n < f.hi THEN 1 ELSE 0 END) AS r_hi_lo,
          sum(CASE WHEN t.n <= f.hi THEN 1 ELSE 0 END) AS r_hi_hi
        FROM fx f JOIN t ON t.lang = f.lang GROUP BY 1, 2, 3)
      SELECT lang, lo, hi, CAST(n AS BIGINT) AS n, n_clip_lo, n_clip_hi,
        round(CAST(wsum AS DOUBLE) / n, 6) AS wins_mean,
        (r_lo_hi >= floor(0.04 * n) AND n_clip_lo <= ceil(0.06 * n))
          AS rank_ok_lo,
        (r_hi_hi >= floor(0.94 * n) AND r_hi_lo <= ceil(0.96 * n))
          AS rank_ok_hi
      FROM agg ORDER BY lang"""))

  /** Min-K% prob membership audit ([[graft.operators.LangModel
    * .minKProb]], Shi et al. 2023): per doc, the mean of its lowest-20%
    * bigram logps under the shared LM — the training-data-detection /
    * contamination signal the full-document perplexity dilutes. Oracle =
    * q94's scoring CTEs + a per-doc (lp, pos) rank window; the
    * selected-subset sum re-folds by selection rank (ordered list_sum ==
    * the native ordered aggregate bit-for-bit). */
  private val q151 = Q(
    "q151_mink_prob",
    (s, dir) => LangModel.minKProb(Tables(s, dir).documents,
        sharedBigramLm(s, dir), col("text"), col("doc_id"), k = 0.2)
      .orderBy(col("doc_id")),
    Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word,
          generate_subscripts(regexp_extract_all(text, '\S+'), 1) - 1 AS pos
        FROM documents),
      b AS (SELECT a.doc_id, a.pos, a.word AS w1, b.word AS w2
        FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      lm AS (SELECT * FROM read_parquet('__VERIFY_OUT__/q93_bigram_lm/*.parquet')),
      obs AS (SELECT w1, w2, logp FROM lm WHERE w1 <> '' AND w2 <> ''),
      uns AS (SELECT w1, logp AS lp_unseen FROM lm WHERE w1 <> '' AND w2 = ''),
      oov AS (SELECT logp AS lp_oov FROM lm WHERE w1 = '' AND w2 = ''),
      lp AS (SELECT b.doc_id, b.pos,
          coalesce(obs.logp, uns.lp_unseen, (SELECT lp_oov FROM oov)) AS lp
        FROM b LEFT JOIN obs ON b.w1 = obs.w1 AND b.w2 = obs.w2
          LEFT JOIN uns ON b.w1 = uns.w1),
      sel AS (SELECT doc_id, pos, lp,
          row_number() OVER (PARTITION BY doc_id ORDER BY lp, pos) AS rn,
          count(*) OVER (PARTITION BY doc_id) AS n
        FROM lp),
      kept AS (SELECT * FROM sel
        WHERE rn <= greatest(1, CAST(floor(0.2 * n) AS BIGINT))),
      agg AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_bigrams,
          greatest(1, CAST(floor(0.2 * max(n)) AS BIGINT)) AS m,
          list_sum(list(lp ORDER BY rn)) AS s
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(agg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        coalesce(agg.m, CAST(0 AS BIGINT)) AS m,
        CASE WHEN agg.n_bigrams > 0
          THEN round(agg.s / agg.m, 6) + 0.0 END AS mink_logp
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id"""))

  /** BM25 retrieval scoring ([[graft.operators.Ranking.bm25Scores]]) —
    * ranked lexical relevance of every document against a small query
    * set, the retrieval primitive behind relatedness-based curation and
    * targeted decontamination probes. Query terms span the idf range
    * (`dup` df≈25/500 vs `scan`/`join` df≈390/500) so the always-positive
    * Lucene idf is exercised off the degenerate near-zero regime.
    *
    * Oracle = the q135 verdict device: `n_terms`/`tf_sum` are exact
    * integer posting algebra DuckDB re-derives and hash-compares; the
    * IEEE score rides 1:1 through an inner join (a row-set drift breaks
    * row counts) and `score_close` re-computes BM25 in DuckDB — exact
    * corpus constants by construction (avgdl divides exact long sums),
    * so the tolerance only absorbs libm `ln` ulps and fold order
    * (engine: pinned term-hash order; oracle: term order). */
  private val q137 = Q(
    "q137_bm25_scores",
    (s, dir) => graft.operators.Ranking.bm25Scores(
        Tables(s, dir).documents, col("doc_id"), col("text"),
        Seq(1L -> Seq("spark", "join"),
          2L -> Seq("dup", "scan"),
          3L -> Seq("customer", "order", "value")))
      .withColumn("score_close", lit(true))
      .orderBy(col("query_id"), col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '\S+')) AS term
        FROM documents),
      tc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tc GROUP BY 1),
      st AS (SELECT
          (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n_docs,
          (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            FROM dl) AS avgdl),
      qt(query_id, term) AS (VALUES (1, 'spark'), (1, 'join'),
        (2, 'dup'), (2, 'scan'),
        (3, 'customer'), (3, 'order'), (3, 'value')),
      dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tc
        WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      c AS (SELECT q.query_id, t.doc_id, q.term, t.tf,
          ln(1 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
            * (CAST(t.tf AS DOUBLE) * (1.2 + 1))
            / (CAST(t.tf AS DOUBLE)
               + 1.2 * ((1 - 0.75) + 0.75 * CAST(l.dl AS DOUBLE) / st.avgdl))
            AS contrib
        FROM qt q JOIN tc t ON t.term = q.term
        JOIN dfq d ON d.term = q.term
        JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN st),
      agg AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
          CAST(count(*) AS BIGINT) AS n_terms,
          CAST(sum(tf) AS BIGINT) AS tf_sum,
          list_sum(list(contrib ORDER BY term)) AS s
        FROM c GROUP BY 1, 2),
      ex AS (SELECT query_id, doc_id, score
        FROM read_parquet('__VERIFY_OUT__/q137_bm25_scores/*.parquet'))
      SELECT a.query_id, a.doc_id, a.n_terms, a.tf_sum, e.score,
        (abs(e.score - a.s) < 1e-9 * greatest(abs(a.s), 1.0)) AS score_close
      FROM agg a JOIN ex e
        ON e.query_id = a.query_id AND e.doc_id = a.doc_id
      ORDER BY a.query_id, a.doc_id"""))

  /** Cross-source overlap audit ([[graft.operators.Dedup.sourceOverlap]]):
    * exact distinct-bigram containment + Jaccard for every source pair —
    * the "is this dump already covered" decision that runs BEFORE
    * per-document dedup when ingesting a new crawl. FULL exact-hash
    * oracle: counts are set algebra (map-only gram emission, one
    * distinct shuffle, gram-keyed inverted self-join bounded by the
    * model-sized source count), ratios are single IEEE divisions of
    * exact longs. */
  private val q140 = Q(
    "q140_source_overlap",
    (s, dir) => graft.operators.Dedup.sourceOverlap(
        Tables(s, dir).documents, col("text"), col("source"))
      .orderBy(col("src_a"), col("src_b")),
    Some("""WITH toks AS (SELECT source, doc_id,
          unnest(regexp_extract_all(lower(text), '\S+')) AS term,
          generate_subscripts(regexp_extract_all(lower(text), '\S+'), 1) AS pos
        FROM documents),
      bi AS (SELECT DISTINCT t1.source, t1.term || ' ' || t2.term AS gram
        FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id
          AND t2.source = t1.source AND t2.pos = t1.pos + 1),
      sz AS (SELECT source, count(*) AS n FROM bi GROUP BY 1),
      cm AS (SELECT x.source AS src_a, y.source AS src_b,
          count(*) AS n_common
        FROM bi x JOIN bi y ON x.gram = y.gram AND x.source < y.source
        GROUP BY 1, 2)
      SELECT c.src_a, c.src_b,
        CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        CAST(c.n_common AS BIGINT) AS n_common,
        CAST(c.n_common AS DOUBLE) / CAST(least(a.n, b.n) AS DOUBLE)
          AS containment,
        CAST(c.n_common AS DOUBLE) / CAST(a.n + b.n - c.n_common AS DOUBLE)
          AS jaccard
      FROM cm c JOIN sz a ON a.source = c.src_a
      JOIN sz b ON b.source = c.src_b
      ORDER BY src_a, src_b"""))

  /** Compression-ratio quality signal
    * ([[graft.plans.DeflateExpr.deflateLen]]): DEFLATE(level 6) size over
    * byte length — the gzip-ratio heuristic (templated/repetitive docs
    * compress to a fraction of natural prose; both distribution tails
    * are curation flags). Map-only native expression inside whole-stage
    * codegen — no UDF boxing, no shuffle.
    *
    * Oracle device: `n_bytes` is re-derived exactly (strlen); the
    * compressed length is zlib state no SQL engine restates, so it RIDES
    * 1:1 (the q77 fixture principle) and DuckDB re-computes `ratio` from
    * the riding length and its own n_bytes — the division hash-checks
    * bit-exactly — plus a `bounds_ok` verdict against the DEFLATE
    * stored-block worst case. DeflateSpec pins the kernel itself
    * (reference Deflater equality, determinism, repetition
    * monotonicity). */
  private val q141 = Q(
    "q141_compression_ratio",
    (s, dir) => {
      val dlen = graft.plans.DeflateExpr.deflateLen(col("text"))
      val nb = octet_length(col("text")).cast("long")
      Tables(s, dir).documents
        .select(col("doc_id"), nb.as("n_bytes"), dlen.as("deflate_len"),
          (dlen.cast("double") / nb.cast("double")).as("ratio"),
          lit(true).as("bounds_ok"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH ex AS (SELECT doc_id, deflate_len
        FROM read_parquet('__VERIFY_OUT__/q141_compression_ratio/*.parquet')),
      d AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents)
      SELECT d.doc_id, d.n_bytes, e.deflate_len,
        CAST(e.deflate_len AS DOUBLE) / CAST(d.n_bytes AS DOUBLE) AS ratio,
        (e.deflate_len > 0 AND
         e.deflate_len <= d.n_bytes + 11 + 5 * (d.n_bytes / 16383 + 1))
          AS bounds_ok
      FROM d JOIN ex e ON e.doc_id = d.doc_id
      ORDER BY d.doc_id"""))

  /** Inverted index build: token → (df, cf, sorted postings). The other
    * half of retrieval next to the ranked scorers (q137 BM25): postings
    * are what a conjunctive/phrase query intersects. Plan: one explode +
    * two-level aggregation — (token, doc) partial counts first (this is
    * where map-side combine kills the stopword skew: a 100 TB corpus
    * emits each (token, doc) pair once per partition, not once per
    * occurrence), then token-level fold. Postings serialize as a
    * comma-joined sorted string — portable across engines, and at scale
    * the string is the storage format anyway (posting-list compression
    * starts from delta-coded runs, not array<long>). */
  private val q186 = Q(
    "q186_inverted_postings",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings"))
      .orderBy(col("token")),
    Some("""WITH tok AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '\S+')) AS token
        FROM documents),
      td AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
      SELECT token, CAST(count(*) AS BIGINT) AS df,
        CAST(sum(tf) AS BIGINT) AS cf,
        array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      FROM td GROUP BY token ORDER BY token"""))

  /** Conjunctive (AND) boolean retrieval over the q186 index shape:
    * docs containing ALL query terms, ranked by summed term frequency.
    * The intersection is a semi-join-free aggregate — filter the
    * exploded postings to the term set, then HAVING count(distinct
    * term) = |terms| — one shuffle on doc_id, no per-term join chain
    * (k-way posting-list zippers don't distribute; the count-distinct
    * gate is the shuffle-native equivalent). */
  private val q187 = Q(
    "q187_conjunctive_search",
    (s, dir) => {
      val terms = Seq("merge", "stream", "filter")
      Tables(s, dir).documents
        .select(col("doc_id"),
          explode(tokens(lower(col("text")))).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("token")).as("n_terms"),
          count(lit(1)).as("total_tf"))
        .filter(col("n_terms") === terms.size)
        .select(col("doc_id"), col("total_tf"))
        .orderBy(col("total_tf").desc, col("doc_id"))
    },
    Some("""WITH tok AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '\S+')) AS token
        FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS total_tf
      FROM tok WHERE token IN ('merge', 'stream', 'filter')
      GROUP BY doc_id HAVING count(DISTINCT token) = 3
      ORDER BY total_tf DESC, doc_id"""))

  /** CDC merge-apply ([[graft.operators.Snapshot.applyCdc]]): fold an
    * out-of-order, overlapping change log (updates, deletes, inserts;
    * one id carries BOTH a delete and a later update, so last-writer-
    * wins is actually exercised) into the documents snapshot — MERGE
    * INTO as a two-shuffle plan: max-struct LWW aggregate on the change
    * log, anti-join + union against the base. Oracle = the QUALIFY
    * row_number equivalent. */
  private val q188 = Q(
    "q188_cdc_merge_apply",
    (s, dir) => {
      val base = Tables(s, dir).documents
        .select(col("doc_id"), col("text"), col("lang"))
      val updates = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
          concat(col("text"), lit(" [v2]")).as("text"), col("lang"))
      val deletes = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("D").as("op"),
          lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang"))
      // insert ids provably OUTSIDE the fixture's id domain (max+1
      // offset, computed identically in the oracle) — a fixed literal
      // offset could collide with a real doc_id at a large enough
      // scale factor, creating a (doc_id, seq) tie whose oracle-side
      // row_number resolution is nondeterministic
      val inserts = base.filter(col("doc_id") % 13 === 0)
        .crossJoin(broadcast(
          base.agg(max(col("doc_id")).as("__max_id"))))
        .select((col("doc_id") + col("__max_id") + 1L).as("doc_id"),
          lit(1L).as("seq"), lit("U").as("op"),
          concat(lit("inserted near "), col("doc_id")).as("text"),
          lit("en").as("lang"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.operators.Snapshot.applyCdc(
          base, changes, "doc_id", "seq", "op", Seq("text", "lang"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH base AS (SELECT doc_id, text, lang FROM documents),
      ch AS (
        SELECT doc_id, 2 AS seq, 'U' AS op, text || ' [v2]' AS text, lang
        FROM base WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, 1, 'D', NULL, NULL FROM base WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM base), 1, 'U',
          'inserted near ' || doc_id, 'en'
        FROM base WHERE doc_id % 13 = 0),
      last AS (SELECT doc_id, op, text, lang FROM ch
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) = 1)
      SELECT b.doc_id, b.text, b.lang FROM base b
      WHERE b.doc_id NOT IN (SELECT doc_id FROM last)
      UNION ALL
      SELECT doc_id, text, lang FROM last WHERE op = 'U'
      ORDER BY doc_id"""))

  /** CSV ingest with malformed-row quarantine — the ingest-side
    * counterpart of the K4 CSV error sink: PERMISSIVE mode +
    * columnNameOfCorruptRecord keeps the 100 TB crawl job ALIVE through
    * dirty rows (FAILFAST kills it on row one; DROPMALFORMED silently
    * loses data — the one unacceptable option) while quarantining each
    * bad line verbatim for replay. Spark keeps partial results: columns
    * that parsed survive, the unparseable one nulls, the raw line rides
    * the corrupt column — all pinned by the oracle. Fixture: a CSV
    * rendered from documents where every 11th row carries an unparseable
    * numeric field. */
  private val q194 = Q(
    "q194_csv_quarantine",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val base = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val lines = base.select(
        when(col("doc_id") % 11 === 0,
          concat_ws(",", col("doc_id"), col("lang"), lit("oops")))
          .otherwise(concat_ws(",", col("doc_id"), col("lang"),
            col("n_chars"))).as("value"))
      val csvDir = graft.Checkpoints.scratchDir(s, "graft-q194-csv")
      lines.coalesce(1).write.mode("overwrite").text(csvDir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("corrupt_line", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_line")
        .csv(csvDir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("corrupt_line").isNotNull.as("quarantined"),
          col("corrupt_line"))
        .orderBy(col("quarantined"), col("doc_id"))
    },
    Some("""SELECT doc_id, lang,
        CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars END AS n_chars,
        (doc_id % 11 = 0) AS quarantined,
        CASE WHEN doc_id % 11 = 0
          THEN doc_id || ',' || lang || ',oops' ELSE NULL
        END AS corrupt_line
      FROM documents ORDER BY quarantined, doc_id"""))

  /** Golden-record survivorship over dedup clusters — the merge step an
    * entity-resolution pipeline runs AFTER q56's clustering: per
    * cluster (singletons included as their own cluster), pick the
    * surviving record by the most-complete rule (max n_chars, tie →
    * min doc_id) and the surviving lang by per-attribute majority vote
    * (tie → alphabetical). Composes the q56 blocking+CC pass with two
    * rank windows over the CLUSTER-sized frame — cluster cardinality,
    * never corpus², bounds every step. Oracle = the recursive-CTE
    * closure + the same QUALIFY ranks. */
  private val q198 = Q(
    "q198_golden_record",
    (s, dir) => {
      val Window = org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir).documents
      val cc = Dedup.connectedComponents(blockingPairs(docs))
      val membered = docs
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val wBest = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val golden = membered
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("golden_doc_id"),
          col("n_chars").as("golden_n_chars"))
      val wLang = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n").desc, col("lang"))
      val majLang = membered
        .groupBy(col("cluster_id"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wLang))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("lang").as("golden_lang"))
      val sizes = membered.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_chars")).as("total_chars"))
      golden.join(majLang, Seq("cluster_id"))
        .join(sizes, Seq("cluster_id"))
        .select(col("cluster_id"), col("n_members"), col("golden_doc_id"),
          col("golden_n_chars"), col("golden_lang"), col("total_chars"))
        .orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE
      pk AS (SELECT doc_id, substr(text, 1, 120) AS k FROM documents
        WHERE length(text) >= 120),
      sk AS (SELECT doc_id, substr(text, length(text) - 99, 100) AS k
        FROM documents WHERE length(text) >= 100),
      e AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM pk a JOIN pk b
          ON a.k = b.k AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM sk a JOIN sk b
          ON a.k = b.k AND a.doc_id < b.doc_id),
      ee AS (SELECT ida AS src, idb AS dst FROM e
        UNION SELECT idb, ida FROM e),
      cc AS (
        SELECT src AS id, src AS label FROM ee
        UNION
        SELECT ee.dst AS id, cc.label FROM cc JOIN ee ON cc.id = ee.src),
      lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM cc
        GROUP BY id),
      m AS (SELECT d.doc_id, d.lang, d.n_chars,
          coalesce(l.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN lab l USING (doc_id)),
      golden AS (SELECT cluster_id, doc_id AS golden_doc_id,
          n_chars AS golden_n_chars FROM m
        QUALIFY row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_chars DESC, doc_id) = 1),
      maj AS (SELECT cluster_id, lang AS golden_lang
        FROM (SELECT cluster_id, lang, count(*) AS n FROM m GROUP BY 1, 2)
        QUALIFY row_number() OVER (PARTITION BY cluster_id
          ORDER BY n DESC, lang) = 1),
      sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          CAST(sum(n_chars) AS BIGINT) AS total_chars FROM m GROUP BY 1)
      SELECT g.cluster_id, s.n_members, g.golden_doc_id,
        g.golden_n_chars, j.golden_lang, s.total_chars
      FROM golden g JOIN maj j USING (cluster_id)
      JOIN sizes s USING (cluster_id)
      ORDER BY cluster_id"""))

  /** Transitive contamination: docs within 3 near-dup hops of a seeded
    * benchmark set ([[graft.operators.Graph.kHopReachability]] over the
    * q56 blocking graph) — a doc near-dup to a doc near-dup to a
    * benchmark doc is still contaminated, and single-hop decon scans
    * (q110/q76) miss it. BFS first-arrival = minimum hops, so no
    * min-aggregate pass; frontier-sized joins per round. Oracle = the
    * hop-bounded recursive closure with min(hops). */
  private val q199 = Q(
    "q199_contamination_hops",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val seeds = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"))
      graft.operators.Graph.kHopReachability(
          blockingPairs(docs), "id_a", "id_b", seeds, "doc_id", maxHops = 3)
        .select(col("node").as("doc_id"), col("hops"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE
      pk AS (SELECT doc_id, substr(text, 1, 120) AS k FROM documents
        WHERE length(text) >= 120),
      sk AS (SELECT doc_id, substr(text, length(text) - 99, 100) AS k
        FROM documents WHERE length(text) >= 100),
      e AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM pk a JOIN pk b
          ON a.k = b.k AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS ida, b.doc_id AS idb FROM sk a JOIN sk b
          ON a.k = b.k AND a.doc_id < b.doc_id),
      ee AS (SELECT ida AS src, idb AS dst FROM e
        UNION SELECT idb, ida FROM e),
      r AS (
        SELECT doc_id AS id, 0 AS hops FROM documents WHERE doc_id % 7 = 0
        UNION
        SELECT ee.dst, r.hops + 1 FROM r JOIN ee ON r.id = ee.src
        WHERE r.hops < 3)
      SELECT id AS doc_id, CAST(min(hops) AS INTEGER) AS hops
      FROM r GROUP BY id ORDER BY doc_id"""))

  /** CMS join-size estimation — the planner-side device: |A ⋈ B on k| =
    * Σ_k fA(k)·fB(k), estimated as min over sketch rows d of the
    * row-wise inner product Σ_w cmsA[d][w]·cmsB[d][w] (Cormode &
    * Muthukrishnan §4.2) from two FIXED 4×512 tables — no per-key
    * counts join, no shuffle proportional to key cardinality; at 100 TB
    * this is what decides broadcast-vs-shuffle-vs-skew-device BEFORE
    * paying for the join. All counters are integers, so estimate and
    * exact are order-independent and hash-exact; the estimate is
    * provably an UPPER bound (hash collisions only add), require()d in
    * the body against the exact value. */
  private val q200 = Q(
    "q200_join_size_estimate",
    (s, dir) => {
      val ev = Tables(s, dir).events
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"))
      def cells(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .agg(graft.plans.CountMin.sketch(col("user_id"), 4, 512).as("cells"))
        .select(explode(col("cells")).as("e"))
        .select(col("e.row").as("row"), col("e.col").as("col"),
          col("e.cnt").as(s"cnt_$tag"))
      val dots = cells(side("purchase"), "a")
        .join(cells(side("click"), "b"), Seq("row", "col"))
        .groupBy(col("row"))
        .agg(sum(col("cnt_a") * col("cnt_b")).as("dot"))
      val est = dots.agg(min(col("dot")).as("est"))
      val exact = side("purchase").groupBy(col("user_id"))
        .agg(count(lit(1)).as("na"))
        .join(side("click").groupBy(col("user_id"))
          .agg(count(lit(1)).as("nb")), Seq("user_id"))
        .agg(sum(col("na") * col("nb")).as("exact"))
      val out = dots.crossJoin(est).crossJoin(exact)
        .select(col("row").cast("int").as("d"), col("dot"), col("est"),
          col("exact"))
        .orderBy(col("d"))
      val r = out.limit(1).collect()(0)
      require(r.getLong(2) >= r.getLong(3),
        "CMS inner-product estimate must upper-bound the exact join size")
      out
    },
    Some {
      import XxhashSqlGen._
      def sideCells(tag: String, etype: String): (String, String) = {
        val base = s"base$tag AS (SELECT CAST(user_id AS HUGEINT) AS v" +
          s" FROM events WHERE event_type = '$etype')"
        val (c1, last1) = stages(s"${tag}s", "v", "42::HUGEINT", s"base$tag")
        var ctes = Seq(base) ++ c1
        var last = last1
        val bucketCols = (0 until 4).map { j =>
          val (cj, lastj) = stages(s"$tag$j", s"$j::HUGEINT", s"h${tag}s", last)
          ctes ++= cj
          last = lastj
          s"""(((CASE WHEN h$tag$j >= 9223372036854775808::HUGEINT
              THEN h$tag$j - $big ELSE h$tag$j END % 512) + 512) % 512) AS b$j"""
        }
        ctes :+= s"buckets$tag AS (SELECT ${bucketCols.mkString(", ")} FROM $last)"
        ctes :+= (s"cells$tag AS (SELECT j.row, j.col, count(*) AS cnt FROM (" +
          s" SELECT 0 AS row, b0 AS col FROM buckets$tag" +
          s" UNION ALL SELECT 1, b1 FROM buckets$tag" +
          s" UNION ALL SELECT 2, b2 FROM buckets$tag" +
          s" UNION ALL SELECT 3, b3 FROM buckets$tag) j GROUP BY j.row, j.col)")
        (ctes.mkString(",\n"), s"cells$tag")
      }
      val (ca, _) = sideCells("pa", "purchase")
      val (cb, _) = sideCells("pb", "click")
      s"""WITH $ca,
      $cb,
      dots AS (SELECT a.row, sum(a.cnt * b.cnt) AS dot
        FROM cellspa a JOIN cellspb b ON a.row = b.row AND a.col = b.col
        GROUP BY a.row),
      est AS (SELECT min(dot) AS est FROM dots),
      exact AS (SELECT sum(na * nb) AS exact FROM
        (SELECT user_id, count(*) AS na FROM events
          WHERE event_type = 'purchase' GROUP BY 1) a
        JOIN (SELECT user_id, count(*) AS nb FROM events
          WHERE event_type = 'click' GROUP BY 1) b USING (user_id))
      SELECT CAST(d.row AS INTEGER) AS d, CAST(d.dot AS BIGINT) AS dot,
        CAST(e.est AS BIGINT) AS est, CAST(x.exact AS BIGINT) AS exact
      FROM dots d, est e, exact x ORDER BY d"""
    })

  /** Rendezvous-hashing shard assignment
    * ([[graft.operators.Layout.rendezvousAssign]]): every document's
    * owner among 5 stable shard ids, plus the per-shard census — the
    * placement table a 100 TB corpus ships to its readers (minimal
    * disruption on membership change pinned in LayoutSpec; `pmod`
    * placement would reshuffle (n−1)/n of the corpus per change). The
    * oracle re-derives every argmax from the closed-formula XXH64
    * chain (per-node score = XXH64(nodeId, seed = XXH64(doc_id, 42)),
    * compared SIGNED like Spark's longs, ties to the lowest id). */
  private val q220 = Q(
    "q220_rendezvous_shards",
    (s, dir) => graft.operators.Layout.rendezvousAssign(
        Tables(s, dir).documents.select(col("doc_id")),
        col("doc_id"), Seq(0L, 1L, 2L, 3L, 4L))
      .groupBy(col("owner"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
        min(col("doc_id")).as("min_id"))
      .orderBy(col("owner")),
    Some {
      import XxhashSqlGen._
      val base = "base AS (SELECT doc_id, CASE WHEN doc_id < 0 THEN " +
        s"doc_id + $big ELSE CAST(doc_id AS HUGEINT) END AS v FROM documents)"
      val (c1, l1) = stages("rv", "v", "42::HUGEINT", "base")
      var ctes = Seq(base) ++ c1
      var last = l1
      val scoreCols = (0 until 5).map { n =>
        val (cn, ln) = stages(s"rs$n", s"$n::HUGEINT", "hrv", last)
        ctes ++= cn
        last = ln
        s"""CASE WHEN hrs$n >= 9223372036854775808::HUGEINT
            THEN hrs$n - $big ELSE hrs$n END AS s$n"""
      }
      ctes :+= s"sc AS (SELECT doc_id, ${scoreCols.mkString(", ")} FROM $last)"
      ctes :+= ("own AS (SELECT doc_id, owner FROM (SELECT doc_id, " +
        "u.owner, u.s, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY u.s DESC, u.owner ASC) AS rn FROM sc, LATERAL (" +
        (0 until 5).map(n => s"SELECT $n AS owner, s$n AS s")
          .mkString(" UNION ALL ") +
        ") u) WHERE rn = 1)")
      s"""WITH ${ctes.mkString(",\n")}
        SELECT CAST(owner AS BIGINT) AS owner,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS sum_ids,
          CAST(min(doc_id) AS BIGINT) AS min_id
        FROM own GROUP BY owner ORDER BY owner"""
    })

  /** Per-source Spearman rank correlation between document length and
    * token count — the monotone-association probe of the corpus-stats
    * family (q35): "does this source's char count track its token count,
    * or does it hide outlier structure" (a low ρ flags sources whose
    * length signal is unreliable for curriculum/quality gating).
    * Numerics are EXACT until the last three ops: fractional tie-ranks
    * are carried DOUBLED (2·rank() + tiecount − 1, an integer — Spearman
    * is affine-invariant so ρ is unchanged), every moment is an exact
    * integer sum, and only the final (num / √(d1·d2), round 6) touches
    * doubles — multiply, sqrt (IEEE correctly-rounded), divide evaluate
    * identically in both engines on identical integer inputs, with no
    * order-dependent float accumulation anywhere. One shuffle per rank
    * window + one keyed aggregation; degenerate (constant) variables
    * yield NULL, not a division blow-up. */
  private val q210 = Q(
    "q210_spearman_corr",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir).documents
        .select(col("source"), col("n_chars").as("x"),
          tokenCount(col("text")).as("y"))
      val r = d.select(col("source"),
        (lit(2L) * rank().over(
          Window.partitionBy(col("source")).orderBy(col("x"))) +
          count(lit(1)).over(
            Window.partitionBy(col("source"), col("x"))) - 1L).as("rx"),
        (lit(2L) * rank().over(
          Window.partitionBy(col("source")).orderBy(col("y"))) +
          count(lit(1)).over(
            Window.partitionBy(col("source"), col("y"))) - 1L).as("ry"))
      val a = r.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val d1 = col("n") * col("sxx") - col("sx") * col("sx")
      val d2 = col("n") * col("syy") - col("sy") * col("sy")
      a.select(col("source"), col("n").as("n_docs"),
        when(d1 > 0 && d2 > 0,
          round(num.cast("double") /
            sqrt(d1.cast("double") * d2.cast("double")), 6))
          .otherwise(lit(null).cast("double")).as("spearman"))
        .orderBy(col("source"))
    },
    Some("""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS y
        FROM documents),
      r AS (SELECT source,
          2 * rank() OVER (PARTITION BY source ORDER BY x)
            + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
          2 * rank() OVER (PARTITION BY source ORDER BY y)
            + count(*) OVER (PARTITION BY source, y) - 1 AS ry
        FROM d),
      a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
          CAST(sum(rx * rx) AS BIGINT) AS sxx,
          CAST(sum(ry * ry) AS BIGINT) AS syy,
          CAST(sum(rx * ry) AS BIGINT) AS sxy
        FROM r GROUP BY source)
      SELECT source, n AS n_docs,
        CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
          THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
          ELSE NULL END AS spearman
      FROM a ORDER BY source"""))

  /** The pre-join planning advisory ([[graft.plans.JoinAdvisor]], the
    * q200 estimator with a CONSUMER) graded end to end: purchases with
    * half the users folded onto one hot key joined against clicks — the
    * decision must come out `salt`, with every number on the row
    * (est-output upper bound, hottest-key output, fair share, the
    * power-of-two salt bucket count) re-derived by DuckDB from scratch.
    * The Misra-Gries candidate pass runs at capacity 4096 ≥ the
    * fixture's key cardinality, where MG is EXACT and merge-order
    * independent (the documented regime), so the oracle's candidate set
    * (all distinct keys of either side) provably equals the engine's;
    * the CMS point estimates and inner product are restated with the
    * closed-formula XXH64 chain (three chained hashes per key: the
    * sideStats pre-hash, the sketch seed, the row-bucket), cells
    * re-derived as Σ_k freq(k)·[bucket(k)=cell] over the distinct-key
    * relation. `targetPartitions` pins the fair-share divisor to the
    * deployment width (32) so the advisory is session-independent —
    * exactly how a notebook advises for the cluster the join will run
    * on. */
  private val q207 = Q(
    "q207_join_advisory",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(when(col("user_id") % 10 < 5, lit(7L))
          .otherwise(col("user_id")).as("k"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("k"))
      val advice = graft.plans.JoinAdvisor.advise(
        purchases, col("k"), clicks, col("k"),
        broadcastMaxRows = 100L, skewFactor = 3.0,
        minSaltOutputRows = 1000L, maxSaltBuckets = 1024,
        hhCapacity = 4096, targetPartitions = Some(32))
      import s.implicits._
      Seq((advice.strategy, advice.leftRows, advice.rightRows,
        advice.estOutputRows, advice.hotKeyOutputRows,
        advice.fairShareRows, advice.hotKeyOutputCorrected,
        advice.fairShareCorrected, advice.saltBuckets.toLong))
        .toDF("strategy", "left_rows", "right_rows", "est_output",
          "hot_output", "fair_share", "hot_corr", "fair_corr",
          "salt_buckets")
    },
    Some {
      import XxhashSqlGen._
      // per-key CMS buckets: three chained XXH64 lanes (pre-hash h1 =
      // XXH64(k, 42) — sideStats' xxhash64(col); sketch seed h2 =
      // XXH64(h1, 42) — CountMinAgg's update; row bucket = XXH64(j, h2)
      // % 512), over the DISTINCT-key relation (cells are then
      // Σ_k freq·[bucket=cell], identical to the per-row aggregate)
      val kv = "kv AS (SELECT k, CASE WHEN k < 0 THEN k + " + big +
        " ELSE CAST(k AS HUGEINT) END AS vk FROM keys)"
      val (c1, l1) = stages("jx", "vk", "42::HUGEINT", "kv")
      val (c2, l2) = stages("jy", "hjx", "42::HUGEINT", l1)
      var ctes = Seq(kv) ++ c1 ++ c2
      var last = l2
      val bucketCols = (0 until 4).map { j =>
        val (cj, lj) = stages(s"jb$j", s"$j::HUGEINT", "hjy", last)
        ctes ++= cj
        last = lj
        s"""(((CASE WHEN hjb$j >= 9223372036854775808::HUGEINT
            THEN hjb$j - $big ELSE hjb$j END % 512) + 512) % 512) AS b$j"""
      }
      ctes :+= s"kb AS (SELECT k, ${bucketCols.mkString(", ")} FROM $last)"
      val chains = ctes.mkString(",\n")
      s"""WITH pk AS (SELECT CASE WHEN user_id % 10 < 5 THEN 7
            ELSE user_id END AS k
          FROM events WHERE event_type = 'purchase'),
        ck AS (SELECT user_id AS k FROM events WHERE event_type = 'click'),
        keys AS (SELECT DISTINCT k FROM
          (SELECT k FROM pk UNION ALL SELECT k FROM ck)),
        $chains,
        kbl AS (SELECT k, u.row, u.col FROM kb, LATERAL (
          SELECT 0 AS row, b0 AS col UNION ALL SELECT 1, b1
          UNION ALL SELECT 2, b2 UNION ALL SELECT 3, b3) u),
        fa AS (SELECT k, count(*) AS n FROM pk GROUP BY k),
        fb AS (SELECT k, count(*) AS n FROM ck GROUP BY k),
        cellsa AS (SELECT row, col, CAST(sum(n) AS BIGINT) AS cnt
          FROM kbl JOIN fa USING (k) GROUP BY row, col),
        cellsb AS (SELECT row, col, CAST(sum(n) AS BIGINT) AS cnt
          FROM kbl JOIN fb USING (k) GROUP BY row, col),
        esta AS (SELECT k, CAST(min(coalesce(ca.cnt, 0)) AS BIGINT) AS est
          FROM kbl LEFT JOIN cellsa ca USING (row, col) GROUP BY k),
        estb AS (SELECT k, CAST(min(coalesce(cb.cnt, 0)) AS BIGINT) AS est
          FROM kbl LEFT JOIN cellsb cb USING (row, col) GROUP BY k),
        hot AS (SELECT CAST(max(ea.est * eb.est) AS BIGINT) AS hot
          FROM esta ea JOIN estb eb USING (k)),
        -- count-MEAN-min per key per side (cmmEstimate: each row's cell
        -- minus its expected collision mass, min over rows, floored 0),
        -- and fHat = greatest(cmm, exact MG count) — MG at capacity >=
        -- cardinality is EXACT, so the per-key frequency floor is fa/fb
        cmma AS (SELECT kbl.k, greatest(0, CAST(min(coalesce(ca.cnt, 0)
              - ((SELECT count(*) FROM pk) - coalesce(ca.cnt, 0)) // 511)
            AS BIGINT)) AS cmm
          FROM kbl LEFT JOIN cellsa ca USING (row, col) GROUP BY kbl.k),
        cmmb AS (SELECT kbl.k, greatest(0, CAST(min(coalesce(cb.cnt, 0)
              - ((SELECT count(*) FROM ck) - coalesce(cb.cnt, 0)) // 511)
            AS BIGINT)) AS cmm
          FROM kbl LEFT JOIN cellsb cb USING (row, col) GROUP BY kbl.k),
        hotc AS (SELECT CAST(max(
            greatest(ma.cmm, coalesce(fa.n, 0))
              * greatest(mb.cmm, coalesce(fb.n, 0))) AS BIGINT) AS hotcorr
          FROM cmma ma JOIN cmmb mb USING (k)
          LEFT JOIN fa USING (k) LEFT JOIN fb USING (k)),
        dots AS (SELECT r.row,
            CAST(coalesce(sum(ca.cnt * cb.cnt), 0) AS BIGINT) AS dot
          FROM (VALUES (0), (1), (2), (3)) r(row)
          LEFT JOIN cellsa ca ON ca.row = r.row
          LEFT JOIN cellsb cb ON cb.row = ca.row AND cb.col = ca.col
          GROUP BY r.row),
        est AS (SELECT CAST(min(dot) AS BIGINT) AS est FROM dots),
        calc AS (SELECT
            (SELECT count(*) FROM pk) AS na,
            (SELECT count(*) FROM ck) AS nb,
            e.est, h.hot, hc.hotcorr,
            greatest(1, e.est // 32) AS fair,
            -- collision-corrected inner product (innerProductCorrected):
            -- (IP*W - Na*Nb) // (W-1), clamped at hotcorr and 0, then
            -- the corrected fair share
            greatest(1, greatest(
              (CAST(e.est AS HUGEINT) * 512
                - CAST((SELECT count(*) FROM pk) AS HUGEINT)
                  * (SELECT count(*) FROM ck)) // 511,
              CAST(hc.hotcorr AS HUGEINT), 0::HUGEINT) // 32) AS faircorr
          FROM est e, hot h, hotc hc),
        pow AS (SELECT coalesce(min(p), 1024) AS buckets
          FROM (VALUES (2), (4), (8), (16), (32), (64), (128), (256),
            (512), (1024)) t(p), calc
          WHERE p >= greatest(2, hotcorr // faircorr))
      SELECT
        CASE WHEN least(na, nb) <= 100 THEN 'broadcast'
          WHEN hotcorr > 3.0 * faircorr AND hotcorr >= 1000 THEN 'salt'
          ELSE 'shuffle' END AS strategy,
        CAST(na AS BIGINT) AS left_rows, CAST(nb AS BIGINT) AS right_rows,
        est AS est_output, hot AS hot_output, fair AS fair_share,
        hotcorr AS hot_corr, CAST(faircorr AS BIGINT) AS fair_corr,
        CAST(CASE WHEN least(na, nb) > 100
            AND hotcorr > 3.0 * faircorr AND hotcorr >= 1000
          THEN p.buckets ELSE 0 END AS BIGINT) AS salt_buckets
      FROM calc, pow p"""
    })

  /** Exactly-once streaming ingestion through the DSv2 keyed connector
    * ([[graft.sources.v2.KeyedJsonStream]]): the crawl side of the
    * documents table rendered as 3 mtime-ordered micro-batch files,
    * streamed via foreachBatch into the `graft-keyed` layout with
    * batch-id idempotence (marker + residue-scrub protocol in
    * KeyedJsonBatchWrite.commit — the q176 write path made replay-safe,
    * so the connector story matches the q142/q159 manifest story). The
    * graded path then REPLAYS batch 1 (the crash window between sink
    * commit and checkpoint commit): the marker must turn it into a
    * skip, or every lang count doubles for a third of the corpus and
    * the oracle reds. Final read goes back through the connector's SPJ
    * scan; the full crash matrix (mid-commit partial, rollback restart)
    * is pinned in SinkSourceSpec. */
  private val q206 = Q(
    "q206_stream_keyed_exactly_once",
    (s, dir) => {
      import graft.Checkpoints
      import graft.sources.v2.KeyedJsonStream
      val crawl = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), col("lang"))
      val outDir = Checkpoints.scratchDir(s, "graft-q206-out")
      val streamDir = Checkpoints.scratchDir(s, "graft-q206-src")
      val ck = Checkpoints.scratchDir(s, "graft-q206-ck")
      try {
        Checkpoints.renderBatches(
          crawl.withColumn("bat", pmod(col("doc_id"), lit(3))),
          "bat", "json", streamDir)(b => f"batch$b%02d.json")
        val inSchema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType)))
        val incoming = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 1).json(streamDir)
          .withColumn("shard",
            pmod(xxhash64(col("doc_id")), lit(8L)).cast("int"))
        KeyedJsonStream.writer(incoming, outDir, "shard", ck).start()
          .awaitTermination()
      } finally Seq(streamDir, ck).foreach(Checkpoints.release)
      require((0L to 2L).forall(KeyedJsonStream.isCommitted(outDir, _)),
        "all 3 micro-batches must leave commit markers")
      // the at-least-once replay window, in the graded path: batch 1
      // again with the same id — the ledger must skip it whole
      val replay = crawl.filter(pmod(col("doc_id"), lit(3)) === 1)
        .withColumn("shard",
          pmod(xxhash64(col("doc_id")), lit(8L)).cast("int"))
      require(!KeyedJsonStream.appendBatch(replay, outDir, "shard", 1L),
        "replayed batch id must be skipped by the commit ledger")
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("shard", IntegerType)))
      s.read.format("graft-keyed").schema(outSchema)
        .option("keycol", "shard").load(outDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
        CAST(sum(doc_id) AS BIGINT) AS sum_ids
      FROM documents WHERE doc_id % 10 <> 0
      GROUP BY lang ORDER BY lang"""))

  /** Incremental near-dup dedup with the curated corpus in the KEYED
    * CONNECTOR
    * ([[graft.streaming.DocumentStreams.incrementalDedupToKeyedSigned]])
    * — the single most common real 100 TB pipeline loop (a continuously
    * crawled corpus), composed from pieces graded separately: q38's
    * banded MinHash/LSH algebra probing a PERSISTED index (q142's
    * manifest store), novel docs appending through q206's exactly-once
    * keyed write path, the result read back through the connector's SPJ
    * scan. The graded path then REPLAYS batch 1 with the same id through
    * BOTH stores — the keyed ledger must skip it whole (require()d) and
    * the manifest must no-op, or a third of the corpus double-appends /
    * double-signs and the oracle reds. FULL ORACLE: q142's sequential
    * 3-batch NOT-EXISTS unroll over the q77 signature fixture, WITHOUT
    * the quality gate (this lifecycle dedups only — gating is q142's
    * composition). The crash-in-the-middle window (keyed committed,
    * manifest not yet swapped) is StreamingSpec's territory. */
  private val q227 = Q(
    "q227_stream_keyed_incremental_dedup",
    (s, dir) => {
      import graft.streaming.DocumentStreams
      val docs = Tables(s, dir).documents
      val seedIdx = Dedup.signDocs(
        docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      val idxPath = graft.Checkpoints.scratchDir(s, "graft-q227-idx")
      val outPath = graft.Checkpoints.scratchDir(s, "graft-q227-out")
      val res = DocumentStreams.incrementalDedupToKeyedSigned(
        s, dir, seedIdx, outPath, idxPath, batchFiles = 3,
        shards = 8, numHashes = 64, bands = 4, threshold = 0.95)
      // the at-least-once replay window, in the graded path (the q206
      // matrix): batch 1 again with the same id, through both stores
      val replay = docs.filter(col("doc_id") % 10 =!= 0)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
      DocumentStreams.processKeyedDedupBatch(
        s, replay, 1L, idxPath, outPath, shards = 8,
        numHashes = 64, bands = 4, threshold = 0.95)
      require(!graft.sources.v2.KeyedJsonStream.appendBatch(
          replay.select(col("doc_id"), col("lang"),
            pmod(xxhash64(col("doc_id")), lit(8L)).cast("int").as("shard")),
          outPath, "shard", 1L),
        "replayed batch id must be skipped by the keyed commit ledger")
      // res re-reads the connector AFTER the replays — any duplication
      // or re-signing would surface as extra rows against the oracle
      res
    },
    Some("""WITH raw AS (SELECT doc_id, kind, idx, value
        FROM read_parquet('__VERIFY_OUT__/q77_signature_table/*.parquet')),
      s AS (SELECT doc_id, list(value ORDER BY idx) AS wh
        FROM raw WHERE kind = 'wh' GROUP BY doc_id),
      b AS (SELECT doc_id, value AS bh, idx AS band
        FROM raw WHERE kind = 'band'),
      cand AS (SELECT DISTINCT a1.doc_id AS id_new, a2.doc_id AS id_old
        FROM b a1 JOIN b a2 ON a1.band = a2.band AND a1.bh = a2.bh
        WHERE a1.doc_id <> a2.doc_id),
      near AS (SELECT DISTINCT id_new, id_old FROM cand
        JOIN s sa ON sa.doc_id = cand.id_new
        JOIN s sb ON sb.doc_id = cand.id_old
        WHERE round(CAST(len(list_intersect(sa.wh, sb.wh)) AS DOUBLE)
          / (len(sa.wh) + len(sb.wh) - len(list_intersect(sa.wh, sb.wh))),
          4) >= 0.95),
      inc AS (SELECT doc_id, lang, doc_id % 3 AS bat FROM documents
        WHERE doc_id % 10 <> 0),
      seed AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      s0 AS (SELECT doc_id, lang FROM inc i WHERE bat = 0 AND NOT EXISTS (
        SELECT 1 FROM near n JOIN seed sd ON sd.doc_id = n.id_old
        WHERE n.id_new = i.doc_id)),
      s1 AS (SELECT doc_id, lang FROM inc i WHERE bat = 1 AND NOT EXISTS (
        SELECT 1 FROM near n WHERE n.id_new = i.doc_id AND (
          n.id_old IN (SELECT doc_id FROM seed)
          OR n.id_old IN (SELECT doc_id FROM s0)))),
      s2 AS (SELECT doc_id, lang FROM inc i WHERE bat = 2 AND NOT EXISTS (
        SELECT 1 FROM near n WHERE n.id_new = i.doc_id AND (
          n.id_old IN (SELECT doc_id FROM seed)
          OR n.id_old IN (SELECT doc_id FROM s0)
          OR n.id_old IN (SELECT doc_id FROM s1))))
      SELECT doc_id, lang FROM s0
      UNION ALL SELECT doc_id, lang FROM s1
      UNION ALL SELECT doc_id, lang FROM s2
      ORDER BY doc_id"""))

  /** The q227 crawl loop WITH SIGNATURE-INDEX COMPACTION in the loop
    * (r16 verdict #5: the keyed lifecycle's index accreted one token
    * dir per batch forever — at 100 TB-years the probe join pays an
    * O(batches) listing and a many-small-files scan at every trigger).
    * compactEvery=2 rewrites the index's live entries into one
    * `compactNNNNN` token mid-stream (after batch 1, between batch 1's
    * two-store commit and batch 2's manifest read), so batch 2 probes a
    * COMPACTED index — and, since r18, a compacted SURVIVOR store: the
    * same trigger folds each keyed shard's per-batch files into one
    * generation (KeyedJsonStream.compact, `_gen` manifest swap, ledger
    * markers carried). The oracle is q227's verbatim: compaction must
    * move bytes, never verdicts. The replay probes both exactly-once
    * stores after the swaps (`maxBatch` rides the compacted manifest;
    * the keyed ledger markers survive the fold); the requires pin that
    * both compactions actually happened. The crash windows (compact
    * dirs written / gen files written, manifest not swapped) are
    * StreamingSpec's territory. */
  private val q236 = Q(
    "q236_stream_keyed_dedup_compacted",
    (s, dir) => {
      import graft.streaming.DocumentStreams
      val docs = Tables(s, dir).documents
      val seedIdx = Dedup.signDocs(
        docs.filter(col("doc_id") % 10 === 0), col("text"), col("doc_id"),
        numHashes = 64, bands = 4)
      val idxPath = graft.Checkpoints.scratchDir(s, "graft-q236-idx")
      val outPath = graft.Checkpoints.scratchDir(s, "graft-q236-out")
      val res = DocumentStreams.incrementalDedupToKeyedSigned(
        s, dir, seedIdx, outPath, idxPath, batchFiles = 3,
        shards = 8, numHashes = 64, bands = 4, threshold = 0.95,
        compactEvery = 2)
      val st = DocumentStreams.readCommits(s, idxPath)
      require(st.entries.exists(_.startsWith("compact")),
        s"compaction must have run mid-stream; live entries: ${st.entries}")
      require(st.maxBatch == 2L,
        s"the replay record must ride the compacted manifest: $st")
      // the SURVIVOR store compacted too (r17 verdict #3): batches 0-1
      // folded into one generation per shard, ledger markers carried —
      // `res` below re-reads the connector THROUGH the generation
      // manifest, so any row lost/duplicated by the fold reds the oracle
      val genSt = graft.sources.v2.KeyedJson.readGen(outPath)
      require(genSt.exists(g => g.gen >= 1L && g.folded == 1L),
        s"keyed survivor store must have compacted batches 0-1: $genSt")
      // the q227 replay matrix, over the COMPACTED store: batch 1 again
      // with the same id through both stores — manifest skips on
      // maxBatch, keyed ledger skips on its marker
      val replay = docs.filter(col("doc_id") % 10 =!= 0)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
      DocumentStreams.processKeyedDedupBatch(
        s, replay, 1L, idxPath, outPath, shards = 8,
        numHashes = 64, bands = 4, threshold = 0.95)
      require(!graft.sources.v2.KeyedJsonStream.appendBatch(
          replay.select(col("doc_id"), col("lang"),
            pmod(xxhash64(col("doc_id")), lit(8L)).cast("int").as("shard")),
          outPath, "shard", 1L),
        "replayed batch id must be skipped by the keyed commit ledger " +
          "after compaction")
      res
    },
    q227.oracle)

  override val all: Seq[Q] =
    Seq(q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43,
      q44, q56, q66, q67, q68, q69, q73, q74, q75, q76, q77, q85, q86, q87,
      q88, q90, q91, q92, q93, q94, q95, q98, q99, q100, q101, q102, q103,
      q104, q107, q108, q110, q111, q112, q113, q114, q115, q119, q122,
      q123, q124, q125, q126, q127, q130, q133, q135, q137, q140, q141,
      q142, q144, q145, q146, q147, q148, q151, q152, q153, q159, q167,
      q172, q174, q175, q177, q186, q187, q188, q194, q198, q199,
      q200, q206, q207, q210, q220, q222, q227, q236)
}
