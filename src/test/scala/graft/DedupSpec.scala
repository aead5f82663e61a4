package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Dedup
import graft.functions.TextFunctions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sfDir).documents.cache()

  /** Brute-force ground truth: all pairs with word-set jaccard >= t. */
  private def bruteForcePairs(t: Double): Set[(Long, Long)] = {
    val sets = docs.select(col("doc_id"),
      array_distinct(tokens(col("text"))).as("words"))
    val a = sets.select(col("doc_id").as("id_a"), col("words").as("words_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("words").as("words_b"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(round(jaccard(col("words_a"), col("words_b")), 4) >= t)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("exact dedup groups conserve rows") {
    val groups = Dedup.exactDupGroups(docs, col("text"), col("doc_id"))
    val total = groups.agg(sum(col("n"))).head().getLong(0)
    assert(total === docs.count())
  }

  test("minhash LSH pairs: perfect precision, high recall vs brute force") {
    val truth = bruteForcePairs(0.95)
    val got = Dedup.minhashNearDupPairs(docs, col("text"), col("doc_id"),
        numHashes = 64, bands = 4, threshold = 0.95)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "verify step must kill every false candidate")
    assert(truth.nonEmpty, "fixture should contain near-dups")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.7, s"LSH recall $recall too low (${got.size}/${truth.size})")
  }

  test("simhash: identical texts collide at hamming 0, pairs are plausible") {
    val sig = docs.select(simhash64(col("text")).as("s"), col("doc_id"))
    val s0 = sig.filter(col("doc_id") === 0).head().getLong(0)
    assert(s0 === sig.filter(col("doc_id") === 0).head().getLong(0)) // deterministic
    val pairs = Dedup.simhashNearDupPairs(docs, col("text"), col("doc_id"), maxHamming = 6)
    val rows = pairs.collect()
    assert(rows.forall(r => r.getInt(2) <= 6))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("ngram jaccard for explicit pairs matches jaccard() on shingles") {
    val pairs = spark.createDataFrame(Seq((0L, 1L), (1L, 2L))).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccardForPairs(docs, pairs, col("text"), col("doc_id"), 3)
    assert(out.count() === 2)
    assert(out.collect().forall { r =>
      val j = r.getDouble(2); j >= 0.0 && j <= 1.0
    })
  }

  test("winnow containment finds planted quoted documents") {
    import spark.implicits._
    // doc 101 is doc 100 verbatim inside a much larger wrapper — whole-set
    // jaccard between them is low, but containment of 100 in 101 is ~1.0
    val core = (1 to 40).map(i => s"core sentence number $i about winnowing").mkString(" ")
    val filler = (1 to 400).map(i => s"filler text block $i with unrelated words").mkString(" ")
    val planted = Seq(
      (100L, core),
      (101L, s"$filler $core more trailing filler content"),
      (102L, "a short standalone document with nothing shared at all"),
      (103L, (1 to 300).map(i => s"different corpus segment $i entirely").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowContainmentPairs(
        planted, col("text"), col("doc_id"), k = 8, window = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.exists { case (a, b, c) => a == 100L && b == 101L && c >= 0.9 },
      s"planted containment pair missing: ${pairs.mkString(",")}")
    assert(!pairs.exists { case (a, b, _) => b == 102L || a == 102L })
    // survivorship: the contained doc (100, smaller fp set) is dropped,
    // its container (101) and the unrelated docs survive
    val survivors = Dedup.winnowDedupSurvivors(
        planted, col("text"), col("doc_id"), k = 8, window = 4, threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(101L, 102L, 103L))
  }

  test("connected components: chains, triangles, and isolated pairs cluster correctly") {
    import spark.implicits._
    // chain 1-2-3-4 (transitivity across hops), triangle 10-11-12,
    // isolated pair 20-21; 3 is also linked to 12 merging chain+triangle
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = Set(1L, 2L, 3L, 4L, 10L, 11L, 12L)
    merged.foreach(id => assert(got(id) === 1L, s"node $id"))
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got.size === 9)
  }

  test("connected components refuse to return partial labels past maxIter") {
    import spark.implicits._
    // a 30-node path graph needs ~29 hash-min rounds; maxIter=5 must throw
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 5)
    }
    // and with enough rounds the whole path is one cluster
    val labels = Dedup.connectedComponents(chain, maxIter = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet === Set(1L))
  }

  test("large-star/small-star CC matches hash-min on the hand graph") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Set(1L, 2L, 3L, 4L, 10L, 11L, 12L).foreach(id => assert(got(id) === 1L))
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got.size === 9)
  }

  test("star CC converges in O(log n) rounds where hash-min needs O(diameter)") {
    import spark.implicits._
    // a 64-hop path: hash-min needs ~63 rounds (throws at 20); star
    // needs ~log2(64) alternating rounds and sails through the same budget
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 20)
    }
    val star = Dedup.connectedComponentsStar(chain, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.size === 64 && star.values.toSet === Set(1L))
  }

  test("star CC does not declare a multi-parent non-star graph converged") {
    import spark.implicits._
    // regression: children {10,20} each have two parents ({5,1} and {5,2})
    // while no parent is itself a child, so a parent∩child-only convergence
    // probe accepts this graph at entry and splits the single component
    // {1,2,5,10,20} into three clusters (and emits two rows per child).
    // The strengthened probe must iterate until everything labels as 1.
    val pairs = Seq((5L, 10L), (5L, 20L), (1L, 10L), (2L, 20L)).toDF("id_a", "id_b")
    val rows = Dedup.connectedComponentsStar(pairs).collect()
    assert(rows.length === 5, "exactly one row per vertex")
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Set(1L, 2L, 5L, 10L, 20L).foreach(id => assert(got(id) === 1L, s"node $id"))
    val hashMin = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === hashMin)
  }

  test("star CC equals hash-min labeling on a random blocking graph") {
    import spark.implicits._
    // deterministic random graph: many small components of varied shape
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val hashMin = Dedup.connectedComponents(pairs, maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === hashMin)
  }

  test("decontamination flags planted overlaps; boilerplate grams are capped") {
    import spark.implicits._
    val quote = (0 until 10).map(i => s"q$i").mkString(" ")     // 10 words -> 3 8-grams
    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")     // exactly one 8-gram
    val header = (0 until 8).map(i => s"h$i").mkString(" ")     // exactly one 8-gram
    val evalDocs = Seq(
      (1000L, s"e0 e1 e2 $quote e3 e4"),
      (1001L, s"$boiler z0 z1")) ++
      // the eval-side boilerplate: 7 held-out docs share one header gram,
      // crossing the df cap on the EVAL side of the join
      (2000L until 2007L).map(i => (i, s"m$i $header"))
    val trainDocs =
      Seq((1L, s"t0 t1 $quote t2 t3"),                           // real contamination
        (2L, s"u0 u1 u2 u3 u4 u5 u6 u7 u8"),                     // clean
        (3L, s"n0 n1 $header")) ++                               // header only
        (10L until 30L).map(i => (i, s"v$i w$i x$i $boiler"))    // boilerplate only
    val train = trainDocs.toDF("doc_id", "text")
    val eval = evalDocs.toDF("doc_id", "text")

    // with the df cap at 5, the 20-train-doc boilerplate gram and the
    // 7-eval-doc header gram are both dropped (the cap applies per side):
    // only the genuine quote overlap survives
    val capped = Dedup.contamination(
        train, eval, col("text"), col("doc_id"), n = 8, maxDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(capped.toSeq === Seq((1L, 3L, 1L)))

    // with the cap lifted, every boilerplate/header carrier is
    // (correctly) flagged, and the header carrier counts all 7 eval docs
    // it touches (one job, both assertions from the collected rows)
    val uncapped = Dedup.contamination(
        train, eval, col("text"), col("doc_id"), n = 8, maxDf = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(uncapped.map(_._1).toSet === (Set(1L, 3L) ++ (10L until 30L)))
    assert(uncapped.filter(_._1 == 3L).toSeq === Seq((3L, 1L, 7L)))

    // the composed scrub drops exactly the flagged rows, schema intact
    // (doc 3 survives at maxDf=5: its only shared gram is over-cap)
    val clean = Dedup.decontaminate(
      train, eval, col("text"), col("doc_id"), n = 8, maxDf = 5L)
    assert(clean.columns.toSeq === train.columns.toSeq)
    assert(clean.collect().map(_.getLong(0)).toSet ===
      trainDocs.map(_._1).toSet - 1L)

    // the hashed-gram scale variant agrees with the exact-string join
    val hashed = Dedup.contamination(
        train, eval, col("text"), col("doc_id"), n = 8, maxDf = 5L,
        hashGrams = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hashed.toSeq === capped.toSeq)
  }

  test("scan-first decontamination: eval-only cap semantics on planted docs") {
    import spark.implicits._
    val quote = (0 until 10).map(i => s"q$i").mkString(" ")
    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")
    val header = (0 until 8).map(i => s"h$i").mkString(" ")
    val evalDocs = Seq(
      (1000L, s"e0 e1 e2 $quote e3 e4"),
      (1001L, s"$boiler z0 z1")) ++
      (2000L until 2007L).map(i => (i, s"m$i $header"))
    val trainDocs =
      Seq((1L, s"t0 t1 $quote t2 t3"),
        (2L, s"u0 u1 u2 u3 u4 u5 u6 u7 u8"),
        (3L, s"n0 n1 $header")) ++
        (10L until 30L).map(i => (i, s"v$i w$i x$i $boiler"))
    val train = trainDocs.toDF("doc_id", "text")
    val eval = evalDocs.toDF("doc_id", "text")

    val scan = Dedup.contaminationScanFirst(
        train, eval, col("text"), col("doc_id"), n = 8, maxDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: genuine quote overlap. doc 3: its only shared gram (header)
    // has EVAL df 7 > 5 -> capped -> absent, same as contamination. docs
    // 10-29: the boilerplate gram has eval df 1 but TRAIN df 20 — here
    // they ARE flagged: the df cap applies to the eval side only (the
    // train-side cap in `contamination` was a shuffle-skew guard this
    // shape replaces structurally — the documented semantic divergence).
    assert(scan === (Set((1L, 3L, 1L)) ++
      (10L until 30L).map(i => (i, 1L, 1L))))
  }

  test("containsEvalGram kernel verdict == composed shingles verdict on whitespace edges") {
    import spark.implicits._
    val eval = Seq((1000L, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text")
    val gramRows = eval
      .select(explode(array_distinct(shingles(col("text"), 8))).as("g"))
      .distinct()
    val gramStrings = gramRows.collect().map(_.getString(0)).toSeq
    val hashes = gramRows.select(xxhash64(col("g")))
      .collect().map(_.getLong(0)).toSeq
    val weird = Seq(
      (100L, "\te0 e1 e2 q0 q1 q2 q3 q4 q5 q6 q7"), // leading tab -> empty head token
      (101L, "  q0 q1  q2   q3 q4 q5 q6 q7  "),     // space padding + internal runs
      (102L, "q0\nq1 q2 q3 q4\tq5 q6 q7"),          // newline/tab separators
      (103L, "totally unrelated words only here"),
      (104L, ""),
      (105L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = weird.select(col("doc_id"),
        graft.plans.NativeExprs.containsEvalGram(col("text"), hashes, 8).as("v"),
        arrays_overlap(array_distinct(shingles(col("text"), 8)),
          typedlit(gramStrings)).as("ref"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getBoolean(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSeq
    // the kernel must agree with the composed column form row-for-row —
    // this is the tokenization-parity contract (trim spaces only, \s+
    // split keeping empty edge tokens, ' '-joined grams, xxhash64/42).
    // Sole null-text divergence: shingles(null) is [] (so the composed
    // verdict is false) while the null-safe kernel yields null — both
    // filter-falsy, so the operator outcome is identical.
    for ((id, v, ref) <- got if v.isDefined)
      assert(v === ref, s"kernel/composed verdict mismatch on doc $id")
    val byId = got.map(g => g._1 -> g._2).toMap
    assert(byId(100L) === Some(true) && byId(101L) === Some(true) &&
      byId(102L) === Some(true) && byId(103L) === Some(false) &&
      byId(104L) === Some(false) && byId(105L) === None)
    assert(got.find(_._1 == 105L).get._3 === Some(false))
  }

  test("scan-first decontamination matches the composed confirm on the fixture") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val scan = Dedup.contaminationScanFirst(
        train, eval, col("text"), col("doc_id"), n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def post(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select(col("doc_id").cast("long").as(as),
        explode(array_distinct(shingles(col("text"), 8))).as("gram"))
    val overCap = post(eval, "eval_id").groupBy("gram").count()
      .filter(col("count") > 1000).select("gram")
    val evalPost = post(eval, "eval_id").join(overCap, Seq("gram"), "left_anti")
    val ref = post(train, "train_id").join(evalPost, Seq("gram"))
      .groupBy("train_id")
      .agg(countDistinct(col("gram")).as("sg"), countDistinct(col("eval_id")).as("ed"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(scan === ref)
    assert(scan.nonEmpty, "fixture should contain at least one contaminated train doc")
  }

  test("bloom decontamination is output-identical to scan-first, even degraded") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val ref = Dedup.contaminationScanFirst(
        train, eval, col("text"), col("doc_id"), n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = Dedup.contaminationBloom(
        train, eval, col("text"), col("doc_id"), n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom === ref)
    // 1 bit/gram saturates the filter with false positives — the
    // one-sidedness contract says the confirm join still yields the
    // exact output, just from a larger candidate set
    val degraded = Dedup.contaminationBloom(
        train, eval, col("text"), col("doc_id"), n = 8, bitsPerGram = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(degraded === ref)
    assert(ref.nonEmpty, "fixture should contain at least one contaminated train doc")
  }

  test("bloom kernel: zero false negatives; FPR within theory at 12 bits/key") {
    import graft.plans.NativeExprKernels
    val n = 10000
    val bitsPerKey = 12
    val k = math.max(1, math.round(math.log(2.0) * bitsPerKey).toInt)
    val bits = new Array[Long](((n.toLong * bitsPerKey + 63) / 64).toInt)
    // deterministic key stream disjoint from the probe stream below
    def key(i: Int): Long = i.toLong * 0x9E3779B97F4A7C15L + 1L
    (0 until n).foreach(i => NativeExprKernels.bloomSet(bits, key(i), k))
    assert((0 until n).forall(i => NativeExprKernels.bloomMightContain(bits, key(i), k)),
      "a Bloom filter must never false-negative an inserted key")
    val probes = 100000
    val inserted = (0 until n).map(key).toSet
    var fp = 0
    var j = 0
    while (j < probes) {
      val p = j.toLong * 0xBF58476D1CE4E5B9L + 7L
      if (!inserted.contains(p) && NativeExprKernels.bloomMightContain(bits, p, k)) fp += 1
      j += 1
    }
    val rate = fp.toDouble / probes
    // theory: (1 - e^(-k/12))^k ~= 0.3%; generous ceiling for hash luck
    assert(rate < 0.02, s"bloom FPR $rate out of range at $bitsPerKey bits/key")
  }

  test("winnow containment pairs on fixture are symmetric-safe and bounded") {
    val pairs = Dedup.winnowContainmentPairs(
      docs, col("text"), col("doc_id"), k = 8, window = 4, threshold = 0.5)
    val rows = pairs.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r => val c = r.getDouble(3); c >= 0.5 && c <= 1.0 })
    // the fixture's near-dups come in two flavors: character-level edits
    // (shared long substrings — winnowing's territory) and whole-word
    // shuffles (word-set overlap only — MinHash's territory, invisible to
    // substring fingerprints). Ground-truth the first flavor as doc pairs
    // sharing an identical 120-char prefix and require containment recall.
    val prefixPairs = docs.select(col("doc_id"), substring(col("text"), 1, 120).as("p"))
      .groupBy("p").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "filter(transform(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))), " +
          "s -> s), s -> s.a < s.b)")).as("pr"))
      .select(col("pr.a"), col("pr.b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefixPairs.nonEmpty, "fixture should contain identical-prefix near-dups")
    val recall = (prefixPairs intersect got).size.toDouble / prefixPairs.size
    assert(recall >= 0.9,
      s"containment recall on shared-prefix pairs $recall (${prefixPairs.size} truth)")
  }

  test("duplicate spans: planted cross-doc, self-repetition merge, and gaps") {
    import spark.implicits._
    val dup8 = "a b c d e f g h"          // planted in docs 1, 2, 4
    val rep8 = "m n o p q r s t"          // twice in doc 3, once in doc 4
    val planted = Seq(
      (1L, s"$dup8 x y z"),               // span [0,7]
      (2L, s"p q $dup8 r"),               // span [2,9]
      (3L, s"$rep8 $rep8"),               // self-dup: touch-merge -> [0,15]
      (4L, s"$dup8 u1 u2 $rep8"),         // two spans: [0,7], [10,17]
      (5L, "totally unique words that collide with nothing at all here"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(planted, col("text"), col("doc_id"), n = 8)
      .orderBy("doc_id", "span_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(spans.toSeq === Seq(
      (1L, 0L, 7L, 1L),
      (2L, 2L, 9L, 1L),
      (3L, 0L, 15L, 2L),   // positions 0 and 8 touch (8 = 7+1): one span
      (4L, 0L, 7L, 1L), (4L, 10L, 17L, 1L)))

    val scrubbed = Dedup.scrubDuplicateSpans(planted, col("text"), col("doc_id"), n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(scrubbed(0) === ((1L, "x y z", 3L)))
    assert(scrubbed(1) === ((2L, "p q r", 3L)))
    assert(scrubbed(2) === ((3L, "", 0L)))            // fully covered, kept
    assert(scrubbed(3) === ((4L, "u1 u2", 2L)))
    assert(scrubbed(4)._2 === planted.filter(col("doc_id") === 5).head().getString(1))
  }

  test("incremental dedup: batch vs signature index, within-batch dups kept") {
    import spark.implicits._
    val existing = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "completely different corpus content about spark execution engines"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "novel unseen text that matches nothing in the existing index at all"),
      (5L, "novel unseen text that matches nothing in the existing index at all"))
      .toDF("doc_id", "text")
    val signedIn = Dedup.signDocs(incoming, col("text"), col("doc_id"))
    val keptRows = Dedup.dedupSignedAgainstIndex(signedIn,
        Dedup.signDocs(existing, col("text"), col("doc_id")), threshold = 0.9)
    // the probe returns the batch's own signed rows
    assert(keptRows.columns.toSeq === signedIn.columns.toSeq)
    val kept = keptRows.collect().map(_.getLong(0)).toSet
    // 1 duplicates indexed doc 2 → dropped; 3 and 5 duplicate EACH OTHER
    // but nothing in the index → both kept (within-batch dedup is a
    // separate pass by contract)
    assert(kept === Set(3L, 5L))
  }

  test("incremental dedup probe: no shuffle, and the stored index is only " +
    "ever a streamed side") {
    // the probe's cost must follow the batch: the stored index is scanned
    // past the batch's broadcast bands, never broadcast itself, and no
    // row of either side crosses a shuffle
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    val dir = java.nio.file.Files.createTempDirectory("graft-spec-probe-idx")
      .toString
    Dedup.signDocs(docs.filter(col("doc_id") % 2 === 0), col("text"),
      col("doc_id")).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    val plan = try Dedup.dedupSignedAgainstIndex(
        Dedup.signDocs(docs.filter(col("doc_id") % 2 === 1), col("text"),
          col("doc_id")).localCheckpoint(true),
        spark.read.parquet(dir))
      .queryExecution.executedPlan
    finally spark.conf.set(key, prior)
    // the side of its nearest enclosing join each file scan sits on
    def scanSides(p: SparkPlan, side: String): Seq[String] = p match {
      case j: BroadcastHashJoinExec =>
        val (build, stream) =
          if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
        scanSides(build, "build") ++ scanSides(stream, "stream")
      case _: FileSourceScanExec => Seq(side)
      case other => other.children.flatMap(scanSides(_, side))
    }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    assert(scanSides(plan, "none") === Seq("stream"), plan)
  }

  test("signDocs: wh and mh_bands equal signatureTable's wh and band rows") {
    // the near-dup oracles read signatureTable's long-format rows while
    // the engine probes signDocs' arrays: both must carry one signature
    val half = docs.filter(col("doc_id") % 2 === 0)
    val signed = Dedup.signDocs(
      half, col("text"), col("doc_id"), numHashes = 64, bands = 4)
    val table = Dedup.signatureTable(
      half, col("text"), col("doc_id"), numHashes = 64, bands = 4)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.selectExpr("doc_id", "cast(v as string)").collect().map(_.toString).toSet
    def regrouped(kind: String) = table.filter(col("kind") === kind)
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("value")))),
        s => s.getField("value")).as("v"))
    assert(rows(signed.select(col("doc_id"), col("wh").as("v"))) ===
      rows(regrouped("wh")))
    assert(rows(signed.select(col("doc_id"), col("mh_bands").as("v"))) ===
      rows(regrouped("band")))
  }

  test("signDocs banding: band-collision rate of exact-Jaccard pairs " +
    "matches 1-(1-J^rows)^bands") {
    // synthetic pairs of known word-set Jaccard J = shared / (shared + 2
    // unique-per-side counts), every word distinct across pairs so the
    // pairs are independent trials of the 64-hash, 4-band signature
    import spark.implicits._
    val perJ = 400
    val shapes = Seq((0.90, 90, 5, 5), (0.95, 95, 3, 2), (0.98, 98, 1, 1))
    val pairs = for {
      ((_, shared, onlyA, onlyB), s) <- shapes.zipWithIndex
      p <- 0 until perJ
    } yield {
      def words(tag: String, n: Int) = (0 until n).map(k => s"s${s}p${p}$tag$k")
      val common = words("c", shared)
      val id = (s * perJ + p).toLong
      Seq((2 * id, (common ++ words("a", onlyA)).mkString(" ")),
        (2 * id + 1, (common ++ words("b", onlyB)).mkString(" ")))
    }
    val signed = Dedup.signDocs(pairs.flatten.toDF("doc_id", "text"),
        col("text"), col("doc_id"), numHashes = 64, bands = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    for (((j, shared, onlyA, onlyB), s) <- shapes.zipWithIndex) {
      assert(shared.toDouble / (shared + onlyA + onlyB) === j)
      val hits = (0 until perJ).count { p =>
        val id = (s * perJ + p).toLong
        signed(2 * id).zip(signed(2 * id + 1)).exists { case (a, b) => a == b }
      }
      val expected = 1 - math.pow(1 - math.pow(j, 16), 4)
      val sigma = math.sqrt(expected * (1 - expected) / perJ)
      val rate = hits.toDouble / perJ
      info(f"J=$j%.2f: band-collision rate $rate%.4f, theory $expected%.4f")
      assert(math.abs(rate - expected) <= 4 * sigma,
        f"J=$j: rate $rate%.4f is off theory $expected%.4f by more than 4σ")
    }
  }

  test("incremental dedup agrees with the symmetric pair dedup across the split") {
    // the fixture parity split: every odd doc dropped by the incremental
    // pass must ALSO appear as a dropped id in some odd-even near-dup
    // pair of the full symmetric operator at the same threshold
    val oddIn = docs.filter(col("doc_id") % 2 === 1)
    val keptIncremental = Dedup.dedupSignedAgainstIndex(
        Dedup.signDocs(oddIn, col("text"), col("doc_id")),
        Dedup.signDocs(docs.filter(col("doc_id") % 2 === 0),
          col("text"), col("doc_id")),
        threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    val crossPairs = Dedup.minhashNearDupPairs(
        docs, col("text"), col("doc_id"), numHashes = 64, bands = 4,
        threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2) != (b % 2) }
    val droppedViaPairs = crossPairs
      .map { case (a, b) => if (a % 2 == 1) a else b }.toSet
    val oddIds = oddIn.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(oddIds -- keptIncremental === droppedViaPairs,
      "incremental drops exactly the odd side of cross-parity near-dup pairs")
  }

  test("duplicate spans: hashGrams shuffle key is output-identical to strings") {
    val byString = Dedup.duplicateSpans(docs, col("text"), col("doc_id"), n = 8)
    val byHash = Dedup.duplicateSpans(docs, col("text"), col("doc_id"), n = 8,
      hashGrams = true)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(byString.collect().map(key).sortBy(identity).toSeq ===
      byHash.collect().map(key).sortBy(identity).toSeq)
    assert(byString.count() > 0, "fixture should contain duplicated 8-grams")
  }

  test("lshPlan picks the factorization whose S-curve midpoint is nearest") {
    assert(Dedup.lshPlan(64, 0.95) === ((2, 32)))
    assert(Dedup.lshPlan(128, 0.8) === ((8, 16)))
    // brute-force cross-check: no divisor pair sits closer than the pick
    for ((n, t) <- Seq((64, 0.95), (128, 0.8), (100, 0.5), (64, 0.05))) {
      val (b, r) = Dedup.lshPlan(n, t)
      assert(b * r === n)
      val err = math.abs(math.pow(1.0 / b, 1.0 / r) - t)
      for (b2 <- 1 to n if n % b2 == 0) {
        val e2 = math.abs(math.pow(1.0 / b2, 1.0 / (n / b2)) - t)
        assert(err <= e2 + 1e-12, s"n=$n t=$t picked ($b,$r) but b=$b2 closer")
      }
    }
    intercept[IllegalArgumentException](Dedup.lshPlan(64, 1.0))
    intercept[IllegalArgumentException](Dedup.lshPlan(0, 0.5))
  }

  test("sourceOverlap: exact bigram containment/jaccard; disjoint pairs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", "a b c"),    // bigrams {a b, b c}
      (2L, "s1", "a b"),      // dup gram within source collapses
      (3L, "s2", "a b d"),    // {a b, b d}
      (4L, "s3", "x y"),      // {x y} — disjoint from s1/s2
      (5L, "s3", "z")         // single token: no bigram
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(d, col("text"), col("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got.keySet === Set("s1" -> "s2"))
    val (na, nb, nc, cont, jac) = got("s1" -> "s2")
    assert((na, nb, nc) === ((2L, 2L, 1L)))
    assert(cont === 0.5)
    assert(jac === 1.0 / 3.0)
  }

  test("editDistancePairs: FastSS blocking complete for subs, indels, empty") {
    import spark.implicits._
    // hand corpus exercising every edit kind at k=1 and k=2, plus the
    // empty-string guard (sequence(1,0) would run descending unguarded)
    val rows = Seq(
      (1L, "spark"), (2L, "spork"), // substitution           ed 1
      (3L, "sprk"), //                deletion                 ed 1 from spark
      (4L, "sparkk"), //              insertion                ed 1 from spark
      (5L, "fling"), (6L, "flink"), // tail substitution       ed 1
      (7L, "zzzzz"), //               far from everything
      (8L, ""), (9L, "a")) //         empty vs one char        ed 1
    val df = rows.toDF("id", "s")
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- 1 to 2) {
      val want = (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && ed(sa, sb) <= k
      } yield (ia, ib, ed(sa, sb))).toSet
      val got = Dedup.editDistancePairs(df, col("s"), col("id"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === want, s"k=$k")
      assert(want.nonEmpty, s"hand corpus must contain ed<=$k pairs")
    }
    // keep-min survivorship: 2/3/4 fall to 1; 6 falls to 5; 7/8 survive
    // (9 falls to 8: ed("", "a") = 1)
    val kept = Dedup.editDistanceSurvivors(df, col("s"), col("id"), k = 1)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 5L, 7L, 8L))
  }

  test("advisor-steered fuzzy join: every strategy verdict returns the " +
    "static path's exact pairs; the conf flag gates the default entry") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, f"Entity#$i%06d")).toDF("id", "s")
    val want = Dedup.editDistancePairs(df, col("s"), col("id"), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty)
    // broadcast verdict (dimension-sized variants, default thresholds)
    val (ab, pb) = Dedup.editDistancePairsAdvised(df, col("s"), col("id"))
    assert(ab.strategy === "broadcast", ab.toString)
    assert(pb.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === want)
    // salt verdict (broadcast disallowed, deployment-width fair share):
    // the zero-padded ids make deletion-variant blocks genuinely hot
    // (maxHotShare lifted: the 400-id fixture's shared-prefix variant
    // blocks carry well past the default demotion ceiling at this tiny
    // scale — salt-execution parity is the thing under test; the
    // crossover itself is JoinAdvisorSpec's pin)
    val (as, ps) = Dedup.editDistancePairsAdvised(df, col("s"), col("id"),
      k = 1, broadcastMaxRows = 0L, skewFactor = 1.5,
      minSaltOutputRows = 10L, maxSaltBuckets = 4,
      targetPartitions = Some(200000), maxHotShare = 1.0)
    assert(as.strategy === "salt" && as.saltBuckets >= 2, as.toString)
    assert(ps.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === want,
      "salting must move shuffle placement, never semantics")
    // the conf flag routes the PLAIN operator through the advisory
    spark.conf.set("spark.graft.advisor.fuzzyJoin", "true")
    try {
      val gated = Dedup.editDistancePairs(df, col("s"), col("id"), k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(gated === want)
    } finally spark.conf.unset("spark.graft.advisor.fuzzyJoin")
  }
}
