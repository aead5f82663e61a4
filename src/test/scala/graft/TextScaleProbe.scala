package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, LangModel, Similarity}
import graft.functions.TextFunctions.gopherQuality

/** Test-scope scaling probe for the text/LLM-pipeline families (the
  * ScaleProbe pattern on documents instead of embeddings): replicates
  * the corpus reps× (doc_id remapped, so every doc gains reps-1 exact
  * twins — deliberately the WORST case for the dedup/span families) and
  * times each operator warm through a noop write. Run:
  * sbt "Test/runMain graft.TextScaleProbe [sfDir] [reps]"
  *
  * Scaling mode — `sbt "Test/runMain graft.TextScaleProbe scaling
  * [sfDir]"` — measures GROWTH instead of a single worst case: the
  * corpus is grown 1×/4×/8× with rep-suffixed vocabularies (every word
  * of rep r > 0 gets a `~r` suffix, so replicas share no shingles and
  * the duplicate DENSITY stays constant while N grows — the clean
  * scale-up, unlike the exact-twin worst case above), and the three
  * banded text-dedup families (minhash-LSH q38, winnowing q44,
  * substring-spans q90) are timed at each size. The probe ASSERTS
  * sub-quadratic growth: an all-pairs shape would cost ~64× at 8×, the
  * banded shapes must stay within 3× of linear (t8 ≤ 24·t1), else the
  * run fails. Per-row costs are printed as NOTES-ready rows.
  */
object TextScaleProbe {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("scaling")) scalingMain(args.drop(1))
    else worstCaseMain(args)

  private def worstCaseMain(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.sources.Tables(spark, dir).documents
    val big = base
      .crossJoin(spark.range(reps.toLong).select(col("id").as("rep")))
      .select((col("doc_id") * reps + col("rep")).as("doc_id"),
        col("text"), col("lang"), col("source"))
      .repartition(32).localCheckpoint(eager = true)
    val n = big.count()

    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      f.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"[scale] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (corpus $n docs)")
    }

    time("gopher_scan") {
      big.select(col("doc_id"), gopherQuality(col("text")).as("g"))
    }
    time("duplicate_spans (strings)") {
      Dedup.duplicateSpans(big, col("text"), col("doc_id"), n = 8)
    }
    time("duplicate_spans (hashGrams)") {
      Dedup.duplicateSpans(big, col("text"), col("doc_id"), n = 8,
        hashGrams = true)
    }
    time("span_scrub") {
      Dedup.scrubDuplicateSpans(big, col("text"), col("doc_id"), n = 8)
    }
    time("bigram_lm") {
      LangModel.bigramLm(big, col("text"), col("doc_id"))
    }
    time("cross_entropy (lm incl.)") {
      LangModel.crossEntropy(big,
        LangModel.bigramLm(big, col("text"), col("doc_id")),
        col("text"), col("doc_id"))
    }
    time("bpe_merges (6 rounds)") {
      Bpe.mergeTable(big, col("text"), 6)
    }
    time("decon (explode both)") {
      Dedup.contamination(
        big.filter(col("doc_id") % 10 =!= 0),
        big.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"), n = 8)
    }
    time("decon (scan-first)") {
      Dedup.contaminationScanFirst(
        big.filter(col("doc_id") % 10 =!= 0),
        big.filter(col("doc_id") % 10 === 0),
        col("text"), col("doc_id"), n = 8)
    }
    time("nb_train") {
      graft.operators.Classifier.naiveBayes(
        big, col("text"), col("doc_id"), col("lang"))
    }
    time("nb_score (train incl.)") {
      graft.operators.Classifier.nbScores(big,
        graft.operators.Classifier.naiveBayes(
          big, col("text"), col("doc_id"), col("lang")),
        col("text"), col("doc_id"))
    }
    // the many-class contrast pair: same corpus, 128 synthetic classes,
    // one pre-trained model — wide path shuffles corpus-tokens × 128,
    // sparse path shuffles only observed (doc, cls) hits
    locally {
      val docs128 = big.withColumn("c128", (col("doc_id") % 128).cast("string"))
      val model128 = graft.operators.Classifier.naiveBayes(
        docs128, col("text"), col("doc_id"), col("c128"))
        .localCheckpoint(eager = true)
      time("nb_score_wide (128 cls)") {
        graft.operators.Classifier.nbScores(
          docs128, model128, col("text"), col("doc_id"))
      }
      time("nb_score_sparse (128 cls)") {
        graft.operators.Classifier.nbScoresSparse(
          docs128, model128, col("text"), col("doc_id"))
      }
    }
    // many-class TREND (the NOTES-promised 1000-class revisit): the
    // sparse path's delta work scales with OBSERVED (doc, word, cls)
    // hits — one class per doc here, so constant in k — while only the
    // k-row prior crossJoin output grows with k. Per-class cost must
    // FALL: 8x the classes in well under 8x the time.
    locally {
      def sparseTime(k: Int): Double = {
        val docsK = big.withColumn("ck", pmod(col("doc_id"), lit(k)).cast("string"))
        val modelK = graft.operators.Classifier.naiveBayes(
          docsK, col("text"), col("doc_id"), col("ck"))
          .localCheckpoint(eager = true)
        val f = graft.operators.Classifier.nbScoresSparse(
          docsK, modelK, col("text"), col("doc_id"))
        f.write.format("noop").mode("overwrite").save() // warm
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val t128 = sparseTime(128)
      val t1024 = sparseTime(1024)
      println(f"[scale] nb_sparse_many_class      128cls ${t128}%6.2f s (${t128 * 1000 / 128}%6.2f ms/cls)   1024cls ${t1024}%6.2f s (${t1024 * 1000 / 1024}%6.2f ms/cls)")
      require(t1024 / math.max(t128, 0.2) < 4.0,
        f"sparse NB grew ${t1024 / math.max(t128, 0.2)}%.1fx for 8x classes — per-class cost is not falling")
    }
    time("dsir_weights (pair-trained)") {
      val (lmT, lmS) = LangModel.bigramLmPair(
        big, col("text"), col("doc_id"), col("lang") === "en")
      graft.operators.Dsir.importanceWeights(
        big, lmT, lmS, col("text"), col("doc_id"))
    }
    time("heavy_hitters_2gram") {
      big.select(explode(graft.functions.TextFunctions.shingles(col("text"), 2)).as("item"))
        .agg(graft.plans.HeavyHitters.misraGries(col("item"), 2048).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item"), col("e.est"))
    }
    time("dhash_pairs") {
      graft.operators.Multimodal.dhashNearDupPairs(
        graft.operators.Multimodal.dhashTable(
          graft.operators.Multimodal.ingestFromDocuments(big)))
    }
    time("incremental_dedup") {
      Dedup.dedupSignedAgainstIndex(
        Dedup.signDocs(big.filter(col("doc_id") % 2 === 1),
          col("text"), col("doc_id")),
        Dedup.signDocs(big.filter(col("doc_id") % 2 === 0),
          col("text"), col("doc_id")))
    }
    spark.stop()
  }

  private def scalingMain(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.sources.Tables(spark, dir).documents

    /** reps-grown corpus with CONSTANT duplicate density: rep r > 0 gets
      * every word suffixed `~r`, so each rep-slice reproduces the base
      * corpus's internal near-dup structure over a disjoint vocabulary —
      * N grows, the dup graph grows proportionally, bucket sizes don't. */
    def grown(reps: Int): (org.apache.spark.sql.DataFrame, Long) = {
      val g = base
        .crossJoin(spark.range(reps.toLong).select(col("id").as("rep")))
        .select((col("doc_id") * reps + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(array_join(transform(split(col("text"), " "),
              w => concat(w, lit("~"), col("rep"))), " ")).as("text"),
          col("lang"), col("source"))
        .repartition(32).localCheckpoint(eager = true)
      (g, g.count())
    }

    def timeOnce(f: => org.apache.spark.sql.DataFrame): Double = {
      f.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val families: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "minhash_lsh_dedup (q38)" -> (d =>
        Dedup.minhashDedupSurvivors(d, col("text"), col("doc_id"),
          numHashes = 64, bands = 4, threshold = 0.95)),
      "winnow_dedup (q44)" -> (d =>
        Dedup.winnowDedupSurvivors(d, col("text"), col("doc_id"),
          k = 20, window = 8, threshold = 0.8)),
      "duplicate_spans (q90)" -> (d =>
        Dedup.duplicateSpans(d, col("text"), col("doc_id"), n = 8,
          hashGrams = true)))

    val sizes = Seq(1, 4, 8)
    val results: Seq[(String, Seq[(Int, Long, Double)])] = {
      val corpora = sizes.map(r => r -> grown(r))
      families.map { case (label, op) =>
        label -> corpora.map { case (r, (c, n)) => (r, n, timeOnce(op(c))) }
      }
    }

    results.foreach { case (label, rows) =>
      rows.foreach { case (r, n, t) =>
        println(f"[scaling] $label%-24s ${r}x  $n%7d docs  $t%7.2f s  ${t * 1000 / n}%6.3f ms/doc")
      }
      val t1 = rows.head._3
      val t8 = rows.last._3
      // sub-quadratic pin: all-pairs would be ~64x at 8x; the banded
      // shapes must stay within 3x of linear. Floor t1 at 0.2s so a
      // tiny-fixture denominator can't turn scheduler jitter into a fail.
      val ratio = t8 / math.max(t1, 0.2)
      println(f"[scaling] $label%-24s 8x/1x total-time ratio $ratio%5.1f (linear=8, quadratic=~64, limit 24)")
      require(ratio < 24.0,
        s"$label grew ${ratio}x from 1x to 8x — super-linear beyond the banded-join bound")
    }

    // ---- winnowing at 16x with the DERIVED df cap: the one measured
    // ≈linear-growth family, probed one doubling further than the main
    // loop, and with maxDf riding GraftSession.defaultWinnowMaxDf(N)
    // instead of a constant — the knob a 100 TB deployment would use.
    // Pin: no super-linear bend (t16 within 3x of linear from t1).
    val winnowRows = (sizes :+ 16).map { r =>
      val (c, n) = grown(r)
      val cap = GraftSession.defaultWinnowMaxDf(n)
      val t = timeOnce(Dedup.winnowDedupSurvivors(c, col("text"), col("doc_id"),
        k = 20, window = 8, threshold = 0.8, maxDf = cap))
      println(f"[scaling] winnow_16x (derived df)  ${r}x  $n%7d docs  $t%7.2f s  ${t * 1000 / n}%6.3f ms/doc  (maxDf=$cap)")
      (r, n, t)
    }
    val wRatio = winnowRows.last._3 / math.max(winnowRows.head._3, 0.2)
    println(f"[scaling] winnow_16x (derived df)  16x/1x total-time ratio $wRatio%5.1f (linear=16, quadratic=~256, limit 48)")
    require(wRatio < 48.0,
      s"winnowing grew ${wRatio}x from 1x to 16x — super-linear bend under the derived df cap")

    // ---- fuzzy edit-distance join (q143) over grown NAMES. Constant
    // dup density needs cross-rep pairs OUT of ed ≤ 1 range: rep r > 0
    // suffixes "~rr" (tilde + rep digit twice), so two reps of the same
    // base name differ in ≥ 2 positions and the unsuffixed rep 0 differs
    // in length by 3 — neither collides under the position-pruned k=1
    // blocking, while each rep-slice reproduces the base corpus's
    // internal ed-1 pair structure.
    val custBase = graft.sources.Tables(spark, dir).customer
      .select(col("c_custkey").cast("long").as("eid"), col("c_name").as("s"))
    def grownNames(reps: Int): (org.apache.spark.sql.DataFrame, Long) = {
      val g = custBase
        .crossJoin(spark.range(reps.toLong).select(col("id").as("rep")))
        .select((col("eid") * reps + col("rep")).as("eid"),
          when(col("rep") === 0, col("s"))
            .otherwise(concat(col("s"), lit("~"), col("rep"), col("rep")))
            .as("s"))
        .repartition(32).localCheckpoint(eager = true)
      (g, g.count())
    }
    val nameRows = sizes.map { r =>
      val (c, n) = grownNames(r)
      val t = timeOnce(Dedup.editDistancePairs(c, col("s"), col("eid"), k = 1))
      println(f"[scaling] fuzzy_ed_pairs (q143)   ${r}x  $n%7d rows  $t%7.2f s  ${t * 1000 / n}%6.3f ms/row")
      (r, n, t)
    }
    val nmRatio = nameRows.last._3 / math.max(nameRows.head._3, 0.2)
    println(f"[scaling] fuzzy_ed_pairs (q143)   8x/1x total-time ratio $nmRatio%5.1f (linear=8, quadratic=~64, limit 24)")
    require(nmRatio < 24.0,
      s"fuzzy_ed_pairs grew ${nmRatio}x from 1x to 8x — super-linear beyond the neighborhood-join bound")
    spark.stop()
  }
}
