package graft

import org.apache.spark.sql.functions._
import graft.operators.Classifier
import graft.sources.Tables

/** Naive-Bayes train/score/label arithmetic, hand-pinned (besides
  * q113's verdict-style oracle — integer state cross-engine, logp
  * tolerance-checked — and q114's transitive full oracle). */
class ClassifierSpec extends SparkSpec {

  private def l2(x: Double): Double =
    BigDecimal(math.log(x) / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q113 rebuilds its persisted model once the model's dir is released") {
    // a stopped context releases every dir it owns; the memo must then
    // rebuild the model instead of reading a deleted path
    val q113 = SparkEntry.queries("q113_nb_model")
    val first = q113(spark, sfDir)
    val want = first.collect().toSeq
    val modelDirs = first.inputFiles.toSeq
      .map(f => new java.io.File(new java.net.URI(f)).getParent).distinct
    assert(modelDirs.nonEmpty && modelDirs.forall(
      new java.io.File(_).getName.startsWith("graft-nb-model")), modelDirs)
    modelDirs.foreach(Checkpoints.release)
    assert(modelDirs.forall(!new java.io.File(_).exists))
    assert(q113(spark, sfDir).collect().toSeq === want)
  }

  test("hand-computed model: Laplace likelihoods, OOV mass, priors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x y", "a"),
      (2L, "y z", "b")).toDF("doc_id", "text", "lang")
    val model = Classifier.naiveBayes(docs, col("text"), col("doc_id"), col("lang"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    // V = 3 ({x,y,z}); class a: tot 3; class b: tot 2; one doc each
    val expected = Map(
      ("obs", "x", "a") -> (2L, l2(3.0 / 6.0)),
      ("obs", "y", "a") -> (1L, l2(2.0 / 6.0)),
      ("obs", "y", "b") -> (1L, l2(2.0 / 5.0)),
      ("obs", "z", "b") -> (1L, l2(2.0 / 5.0)),
      ("oov", "", "a") -> (0L, l2(1.0 / 6.0)),
      ("oov", "", "b") -> (0L, l2(1.0 / 5.0)),
      ("prior", "", "a") -> (1L, l2(0.5)),
      ("prior", "", "b") -> (1L, l2(0.5)))
    assert(model.keySet === expected.keySet)
    for ((k, (cnt, lp)) <- expected) {
      assert(model(k)._1 === cnt, s"count mismatch at $k")
      assert(math.abs(model(k)._2 - lp) < 2e-9, s"logp mismatch at $k")
    }
  }

  test("scores fold prior + per-token logp; token-less docs keep priors; argmax ties break small") {
    import spark.implicits._
    val train = Seq(
      (1L, "x x y", "a"),
      (2L, "y z", "b")).toDF("doc_id", "text", "lang")
    val model = Classifier.naiveBayes(train, col("text"), col("doc_id"), col("lang"))
    val probe = Seq(
      (10L, "x q"), // x observed in a only; q is OOV everywhere
      (11L, "")     // token-less: prior-only scores, exact tie
    ).toDF("doc_id", "text")
    val scores = Classifier.nbScores(probe, model, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val expected = Map(
      (10L, "a") -> (2L, l2(0.5) + (l2(3.0 / 6.0) + l2(1.0 / 6.0))),
      (10L, "b") -> (2L, l2(0.5) + (l2(1.0 / 5.0) + l2(1.0 / 5.0))),
      (11L, "a") -> (0L, l2(0.5)),
      (11L, "b") -> (0L, l2(0.5)))
    assert(scores.keySet === expected.keySet)
    for ((k, (n, s)) <- expected) {
      assert(scores(k)._1 === n, s"n_tokens mismatch at $k")
      assert(math.abs(scores(k)._2 - s) < 2e-6, s"score mismatch at $k")
    }
    val labels = Classifier.nbLabel(
        Classifier.nbScores(probe, model, col("text"), col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // doc 10: class a wins (x's observed likelihood beats b's double OOV);
    // doc 11: exact prior tie -> smallest class string
    assert(labels === Set((10L, "a"), (11L, "a")))
  }

  test("sparse many-class scoring matches the wide path (5 + 128 classes)") {
    val docs = Tables(spark, sfDir).documents
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id"), col("cls")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    // 5 classes (lang): the rounded score frames agree exactly on the
    // fixture (the two fold orders differ at ~1 ulp pre-round; see
    // nbScoresSparse scaladoc for the boundary caveat)
    val model = Classifier.naiveBayes(docs, col("text"), col("doc_id"), col("lang"))
    val wide = Classifier.nbScores(docs, model, col("text"), col("doc_id"))
    val sparse = Classifier.nbScoresSparse(docs, model, col("text"), col("doc_id"))
    assert(frame(sparse) === frame(wide))
    // many classes (the path's reason to exist): labels agree class-for-
    // class on a 17-way synthetic split of the same corpus
    val docs17 = docs.withColumn("c17", (col("doc_id") % 17).cast("string"))
    val m17 = Classifier.naiveBayes(docs17, col("text"), col("doc_id"), col("c17"))
    def labels(df: org.apache.spark.sql.DataFrame) =
      Classifier.nbLabel(df).orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(
      labels(Classifier.nbScoresSparse(docs17, m17, col("text"), col("doc_id")))
        === labels(Classifier.nbScores(docs17, m17, col("text"), col("doc_id"))))
  }

  test("fixture: every document gets exactly one label from the class set") {
    val docs = Tables(spark, sfDir).documents
    val model = Classifier.naiveBayes(docs, col("text"), col("doc_id"), col("lang"))
    val labels = Classifier.nbLabel(
      Classifier.nbScores(docs, model, col("text"), col("doc_id")))
    val n = docs.count()
    assert(labels.count() === n)
    assert(labels.select(countDistinct(col("doc_id"))).head().getLong(0) === n)
    val classes = docs.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.select(col("label")).distinct()
      .collect().map(_.getString(0)).toSet.subsetOf(classes))
  }
}
