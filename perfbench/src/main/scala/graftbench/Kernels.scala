package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

import graft.functions.TextFunctions
import graft.plans.NativeExprs

/** Rows/s of each native kernel in `NativeExprKernels`, timed over the
  * workload's own cached text, and its speed against the composed
  * built-in reference where one exists (`vs_builtin` = reference time /
  * kernel time). Vector kernels run over seeded unit vectors. */
object Kernels {

  private def timeNoop(df: DataFrame, reps: Int): Double = {
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  /** `text` has a `text` column; returns metric name -> value. */
  def run(spark: SparkSession, text: DataFrame, seed: Long,
      rows: Int = 3000, reps: Int = 3): Seq[(String, Double)] = {
    val base = text.select(col("text")).filter(col("text").isNotNull)
    val n0 = base.count()
    val copies = math.max(1, math.ceil(rows.toDouble / math.max(1L, n0)).toInt)
    val docs = base.crossJoin(spark.range(copies).toDF("copy"))
      .select(col("text"), monotonically_increasing_id().as("rid"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val n = docs.count().toDouble
    val wh = docs.select(col("rid"),
      array_sort(array_distinct(TextFunctions.elementHashes(TextFunctions.tokens(col("text"))))).as("wh"))
      .cache()
    wh.count()
    val pairs = wh.as("a").join(wh.as("b"), col("a.rid") === col("b.rid") + 1)
      .select(col("a.wh").as("x"), col("b.wh").as("y")).cache()
    val nPairs = pairs.count().toDouble
    val r = new java.util.SplittableRandom(seed)
    val dim = 64
    def vec() = Gen.unitVector(r, dim).map(_.toDouble).toSeq
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until rows).map(_ => Row(vec(), vec())),
        spark.sparkContext.defaultParallelism),
      StructType(Seq(StructField("x", ArrayType(DoubleType)), StructField("y", ArrayType(DoubleType)))))
      .cache()
    vecs.count()
    val planes = (0 until 16).map(_ => vec())

    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    def builtinLsh(v: Column): Column =
      planes.zipWithIndex.map { case (p, i) =>
        when(dot(v, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)

    // (input frame, its rows, kernel expression, reference expression)
    val cases: Seq[(String, DataFrame, Double, Column, Option[Column])] = Seq(
      ("simhash64", docs, n, TextFunctions.simhash64(col("text")),
        Some(TextFunctions.simhash64ViaColumns(col("text")))),
      ("minhashSig", wh, n, NativeExprs.minhashSignature(col("wh"), 64),
        Some(TextFunctions.minhashFromHashesViaColumns(col("wh"), 64))),
      ("shingleStats", docs, n, NativeExprs.shingleStats(col("text"), 5),
        Some(struct(size(TextFunctions.shinglesViaColumns(col("text"), 5)),
          size(array_distinct(TextFunctions.shinglesViaColumns(col("text"), 5)))))),
      ("winnowFingerprints", docs, n, NativeExprs.winnowFingerprints(col("text"), 5, 4), None),
      ("jaccardSorted", pairs, nPairs, NativeExprs.jaccardSorted(col("x"), col("y")),
        Some(TextFunctions.jaccard(col("x"), col("y")))),
      ("cosineSim", vecs, rows.toDouble, NativeExprs.cosineSim(col("x"), col("y")),
        Some(dot(col("x"), col("y")) / (sqrt(dot(col("x"), col("x"))) * sqrt(dot(col("y"), col("y")))))),
      ("lshSignature", vecs, rows.toDouble, NativeExprs.lshSignature(col("x"), planes),
        Some(builtinLsh(col("x")))))
    try cases.flatMap { case (name, df, count, kernel, reference) =>
      val tk = timeNoop(df.select(kernel.as("k")), reps)
      val rate = Seq(s"plans.kernel.$name.rows_per_s" -> count / tk)
      rate ++ reference.map(ref =>
        s"plans.kernel.$name.vs_builtin" -> timeNoop(df.select(ref.as("k")), reps) / tk)
    } finally {
      Seq(docs, wh, pairs, vecs).foreach(_.unpersist())
    }
  }
}
