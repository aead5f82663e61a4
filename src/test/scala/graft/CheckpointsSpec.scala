package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Pq, Similarity}
import graft.sources.Tables

/** The checkpoint lifecycle, asserted: [[Checkpoints.fixpoint]] owns and
  * releases its rounds, every operator that takes checkpoints keeps
  * pinned only what its returned frame reads, and so does every
  * registered body that reaches those operators. */
class CheckpointsSpec extends SparkSpec {

  /** A one-row frame holding `v`. */
  private def one(v: Long): DataFrame = spark.range(1).select(lit(v).as("v"))
  private def value(df: DataFrame): Long = df.head().getLong(0)
  private val increment: (DataFrame, Int) => DataFrame =
    (prev, _) => prev.select((col("v") + 1).as("v"))

  test("fixpoint: stops at the round bound, and done is asked of round 0") {
    val asked = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (last, held, release) = Checkpoints.fixpoint(one(0), 3)(increment) {
      (prev, next, r) =>
        asked += r
        assert(value(next) - value(prev) === (if (r == 0) 0 else 1))
        false
    }
    assert(value(last) === 3L && !held)
    assert(asked === Seq(0, 1, 2, 3))
    release()
  }

  test("fixpoint: stops at the first round done holds of, and says so") {
    val (last, held, release) = Checkpoints.fixpoint(one(0), 10)(increment) {
      (_, next, _) => value(next) == 2L
    }
    assert(value(last) === 2L && held)
    release()
    // a fixpoint that holds at the start runs no round
    val (start, heldAtStart, releaseStart) =
      Checkpoints.fixpoint(one(7), 10)((_, _) => fail("no round may run"))(
        (_, _, _) => true)
    assert(value(start) === 7L && heldAtStart)
    releaseStart()
  }

  test("fixpoint: a throwing step or done leaves nothing pinned") {
    val (_, grown) = rddsPinnedBy {
      intercept[IllegalStateException] {
        Checkpoints.fixpoint(one(0), 5) { (prev, r) =>
          if (r == 3) throw new IllegalStateException("step") else increment(prev, r)
        }((_, _, _) => false)
      }
      intercept[IllegalStateException] {
        Checkpoints.fixpoint(one(0), 5)(increment) { (_, _, r) =>
          if (r == 2) throw new IllegalStateException("done") else false
        }
      }
    }(_ => Set.empty)
    assert(grown === Set.empty)
  }

  test("fixpoint: only the last round stays pinned, and its release frees it") {
    val ((last, release), grown) = rddsPinnedBy {
      val (last, _, release) =
        Checkpoints.fixpoint(one(0), 4)(increment)((_, _, _) => false)
      (last, release)
    } { case (last, _) => rddsReadBy(last) }
    assert(grown.size === 1 && grown === rddsReadBy(last))
    assert(value(last) === 4L)
    release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(grown).isEmpty)
  }

  // ---- operators: storage grows by the returned frame's checkpoints ------

  private def pairs(ps: (Long, Long)*): DataFrame = {
    import spark.implicits._
    ps.toDF("id_a", "id_b")
  }
  private val hand = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
    (11L, 12L), (10L, 12L), (3L, 12L), (20L, 21L))
  private def edges(es: (Long, Long)*): DataFrame = pairs(es: _*).toDF("u", "v")

  private val frameOperators: Seq[(String, () => DataFrame)] = Seq(
    "Graph.pageRank" -> (() => Graph.pageRank(
      edges(1L -> 2L, 3L -> 2L, 2L -> 3L, 4L -> 3L), col("u"), col("v"))),
    "Graph.labelPropagation" -> (() => Graph.labelPropagation(
      edges((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
        (3L, 4L)), "u", "v", rounds = 4)),
    "Graph.triangleCounts" -> (() => Graph.triangleCounts(
      edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L)), "u", "v")),
    "Dedup.connectedComponents" -> (() => Dedup.connectedComponents(pairs(hand: _*))),
    "Dedup.connectedComponentsStar" ->
      (() => Dedup.connectedComponentsStar(pairs(hand: _*))))

  for ((name, op) <- frameOperators)
    test(s"$name: storage grows by the checkpoints its returned frame reads") {
      val (df, grown) = rddsPinnedBy(op())(rddsReadBy)
      assert(grown.nonEmpty && grown === rddsReadBy(df),
        s"pinned but not read: ${grown -- rddsReadBy(df)}")
      assert(df.collect().nonEmpty, "the returned frame still reads")
    }

  private val trainers: Seq[(String, () => Any)] = Seq(
    "Similarity.kmeansCentroids" -> (() => Similarity.kmeansCentroids(
      Tables(spark, sfDir).embeddings, k = 8, iters = 2)),
    "Pq.pqCodebooks" -> (() => Pq.pqCodebooks(
      Tables(spark, sfDir).embeddings, m = 8, ksub = 16, iters = 2)))

  for ((name, train) <- trainers)
    test(s"$name: a driver-side model leaves no checkpoint pinned") {
      val (_, grown) = rddsPinnedBy(train())(_ => Set.empty)
      assert(grown === Set.empty)
    }

  // ---- registered bodies that reach these operators -----------------------

  private val bodies = Seq("q56_dedup_clusters", "q73_dedup_clusters_star",
    "q118_media_dedup", "q121_knn_graph_dedup", "q138_pagerank",
    "q184_triangle_counts", "q198_golden_record", "q199_contamination_hops",
    "q208_label_propagation", "q49_knn_ivf", "q79_ivf_index_table",
    "q81_pq_codes", "q82_knn_pq", "q83_pq_residual_model")

  for (name <- bodies)
    test(s"$name: the body keeps pinned only RDDs its frame reads") {
      val (df, grown) = rddsPinnedBy {
        val df = SparkEntry.queries(name)(spark, sfDir)
        assert(df.collect().nonEmpty, s"$name returned no rows")
        df
      }(rddsReadBy)
      assert(grown.subsetOf(rddsReadBy(df)),
        s"$name pinned but not read: ${grown -- rddsReadBy(df)}")
    }
}
