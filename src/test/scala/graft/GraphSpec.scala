package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 5): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("s", "d"), col("s"), col("d"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Reference implementation: same update rule, same floor-snap, driver-side. */
  private def refRanks(
      edges: Seq[(Long, Long)], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val teleport = (1.0 - damping) / n
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dmShare = nodes.sorted.filterNot(out.contains)
        .foldLeft(0.0)((acc, v) => acc + r(v)) / n
      r = nodes.map { v =>
        val insum = edges.filter(_._2 == v).sortBy(_._1)
          .foldLeft(0.0)((acc, e) => acc + r(e._1) / out(e._1))
        v -> math.floor((teleport + damping * (insum + dmShare)) * 1e9 + 0.5) / 1e9
      }.toMap
    }
    r
  }

  test("two-node cycle converges to the uniform fixed point exactly") {
    val r = ranks(Seq(1L -> 2L, 2L -> 1L))
    assert(r(1L) === 0.5)
    assert(r(2L) === 0.5)
  }

  test("matches the driver-side reference rule bit-for-bit on a 4-node graph") {
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 3L, 2L -> 4L)
    val got = ranks(edges)
    val want = refRanks(edges, 5)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, pr) => assert(pr === want(v), s"node $v") }
    // the sink-heavy node 3 must dominate
    assert(got(3L) === got.values.max)
  }

  test("dangling node redistributes mass: total rank conserved") {
    // 2 is a sink (no out-edges); without redistribution rank mass leaks.
    val r = ranks(Seq(1L -> 2L, 3L -> 2L, 2L -> 2L).filterNot(e => e._1 == 2L))
    val total = r.values.sum
    assert(math.abs(total - 1.0) < 1e-6, s"mass leaked: $total")
    val want = refRanks(Seq(1L -> 2L, 3L -> 2L), 5)
    r.foreach { case (v, pr) => assert(pr === want(v), s"node $v") }
  }

  test("repeated runs are bit-identical (pinned fold order)") {
    val edges = (0L until 40L).flatMap(i =>
      Seq(i -> ((i * 7 + 3) % 40), i -> ((i * 13 + 5) % 40)))
    val a = ranks(edges)
    val b = ranks(edges)
    assert(a === b)
  }

  private def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(edges.toDF("u", "v"), "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts: known graph, vs brute force, canonical gate") {
    // K4 on {1,2,3,4}: every node sits in C(3,2)=3 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(triangles(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // a path has no triangles → empty result (nodes in 0 triangles absent)
    assert(triangles(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)) === Map.empty)

    // skewed hub + brute-force cross-check: star core {1..30}→hub 99 plus
    // a few chords closing triangles through and beside the hub
    val star = (1L to 30L).map(i => (i, 99L))
    val chords = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, (5L, 6L), (10L, 11L))
    val es = star ++ chords
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val brute = (for {
      a <- nodes; b <- adj(a) if b > a; c <- adj(b) if c > b
      if adj(a)(c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(triangles(es) === brute)

    // non-canonical edges (src >= dst) are rejected, not double-counted
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Graph.triangleCounts(
        Seq((2L, 1L), (1L, 3L)).toDF("u", "v"), "u", "v").collect()
    }
    assert(e.getMessage.contains("canonical"))

    // an exact duplicate canonical edge passes src<dst but would silently
    // double-count every triangle its oriented edge touches — the dedup
    // gate rejects it by name
    val d = intercept[IllegalArgumentException] {
      Graph.triangleCounts(
        Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v"),
        "u", "v").collect()
    }
    assert(d.getMessage.contains("duplicate"), d.getMessage)
  }

  test("kHopReachability: min hops, bound respected, two-route min, isolation") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a shortcut 1-4: node 4 is reachable in 3 hops
    // via the path but 1 via the shortcut — min wins; node 5 is 2 via
    // the shortcut; 10-11 is a disconnected island (never reached)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (10L, 11L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.kHopReachability(edges, "u", "v", seeds, "id", 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))

    // hop bound: maxHops = 1 stops the frontier
    val one = Graph.kHopReachability(edges, "u", "v", seeds, "id", 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one === Map(1L -> 0, 2L -> 1, 4L -> 1))

    // maxHops = 0: seeds only
    val zero = Graph.kHopReachability(edges, "u", "v", seeds, "id", 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(zero === Map(1L -> 0))
  }

  test("kHopReachability releases every round: storage grows by the result only") {
    import spark.implicits._
    // a 5-node path: every one of the 3 rounds adds a frontier and a
    // merged visited set, and the edge checkpoint lives through them all
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val got = Graph.kHopReachability(edges, "u", "v", Seq(1L).toDF("id"), "id", 3)
    val grown = sc.getPersistentRDDs.keySet -- before
    val returned = got.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(returned.size === 1)
    assert(grown === returned, s"rounds left pinned: ${grown -- returned}")
    assert(got.count() === 4L)
  }

  test("labelPropagation: hand-traced sync rounds, tie-break to min " +
    "label, communities split across a bridge") {
    import spark.implicits._
    // two triangles bridged at 3-4
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("u", "v")
    def lp(r: Int): Map[Long, Long] =
      Graph.labelPropagation(edges, "u", "v", r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 0: identity labels
    assert(lp(0) === (1L to 6L).map(n => n -> n).toMap)
    // round 1, hand-traced with sync updates + min-label ties:
    // 1 sees {2,3} -> 2; 2 sees {1,3} -> 1; 3 sees {1,2,4} -> 1;
    // 4 sees {3,5,6} -> 3; 5 sees {4,6} -> 4; 6 sees {4,5} -> 4
    assert(lp(1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
    // round 3: the two triangles settle into distinct communities
    val l3 = lp(3)
    assert(l3(1L) === l3(2L) && l3(2L) === l3(3L))
    assert(l3(4L) === l3(5L) && l3(5L) === l3(6L))
    assert(l3(1L) !== l3(4L), s"bridge must not merge the triangles: $l3")

    // star: all leaves adopt the hub's label; the hub ties across leaf
    // labels and takes the MINIMUM — determinism is the contract
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val s1 = Graph.labelPropagation(star, "u", "v", 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(s1 === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))

    // repeated runs are identical (no RNG, no visit order)
    assert(lp(3) === lp(3))
  }

  test("labelPropagation: early stop at the zero-change fixed point is " +
    "output-identical to the fixed-round run") {
    import spark.implicits._
    // two DISJOINT triangles: converge to their min labels in 2 rounds
    // and stay there — a genuinely converging fixture (the bridged
    // fixture above oscillates at the hub and never triggers the stop)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("u", "v")
    def lp(r: Int): Map[Long, Long] =
      Graph.labelPropagation(edges, "u", "v", r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val settled = lp(3)
    assert(settled === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    // 50 requested rounds return the identical labeling (and, with the
    // early stop, without paying for the 47 identity rounds — wall time
    // is not asserted, equality is the contract)
    assert(lp(50) === settled)
  }
}
