package graft

import graft.sources.Tables
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-shape audit: the 100 TB posture, asserted. Filters/projections must
  * reach the parquet scan, dimension joins must broadcast, fact-fact joins
  * must NOT degenerate to nested-loop/cartesian, and top-1-per-group must
  * use WindowGroupLimit. Plans regress silently — these make the explain
  * output part of the test surface.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  // ---- plan pins over the registered query bodies ------------------------
  //
  // The bodies compute; these rows prove the plan property each one claims
  // (co-location with no shuffle, COUNT from the manifest, the advised join
  // strategy). Every row runs the REGISTERED body through SparkEntry.queries.

  /** The physical plan a registered body's result came from. A body that
    * returns a lazy frame is planned here: its frame's executed plan. A
    * body that materialized its result under its own confs (localCheckpoint
    * or collect — its frame is then a LogicalRDD or LocalRelation), or
    * whose pinned join ran inside it (`lastAction`), is read off the last
    * action it ran, captured by a QueryExecutionListener. */
  private def registeredPlan(name: String, lastAction: Boolean): SparkPlan = {
    val sc = spark.sparkContext
    val actions = new java.util.concurrent.ConcurrentLinkedDeque[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    val df = try SparkEntry.queries(name)(spark, sfDir) finally {
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc)
      spark.listenerManager.unregister(listener)
    }
    df.queryExecution.analyzed match {
      case _ if lastAction => actions.getLast.executedPlan
      case _: LogicalRDD | _: LocalRelation => actions.getLast.executedPlan
      case _ => df.queryExecution.executedPlan
    }
  }

  private object AqeTree extends AdaptiveSparkPlanHelper
  private val wholePlan: SparkPlan => String = _.toString
  /** the subtree under the first join of the (final, if adaptive) plan: a
    * pin taken on the join frame, before an aggregate and a sort on top
    * added their own Exchanges */
  private val joinSubtree: SparkPlan => String = p =>
    AqeTree.find(p)(_.isInstanceOf[BaseJoinExec]).fold("")(_.toString)
  /** the lines that render a join node keyed on `key` */
  private def joinLines(key: String): SparkPlan => String =
    _.toString.linesIterator.filter(l => l.contains("Join") && l.contains(key))
      .mkString("\n")
  /** the two halves of a finalized adaptive plan */
  private def adaptiveHalf(initial: Boolean): SparkPlan => String = { p =>
    val halves = p.toString.split("== Initial Plan ==")
    assert(halves.length === 2, s"not a finalized adaptive plan:\n$p")
    halves(if (initial) 1 else 0)
  }

  private case class Pin(
      query: String, claim: String,
      required: Seq[String] = Nil, forbidden: Seq[String] = Nil,
      scope: SparkPlan => String = wholePlan,
      confs: Seq[(String, String)] = Nil,
      lastAction: Boolean = false)

  private val quadratic = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
  /** a GRAFT_ADVISE SQL join run as the targeted-salt union */
  private def saltedSql(query: String, claim: String, alsoForbidden: String*) =
    Pin(query, claim, required = Seq("__gsalt", "Union"),
      forbidden = "BroadcastHashJoin" +: alsoForbidden)

  private val pins = Seq(
    Pin("q158_bucketed_join", "the bucketed join shuffles neither side",
      required = Seq("Bucketed: true"), forbidden = Seq("Exchange"),
      scope = joinSubtree),
    Pin("q160_bucket_coalesced_join",
      "the epoch-drifted bucketed join coalesces the wider side, no shuffle",
      required = Seq("Coalesced"), forbidden = Seq("Exchange"),
      scope = joinSubtree),
    Pin("q163_runtime_bloom_join", "a runtime bloom filter is injected",
      required = Seq("might_contain")),
    Pin("q164_dynamic_partition_pruning",
      "the fact scan carries a dynamic partition filter",
      required = Seq("dynamicpruning")),
    Pin("q165_aqe_skew_join", "AQE splits the skewed join",
      required = Seq("skew=true", "skewed")),
    Pin("q166_aqe_join_replan", "the static plan is a sort-merge join",
      required = Seq("SortMergeJoin"), scope = adaptiveHalf(initial = true)),
    Pin("q166_aqe_join_replan", "AQE re-plans the join to broadcast",
      required = Seq("BroadcastHashJoin"), scope = adaptiveHalf(initial = false)),
    Pin("q168_storage_partitioned_join",
      "the storage-partitioned join is a co-partitioned SMJ, no shuffle",
      required = Seq("SortMergeJoin"), forbidden = Seq("Exchange"),
      scope = joinSubtree),
    Pin("q176_keyed_write_spj", "the writer-produced layout joins with no shuffle",
      forbidden = Seq("Exchange"), scope = joinSubtree),
    Pin("q170_range_join", "the bucketed range join is not quadratic",
      forbidden = quadratic),
    Pin("q171_range_join_rewrite",
      "the rewrite rule explodes intervals; the join is not quadratic",
      required = Seq("Generate"), forbidden = quadratic, scope = joinSubtree),
    Pin("q217_count_pushdown", "COUNT(*) is answered from the manifest",
      required = Seq("from manifest")),
    Pin("q226_count_pushdown_pruned",
      "the page-pruned COUNT is answered from the manifest",
      required = Seq("from manifest")),
    Pin("q223_advised_fuzzy_broadcast", "the variant join broadcasts as advised",
      required = Seq("BroadcastHashJoin"), scope = joinLines("[v#")),
    Pin("q224_advised_fuzzy_salted", "the variant join is salted, not broadcast",
      required = Seq("__salt"), forbidden = Seq("BroadcastHashJoin"),
      scope = joinLines("[v#")),
    Pin("q225_advised_range_broadcast",
      "the bucket join broadcasts as advised and is not quadratic",
      required = Seq("BroadcastHashJoin"), forbidden = quadratic),
    Pin("q229_advised_range_salted", "the bucket join is salted, not broadcast",
      required = Seq("__sl"), forbidden = Seq("BroadcastHashJoin")),
    Pin("q230_advised_knn_broadcast",
      "the candidate join broadcasts as advised",
      required = Seq("BroadcastHashJoin"), scope = joinLines("cid#")),
    Pin("q231_advised_knn_salted",
      "the candidate join is salted, not broadcast",
      required = Seq("__salt"), forbidden = Seq("BroadcastHashJoin"),
      scope = joinLines("cid#")),
    // with size-based broadcast off, only the GRAFT_ADVISE verdict can
    // broadcast
    Pin("q232_advised_sql_broadcast", "only the advisory verdict broadcasts",
      required = Seq("BroadcastHashJoin"),
      confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    saltedSql("q233_advised_sql_salted",
      "the SQL join runs the targeted-salt union"),
    saltedSql("q234_advised_sql_outer_salted",
      "the SQL left outer join runs the targeted-salt union"),
    // the decomposed plan holds only LeftOuter/LeftAnti joins, so any
    // "FullOuter" render means the rewrite did not fire
    saltedSql("q235_advised_sql_full_outer_salted",
      "the SQL full outer join is decomposed into salted legs", "FullOuter"),
    // the body's last action is its final round's label checkpoint: a
    // sort-merge join there would re-shuffle the edge closure every round
    Pin("q208_label_propagation",
      "the last round's vote join broadcasts the labels, not the edges",
      required = Seq("BroadcastHashJoin"), forbidden = Seq("SortMergeJoin"),
      lastAction = true))

  for (pin <- pins) test(s"${pin.query}: ${pin.claim}") {
    val p = graft.GraftSession.withSessionConfs(spark)(pin.confs: _*) {
      pin.scope(registeredPlan(pin.query, pin.lastAction))
    }
    val missing = pin.required.filterNot(p.contains)
    val present = pin.forbidden.filter(p.contains)
    assert(p.nonEmpty && missing.isEmpty && present.isEmpty,
      s"missing $missing, present $present in:\n${p.take(2000)}")
  }

  test("q06: selective predicates are pushed to the parquet scan") {
    val p = plan("q06_discount_revenue")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"))
  }

  test("q06: scan reads only the referenced columns") {
    val p = plan("q06_discount_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column pruning failed: $readSchema")
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q07: dimension join is a broadcast hash join") {
    val p = plan("q07_brand_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04/q05: semi and anti joins stay hash joins, never nested-loop") {
    assert(!plan("q04_priority_exists").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q05_quiet_customers_1995").contains("BroadcastNestedLoopJoin"))
    assert(plan("q04_priority_exists").contains("LeftSemi"))
    assert(plan("q05_quiet_customers_1995").contains("LeftAnti"))
  }

  test("q12: top-1-per-group uses WindowGroupLimit, not full sort of groups") {
    assert(plan("q12_top_order_per_customer").contains("WindowGroupLimit"))
  }

  test("q23: point lookup pushes the id list into the scan") {
    val p = plan("q23_point_lookup")
    assert(p.contains("PushedFilters:") && p.contains("In(o_orderkey"))
  }

  test("q58: as-of join plans as one sort window, never a nested-loop join") {
    val p = plan("q58_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a non-equi join:\n${p.take(1200)}")
    assert(p.contains("Window"), "as-of runs on a running-last window")
  }

  test("q43/q56/q76: dedup pair generation stays keyed, never cartesian") {
    assert(!plan("q43_winnow_containment").contains("CartesianProduct"))
    assert(!plan("q43_winnow_containment").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q56_dedup_clusters").contains("CartesianProduct"))
    assert(!plan("q76_decontamination").contains("CartesianProduct"))
    assert(!plan("q76_decontamination").contains("BroadcastNestedLoopJoin"))
  }

  test("q76: df guard aggregates with map-side combine, never a per-gram window") {
    // A count().over(Window.partitionBy(gram)) sends EVERY posting of a gram
    // to one task — the viral gram the guard exists to drop is exactly the
    // key that concentrates. The guard must be a partial-aggregating
    // groupBy(gram).count() plus an anti-join of the over-cap grams.
    val p = plan("q76_decontamination")
    assert(!p.contains("Window"), s"df guard regressed to a window:\n${p.take(1200)}")
    assert(p.contains("HashAggregate"))
    assert(p.contains("LeftAnti"))
  }

  test("bucketed fact-fact join runs with zero exchanges") {
    import graft.sources.{Bucketing, Tables}
    val base = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val t = Tables(spark, sfDir)
    Bucketing.writeBucketed(t.lineitem.select("l_orderkey", "l_extendedprice"),
      "li_bucketed", "l_orderkey", 8, s"$base/li")
    Bucketing.writeBucketed(t.orders.select("o_orderkey", "o_orderdate"),
      "ord_bucketed", "o_orderkey", 8, s"$base/ord")
    // the scenario is two LARGE tables (broadcast off the table) — that is
    // when bucketing earns its keep; at sf0.001 Spark would broadcast
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(
        spark, "li_bucketed", "ord_bucketed", "l_orderkey", "o_orderkey")
      val expected = t.lineitem.join(
        t.orders, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(1500)}")
      assert(p.contains("Bucketed: true"), "scan should be bucket-aware")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  test("q158 re-materializes its bucketed tables after a catalog wipe") {
    // the per-dataset memo stores catalog table NAMES; a fresh
    // SparkSession in the same JVM (new suite, bench re-entry) starts
    // with an empty catalog, so a memo hit must be re-validated with
    // tableExists and rebuilt on a miss instead of failing
    // table-not-found. Dropping the tables between runs exercises
    // exactly that path against the live memo.
    def run(): Seq[String] =
      SparkEntry.queries("q158_bucketed_join")(spark, sfDir)
        .collect().map(_.toString).toSeq
    val first = run()
    assert(first.nonEmpty)
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_q158_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(run() === first)
  }

  test("q38: LSH dedup has no cartesian product anywhere") {
    val p = plan("q38_minhash_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q77: signature table export stays map-only after the scalar explode") {
    val p = plan("q77_signature_table")
    assert(!p.contains("Exchange"),
      s"signature export must be a straight scan→write at 100 TB:\n${p.take(800)}")
    assert(!p.contains("Sort"), s"no sort in a map-only export:\n${p.take(800)}")
  }

  test("q78: LSH bucket table export is map-only — no exchange, no sort") {
    val p = plan("q78_lsh_bucket_table")
    assert(!p.contains("Exchange"),
      s"bucket-table export must be a straight scan→write at 100 TB:\n${p.take(800)}")
    assert(!p.contains("Sort"), s"no sort in a map-only export:\n${p.take(800)}")
  }

  test("q161: derived-point bucket export stays map-only at 17 tables") {
    // 4x the plane sets must not change the plan shape — still one
    // scan→posexplode→write, no exchange, no sort
    val p = plan("q161_lsh_table_derived")
    assert(!p.contains("Exchange"),
      s"derived bucket export must stay a straight scan→write:\n${p.take(800)}")
    assert(!p.contains("Sort"), s"no sort in a map-only export:\n${p.take(800)}")
  }

  test("q79: IVF index export is one map-only scan — no exchange of any kind") {
    val p = plan("q79_ivf_index_table")
    assert(!p.contains("Exchange"),
      s"assignment and centroid attach must both be pure expressions:\n${p.take(1200)}")
    assert(!p.contains("Join"), s"no join in the export plan:\n${p.take(1200)}")
  }

  test("PQ encode is map-only — the codebook rides as literals, no join") {
    val emb = Tables(spark, sfDir).embeddings
    val books = graft.operators.Pq.pqCodebooks(emb, m = 8, ksub = 16, iters = 1)
    val p = graft.operators.Pq.pqEncode(emb, books)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"encode must be a straight scan at 100 TB:\n${p.take(800)}")
    assert(!p.contains("Join"), s"codebook must not join:\n${p.take(800)}")
  }

  test("q82: ADC refine cut is a group-limit window; corpus side streams") {
    val p = plan("q82_knn_pq")
    assert(p.contains("WindowGroupLimit"),
      s"refine cut must push a per-partition group limit:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q83: residual model export is pure driver state — a LocalTableScan") {
    val p = plan("q83_pq_residual_model")
    assert(p.contains("LocalTableScan"), p.take(800))
    assert(!p.contains("Exchange"),
      s"model export must not touch the cluster:\n${p.take(800)}")
    assert(!p.contains("parquet"),
      s"the export plan itself must not re-scan the corpus:\n${p.take(800)}")
  }

  test("q84: residual ADC refine is a group-limit window; no cartesian") {
    val p = plan("q84_knn_pq_residual")
    assert(p.contains("WindowGroupLimit"),
      s"refine cut must push a per-partition group limit:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"),
      s"probe pairs must broadcast, the corpus must stream:\n${p.take(1200)}")
  }

  test("q87: per-source quota is a group-limit window, never a global sort of the corpus") {
    val p = plan("q87_source_quota")
    assert(p.contains("WindowGroupLimit"),
      s"quota cap must push a per-partition group limit:\n${p.take(1200)}")
    assert(!p.contains("Join"), s"quota cap joins nothing:\n${p.take(800)}")
  }

  test("q88: TF-IDF top-k is a group-limit window; corpus size is a 1-row broadcast") {
    val p = plan("q88_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"),
      s"per-doc keyword cut must push a group limit:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      s"the only cross join is the broadcast 1-row corpus count:\n${p.take(1200)}")
  }

  test("q89: SQ8 error scan is map-only — ranges ride as literals, no join") {
    val p = plan("q89_sq8_error")
    assert(!p.contains("Join"),
      s"per-dim ranges must be driver-resident literals:\n${p.take(800)}")
  }

  test("q46: ANN corpus never self-shuffles; queries are broadcast") {
    val p = plan("q46_knn_bruteforce")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  // ---- round-2 scale-fix pins: these plans must not regress ----------------

  test("kmeans seeding collects exactly k rows via TakeOrderedAndProject") {
    val emb = Tables(spark, sfDir).embeddings
    val k = 5
    val seeds = graft.operators.Similarity.seedRows(emb, k, "vec_id", "embedding")
    val p = seeds.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"seed sample must be a distributed top-k, got:\n${p.take(800)}")
    assert(p.contains(s"limit=$k"), s"top-k limit must be k=$k:\n${p.take(800)}")
    assert(seeds.collect().length === k) // exactly k rows reach the driver
  }

  test("minhash/winnow verify joins never broadcast the corpus side") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val docs = Tables(spark, sfDir).documents
    val minhash = graft.operators.Dedup.minhashNearDupPairs(
      docs, col("text"), col("doc_id"))
    val winnow = graft.operators.Dedup.winnowContainmentPairs(
      docs, col("text"), col("doc_id"))
    for ((df, name) <- Seq((minhash, "minhash"), (winnow, "winnow"))) {
      // no broadcast() hint anywhere: a hint would force the corpus-side
      // hash-set / sizes frames onto the driver regardless of size
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$name verify path carries broadcast hints: $hints")
    }
    // and with auto-broadcast off (the 100 TB posture: nothing fits), the
    // physical joins stay shuffled — a reintroduced hint would still
    // produce a BroadcastExchange here and fail this assertion
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (name <- Seq("minhash", "winnow")) {
        val df = if (name == "minhash")
          graft.operators.Dedup.minhashNearDupPairs(docs, col("text"), col("doc_id"))
        else graft.operators.Dedup.winnowContainmentPairs(docs, col("text"), col("doc_id"))
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastExchange"),
          s"$name plans a broadcast with auto-broadcast off:\n${p.take(1500)}")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$name verify join must be a shuffled join:\n${p.take(1500)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
  }

  // ---- round-4 pins: single-pass winnow df + unsorted operator cores -------

  test("winnow containment computes fingerprint-df in one pass, no Window") {
    val docs = Tables(spark, sfDir).documents
    val pairs = graft.operators.Dedup.winnowContainmentPairs(
      docs, col("text"), col("doc_id"))
    val p = pairs.queryExecution.executedPlan.toString
    // the r3 shape ran a count().over(partitionBy(fp)) Window that
    // re-executed its sort+count once per consumer (q44 = 2x q43); the
    // single-pass shape is a hash aggregate on the fp exchange — no
    // Window (and no sort) anywhere in the containment plan
    assert(!p.contains("Window"),
      s"containment must not plan a per-consumer fp Window:\n${p.take(1500)}")
  }

  test("survivor operators plan no global sort (sorting is the query layer's)") {
    val docs = Tables(spark, sfDir).documents
    val survivors = graft.operators.Dedup.winnowDedupSurvivors(
      docs, col("text"), col("doc_id"))
    val p = survivors.queryExecution.executedPlan.toString
    // operator cores return unsorted: a global orderBy here is a
    // corpus-cardinality range shuffle per call at 100 TB. rangepartitioning
    // only appears when a global Sort survives planning.
    assert(!p.toLowerCase.contains("rangepartitioning"),
      s"survivors must not range-shuffle for a total order:\n${p.take(1500)}")
  }

  test("q92: Gopher gate is one map-only scan — no join, no aggregate") {
    val p = plan("q92_gopher_quality")
    assert(!p.contains("Join") && !p.contains("HashAggregate") &&
      !p.contains("Window"),
      s"Gopher signals must stay a per-row projection:\n${p.take(1500)}")
  }

  test("q94: LM lookups broadcast; only the keep-all doc join sort-merges") {
    val p = plan("q94_doc_ce")
    // the lm sides are vocab²-bounded and must broadcast (obs + unseen);
    // the OOV row is the 1-row cross-broadcast device (q88). The ONLY
    // sort-merge allowed is docs ⟕ per-doc scores — two corpus-sized
    // sides keyed on doc_id, where SMJ is the right shape at 100 TB.
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"both LM lookup joins must broadcast:\n${p.take(1500)}")
    val smj = p.split("SortMergeJoin").length - 1
    assert(smj <= 1 && (smj == 0 || p.contains("SortMergeJoin [doc_id")),
      s"only the doc_id keep-all join may sort-merge:\n${p.take(1500)}")
  }

  test("q90: duplicate-span df is a hash aggregate + semi join, merge is per-doc") {
    val p = plan("q90_duplicate_spans")
    assert(p.contains("LeftSemi"), "covered positions ride a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the interval merge window partitions by doc_id — a global (empty
    // partitionBy) window would serialize the corpus through one task
    assert(!p.contains("windowspecdefinition(pos"),
      "span merge must partition by doc_id, not run globally")
  }

  test("q129: skewed join runs salted — __salt in the shuffle-join keys") {
    val p = plan("q129_salted_skew_join")
    // the 3-value key must not ride a plain hash shuffle (≤3 live
    // reducers) — the fact side's exchange and the join keys carry the
    // 16-bucket salt, and the hinted dim side replicates instead of
    // broadcasting
    assert(p.contains("__salt"),
      s"join must be salted:\n${p.take(1500)}")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"salt demo requires the shuffle join path:\n${p.take(1500)}")
    assert(!p.contains("BroadcastHashJoin"),
      s"a broadcast would bypass the salted shuffle being demonstrated:\n${p.take(1500)}")
  }

  test("q95: exact banding plans with NO single-partition exchange") {
    val p = plan("q95_ce_bands")
    // the r7 shape was ntile over Window.orderBy() with no partition —
    // an Exchange SinglePartition that serializes the scored corpus
    // through one task. The two-phase rank windows by the GK-derived
    // pid, so every exchange stays hash/range partitioned.
    assert(!p.contains("SinglePartition"),
      s"banding must never serialize to one partition:\n${p.take(1500)}")
    assert(p.contains("windowspecdefinition(pid"),
      s"rank window must partition by pid:\n${p.take(1500)}")
  }

  test("q101: C4 clean is one page aggregate, no join, no window") {
    val p = plan("q101_c4_clean")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"line rules must ride the page aggregate:\n${p.take(1500)}")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
  }

  test("q103: DSIR LM lookups broadcast; one doc_id keep-all SMJ") {
    val p = plan("q103_dsir_weights")
    // One COMBINED broadcast lookup per side (obs+unseen fused) against
    // the PERSISTED pair LMs — training joins no longer appear in the
    // scoring plan (the pair LM is a materialized artifact, the
    // deployment shape); the two OOV rows are 1-row cross-broadcasts;
    // the only corpus×corpus join is docs ⟕ per-doc weights on doc_id
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"LM lookup joins must broadcast:\n${p.take(1500)}")
    val smj = p.split("SortMergeJoin").length - 1
    assert(smj <= 1 && (smj == 0 || p.contains("SortMergeJoin [doc_id")),
      s"only the doc_id keep-all join may sort-merge:\n${p.take(1500)}")
  }

  test("q136: grouped GK quantiles plan as partial+final ObjectHashAggregate " +
      "(map-side-mergeable summaries), no Window, one hash exchange") {
    val p = plan("q136_grouped_quantiles")
    assert(p.split("ObjectHashAggregate").length - 1 >= 2,
      s"percentile_approx must run partial (map-side) + final:\n${p.take(1500)}")
    assert(!p.contains("Window"),
      s"no per-group sort/window path:\n${p.take(1500)}")
    assert(p.split("hashpartitioning").length - 1 <= 2,
      s"one group-key exchange (plus AQE reads):\n${p.take(1500)}")
  }

  test("q104: DSIR selection is TakeOrdered, never a global sort") {
    val p = plan("q104_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k selection must plan as TakeOrderedAndProject:\n${p.take(1500)}")
  }

  test("q110: corpus meets only the codegen'd gram-set filter; confirm join broadcasts") {
    val p = plan("q110_decon_scan")
    assert(p.contains("contains_eval_gram"),
      s"the prefilter must be the native scan expression:\n${p.take(1500)}")
    // the corpus side must never sort-merge or window: the only joins are
    // the (tiny) eval df-cap anti-join and the broadcast confirm join
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"corpus-side shuffle crept into the scan-first shape:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q111: heavy hitters is a partial ObjectHashAggregate + TakeOrdered") {
    val p = plan("q111_heavy_hitters")
    assert(p.contains("ObjectHashAggregate") && p.contains("misra_gries"),
      s"the sketch must plan as a typed imperative aggregate:\n${p.take(1500)}")
    assert(p.contains("partial_misra_gries") || p.contains("partial misra_gries") ||
      p.split("misra_gries").length - 1 >= 2,
      s"map-side combine (partial aggregate) missing:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must plan as TakeOrdered, not a global sort:\n${p.take(1500)}")
  }

  test("q123: CMS sketch is a partial ObjectHashAggregate; q122 keeps the scan-first shape") {
    val p = plan("q123_cms_sketch")
    assert(p.contains("ObjectHashAggregate") && p.contains("count_min"),
      s"the sketch must plan as a typed imperative aggregate:\n${p.take(1500)}")
    assert(p.contains("partial_count_min") || p.contains("partial count_min") ||
      p.split("count_min").length - 1 >= 2,
      s"map-side combine (partial aggregate) missing:\n${p.take(1500)}")
    val pb = plan("q122_decon_bloom")
    assert(pb.contains("contains_eval_gram_bloom"),
      s"the prefilter must be the native bloom scan expression:\n${pb.take(1500)}")
    assert(!pb.contains("SortMergeJoin") && !pb.contains("Window"),
      s"corpus-side shuffle crept into the bloom scan-first shape:\n${pb.take(1500)}")
    assert(pb.contains("BroadcastHashJoin"))
  }

  test("q112: bottom-k sample plans as WindowGroupLimit, no global sort of the corpus") {
    val p = plan("q112_bottomk_sample")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must push down as a group limit:\n${p.take(1500)}")
    assert(p.split("rangepartitioning").length - 1 <= 1,
      s"only the presentation orderBy may range-partition:\n${p.take(1500)}")
  }

  test("q114: NB model joins broadcast; only the doc_id keep-all join may sort-merge") {
    val p = plan("q114_nb_scores")
    // Scoring over the PERSISTED model (training joins live in q113's
    // build, not here): the obs/oov lookups broadcast; prior rides the
    // per-class cross product
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"obs/oov lookups must broadcast (model-sized):\n${p.take(1500)}")
    val smj = p.split("SortMergeJoin").length - 1
    assert(smj <= 1, s"corpus-side sort-merge crept in:\n${p.take(1500)}")
  }

  test("q108: shard shuffle is one hash exchange + in-shard sort") {
    val p = plan("q108_epoch_shards")
    // the position window partitions by shard (hashpartitioning); the
    // only range exchange allowed is the presentation orderBy at the end
    assert(p.contains("hashpartitioning(shard"),
      s"position window must partition by shard:\n${p.take(1500)}")
    assert(p.split("rangepartitioning").length - 1 <= 1,
      s"no global sort beyond the presentation orderBy:\n${p.take(1500)}")
  }

  test("q131: page range is pushed into the V2 scan — pruned pages never listed") {
    val p = plan("q131_v2_page_scan")
    // the BETWEEN 2 AND 5 predicate must reach the scan builder: the
    // executed scan's partition list is exactly pages 2-5 (the fixture
    // materializes pages 0-9, so an unpruned scan would render
    // pages=[0,1,2,...,9])
    assert(p.contains("pages=[2,3,4,5]"),
      s"V2 scan must plan exactly pages 2-5:\n${p.take(1500)}")
  }

  test("q143: fuzzy join is an equi-join on variants; the DP never joins raw") {
    val p = plan("q143_fuzzy_name_pairs")
    // the deletion-neighborhood join must key on the variant (a hash or
    // sort-merge EQUI join), never degenerate to nested-loop all-pairs
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"variant blocking collapsed to all-pairs:\n${p.take(1500)}")
    // the exact verify must run once per DISTINCT pair — above the
    // variant join, never in its residual (once per collision). It
    // landing in the 1:1 string re-attach join's residual is fine; the
    // VARIANT join (keyed on v) must not mention it.
    val variantJoins = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("[v#")).mkString("\n")
    assert(variantJoins.nonEmpty, s"variant equi-join not found:\n${p.take(1500)}")
    assert(!variantJoins.contains("levenshtein"),
      s"levenshtein pushed into the variant join — runs per collision:\n$variantJoins")
  }

  test("q147: the snapshot diff shuffles hashes, not text") {
    val p = plan("q147_snapshot_diff")
    // content is reduced to xxhash64 BELOW the full-outer join: the join
    // node itself must not reference the text column
    val joinLines = p.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(joinLines.contains("FullOuter"), s"expected a full outer join:\n$joinLines")
    assert(!joinLines.contains("text"),
      s"text must be hashed before the join, never shuffled:\n$joinLines")
    assert(p.contains("xxhash64"), s"content hash missing from the plan:\n${p.take(1200)}")
  }

  test("q148: the GK cut table broadcasts; no global sort before the clamp") {
    val p = plan("q148_winsorized_stats")
    assert(p.contains("BroadcastHashJoin"),
      s"per-language cuts are language-count-sized — must broadcast:\n${p.take(1500)}")
    // percentile_approx is a partial+final aggregate, never a Window
    assert(!p.contains("Window"), s"no window in the GK cut derivation:\n${p.take(1500)}")
  }

  test("RangeJoinRewrite: naive inequality join becomes an equi-join; guards hold") {
    import spark.implicits._
    val pts = (0L until 300L).map(t => (t * 11L, s"p$t")).toDF("ts", "pid")
    val ivs = Seq((1L, 0L, 120L), (2L, 100L, 101L), (3L, 500L, 400L),
      (4L, 90L, 3000L)).toDF("wid", "f", "t")
    def naive() = pts.join(ivs, col("ts") >= col("f") && col("ts") <= col("t"))
    val want = (for {
      (ts, pid) <- (0L until 300L).map(t => (t * 11L, s"p$t"))
      (wid, f, t) <- Seq((1L, 0L, 120L), (2L, 100L, 101L), (3L, 500L, 400L),
        (4L, 90L, 3000L))
      if ts >= f && ts <= t
    } yield (wid, pid)).sorted

    // off by default: the quadratic plan
    val off = naive().queryExecution.executedPlan.toString
    assert(off.contains("BroadcastNestedLoopJoin") || off.contains("CartesianProduct"),
      s"baseline should be the quadratic join:\n${off.take(600)}")

    try {
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "64")
      val on = naive()
      val p = on.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"rewrite did not fire:\n${p.take(900)}")
      val got = on.select(col("wid"), col("pid")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(got === want, "rewritten join changed the result")

      // strict bounds: inclusive bucket cover, strict residual
      val strict = pts.join(ivs, col("ts") > col("f") && col("ts") < col("t"))
      val ps = strict.queryExecution.executedPlan.toString
      assert(!ps.contains("BroadcastNestedLoopJoin"), "strict bounds must also rewrite")
      val wantStrict = want.filter { case (wid, pid) =>
        val ts = pid.drop(1).toLong * 11L
        val (f, t) = Map(1L -> (0L, 120L), 2L -> (100L, 101L),
          3L -> (500L, 400L), 4L -> (90L, 3000L))(wid)
        ts > f && ts < t
      }
      val gotStrict = strict.select(col("wid"), col("pid")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(gotStrict === wantStrict)

      // guard: an equi-join (even with range residuals) is left alone —
      // the plan keeps its hash join and gains no Generate
      val keyedL = pts.withColumn("k", pmod(col("ts"), lit(7L)))
      val keyedR = ivs.withColumn("k2", pmod(col("wid"), lit(7L)))
      val eq = keyedL.join(keyedR,
        col("k") === col("k2") && col("ts") >= col("f") && col("ts") <= col("t"))
      val pe = eq.queryExecution.executedPlan.toString
      assert(!pe.contains("Generate"),
        s"rule must not touch equi-joins:\n${pe.take(600)}")

      // guard: non-integral bounds are left alone
      val dbl = pts.withColumn("tsd", col("ts").cast("double")).join(
        ivs.withColumn("fd", col("f").cast("double")).withColumn("td", col("t").cast("double")),
        col("tsd") >= col("fd") && col("tsd") <= col("td"))
      assert(!dbl.queryExecution.executedPlan.toString.contains("Generate"),
        "double-typed bounds must not rewrite (bucket math is long division)")

      // span guard: an open-ended sentinel interval fails EXPLICITLY,
      // naming the conf — not an opaque array-size crash in sequence()
      val sentinel = Seq((9L, 0L, Long.MaxValue - 1)).toDF("wid", "f", "t")
      val wide = pts.join(sentinel,
        col("ts") >= col("f") && col("ts") <= col("t"))
      val e = intercept[Exception] { wide.collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("rangejoin")),
        s"wide-interval failure must name the conf: ${messages(e).take(2)}")

      // NULL bounds: the original join silently drops such rows (its
      // condition evaluates NULL) — the rewrite must match, not raise
      // the span guard (span is NULL, and And does not short-circuit a
      // NULL left leg)
      val withNulls = Seq(
        (1L, java.lang.Long.valueOf(0L), java.lang.Long.valueOf(120L)),
        (7L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(50L)),
        (8L, java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]))
        .toDF("wid", "f", "t")
      val nj = pts.join(withNulls,
        col("ts") >= col("f") && col("ts") <= col("t"))
      assert(!nj.queryExecution.executedPlan.toString.contains("NestedLoop"),
        "null-bounds case must still rewrite")
      val gotNull = nj.select(col("wid"), col("pid")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(gotNull === want.filter(_._1 == 1L),
        "NULL-bound intervals must be dropped exactly like the original join")

      // malformed conf: rule goes inert (warn), queries keep working
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "1h")
      val inert = naive()
      assert(inert.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"), "malformed conf must mean inert")
      assert(inert.count() === want.length.toLong)
    } finally spark.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
  }
}
