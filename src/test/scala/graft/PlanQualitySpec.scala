package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the engine's scale story
  * depends on must actually appear in the executed plans — filters reaching
  * the parquet scan, column pruning, broadcast joins for dimensions, and
  * TakeOrderedAndProject for top-k (SURVEY §4.1's table).
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sf = GraftTestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** All window nodes in a physical plan, INCLUDING inside AQE subtrees —
    * a plain `.collect` stops at AdaptiveSparkPlanExec (its inputPlan is
    * not a child), which silently blinded typed plan assertions once AQE
    * became the default wrapper. */
  private def windowNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windowNodes(a.inputPlan)
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        Seq.empty // group-limit nodes carry their own spec; covered below
    }.flatten

  /** Same AQE-aware traversal for the group-limit variant. */
  private def windowLimitNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowGroupLimitExec] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windowLimitNodes(a.inputPlan)
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec => Seq(g)
    }.flatten

  test("filter pushdown reaches the parquet scan (q1 date filter)") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("column pruning: q1 scan reads only the 7 needed lineitem columns") {
    val p = plan("q1_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      readSchema)
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_tax"))
  }

  test("dimension joins broadcast (q5: no shuffle for nation/region/supplier)") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("w_topk_precip")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("semi/anti joins use join strategies, not subquery re-scans") {
    assert(plan("j_semi").contains("LeftSemi"))
    assert(plan("j_anti").contains("LeftAnti"))
  }

  test("partial aggregation before shuffle (q1 partial_sum map-side)") {
    val p = plan("q1_pricing")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
  }

  test("qa_key_skew reuses the key-count shuffle (each fact scanned once)") {
    // the key-count subplan feeds both the stats agg and the hot-key
    // filter; identical canonical form -> AQE reuses its exchange. The
    // reuse only materializes in the FINAL adaptive plan, so execute first.
    val df = SparkEntry.queries("qa_key_skew")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("dedup_semantic: pairwise join is keyed on cluster, never all-pairs") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))   // centroids broadcast
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("emb_prototypicality: broadcast centroids + top-k heaps, no global sort") {
    val p = plan("emb_prototypicality")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("samp_cluster_split: labels broadcast, corpus never shuffles pre-agg") {
    val p = plan("samp_cluster_split")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("custom expressions participate in codegen (graft_dot in knn plan)") {
    val p = plan("sim_knn_brute")
    assert(p.contains("graft_dot"), p.take(3000))
  }

  test("bucketed co-located join runs with no shuffle exchange on either side") {
    graft.sources.Layouts.bucketedOrdersLineitem(spark, sf)
    import org.apache.spark.sql.functions.col
    // force the at-scale shape: two big sides -> sort-merge join (locally
    // the tiny tables would auto-broadcast, which bypasses bucketed reads)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val join = spark.table("graft_orders_b")
        .join(spark.table("graft_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      val p = join.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
      assert(p.contains("Bucketed: true"), p.take(3000))
      assert(join.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q14 joins the part dim by broadcast (fact side never shuffles for it)") {
    val p = plan("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("pivot: no Expand, standard two-stage agg (shuffle on (user,type) then user)") {
    val p = plan("agg_pivot")
    assert(!p.contains("Expand"), p.take(2000))
    assert(p.contains("pivotfirst"), p.take(2000))
    // every aggregate has a map-side partial before its exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(2000))
    assert(p.contains("partial_pivotfirst"), p.take(2000))
  }

  test("rank<=k filter inserts WindowGroupLimit (per-group top-k, not full window)") {
    val p = plan("win_rank")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("sessionization reuses ONE user_id shuffle across both windows and the groupBy") {
    val p = plan("win_session")
    // lag window, running-sum window, and the session groupBy all partition
    // by user_id — Catalyst must satisfy them with a single exchange (plus
    // the final presentation orderBy's range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("salted skew join broadcasts the exploded dim (fact side has no join shuffle)") {
    val p = plan("j_skew_salted")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("chunking and importance sampling are narrow: no shuffle except the presentation sort") {
    // both are corpus passes that must ride the scan — any hash exchange
    // means the operator would shuffle 100 TB it never needs to
    for (name <- Seq("pipe_chunk_overlap", "samp_importance")) {
      val p = plan(name)
      assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
        s"$name: ${p.take(3000)}")
    }
  }

  test("vocab top-K short-circuits via TakeOrderedAndProject, never a global sort") {
    val p = plan("txt_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("pagerank iterations broadcast the node-sized contributions (edges never shuffle mid-loop)") {
    val p = plan("graph_pagerank")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the contribution rollup rides the dst-partitioned edge cache: the
    // only hash exchanges allowed are the ones INSIDE the cached plan
    // (edge build) and the node-sized per-iteration aggregates
    assert(p.contains("InMemoryTableScan"), p.take(3000))
  }

  test("graph family: broadcastNodes=false leaves only 1-row-aggregate hints in every plan") {
    // the node-sized hint gate (GraphOps.maybeBroadcastNodes): with the
    // knob OFF, every ResolvedHint left anywhere in the family's analyzed
    // plans must sit on a global (empty-grouping) aggregate — a scalar
    // that can never outgrow a broadcast. Anything else still hinted is
    // an ungated corpus-proportional broadcast, the driver-OOM class the
    // knob exists to remove. Collected from withCachedData, not the raw
    // analyzed plan: a PersistCache artifact MEMOIZED under the default
    // knob keeps its (already-consumed-at-build-time) hint in the
    // analyzed lineage, but cache substitution replaces that subtree
    // with the InMemoryRelation — exactly the boundary at which the hint
    // stopped being live. The raw-analyzed spelling was test-order-
    // dependent (failed only after another suite warmed coocPairs).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, Project, ResolvedHint, SubqueryAlias}
    def isOneRowAgg(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case pr: Project => isOneRowAgg(pr.child)
      case sa: SubqueryAlias => isOneRowAgg(sa.child)
      case f: Filter => isOneRowAgg(f.child)
      case _ => false
    }
    val key = "spark.graft.graph.broadcastNodes"
    spark.conf.set(key, "false")
    try {
      for (q <- graft.operators.GraphOps.all) {
        val hints = SparkEntry.queries(q.name)(spark, sf)
          .queryExecution.withCachedData.collect { case h: ResolvedHint => h }
        val bad = hints.filterNot(h => isOneRowAgg(h.child))
        assert(bad.isEmpty,
          s"${q.name}: corpus-proportional hint(s) survive $key=false:\n" +
            bad.map(_.child.toString.take(300)).mkString("\n"))
      }
    } finally spark.conf.unset(key)
  }

  test("runtime bloom-filter injection prunes the fact side of a selective shuffle join") {
    // the 100 TB join-pruning story: when a selective dim filter feeds a
    // shuffle join, Catalyst builds a bloom filter from the dim keys and
    // injects a might_contain() semi-filter into the FACT scan — rows for
    // never-joining keys die at the scan, before the exchange. Locally the
    // dim would broadcast (which subsumes the optimization), so force the
    // at-scale shape the same way the bucketed-join test does.
    import org.apache.spark.sql.functions.col
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pure non-equi interval join uses BroadcastNestedLoopJoin (calendar-sized build side)") {
    val p = plan("j_interval_overlap")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("weighted reservoir compiles to TakeOrderedAndProject (no global sort of the corpus)") {
    val p = plan("samp_weighted_reservoir")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("emb_centroids aggregates map-side before the (label, dim)-keyed shuffle") {
    val p = plan("emb_centroids")
    assert(p.contains("partial_sum"), p.take(2500))
  }

  test("fuzzy join is equi-keyed on the block, never a cartesian/BNLJ") {
    val p = plan("j_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
  }

  test("incremental MV refresh serves the base from cache and pushes the delta filter") {
    val p = plan("mv_incremental_agg")
    assert(p.contains("InMemoryTableScan"), p.take(2500))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2500))
  }

  test("table checksum legs prune to the canonical-string columns") {
    val p = plan("qa_table_checksum")
    val custLeg = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("customer.parquet")).get
    assert(custLeg.contains("c_custkey") && custLeg.contains("c_mktsegment") &&
      !custLeg.contains("c_name") && !custLeg.contains("c_acctbal"), custLeg)
  }

  test("keep-longest broadcasts the pair-bounded component labels (corpus never shuffles for the join)") {
    val p = plan("dedup_keep_longest")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
  }

  test("emb_dim_profile aggregates map-side before the 64-group dim shuffle") {
    val p = plan("emb_dim_profile")
    assert(p.contains("partial_sum"), p.take(2500))
  }

  test("nearest-centroid assignment broadcasts the centroid table and combines terms map-side") {
    val p = plan("emb_assign_purity")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_sum"), p.take(3000))
  }

  test("split contamination joins doc streams only against the per-shingle flag aggregate") {
    // The pair-stream shape (train-shingles ⋈ eval-shingles on sh) emits
    // Σ df_train·df_eval rows per shingle — quadratic in hot-shingle df.
    // The linear shape joins each doc stream against the UNIQUELY-KEYED
    // per-shingle flag aggregate, so every shingle-keyed join must have an
    // Aggregate on (at least) one side. AQE wraps the tree in a leaf-like
    // adaptive node that hides children from collect, so plan without it.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("qa_split_contamination")(spark, sf)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins._
      def onSh(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "sh"))
      val shJoins = exec.collect {
        case j: SortMergeJoinExec if onSh(j.leftKeys) => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec if onSh(j.leftKeys) => j
        case j: BroadcastHashJoinExec if onSh(j.leftKeys) => j
      }
      // r13 folded the eval- and train-side rollups into one tagged pass,
      // so exactly ONE flag join remains (two would mean the fold
      // regressed; zero would mean the flag aggregate disappeared)
      assert(shJoins.size == 1, s"expected the one flag join, got ${shJoins.size}")
      def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.exists {
          case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
          case _ => false
        }
      shJoins.foreach { j =>
        assert(hasAgg(j.children(0)) || hasAgg(j.children(1)),
          s"shingle-keyed join without an aggregate side (pair-stream shape):\n${j.toString.take(800)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("no NEW unpartitioned windows: registry-wide allowlist of single-partition window plans") {
    // QuietLogs silences WindowExec's no-partition warning for the three
    // audited-benign sites, so THIS assertion is the guard that used to be
    // the log line: a corpus-wide unpartitioned window added anywhere in
    // the registry (the classic scale-killer: every row funnels through
    // one task) fails here by name instead of scrolling past in a log.
    val allowed = Set(
      "txt_vocab_topk",      // windows over the 50-row top-K
      "pipe_mix_weights",    // window over the ~#sources-row aggregate
      "samp_shuffle_prefix", // row_number over the 200-row LIMIT prefix
      "rel_skyline",         // running max over the price-LEVEL table —
                             // bounded by the centi-price value range
                             // (groupBy reduced), not the part corpus
      "emb_sim_histogram",   // row_number over the 200-row md5 sample
      "samp_systematic",     // cumulative offsets over the 256-bucket dim
      "rel_sweep_concurrency", // day-prefix offsets over the ~30-day dim
      "pipe_pack_sequences", // bin offsets over the packed-bin aggregate
      "evt_transition_matrix", // row-share over the 25-cell matrix
      "txt_ppl_buckets",     // tercile cuts over the 15-row bucket table
      "emb_prototypicality", // row_number over the 20-row top-K prefix
      "pipe_rfm_segments",   // exact quintile ntiles over the CUSTOMER
                             // rollup (orders of magnitude below the
                             // fact); the op's doc names
                             // approx_percentile as the true-scale swap
      "evt_survival_km",     // risk-set/survival cumulation over the
                             // |distinct lifetimes| table (<= corpus day
                             // span) — the KM curve is one global series
      "pipe_length_batching", // global batch numbering over the
                              // (doc_id, n_tok) projection — a total
                              // order IS the operator's semantics; at
                              // scale the sort range-partitions
      "evt_time_to_convert",  // rank-pick over the conversion-sized
                              // delay table (<= |users| rows)
      "win_rolling_corr",     // 7-row frames over the ~|corpus days|
                              // daily series — one global sequence
      "agg_pareto_ratio",     // global revenue ranking over the CUSTOMER
                              // rollup (orders of magnitude below the
                              // fact) — a total order IS the statistic
      "rel_range_boundaries", // ranking over the 1% SAMPLE only — the
                              // whole point of sample-based boundary
                              // estimation; the fact is never sorted
      "evt_periodicity_acf",  // argmax over the 14-row lag spectrum
      "graph_degree_ccdf",    // cumulation over the <=64-bin degree table
      "pipe_curriculum_phases", // quality tercile over the score
                              // projection — the global order IS the
                              // curriculum schedule
      "evt_seasonal_decompose", // centered 7-day frames over the
                              // ~|corpus days| daily series — one
                              // global sequence (win_rolling_corr class)
      "pipe_padding_curve",   // one global length ranking reused by all
                              // four batch sizes (pipe_length_batching
                              // class)
      "rel_compaction_plan")  // cumulative bin split over the per-FILE
                              // size table (file-count-sized — the
                              // table-metadata scan, not a data scan)
    val offenders = SparkEntry.registry.flatMap { q =>
      val unpartitioned =
        try {
          val exec = q.fn(spark, sf).queryExecution.executedPlan
          windowNodes(exec).exists(_.partitionSpec.isEmpty) ||
            windowLimitNodes(exec).exists(_.partitionSpec.isEmpty)
        }
        catch { case _: Throwable => false } // plan-build failures caught elsewhere
      if (unpartitioned && !allowed.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window in: $offenders — partition it or audit + allowlist it")
  }

  test("skyline recovers rows via a broadcast join of the frontier pairs") {
    val p = plan("rel_skyline")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bucketed interval join replaces the nested loop: day-keyed hash joins only") {
    val p = plan("j_interval_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the whole point is avoiding the O(n*m) nested loop: " + p.take(2000))
    assert(p.contains("Join"), p.take(500))
  }

  test("business-day latency stays closed-form: no Generate/explode over the fact join") {
    val p = plan("cal_business_days")
    assert(!p.contains("Generate"),
      "per-day explode would multiply the fact join: " + p.take(2000))
  }

  test("BFS frontier joins broadcast the node-sized distance table") {
    val p = plan("graph_bfs_distance")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("k-core peel rounds broadcast the surviving-node filter") {
    val p = plan("graph_kcore")
    assert(p.contains("InMemoryTableScan"),
      "census must serve from the stored peel rounds: " + p.take(2000))
  }

  test("recursive hierarchy serves its doubling levels from memoized caches") {
    // a naive dbl(dbl(dbl(l1))) embeds 2^3-1 joins and 8 dimension scans;
    // the memoized form reads levels 2 and 4 from InMemoryTableScans
    // (their stored lineage still prints inside the cached subtree, so a
    // flat join count is not assertable from the plan string)
    val p = plan("sql_recursive_hierarchy")
    assert(p.contains("InMemoryTableScan"), p.take(2000))
  }

  test("ewma fold stays in codegen'd HOFs: no ScalaUDF, window partitioned by user") {
    val p = plan("evt_ewma")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("zip_with") && p.contains("aggregate("), p.take(2000))
  }

  test("partitioned layout prunes at the directory level (PartitionFilters)") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("events-part").toString
    graft.sources.Layouts.partitionedEvents(spark, sf, out)
    val q = spark.read.parquet(out).filter(col("event_type") === "purchase")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("event_type"), p.take(3000))
    // pruning is effective: scan reads only the matching partition's rows
    val total = Tables.events(spark, sf).count()
    val scanned = q.count()
    assert(scanned < total && scanned > 0)
  }

  test("bitmap distinct plans one pass: no Expand, partial+final typed agg") {
    val p = plan("agg_bitmap_distinct")
    assert(!p.contains("Expand"),
      s"bitmap distinct must not plan the count-distinct Expand:\n${p.take(2000)}")
    assert(p.contains("graft_bitmap_distinct"), p.take(2000))
    // contrast: the built-in count(DISTINCT) on the same shape DOES Expand
    import org.apache.spark.sql.functions.{col, countDistinct}
    val builtin = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct(col("user_id")))
      .queryExecution.executedPlan.toString
    assert(builtin.contains("Expand") || builtin.contains("partial_count(distinct"),
      builtin.take(2000))
  }

  test("feature hashing never builds a vocabulary: aggregates only, no join in the plan") {
    val p = plan("txt_feature_hashing")
    assert(!p.contains("Join"),
      s"hashing-trick featurization must not join a term dictionary:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("nearest as-of join plans ZERO joins (two frames of one window ordering)") {
    val p = plan("j_asof_nearest")
    assert(!p.contains("Join"),
      s"nearest as-of must ride window frames, not a range self-join:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(2000))
  }

  test("neighbor jaccard serves pairs from the shared co-occurrence cache and broadcasts degrees") {
    val p = plan("graph_neighbor_jaccard")
    assert(p.contains("InMemoryTableScan"),
      s"pair weights must come from the materialized projection:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("sweep-line concurrency: corpus-side windows are partitioned (by user or day), prefix dim broadcasts") {
    val df = SparkEntry.queries("rel_sweep_concurrency")(spark, sf)
    val exec = df.queryExecution.executedPlan
    // every WindowExec over more than the ~30-row day dim must carry a
    // partition spec; the one unpartitioned window is the day-prefix
    // cumulative sum, which rides a broadcast join back into the stream
    val p = exec.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val windows = windowNodes(exec)
    assert(windows.count(_.partitionSpec.nonEmpty) >= 2,
      s"expected user- and day-partitioned windows:\n${p.take(2000)}")
  }

  test("systematic sampling: per-bucket ranking windows are partitioned; only the 256-row offset dim is not") {
    val df = SparkEntry.queries("samp_systematic")(spark, sf)
    val exec = df.queryExecution.executedPlan
    assert(windowNodes(exec).exists(_.partitionSpec.nonEmpty),
      "the corpus-side row_number must partition by bucket")
    assert(exec.toString.contains("BroadcastHashJoin"))
  }

  test("basket lift serves its four consumers from the materialized (order, brand) set") {
    val p = plan("rel_basket_lift")
    assert(p.contains("InMemoryTableScan"),
      s"the order-brand set must be persisted, not re-derived per consumer:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000)) // brand counts + scalar total
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("pHash near-dup pairs only inside band buckets, never all-pairs") {
    val p = plan("mm_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the banded equi-join:\n${p.take(2000)}")
    assert(p.contains("InMemoryTableScan"),
      s"the hash table must come from the persisted decode pass:\n${p.take(2000)}")
  }

  test("cohort revenue: the window min rides a partitioned spec (no global window)") {
    val df = SparkEntry.queries("evt_cohort_revenue")(spark, sf)
    val exec = df.queryExecution.executedPlan
    assert(windowNodes(exec).nonEmpty && windowNodes(exec).forall(_.partitionSpec.nonEmpty),
      "cohort-month derivation must partition by customer")
  }

  test("markov stationary: ONE corpus scan feeds the whole 8-step iteration") {
    val p = plan("evt_markov_stationary")
    val scans = "(?i)scan parquet".r.findAllIn(p).size
    assert(scans <= 1,
      s"the stacked final select must not inline the corpus CTE per type ($scans scans):\n${p.take(2000)}")
  }

  test("txt_pmi_collocations: no broadcast hint on the open vocabulary; one tokenize pass") {
    val df = SparkEntry.queries("txt_pmi_collocations")(spark, sf)
    // static plan contract: the ONLY forced broadcast is the 1-row token
    // total; the unigram vocabulary (open, 10^8-10^9 rows at corpus
    // scale) must reach its joins by shuffle. AQE may still broadcast at
    // runtime from OBSERVED sizes -- a size-informed call, not a hint.
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1,
      s"expected exactly the 1-row-total broadcast hint, got ${hints.size}")
    assert(hints.head.child.schema.fieldNames.sameElements(Array("n")),
      "the only hinted side must be the 1-row total, never the vocabulary")
    // one tokenize pass: both aggregations read the persisted projection
    // (the InMemoryRelation's printed subtree embeds the original parquet
    // scan string, so assert on the cache READS, not on scan absence)
    val p = df.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"unigram and bigram passes must share the cached tokenized projection:\n${p.take(2000)}")
  }

  test("LM scoring queries: broadcast hints only on global (1-row) aggregates, vocab joins shuffled") {
    // the open-vocabulary model (unigram counts, bigram first-word
    // counts) is 10^8-10^9 rows at corpus scale: it must reach its join
    // by shuffle, never by hint. The only legitimate forced broadcasts in
    // these plans are 1-row totals (global aggregates).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    for (q <- Seq("txt_unigram_logprob", "txt_ppl_buckets",
        "txt_pmi_collocations")) {
      val hints = SparkEntry.queries(q)(spark, sf)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      hints.foreach { h =>
        val outermostAgg = h.child.collectFirst { case a: Aggregate => a }
        assert(outermostAgg.exists(_.groupingExpressions.isEmpty),
          s"$q: broadcast hint on a non-global-aggregate (unbounded at scale):\n" +
            h.child.toString.take(600))
      }
    }
  }

  test("w_latest_reading (ref P8, rn = 1) auto-lowers to the k=1 heap operator") {
    // the reference's own latest-reading-per-station shape
    // (WeatherStationActor.scala:43-48) spelled declaratively now rides
    // TopKPerKey via WindowTopKRewrite — no Window sort machinery left
    val p = plan("w_latest_reading")
    assert(p.contains("TopKPerKeyPartial"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("BandJoinRewrite under a hot eps-bucket: AQE skew-split bounds every task") {
    // The neighbor-bucket explode inherits the data's bucket skew — a hot
    // eps-bucket becomes a hot join key at 100×. The rewrite's scale
    // defense is that its OUTPUT is a plain shuffled equi join, the one
    // shape AQE's skew-join CAN salvage at runtime (the nested-loop plan
    // it replaces has no such escape hatch). Synthetic hot band: 200k of
    // 220k probe rows share one eps-bucket; the spec proves (a) the final
    // adaptive plan shows the skew-handled join and (b) via task metrics,
    // no single task receives more than a bounded share of the band.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{abs => sabs, col, lit}
    val keys = Seq(
      // forbid broadcast so the join is the 100TB big-big shuffled shape
      // (a broadcast join would ALSO be skew-immune, but proves nothing)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // enough reduce partitions that the 3 hot bucket keys can't BE the
      // median (skew detection compares each partition to the median;
      // at the suite default of 4, three hot keys ARE the median)
      "spark.sql.shuffle.partitions" -> "32",
      // sf-sized thresholds so the 200k-row hot key trips the same logic
      // a multi-GB partition trips in production
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k")
    val saved = keys.map { case (k, _) =>
      // getOption-style: an optional conf with no value reads as null
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    val taskMax = new java.util.concurrent.atomic.AtomicLong(0)
    val taskSeen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskSeen.incrementAndGet()
          val r = m.shuffleReadMetrics.recordsRead
          taskMax.getAndUpdate(cur => math.max(cur, r))
        }
      }
    }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    try {
      // hash payloads make the rows incompressible — skew detection reads
      // COMPRESSED map-output sizes, and a cycling-x/constant-bucket row
      // lz4s under the detection threshold (measured: the 200k-row hot
      // key read as <256k and sailed past the skew check)
      import org.apache.spark.sql.functions.xxhash64
      val hot = spark.range(0, 200000).select(
        (col("id") % 97L).as("x"), col("id").as("lid"),         // one bucket
        xxhash64(col("id")).as("h1"), xxhash64(col("id"), lit(1L)).as("h2"))
      val cold = spark.range(0, 20000).select(
        ((col("id") % 4000L) * 500L + 10000L).as("x"),          // 4k buckets
        (col("id") + 1000000L).as("lid"),
        xxhash64(col("id"), lit(2L)).as("h1"), xxhash64(col("id"), lit(3L)).as("h2"))
      val probe = hot.unionByName(cold)
      val build = spark.range(0, 1000).select(
        (col("id") * 400L).as("y"), col("id").as("rid"))
      // the aggregate must CONSUME the hash payloads or column pruning
      // strips them before the exchange and the rows compress below the
      // skew-detection threshold again
      val joined = probe.join(build, sabs(col("x") - col("y")) <= lit(100L))
        .groupBy().agg(
          org.apache.spark.sql.functions.count(lit(1)).as("cnt"),
          org.apache.spark.sql.functions.max(col("h1")).as("s1"), // not sum:
          org.apache.spark.sql.functions.min(col("h2")).as("s2")) // ANSI overflow
      val n = joined.collect().head.getLong(0)
      // expected count from the generating formulas, computed locally —
      // the rewrite must stay results-identical under the skew configs
      val expected =
        (0 until 97).map { r =>
          val rows = (200000L - 1 - r) / 97 + 1 // ids in [0,200000) ≡ r (mod 97)
          rows * (0 until 1000).count(i => math.abs(r - 400L * i) <= 100)
        }.sum +
          5L * (0 until 4000).map { k =>
            val x = 500L * k + 10000
            (0 until 1000).count(i => math.abs(x - 400L * i) <= 100)
          }.sum
      assert(n == expected, s"band join row count drifted: $n != $expected")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"band join fell back to a quadratic plan:\n${p.take(1500)}")
      assert(p.contains("skew=true"),
        s"AQE must mark the hot-band join skew-handled:\n${p.take(3000)}")
      // drain the listener bus (events are posted async), then bound the
      // worst task: without the split ONE task reads the whole exploded
      // hot band (~660k records); with it, advisory-sized slices only
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline && taskSeen.get() != last) {
        last = taskSeen.get(); Thread.sleep(200)
      }
      val worst = taskMax.get()
      assert(worst > 0, "listener captured no shuffle-read metrics")
      assert(worst < 165000,
        s"a single task read $worst shuffled records — the hot eps-bucket " +
          "was not split (>25% of the exploded band in one task)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** All shuffle exchanges in an EXECUTED plan, including inside AQE
    * stage wrappers (QueryStageExec hides its subtree from collect). */
  private def exchangeNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        exchangeNodes(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        exchangeNodes(s.plan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        Seq(e)
    }.flatten

  test("TopKPerKey's output partitioning elides the downstream same-key exchange") {
    // TopKPerKeyExec claims outputPartitioning = child.outputPartitioning
    // (rows are dropped, never moved): the FINAL pass sits directly on the
    // keyed exchange EnsureRequirements inserted, so a downstream
    // aggregate on the SAME keys must see its ClusteredDistribution
    // already satisfied and skip its own shuffle — the whole
    // topk→groupBy pipeline runs on exactly ONE exchange.
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 10000).selectExpr(
      "id % 100 as k", "cast(id % 41 as double) as v", "id")
    val agged = graft.plans.TopKPerKey
      .of(df, Seq(col("k")), Seq(col("v").desc, col("id")), 3)
      .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
    val rows = agged.collect()
    assert(rows.length == 100 && rows.forall(_.getLong(2) == 3L),
      "per-key aggregate over the heap's output must see exactly k rows/key")
    val executed = agged.queryExecution.executedPlan
    assert(executed.toString.contains("TopKPerKey"),
      s"heap operator missing from the plan:\n${executed.toString.take(2000)}")
    val exchanges = exchangeNodes(executed)
    assert(exchanges.size == 1,
      s"expected the single TopKPerKey exchange to also serve the " +
        s"downstream aggregate, found ${exchanges.size}:\n" +
        executed.toString.take(3000))
  }
}
