package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.FormattedMode

/** Guards the plan properties that keep the queries scalable, so a
  * refactor can't silently regress them:
  *  - predicate + projection pushdown reaching the parquet scan;
  *  - broadcast (not shuffle) joins for dimension lookups;
  *  - no cartesian product anywhere in the registered query surface.
  */
class PlanSpec extends SparkSuite {

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("q_scan_project: filter and projection are pushed to the parquet scan") {
    val plan = formatted("q_scan_project")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"quantity predicate not pushed:\n${plan.take(1200)}")
    // the read schema must carry ONLY the four projected columns
    val read = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .forall(read.contains), s"projection not pruned: $read")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
      s"scan reads unprojected columns: $read")
  }

  test("q_star_join: every dimension joins as broadcast, none as shuffle SMJ") {
    val plan = formatted("q_star_join")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      s"dimension lookup fell back to a shuffle join:\n${plan.take(1200)}")
  }

  test("q_word_rarity: the vocab side joins as broadcast, not shuffle SMJ") {
    // the vocab aggregate is vocab-cardinality (small by construction for
    // natural language); if it ever plans as a SortMergeJoin the linear
    // token->count lookup has silently become a full token re-shuffle
    val plan = formatted("q_word_rarity")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      s"vocab lookup fell back to a shuffle join:\n${plan.take(1200)}")
  }

  test("q_group_outliers: the per-group fence frame joins as broadcast") {
    // |groups| rows vs the full spend frame — a shuffle join here would
    // re-exchange the corpus to look up 25 fence rows
    val plan = formatted("q_group_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB shape: fact SMJ-joined to a selectively-filtered side too
    // big to broadcast — Spark injects a bloom filter from the filtered
    // side into the fact scan (semi-join pushdown), cutting shuffle input.
    // Thresholds are tuned for the tiny test tables; the guard is that
    // the knob works and the result is unchanged, not the defaults.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def q = core.Tables.lineitem(spark, sf)
        .join(core.Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(1500)}")
      val n = q.collect().map(_.getLong(1)).sum
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val n2 = q.collect().map(_.getLong(1)).sum
      assert(n == n2 && n > 0, "bloom pruning changed the result")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q_shuffle_order: data windows are bucket-partitioned; the only " +
      "global pass runs over bucket summaries") {
    // the two-level rank design: per-bucket ranks use hash-partitioned
    // windows; ONE SinglePartition pass is allowed and it must be over the
    // (bucket-count-sized) summary frame that joins back as a broadcast —
    // a partition-less Window over the DATA would be the single-reducer
    // cliff this design exists to avoid
    val plan = formatted("q_shuffle_order")
    val single = "SinglePartition".r.findAllIn(plan).size
    assert(single <= 2, // tree line + detail line of ONE exchange node
      s"more than one single-partition exchange:\n${plan.take(1500)}")
    assert("hashpartitioning\\(rank_bucket".r.findAllIn(plan).size >= 2,
      s"per-bucket windows lost their bucket partitioning:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-summary side no longer joins back as a broadcast")
  }

  test("q_pack_plan: one hash exchange on the shard key, no global window") {
    val plan = formatted("q_pack_plan")
    assert(!plan.contains("SinglePartition"),
      s"packing cumsum fell onto a single reducer:\n${plan.take(1500)}")
    assert("hashpartitioning\\(shard".r.findAllIn(plan).size >= 1,
      s"per-shard window lost its shard partitioning:\n${plan.take(1500)}")
  }

  test("q_range_join: bucketed point-in-interval join stays an equi-join") {
    val plan = formatted("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degraded to a nested-loop join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_dedup_simhash64: exactly 4 band equi-joins, no nested loop") {
    val plan = formatted("q_dedup_simhash64")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"simhash banding degraded to an all-pairs join:\n${plan.take(1500)}")
    // one hamming-verify join per band — each join node's detail section
    // carries the bit_count condition exactly once
    val verifies = "Join condition: .*bit_count".r.findAllIn(plan).size
    assert(verifies == 4,
      s"expected 4 band joins with a hamming verify, found $verifies")
  }

  test("hot-path queries stay inside whole-stage codegen") {
    // the scan -> filter -> project pipeline must fuse into generated
    // code; a non-codegen Expression in the hot path would break the
    // span and show as interpreted row-at-a-time execution
    // AQE's pre-execution plan hides codegen stages — materialize first,
    // then inspect the executed plan
    for (q <- Seq("q_scan_project", "q_flag_compound", "q_engine_scores",
        "q_dedup_simhash64")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize THIS df's adaptive plan (count() plans anew)
      val plan = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Operator" in the executed plan
      assert("""\*\(\d+\)""".r.findFirstIn(plan).isDefined,
        s"$q lost whole-stage codegen:\n${plan.take(900)}")
    }
  }

  test("q_tfidf_pairs: weighted pair generation stays a feature equi-join") {
    val plan = formatted("q_tfidf_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"tfidf pair join degraded to all-pairs:\n${plan.take(1500)}")
  }

  test("q_embed_cov: Gram products generate in-row, dimension sums broadcast") {
    val plan = formatted("q_embed_cov")
    // the d^2/2 pair products come from ONE literal-array explode — a
    // vec_id self-join here would re-shuffle the element frame twice
    assert(plan.contains("Generate"),
      s"Gram stage lost the in-row pair explode:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      s"d-bounded dimension sums fell back to a shuffle join:\n${plan.take(1500)}")
  }

  test("q_copurchase: pairs generate in-row from the basket, no ok-keyed self-join") {
    val plan = formatted("q_copurchase")
    // one groupBy(order) exchange builds the sorted basket; the
    // upper-triangle pair fan-out is an in-row explode — a lineitem
    // self-join here would shuffle the (ok, pk) projection three times
    assert(plan.contains("Generate"),
      s"basket pair explode missing:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"co-purchase pair generation regressed to a self-join:\n${plan.take(1500)}")
  }

  test("q_lm_score: only the 1-row vocab broadcast may nested-loop") {
    val plan = formatted("q_lm_score")
    assert(!plan.contains("CartesianProduct"))
    // Count at the LOGICAL level, not by BNLJ strings in the formatted
    // plan: when another suite has already materialized the lm_mass
    // shared frame, the formatted output nests the cached relation's own
    // AdaptiveSparkPlan (final + initial sections) and the one deliberate
    // vocab cross prints up to four times — a suite-order flake. A real
    // "degraded to nested loops" regression means a bigram-count join
    // LOST its equi-keys, which is exactly a logical Join without an
    // EqualTo in its condition; the cached subtree collapses to an
    // InMemoryRelation leaf either way, so the count never double-reads.
    val qe = SparkEntry.queries("q_lm_score")(spark, sf).queryExecution
    val nonEqui = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if !j.condition.exists(c =>
            c.find(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.EqualTo]).isDefined) => j
    }
    assert(nonEqui.size <= 1,
      s"bigram count joins degraded to nested loops (${nonEqui.size}):\n${plan.take(1500)}")
  }

  test("q_events_sliding: bounded window fan-out, no join in the plan") {
    // window(ts, 2h, 1h) must plan as a projection-level fan-out (Expand
    // or Generate) feeding ONE hash aggregation — if the overlap were
    // ever rewritten as a windows-table join the 2x bounded cost becomes
    // a join against every event
    val plan = formatted("q_events_sliding")
    assert(plan.contains("Expand") || plan.contains("Generate"),
      s"sliding windows lost the bounded fan-out:\n${plan.take(1200)}")
    assert(!plan.contains("Join"),
      s"sliding windows planned as a join:\n${plan.take(1200)}")
  }

  test("q_mix_upsample: rank windows stay stratum-partitioned, quotas broadcast") {
    val plan = formatted("q_mix_upsample")
    assert("hashpartitioning\\(lang".r.findAllIn(plan).size >= 1,
      s"per-lang rank window lost its partitioning:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      "quota/offset frames no longer join back as broadcasts")
    assert(!plan.contains("SortMergeJoin"),
      s"a tiny quota-side join fell back to a shuffle join:\n${plan.take(1500)}")
  }

  test("q_dsir_select: target LM lookups broadcast; only scalar crosses nested-loop") {
    val plan = formatted("q_dsir_select")
    assert(!plan.contains("CartesianProduct"))
    // deliberate 1-row scalar broadcasts only: the vocab-V cross (which
    // prints twice — the scored subtree feeds both the threshold
    // aggregate and the final projection) and the threshold cross; each
    // BNLJ node prints twice (tree + detail header) -> 3 nodes, 6 lines
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 6,
      s"LM count joins degraded to nested loops ($bnlj):\n${plan.take(1500)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"target-LM count tables no longer broadcast:\n${plan.take(1500)}")
  }

  test("q_dedup_spans: windows and span rollup share one doc_id exchange") {
    val plan = formatted("q_dedup_spans")
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).nonEmpty,
      s"per-doc windows lost their doc partitioning:\n${plan.take(1500)}")
    // the (doc_id, span_id) rollup must reuse the doc_id partitioning
    // (clustering on a superset of the partition keys) — a second
    // exchange on the compound key would double-shuffle the seed frame
    assert("hashpartitioning\\(doc_id#\\d+, span_id".r.findAllIn(plan).isEmpty,
      s"span rollup added its own exchange:\n${plan.take(1500)}")
    assert(!plan.contains("SinglePartition"),
      s"a span stage fell onto a single reducer:\n${plan.take(1500)}")
  }

  test("q_dedup_exact / q_dedup_funnel: exact keying is an aggregation, never an fp window") {
    // a Window.partitionBy(fp) funnels every copy of a mega-duplicated
    // text (the Zipf-head hazard: one boilerplate page x 10M copies)
    // through ONE WindowExec task that AQE cannot split; the
    // groupBy(fp).agg + join-back map-side combines the head and the
    // join is AQE-skew-splittable — the line-dedup discipline applied
    // to doc-level exact dedup
    Seq("q_dedup_exact", "q_dedup_funnel").foreach { q =>
      val plan = formatted(q)
      assert(!plan.contains("Window"),
        s"$q exact stage regressed to an fp window:\n${plan.take(1500)}")
      assert(plan.contains("partial_min") || plan.contains("partial min"),
        s"$q lost its map-side combined canonical-id aggregation:\n${plan.take(1500)}")
    }
  }

  test("q_event_transitions: lag rides the user shuffle; row totals broadcast") {
    val plan = formatted("q_event_transitions")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).nonEmpty,
      s"per-user lag window lost its user partitioning:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"|types|-bounded row totals no longer broadcast:\n${plan.take(1500)}")
  }

  test("q_graph_triangles: wedge and closure probes stay equi-joins") {
    val plan = formatted("q_graph_triangles")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"triangle enumeration degraded to a non-equi join:\n${plan.take(1500)}")
  }

  test("q_ppjoin: candidate generation and verify stay equi-joins") {
    val plan = formatted("q_ppjoin")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"prefix-filter join degraded to a non-equi join:\n${plan.take(1500)}")
    // the per-doc rarest-first ranking must stay doc-partitioned (a
    // global-order rank would single-reducer the feature frame)
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).nonEmpty,
      s"prefix ranking lost its per-doc partitioning:\n${plan.take(1500)}")
  }

  test("q_source_cap: the cap is a bounded-heap aggregate, never a window sort") {
    val plan = formatted("q_source_cap")
    assert(plan.contains("top_k"),
      s"bounded-heap aggregate missing from the cap:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"per-source cap regressed to a window sort:\n${plan.take(1500)}")
  }

  test("q_priority_sample / q_kmv_distinct: min-k rides the aggregate, never a window") {
    Seq("q_priority_sample", "q_kmv_distinct").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("top_k"),
        s"$q lost its bounded-heap aggregate:\n${plan.take(1200)}")
      assert(!plan.contains("Window"),
        s"$q regressed to a window sort (the oracle's formulation):\n${plan.take(1200)}")
    }
  }

  test("q_span_cut: the cut is a (doc_id,pos) equi-join, windows doc-partitioned") {
    val plan = formatted("q_span_cut")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"span cut degraded to a non-equi join:\n${plan.take(1500)}")
    assert("hashpartitioning\\(doc_id".r.findAllIn(plan).nonEmpty,
      s"span machinery lost its doc partitioning:\n${plan.take(1500)}")
  }

  test("q_funnel_stages: stage windows ride the user shuffle, no join") {
    val plan = formatted("q_funnel_stages")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).nonEmpty,
      s"stage windows lost their user partitioning:\n${plan.take(1500)}")
    assert(!plan.contains("Join"),
      s"the windowed stage machine planned a join:\n${plan.take(1500)}")
  }

  test("q_rate_spikes: windows run over hourly aggregates, not raw events") {
    val plan = formatted("q_rate_spikes")
    // the aggregation must come BEFORE the window: exactly one
    // HashAggregate pair below the Window node's subtree means the
    // trailing sums see (hour, type) rows, never events
    val aggIdx = plan.indexOf("HashAggregate")
    val winIdx = plan.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && aggIdx > winIdx,
      s"window is not over the hourly aggregate:\n${plan.take(1200)}")
    assert("hashpartitioning\\(event_type".r.findAllIn(plan).nonEmpty,
      s"trailing window lost its type partitioning:\n${plan.take(1200)}")
  }

  test("q_corr_matrix: one aggregation over the scan, no join, no window") {
    val plan = formatted("q_corr_matrix")
    assert(!plan.contains("Join"), s"moment pass planned a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), s"moment pass planned a window:\n${plan.take(1200)}")
  }

  test("q_asof_nearest: both carry directions ride ONE user shuffle, no join") {
    val plan = formatted("q_asof_nearest")
    assert(!plan.contains("Join"),
      s"nearest as-of planned a join (range-join regression):\n${plan.take(1500)}")
    val parts = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(parts >= 1, s"carry windows lost user partitioning:\n${plan.take(1500)}")
  }

  test("q_running_distinct: two window passes, no join, no distinct aggregate") {
    val plan = formatted("q_running_distinct")
    assert(!plan.contains("Join"), plan.take(1200))
    // a distinct AGGREGATE would plan as count(distinct ...) + an Expand;
    // the column name contains "distinct", so match the operator forms
    assert(!plan.toLowerCase.contains("count(distinct") && !plan.contains("Expand"),
      s"running distinct should use first-occurrence flags, not a distinct agg:\n${plan.take(1200)}")
  }

  test("q_twap: lead rides the user shuffle; numerator aggregates in decimal") {
    val plan = formatted("q_twap")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).nonEmpty, plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("q_heavy_hitters: the summary is a bounded aggregate, never a per-item shuffle") {
    val plan = formatted("q_heavy_hitters")
    assert(plan.contains("heavy_hitters"),
      s"Misra-Gries aggregate missing:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"frequent items regressed to the rank-window formulation:\n${plan.take(1200)}")
  }

  test("q_equidepth_hist: bucket labels are literal compares — no window, no join") {
    // the boundary-lookup rewrite (OrderStats.rankElements) resolves the
    // 9 bucket-boundary elements up front (bounded collects) and inlines
    // them as literals: the final plan must be scan → label projection →
    // ONE aggregation — a rank window or a join here means the rewrite
    // regressed to ranking every row
    val plan = formatted("q_equidepth_hist")
    assert(!plan.contains("Window"),
      s"bucket labeling regressed to a rank window:\n${plan.take(1500)}")
    assert(!plan.contains("Join"),
      s"bucket labeling regressed to a join:\n${plan.take(1500)}")
  }

  test("q_gopher_quality / q_c4_filters: pure projections — no join, no window, no explode") {
    Seq("q_gopher_quality", "q_c4_filters").foreach { name =>
      val plan = formatted(name)
      assert(!plan.contains("Join"), s"$name planned a join:\n${plan.take(1200)}")
      assert(!plan.contains("Window"), s"$name planned a window:\n${plan.take(1200)}")
      assert(!plan.contains("Generate"),
        s"$name exploded instead of staying in-row:\n${plan.take(1200)}")
      // the only exchange is the presentation sort's range partitioning
      assert(!plan.contains("hashpartitioning"),
        s"$name shuffled a projection-only pipeline:\n${plan.take(1500)}")
    }
  }

  test("q_ppl_buckets: rank windows are (lang, cell)-keyed; sizes broadcast") {
    val plan = formatted("q_ppl_buckets")
    assert(plan.contains("__cell"),
      s"per-language rank lost its grid bucketing:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets/sizes no longer broadcast:\n${plan.take(1500)}")
  }

  test("no registered query plans a cartesian product") {
    // the two deliberate scalar-broadcast crossJoins in the library are
    // 1-row broadcasts, which Spark plans as BroadcastNestedLoopJoin with
    // a 1-row build side — a true CartesianProduct node is always a bug
    SparkEntry.queries.keys.foreach { name =>
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("round-10 operators: join-free or broadcast-only physical shapes") {
    // HRW shard assignment and IVM are pure projection/aggregation
    // pipelines - a Join appearing in either means the in-row argmax or
    // the union+re-aggregate merge regressed to a join formulation
    assert(!formatted("q_shard_assign").contains("Join"),
      "q_shard_assign should plan with no join at all")
    assert(!formatted("q_ivm_agg").contains("Join"),
      "q_ivm_agg's signed-delta merge is a union + re-aggregate, not a join")
    // zone-skip and curriculum join only broadcast-sized frames (boxes,
    // probes, offsets) - a SortMergeJoin means a corpus-sized side
    // slipped into what must stay a broadcast probe
    val zs = formatted("q_zone_skip")
    assert(!zs.contains("SortMergeJoin"), zs.take(1200))
    val cur = formatted("q_curriculum_order")
    assert(!cur.contains("SortMergeJoin"), cur.take(1200))
  }

  /** Partition-less windows whose input is not domain-bounded: some path
    * from the window down to a leaf reaches a scan without crossing an
    * Aggregate (a LocalRelation leaf is a literal, so it counts as
    * bounded). One Aggregate on a side branch is not enough — a raw scan
    * cross-joined with a scalar aggregate still sorts every raw row on
    * one reducer. */
  private def unboundedGlobalWindows(plan: LogicalPlan): Seq[LWindow] = {
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: LocalRelation => true
      case _ => p.children.nonEmpty && p.children.forall(bounded)
    }
    plan.collect { case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w }
  }

  test("every partition-less window runs over an aggregated (domain-bounded) frame") {
    // The Verify logs are saturated with WindowExec "No Partition
    // Defined" warnings; each site was audited in r12 and is BOUNDED —
    // the window's input is a domain frame collapsed by an aggregation
    // (distinct values / thresholds / deciles / grid cells), never the
    // raw data. This pins the witness mechanically: every path below a
    // global Window in the optimized plan must cross an Aggregate, so a
    // new global window over raw rows fails here and must either take a
    // partition key or justify its bound.
    // every query family with an audited global-window site: CUSUM
    // (distinct days), gini / curriculum / vocab growth (grid-cell offset
    // cumsums, decile cumsums), stratified sample (tier offsets)
    val names = Seq(
      "q_cusum_drift", "q_gini", "q_vocab_growth", "q_stratified_sample",
      "q_curriculum_order", "q_ppl_buckets")
    for (n <- names) {
      val plan = SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
      val bad = unboundedGlobalWindows(plan)
      assert(bad.isEmpty,
        s"$n: partition-less window over a non-aggregated input:\n${bad.mkString("\n")}")
    }
  }

  test("the global-window witness rejects a raw scan cross-joined with a scalar aggregate") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val planted = docs.crossJoin(broadcast(total))
      .withColumn("pos", row_number().over(Window.orderBy("doc_id")))
    val plan = planted.queryExecution.optimizedPlan
    assert(unboundedGlobalWindows(plan).nonEmpty,
      s"a global window over the raw documents scan passed the witness:\n$plan")
  }

  test("scoring stages plan one projection per layer, not one per column") {
    // each withColumn stacks a Project and re-analyzes the plan below it;
    // a stage built from layers holds a few, so count them on the
    // analyzed plan
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def projects(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p: Project => p }.size
    val (std, ez, pf) = ScoringFixtures.form990Filings(spark)
    val f990 = projects(graft.model.Form990.scoreFilings(std, ez, pf))
    val ipeds = projects(graft.model.Ipeds.score(ScoringFixtures.ipedsPanel(spark)))
    // 990: 3 filing standardizations, the panel, the trends and the
    // engine's 6 layers plan 23 (184 as withColumn folds)
    assert(f990 <= 30, s"Form990.scoreFilings plans $f990 projections")
    // IPEDS: 2 year standardizations, subsidiary detection, the panel and
    // the engine plan 46 (341 as folds); the analyzed plan is a tree, so
    // the standardized years count once per branch that reads them
    assert(ipeds <= 55, s"Ipeds.score plans $ipeds projections")
  }
}
