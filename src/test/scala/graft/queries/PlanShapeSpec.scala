package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Regression-pins the PHYSICAL PLAN SHAPE of flagship queries — the
  * properties that decide whether a plan survives a 100x scale-up:
  * filter pushdown to the scan, column pruning, broadcast of dimension
  * tables. A refactor that silently loses one of these still passes
  * row-level correctness; this spec catches it.
  */
class PlanShapeSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** True iff every round-robin exchange in `name`'s physical plan sits
    * directly above a corpus scan (Project/Filter over a file scan) —
    * ScanSpread's layout-conditional spread, never a reshuffle of
    * derived rows.
    */
  private def roundRobinOnlyOverScans(name: String): Boolean = {
    import org.apache.spark.sql.execution._
    def corpusScan(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec => true
      case x: ProjectExec => corpusScan(x.child)
      case x: FilterExec => corpusScan(x.child)
      case x: ColumnarToRowExec => corpusScan(x.child)
      case x: WholeStageCodegenExec => corpusScan(x.child)
      case x: InputAdapter => corpusScan(x.child)
      case _ => false
    }
    val p = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan
    collect(p) {
      case e: exchange.ShuffleExchangeExec if e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
            .RoundRobinPartitioning] => e.child
    }.forall(corpusScan)
  }

  test("text_lm_kn: model joins are keyed (no cartesian); the only " +
      "nested-loop is the 1-row type-total broadcast") {
    val p = plan("text_lm_kn")
    assert(!p.contains("CartesianProduct"), p)
    // bigram/context/continuation joins must be keyed joins, never a
    // row×row blowup; the ncc crossJoin broadcasts a single row
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("graph_kcore: per-round peels are semi joins + partial-agg " +
      "degree counts; no cartesian, no window anywhere") {
    // the peel loop materializes inside IterConf.materializeLoop, so
    // the served plan is a cached-RDD scan — pin the shape of the
    // plans the loop executed (on its loop session) instead
    val p = sparkWorkOf {
      SparkEntry.queries("graph_kcore")(spark, d)
    }.plans.mkString("\n")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"),
      "survivor filtering must be semi joins:\n" + p)
    assert(!p.contains("WindowExec") && !"\\(\\d+\\) Window".r
      .findFirstIn(p).isDefined, "no window belongs here:\n" + p)
  }

  test("graph_link_predict: top-k runs as TakeOrderedAndProject " +
      "(bounded heaps, no global sort); no cartesian product") {
    val p = plan("graph_link_predict")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("source_bucketed: the co-bucketed sort-merge join needs no " +
      "shuffle — the only Exchange is the post-join aggregate's") {
    val p = plan("source_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      "bucketed join must not add exchanges:\n" + p)
    assert(p.contains("Bucketed: true"), "scan must report bucketing")
  }

  test("approx_jaccard_kmv: no cartesian product — the lang-pair " +
      "theta join broadcasts a domain-bounded side; windows only " +
      "over (pair) partitions") {
    val p = plan("approx_jaccard_kmv")
    assert(!p.contains("CartesianProduct"), p)
    // the pairs join is a BroadcastNestedLoopJoin over the distinct
    // lang table (|langs|^2 rows, domain-bounded) — that is the
    // intended bounded shape, NOT an accidental row×row blowup
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("approx_distinct_kmv: the custom aggregate runs as a PARTIAL " +
      "ObjectHashAggregate — k-capped sketches combine map-side " +
      "before the shuffle") {
    val p = plan("approx_distinct_kmv")
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_kmv_distinct|partial.*kmv".r.findFirstIn(p).isDefined
      || p.contains("kmv_distinct"), p)
    assert("(?i)partial".r.findFirstIn(p).isDefined,
      "aggregate must have a partial (map-side) phase:\n" + p)
  }

  test("profile_fd and graph_degree_dist: pure hash-aggregate plans " +
      "— no window, no cartesian") {
    for (q <- Seq("profile_fd", "graph_degree_dist")) {
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"),
        s"$q:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("eval2: filters on a parquet source run MAP-SIDE directly over " +
      "the scan (one stage, no exchange below the filter) — and the " +
      "DOCUMENTED divergence: display-string semantics (coalesce/" +
      "cast/trim around every leaf) are not source predicates, so " +
      "PushedFilters stays empty BY DESIGN in both eval modes") {
    val s = spark
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("e2push").toString
    import s.implicits._
    (1 to 100).map(i => (i.toLong, s"n$i", i % 7))
      .toDF("id", "name", "grp").write.mode("overwrite").parquet(dir)
    val src = s.read.parquet(dir)
    val out = graft.etl.Engine.transform(src, Seq(
      "_filter:x" -> "eval2: src[grp] >= 3 && !(src[name] == n10)",
      "Id" -> "src[id]"))
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the filter must not force any exchange or extra stage: scan →
    // filter → project, all inside whole-stage codegen
    assert(!p.contains("Exchange"), "stateless filter shuffled:\n" + p)
    // formatted mode marks whole-stage codegen with "[codegen id : N]"
    assert("\\(\\d+\\) Filter \\[codegen id : \\d+\\]".r
        .findFirstIn(p).isDefined,
      "eval2 compile fell out of codegen:\n" + p)
    // divergence pin: the trimmed/coalesced display-string leaves are
    // not translatable to parquet predicates — if this ever changes
    // (e.g. a leaf-rewrite to source filters), update SURVEY §7.5
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(pushed.forall(_.trim.isEmpty),
      s"unexpected pushdown appeared (update the divergence doc): $pushed")
    // grp∈{3..6} appears 14 times each in 1..98 → 56 rows; n10 (grp 3)
    // is negated away → 55
    assert(out.count() == 55)
  }

  test("q1_agg: shipdate predicate reaches the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q1_agg: scan reads only the 6 needed of 16 lineitem columns") {
    val p = plan("q1_agg")
    val read = "ReadSchema: struct<([^>\\n]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.takeWhile(_ != ':')).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_shipdate"), s"got: $read")
  }

  test("q5_multi_join: every dimension joins via broadcast") {
    val p = plan("q5_multi_join")
    // formatted explain mentions each operator in the tree AND in the
    // detail section — 5 joins appear 10 times; what matters is that
    // NO join fell back to a shuffle or cartesian strategy.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q3_join_topk: selective dim filter pushed, broadcast join") {
    val p = plan("q3_join_topk")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("events_window: aggregation is partial (map-side combine)") {
    val p = plan("events_window")
    // two HashAggregates around the exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("dedup_minhash: band self-join ships no shingle payload") {
    val p = plan("dedup_minhash")
    // the join legs read from the checkpointed skinny relations, and no
    // shingle/array column appears in any exchange
    assert(!p.contains("ts_a") && !p.contains("ts_b"))
  }

  test("dedup pipelines: no round-robin reshuffle of the raw corpus " +
      "beyond the layout-conditional ScanSpread") {
    // the only shuffles should be keyed (window/agg/join) — an
    // UNCONDITIONAL RoundRobinPartitioning exchange would mean the
    // corpus text is shipped once wholesale before any size
    // reduction. r17: ScanSpread adds a CONDITIONAL round-robin that
    // fires only when the planned scan has fewer partitions than the
    // cluster's parallelism (identity at production scale —
    // ScanSpreadSpec pins that) directly above the corpus scan; the
    // operators themselves must add none.
    for (q <- Seq("dedup_minhash", "dedup_ngram", "dedup_simhash",
        "dedup_incremental", "dedup_survivors"))
      assert(roundRobinOnlyOverScans(q), q)
  }

  test("dedup_incremental: two-sided bucket join, no cartesian") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("join_range_binned: bucketed equi-join, no nested-loop") {
    // the whole point of the binning: a keyless BETWEEN join must NOT
    // plan as BroadcastNestedLoopJoin / cartesian
    val p = plan("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("sim_quantize: one codegen'd map-side pass, zero shuffles") {
    val p = plan("sim_quantize")
    assert(!p.contains("Exchange"), "quantization must not shuffle")
    assert(p.contains("codegen id"), "quantize_i8 fell out of codegen")
  }

  test("dedup_embed: LSH-bucketed pair mining, no cartesian product") {
    val p = plan("dedup_embed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("NO battery query plans an unpartitioned WindowExec — every " +
      "global-order cumsum is sharded or keyed") {
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val empties = SparkEntry.queries(q)(spark, d)
        .queryExecution.executedPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
      if (empties.isEmpty) Nil else Seq(q -> empties.size)
    }
    assert(bad.isEmpty,
      s"single-task global windows in: ${bad.mkString(", ")}")
  }

  test("dedup_winnow: fingerprint pairing is an equi-join on fp keys " +
      "— no cartesian, windows only per-doc partitions") {
    val p = plan("dedup_winnow")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the thinning windows partition by doc id — a global-order
    // window here would serialize the whole gram table
    assert(!"Window.*\\n.*SinglePartition".r.findFirstIn(p).isDefined, p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("sim_ann_ivfpq: the ADC scan is cell-restricted via a semi " +
      "join; no raw-vector cartesian anywhere") {
    val p = plan("sim_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), "ADC scan must be restricted " +
      "to probed-cell members via a semi join:\n" + p)
  }

  test("text_nb_classify: the bounded weight table broadcasts and " +
      "the argmax window partitions by doc_id — never global") {
    val p = plan("text_nb_classify")
    assert(p.contains("BroadcastHashJoin"),
      "the <=|labels|x4096-row weight table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no corpus-sized shuffle join:\n" + p)
    assert(!"Window.*\\n.*SinglePartition".r.findFirstIn(p).isDefined,
      "argmax must partition by doc_id:\n" + p)
  }

  test("sample_dsir: bounded feature table broadcasts, top-k is " +
      "TakeOrdered — never a global sort") {
    val p = plan("sample_dsir")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be bounded per-partition heaps:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the <=4096-row feature table must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join anywhere:\n" + p)
  }

  test("pipeline_filter: quality gate filters AFTER the aggregation") {
    val p = plan("pipeline_filter")
    // The interpreted token HOFs must appear only in the pre-explode
    // projection, never inside a Filter — Catalyst substituting them
    // into a pushed-down filter re-evaluates them per reference
    // (measured 15s vs 1s at sf0.1). Post-agg filtering keeps every
    // Filter condition on aggregated (codegen'd) columns.
    val filterSections = "\\(\\d+\\) Filter[\\s\\S]*?Condition : ([^\\n]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(filterSections.nonEmpty)
    filterSections.foreach { c =>
      assert(!c.contains("transform") && !c.contains("aggregate(") &&
        !c.contains("array_distinct"),
        s"HOF leaked into a filter condition: $c")
    }
  }

  test("sample_stratified: map-side filter, zero shuffles") {
    val p = plan("sample_stratified")
    assert(!p.contains("Exchange"), "sampling must not shuffle")
  }

  test("text_tfidf: corpus count joins via broadcast, aggs are partial") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 4) // partial+final x2
  }

  test("merge_upsert: full-outer join keyed on both sides") {
    val p = plan("merge_upsert")
    assert(p.contains("FullOuter"))
    assert(!p.contains("CartesianProduct"))
  }

  test("text_pii: single map-side pass over the scan, no shuffle") {
    val p = plan("text_pii")
    assert(!p.contains("Exchange"), "PII pass must not shuffle")
  }

  test("contamination_check: semi join on shingle keys, no cartesian") {
    val p = plan("contamination_check")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("hot relational paths stay inside whole-stage codegen") {
    // AQE finalizes the physical plan at execution, so codegen spans
    // (the `codegen id` markers in formatted explain) only appear
    // after materializing.
    for (q <- Seq("q1_agg", "window_range_frame", "profile_histogram")) {
      val df = SparkEntry.queries(q)(spark, d)
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("isFinalPlan=true"), s"$q: AQE did not finalize")
      assert(p.contains("codegen id"), s"$q fell out of codegen")
    }
  }

  test("sim_knn_join: bucketed candidates — no cartesian, no " +
      "round-robin corpus reshuffle") {
    val p = plan("sim_knn_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("RoundRobinPartitioning"))
  }

  test("maint_zorder: map-side projection, zero shuffles") {
    val p = plan("maint_zorder")
    assert(!p.contains("Exchange"), "z-value computation must not shuffle")
  }

  test("maint_zorder3: n-column interleave stays map-side, zero shuffles") {
    val p = plan("maint_zorder3")
    assert(!p.contains("Exchange"), "z-value computation must not shuffle")
  }

  test("profileStatsApprox: single scan, partial agg, NO Expand") {
    // The 100 TB profiling shape: exact multi-countDistinct expands the
    // scan once per distinct column (profile_stats pays 3×); the HLL
    // variant must stay a single partial-agg'd pass with no Expand node.
    val df = RelationalQueries.profileStatsApprox(
      spark.read.parquet(s"$d/orders.parquet"))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Expand"), "approx profiling must not Expand")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial+final
    // formatted explain names each operator twice (tree + detail)
    assert("Scan parquet".r.findAllIn(p).size <= 2)
  }

  test("profile queries: partial aggregation, single scan each") {
    for (q <- Seq("profile_stats", "profile_histogram")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2, q) // partial+final
      assert("Scan parquet".r.findAllIn(p).size <= 2, q)
    }
  }

  test("events_funnel: one events scan, one user_id exchange, no joins") {
    val p = plan("events_funnel")
    // chained window minima over one partitioning — the v1 shape
    // (stage aggregates joined stage-to-stage) scanned events 6x and
    // its joins only broadcast because test-SF aggregates are small
    assert("Scan parquet".r.findAllIn(p).size <= 2) // tree + detail
    assert(!p.contains("Join"))
    assert("Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "exactly one user_id exchange feeds all three funnel stages")
  }

  test("events_retention: cohort via window min — no join, one " +
      "user_id exchange") {
    val p = plan("events_retention")
    assert("Scan parquet".r.findAllIn(p).size <= 2)
    assert(!p.contains("Join"))
    assert("Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size == 1)
  }

  test("graph_triangles: wedge join is an equi-join, never " +
      "nested-loop/cartesian") {
    val p = plan("graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("q6_revenue: every predicate pushed, 4-column read") {
    val p = plan("q6_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate") && p.contains("LessThan(l_quantity"))
    val read = "ReadSchema: struct<([^>\\n]*)>".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse("")
    val cols = read.split(",").map(_.takeWhile(_ != ':')).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_shipdate"), s"got: $read")
  }

  test("q4_priority: EXISTS decorrelates to a semi join") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"))
    assert(p.contains("EqualTo(l_returnflag,R)"), "semi probe filter pushed")
  }

  test("profile_corr: component sums in ONE partial-agg'd scan") {
    val p = plan("profile_corr")
    assert("Scan parquet".r.findAllIn(p).size <= 2) // tree + detail
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial+final
  }

  test("text_tokens: map-side regex pass, zero shuffles") {
    val p = plan("text_tokens")
    assert(!p.contains("Exchange"), "token counting must not shuffle")
  }

  test("dedup_verify_lev: edit distance runs on candidates only — " +
      "text joins are keyed, never cartesian") {
    val p = plan("dedup_verify_lev")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("pipeline_mix: corpus scan joins the 5-row rate table via " +
      "broadcast; membership is a post-join filter") {
    val p = plan("pipeline_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("events_transitions: one user_id exchange feeds the lag " +
      "window; the bigram aggregate is partial") {
    val p = plan("events_transitions")
    assert(!p.contains("Join"))
    assert("Arguments: hashpartitioning\\(user_id".r.findAllIn(p).size == 1)
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial+final
  }

  test("approx_hll_merge: sketches merge without re-scanning raw " +
      "data — two scans total, no Expand") {
    val p = plan("approx_hll_merge")
    // formatted explain names each scan twice (tree + detail): one
    // scan per leg (shard sketches, exact+direct), nothing more
    assert("Scan parquet".r.findAllIn(p).size <= 4)
    assert(!p.contains("Expand"))
  }

  test("profile_histogram_eqdepth: no exact percentile aggregate — " +
      "final plan is one scan + partial agg with literal edges") {
    // Spark's exact `percentile` buffers the entire value multiset in
    // one final reducer — the 100 TB memory wall this query used to
    // hide. Edges now come from ext/ExactQuantiles (bounded passes),
    // so the returned plan must be a plain scan + aggregate: no
    // percentile, no join of any kind.
    val p = plan("profile_histogram_eqdepth")
    assert(!p.toLowerCase.contains("percentile"),
      "exact percentile aggregate crept back into the plan")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
    assert("Scan parquet".r.findAllIn(p).size <= 2) // tree + detail
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial+final
  }

  test("no exact percentile aggregate anywhere — every quantile " +
      "query uses the bounded-memory path") {
    // Spark's exact percentile buffers a group's full value multiset
    // in its aggregation buffer — a hot group at 100 TB is an
    // executor-memory wall. All three former users now go through
    // ext/ExactQuantiles.
    for (q <- Seq("percentile_agg", "events_winsorize",
        "profile_histogram_eqdepth"))
      assert(!plan(q).toLowerCase.contains("percentile"),
        s"$q: exact percentile crept back into the plan")
  }

  test("text_lm_score: bigram model joins are keyed (no cartesian " +
      "beyond the 1-row vocab broadcast); aggs are partial") {
    val p = plan("text_lm_score")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop join allowed is the 1-row vocab-size
    // broadcast (the text_tfidf corpus-stats pattern)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2) // tree+detail
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial+final
  }

  test("join_range_auto: the naive BETWEEN spelling gets the binned " +
      "plan from the optimizer rule — no nested-loop join") {
    val p = plan("join_range_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("join_range_overlap_auto: the naive interval-overlap " +
      "spelling gets the binned plan — no nested-loop join") {
    val p = plan("join_range_overlap_auto")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("dedup_containment: candidates via band buckets — no " +
      "cartesian; round-robin only directly above a corpus scan (see " +
      "the dedup-pipelines test)") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(roundRobinOnlyOverScans("dedup_containment"))
  }

  private def scansOf(p: String, table: String): Int =
    s"$table\\.parquet".r.findAllIn(p).size

  test("q17_small_qty: correlated AVG is a window — lineitem scanned " +
      "ONCE, no self-join of the brand slice") {
    val p = plan("q17_small_qty")
    assert(scansOf(p, "lineitem") == 1, "brand slice read twice")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("Window"))
  }

  test("q2_min_offer: one offers aggregate + per-part window min — " +
      "lineitem scanned ONCE, no duplicated offers subtree") {
    val p = plan("q2_min_offer")
    assert(scansOf(p, "lineitem") == 1, "offers subtree materialized twice")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_spans: gram subtree runs once (checkpointed before the " +
      "dup semi-join) — final plan scans documents only for the " +
      "map-side size() branch; no hot-gram window") {
    val p = plan("dedup_spans")
    assert(scansOf(p, "documents") == 1, "gram subtree recomputed")
    assert(p.contains("ExistingRDD"), "gram checkpoint missing")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_classify_hash: map-side explode + ONE exchange (the " +
      "doc_id aggregate) — nothing shuffles token rows twice") {
    val p = plan("text_classify_hash")
    assert(scansOf(p, "documents") == 1)
    // bound, not an exact count: benign planner/AQE changes may add
    // nodes, but a SECOND exchange of token rows is the regression
    // this pin protects against
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1,
      "token rows crossed more than one exchange")
  }

  test("q14_promo_share: shipdate month bounds reach the parquet scan") {
    val p = plan("q14_promo_share")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_shipdate"))
  }

  test("q22_idle_customers: NOT EXISTS is an anti-join against the " +
      "date-pruned orders slice, scalar avg broadcasts") {
    val p = plan("q22_idle_customers")
    assert(p.contains("LeftAnti"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"))
  }

  test("skyline_pareto: data-sized windows partition by price bucket; " +
      "the only unpartitioned window reads the bucket aggregate") {
    val p = plan("skyline_pareto")
    assert(p.contains("hashpartitioning(__bucket"),
      "frontier windows lost their bucket partitioning")
    // the prefix-max window is the sole SinglePartition exchange and
    // its input is the per-bucket aggregate (≤ bucket-count rows), so
    // no unpartitioned window ever sees table-sized input
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      "more than one unpartitioned exchange in the skyline plan")
    assert(p.contains("max(__bmax"),
      "prefix max no longer reads the bounded bucket aggregate")
  }

  test("q21_sole_returner: the per-order EXISTS stats join back " +
      "without cartesian or nested-loop fallback") {
    val p = plan("q21_sole_returner")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(scansOf(p, "lineitem") <= 2)
  }

  test("pipeline_ccnet_buckets: the cumulative window partitions by " +
      "lang over the bounded value-count table, never per doc") {
    val p = plan("pipeline_ccnet_buckets")
    // the tercile window's exchange hashes on lang (distinct score
    // values per lang — bounded by the score range); a per-doc window
    // would hash on doc_id somewhere in the visible plan
    assert(p.contains("hashpartitioning(lang"),
      "tercile window lost its lang partitioning")
    assert(!p.contains("hashpartitioning(doc_id"),
      "a per-doc exchange appeared — bucketing must stay value-level")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_semantic: within-cluster pairs equi-join on cell, " +
      "no cartesian fallback") {
    // the centroid broadcast join lives inside the checkpointed pri
    // lineage (invisible here); what must hold in the visible plan is
    // that pairing hashes on cell and nothing falls back to a
    // cartesian/nested-loop strategy
    val p = plan("dedup_semantic")
    assert(p.contains("hashpartitioning(cell"),
      "within-cluster pairing lost its cell partitioning")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "within-cluster pairing must stay an equi-join on cell")
  }

  test("curate_domains: source verdict broadcasts back, no second " +
      "shuffle of the documents") {
    val p = plan("curate_domains")
    assert(p.contains("BroadcastHashJoin"),
      "per-source stats must join back via broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("events_cusum: running sum partitions by event_type — never a " +
      "global window") {
    val p = plan("events_cusum")
    assert(p.contains("hashpartitioning(event_type"),
      "CUSUM window lost its event_type partitioning")
    assert(!p.contains("SinglePartition"),
      "an unpartitioned exchange appeared in the CUSUM plan")
    assert(p.contains("BroadcastHashJoin"),
      "per-type totals must broadcast")
  }

  test("dedup_bloom: batch probe is map-side — no batch-x-corpus " +
      "join in the gate, only the key semi-join for ground truth") {
    val p = plan("dedup_bloom")
    assert(p.contains("bloomcontains") || p.contains("bloom_contains"),
      "probe expression missing from the plan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sample_temperature: rate table broadcasts, membership is a " +
      "post-join filter — no shuffle of the corpus") {
    val p = plan("sample_temperature")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("entropy/drift profiles: final aggregate is value-level " +
      "(hashes on c), never a per-doc exchange") {
    for (q <- Seq("profile_entropy", "profile_drift")) {
      val p = plan(q)
      assert(p.contains("hashpartitioning(c"), s"$q lost value-level agg")
      assert(!p.contains("hashpartitioning(doc_id"),
        s"$q shuffles per-doc rows")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("mm_dedup_phash: hash-groupBy dedup — no pair mining, no " +
      "cartesian anywhere") {
    val p = plan("mm_dedup_phash")
    assert(p.contains("hashpartitioning(phash"),
      "grouping must key on the perceptual hash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("source_partitioned: year predicate prunes at the partition " +
      "level (PartitionFilters), not as a data filter") {
    val p = plan("source_partitioned")
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*year".r.findFirstIn(p).isDefined,
      s"year predicate must prune partitions: $p")
  }

  test("sample_pps: corpus prefix-sum windows partition by shard; " +
      "the only unpartitioned window input is the 32-row subtotal " +
      "table") {
    val p = plan("sample_pps")
    assert(p.contains("hashpartitioning(shard"),
      "within-shard cumsum must partition by shard")
    // the offsets window is over the 32-row per-shard subtotal — its
    // single-partition Exchange is bounded by the shard count, while
    // the corpus-sized side must never see a SinglePartition exchange
    assert(!p.contains("CartesianProduct"))
  }

  test("profile_ks: ECDF cumsum runs over the distinct-value table " +
      "(post-aggregate), never the raw corpus — and the cumsum is " +
      "sharded: its window partitions by shard, so the only " +
      "unpartitioned window input is the 32-row subtotal table") {
    val p = plan("profile_ks")
    assert(p.contains("hashpartitioning(v"),
      "per-value counts must aggregate before the window")
    assert(!p.contains("hashpartitioning(doc_id"),
      "no per-doc exchange")
    assert(p.contains("hashpartitioning(shard"),
      "ECDF cumsum must run within range shards, not one task")
    // the windows sorted by v must all be shard-partitioned; the only
    // SinglePartition window orders by shard over 32 subtotal rows
    val unpartitionedByV =
      "Window.*\\[v\\b[^\\]]*\\](?!.*partition)".r.findFirstIn(p)
    assert("partitionBy=\\[shard\\]|hashpartitioning\\(shard".r
      .findFirstIn(p).isDefined && unpartitionedByV.isEmpty,
      s"value-ordered window must be sharded: $p")
  }

  test("profile_mutual_info: cell-level aggregate (hashes on lang), " +
      "marginals broadcast — never a per-doc exchange after the count") {
    val p = plan("profile_mutual_info")
    assert(p.contains("hashpartitioning(lang"), "lost cell-level agg")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "marginals must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("join_skew_salted: equi-join on (key, salt) — no cartesian, " +
      "no nested loop") {
    val p = plan("join_skew_salted")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("profile_gini: reads only the 2 orders columns it needs; " +
      "window partitions by nation (never unpartitioned)") {
    val p = plan("profile_gini")
    val reads = "ReadSchema: struct<([^>\\n]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(reads.exists(r => r.contains("o_custkey") &&
      r.contains("o_totalprice") && !r.contains("o_orderdate")),
      s"orders scan not pruned: $reads")
    assert(p.contains("hashpartitioning(c_nationkey"),
      "rank window must partition by nation")
  }

  test("events_pattern: one session-keyed aggregate; windows " +
      "partition by user — no global window, no cartesian") {
    val p = plan("events_pattern")
    assert(p.contains("hashpartitioning(user_id"),
      "session windows must partition by user")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_snm: neighbor window partitions by block key; " +
      "candidates come from leads, never a self-join") {
    val p = plan("dedup_snm")
    assert(p.contains("hashpartitioning(blk"),
      "SNM window must partition by the blocking key")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "SNM must not mine pairs via a join")
  }

  test("dedup_cdc: boundaries via the codegen'd cdc_cuts expression " +
      "(not an interpreted HOF fold); chunk agg is the only join-free " +
      "exchange path — no window, no join of any kind") {
    val p = plan("dedup_cdc")
    assert(p.contains("cdc_chunks"), "must use the native expression:\n" + p)
    assert(!p.contains("WindowExec") && !p.contains("CartesianProduct")
      && !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "CDC dedup is scan -> chunk aggregate, nothing else:\n" + p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p)
  }

  test("text_rake: every window and exchange clusters on the doc id " +
      "— nothing corpus-global; no cartesian") {
    val p = plan("text_rake")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(id"),
      "rake stages must cluster on the doc id:\n" + p)
  }

  test("profile_cramers_v: the contingency grid builds from broadcast " +
      "category-bounded marginals — no shuffle join, no window") {
    val p = plan("profile_cramers_v")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "marginal joins must broadcast:\n" + p)
    assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), p)
  }

  test("pipeline_ingest_gates_fast fires no more Spark jobs than the " +
      "all-legs referee it short-circuits") {
    val q = SparkEntry.queries
    val names = Seq("pipeline_ingest_gates", "pipeline_ingest_gates_fast")
    // warm pass: every index both queries serve from is built first
    names.foreach(n => q(n)(spark, d).count())
    val Seq(referee, fast) = names.map(n =>
      sparkWorkOf(q(n)(spark, d).count()).jobs.size)
    assert(fast <= referee,
      s"_fast fired $fast jobs, the referee $referee")
  }
}
