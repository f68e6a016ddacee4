package graft

import graft.operators.{FCM, Skew}
import org.apache.spark.sql.functions._

/** Plan-quality regression tests: the optimizations SCALE.md promises must
  * stay visible in the physical plans, and skew/distance variants work. */
class PlanSpec extends GraftSpec {
  import spark.implicits._

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan.toString

  test("q3_join: filters pushed to scans, dimension join broadcast") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"), "customer join must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate")
      || p.contains("GreaterThan(l_shipdate"), s"lineitem filter not pushed:\n$p")
  }

  test("q1_agg: column pruning reaches the parquet scan") {
    val p = plan("q1_agg")
    // only the 6 needed columns, not all 16 lineitem columns
    assert(!p.contains("l_partkey") && !p.contains("l_comment"),
      "scan reads columns the query never uses")
  }

  test("q_window: global top-k is TakeOrderedAndProject, not a 1-partition sort") {
    val p = plan("q_window")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  test("q_rollup: all grouping levels in one pass (Expand + single shuffle)") {
    val p = plan("q_rollup")
    assert(p.contains("Expand"), s"rollup should plan one Expand:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected one shuffle (+optional AQE read), got $exchanges:\n$p")
  }

  test("q_pivot: static pivot is one aggregate pass, dims broadcast") {
    val p = plan("q_pivot")
    // explicit pivot values -> no values-discovery job and no Expand;
    // Spark plans pivot as TWO partial-aggregated pairs (sum by
    // (nation, yr), then pivotfirst by nation) — both shuffles carry
    // only aggregated cells (~nations x years rows), never data
    assert(!p.contains("Expand"), s"static pivot must not Expand:\n$p")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(p.contains("pivotfirst"), s"expected the pivot aggregate:\n$p")
    // the year range is a RAW o_orderdate predicate so it reaches the scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range not pushed to the orders scan:\n$p")
    // shuffles only (broadcast exchanges excluded): 2 for the fact join
    // sides + 2 for the agg levels
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 4, s"pivot should add at most 2 agg shuffles, got $shuffles:\n$p")
  }

  test("q_sample: scan pruned to the two projected columns") {
    val p = plan("q_sample")
    assert(!p.contains("text") && !p.contains("n_chars"),
      s"sampling must not read the text payload:\n$p")
  }

  test("q_dedup_exact: partial-aggregated min_by, no per-row window rank") {
    val p = plan("q_dedup_exact")
    assert(!p.contains("Window"), s"exact dedup must not plan a window:\n$p")
    // the scale win: a partial min_by runs BEFORE the exchange, so the
    // shuffle carries ~|keys| candidate rows, not every input row
    // (struct-valued min_by plans as SortAggregate — still partial+final)
    assert(p.contains("partial_min_by"),
      s"expected map-side partial aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"expected one shuffle on the dedup key:\n$p")
  }

  private def windowNodesOf(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    p.collect { case w: WindowExec => w }
  }

  private def windowNodes(q: String) =
    windowNodesOf(SparkEntry.queries(q)(spark, sf()))

  private def overAggregated(w: org.apache.spark.sql.execution.window.WindowExec): Boolean =
    w.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.isDefined

  test("tokenBudget two-phase: no single-partition-per-group window over big groups") {
    // when a group exceeds blockRows, any window over raw rows must
    // partition by (group, block) — never by the group alone (that was
    // one task per source at 100 TB); group-only windows are allowed only
    // over the tiny aggregated offsets table
    val df = (1 to 1000).map(i => (if (i % 2 == 0) "a" else "b", i.toLong, 3L))
      .toDF("src", "id", "toks")
    val out = graft.operators.Sampling.tokenBudget(
      df, col("src"), col("id"), col("toks"), budget = 600L,
      nBlocks = 8, blockRows = 100L)
    val ws = windowNodesOf(out)
    assert(ws.nonEmpty, "expected the bounded per-(group, block) window")
    ws.foreach { w =>
      assert(w.partitionSpec.size >= 2 || overAggregated(w),
        s"window over raw data partitions by a single key:\n$w")
    }
  }

  test("q_token_budget: proven-small groups collapse to the single-pass plan") {
    // the adaptive path: every documents source fits one block at this
    // scale, so the plan must be ONE window and ZERO joins — no bounds
    // join, no offsets join (three passes collapse to one)
    val q = SparkEntry.queries("q_token_budget")(spark, sf())
    assert(windowNodesOf(q).size == 1, "expected exactly the one running-sum window")
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"collapsed tokenBudget must not join:\n$p")
  }

  test("q_shards: per-shard rank runs inside bounded (shard, block) partitions") {
    val ws = windowNodes("q_shards")
    assert(ws.nonEmpty, "expected the bounded per-(shard, block) window")
    ws.foreach { w =>
      assert(w.partitionSpec.size >= 2 || overAggregated(w),
        s"window over raw data partitions by a single key:\n$w")
    }
  }

  test("ANN top-k paths plan no window at all (partial heap + typed merge)") {
    for (q <- Seq("q_ann_topk", "q_ann_lsh", "q_ann_ivf")) {
      assert(windowNodes(q).isEmpty, s"$q must not plan a Window")
      val p = plan(q)
      assert(!p.contains("Window"), s"$q must not plan a Window:\n$p")
    }
  }

  test("q_kmeans: predict is a codegen'd expression — no UDF, no window") {
    // The fit runs eagerly (RDD treeAggregate rounds) when the query is
    // built; the remaining plan is the predict + counts + model join.
    // Small-k predict must stay a literal CASE chain inside codegen.
    val p = plan("q_kmeans")
    assert(!p.contains("ScalaUDF"), s"small-k predict must not drop to a UDF:\n$p")
    assert(!p.contains("Window"), s"kmeans counts must not plan a window:\n$p")
  }

  test("q_moving_avg: value-interval frame over exactly the user_id shuffle") {
    val p = plan("q_moving_avg")
    assert(p.contains("RangeFrame"), s"expected a RANGE frame:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"one user_id shuffle expected, got $shuffles:\n$p")
  }

  test("q_scd2: lag and lead share one shuffle and one sort") {
    val p = plan("q_scd2")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"both windows must reuse the user_id shuffle, got $shuffles:\n$p")
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts == 1, s"identical window order must sort once, got $sorts:\n$p")
  }

  test("q_gap_fill: events scan pruned; grid join carries no raw events") {
    val p = plan("q_gap_fill")
    assert(!p.contains("props") && !p.contains("event_type"),
      s"gap fill must not read unused event columns:\n$p")
  }

  test("q_incr_agg: snapshot+delta merge is aggregate-only (no raw rejoin)") {
    val p = plan("q_incr_agg")
    assert(!p.contains("Join"), s"partial-state merge must not join:\n$p")
    assert(p.contains("Union"), s"expected the partial-state union:\n$p")
  }

  test("q_robots_join: rules ride an equi-join, never a cartesian or a collect") {
    val p = plan("q_robots_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the corpus-sized gate must stay a domain-keyed equi-join:\n$p")
    assert(p.contains("Join"),
      s"rules must reach the URLs through a join (zero driver state):\n$p")
  }

  test("q_corr: five co-moments in one partial-agg pass over the scan") {
    val p = plan("q_corr")
    assert(!p.contains("Join"), s"co-moments must come from one scan:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"one agg shuffle expected, got $shuffles:\n$p")
  }

  test("q_model_gate: scoring is a pure projection (no join, no window)") {
    val p = plan("q_model_gate")
    assert(!p.contains("Window"), s"gating must not rank per row:\n$p")
    assert(!p.contains("Join"), s"gating must not join the model table:\n$p")
  }

  test("q_frames: scan pruned to id + text") {
    val p = plan("q_frames")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"frame sampling must only read (doc_id, text):\n$p")
  }

  test("salted join spreads a hot key and preserves inner-join semantics") {
    val big = (Seq.fill(500)(1) ++ (2 to 50)).toDF("k")
      .withColumn("v", monotonically_increasing_id())
    val small = (1 to 50).map(i => (i, s"name_$i")).toDF("k", "name")
    val plainCount = big.join(small, "k").count()
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plainCount)
    // hot-key report flags key 1
    val hot = Skew.hotKeys(big, col("k"), 1).head()
    assert(hot.getInt(0) == 1 && hot.getDouble(2) > 0.9)
  }

  test("q_normalize / q_split: pure projections — zero shuffles, codegen'd") {
    Seq("q_normalize", "q_split").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
      // "*(n)" prefixes mark whole-stage-codegen stages in toString plans
      assert(p.contains("*(1)"), s"$q should codegen:\n$p")
    }
  }

  test("q_rand_proj: projection is a zero-shuffle codegen'd map (matrix plan-embedded)") {
    val p = plan("q_rand_proj")
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(!p.contains("Join"), s"the sign matrix must ride the plan, not a join:\n$p")
    assert(!p.contains("ScalaUDF"), s"projection must be the native expression:\n$p")
    assert(p.contains("*(1)"), s"projection must participate in codegen:\n$p")
  }

  test("q_ann_proj: candidate + re-rank joins broadcast; only top-k heap shuffles") {
    val p = plan("q_ann_proj")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized join side exists:\n$p")
    // two bounded-heap top-k merges (candidates, re-rank) are the only
    // hash shuffles; everything else is broadcast-shaped
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"expected only the two top-k merges, got $shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query/candidate sides must broadcast:\n$p")
  }

  test("q_pca_project: projection is a zero-shuffle codegen'd scan (component plan-embedded)") {
    // the moment scan + power iterate run (model-sized collect) when the
    // query is BUILT; the returned projection must be a pure scan
    val p = plan("q_pca_project")
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(!p.contains("Join"), s"component/means must ride as literals, not a join:\n$p")
    assert(!p.contains("ScalaUDF"), s"projection must stay native expressions:\n$p")
    assert(p.contains("*(1)"), s"projection must participate in codegen:\n$p")
  }

  test("q_zorder: the layout key is a zero-shuffle codegen'd projection") {
    val p = plan("q_zorder")
    assert(!p.contains("Exchange"), s"z-value must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"bit interleave must stay native:\n$p")
    assert(p.contains("*(1)"), s"interleave must participate in codegen:\n$p")
  }

  test("q_ssjoin: no global sort, no cartesian — candidates come from the prefix-key hash join") {
    // the first cut ranked the shingle vocabulary with an unpartitioned
    // row_number Window (single-task sort over a vocab that inflates
    // with the corpus — 158s at the 100x point); the committed shape
    // must never reintroduce one
    val p = plan("q_ssjoin")
    assert(!p.contains("Window"), s"no vocabulary rank window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the equi-join on prefix keys:\n$p")
  }

  test("q_whiten: whitened projection is a zero-shuffle codegen'd scan") {
    // both components, means and the two sqrt-eigenvalue scales ride the
    // plan as literals; the corpus is touched by exactly one scan
    val p = plan("q_whiten")
    assert(!p.contains("Exchange"), s"whitening must not shuffle:\n$p")
    assert(!p.contains("Join"), s"model must ride as literals, not a join:\n$p")
    assert(!p.contains("ScalaUDF"), s"whitening must stay native expressions:\n$p")
    assert(p.contains("*(1)"), s"whitening must participate in codegen:\n$p")
  }

  test("q_quality_clf: inference is a zero-shuffle codegen'd projection") {
    val p = plan("q_quality_clf")
    assert(!p.contains("Exchange"), s"classifier inference must not shuffle:\n$p")
    assert(!p.contains("Join"), s"model must be plan-embedded, not joined:\n$p")
    assert(!p.contains("ScalaUDF"), s"scoring must be the native expression:\n$p")
    assert(p.contains("*(1)"), s"scoring must participate in codegen:\n$p")
  }

  test("q_span_dedup: rebuild is a zero-shuffle scan (hot set rides as broadcast)") {
    // the hot-span aggregation runs (and collects, capped) when the query
    // is BUILT; the returned rebuild plan must be a pure scan projection:
    // no pair join, no window, no shuffle — the 100 TB promise
    val p = plan("q_span_dedup")
    assert(!p.contains("Exchange"), s"span rebuild must not shuffle:\n$p")
    assert(!p.contains("Join"), s"span rebuild must not join:\n$p")
    assert(!p.contains("Window"), s"span rebuild must not rank:\n$p")
  }

  test("q_dsir: scoring is a zero-shuffle codegen'd projection (model plan-embedded)") {
    // the weight-estimation aggregation runs (dim-bounded, collected)
    // when the query is BUILT; the returned scoring plan must be pure
    val p = plan("q_dsir")
    assert(!p.contains("Exchange"), s"DSIR scoring must not shuffle:\n$p")
    assert(!p.contains("Join"), s"weights must be plan-embedded, not joined:\n$p")
    assert(!p.contains("ScalaUDF"), s"scoring must be the native expression:\n$p")
  }

  test("q_novelty: partial-min first-seen agg, doc-sized join only, no window") {
    val p = plan("q_novelty")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"first-seen must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window"), s"novelty must not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty join must stay equi-keyed:\n$p")
    // the round-7 shape: the exploded (doc, shingle) stream feeds ONLY
    // aggregations — the join touches two doc-keyed aggregated relations,
    // never the raw stream (no shuffle of the explode for a join-back).
    // Pin it structurally: every SMJ/SHJ key in the plan is doc-keyed
    // (__doc/__first), none is shingle-keyed
    assert(!"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[__sh".r
      .findFirstIn(p).isDefined, s"join must not key on shingles:\n$p")
  }

  test("q_semdedup: one cell-keyed shuffle, no pair join, no window") {
    val p = plan("q_semdedup")
    assert(!p.contains("Join"), s"pairing must be cell-local, never a join:\n$p")
    assert(!p.contains("Window"), s"semdedup must not window:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected the one cell shuffle, got $shuffles:\n$p")
  }

  test("q_weighted_take: top-n is TakeOrderedAndProject, no window, no global sort") {
    val p = plan("q_weighted_take")
    assert(p.contains("TakeOrderedAndProject"), s"expected per-partition heaps:\n$p")
    assert(!p.contains("Window"), s"weighted take must not rank via window:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"weighted take must not shuffle row data:\n$p")
  }

  test("q_dedup_keep_best: retention window partitions by cluster, no global sort") {
    val p = plan("q_dedup_keep_best")
    // the final row_number must run per-cluster (hashpartitioning on
    // cluster_id), never as an unpartitioned window
    assert(p.contains("hashpartitioning(cluster_id"),
      s"retention window must partition by cluster_id:\n$p")
    assert(!p.contains("SinglePartition) AS rn") && !p.contains("Window.*SinglePartition"),
      s"unpartitioned window in retention pass:\n$p")
  }

  test("q_count_min: ONE corpus scan — exact counts staged, cells derived from them") {
    // the round-6 plan expanded the token explode + vocab agg once per
    // downstream use (est source, final join) plus a separate cells pass
    // = ~3 corpus scans; the staged vocab table must leave exactly one
    // the ONE corpus scan runs at BUILD time (Stage.materialize writes the
    // vocab-sized exact-count table); the returned plan must read ONLY the
    // stage table — zero corpus rescans at execution
    val p = plan("q_count_min")
    val corpusScans = "documents\\.parquet".r.findAllIn(p).length
    assert(corpusScans == 0, s"expected 0 corpus scans in the final plan, got $corpusScans:\n$p")
    assert(p.contains("graft_stage_cm_exact"),
      s"exact counts must come from the stage table:\n$p")
  }

  test("q_source_cap: window only over prefiltered candidates, keyed by source") {
    val p = plan("q_source_cap")
    // the rank window must partition by the source key — never a global sort
    assert(p.contains("windowspecdefinition(__s"),
      s"cap rank must partition by source:\n$p")
    // and its input must be the margin-prefiltered candidate set, not the
    // corpus: the __b < __thr gate sits below the window
    assert(p.contains("__thr"), s"candidate prefilter missing from plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"caps/thresholds must ride as broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cap joins must stay equi-keyed:\n$p")
  }

  test("q_unimax: corpus agg happens at build; the result plan is O(#langs) local") {
    val p = plan("q_unimax")
    // allocation is computed from the one collected lang-keyed agg — the
    // emitted relation must not rescan or reshuffle the corpus
    assert(!p.contains("parquet"), s"unimax result must not rescan the corpus:\n$p")
    assert(!p.contains("Exchange"), s"unimax result must not shuffle:\n$p")
  }

  test("q_html_text: zero-shuffle codegen'd regex projection, no UDF") {
    val p = plan("q_html_text")
    assert(!p.contains("Exchange"), s"html strip must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"html strip must stay a native Column chain:\n$p")
    assert(p.contains("*(1)"), s"expected a whole-stage-codegen span:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(text)]"),
      s"text filter must reach the scan:\n$p")
  }

  test("q_html_fused: zero-shuffle single-kernel projection, no UDF") {
    val p = plan("q_html_fused")
    assert(!p.contains("Exchange"), s"fused extraction must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"fused extraction must be the native expression, not a UDF:\n$p")
    assert(p.contains("*(1)"), s"expected a whole-stage-codegen span:\n$p")
    assert(p.contains("html_to_text"),
      s"expected the fused kernel expression in the plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(text)]"),
      s"text filter must reach the scan:\n$p")
  }

  test("q_bpe_encode: zero-shuffle codegen'd projection + generate, no UDF") {
    val p = plan("q_bpe_encode")
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"encode must stay a codegen'd kernel:\n$p")
    assert(p.contains("Generate"), s"expected posexplode Generate:\n$p")
  }

  test("q_hll_vocab: one register-keyed shuffle, partial max map-side") {
    val p = plan("q_hll_vocab")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected the one register agg shuffle, got $shuffles:\n$p")
    assert(p.contains("partial_max") || p.contains("partial max"),
      s"register max must partial-aggregate map-side:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"registers are a pure agg — no window, no join:\n$p")
  }

  test("q_unimax_sample / q_curate6 gates: rates ride as broadcast joins") {
    Seq("q_unimax_sample", "q_curate6").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the O(#langs) rate table must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: no corpus-vs-corpus sorted join should exist:\n$p")
    }
  }

  test("q_blocklist: zero-shuffle codegen'd projection, no UDF") {
    val p = plan("q_blocklist")
    assert(!p.contains("Exchange"), s"blocklist filter must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), s"blocklist must stay a codegen'd kernel:\n$p")
  }

  test("q_moore_lewis / q_js_drift: vocab joins by key, no window, no pair blowup") {
    Seq("q_moore_lewis", "q_js_drift").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: no window over the corpus:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: only broadcast one-row/group-bounded cross joins allowed:\n$p")
    }
  }

  test("q_bpe_fertility: one lang-keyed agg shuffle over the codegen'd count") {
    val p = plan("q_bpe_fertility")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected the one lang agg shuffle, got $shuffles:\n$p")
    assert(!p.contains("ScalaUDF"), s"BPE count must stay codegen'd:\n$p")
  }

  test("q_zipf_fit: top-K head via TakeOrderedAndProject, never a global sort") {
    val p = plan("q_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-K operator:\n$p")
    assert(!"Sort \\[freq".r.findFirstIn(p).exists(_ => p.contains("Exchange rangepartitioning")),
      s"no range-partitioned global sort over the vocabulary:\n$p")
  }

  test("q_domain_filter: source means ride back as broadcasts, no corpus re-shuffle") {
    val p = plan("q_domain_filter")
    assert(p.contains("BroadcastHashJoin"), s"source-mean join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sorted corpus join:\n$p")
    assert(!p.contains("ScalaUDF"), s"margin must stay the codegen'd kernel:\n$p")
  }

  test("no persisted RDD outlives a staged query's build+run (the q_curate house rule)") {
    // pplBuckets (alone and inside q_curate3) used to persist its scored
    // relation with no unpersist path — asserting the cache manager is
    // clean after build+run pins the Stage.materialize replacement
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q_count_min", "q_ppl_buckets", "q_curate3").foreach { q =>
      SparkEntry.queries(q)(spark, sf()).count()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"queries left persisted RDDs behind: $leaked")
  }

  test("incremental near-dup: batch 2 verifies in ONE exchange over a Union") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.{MapGroupsExec, QueryExecution, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import scala.jdk.CollectionConverters._
    // every node, looking through AQE wrappers, query stages and caches
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val idxDir = java.nio.file.Files.createTempDirectory("plan_fused").toString + "/idx"
    def ingest(b: Long) = Dedup.incrementalNearDup(
      docs.filter(pmod(col("doc_id"), lit(3L)) === b), idxDir, "text", "doc_id",
      numHashes = 16, bands = 4, seed = 42L, shingleN = 1, threshold = 0.8)
    ingest(0L).unpersist()
    // batch 2 has an index to verify against: capture its executed plans
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def fusedPass = seen.asScala.flatMap(nodes).collectFirst {
      case m: MapGroupsExec if nodes(m).exists(_.isInstanceOf[UnionExec]) => m
    }
    spark.listenerManager.register(listener)
    try {
      ingest(1L).unpersist()
      // listener events arrive on the bus asynchronously: bounded wait
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (fusedPass.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val fused = fusedPass.getOrElse(fail("batch 2 ran no MapGroups over a Union"))
    val below = nodes(fused)
    val shuffles = below.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1, s"the fused verify must shuffle exactly once:\n$fused")
    assert(nodes(shuffles.head).exists(_.isInstanceOf[UnionExec]),
      s"batch and index rows must share the one exchange:\n$fused")
    assert(!below.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"no index-probe sort-merge join:\n$fused")
    assert(below.count(_.isInstanceOf[MapGroupsExec]) == 1,
      s"no separate groupByKey pass:\n$fused")
  }

  test("FCM with cosine distance converges and predicts on direction clusters") {
    // two angular clusters: along x-axis and along y-axis (cosine distance
    // separates by direction, not magnitude)
    val data = Seq(
      Array(1.0, 0.01), Array(5.0, 0.1), Array(10.0, 0.05),
      Array(0.01, 1.0), Array(0.1, 6.0), Array(0.02, 12.0))
    val df = data.map(Tuple1(_)).toDF("features")
    val model = new FCM().setK(2).setMaxIter(30).setSeed(5)
      .setDistanceMeasure("cosine").fit(df)
    val preds = model.transform(df).collect()
      .map(r => (r.getAs[scala.collection.Seq[Double]](0).head > r.getAs[scala.collection.Seq[Double]](0)(1), r.getInt(1)))
    val byDir = preds.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDir(true).size == 1 && byDir(false).size == 1 && byDir(true) != byDir(false),
      s"angular clusters must separate: $preds")
  }
}
