package graft

import org.apache.spark.sql.functions._
import graft.graph.GraphBuilder

/** Plan-shape assertions — the §2.7 "index" story: property lookups must
  * reach the parquet scan as pushed filters, joins must not degrade to
  * cartesian products, and small-dim joins should broadcast. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Typed collect of empty-partitionSpec windows that SEES THROUGH
    * AQE: AdaptiveSparkPlanExec is a leaf to TreeNode.collect, so a
    * plain `exec.collect` silently returns nothing for any plan with
    * an exchange (i.e. every windowed plan) — the round-10 discovery
    * that this invariant had never actually fired. Recurse into the
    * wrapper's inputPlan explicitly. */
  private def collectUnpartitionedWindows(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectUnpartitionedWindows(a.inputPlan)
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => Seq(w)
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
        if w.partitionSpec.isEmpty => Seq(w)
    }.flatten

  test("raw table predicate reaches the parquet scan (PushedFilters)") {
    val plan = planOf(GraphBuilder.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_name"))
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan.take(2000))
  }

  test("range predicates reach the parquet scan (index_advanced lookups)") {
    // the raw-table analogue of q_prop_ge / q_prop_between
    // (index_advanced.rs:362/470): >=, < and BETWEEN push down exactly
    // like the equality row above
    val ge = planOf(GraphBuilder.table(spark, sfDir, "part")
      .filter(col("p_size") >= 45).select("p_name"))
    assert(ge.contains("GreaterThanOrEqual(p_size,45)"), ge.take(2000))
    val bt = planOf(GraphBuilder.table(spark, sfDir, "part")
      .filter(col("p_size").between(10, 15)).select("p_name"))
    assert(bt.contains("GreaterThanOrEqual(p_size,10)") &&
      bt.contains("LessThanOrEqual(p_size,15)"), bt.take(2000))
  }

  test("shared builds: dup-span frames and media pairs are session-memoized") {
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.inputPlan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    // q_dup_spans reads ONLY the memoized frames (checkpointed window
    // stream + persisted span frame) — zero base-table scans
    val ds = SparkEntry.queries("q_dup_spans")(spark, sfDir)
    assert(fileScans(ds.queryExecution.executedPlan).isEmpty,
      "q_dup_spans re-derives the shared dup-span frames from the base table")
    // q_strip_dup_spans pays exactly its OWN token explode: one
    // documents scan, spans from the shared cache
    val st = SparkEntry.queries("q_strip_dup_spans")(spark, sfDir)
    assert(fileScans(st.queryExecution.executedPlan).length <= 1,
      "q_strip_dup_spans re-derives the shared span frame")
    // the media dedup histograms and the cross-modal channel read the
    // memoized pair/fingerprint caches — zero re-synthesis, zero scans
    for (name <- Seq("q_image_dedup", "q_audio_dedup", "q_video_dedup",
        "q_cross_modal_dedup")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(fileScans(df.queryExecution.executedPlan).isEmpty,
        s"$name re-synthesizes a media corpus the session already decoded")
    }
  }

  test("shared builds: one registry keyed by (session, dir, name, params)") {
    import graft.graph.{DerivedGraphs, Memo}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    // the same (session, dir, name, params) returns the same frame;
    // another parameter value is another entry
    val top3 = DerivedGraphs.nationTradeTop(spark, sfDir)
    assert(DerivedGraphs.nationTradeTop(spark, sfDir, 3) eq top3)
    assert(DerivedGraphs.nationTradeTop(spark, sfDir, 2) ne top3)
    // minhash pairs and triangles share (session, dir) but not an entry
    val builds = SparkEntry.sharedBuilds.toMap
    val pairs = builds("build:minhash_pairs")(spark, sfDir)
    val tri = builds("build:triangles")(spark, sfDir)
    assert(pairs ne tri)
    assert(builds("build:minhash_pairs")(spark, sfDir) eq pairs)
    assert(builds("build:triangles")(spark, sfDir) eq tri)
    // a body may read another entry, which is registered on the way
    val outer = Memo(spark, sfDir, "spec_outer")(
      Memo(spark, sfDir, "spec_inner")(spark.range(3).toDF("id").persist())
        .filter(col("id") > 0).persist())
    val inner = Memo[DataFrame](spark, sfDir, "spec_inner")(fail("inner entry missing"))
    assert(outer.count() == 2 && inner.count() == 3)
    // clearCaches releases every entry, and the next call rebuilds
    val graph = GraphBuilder.tpch(spark, sfDir)
    assert(tri.storageLevel != StorageLevel.NONE)
    SparkEntry.clearCaches()
    for (df <- Seq(top3, tri, inner, outer, graph.nodes, graph.edges))
      assert(df.storageLevel == StorageLevel.NONE)
    assert(GraphBuilder.tpch(spark, sfDir) ne graph)
    assert(DerivedGraphs.nationTradeTop(spark, sfDir) ne top3)
  }

  test("column pruning: two-column projection reads a two-column schema") {
    val plan = planOf(GraphBuilder.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity"))
    assert(plan.contains("ReadSchema: struct<l_orderkey:"), plan.take(2000))
    assert(!plan.contains("l_comment"), "unused columns must be pruned")
  }

  test("flagship entry: no cartesian product, region side broadcast") {
    val plan = planOf(SparkEntry.entry(spark))
    assert(!plan.toLowerCase.contains("cartesianproduct"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("every oracle query: no cartesian, no unpartitioned window over unbounded frames") {
    // One pass over every SparkEntry query plan, two invariants
    // (promoted from the ExplainAudit diagnostic to CI):
    // 1. No CartesianProduct — crossJoin with a 1-row aggregate (trade
    //    threshold, triangles denominator) is fine and surfaces as
    //    BroadcastNestedLoopJoin; an unbounded cartesian of data tables
    //    is a plan bug.
    // 2. No WindowExec with an empty partitionSpec (Spark collapses it
    //    to ONE task) unless the frame feeding it is provably bounded —
    //    those cases are whitelisted BY NAME with the bound that makes
    //    them safe, so any new unpartitioned window fails review here.
    val cartesianExempt = Set("q_triangles") // t×w: two 1-row aggregates crossed
    val unpartitionedWindowBounded = Map(
      "q_gini" -> "k-row per-source frame (k = #sources)",
      "q_zipf" -> "rank over limit(k) vocab frame",
      "q_dsir" -> "rank over limit(k) score frame",
      "q_pack_bins" -> "prefix sum over per-block 1-row sums",
      "q_ppl_buckets" -> ("under-gate oracle regime; past-gate branch " +
        "range-ranks with partitionBy(pid) (ShuffleRegimeSpec parity)"),
      "q_layout_circle" -> ("ring rank over the visualization view — "
        + "driver-sized by contract (GraphViz caps views; here the "
        + "25-node nation frame)"),
      "q_acf" -> ("lead lags over the daily-count series — bounded by "
        + "the observation window's day count (time domain), not the "
        + "event count"),
      "q_mann_whitney" -> ("pooled cumulative over the distinct-value "
        + "frame — bounded by the value domain, not the corpus"),
      "q_kruskal" -> ("pooled rank cumulative over the distinct-value "
        + "frame — bounded by the value domain, not the corpus"),
      "q_ewma" -> ("lag kernel over the daily-count series — bounded "
        + "by the observation window's day count, not the event count"),
      "q_spearman" -> ("per-feature rank cumulatives over the two "
        + "distinct-value frames — bounded by the value domains"),
      "q_funnel_latency" -> ("percentile cumulative over the distinct "
        + "latency-value frame — bounded by the observation window in "
        + "seconds (time domain), never by event volume"),
      "q_quality_dup_lift" -> ("decile rank cumulative over the "
        + "distinct-quality frame — bounded by the 6dp value domain, "
        + "never the corpus"),
      "q_lorenz" -> ("decile rank cumulative over the distinct "
        + "activity-count frame (bounded by max per-user activity) "
        + "plus the 10-row decile frame — never user volume"),
      "q_rolling_volume" -> ("ROWS frame over the observed-day frame "
        + "— time-domain bounded, never event volume"),
      "q_psi" -> ("decile rank cumulative over the distinct n_chars "
        + "value frame — bounded by the value domain, never the corpus"),
      "q_quality_calibration" -> ("decile rank cumulative over the "
        + "distinct-quality frame — bounded by the 6dp value domain, "
        + "never the corpus"),
      "q_vocab_coverage" -> ("cumulatives over the (frequency, "
        + "n_terms) CLASS frame — bounded by the distinct-frequency "
        + "domain (~√N under Zipf), never the vocabulary"),
      "q_rfm" -> ("under-gate oracle regime; past-gate branch "
        + "range-ranks via ops.Ranks.globalNtile (ShuffleRegimeSpec "
        + "parity)"),
      "q_rrf" -> "list ranks over limit(listK=50) frames",
      "q_dim_variance" -> ("cumulative over the d-row dimension "
        + "frame — bounded by the embedding width, never the corpus"),
      "q_theil_sen" -> ("rank over the day-pair slope frame — bounded "
        + "by the observation window squared (time domain), never "
        + "event volume"),
      "q_runs_test" -> ("rank + lag over the zero-filled day grid — "
        + "time-domain bounded, never event volume"),
      "q_cliffs_delta" -> ("pooled cumulative over the distinct-value "
        + "frame — bounded by the value domain, not the corpus"),
      "q_holt" -> ("lag kernel over the daily-count series — bounded "
        + "by the observation window's day count, not the event count"),
      "q_skyline" -> ("running min over the distinct-quality frame — "
        + "bounded by the 6dp value domain, never the corpus"),
      "q_zipf_fit" -> "rank over limit(k) vocab frame",
      "q_pettitt" -> ("prefix sum over the zero-filled day grid — "
        + "time-domain bounded (observation window's day count), "
        + "never event volume"),
      "q_page_hinkley" -> ("running-mean/extrema cumulatives over the "
        + "zero-filled day grid — time-domain bounded, never event "
        + "volume"),
      "q_survival" -> ("risk-set cumulatives over the distinct-"
        + "lifetime frame — bounded by the observation window in "
        + "days, never user or event volume"),
      "q_logrank" -> ("per-arm risk-set cumulatives over the distinct-"
        + "lifetime frame — bounded by the observation window in "
        + "days, never user or event volume"),
      "q_hazard" -> ("risk-set cumulatives over the distinct-lifetime "
        + "frame — bounded by the observation window in days, never "
        + "user or event volume"),
      "q_rm3" -> "rank over the limit(k) final result frame")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val exec = df.queryExecution.executedPlan
      if (!cartesianExempt(name)) {
        val plan = exec.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a cartesian:\n${plan.take(1200)}")
      }
      val unpartitioned = collectUnpartitionedWindows(exec)
      assert(unpartitioned.isEmpty || unpartitionedWindowBounded.contains(name),
        s"$name has an unpartitioned window (single-task at scale) and no " +
          s"documented bound:\n${unpartitioned.headOption.fold("")(_.toString.take(800))}")
    }
  }

  test("composite predicate pushes BOTH filters to one parquet scan") {
    // the composite-index analogue (composite_index_test.rs): label +
    // two property predicates must reach the scan as one conjunctive
    // PushedFilters list on the single backing file, not a post-scan
    // Filter over a wide read
    val df = GraphBuilder.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") > 10)
      .select("c_name")
    // read the scan node's metadata — the plan's toString truncates
    // long PushedFilters lists, hiding the second predicate
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("EqualTo(c_mktsegment,BUILDING)"), pushed)
    assert(pushed.contains("GreaterThan(c_nationkey,10)"), pushed)
  }

  test("materialized sub-frames: trend family + goodTuring re-read NO base table") {
    // goodTuring's N_r frame and the trend kit's day-count frame are
    // localCheckpoint-pinned: the corpus scan + heavy shuffle run
    // exactly once (eagerly, at construction) and every downstream
    // reference reads the checkpointed RDD. A parquet FileScan in the
    // RETURNED plan means a consuming subtree re-derived the base table
    // — the round-11 plan-audit defect (q_good_turing executed its
    // trigram shuffle 3×; q_pettitt's plan carried ≥3 independent
    // events scans).
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.inputPlan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val pinned = Seq("q_good_turing", "q_pettitt", "q_mann_kendall",
      "q_theil_sen", "q_runs_test", "q_kendall_tau", "q_seasonality",
      "q_holt", "q_page_hinkley", "q_survival", "q_logrank", "q_hazard")
    for (name <- pinned) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val scans = fileScans(df.queryExecution.executedPlan)
      assert(scans.isEmpty,
        s"$name: ${scans.length} base-table scan(s) survive in the final " +
          "plan — the single-scan materialization pin regressed")
    }
  }

  test("dupSpans: ONE corpus scan (checkpoint-pinned), no cartesian") {
    // the window stream is localCheckpoint-materialized and feeds BOTH
    // the df aggregate and the join back — a parquet FileScan in the
    // returned plan means a subtree re-derived the corpus (the
    // goodTuring defect class); the run/merge analysis must join on
    // keys, never cross
    def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fileScans(a.inputPlan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val df = SparkEntry.queries("q_dup_spans")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    assert(fileScans(plan).isEmpty,
      "q_dup_spans re-derives the corpus — the checkpoint pin regressed")
    assert(!plan.toString.contains("CartesianProduct"),
      "q_dup_spans plan contains a cartesian product")
  }

  test("label filter prunes a literal-labeled union down to one scan") {
    // The node table is a union of per-table projections with literal
    // labels — this shows Catalyst folds label = 'X' per branch and drops
    // the others, so labeled() reads exactly one parquet file. (Asserted
    // on a fresh mini-union: the graph's own union is cache-substituted
    // in this shared session, which hides the branch structure.)
    val a = GraphBuilder.table(spark, sfDir, "region")
      .select(lit("A").as("label"), col("r_name").as("name"))
    val b = GraphBuilder.table(spark, sfDir, "nation")
      .select(lit("B").as("label"), col("n_name").as("name"))
    val plan = planOf(a.unionByName(b).filter(col("label") === "A"))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n${plan.take(1500)}")
    assert(plan.contains("region.parquet") && !plan.contains("nation.parquet"))
  }

  test("corpus text operators prune the documents scan to used columns") {
    // repetition needs only (doc_id, text): lang/n_chars/embedding-free
    val plan = planOf(graft.pipeline.Corpus.repetition(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(plan.contains("ReadSchema"), plan.take(800))
    assert(!plan.contains("n_chars"), "unused n_chars must be pruned")
    // decontamination splits eval/train before shingling: the doc_id
    // hash predicate (pmod over hash60) must sit BELOW the shingle
    // Generate — plans print parents first, so a post-explode filter
    // would put pmod before the first Generate in the string
    val dplan = planOf(graft.pipeline.Corpus.decontaminate(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(!dplan.contains("CartesianProduct"))
    val gen = dplan.indexOf("Generate")
    val hashFilter = dplan.indexOf("pmod")
    assert(gen >= 0 && hashFilter > gen,
      "eval/train hash filter must be below the shingle explode")
  }

  test("native hash60 runs map-side, before the partial aggregate") {
    val plan = planOf(graft.pipeline.TextOps.fingerprint(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(plan.contains("graft_hash60"), plan.take(1200))
    // the hash projection must sit under partial_min (map-side combine),
    // i.e. hashing happens before the shuffle, not after it
    val hashAt = plan.indexOf("graft_hash60")
    val partialAt = plan.indexOf("partial_min")
    assert(partialAt >= 0 && hashAt > partialAt,
      "hash projection must feed the partial aggregate")
  }

  test("chargrams generator keeps column pruning at the documents scan") {
    // the Generate node must not widen the scan: shingling needs only
    // (doc_id, text), and unrelated wide columns must stay pruned
    val plan = planOf(graft.pipeline.TextOps.shingles(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(plan.contains("graft_chargrams"), plan.take(1200))
    assert(plan.contains("ReadSchema"), plan.take(800))
    assert(!plan.contains("n_chars") && !plan.contains("source"),
      "unused documents columns must be pruned below the gram Generate")
  }

  test("misra-gries sketch aggregates map-side (partial below the exchange)") {
    // the typed Aggregator must run as a partial ObjectHashAggregate on
    // the map side — a final-only aggregation would shuffle the whole
    // term stream instead of k-slot sketches
    val plan = planOf(graft.pipeline.Sketches.heavyHitters(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    val exchangeAt = plan.indexOf("Exchange")
    val partialAt = plan.indexOf("partial_")
    // plans print parents first: final agg, then the exchange, then the
    // map-side partial underneath it
    assert(exchangeAt >= 0 && partialAt > exchangeAt,
      s"partial sketch aggregation must sit below the exchange:\n${plan.take(1500)}")
  }

  test("chained out() traversal joins on the src-partitioned edge table") {
    val graph = GraphBuilder.tpch(spark, sfDir)
    val plan = planOf(graft.ops.GraphQuery
      .fromLabelAndPropIntEq(graph, "Customer", "nationkey", 3L)
      .out("PLACED").count())
    assert(plan.contains("HashAggregate")) // partial agg present
    assert(!plan.toLowerCase.contains("cartesianproduct"))
  }

  test("hll query plans two single-phase aggs — no Expand, no SortAggregate") {
    // mixing the udaf with countDistinct in ONE agg regresses to an
    // Expand + SortAggregate pipeline that reserializes register
    // buffers per row (measured 4.9 s vs 1.8 s at sf0.1) — pin the
    // split-aggregation shape
    val plan = planOf(graft.pipeline.Sketches.hllDistinct(
      graft.streaming.EventStreams.eventsTable(spark, sfDir)))
    // the countDistinct side keeps the standard multi-distinct Expand
    // over plain counts (HashAggregate); what must never return is a
    // SortAggregate carrying the register-buffer udaf
    assert(!plan.contains("SortAggregate"), plan.take(1500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("chunkDocs shuffles only for the output ordering, never the data") {
    val df = graft.pipeline.Corpus.chunkDocs(
      GraphBuilder.table(spark, sfDir, "documents"))
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one range exchange for the deterministic orderBy; the
    // sequence+substr explode itself is a pure per-row map
    assert(exchanges.length <= 1, s"expected <= 1 exchange:\n${exchanges.mkString("\n")}")
  }

  test("weightedSample ranks via bounded TopK — no Window over the corpus") {
    val plan = planOf(graft.pipeline.Sketches.weightedSample(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
  }

  test("dsirWeights: top-k via TakeOrdered, bucket log-ratios broadcast") {
    val plan = planOf(graft.pipeline.Corpus.dsirWeights(
      GraphBuilder.table(spark, sfDir, "documents")))
    // the corpus-wide rank is a bounded TakeOrdered — the only Window
    // in the plan numbers the k collected rows, never the corpus
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // the dim-row log-ratio table joins the token stream broadcast
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("fuzzyMatch prunes the part scan to the name column") {
    val plan = planOf(graft.pipeline.Dedup.fuzzyMatch(
      GraphBuilder.table(spark, sfDir, "part"), "p_name"))
    assert(plan.contains("ReadSchema: struct<p_name:"), plan.take(2000))
    assert(!plan.contains("p_retailprice"), "unused part columns must be pruned")
    assert(!plan.contains("CartesianProduct"))
  }

  test("edgeSupport fused plan: adjacency broadcast, no cartesian") {
    // under the cost gate the fused plan must BROADCAST the adjacency
    // onto the edge frame — a shuffle join here moves Σ deg² bytes
    // (each node's array once per incident edge), the round-14
    // build:edge_jaccard cost
    val co = graft.graph.DerivedGraphs.partCooccur(spark, sfDir)
    val plan = planOf(algorithms.Structure.edgeJaccard(co))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    // past the gates, the closure plan also stays cartesian-free
    val shuf = graft.algorithms.Tuning.withBroadcastThreshold(0) {
      planOf(algorithms.Structure.edgeJaccard(co))
    }
    assert(!shuf.contains("CartesianProduct"))
  }

  test("focal link prediction never shuffles the edge frame to make wedges") {
    // the first shuffle in the plan must be the candidate groupBy —
    // wedge enumeration rides broadcast joins of the focal adjacency
    val sym = graft.graph.DerivedGraphs.sym(
      graft.graph.DerivedGraphs.partCooccur(spark, sfDir))
    val focal = GraphBuilder.table(spark, sfDir, "part")
      .select((lit(GraphBuilder.PartTag * GraphBuilder.TAG) +
        col("p_partkey")).as("id"))
      .filter(col("id") <= GraphBuilder.PartTag * GraphBuilder.TAG + 200L)
    val df = algorithms.LinkPrediction.scores(sym, Some(focal))
    val plan = planOf(df)
    // wedge joins broadcast; SortMergeJoin would mean the 2|E| frame
    // was shuffled on w
    val beforeAgg = plan.substring(0, math.max(plan.indexOf("HashAggregate"), 0))
    assert(!beforeAgg.contains("SortMergeJoin"),
      s"edge frame shuffled before the candidate agg:\n${plan.take(2000)}")
  }

  test("cube plans ONE Expand pass, not a per-granularity re-scan") {
    val plan = planOf(graft.pipeline.Corpus.sourceLangCube(
      GraphBuilder.table(spark, sfDir, "documents")))
    assert(plan.contains("Expand"), plan.take(1500))
    // one source scan feeds the expand — not four
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("pivot with pinned values plans no Expand and no distinct-values pass") {
    val events = graft.streaming.EventStreams.eventsTable(spark, sfDir)
    val plan = planOf(graft.streaming.EventStreams.eventTypePivot(events))
    assert(!plan.contains("Expand"), plan.take(1500))
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      "pinned pivot values must not trigger a distinct-values scan")
  }

  test("zorderStats broadcasts the 4-value extent into codegen arithmetic") {
    val plan = planOf(graft.ops.ZOrder.zorderStats(
      GraphBuilder.table(spark, sfDir, "lineitem"),
      "l_partkey", "l_suppkey", 8, 6))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // quantize+interleave is pure projection arithmetic — no window,
    // no extra shuffle between the scan and the bucket aggregate
    assert(!plan.contains("Window"), plan.take(1500))
    // lineitem scan pruned to the two key columns
    assert(plan.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      plan.take(2000))
  }

  test("hybridRrf broadcasts stats/df/cf — the token stream never re-shuffles for them") {
    val plan = planOf(graft.pipeline.Corpus.hybridRrf(
      GraphBuilder.table(spark, sfDir, "documents"),
      Seq("spark", "query", "join", "vector")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("source audit: only Tuning.scala reads the broadcast threshold") {
    // Every regime decision goes through Tuning.fits / fitsProduct /
    // broadcastIfFits; a kernel comparing against the raw threshold is
    // a gate the one-module contract no longer sees.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 20, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def code(p: java.nio.file.Path): String = java.nio.file.Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val readers = files.filter(p => code(p).contains("broadcastThreshold"))
      .map(_.getFileName.toString)
    assert(readers == List("Tuning.scala"), readers)
  }

  test("source audit: .rdd only in LocalGraph.scala and Paths.scala") {
    // Driver twins load their graph through LocalGraph.load; Paths'
    // allShortestPathsLocal carries a string column the packed collect
    // does not take.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/algorithms"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 10, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def code(p: java.nio.file.Path): String = java.nio.file.Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val users = files.filter(p => code(p).contains(".rdd"))
      .map(_.getFileName.toString).sorted
    assert(users == List("LocalGraph.scala", "Paths.scala"), users)
  }

  test("source audit: no TrieMap outside Memo.scala and the constraint store") {
    // Every shared build goes through graft.graph.Memo, whose clear()
    // is the one release; Constraints' map is a constraint store.
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 20, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def code(p: java.nio.file.Path): String = java.nio.file.Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val users = files.filter(p => code(p).contains("TrieMap"))
      .map(_.getFileName.toString).sorted
    assert(users == List("Constraints.scala", "Memo.scala"), users)
  }

  test("source audit: every graph a Cypher write returns has its written tables checkpointed") {
    // Mutations' kernels stack their edit on the current frames; only
    // `mutate` calls them (through `stacked`) and it checkpoints every
    // table they wrote, so a write session never stacks plans.
    import scala.jdk.CollectionConverters._
    def code(p: java.nio.file.Path): String = java.nio.file.Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val path = java.nio.file.Paths.get("src/main/scala/graft/cypher/Mutations.scala")
    val src = code(path)
    def body(name: String): String = {
      val at = src.indexOf(s"def $name(")
      assert(at >= 0, name)
      // up to the next member of the object
      src.substring(at, Seq("\n  def ", "\n  private ", "\n  final ", "\n}")
        .map(src.indexOf(_, at + 1)).filter(_ > 0).min)
    }
    val public = "(?m)^  def (\\w+)\\([^=]*?\\): PropertyGraph =".r
      .findAllMatchIn(src).map(_.group(1)).toList.sorted
    assert(public == List("apply", "applyChecked", "mutate"), public)
    assert(Seq("apply", "applyChecked").forall(body(_).contains("mutate(")))
    assert(body("mutate").contains("Probe.checkpointSized("))
    // the kernels' one entry is `stacked`, called by `mutate` alone
    val callers = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => "stacked\\(".r.findAllMatchIn(code(p)).map(m => (p, m.start))).toList
    val inMutate = src.indexOf(body("mutate"))
    val outside = callers.filterNot { case (p, i) =>
      p.endsWith(path) && (src.startsWith("def stacked(", i - 4) ||
        (i > inMutate && i < inMutate + body("mutate").length))
    }
    assert(callers.size == 2 && outside.isEmpty, outside)
  }

  test("source audit: the checkpoint-stats shim is the only main source under org.apache.spark.sql") {
    // Spark-internal access (LogicalRDD's statistics) stays in one file,
    // reached through graft.algorithms.Probe.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/org")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toList
    assert(files == List("src/main/scala/org/apache/spark/sql/graftshim/CheckpointStats.scala"), files)
  }
}
