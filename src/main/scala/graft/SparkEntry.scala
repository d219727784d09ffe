package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{DerivedGraphs, GraphBuilder, Memo, PropertyGraph}
import graft.graph.GraphBuilder.{TAG, CustomerTag, PartTag}
import graft.ops.GraphQuery
import graft.algorithms.{Centrality, Community, Structure, Traversal}
import graft.cypher.Cypher
import graft.pipeline.{Corpus, Dedup, Similarity, TextOps}
import graft.streaming.{EventStreams, Trend}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY.md §2, expressed
  * through the graft API over the property graph derived from the
  * TPC-H-ish testdata (SURVEY.md §3). `oracleSql` holds the equivalent
  * DuckDB SQL over the same parquet files.
  */
object SparkEntry {

  private def g(spark: SparkSession, dir: String): PropertyGraph =
    GraphBuilder.tpch(spark, dir)

  /** PPR restart set (nations 0, 7, 13) — shared by the Spark query
    * and its oracle so the two can never drift. */
  private val pprSources: Seq[Long] = Seq(0L, 7L, 13L)
    .map(GraphBuilder.NationTag * GraphBuilder.TAG + _)

  /** The hashed shingle stream (doc_id, ha, hb) feeds minhash, simhash
    * AND the jaccard verifier — persist it once per (session, sfDir) so
    * the substring scan + 2 md5/shingle run once, not once per operator.
    * (An earlier measured note rejected sharing *pre-distincted raw
    * shingles* — the distinct shuffle cost more than it saved; sharing
    * the un-distincted hashed stream has no such shuffle.) Minhash
    * candidate pairs are likewise the input of two queries — compute
    * once. */
  private def hashedShinglesCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "hashed_shingles")(
      Dedup.hashedShingles(GraphBuilder.table(s, d, "documents")).persist())
  /** k=16 MinHash signature frame — consumed by build:minhash_pairs,
    * q_banding_curve AND q_minhash_audit (round 15: each rebuilt it
    * from the hashed stream); |docs| rows × 17 longs, materialized via
    * localCheckpoint inside the first consumer (build:minhash_pairs in
    * bench order, so attribution stays with the build row). */
  private def minhashSigsCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "minhash_sigs")(
      Dedup.minhashSignatures(GraphBuilder.table(s, d, "documents"), 16,
        Some(hashedShinglesCached(s, d))).localCheckpoint())
  private def minhashPairsCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "minhash_pairs")(
      Dedup.minhashPairs(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)),
        sigsIn = Some(minhashSigsCached(s, d))).persist())
  private def winnowCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "winnow_fp")(
      TextOps.winnow(GraphBuilder.table(s, d, "documents")).persist())
  /** The capped winnow-pair join is consumed by q_winnow_pairs AND the
    * q_containment candidate union — one computation, one build row. */
  private def winnowPairsCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "winnow_pairs")(
      TextOps.winnowPairs(GraphBuilder.table(s, d, "documents"),
        fpIn = Some(winnowCached(s, d))).persist())
  /** The three media pair graphs (synthetic near-dup corpora over real
    * PNG/WAV/AVI payloads) — shared by the cluster report
    * (q_media_clusters) and the flagship's cluster-canonical media gate
    * (q_training_mix_mm). Memo-persisted per modality: the payload
    * synthesis + decode is the dominant cost and would otherwise run
    * once per consuming query (a build:media_pairs pseudo-row times the
    * materialization explicitly). */
  private def mediaPairsCached(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    def docs = GraphBuilder.table(s, d, "documents")
    Seq(
      "image" -> Memo(s, d, "media_pairs", "image")(
        pipeline.Multimodal.imageDedupPairs(
          pipeline.Multimodal.syntheticImageCorpus(docs, "doc_id"), 3).persist()),
      "audio" -> Memo(s, d, "media_pairs", "audio")(
        pipeline.Multimodal.audioDedupPairs(
          pipeline.Multimodal.syntheticAudioCorpus(docs, "doc_id"), 3).persist()),
      "video" -> Memo(s, d, "media_pairs", "video")(
        pipeline.Multimodal.hammingPairs64(
          videoHashesCached(s, d), "media_id", "vhash", 3).persist()))
  }

  /** The synthesized clip corpus and its first-frame fingerprint frame
    * are each consumed by MULTIPLE queries (the video pair build,
    * q_cross_modal_dedup's video side, the poster-still synthesis) —
    * memo both so the session pays the payload synthesis once and the
    * container decode once, not once per consumer. */
  private def videoCorpusCached(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[pipeline.Multimodal.MediaRow] =
    Memo(s, d, "video_corpus")(
      pipeline.Multimodal.syntheticVideoCorpus(
        GraphBuilder.table(s, d, "documents"), "doc_id").persist())
  private def videoHashesCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "video_hashes")(
      pipeline.Multimodal.videoHashes(videoCorpusCached(s, d)).persist())

  /** Per-modality media cluster MEMBERSHIP (the dual-regime CC over
    * the cached pair graphs) — consumed by q_media_clusters AND
    * q_training_mix_mm's cluster-canonical drop set: one CC per
    * modality per session, not per consumer. */
  private def mediaMembershipCached(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    mediaPairsCached(s, d).map { case (m, p) =>
      m -> Memo(s, d, "media_cc", m)(
        Corpus.clusterMembership(p).persist())
    }

  /** The per-edge neighborhood-Jaccard frame feeds BOTH q_edge_jaccard
    * (the per-edge table) and q_local_bridges (its one-row summary) —
    * one sorted-adjacency intersect pass over the co-occur graph. */
  private def edgeJaccardCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "edge_jaccard")(
      // partCooccur is canonical (distinct a<b) and session-persisted —
      // assumeDistinct skips the kernel's re-distinct shuffle+checkpoint
      algorithms.Structure.edgeJaccard(DerivedGraphs.partCooccur(s, d),
        assumeDistinct = true).persist())

  /** Whole-vector integer-quantized exploded embeddings (scale 1000)
    * + the k=8/iters=3/probeMax=10 IVF centroids over them —
    * q_ann_ivf_exact and q_silhouette run the IDENTICAL k-means (same
    * seed rule, same (dist, cid) ties, same truncated integer means:
    * spec-pinned), and q_ann_ivfpq / q_pq_recall's brute-force arm
    * read the same integer frame: one explode + one k-means per
    * session instead of four explodes + two k-means (round 15). */
  private def ivfKmeansCached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val iv = Memo(s, d, "ivf_int")(
      Similarity.intExploded(GraphBuilder.table(s, d, "embeddings"), 1000)
        .localCheckpoint())
    val ct = Memo(s, d, "ivf_kmeans")(
      Similarity.ivfKmeans(iv, 8, 3, 10L))
    (iv, ct)
  }

  /** PQ subspace frame (m=8, scale 1000) + its ksub=4/iters=2 codebook
    * — the identical (iv, codebook) build q_ann_pq, q_pq_recall and
    * q_pq_error each re-ran per query (round 15): one build per
    * session, one build:pq_codebook row times it. */
  private def pqCodebookCached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val iv = Memo(s, d, "pq_int")(
      Similarity.pqExploded(GraphBuilder.table(s, d, "embeddings"), 8, 1000)
        .localCheckpoint())
    val ct = Memo(s, d, "pq_codebook")(
      Similarity.pqCodebook(iv, 8, 4, 2, 10L))
    (iv, ct)
  }

  /** The training-mix TEXT-gate survivor frame (langId ∧ quality ∧
    * ¬dup ∧ ¬contaminated ∧ ¬eval-slice) — consumed by q_training_mix
    * AND q_training_mix_mm: the gates run once per session. */
  private def mixSurvivorsCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "mix_gates")(
      Corpus.mixTextSurvivors(GraphBuilder.table(s, d, "documents")).persist())

  /** The stride-1 duplicated-span frames (window stream + merged span
    * set) feed BOTH q_dup_spans (report) and q_strip_dup_spans (apply)
    * — one token-explode + document-frequency + window pass, not two. */
  private def dupSpanFramesCached(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo(s, d, "dup_spans") {
      val (wins, spans) = Corpus.dupSpanFrames(GraphBuilder.table(s, d, "documents"))
      (wins, spans.persist())
    }

  /** Per-doc shingle-set arrays feed BOTH pair-scoring ops
    * (q_ngram_jaccard, q_containment) — one collect_set pass. */
  private def shingleArraysCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "shingle_arrays")(
      Dedup.shingleArrays(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d))).persist())

  /** The BPE vocabulary segmentation feeds q_bpe_apply AND the
    * fertility metric — one merge-stat pass + one apply, one build
    * row. */
  private def bpeSegCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "bpe_seg")(
      Corpus.bpeApply(GraphBuilder.table(s, d, "documents")).persist())

  /** Per-node triangle counts feed q_triangles (corner sum / 3) and
    * q_clustering — the wedge close behind them is the most expensive
    * derived frame, so materialize the |V|-bounded counts once per
    * (session, sfDir). Dual-regime inside trianglesPerNode: local
    * count under the driver gate, distributed enumeration past it. */
  private def triangleCountsCached(s: SparkSession, d: String): DataFrame =
    Memo(s, d, "triangles")(
      Structure.trianglesPerNode(DerivedGraphs.partCooccur(s, d)).persist())

  /** The shared derived-frame builds, exposed so Bench can time each
    * as an explicit `build:*` pseudo-row. Without this the
    * alphabetically-first consumer of each cache absorbs its build
    * cost (q_containment once absorbed BOTH the minhash and winnow
    * builds), and per-query rows need attribution prose to compare
    * round over round. Each entry materializes its memo. A build that
    * reads another resolves it through the memo whatever the order, so
    * the order only decides which row pays a shared dependency's cost
    * (hashed_shingles before minhash_pairs, part_cooccur before
    * triangles). */
  def sharedBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "build:hashed_shingles" -> ((s, d) => hashedShinglesCached(s, d)),
    "build:minhash_pairs" -> ((s, d) => minhashPairsCached(s, d)),
    "build:winnow_fp" -> ((s, d) => winnowCached(s, d)),
    "build:winnow_pairs" -> ((s, d) => winnowPairsCached(s, d)),
    "build:shingle_arrays" -> ((s, d) => shingleArraysCached(s, d)),
    // part co-occurrence graph: memo-persisted, consumed by the
    // triangle build below plus q_label_prop and q_link_predict —
    // ordered BEFORE build:triangles so each row times its own work
    "build:part_cooccur" -> ((s, d) => DerivedGraphs.partCooccur(s, d)),
    // per-edge neighborhood Jaccard over the co-occur graph: consumed
    // by q_edge_jaccard AND q_local_bridges
    "build:edge_jaccard" -> ((s, d) => edgeJaccardCached(s, d)),
    "build:bpe_seg" -> ((s, d) => bpeSegCached(s, d)),
    "build:triangles" -> ((s, d) => triangleCountsCached(s, d)),
    // stride-1 duplicated-span frames: consumed by q_dup_spans AND
    // q_strip_dup_spans (returning spans materializes wins too — the
    // window stream is checkpointed eagerly inside dupSpanFrames)
    "build:dup_spans" -> ((s, d) => dupSpanFramesCached(s, d)._2),
    // the three media pair graphs (synthesis + decode dominate):
    // consumed by q_media_clusters, q_training_mix_mm AND the
    // per-modality dedup histograms; the video side rides the memoized
    // corpus + fingerprint frames that q_cross_modal_dedup also reads
    "build:media_pairs" -> ((s, d) =>
      mediaPairsCached(s, d).map { case (m, p) =>
        p.select(lit(m).as("modality"), col("a"), col("b"))
      }.reduce(_ unionByName _)),
    // per-modality CC membership over the pair graphs: consumed by
    // q_media_clusters AND q_training_mix_mm's drop set
    "build:media_cc" -> ((s, d) =>
      mediaMembershipCached(s, d).map { case (m, ms) =>
        ms.select(lit(m).as("modality"), col("id"), col("rep_id"))
      }.reduce(_ unionByName _)),
    // training-mix text-gate survivors: consumed by q_training_mix AND
    // q_training_mix_mm
    "build:mix_gates" -> ((s, d) => mixSurvivorsCached(s, d)),
    // integer embedding frame + IVF k-means centroids: consumed by
    // q_ann_ivf_exact, q_silhouette, q_ann_ivfpq, q_pq_recall
    "build:ivf_kmeans" -> ((s, d) => ivfKmeansCached(s, d)._2),
    // PQ subspace frame + codebook: consumed by q_ann_pq, q_pq_recall,
    // q_pq_error
    "build:pq_codebook" -> ((s, d) => pqCodebookCached(s, d)._2))

  /** Release every shared build the library memoizes — the TPC-H
    * graph, the derived graphs and the frames above, for every session
    * and sf dir — by clearing the one registry, [[graft.graph.Memo]]:
    * persisted frames are unpersisted and the session references
    * dropped. For in-process session recycling. */
  def clearCaches(): Unit = Memo.clear()

  private val P = GraphBuilder.oraclePreamble

  /** Mixing weights for q_mix_sample — ordered so the oracle's CASE
    * chain is deterministic; zh exercises the unlisted→0 default and
    * 0.29 exercises the integerized-threshold boundary (0.29·10000 is
    * not exact in an IEEE double — both engines must compare the
    * precomputed long, ADVICE r4). */
  private val mixWeights: Seq[(String, Double)] =
    Seq("en" -> 1.0, "de" -> 0.5, "es" -> 0.29, "fr" -> 0.1)

  /** Flagship: customers + account balance rolled up to region via
    * 2-hop IN_NATION/IN_REGION traversal. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val graph = g(spark, "/root/testdata/sf0.001")
    val inNation = graph.outEdges("IN_NATION")
    val inRegion = graph.outEdges("IN_REGION")
    val regions = graph.labeled("Region").select(col("id"), col("name"))
    graph.labeled("Customer")
      .select(col("id").as("cust"), col("acctbal"))
      .join(inNation.select(col("src").as("cust"), col("dst").as("nat")), "cust")
      .join(inRegion.select(col("src").as("nat"), col("dst").as("id")), "nat")
      .join(broadcast(regions), "id")
      .groupBy(col("name").as("region"))
      .agg(count(lit(1)).as("customers"), round(sum(col("acctbal")), 4).as("acctbal"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 graph model ----
    "q_graph_nodes" -> ((s, d) =>
      g(s, d).nodes.groupBy("label").agg(count(lit(1)).cast("bigint").as("cnt"))),
    "q_graph_edges" -> ((s, d) =>
      g(s, d).edges.groupBy("rel_type").agg(count(lit(1)).cast("bigint").as("cnt"))),
    "q_graph_summary" -> ((s, d) => g(s, d).summary),
    "q_degree" -> ((s, d) =>
      g(s, d).degrees.join(g(s, d).labeled("Nation").select("id", "name"), "id")
        .select(col("id"), col("name"), col("out_degree"), col("in_degree"), col("degree"))),
    // degree distribution: the power-law fingerprint of the whole graph
    // (isolated nodes land in the 0 bucket); one count + one re-count
    "q_degree_dist" -> ((s, d) =>
      g(s, d).degrees.groupBy("degree")
        .agg(count(lit(1)).cast("long").as("n_nodes"))
        .orderBy("degree")),
    "q_hill_tail" -> ((s, d) =>
      algorithms.Structure.hillTailIndex(g(s, d).degrees)),
    "q_degree_anonymity" -> ((s, d) =>
      algorithms.Structure.degreeAnonymity(g(s, d).nodes, g(s, d).edges)),

    // ---- §2.2 chained query API ----
    "q_label_scan" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Customer").collectNodes("id", "name", "mktsegment")),
    "q_prop_eq" -> ((s, d) =>
      GraphQuery.fromLabelAndPropEq(g(s, d), "Customer", "mktsegment", "BUILDING")
        .collectNodes("id", "name", "acctbal")),
    "q_prop_gt" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Part").wherePropIntGt("psize", 40)
        .collectNodes("id", "name", "psize")),
    // range-index lookups (index_advanced.rs:362 greater_or_equal,
    // :470 range) — same pushdown contract as q_prop_gt
    "q_prop_ge" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Part").wherePropIntGe("psize", 45)
        .collectNodes("id", "name", "psize")),
    "q_prop_between" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Part").wherePropIntBetween("psize", 10, 15)
        .collectNodes("id", "name", "psize")),
    "q_out" -> ((s, d) =>
      GraphQuery.fromLabelAndPropIntEq(g(s, d), "Customer", "nationkey", 3L)
        .out("PLACED").count()),
    "q_in" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Part").wherePropIntGt("psize", 45)
        .in("CONTAINS").count()),
    "q_var_length" -> ((s, d) =>
      GraphQuery.fromLabelAndPropIntEq(g(s, d), "Customer", "nationkey", 1L)
        .outVariableLength(1, 2, "PLACED", "CONTAINS")
        .df.groupBy("label").agg(count(lit(1)).cast("bigint").as("cnt"))),
    "q_distinct" -> ((s, d) =>
      GraphQuery.fromLabelAndPropIntEq(g(s, d), "Customer", "nationkey", 3L)
        .out("PLACED").out("CONTAINS").distinct().count()),
    "q_order_page" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Customer")
        .orderBy("acctbal", ascending = false).skip(5).limit(10)
        .collectNodes("id", "name", "acctbal")),
    "q_count" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Customer").count()),
    "q_sum_avg" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Part").df
        .agg(sum(col("psize")).cast("bigint").as("sum_val"),
             round(avg(col("psize").cast("double")), 6).as("avg_val"))),
    "q_percentile" -> ((s, d) =>
      GraphQuery.fromLabel(g(s, d), "Customer").percentileCont("acctbal", 0.5)),
    "q_stats" -> ((s, d) =>
      // sample stdev/variance, as the reference query builder (query.rs:586)
      GraphQuery.fromLabel(g(s, d), "Customer").df
        .agg(round(stddev_samp(col("acctbal")), 6).as("stdev_val"),
             round(var_samp(col("acctbal")), 4).as("variance_val"))),

    // ---- §2.4 graph algorithms ----
    "q_reachable" -> ((s, d) => {
      val seed = s.range(1).select(lit(CustomerTag * TAG + 1L).as("id"))
      Traversal.bfsDistances(g(s, d).undirectedEdges, seed, 3)
    }),
    "q_shortest_path" -> ((s, d) => {
      val seed = s.range(1).select(lit(PartTag * TAG + 1L).as("id"))
      val es = DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d))
      Traversal.bfsDistances(es, seed, 3)
    }),
    "q_weighted_path" -> ((s, d) => {
      val seed = s.range(1).select(lit(CustomerTag * TAG + 1L).as("id"))
      Traversal.bellmanFord(g(s, d).undirectedEdges, seed, 4)
        .select(col("id"), round(col("dist"), 4).as("dist"))
    }),
    "q_degree_centrality" -> ((s, d) => {
      val graph = g(s, d)
      Centrality.degreeCentrality(graph.nodes, graph.edges)
        .select(col("id"), round(col("centrality"), 9).as("centrality"))
    }),
    "q_betweenness" -> ((s, d) => {
      val graph = g(s, d)
      val labels = Seq("Customer", "Supplier", "Nation", "Region")
      val ns = graph.nodes.filter(col("label").isin(labels: _*))
      val es = graph.edges.filter(col("rel_type").isin("IN_NATION", "IN_REGION"))
      Centrality.betweenness(ns, es, 3)
        .filter(col("bc") > 0)
        .select(col("id"), round(col("bc"), 9).as("bc"))
    }),
    "q_betweenness_sampled" -> ((s, d) => {
      // Brandes–Pich estimator: 500 hash-picked sources, scaled by n/k —
      // the scale path (state O(k·n) instead of O(n·reach)).
      val graph = g(s, d)
      val labels = Seq("Customer", "Supplier", "Nation", "Region")
      val ns = graph.nodes.filter(col("label").isin(labels: _*))
      val es = graph.edges.filter(col("rel_type").isin("IN_NATION", "IN_REGION"))
      Centrality.betweennessSampled(ns, es, 3, 500)
        .filter(col("bc") > 0)
        .select(col("id"), round(col("bc"), 9).as("bc"))
    }),
    "q_components" -> ((s, d) => {
      val graph = g(s, d)
      val labels = Seq("Customer", "Supplier", "Nation", "Region")
      val ns = graph.nodes.filter(col("label").isin(labels: _*))
      val es = graph.edges.filter(col("rel_type").isin("IN_NATION", "IN_REGION"))
      val symEs = es.select("src", "dst").unionByName(
        es.select(col("dst").as("src"), col("src").as("dst")))
      Community.connectedComponents(ns, symEs, 10)
        .groupBy("component").agg(count(lit(1)).cast("bigint").as("size"))
    }),
    "q_scc" -> ((s, d) =>
      Community.scc(DerivedGraphs.tradeNodes(s, d), DerivedGraphs.nationTrade(s, d))
        .groupBy("scc_id").agg(count(lit(1)).cast("bigint").as("size"))),
    "q_scc_large" -> ((s, d) =>
      // SCC size distribution on the ~600×-bigger order-ring graph: the
      // scale proof for the coloring kernel (bounded ring length ⇒ fixed
      // round count at any row count).
      Community.scc(DerivedGraphs.orderRingNodes(s, d), DerivedGraphs.orderRing(s, d))
        .groupBy("scc_id").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").cast("bigint").as("size"))
        .agg(count(lit(1)).cast("bigint").as("n_sccs"))),
    "q_simple_paths" -> ((s, d) =>
      algorithms.Paths.simplePaths(DerivedGraphs.nationTrade(s, d),
        GraphBuilder.NationTag * TAG + 9L, GraphBuilder.NationTag * TAG + 3L, 4)),
    "q_dfs_order" -> ((s, d) =>
      // top-k trade graph: the 1.5x-mean-gated one is empty at sf0.1
      // (and root-only at sf0.01), which made this check vacuous
      Traversal.dfsOrder(DerivedGraphs.nationTradeTop(s, d),
        GraphBuilder.NationTag * TAG + 0L)),
    "q_astar" -> ((s, d) => {
      // Derived integer grid: nation key k at (k mod 5, k div 5), edge
      // weight = endpoint manhattan distance — ≥ both heuristics, so A*
      // is admissible and must return the Dijkstra answer either way.
      val coords = GraphBuilder.table(s, d, "nation")
        .select((lit(GraphBuilder.NationTag * TAG) + col("n_nationkey")).as("id"),
          (col("n_nationkey") % 5).cast("double").as("x"),
          floor(col("n_nationkey") / 5).cast("double").as("y"))
      val we = DerivedGraphs.nationTradeTop(s, d)
        .join(coords.select(col("id").as("src"), col("x").as("ax"), col("y").as("ay")), Seq("src"))
        .join(coords.select(col("id").as("dst"), col("x").as("bx"), col("y").as("by")), Seq("dst"))
        .select(col("src"), col("dst"),
          (abs(col("ax") - col("bx")) + abs(col("ay") - col("by"))).as("weight"))
      val a = GraphBuilder.NationTag * TAG + 9L
      val b = GraphBuilder.NationTag * TAG + 3L
      Seq("euclidean", "manhattan").map { hr =>
        Traversal.aStar(we, coords, a, b, 12, hr)
          .select(lit(hr).as("heuristic"), col("path"),
            round(col("cost"), 4).as("cost"))
      }.reduce(_ unionByName _)
    }),
    "q_all_shortest" -> ((s, d) =>
      algorithms.Paths.allShortestPaths(
        DerivedGraphs.nationTrade(s, d).withColumn("rel_type", lit("TRADES")),
        GraphBuilder.NationTag * TAG + 9L, GraphBuilder.NationTag * TAG + 3L, 6)),
    "q_pagerank" -> ((s, d) => {
      val graph = g(s, d)
      Community.pageRank(graph.nodes, graph.edges, 0.85, 10)
        .select(col("id"), round(col("rank"), 8).as("rank"))
    }),
    "q_kcore" -> ((s, d) => {
      val es = DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d))
      val core = Structure.kcoreMembers(es, 80, 10)
      Structure.inducedDegrees(es, core)
    }),
    "q_core_numbers" -> ((s, d) =>
      // h-index depth measured: 19 rounds at sf0.01, 38 at sf0.1 — the
      // 48 cap covers both with margin and matches the oracle unroll
      // (iterations past the fixpoint are no-ops, so any count ≥ depth
      // agrees).
      Structure.coreNumbers(
        DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d)), 48)),
    "q_louvain" -> ((s, d) =>
      // Node universe = every part, so parts in no order survive as
      // singleton communities (the reference's all-nodes sweep).
      Community.louvain(
        GraphBuilder.table(s, d, "part")
          .select((lit(PartTag * TAG) + col("p_partkey")).as("id")),
        DerivedGraphs.sym(DerivedGraphs.partCooccurAll(s, d)), 1)),
    // the full multi-level loop (3 move+coarsen levels) the reference's
    // single pass is level 1 of; same node universe / edge multigraph
    "q_louvain_multi" -> ((s, d) =>
      Community.louvainMulti(
        GraphBuilder.table(s, d, "part")
          .select((lit(PartTag * TAG) + col("p_partkey")).as("id")),
        DerivedGraphs.sym(DerivedGraphs.partCooccurAll(s, d)), 3)),
    // depth 24 = n-1 on the 25-node graph, a hard eccentricity bound;
    // levels past the true fixpoint are empty no-ops in both engines
    "q_closeness" -> ((s, d) =>
      Centrality.closeness(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 24)),
    "q_eccentricity" -> ((s, d) =>
      Centrality.eccentricity(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 24)),
    "q_diameter" -> ((s, d) =>
      Centrality.graphDiameter(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 24)),
    "q_layout_circle" -> ((s, d) =>
      graph.GraphViz.circleLayout(DerivedGraphs.tradeNodes(s, d))),
    "q_subgraph" -> ((s, d) =>
      graph.GraphViz.neighborhoodView(DerivedGraphs.nationTradeTop(s, d),
        GraphBuilder.NationTag * TAG + 3L, 2)),
    "q_layout_layers" -> ((s, d) =>
      graph.GraphViz.hierarchicalLayout(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeWeighted(s, d)
          .select(col("a").as("src"), col("b").as("dst")), 24)),
    "q_assortativity" -> ((s, d) =>
      algorithms.Structure.assortativity(DerivedGraphs.partCooccur(s, d))),
    // weighted trade graph oriented small→large nation id: acyclic by
    // construction, so the relaxation certifies DAG-ness as it runs.
    // Depth bound on 25 nodes is 24 relax rounds; the kernel needs one
    // extra zero-improvement round to confirm the fixpoint → cap 25.
    // The oracle unrolls exactly 24 (its unroll needs no confirmation
    // round and iterations past the fixpoint are idempotent).
    "q_topo_layers" -> ((s, d) =>
      algorithms.Dag.topoLayers(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeWeighted(s, d)
          .select(col("a").as("src"), col("b").as("dst"), col("w")), 25)),
    "q_critical_path" -> ((s, d) =>
      algorithms.Dag.criticalPath(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeWeighted(s, d)
          .select(col("a").as("src"), col("b").as("dst"), col("w")), 25)),
    "q_simrank" -> ((s, d) =>
      algorithms.SimRank.simRank(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 5)),
    "q_katz" -> ((s, d) =>
      Centrality.katz(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 8)),
    "q_eigenvector" -> ((s, d) =>
      Centrality.eigenvector(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 12)),
    "q_anf" -> ((s, d) => {
      val sym = DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d))
      algorithms.Anf.neighborhoodFunction(
        sym.select(col("src").as("id")).distinct(), sym)
    }),
    // homophily of co-purchase by brand: do parts co-occur with their
    // own brand more than degree chance predicts?
    "q_modularity" -> ((s, d) =>
      algorithms.Structure.modularity(DerivedGraphs.partCooccur(s, d),
        GraphBuilder.table(s, d, "part")
          .select((lit(PartTag * TAG) + col("p_partkey")).as("id"),
            col("p_brand").as("g")))),
    // conductance of the same brand partition: how leaky is each
    // brand's co-purchase neighborhood
    "q_conductance" -> ((s, d) =>
      algorithms.Structure.conductance(DerivedGraphs.partCooccur(s, d),
        GraphBuilder.table(s, d, "part")
          .select((lit(PartTag * TAG) + col("p_partkey")).as("id"),
            col("p_brand").as("g")))),
    "q_reciprocity" -> ((s, d) =>
      algorithms.Structure.reciprocity(DerivedGraphs.nationTrade(s, d))),
    "q_weighted_pagerank" -> ((s, d) =>
      Community.weightedPageRank(DerivedGraphs.tradeNodes(s, d),
          DerivedGraphs.nationTradeAll(s, d), 0.85, 10)
        .select(col("id"), round(col("rank"), 8).as("rank"))),
    "q_rich_club" -> ((s, d) =>
      algorithms.Structure.richClub(DerivedGraphs.partCooccur(s, d))),
    "q_edge_jaccard" -> ((s, d) => edgeJaccardCached(s, d)),
    // hub-capped production variant (exact on the induced deg ≤ 150
    // subgraph) + its audit frame — the squareCountCapped discipline
    // at the edge level; cap ≥ max degree ≡ exact is spec-pinned
    "q_edge_jaccard_capped" -> ((s, d) =>
      algorithms.Structure.edgeJaccard(DerivedGraphs.partCooccur(s, d),
        maxDeg = 150L, assumeDistinct = true)),
    "q_edge_hubs" -> ((s, d) =>
      algorithms.Structure.degreeHubs(DerivedGraphs.partCooccur(s, d), 150L)
        .orderBy("id")),
    "q_ktruss" -> ((s, d) => {
      val tt = DerivedGraphs.nationTradeTop(s, d)
      algorithms.Structure.kTruss(
        tt.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct(), k = 4)
    }),
    "q_neighbor_agg" -> ((s, d) => {
      val tt = DerivedGraphs.nationTradeTop(s, d)
      val tn = DerivedGraphs.tradeNodes(s, d)
      val odeg = tt.groupBy(col("src").as("id")).agg(count(lit(1)).as("c"))
      val ideg = tt.groupBy(col("dst").as("id")).agg(count(lit(1)).as("c"))
      val feats = tn
        .join(odeg.withColumnRenamed("c", "odeg"), Seq("id"), "left_outer")
        .join(ideg.withColumnRenamed("c", "ideg"), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("odeg"), lit(0L)).as("odeg"),
          coalesce(col("ideg"), lit(0L)).as("ideg"))
      algorithms.NeighborAgg.aggregate(feats, tt, Seq("odeg", "ideg"), 2)
    }),
    "q_hits" -> ((s, d) =>
      Centrality.hits(DerivedGraphs.tradeNodes(s, d),
        DerivedGraphs.nationTradeTop(s, d), 8)),
    "q_mst" -> ((s, d) =>
      algorithms.Spanning.minimumSpanningForest(
        DerivedGraphs.nationTradeWeighted(s, d))),
    "q_mis" -> ((s, d) => {
      val tt = DerivedGraphs.nationTradeTop(s, d)
      algorithms.Independent.maximalIndependentSet(
        DerivedGraphs.tradeNodes(s, d),
        tt.unionByName(tt.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
    }),
    "q_coloring" -> ((s, d) => {
      val tt = DerivedGraphs.nationTradeTop(s, d)
      algorithms.Independent.greedyColoring(
        DerivedGraphs.tradeNodes(s, d),
        tt.unionByName(tt.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
    }),
    "q_link_predict" -> ((s, d) =>
      algorithms.LinkPrediction.topPredictions(
        DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d)),
        Some(GraphBuilder.table(s, d, "part")
          .select((lit(PartTag * TAG) + col("p_partkey")).as("id"))
          .filter(col("id") <= PartTag * TAG + 200L)), 50)),
    "q_ppr" -> ((s, d) =>
      Community.personalizedPageRank(DerivedGraphs.tradeNodes(s, d),
          DerivedGraphs.nationTradeTop(s, d), pprSources, 0.85, 10)
        .select(col("id"), round(col("rank"), 8).as("rank"))),
    "q_label_prop" -> ((s, d) => {
      val sym = DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d))
      Community.labelPropagation(
        sym.select(col("src").as("id")).distinct(), sym, 5)
    }),
    "q_walks" -> ((s, d) =>
      algorithms.RandomWalks.walks(DerivedGraphs.nationTradeTop(s, d),
        DerivedGraphs.tradeNodes(s, d), 8, 2)),
    "q_triangles" -> ((s, d) => {
      val pe = DerivedGraphs.partCooccur(s, d)
      // each triangle is counted once per corner: Σ tri_cnt = 3t
      val tri = triangleCountsCached(s, d)
        .agg((sum("tri_cnt") / lit(3)).cast("bigint").as("t"))
      val wedges = DerivedGraphs.sym(pe)
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .agg(sum(col("deg") * (col("deg") - 1) / lit(2)).as("w"))
      tri.crossJoin(wedges)
        .select(col("t").cast("bigint").as("triangles"),
          round(lit(3.0) * col("t") / col("w"), 6).as("global_clustering"))
    }),
    "q_clustering_null" -> ((s, d) => {
      // Newman 2003 (SIAM Rev. §4.2.1): expected clustering under the
      // configuration model C_cm = (⟨k²⟩−⟨k⟩)²/(n⟨k⟩³) — the degree
      // moments fully determine the null; the surplus ratio says how
      // much triangle structure is REAL vs forced by the degree
      // sequence. Reuses the shared per-node triangle cache; the
      // moment frame is one |V|-key aggregate folded to scalars.
      val pe = DerivedGraphs.partCooccur(s, d)
      val tri = triangleCountsCached(s, d)
        .agg((sum("tri_cnt") / lit(3)).cast("bigint").as("t"))
      val dm = DerivedGraphs.sym(pe).groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .agg(count(lit(1)).as("n"), sum("deg").as("s1"),
          sum(col("deg") * col("deg")).as("s2"),
          sum(col("deg") * (col("deg") - 1) / lit(2)).as("w"))
      val nD = col("n").cast("double")
      val k1 = col("s1").cast("double") / nD
      val k2 = col("s2").cast("double") / nD
      val cObs = lit(3.0) * col("t") / col("w")
      val cCm = (k2 - k1) * (k2 - k1) / (nD * k1 * k1 * k1)
      tri.crossJoin(broadcast(dm))
        .select(col("n").cast("long").as("n_nodes"),
          (col("s1") / lit(2)).cast("long").as("n_edges"),
          round(k1, 6).as("mean_deg"),
          round(cObs, 6).as("c_observed"),
          round(cCm, 6).as("c_config"),
          round(when(cCm > 0.0, cObs / cCm), 6).as("surplus"))
    }),
    "q_clustering" -> ((s, d) => {
      val pe = DerivedGraphs.partCooccur(s, d)
      val deg = DerivedGraphs.sym(pe).groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      val pertri = triangleCountsCached(s, d)
      deg.join(pertri, Seq("id"), "left_outer")
        .filter(col("id") <= PartTag * TAG + 100L)
        .select(col("id"),
          coalesce(col("tri_cnt"), lit(0L)).cast("bigint").as("tri_cnt"),
          round(when(col("d") >= 2,
              coalesce(col("tri_cnt"), lit(0L)).cast("double") /
                (col("d") * (col("d") - 1) / lit(2.0)))
            .otherwise(0.0), 6).as("local_coeff"))
    }),

    "q_constraints" -> ((s, d) =>
      graph.Constraints.violations(g(s, d),
        graph.Constraints.uniqueness("Customer", "mktsegment"))),

    // ---- §2.3 Cypher subset (text → AST → DataFrame plan) ----
    "q_cypher_match" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer {mktsegment: 'BUILDING'})-[:PLACED]->(o:Order) " +
      "RETURN c.name AS cname, o.totalprice AS totalprice")),
    "q_cypher_optional" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer) WHERE c.acctbal < -900 " +
      "OPTIONAL MATCH (c)-[:PLACED]->(o:Order {orderstatus: 'F'}) " +
      "RETURN c.name AS cname, o.totalprice AS totalprice")),
    "q_cypher_varlen" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer {nationkey: 1})-[*1..2]->(x) " +
      "RETURN x.label AS label, COUNT(*) AS cnt")),
    "q_cypher_where" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (p:Part) WHERE p.psize >= 45 AND (p.brand = 'Brand#13' OR p.brand = 'Brand#42') " +
      "RETURN p.name AS name, p.psize AS psize, p.brand AS brand")),
    "q_cypher_regex" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (n:Nation) WHERE n.name =~ 'NATION_1' " +
      "RETURN n.id AS id, n.name AS name")),
    "q_cypher_in" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (n:Nation) WHERE n.name IN ['NATION_3', 'NATION_7', 'NATION_12'] " +
      "RETURN n.id AS id, n.name AS name")),
    // LIST-VALUED property (values/value.rs:11 Value::List): membership
    // in the Order node's partkeys array column via Cypher IN
    "q_cypher_listprop" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (o:Order) WHERE 500000000000042 IN o.partkeys " +
      "RETURN o.id AS id, o.totalprice AS totalprice")),
    // list-prop shape audit: per-order list length histogram
    "q_listprop_size" -> ((s, d) =>
      g(s, d).nodes.filter(col("label") === "Order")
        .select(when(col("partkeys").isNotNull, size(col("partkeys")))
          .cast("bigint").as("n_parts"))
        .groupBy("n_parts").agg(count(lit(1)).as("n_orders"))),
    "q_cypher_agg" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer)-[:PLACED]->(o:Order) " +
      "RETURN c.mktsegment AS seg, COUNT(*) AS cnt, SUM(o.totalprice) AS total")
      .withColumn("total", round(col("total"), 4))),
    "q_cypher_order" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (sp:Supplier) RETURN sp.name AS name, sp.acctbal AS acctbal " +
      "ORDER BY sp.acctbal DESC, sp.name ASC SKIP 3 LIMIT 7")),
    // percentile aggregates through the Cypher executor (executor.rs
    // PercentileCont/PercentileDisc) — oracle parity for the aggregate
    // set beyond the chained-API q_percentile row
    "q_cypher_percentile" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer) RETURN c.mktsegment AS seg, " +
      "PERCENTILECONT(c.acctbal, 0.5) AS med, " +
      "PERCENTILEDISC(c.acctbal, 0.25) AS q1, " +
      "STDEVP(c.acctbal) AS sdp") // the parser.rs:376 alias, oracle-folded
      .withColumn("med", round(col("med"), 6))
      .withColumn("sdp", round(col("sdp"), 6))),
    // COLLECT through the Cypher executor; list order is
    // engine-nondeterministic and the driver compare has no stable
    // array ordering, so the comparable row sorts + joins to a string
    // (the oracle's ordered string_agg is the same normalization)
    "q_cypher_collect" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (n:Nation)-[:IN_REGION]->(r:Region) " +
      "RETURN r.name AS region, COUNT(*) AS cnt, COLLECT(n.name) AS nations")
      .withColumn("nations", array_join(sort_array(col("nations")), ","))),
    "q_cypher_with" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (c:Customer)-[:PLACED]->(o:Order) " +
      "WITH c.nationkey AS nk, COUNT(*) AS cnt WHERE cnt > 700 RETURN nk, cnt")),
    "q_cypher_union" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (r:Region) RETURN r.name AS name " +
      "UNION ALL MATCH (n:Nation) RETURN n.name AS name")),
    "q_cypher_undirected" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (n:Nation {name: 'NATION_3'})-[e]-(x) " +
      "RETURN x.label AS label, COUNT(*) AS cnt")),
    "q_cypher_incoming" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (o:Order)<-[:PLACED]-(c:Customer {nationkey: 5}) " +
      "RETURN COUNT(*) AS cnt")),
    // aggregating CALL preserves every outer row (regions with no
    // NATION_3 nation report 0, openCypher semantics)
    "q_cypher_call" -> ((s, d) => Cypher.query(g(s, d),
      "MATCH (r:Region) " +
      "CALL { MATCH (n:Nation {name: 'NATION_3'})-[:IN_REGION]->(r) " +
      "RETURN r, COUNT(*) AS nations } IN (r) " +
      "RETURN r.name AS rname, nations")),

    // ---- §2.5 LLM-pipeline operators ----
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(GraphBuilder.table(s, d, "documents"),
        lower(substring(col("text"), 1, 100)))),
    "q_dedup_minhash" -> ((s, d) => minhashPairsCached(s, d)),
    // scoped to one source — the within-source dedup scope an exact
    // join actually runs at (the synthetic corpus's shared vocabulary
    // makes the whole-corpus TRUE answer near-quadratic: ~71k pairs at
    // sf0.01 already; exactness means producing all of them)
    "q_setsim_join" -> ((s, d) =>
      Dedup.setSimJoin(GraphBuilder.table(s, d, "documents")
        .filter(col("source") === "src0"))),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)))),
    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(GraphBuilder.table(s, d, "documents"),
        Some(minhashPairsCached(s, d)),
        hashedIn = Some(hashedShinglesCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)))),
    "q_minhash_audit" -> ((s, d) =>
      Dedup.minhashAudit(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)),
        pairsIn = Some(minhashPairsCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)),
        sigsIn = Some(minhashSigsCached(s, d)))),
    "q_novelty" -> ((s, d) =>
      Dedup.noveltyScore(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)))),
    "q_substring_dup" -> ((s, d) =>
      Dedup.substringDupRate(GraphBuilder.table(s, d, "documents"))),
    "q_feature_corr" -> ((s, d) =>
      pipeline.Stats.featureCorr(GraphBuilder.table(s, d, "documents"))),
    "q_linreg" -> ((s, d) =>
      pipeline.Stats.linReg(GraphBuilder.table(s, d, "documents"))),
    "q_mutual_info" -> ((s, d) =>
      pipeline.Stats.mutualInfo(GraphBuilder.table(s, d, "documents"))),
    "q_chi2" -> ((s, d) =>
      pipeline.Stats.chiSquared(GraphBuilder.table(s, d, "documents"))),
    "q_benford" -> ((s, d) =>
      pipeline.Stats.benford(GraphBuilder.table(s, d, "orders"), "o_totalprice")),
    "q_welch_t" -> ((s, d) =>
      pipeline.Stats.welchT(GraphBuilder.table(s, d, "documents"))),
    "q_ks_test" -> ((s, d) =>
      pipeline.Stats.ksBySource(GraphBuilder.table(s, d, "documents"))),
    "q_doc_entropy" -> ((s, d) =>
      pipeline.Stats.docEntropy(GraphBuilder.table(s, d, "documents"))),
    "q_theil" -> ((s, d) =>
      pipeline.Stats.theilBySource(GraphBuilder.table(s, d, "documents"))),
    "q_jsd" -> ((s, d) =>
      pipeline.Stats.jsdBySource(GraphBuilder.table(s, d, "documents"))),
    "q_acf" -> ((s, d) =>
      EventStreams.dailyAcf(EventStreams.eventsTable(s, d))),
    "q_mann_whitney" -> ((s, d) =>
      pipeline.Stats.mannWhitneyBySource(GraphBuilder.table(s, d, "documents"))),
    "q_anova" -> ((s, d) =>
      pipeline.Stats.anovaF(GraphBuilder.table(s, d, "documents"))),
    "q_kruskal" -> ((s, d) =>
      pipeline.Stats.kruskalWallis(GraphBuilder.table(s, d, "documents"))),
    "q_spearman" -> ((s, d) =>
      pipeline.Stats.spearman(GraphBuilder.table(s, d, "documents"))),
    "q_lexical_profile" -> ((s, d) =>
      pipeline.Stats.lexicalProfile(GraphBuilder.table(s, d, "documents"))),
    "q_naive_bayes" -> ((s, d) =>
      pipeline.Classify.naiveBayesConfusion(
        GraphBuilder.table(s, d, "documents"))),
    "q_jaro_match" -> ((s, d) =>
      pipeline.Dedup.jaroMatch(GraphBuilder.table(s, d, "part"), "p_name")),
    "q_readability" -> ((s, d) =>
      pipeline.Stats.readability(GraphBuilder.table(s, d, "documents"))),
    "q_centroid_sim" -> ((s, d) =>
      Similarity.centroidSim(GraphBuilder.table(s, d, "embeddings"))),
    "q_heaps" -> ((s, d) =>
      pipeline.Stats.heapsFit(GraphBuilder.table(s, d, "documents"))),
    "q_ewma" -> ((s, d) =>
      EventStreams.ewmaDaily(EventStreams.eventsTable(s, d))),
    // round-10 robust/rank wave
    "q_quantile_norm" -> ((s, d) =>
      pipeline.Robust.quantileNorm(GraphBuilder.table(s, d, "documents"))),
    "q_neyman_alloc" -> ((s, d) =>
      pipeline.Robust.neymanAllocation(GraphBuilder.table(s, d, "documents"))),
    "q_mad_outliers" -> ((s, d) =>
      pipeline.Robust.madOutliers(GraphBuilder.table(s, d, "documents"))),
    "q_trimmed_mean" -> ((s, d) =>
      pipeline.Robust.trimmedMean(GraphBuilder.table(s, d, "documents"))),
    "q_embed_dispersion" -> ((s, d) =>
      Similarity.embedDispersion(GraphBuilder.table(s, d, "embeddings"))),
    "q_pii_cooccur" -> ((s, d) =>
      pipeline.TextOps.piiCooccur(GraphBuilder.table(s, d, "documents"))),
    "q_code_switch" -> ((s, d) =>
      pipeline.TextOps.codeSwitch(GraphBuilder.table(s, d, "documents"))),
    "q_funnel_latency" -> ((s, d) =>
      EventStreams.funnelLatency(EventStreams.eventsTable(s, d))),
    "q_entropy_rate" -> ((s, d) =>
      EventStreams.entropyRate(EventStreams.eventsTable(s, d))),
    "q_markov_stationary" -> ((s, d) =>
      EventStreams.markovStationary(EventStreams.eventsTable(s, d))),
    "q_shard_mix" -> ((s, d) =>
      Corpus.shardMix(GraphBuilder.table(s, d, "documents"))),
    "q_incremental_dedup" -> ((s, d) =>
      Corpus.incrementalDedup(GraphBuilder.table(s, d, "documents"))),
    "q_vocab_overlap" -> ((s, d) =>
      Corpus.vocabOverlap(GraphBuilder.table(s, d, "documents"))),
    "q_burrows_delta" -> ((s, d) =>
      pipeline.Stats.burrowsDelta(GraphBuilder.table(s, d, "documents"))),
    "q_charset_profile" -> ((s, d) =>
      pipeline.TextOps.charsetProfile(GraphBuilder.table(s, d, "documents"))),
    "q_hapax" -> ((s, d) =>
      Corpus.hapaxProfile(GraphBuilder.table(s, d, "documents"))),
    "q_skipgram" -> ((s, d) =>
      Corpus.skipgramPairs(GraphBuilder.table(s, d, "documents"))),
    "q_hubness" -> ((s, d) =>
      pipeline.Similarity.hubness(GraphBuilder.table(s, d, "embeddings"))),
    "q_triad_census" -> ((s, d) =>
      algorithms.Structure.triadCensus(
        graph.DerivedGraphs.nationTradeTop(s, d))),
    "q_triad_full" -> ((s, d) =>
      algorithms.Structure.triadCensusFull(
        graph.DerivedGraphs.nationTradeTop(s, d))),
    "q_attack_curve" -> ((s, d) =>
      algorithms.Structure.attackCurve(graph.DerivedGraphs.partCooccur(s, d))),
    "q_onion" -> ((s, d) => {
      val t = graph.DerivedGraphs.nationTradeTop(s, d)
        .select("src", "dst").filter(col("src") =!= col("dst"))
      algorithms.Structure.onionLayers(
        t.unionByName(t.select(col("dst").as("src"), col("src").as("dst")))
          .distinct())
    }),
    "q_lorenz" -> ((s, d) =>
      EventStreams.lorenz(EventStreams.eventsTable(s, d))),
    "q_audience_overlap" -> ((s, d) =>
      EventStreams.audienceOverlap(EventStreams.eventsTable(s, d))),
    "q_entity_density" -> ((s, d) =>
      pipeline.TextOps.entityDensity(GraphBuilder.table(s, d, "documents"))),
    "q_rolling_volume" -> ((s, d) =>
      EventStreams.rollingVolume(EventStreams.eventsTable(s, d))),
    "q_churn" -> ((s, d) =>
      EventStreams.churn(EventStreams.eventsTable(s, d))),
    "q_psi" -> ((s, d) =>
      pipeline.Stats.psiBySource(GraphBuilder.table(s, d, "documents"))),
    "q_sample_bias" -> ((s, d) =>
      pipeline.Stats.sampleBias(GraphBuilder.table(s, d, "documents"))),
    "q_activity_tail" -> ((s, d) =>
      algorithms.Structure.hillTailIndex(
        EventStreams.eventsTable(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("degree")))),
    "q_dow_profile" -> ((s, d) =>
      EventStreams.dowProfile(EventStreams.eventsTable(s, d))),
    "q_attribution" -> ((s, d) =>
      EventStreams.attribution(EventStreams.eventsTable(s, d))),
    "q_split_leakage" -> ((s, d) =>
      Corpus.splitLeakage(GraphBuilder.table(s, d, "documents"))),
    "q_percolation" -> ((s, d) =>
      Community.percolation(DerivedGraphs.nationTradeWeighted(s, d))),
    "q_local_bridges" -> ((s, d) =>
      algorithms.Structure.localBridges(DerivedGraphs.partCooccur(s, d),
        jaccardIn = Some(edgeJaccardCached(s, d)))),
    "q_block_matrix" -> ((s, d) =>
      algorithms.Structure.blockMatrix(g(s, d).nodes, g(s, d).edges)),
    "q_label_assort" -> ((s, d) =>
      algorithms.Structure.labelAssortativity(g(s, d).nodes, g(s, d).edges)),
    "q_lang_confusion" -> ((s, d) =>
      pipeline.TextOps.langConfusion(GraphBuilder.table(s, d, "documents"))),
    "q_quality_calibration" -> ((s, d) =>
      Corpus.qualityCalibration(GraphBuilder.table(s, d, "documents"))),
    "q_norm_profile" -> ((s, d) =>
      pipeline.Similarity.normProfile(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_knn_profile" -> ((s, d) =>
      algorithms.Structure.knnProfile(DerivedGraphs.partCooccur(s, d))),
    "q_quant_error" -> ((s, d) =>
      pipeline.Similarity.quantError(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_stickiness" -> ((s, d) =>
      EventStreams.stickiness(EventStreams.eventsTable(s, d))),
    "q_behavioral_entropy" -> ((s, d) =>
      EventStreams.behavioralEntropy(EventStreams.eventsTable(s, d))),
    "q_purchase_intervals" -> ((s, d) =>
      EventStreams.purchaseIntervals(EventStreams.eventsTable(s, d))),
    "q_session_stats" -> ((s, d) =>
      EventStreams.sessionStats(EventStreams.eventsTable(s, d))),
    "q_first_touch" -> ((s, d) =>
      EventStreams.firstTouch(EventStreams.eventsTable(s, d))),
    "q_type_affinity" -> ((s, d) =>
      EventStreams.typeAffinity(EventStreams.eventsTable(s, d))),
    "q_term_burstiness" -> ((s, d) =>
      Corpus.termBurstiness(GraphBuilder.table(s, d, "documents"))),
    "q_char_bigram_entropy" -> ((s, d) =>
      pipeline.TextOps.charBigramEntropy(
        GraphBuilder.table(s, d, "documents"))),
    "q_pca2" -> ((s, d) =>
      pipeline.Pca.pcaSecond(GraphBuilder.table(s, d, "embeddings"))),
    "q_label_balance" -> ((s, d) =>
      pipeline.Similarity.labelBalance(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_embed_outliers" -> ((s, d) =>
      pipeline.Similarity.embedOutliers(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_vocab_coverage" -> ((s, d) =>
      Corpus.vocabCoverage(GraphBuilder.table(s, d, "documents"))),
    "q_disparity" -> ((s, d) =>
      algorithms.Structure.disparity(DerivedGraphs.partCooccurAll(s, d))),
    "q_hour_profile" -> ((s, d) =>
      EventStreams.hourProfile(EventStreams.eventsTable(s, d))),
    "q_cohort_value" -> ((s, d) =>
      EventStreams.cohortValue(EventStreams.eventsTable(s, d))),
    "q_cluster_sizes" -> ((s, d) =>
      Corpus.clusterSizes(GraphBuilder.table(s, d, "documents"),
        minhashPairsCached(s, d))),
    "q_dedup_retention" -> ((s, d) =>
      Corpus.dedupRetention(GraphBuilder.table(s, d, "documents"),
        minhashPairsCached(s, d))),
    // composition rows (round 15, graph×pipeline seam): the graph
    // kernels' conductance/modularity over the PIPELINE's near-dup
    // pair graph, partitioned by doc source — "does near-duplication
    // leak across sources"; both ride the cached pair frame
    "q_dedup_conductance" -> ((s, d) =>
      algorithms.Structure.conductance(minhashPairsCached(s, d),
        GraphBuilder.table(s, d, "documents")
          .select(col("doc_id").as("id"), col("source").as("g")))),
    "q_dedup_modularity" -> ((s, d) =>
      algorithms.Structure.modularity(minhashPairsCached(s, d),
        GraphBuilder.table(s, d, "documents")
          .select(col("doc_id").as("id"), col("source").as("g")))),
    "q_ck_curve" -> ((s, d) =>
      algorithms.Structure.ckCurve(DerivedGraphs.partCooccur(s, d),
        triangleCountsCached(s, d))),
    "q_degree_core_ratio" -> ((s, d) =>
      algorithms.Structure.degreeCoreRatio(
        DerivedGraphs.sym(DerivedGraphs.partCooccur(s, d)))),
    "q_dayn_retention" -> ((s, d) =>
      EventStreams.dayNRetention(EventStreams.eventsTable(s, d))),
    "q_dim_variance" -> ((s, d) =>
      pipeline.Similarity.dimVariance(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_bloom_fpr" -> ((s, d) =>
      pipeline.Bloom.bloomFprAudit(GraphBuilder.table(s, d, "documents"))),
    "q_user_lifespan" -> ((s, d) =>
      EventStreams.userLifespan(EventStreams.eventsTable(s, d))),
    "q_ann_probe_curve" -> ((s, d) =>
      pipeline.Similarity.annProbeCurve(
        GraphBuilder.table(s, d, "embeddings"))),
    "q_mann_kendall" -> ((s, d) =>
      Trend.mannKendall(EventStreams.eventsTable(s, d))),
    "q_pettitt" -> ((s, d) =>
      Trend.pettitt(EventStreams.eventsTable(s, d))),
    "q_page_hinkley" -> ((s, d) =>
      Trend.pageHinkley(EventStreams.eventsTable(s, d))),
    "q_survival" -> ((s, d) =>
      EventStreams.survival(EventStreams.eventsTable(s, d))),
    "q_logrank" -> ((s, d) =>
      EventStreams.logRank(EventStreams.eventsTable(s, d))),
    "q_good_turing" -> ((s, d) =>
      Corpus.goodTuring(GraphBuilder.table(s, d, "documents"))),
    "q_bootstrap_ci" -> ((s, d) =>
      pipeline.Stats.bootstrapMeanCi(GraphBuilder.table(s, d, "documents"))),
    "q_theil_sen" -> ((s, d) =>
      Trend.theilSen(EventStreams.eventsTable(s, d))),
    "q_runs_test" -> ((s, d) =>
      Trend.runsTest(EventStreams.eventsTable(s, d))),
    "q_kendall_tau" -> ((s, d) =>
      Trend.kendallTau(EventStreams.eventsTable(s, d))),
    "q_seasonality" -> ((s, d) =>
      Trend.seasonalityStrength(EventStreams.eventsTable(s, d))),
    "q_cohens_d" -> ((s, d) =>
      pipeline.Stats.cohensD(GraphBuilder.table(s, d, "documents"))),
    "q_cliffs_delta" -> ((s, d) =>
      pipeline.Stats.cliffsDelta(GraphBuilder.table(s, d, "documents"))),
    "q_brown_forsythe" -> ((s, d) =>
      pipeline.Stats.brownForsythe(GraphBuilder.table(s, d, "documents"))),
    "q_jarque_bera" -> ((s, d) =>
      pipeline.Stats.jarqueBera(GraphBuilder.table(s, d, "documents"))),
    // trade-top graph (the triad_census precedent): the per-query row
    // prices the motif plan, not the 3e8-wedge co-occurrence volume —
    // ScaleProbe certifies the heavy-graph shape separately
    "q_square_count" -> ((s, d) =>
      algorithms.Structure.squareCount(
        DerivedGraphs.nationTradeTop(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct())),
    // cap 24 = n−1 on the 25-nation graph, so the capped census equals
    // the exact one here (n_hubs_excluded = 0 pins that in the oracle);
    // the cap's scale behavior is certified by the dense-replica probe
    "q_square_count_capped" -> ((s, d) =>
      algorithms.Structure.squareCountCapped(
        DerivedGraphs.nationTradeTop(s, d)
          .filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct(), 24L)),
    "q_graph_entropy" -> ((s, d) =>
      algorithms.Structure.graphEntropy(DerivedGraphs.partCooccur(s, d))),
    "q_silhouette" -> ((s, d) => {
      val (iv, ct) = ivfKmeansCached(s, d)
      Similarity.silhouetteExact(GraphBuilder.table(s, d, "embeddings"),
        ivIn = Some(iv), ctIn = Some(ct))
    }),
    "q_phrase_stats" -> ((s, d) =>
      Corpus.phraseStats(GraphBuilder.table(s, d, "documents"))),
    "q_stopword_profile" -> ((s, d) =>
      Corpus.stopwordProfile(GraphBuilder.table(s, d, "documents"))),
    "q_edit_match" -> ((s, d) =>
      Dedup.editMatch(GraphBuilder.table(s, d, "part"), "p_name")),
    "q_holt" -> ((s, d) =>
      Trend.holtDaily(EventStreams.eventsTable(s, d))),
    "q_bounce_rate" -> ((s, d) =>
      EventStreams.bounceRate(EventStreams.eventsTable(s, d))),
    "q_new_returning" -> ((s, d) =>
      EventStreams.newReturning(EventStreams.eventsTable(s, d))),
    "q_banding_curve" -> ((s, d) =>
      Dedup.bandingCurve(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)),
        sigsIn = Some(minhashSigsCached(s, d)))),
    "q_k_anonymity" -> ((s, d) =>
      Corpus.kAnonymity(GraphBuilder.table(s, d, "documents"))),
    "q_dp_histogram" -> ((s, d) =>
      Corpus.dpHistogram(GraphBuilder.table(s, d, "documents"))),
    "q_simhash_curve" -> ((s, d) =>
      Dedup.simhashCurve(GraphBuilder.table(s, d, "documents"),
        hashedIn = Some(hashedShinglesCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)))),
    "q_jaccard_sweep" -> ((s, d) =>
      Dedup.jaccardSweep(GraphBuilder.table(s, d, "documents"),
        pairsIn = Some(minhashPairsCached(s, d)),
        hashedIn = Some(hashedShinglesCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)))),
    "q_skyline" -> ((s, d) =>
      Corpus.skyline(GraphBuilder.table(s, d, "documents"))),
    "q_anisotropy" -> ((s, d) =>
      Similarity.anisotropy(GraphBuilder.table(s, d, "embeddings"))),
    "q_winsor_mean" -> ((s, d) =>
      pipeline.Robust.winsorizedMean(GraphBuilder.table(s, d, "documents"))),
    "q_zipf_fit" -> ((s, d) =>
      Corpus.zipfFit(GraphBuilder.table(s, d, "documents"))),
    "q_token_budget" -> ((s, d) =>
      Corpus.tokenBudget(GraphBuilder.table(s, d, "documents"))),
    "q_quality_dup_lift" -> ((s, d) =>
      Corpus.qualityDupLift(GraphBuilder.table(s, d, "documents"),
        minhashPairsCached(s, d))),
    "q_dup_inflation" -> ((s, d) =>
      Corpus.dupInflation(GraphBuilder.table(s, d, "documents"),
        lower(substring(col("text"), 1, 100)))),
    "q_dedup_clusters" -> ((s, d) =>
      Corpus.dedupClusters(minhashPairsCached(s, d))),
    "q_containment" -> ((s, d) => {
      val docs = GraphBuilder.table(s, d, "documents")
      // containment-sensitive candidates: LSH pairs ∪ winnow pairs,
      // both riding their session caches
      val cands = minhashPairsCached(s, d).select("a", "b")
        .unionByName(winnowPairsCached(s, d).select("a", "b"))
        .distinct()
      Dedup.containment(docs, Some(cands),
        hashedIn = Some(hashedShinglesCached(s, d)),
        shArrIn = Some(shingleArraysCached(s, d)))
    }),
    "q_sample_hash" -> ((s, d) =>
      Corpus.hashSample(GraphBuilder.table(s, d, "documents"))),
    "q_segment_dedup" -> ((s, d) =>
      Corpus.segmentDedup(GraphBuilder.table(s, d, "documents"))),
    // stride-1 maximal duplicated spans (the Lee-et-al exact-substring
    // statistic at window granularity — catches boundary-straddling
    // repeats the fixed segments miss)
    "q_dup_spans" -> ((s, d) =>
      Corpus.dupSpans(GraphBuilder.table(s, d, "documents"),
        framesIn = Some(dupSpanFramesCached(s, d)))),
    // UAX #15 NFC audit (native graft_nfc expression ↔ DuckDB's
    // nfc_normalize — both implement the same canonical composition)
    "q_unicode_audit" -> ((s, d) =>
      pipeline.TextOps.unicodeAudit(GraphBuilder.table(s, d, "documents"))),
    "q_strip_dup_spans" -> ((s, d) =>
      Corpus.stripDupSpans(GraphBuilder.table(s, d, "documents"),
        framesIn = Some(dupSpanFramesCached(s, d)))),
    "q_source_overlap" -> ((s, d) =>
      Corpus.sourceOverlap(GraphBuilder.table(s, d, "documents"),
        minhashPairsCached(s, d))),
    "q_mix_report" -> ((s, d) =>
      Corpus.mixReport(GraphBuilder.table(s, d, "documents"))),
    "q_temp_mix" -> ((s, d) =>
      Corpus.temperatureMix(GraphBuilder.table(s, d, "documents"))),
    "q_dedup_canonical" -> ((s, d) =>
      Dedup.canonicalDedup(GraphBuilder.table(s, d, "documents"),
        lower(substring(col("text"), 1, 100)))),
    "q_winnow" -> ((s, d) => winnowCached(s, d)),
    "q_winnow_pairs" -> ((s, d) => winnowPairsCached(s, d)),
    "q_pack_bins" -> ((s, d) =>
      Corpus.packBins(GraphBuilder.table(s, d, "documents"))),
    "q_bpe_pairs" -> ((s, d) =>
      Corpus.bpePairs(GraphBuilder.table(s, d, "documents"))),
    "q_rollup" -> ((s, d) =>
      Corpus.corpusRollup(GraphBuilder.table(s, d, "documents"))),
    "q_vocab_topk" -> ((s, d) =>
      Corpus.vocabTopK(GraphBuilder.table(s, d, "documents"))),
    "q_lm_bigram" -> ((s, d) =>
      Corpus.bigramNll(GraphBuilder.table(s, d, "documents"))),
    "q_lm_kn" -> ((s, d) =>
      Corpus.kneserNeyNll(GraphBuilder.table(s, d, "documents"))),
    "q_split" -> ((s, d) =>
      Corpus.splitAssign(GraphBuilder.table(s, d, "documents"))),
    "q_contam_score" -> ((s, d) =>
      Corpus.contamScore(GraphBuilder.table(s, d, "documents"))),
    "q_bpe_apply" -> ((s, d) => bpeSegCached(s, d)),
    // the ITERATED trainer (pair counts over the current segmentation,
    // not the round-0 one) — merge table + the segmentation it induces
    "q_bpe_train" -> ((s, d) =>
      Corpus.bpeTrain(GraphBuilder.table(s, d, "documents"))),
    "q_bpe_train_seg" -> ((s, d) =>
      Corpus.bpeTrainSegments(GraphBuilder.table(s, d, "documents"))),
    "q_jl_project" -> ((s, d) =>
      Similarity.jlProject(GraphBuilder.table(s, d, "embeddings"))),
    "q_inverted_index" -> ((s, d) =>
      Corpus.invertedIndex(GraphBuilder.table(s, d, "documents"))),
    "q_token_fertility" -> ((s, d) =>
      Corpus.tokenFertility(GraphBuilder.table(s, d, "documents"),
        segIn = Some(bpeSegCached(s, d)))),
    // brand revenue through the explicitly-salted join — result is
    // row-for-row the plain join (the oracle IS the plain join)
    "q_skew_join" -> ((s, d) =>
      graft.ops.SkewJoin.salted(
          GraphBuilder.table(s, d, "lineitem")
            .select(col("l_partkey"), col("l_extendedprice")),
          GraphBuilder.table(s, d, "part")
            .select(col("p_partkey"), col("p_brand")),
          "l_partkey", "p_partkey", 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum("l_extendedprice"), 2).as("revenue"))),
    "q_dsir" -> ((s, d) =>
      Corpus.dsirWeights(GraphBuilder.table(s, d, "documents"))),
    // label column stands in for the paper's k-means assignment — see
    // Similarity.semDedup scaladoc; τ=0.3 keeps the τ-graph non-vacuous
    // on the synthetic embeddings (no planted near-dups above 0.52)
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedup(GraphBuilder.table(s, d, "embeddings"))),
    "q_fuzzy_match" -> ((s, d) =>
      Dedup.fuzzyMatch(GraphBuilder.table(s, d, "part"), "p_name")),
    "q_cms" -> ((s, d) =>
      pipeline.Sketches.cmsTermCounts(GraphBuilder.table(s, d, "documents"))),
    "q_window_cms" -> ((s, d) =>
      pipeline.Sketches.windowCms(EventStreams.eventsTable(s, d))),
    // p=8 → 256 registers: distinct users per type sits in the
    // linear-counting branch, distinct event ids in the raw branch —
    // one query pins both against the hash-mirrored replay
    "q_hll" -> ((s, d) =>
      pipeline.Sketches.hllDistinct(EventStreams.eventsTable(s, d))),
    "q_bloom_decontam" -> ((s, d) =>
      pipeline.Bloom.bloomDecontaminate(GraphBuilder.table(s, d, "documents"))),
    // capacity 64 ≥ the corpus vocabulary → the sketch runs in its
    // exact (deterministic) regime; the eviction bound is spec-pinned
    "q_heavy_hitters" -> ((s, d) =>
      pipeline.Sketches.heavyHitters(GraphBuilder.table(s, d, "documents"))),
    // capacity 64 ≥ every per-source vocabulary → exact KMV regime
    "q_distinct_kmv" -> ((s, d) =>
      pipeline.Sketches.sourceDistinctTerms(GraphBuilder.table(s, d, "documents"))),
    // capacity 512 ≥ every per-source distinct-length alphabet → exact
    "q_len_quantiles" -> ((s, d) =>
      pipeline.Sketches.sourceLengthQuantiles(GraphBuilder.table(s, d, "documents"))),
    "q_top_docs" -> ((s, d) =>
      pipeline.Sketches.topDocsBySource(GraphBuilder.table(s, d, "documents"))),
    "q_weighted_sample" -> ((s, d) =>
      pipeline.Sketches.weightedSample(GraphBuilder.table(s, d, "documents"))),
    // capacity 1024 ≥ every pairwise vocabulary union → exact regime;
    // the estimation-regime error bound is spec-pinned
    "q_kmv_setops" -> ((s, d) =>
      pipeline.Sketches.sourceSetOps(GraphBuilder.table(s, d, "documents"))),
    "q_quota_sample" -> ((s, d) =>
      pipeline.Sketches.quotaSample(GraphBuilder.table(s, d, "documents"))),
    "q_hashed_features" -> ((s, d) =>
      Corpus.hashedFeatures(GraphBuilder.table(s, d, "documents"))),
    "q_source_kl" -> ((s, d) =>
      Corpus.sourceKl(GraphBuilder.table(s, d, "documents"))),
    "q_interarrival" -> ((s, d) =>
      EventStreams.interArrival(EventStreams.eventsTable(s, d))),
    "q_anomalies" -> ((s, d) =>
      EventStreams.windowAnomalies(EventStreams.eventsTable(s, d))),
    "q_decay_score" -> ((s, d) =>
      EventStreams.decayScore(EventStreams.eventsTable(s, d))),
    "q_funnel" -> ((s, d) =>
      EventStreams.funnel(EventStreams.eventsTable(s, d))),
    "q_retention" -> ((s, d) =>
      EventStreams.retention(EventStreams.eventsTable(s, d))),
    "q_funnel_steps" -> ((s, d) =>
      EventStreams.funnelSteps(EventStreams.eventsTable(s, d),
        Seq("signup", "view", "click", "purchase"))),
    "q_rfm" -> ((s, d) =>
      EventStreams.rfm(EventStreams.eventsTable(s, d))),
    "q_pivot" -> ((s, d) =>
      EventStreams.eventTypePivot(EventStreams.eventsTable(s, d))),
    "q_transitions" -> ((s, d) =>
      EventStreams.eventTransitions(EventStreams.eventsTable(s, d))),
    "q_cusum" -> ((s, d) =>
      EventStreams.cusum(EventStreams.eventsTable(s, d))),
    "q_burstiness" -> ((s, d) =>
      EventStreams.burstiness(EventStreams.eventsTable(s, d))),
    "q_cusum_online" -> ((s, d) =>
      EventStreams.cusumOnlineBatch(EventStreams.eventsTable(s, d))),
    "q_type_drift" -> ((s, d) =>
      EventStreams.typeDrift(EventStreams.eventsTable(s, d))),
    "q_event_paths" -> ((s, d) =>
      EventStreams.eventPaths(EventStreams.eventsTable(s, d))),
    "q_basket_pairs" -> ((s, d) =>
      pipeline.Association.basketPairs(GraphBuilder.table(s, d, "lineitem"))),
    "q_token_entropy" -> ((s, d) =>
      TextOps.tokenEntropy(GraphBuilder.table(s, d, "documents"))),
    "q_profile" -> ((s, d) =>
      ops.Profile.numericProfile(GraphBuilder.table(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "q_profile_str" -> ((s, d) =>
      ops.Profile.stringProfile(GraphBuilder.table(s, d, "documents"),
        Seq("lang", "source", "text"))),
    "q_ppl_buckets" -> ((s, d) =>
      Corpus.pplBuckets(GraphBuilder.table(s, d, "documents"))),
    "q_cube" -> ((s, d) =>
      Corpus.sourceLangCube(GraphBuilder.table(s, d, "documents"))),
    "q_gini" -> ((s, d) =>
      Corpus.sourceGini(GraphBuilder.table(s, d, "documents"))),
    "q_zorder" -> ((s, d) =>
      ops.ZOrder.zorderStats(GraphBuilder.table(s, d, "lineitem"),
        "l_partkey", "l_suppkey", 8, 6)),
    "q_embed_centroids" -> ((s, d) =>
      Corpus.embedCentroids(GraphBuilder.table(s, d, "embeddings"))),
    "q_embed_stats" -> ((s, d) =>
      Corpus.embedStats(GraphBuilder.table(s, d, "embeddings"))),
    "q_chunks" -> ((s, d) =>
      Corpus.chunkDocs(GraphBuilder.table(s, d, "documents"))),
    "q_len_histogram" -> ((s, d) =>
      Corpus.lenHistogram(GraphBuilder.table(s, d, "documents"))),
    "q_corpus_clean" -> ((s, d) =>
      Corpus.corpusClean(GraphBuilder.table(s, d, "documents"),
        minhashPairsCached(s, d))),
    "q_training_mix" -> ((s, d) =>
      Corpus.trainingMixReport(GraphBuilder.table(s, d, "documents"),
        mixWeights.toMap, survivorsIn = Some(mixSurvivorsCached(s, d)))),
    // rows-only driver check (no oracleSql): the FLAGSHIP composition
    // with the MULTIMODAL gates folded in — near-dup image/audio/video
    // families (perceptual dHash + band-energy fingerprint + temporal
    // video hash over real PNG/WAV/AVI payloads) are clustered by the
    // shared dual-regime CC and every NON-REPRESENTATIVE member leaves
    // the mix: exactly one copy per near-dup family survives
    // (cluster-canonical keep, not pair-drop — a transitive dup that
    // never appears as the larger pair member is still dropped).
    // The text-gate composition stays oracle-certified via
    // q_training_mix; the binary gates are spec-pinned
    // (CorpusPrepSpec + MultimodalSpec).
    "q_training_mix_mm" -> ((s, d) => {
      val docs = GraphBuilder.table(s, d, "documents")
      val drops = pipeline.Multimodal.mediaClusterDropIdsFromMembership(
        mediaMembershipCached(s, d))
      Corpus.trainingMixReport(docs, mixWeights.toMap,
        mediaDropIds = Some(drops),
        survivorsIn = Some(mixSurvivorsCached(s, d)))
    }),
    // rows-only driver check (no oracleSql): the media completion of
    // the text dedup contract (q_dedup_clusters) — per-modality
    // (cluster representative, size) off the shared dual-regime CC
    // over the image/audio/video pair graphs; cluster algebra
    // spec-pinned in MultimodalSpec.
    "q_media_clusters" -> ((s, d) =>
      pipeline.Multimodal.mediaClustersFromMembership(
        mediaMembershipCached(s, d))
        .orderBy("modality", "rep_id")),
    // rows-only driver check (no oracleSql): TEMPORAL video dedup —
    // k-frame dHash signatures; clips sharing only a title card are
    // candidates on frame 0 and rejected at the later slots. The
    // synthetic corpus plants exactly that collision (family halves
    // share frame 0, differ on frame 1); separation spec-pinned in
    // MultimodalSpec.
    "q_video_temporal" -> ((s, d) =>
      pipeline.Multimodal.videoTemporalDedupPairs(
        pipeline.Multimodal.syntheticTemporalVideoCorpus(
          GraphBuilder.table(s, d, "documents"), "doc_id"), 3, 3)
        .groupBy("hamming")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("hamming")),
    "q_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(GraphBuilder.table(s, d, "embeddings"))),
    "q_mmr" -> ((s, d) =>
      Similarity.mmrRerank(GraphBuilder.table(s, d, "embeddings"))),
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(GraphBuilder.table(s, d, "embeddings"))),
    "q_ann_ivf_exact" -> ((s, d) => {
      val (iv, ct) = ivfKmeansCached(s, d)
      Similarity.annIvfExact(GraphBuilder.table(s, d, "embeddings"),
        ivIn = Some(iv), ctIn = Some(ct))
    }),
    "q_ann_pq" -> ((s, d) => {
      val (iv, ct) = pqCodebookCached(s, d)
      Similarity.annPq(GraphBuilder.table(s, d, "embeddings"),
        ivIn = Some(iv), ctIn = Some(ct))
    }),
    "q_ann_ivfpq" -> ((s, d) =>
      Similarity.annIvfPq(GraphBuilder.table(s, d, "embeddings"),
        ivIn = Some(ivfKmeansCached(s, d)._1))),
    "q_pq_error" -> ((s, d) => {
      val (iv, ct) = pqCodebookCached(s, d)
      Similarity.pqError(GraphBuilder.table(s, d, "embeddings"),
        ivIn = Some(iv), ctIn = Some(ct))
    }),
    "q_pq_recall" -> ((s, d) => {
      val (piv, pct) = pqCodebookCached(s, d)
      Similarity.pqRecall(GraphBuilder.table(s, d, "embeddings"),
        pqIvIn = Some(piv), pqCtIn = Some(pct),
        bfIvIn = Some(ivfKmeansCached(s, d)._1))
    }),
    "q_hazard" -> ((s, d) =>
      EventStreams.hazard(EventStreams.eventsTable(s, d))),
    "q_pca" -> ((s, d) =>
      pipeline.Pca.pcaTop(GraphBuilder.table(s, d, "embeddings"))),
    "q_effective_rank" -> ((s, d) =>
      pipeline.Pca.effectiveRank(GraphBuilder.table(s, d, "embeddings"))),
    "q_filter_kappa" -> ((s, d) =>
      pipeline.Stats.filterKappa(GraphBuilder.table(s, d, "documents"))),
    "q_ece" -> ((s, d) =>
      pipeline.Stats.calibrationEce(GraphBuilder.table(s, d, "documents"))),
    "q_dp_mean" -> ((s, d) =>
      Corpus.dpMean(GraphBuilder.table(s, d, "documents"))),
    "q_compress_ratio" -> ((s, d) =>
      pipeline.TextOps.compressionRatio(GraphBuilder.table(s, d, "documents"))),
    "q_pca_project" -> ((s, d) =>
      pipeline.Pca.pcaProject(GraphBuilder.table(s, d, "embeddings"))),
    "q_ann_lsh" -> ((s, d) =>
      Similarity.annLsh(GraphBuilder.table(s, d, "embeddings"))),
    // rows-only driver check (no oracleSql): iterated float k-means
    // centroids aren't bit-stable across engines — the nprobe=k ≡
    // brute-force invariant is pinned exactly in PipelineSpec instead
    "q_ann_ivf" -> ((s, d) =>
      Similarity.annIvf(GraphBuilder.table(s, d, "embeddings"))),
    // rows-only driver check (no oracleSql): exercises the binary
    // media schema + mapPartitions batch plumbing end-to-end; the
    // decode inside is the documented deterministic stub, and Java
    // wrap-around hash semantics aren't expressible in the oracle
    // rows-only driver check (no oracleSql): the pixels come from REAL
    // PNG payloads through the REAL ImageIO decode + integer-grid
    // dHash — DuckDB can decode none of it. Deterministic synthetic
    // near-dup families (4 docs per family, one exact-dup pair each)
    // → hamming-blocked pairs → the per-hamming histogram a dedup
    // config reads. Hash values + blocking completeness spec-pinned in
    // MultimodalSpec.
    "q_image_dedup" -> ((s, d) =>
      mediaPairsCached(s, d).collectFirst { case ("image", p) => p }.get
        .groupBy("hamming")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("hamming")),
    // rows-only driver check (no oracleSql): the thumbnail-extraction
    // channel — every clip's poster still (REAL PNG re-encode of the
    // decoded first frame) pairs back to its source video through the
    // shared dHash kernel; within-modality dedup never sees the pair.
    // Spec-pinned in MultimodalSpec.
    "q_cross_modal_dedup" -> ((s, d) => {
      val docs = GraphBuilder.table(s, d, "documents")
      // clip corpus + clip fingerprints ride the session memos (shared
      // with build:media_pairs / q_video_dedup); this query pays only
      // the poster-still synthesis + image decode — its own channel
      val stills = pipeline.Multimodal.syntheticPosterStills(
        docs, "doc_id", 1000000L, corpusIn = Some(videoCorpusCached(s, d)))
      pipeline.Multimodal.crossModalPairsFromHashes(
        pipeline.Multimodal.imageHashes(stills)
          .select(col("media_id"), col("dhash").as("h")),
        videoHashesCached(s, d)
          .select(col("media_id"), col("vhash").as("h")), 3)
        .groupBy("hamming")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("hamming")
    }),
    // rows-only driver check (no oracleSql): REAL WAV payloads through
    // the REAL javax.sound.sampled decode + integer band-energy sign
    // hash — same contract as q_image_dedup; spec-pinned in
    // MultimodalSpec.
    "q_audio_dedup" -> ((s, d) =>
      mediaPairsCached(s, d).collectFirst { case ("audio", p) => p }.get
        .groupBy("hamming")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("hamming")),
    // rows-only driver check (no oracleSql): REAL uncompressed-AVI
    // payloads through the REAL raw-frame decode + first-frame dHash —
    // completes the dedup modality matrix (text, embeddings, image,
    // audio, video); spec-pinned in MultimodalSpec.
    "q_video_dedup" -> ((s, d) =>
      mediaPairsCached(s, d).collectFirst { case ("video", p) => p }.get
        .groupBy("hamming")
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .orderBy("hamming")),
    "q_multimodal" -> ((s, d) => {
      val implicits = s.implicits
      import implicits._
      pipeline.Multimodal.extractFeatures(
        pipeline.Multimodal.asMedia(
          GraphBuilder.table(s, d, "documents").withColumn("payload",
            encode(col("text"), "UTF-8")),
          "doc_id", "payload", "image").as[pipeline.Multimodal.MediaRow])
        .toDF()
    }),
    "q_dedup_cosine" -> ((s, d) =>
      Similarity.cosineNearDup(GraphBuilder.table(s, d, "embeddings"))),
    "q_lang_id" -> ((s, d) =>
      TextOps.langId(GraphBuilder.table(s, d, "documents"))),
    "q_quality" -> ((s, d) =>
      TextOps.quality(GraphBuilder.table(s, d, "documents"))),
    "q_token_count" -> ((s, d) =>
      TextOps.tokenCounts(GraphBuilder.table(s, d, "documents"))),
    "q_fingerprint" -> ((s, d) =>
      TextOps.fingerprint(GraphBuilder.table(s, d, "documents"))),
    "q_decontam" -> ((s, d) =>
      Corpus.decontaminate(GraphBuilder.table(s, d, "documents"))),
    "q_repetition" -> ((s, d) =>
      Corpus.repetition(GraphBuilder.table(s, d, "documents"))),
    "q_gopher_rules" -> ((s, d) =>
      Corpus.gopherRules(GraphBuilder.table(s, d, "documents"))),
    "q_bm25" -> ((s, d) =>
      Corpus.bm25TopK(GraphBuilder.table(s, d, "documents"),
        Seq("spark", "query", "join", "vector"))),
    "q_rm3" -> ((s, d) =>
      Corpus.rm3Retrieval(GraphBuilder.table(s, d, "documents"),
        Seq("spark", "query", "join", "vector"))),
    // reference fulltext retrieval (index_advanced.rs:129/168): the
    // query string exercises the tokenizer (case fold + punctuation
    // strip) exactly as advanced_index_test.rs does
    "q_fulltext_or" -> ((s, d) =>
      graft.ops.Fulltext.searchAny(
        GraphBuilder.table(s, d, "documents"), "doc_id", "text",
        "Spark, vector!")),
    "q_fulltext_and" -> ((s, d) =>
      graft.ops.Fulltext.searchAll(
        GraphBuilder.table(s, d, "documents"), "doc_id", "text",
        "Spark query join")),
    // the reference's search composed with the engine's BM25 ranking
    // (fulltext tokenizer end to end)
    "q_fulltext_bm25" -> ((s, d) =>
      graft.ops.Fulltext.rankedSearch(
        GraphBuilder.table(s, d, "documents"), "doc_id", "text",
        "Spark, vector! query")),
    "q_rrf" -> ((s, d) =>
      Corpus.hybridRrf(GraphBuilder.table(s, d, "documents"),
        Seq("spark", "query", "join", "vector"))),
    "q_tfidf" -> ((s, d) =>
      Corpus.tfidfKeywords(GraphBuilder.table(s, d, "documents"))),
    // vocabK 64 ≥ the corpus vocabulary → the prune is a no-op (exact)
    "q_term_pmi" -> ((s, d) =>
      Corpus.termPmi(GraphBuilder.table(s, d, "documents"))),
    "q_term_clusters" -> ((s, d) =>
      Corpus.termGraphClusters(GraphBuilder.table(s, d, "documents"))),
    "q_lm_score" -> ((s, d) =>
      Corpus.lmScore(GraphBuilder.table(s, d, "documents"))),
    "q_lexical_diversity" -> ((s, d) =>
      TextOps.lexicalDiversity(GraphBuilder.table(s, d, "documents"))),
    "q_pii_density" -> ((s, d) =>
      Corpus.piiDensity(GraphBuilder.table(s, d, "documents"))),
    "q_pii_scan" -> ((s, d) =>
      TextOps.piiScan(GraphBuilder.table(s, d, "documents"))),
    "q_mix_sample" -> ((s, d) =>
      Corpus.mixSample(GraphBuilder.table(s, d, "documents"), mixWeights.toMap)),
    "q_boilerplate" -> ((s, d) =>
      Corpus.boilerplateGrams(GraphBuilder.table(s, d, "documents"), 0.5)),
    "q_zipf" -> ((s, d) =>
      Corpus.zipfCoverage(GraphBuilder.table(s, d, "documents"))),
    "q_quality_quantiles" -> ((s, d) =>
      Corpus.qualityQuantiles(GraphBuilder.table(s, d, "documents"))),
    "q_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(GraphBuilder.table(s, d, "embeddings"))),
    "q_semantic_audit" -> ((s, d) =>
      Dedup.semanticAudit(minhashPairsCached(s, d),
        GraphBuilder.table(s, d, "embeddings"))),

    // ---- §2.6 streaming (batch twins of the streaming plans) ----
    "q_events_window" -> ((s, d) =>
      EventStreams.windowedCountsBatch(EventStreams.eventsTable(s, d))),
    "q_events_sliding" -> ((s, d) =>
      EventStreams.slidingCountsBatch(EventStreams.eventsTable(s, d))),
    // capacity 16 ≥ the event-type alphabet → exact sketch regime
    "q_window_hh" -> ((s, d) =>
      pipeline.Sketches.windowHeavyHitters(EventStreams.eventsTable(s, d))),
    "q_window_distinct" -> ((s, d) =>
      pipeline.Sketches.windowDistinct(EventStreams.eventsTable(s, d))),
    "q_window_quantiles" -> ((s, d) =>
      pipeline.Sketches.windowQuantiles(EventStreams.eventsTable(s, d))),
    "q_window_top" -> ((s, d) =>
      pipeline.Sketches.windowTop(EventStreams.eventsTable(s, d))),
    // range join: clicks within one hour of the same user's signup —
    // bucketized equi-join, never a nested-loop
    "q_range_join" -> ((s, d) => {
      val ev = EventStreams.eventsTable(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sstart"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("send"),
          col("event_id").as("signup_id"))
      ops.RangeJoin.pointInInterval(clicks, signups, Seq("user_id"),
          "ts", "sstart", "send")
        .select(col("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("signup_id"))
        .orderBy("click_id", "signup_id")
    }),
    // as-of join: every purchase picks up the user's most recent prior
    // (inclusive) view value; union-window plan, one shuffle
    "q_asof_join" -> ((s, d) => {
      val ev = EventStreams.eventsTable(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"),
          col("value").as("view_value"))
      ops.AsofJoin.asof(purchases, views, Seq("user_id"), "ts", "vts",
          Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          round(col("value"), 6).as("purchase_value"),
          round(col("view_value"), 6).as("view_value"))
        .orderBy("event_id")
    }),
    "q_events_sessions" -> ((s, d) =>
      EventStreams.sessionsBatch(EventStreams.eventsTable(s, d))),
    "q_events_props" -> ((s, d) =>
      EventStreams.propsMetric(EventStreams.eventsTable(s, d))),
    "q_events_dedup" -> ((s, d) =>
      EventStreams.burstDedupBatch(EventStreams.eventsTable(s, d)))
  )

  def oracleSql: Map[String, String] = Map(
    "q_graph_nodes" -> (P +
      "SELECT label, CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes GROUP BY label"),
    "q_graph_edges" -> (P +
      "SELECT rel_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM edges GROUP BY rel_type"),
    "q_graph_summary" -> (P + """, ec AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT) AS self_loops
  FROM edges),
 nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
 pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (SELECT DISTINCT src, dst FROM edges)),
 mo AS (SELECT CAST(MAX(c) AS BIGINT) AS max_out FROM (SELECT COUNT(*) AS c FROM edges GROUP BY src)),
 mi AS (SELECT CAST(MAX(c) AS BIGINT) AS max_in FROM (SELECT COUNT(*) AS c FROM edges GROUP BY dst)),
 iso AS (SELECT CAST(COUNT(*) AS BIGINT) AS isolated FROM (
   SELECT DISTINCT id FROM nodes) n
   WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = n.id OR e.dst = n.id))
SELECT n_nodes, n_edges, n_edges - n_pairs AS multi_edges, self_loops,
  max_out, max_in, isolated,
  ROUND(CAST(n_edges AS DOUBLE) / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)), 9) AS density
FROM nc CROSS JOIN ec CROSS JOIN pc CROSS JOIN mo CROSS JOIN mi CROSS JOIN iso"""),
    "q_degree" -> (P + """, deg AS (
  SELECT n.id, n.name,
         CAST(COALESCE(o.c, 0) AS BIGINT) AS out_degree,
         CAST(COALESCE(i.c, 0) AS BIGINT) AS in_degree
  FROM nodes n
  LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o ON o.src = n.id
  LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i ON i.dst = n.id
  WHERE n.label = 'Nation')
SELECT id, name, out_degree, in_degree, out_degree + in_degree AS degree FROM deg"""),
    "q_degree_dist" -> (P + """, deg AS (
  SELECT COALESCE(o.c, 0) + COALESCE(i.c, 0) AS degree
  FROM nodes n
  LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o ON o.src = n.id
  LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i ON i.dst = n.id)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree"""),
    // Hill mirror: same degree derivation, same tie-safe top-(k+1)
    // value multiset, same ln-ratio fold (min row contributes 0)
    "q_hill_tail" -> (P + """, deg AS (
  SELECT COALESCE(o.c, 0) + COALESCE(i.c, 0) AS degree
  FROM nodes n
  LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o ON o.src = n.id
  LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i ON i.dst = n.id),
top AS (SELECT CAST(degree AS BIGINT) AS deg FROM deg WHERE degree > 0
  ORDER BY deg DESC LIMIT 51),
m AS (SELECT MIN(deg) AS dmin, CAST(COUNT(*) AS BIGINT) AS m FROM top)
SELECT CAST(m.m - 1 AS BIGINT) AS k_used, CAST(m.dmin AS BIGINT) AS xmin,
 ROUND(CASE WHEN SUM(ln(deg / m.dmin)) > 0.0
   THEN (m.m - 1) / SUM(ln(deg / m.dmin)) END, 6) AS alpha
FROM top, m GROUP BY m.dmin, m.m"""),
    "q_label_scan" ->
      "SELECT 300000000000000 + c_custkey AS id, c_name AS name, c_mktsegment AS mktsegment FROM customer",
    "q_prop_eq" ->
      "SELECT 300000000000000 + c_custkey AS id, c_name AS name, c_acctbal AS acctbal FROM customer WHERE c_mktsegment = 'BUILDING'",
    "q_prop_gt" ->
      "SELECT 500000000000000 + p_partkey AS id, p_name AS name, CAST(p_size AS BIGINT) AS psize FROM part WHERE p_size > 40",
    "q_prop_ge" ->
      "SELECT 500000000000000 + p_partkey AS id, p_name AS name, CAST(p_size AS BIGINT) AS psize FROM part WHERE p_size >= 45",
    "q_prop_between" ->
      "SELECT 500000000000000 + p_partkey AS id, p_name AS name, CAST(p_size AS BIGINT) AS psize FROM part WHERE p_size BETWEEN 10 AND 15",
    "q_out" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 3",
    "q_in" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_size > 45",
    "q_var_length" -> (P + """, f0 AS (
  SELECT DISTINCT 300000000000000 + c_custkey AS id FROM customer WHERE c_nationkey = 1),
f1 AS (SELECT DISTINCT e.dst AS id FROM edges e JOIN f0 ON e.src = f0.id WHERE e.rel_type IN ('PLACED','CONTAINS')),
f2 AS (SELECT DISTINCT e.dst AS id FROM edges e JOIN f1 ON e.src = f1.id WHERE e.rel_type IN ('PLACED','CONTAINS')),
r AS (SELECT DISTINCT id FROM (SELECT id FROM f1 UNION ALL SELECT id FROM f2))
SELECT n.label AS label, CAST(COUNT(*) AS BIGINT) AS cnt FROM r JOIN nodes n ON n.id = r.id GROUP BY n.label"""),
    "q_distinct" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM (SELECT DISTINCT l.l_partkey FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 3)",
    "q_order_page" ->
      "SELECT 300000000000000 + c_custkey AS id, c_name AS name, c_acctbal AS acctbal FROM customer ORDER BY c_acctbal DESC, id ASC LIMIT 10 OFFSET 5",
    "q_count" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM customer",
    "q_sum_avg" ->
      "SELECT CAST(SUM(p_size) AS BIGINT) AS sum_val, ROUND(AVG(CAST(p_size AS DOUBLE)), 6) AS avg_val FROM part",
    "q_percentile" ->
      "SELECT ROUND(quantile_cont(c_acctbal, 0.5), 6) AS percentile_val FROM customer",
    "q_stats" ->
      "SELECT ROUND(stddev_samp(c_acctbal), 6) AS stdev_val, ROUND(var_samp(c_acctbal), 4) AS variance_val FROM customer",

    // ---- §2.4 graph algorithms ----
    "q_reachable" -> Oracles.bfsSql(
      P + ", usym AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)",
      "usym", CustomerTag * TAG + 1L, 3),
    "q_shortest_path" -> Oracles.bfsSql(
      "WITH " + DerivedGraphs.cooccurSql, "psym", PartTag * TAG + 1L, 3),
    "q_weighted_path" -> Oracles.bellmanFordSql(
      P + ", wsym AS (SELECT src, dst, weight FROM edges UNION ALL SELECT dst AS src, src AS dst, weight FROM edges)",
      "wsym", CustomerTag * TAG + 1L, 4),
    "q_degree_centrality" -> Oracles.degreeCentralitySql,
    "q_betweenness" -> Oracles.betweennessSql,
    "q_betweenness_sampled" -> Oracles.betweennessSampledSql(500),
    "q_components" -> Oracles.componentsSql,
    "q_scc" -> Oracles.sccSql,
    "q_scc_large" -> Oracles.sccLargeSql,
    "q_simple_paths" -> Oracles.simplePathsSql(
      GraphBuilder.NationTag * TAG + 9L, GraphBuilder.NationTag * TAG + 3L, 4),
    "q_all_shortest" -> Oracles.allShortestSql(
      GraphBuilder.NationTag * TAG + 9L, GraphBuilder.NationTag * TAG + 3L, 6),
    "q_dfs_order" -> Oracles.dfsOrderSql(GraphBuilder.NationTag * TAG + 0L),
    "q_astar" -> Oracles.aStarSql(
      GraphBuilder.NationTag * TAG + 9L, GraphBuilder.NationTag * TAG + 3L, 12),
    "q_pagerank" -> Oracles.pageRankSql(0.85, 10),
    "q_kcore" -> Oracles.kcoreSql(80, 10),
    "q_core_numbers" -> Oracles.coreNumbersSql(48),
    "q_louvain" -> Oracles.louvainSql,
    "q_louvain_multi" -> Oracles.louvainMultiSql(3),
    "q_closeness" -> Oracles.closenessSql(24),
    "q_eccentricity" -> Oracles.eccentricitySql(24),
    "q_diameter" -> Oracles.diameterSql(24),
    "q_layout_circle" -> Oracles.circleLayoutSql(800.0, 600.0, 50.0),
    "q_subgraph" -> Oracles.subgraphSql(3L, 2),
    "q_layout_layers" -> Oracles.hierarchicalLayoutSql(24, 800.0, 50.0, 100.0),
    "q_anf" -> Oracles.anfSql(3, 4),
    "q_modularity" -> Oracles.modularitySql,
    "q_neighbor_agg" -> Oracles.neighborAggSql(2),
    "q_ktruss" -> Oracles.kTrussSql(4, 10),
    "q_assortativity" -> Oracles.assortativitySql,
    "q_topo_layers" -> Oracles.dagLongestSql(weighted = false, 24),
    "q_critical_path" -> Oracles.dagLongestSql(weighted = true, 24),
    "q_simrank" -> Oracles.simRankSql(5, 0.8),
    "q_katz" -> Oracles.katzSql(8, 0.1),
    "q_eigenvector" -> Oracles.eigenvectorSql(12),
    "q_reciprocity" -> Oracles.reciprocitySql,
    "q_weighted_pagerank" -> Oracles.weightedPageRankSql(0.85, 10),
    "q_rich_club" -> Oracles.richClubSql(Seq(115, 130, 150)),
    "q_edge_jaccard" -> Oracles.edgeJaccardSql,
    "q_edge_jaccard_capped" -> Oracles.edgeJaccardCappedSql(150L),
    "q_edge_hubs" -> (Oracles.degreeHubsSql(150L) + " ORDER BY id"),
    "q_hits" -> Oracles.hitsSql(8),
    "q_link_predict" -> Oracles.linkPredictSql(PartTag * TAG + 200L, 50),
    "q_mst" -> Oracles.mstSql(),
    "q_mis" -> Oracles.misSql(),
    "q_coloring" -> Oracles.coloringSql(),
    "q_ppr" -> Oracles.pprSql(pprSources, 0.85, 10),
    "q_label_prop" -> Oracles.labelPropSql(5),
    "q_walks" -> Oracles.walksSql(8, 2),
    "q_triangles" -> Oracles.trianglesSql,
    "q_clustering_null" -> Oracles.clusteringNullSql,
    "q_clustering" -> Oracles.clusteringSql,

    "q_constraints" ->
      """SELECT 'Customer' AS label, 'mktsegment' AS property, 'uniqueness' AS kind,
       c_mktsegment AS value, CAST(COUNT(*) AS BIGINT) AS n
FROM customer GROUP BY c_mktsegment HAVING COUNT(*) > 1""",

    // ---- §2.3 Cypher subset ----
    "q_cypher_match" ->
      "SELECT c_name AS cname, o_totalprice AS totalprice FROM customer JOIN orders ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING'",
    "q_cypher_optional" ->
      "SELECT c_name AS cname, o_totalprice AS totalprice FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = 'F' WHERE c_acctbal < -900",
    // path-multiset semantics: one row per simple path of length 1..2
    // (mirrors the Spark compiler's walk enumeration, traversal.rs:183)
    "q_cypher_varlen" -> (P.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, s0 AS (SELECT id FROM nodes WHERE label = 'Customer' AND nationkey = 1),
w AS (
  SELECT s0.id AS s, e.dst AS t, [s0.id, e.dst] AS path, 1 AS depth
  FROM s0 JOIN edges e ON e.src = s0.id AND e.dst <> s0.id
  UNION ALL
  SELECT w.s, e.dst, list_append(w.path, e.dst), w.depth + 1
  FROM w JOIN edges e ON e.src = w.t
  WHERE w.depth < 2 AND NOT list_contains(w.path, e.dst))
SELECT n.label AS label, CAST(COUNT(*) AS BIGINT) AS cnt FROM w JOIN nodes n ON n.id = w.t GROUP BY n.label"""),
    "q_cypher_where" ->
      "SELECT p_name AS name, CAST(p_size AS BIGINT) AS psize, p_brand AS brand FROM part WHERE p_size >= 45 AND (p_brand = 'Brand#13' OR p_brand = 'Brand#42')",
    "q_cypher_regex" ->
      "SELECT 200000000000000 + CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation WHERE regexp_matches(n_name, 'NATION_1')",
    "q_cypher_in" ->
      "SELECT 200000000000000 + CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12')",
    "q_cypher_listprop" -> (P +
      "SELECT id, totalprice FROM nodes WHERE label = 'Order' AND list_contains(partkeys, 500000000000042)"),
    "q_listprop_size" -> (P +
      "SELECT CAST(len(partkeys) AS BIGINT) AS n_parts, CAST(COUNT(*) AS BIGINT) AS n_orders FROM nodes WHERE label = 'Order' GROUP BY 1"),
    "q_cypher_agg" ->
      "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(o_totalprice), 4) AS total FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1",
    "q_cypher_order" ->
      "SELECT s_name AS name, s_acctbal AS acctbal FROM supplier ORDER BY s_acctbal DESC, s_name ASC LIMIT 7 OFFSET 3",
    "q_cypher_percentile" ->
      "SELECT c_mktsegment AS seg, ROUND(quantile_cont(c_acctbal, 0.5), 6) AS med, quantile_disc(c_acctbal, 0.25) AS q1, ROUND(stddev_pop(c_acctbal), 6) AS sdp FROM customer GROUP BY 1",
    "q_cypher_collect" ->
      "SELECT r_name AS region, CAST(COUNT(*) AS BIGINT) AS cnt, string_agg(n_name, ',' ORDER BY n_name) AS nations FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1",
    "q_cypher_with" ->
      "SELECT CAST(c_nationkey AS BIGINT) AS nk, CAST(COUNT(*) AS BIGINT) AS cnt FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1 HAVING COUNT(*) > 700",
    "q_cypher_union" ->
      "SELECT r_name AS name FROM region UNION ALL SELECT n_name AS name FROM nation",
    "q_cypher_undirected" -> (P + """, nid AS (SELECT id FROM nodes WHERE label = 'Nation' AND name = 'NATION_3'),
nb AS (SELECT e.dst AS t FROM edges e JOIN nid ON e.src = nid.id
       UNION ALL SELECT e.src FROM edges e JOIN nid ON e.dst = nid.id)
SELECT n.label AS label, CAST(COUNT(*) AS BIGINT) AS cnt FROM nb JOIN nodes n ON n.id = nb.t GROUP BY n.label"""),
    "q_cypher_incoming" ->
      "SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 5",
    "q_cypher_call" ->
      """SELECT r_name AS rname, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS nations
FROM region LEFT JOIN (SELECT n_regionkey AS rk, COUNT(*) AS cnt FROM nation
                       WHERE n_name = 'NATION_3' GROUP BY 1) c ON r_regionkey = c.rk""",

    // ---- §2.5 LLM-pipeline operators ----
    "q_dedup_exact" -> PipelineOracles.dedupExactSql,
    "q_dedup_minhash" -> PipelineOracles.dedupMinhashSql,
    "q_dedup_simhash" -> PipelineOracles.dedupSimhashSql,
    "q_setsim_join" -> PipelineOracles.setSimJoinSql(3, 5),
    "q_dedup_clusters" -> PipelineOracles.dedupClustersSql,
    "q_dedup_conductance" -> PipelineOracles.dedupConductanceSql,
    "q_dedup_modularity" -> PipelineOracles.dedupModularitySql,
    "q_containment" -> PipelineOracles.containmentSql,
    "q_sample_hash" -> PipelineOracles.hashSampleSql(10),
    "q_segment_dedup" -> PipelineOracles.segmentDedupSql(10, 2),
    "q_dup_spans" -> PipelineOracles.dupSpansSql(10, 2),
    "q_unicode_audit" -> PipelineOracles.unicodeAuditSql,
    "q_strip_dup_spans" -> PipelineOracles.stripDupSpansSql(10, 2),
    "q_source_overlap" -> PipelineOracles.sourceOverlapSql,
    "q_mix_report" -> PipelineOracles.mixReportSql,
    "q_temp_mix" -> PipelineOracles.temperatureMixSql(0.5, 100000L),
    "q_dedup_canonical" -> PipelineOracles.canonicalDedupSql,
    "q_minhash_audit" -> PipelineOracles.minhashAuditSql,
    "q_novelty" -> PipelineOracles.noveltySql,
    "q_substring_dup" -> PipelineOracles.substringDupSql,
    "q_feature_corr" -> PipelineOracles.featureCorrSql,
    "q_linreg" -> PipelineOracles.linRegSql,
    "q_mutual_info" -> PipelineOracles.mutualInfoSql,
    "q_chi2" -> PipelineOracles.chiSquaredSql,
    "q_benford" -> PipelineOracles.benfordSql,
    "q_welch_t" -> PipelineOracles.welchTSql,
    "q_ks_test" -> PipelineOracles.ksBySourceSql,
    "q_doc_entropy" -> PipelineOracles.docEntropySql,
    "q_conductance" -> Oracles.conductanceSql,
    "q_theil" -> PipelineOracles.theilBySourceSql,
    "q_jsd" -> PipelineOracles.jsdBySourceSql,
    "q_acf" -> PipelineOracles.dailyAcfSql(7),
    "q_mann_whitney" -> PipelineOracles.mannWhitneySql,
    "q_anova" -> PipelineOracles.anovaFSql,
    "q_kruskal" -> PipelineOracles.kruskalWallisSql,
    "q_spearman" -> PipelineOracles.spearmanSql,
    "q_lexical_profile" -> PipelineOracles.lexicalProfileSql,
    "q_naive_bayes" -> PipelineOracles.naiveBayesSql,
    "q_jaro_match" -> PipelineOracles.jaroMatchSql(0.8, 1000L),
    "q_readability" -> PipelineOracles.readabilitySql,
    "q_heaps" -> PipelineOracles.heapsFitSql,
    "q_ewma" -> PipelineOracles.ewmaDailySql(30),
    "q_mann_kendall" -> PipelineOracles.mannKendallSql,
    "q_pettitt" -> PipelineOracles.pettittSql,
    "q_page_hinkley" -> PipelineOracles.pageHinkleySql(0.0, 3.0),
    "q_survival" -> PipelineOracles.survivalSql(3),
    "q_logrank" -> PipelineOracles.logRankSql(3),
    "q_good_turing" -> PipelineOracles.goodTuringSql(10),
    "q_bootstrap_ci" -> PipelineOracles.bootstrapMeanCiSql("n_chars", 32),
    "q_theil_sen" -> PipelineOracles.theilSenSql,
    "q_runs_test" -> PipelineOracles.runsTestSql,
    "q_kendall_tau" -> PipelineOracles.kendallTauSql(),
    "q_seasonality" -> PipelineOracles.seasonalitySql,
    "q_cohens_d" -> PipelineOracles.cohensDSql,
    "q_cliffs_delta" -> PipelineOracles.cliffsDeltaSql,
    "q_brown_forsythe" -> PipelineOracles.brownForsytheSql,
    "q_jarque_bera" -> PipelineOracles.jarqueBeraSql,
    "q_square_count" -> Oracles.squareCountSql,
    "q_square_count_capped" -> Oracles.squareCountCappedSql(24L),
    "q_graph_entropy" -> Oracles.graphEntropySql,
    "q_silhouette" -> PipelineOracles.silhouetteSql(8, 3, 1000),
    "q_phrase_stats" -> PipelineOracles.phraseStatsSql(5L, 5.0, 20),
    "q_stopword_profile" ->
      PipelineOracles.stopwordProfileSql(Corpus.stopwords),
    "q_edit_match" -> PipelineOracles.editMatchSql(4, 1000L),
    "q_holt" -> PipelineOracles.holtDailySql(16),
    "q_bounce_rate" -> PipelineOracles.bounceRateSql(30),
    "q_new_returning" -> PipelineOracles.newReturningSql,
    "q_banding_curve" ->
      PipelineOracles.bandingCurveSql(16, Seq((2, 8), (4, 4), (8, 2)), 1, 2),
    "q_k_anonymity" -> PipelineOracles.kAnonymitySql(100L, Seq(2, 5, 10)),
    "q_dp_histogram" -> PipelineOracles.dpHistogramSql(1.0),
    "q_simhash_curve" -> PipelineOracles.simhashCurveSql(1, 2),
    "q_jaccard_sweep" -> PipelineOracles.jaccardSweepSql,
    "q_skyline" -> PipelineOracles.skylineSql,
    "q_anisotropy" -> PipelineOracles.anisotropySql(1000),
    "q_winsor_mean" -> PipelineOracles.winsorizedMeanSql(0.1),
    "q_zipf_fit" -> PipelineOracles.zipfFitSql(200),
    "q_quantile_norm" -> PipelineOracles.quantileNormSql,
    "q_neyman_alloc" -> PipelineOracles.neymanAllocationSql(1000L),
    "q_mad_outliers" -> PipelineOracles.madOutliersSql(3),
    "q_trimmed_mean" -> PipelineOracles.trimmedMeanSql(0.1),
    "q_embed_dispersion" -> PipelineOracles.embedDispersionSql,
    "q_pii_cooccur" -> PipelineOracles.piiCooccurSql,
    "q_code_switch" -> PipelineOracles.codeSwitchSql(0.9),
    "q_funnel_latency" -> PipelineOracles.funnelLatencySql("signup", "purchase"),
    "q_markov_stationary" -> PipelineOracles.markovStationarySql(8),
    "q_entropy_rate" -> PipelineOracles.entropyRateSql(8),
    "q_shard_mix" -> PipelineOracles.shardMixSql(16),
    "q_incremental_dedup" -> PipelineOracles.incrementalDedupSql(80),
    "q_vocab_overlap" -> PipelineOracles.vocabOverlapSql,
    "q_degree_anonymity" -> Oracles.degreeAnonymitySql,
    "q_burrows_delta" -> PipelineOracles.burrowsDeltaSql(40),
    "q_charset_profile" -> PipelineOracles.charsetProfileSql,
    "q_hapax" -> PipelineOracles.hapaxSql,
    "q_skipgram" -> PipelineOracles.skipgramSql(2, 30),
    "q_hubness" -> PipelineOracles.hubnessSql(3),
    "q_triad_census" -> Oracles.triadCensusSql,
    "q_triad_full" -> Oracles.triadCensusFullSql,
    "q_attack_curve" -> Oracles.attackCurveSql(),
    "q_onion" -> Oracles.onionSql(),
    "q_lorenz" -> PipelineOracles.lorenzSql,
    "q_audience_overlap" -> PipelineOracles.audienceOverlapSql,
    "q_entity_density" -> PipelineOracles.entityDensitySql,
    "q_rolling_volume" -> PipelineOracles.rollingVolumeSql,
    "q_churn" -> PipelineOracles.churnSql,
    "q_psi" -> PipelineOracles.psiSql,
    "q_sample_bias" -> PipelineOracles.sampleBiasSql(10),
    "q_activity_tail" -> PipelineOracles.activityTailSql,
    "q_dow_profile" -> PipelineOracles.dowProfileSql,
    "q_attribution" -> PipelineOracles.attributionSql(168),
    "q_split_leakage" -> PipelineOracles.splitLeakageSql(90, 5),
    "q_percolation" -> Oracles.percolationSql,
    "q_local_bridges" -> Oracles.localBridgesSql,
    "q_block_matrix" -> Oracles.blockMatrixSql,
    "q_label_assort" -> Oracles.labelAssortativitySql,
    "q_lang_confusion" -> PipelineOracles.langConfusionSql,
    "q_quality_calibration" -> PipelineOracles.qualityCalibrationSql(),
    "q_norm_profile" -> PipelineOracles.normProfileSql,
    "q_knn_profile" -> Oracles.knnProfileSql,
    "q_quant_error" -> PipelineOracles.quantErrorSql,
    "q_stickiness" -> PipelineOracles.stickinessSql,
    "q_behavioral_entropy" -> PipelineOracles.behavioralEntropySql,
    "q_purchase_intervals" -> PipelineOracles.purchaseIntervalsSql,
    "q_session_stats" -> PipelineOracles.sessionStatsSql(),
    "q_first_touch" -> PipelineOracles.firstTouchSql,
    "q_type_affinity" -> PipelineOracles.typeAffinitySql,
    "q_term_burstiness" -> PipelineOracles.termBurstinessSql(),
    "q_char_bigram_entropy" -> PipelineOracles.charBigramEntropySql,
    "q_pca2" -> PipelineOracles.pcaSecondSql(15),
    "q_label_balance" -> PipelineOracles.labelBalanceSql,
    "q_embed_outliers" -> PipelineOracles.embedOutliersSql(),
    "q_vocab_coverage" -> PipelineOracles.vocabCoverageSql(),
    "q_disparity" -> Oracles.disparitySql,
    "q_hour_profile" -> PipelineOracles.hourProfileSql,
    "q_cohort_value" -> PipelineOracles.cohortValueSql,
    "q_cluster_sizes" -> PipelineOracles.clusterSizesSql,
    "q_dedup_retention" -> PipelineOracles.dedupRetentionSql,
    "q_ck_curve" -> Oracles.ckCurveSql,
    "q_degree_core_ratio" -> Oracles.degreeCoreRatioSql(48),
    "q_dayn_retention" -> PipelineOracles.dayNRetentionSql(),
    "q_dim_variance" -> PipelineOracles.dimVarianceSql,
    "q_bloom_fpr" -> PipelineOracles.bloomFprAuditSql(5, 1 << 20, 4),
    "q_user_lifespan" -> PipelineOracles.userLifespanSql,
    "q_ann_probe_curve" -> PipelineOracles.annProbeCurveSql(),
    "q_token_budget" -> PipelineOracles.tokenBudgetSql(200000L),
    "q_quality_dup_lift" -> PipelineOracles.qualityDupLiftSql,
    "q_centroid_sim" -> PipelineOracles.centroidSimSql,
    "q_dup_inflation" -> PipelineOracles.dupInflationSql,
    "q_winnow" -> PipelineOracles.winnowSql(5, 8),
    "q_winnow_pairs" -> PipelineOracles.winnowPairsSql(5, 8, 2, 50),
    "q_pack_bins" -> PipelineOracles.packBinsSql(512L),
    "q_vocab_topk" -> PipelineOracles.vocabTopKSql(50),
    "q_heavy_hitters" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS est
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term <> '' GROUP BY term ORDER BY est DESC, term ASC LIMIT 20""",
    // exact KMV regime (capacity ≥ per-source vocab): sketch answer
    // equals the true distinct count, no hash formula to mirror
    "q_distinct_kmv" ->
      """SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_distinct
FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term <> '' GROUP BY source ORDER BY source""",
    // exact StreamHist regime (capacity ≥ per-source distinct lengths):
    // sketch quantiles equal DuckDB's quantile_disc
    "q_len_quantiles" ->
      """SELECT source, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50,
       CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90
FROM documents GROUP BY source ORDER BY source""",
    "q_top_docs" -> PipelineOracles.topDocsSql(3),
    "q_quota_sample" -> PipelineOracles.quotaSampleSql(5),
    "q_weighted_sample" -> PipelineOracles.weightedSampleSql(100),
    "q_bpe_pairs" -> PipelineOracles.bpePairsSql(30),
    "q_kmv_setops" -> PipelineOracles.sourceSetOpsSql,
    "q_rollup" -> PipelineOracles.corpusRollupSql,
    "q_hashed_features" -> PipelineOracles.hashedFeaturesSql(64),
    "q_source_kl" ->
      """WITH tk AS (SELECT source, term
  FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term <> ''),
 st AS (SELECT source, term, COUNT(*) AS c_st FROM tk GROUP BY 1, 2),
 stot AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY 1),
 ct AS (SELECT term, SUM(c_st) AS c_t FROM st GROUP BY 1),
 nn AS (SELECT SUM(c_t)::DOUBLE AS n FROM ct)
SELECT source,
       ROUND(SUM((CAST(c_st AS DOUBLE) / n_s) *
                 ln((CAST(c_st AS DOUBLE) * nn.n) /
                    (CAST(n_s AS DOUBLE) * c_t))), 6) AS kl
FROM st JOIN stot USING (source) JOIN ct USING (term) CROSS JOIN nn
GROUP BY source ORDER BY source""",
    "q_anomalies" -> PipelineOracles.windowAnomaliesSql(2.0),
    "q_decay_score" -> PipelineOracles.decayScoreSql(24.0),
    "q_interarrival" ->
      """WITH g AS (SELECT user_id,
  date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(AVG(gap), 6) AS avg_gap_s, CAST(MAX(gap) AS BIGINT) AS max_gap_s
FROM g GROUP BY 1 ORDER BY 1""",
    "q_funnel" ->
      """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
 c AS (SELECT DISTINCT s.event_id FROM s
       JOIN events p ON p.user_id = s.user_id AND p.event_type = 'purchase'
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 168 HOURS)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_starts,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_converted,
       ROUND((SELECT COUNT(*) FROM c)::DOUBLE / (SELECT COUNT(*) FROM s), 6) AS rate""",
    // integer epoch-week buckets (floor(epoch/604800)) — engine- and
    // timezone-free; COUNT(*) over the deduped (user, week) frame
    "q_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
  CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS wk FROM events),
 ch AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1)
SELECT cohort_wk, wk - cohort_wk AS week_offset, CAST(COUNT(*) AS BIGINT) AS users
FROM uw JOIN ch USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_pivot" -> PipelineOracles.eventTypePivotSql(
      Seq("click", "error", "purchase", "signup", "view")),
    "q_transitions" ->
      """WITH s AS (SELECT event_type AS from_type,
  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events),
 c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
  WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
  ROUND(n / (SUM(n) OVER (PARTITION BY from_type)), 6) AS p
FROM c ORDER BY 1, 2""",
    "q_profile" -> PipelineOracles.numericProfileSql(
      "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "q_profile_str" -> PipelineOracles.stringProfileSql(
      "documents", Seq("lang", "source", "text")),
    "q_ppl_buckets" -> PipelineOracles.pplBucketsSql(3),
    "q_funnel_steps" -> PipelineOracles.funnelStepsSql(
      Seq("signup", "view", "click", "purchase"), 168),
    // NTILE orders mirror the Spark windows exactly (desc recency /
    // asc frequency / asc monetary, user_id tiebreaks)
    "q_rfm" ->
      """WITH tm AS (SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events),
 per AS (SELECT user_id,
   tm.tmax - MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS recency_s,
   CAST(COUNT(*) AS BIGINT) AS frequency,
   ROUND(SUM(value), 6) AS monetary
  FROM events CROSS JOIN tm GROUP BY user_id, tm.tmax)
SELECT user_id, recency_s, frequency, monetary,
  CAST(NTILE(5) OVER (ORDER BY recency_s DESC, user_id ASC) AS BIGINT) AS r,
  CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id ASC) AS BIGINT) AS f,
  CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id ASC) AS BIGINT) AS m,
  CAST(NTILE(5) OVER (ORDER BY recency_s DESC, user_id ASC) * 100 +
       NTILE(5) OVER (ORDER BY frequency ASC, user_id ASC) * 10 +
       NTILE(5) OVER (ORDER BY monetary ASC, user_id ASC) AS BIGINT) AS segment
FROM per ORDER BY user_id""",
    "q_cube" -> PipelineOracles.sourceLangCubeSql,
    // same rank-formula op order: (2.0·iw)/(k·tot) − (k+1.0)/k
    "q_gini" ->
      """WITH per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
 rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n ASC, source ASC) AS i FROM per),
 ag AS (SELECT COUNT(*) AS k, SUM(n) AS tot, SUM(i * n) AS iw FROM rk)
SELECT ROUND((2.0 * iw) / (k * tot) - (k + 1.0) / k, 6) AS gini,
  CAST(k AS BIGINT) AS n_sources, CAST(tot AS BIGINT) AS n_docs FROM ag""",
    "q_zorder" -> PipelineOracles.zorderStatsSql(8, 6),
    "q_embed_centroids" -> PipelineOracles.embedCentroidsSql,
    "q_embed_stats" -> PipelineOracles.embedStatsSql,
    "q_chunks" -> PipelineOracles.chunkDocsSql(200, 150),
    "q_len_histogram" -> PipelineOracles.lenHistogramSql(50L),
    "q_corpus_clean" -> PipelineOracles.corpusCleanSql(0.5),
    "q_ngram_jaccard" -> PipelineOracles.ngramJaccardSql,
    "q_cosine_topk" -> PipelineOracles.cosineTopKSql,
    "q_mmr" -> PipelineOracles.mmrSql(20, 5, 7),
    "q_ann_recall" -> PipelineOracles.annRecallSql(3),
    "q_ann_ivf_exact" -> PipelineOracles.annIvfExactSql(8, 3, 2, 3, 1000),
    "q_ann_pq" -> PipelineOracles.annPqSql(8, 4, 2, 3, 1000),
    "q_ann_ivfpq" -> PipelineOracles.annIvfPqSql(4, 2, 4, 4, 2, 2, 3, 1000),
    "q_pq_error" -> PipelineOracles.pqErrorSql(8, 4, 2, 1000),
    "q_pq_recall" -> PipelineOracles.pqRecallSql(8, 4, 2, 3, 1000),
    "q_hazard" -> PipelineOracles.hazardSql(3),
    "q_pca" -> PipelineOracles.pcaTopSql(15),
    "q_effective_rank" -> PipelineOracles.effectiveRankSql,
    "q_filter_kappa" -> PipelineOracles.filterKappaSql(),
    "q_ece" -> PipelineOracles.calibrationEceSql(),
    "q_dp_mean" -> PipelineOracles.dpMeanSql(),
    // q_compress_ratio: deliberately NO oracle entry — DuckDB has no
    // deflate; the driver records the rows-only check and the kernel
    // is spec-pinned on known-ratio fixtures (TextOpsSpec)
    "q_pca_project" -> PipelineOracles.pcaProjectSql(15),
    "q_ann_lsh" -> PipelineOracles.annLshSql,
    "q_dedup_cosine" -> PipelineOracles.cosineNearDupSql(8, 0.9),
    "q_lang_id" -> PipelineOracles.langIdSql,
    "q_quality" -> PipelineOracles.qualitySql,
    "q_token_count" -> PipelineOracles.tokenCountSql,
    "q_fingerprint" -> PipelineOracles.fingerprintSql,
    "q_decontam" -> PipelineOracles.decontaminateSql(5),
    "q_repetition" -> PipelineOracles.repetitionSql,
    "q_gopher_rules" -> PipelineOracles.gopherRulesSql(),
    "q_bm25" -> PipelineOracles.bm25Sql(
      Seq("spark", "query", "join", "vector"), 1.2, 0.75, 20),
    "q_rm3" -> PipelineOracles.rm3Sql(
      Seq("spark", "query", "join", "vector"), 1.2, 0.75, 5, 5, 0.5, 20),
    // both engines receive the SAME tokenized literal list (the query
    // strings "Spark, vector!" / "Spark query join" tokenize driver-side)
    "q_fulltext_or" -> PipelineOracles.fulltextSql(
      graft.ops.Fulltext.tokenizeQuery("Spark, vector!"), requireAll = false),
    "q_fulltext_and" -> PipelineOracles.fulltextSql(
      graft.ops.Fulltext.tokenizeQuery("Spark query join"), requireAll = true),
    "q_fulltext_bm25" -> PipelineOracles.fulltextBm25Sql(
      graft.ops.Fulltext.tokenizeQuery("Spark, vector! query"), 1.2, 0.75, 20),
    "q_rrf" -> PipelineOracles.hybridRrfSql(
      Seq("spark", "query", "join", "vector"), 1.2, 0.75, 2000.0, 50, 60, 20),
    "q_tfidf" -> PipelineOracles.tfidfSql(3),
    "q_term_pmi" -> PipelineOracles.termPmiSql(2, 50),
    "q_term_clusters" -> PipelineOracles.termGraphClustersSql(2, 50),
    "q_lm_score" -> PipelineOracles.lmScoreSql,
    "q_lm_bigram" -> PipelineOracles.bigramNllSql,
    "q_lm_kn" -> PipelineOracles.kneserNeySql,
    "q_split" -> PipelineOracles.splitSql(90, 5),
    "q_contam_score" -> PipelineOracles.contamScoreSql(5),
    "q_bpe_apply" -> PipelineOracles.bpeApplySql(12),
    "q_bpe_train" -> PipelineOracles.bpeTrainSql(10),
    "q_bpe_train_seg" -> PipelineOracles.bpeTrainSegSql(10),
    "q_jl_project" -> PipelineOracles.jlProjectSql(16),
    "q_inverted_index" -> PipelineOracles.invertedIndexSql(20),
    "q_token_fertility" -> PipelineOracles.tokenFertilitySql(12),
    "q_skew_join" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1""",
    "q_dsir" -> PipelineOracles.dsirWeightsSql("en", 64, 40),
    "q_semdedup" -> PipelineOracles.semDedupSql(0.3),
    "q_fuzzy_match" -> PipelineOracles.fuzzyMatchSql(3, 1000L),
    "q_cms" -> PipelineOracles.cmsSql(3, 1024, 20),
    "q_window_cms" -> PipelineOracles.windowCmsSql(3, 256),
    "q_hll" -> PipelineOracles.hllSql(8),
    // mBits MUST equal the Scala default (1 << 20): the two engines'
    // accepted sets only agree when the bit space is identical (the
    // corpus' shared vocabulary makes FPs vanishingly rare, which let
    // a 1 << 23 oracle pass for nine rounds — fixed round 10)
    "q_bloom_decontam" -> PipelineOracles.bloomDecontamSql(5, 1 << 20, 4),
    "q_pii_scan" -> PipelineOracles.piiScanSql,
    "q_lexical_diversity" -> PipelineOracles.lexicalDiversitySql,
    "q_token_entropy" -> PipelineOracles.tokenEntropySql,
    "q_basket_pairs" -> PipelineOracles.basketPairsSql(2L, 2L, 100),
    "q_cusum" -> PipelineOracles.cusumSql(1L, 8L),
    "q_burstiness" -> PipelineOracles.burstinessSql,
    "q_cusum_online" -> PipelineOracles.cusumOnlineSql(5L, 1L, 8L),
    "q_type_drift" -> PipelineOracles.typeDriftSql,
    "q_event_paths" -> PipelineOracles.eventPathsSql(25),
    "q_pii_density" -> PipelineOracles.piiDensitySql,
    "q_mix_sample" -> PipelineOracles.mixSampleSql(mixWeights),
    "q_training_mix" -> PipelineOracles.trainingMixSql(mixWeights, 0.5, 5, 24, 90, 5),
    "q_boilerplate" -> PipelineOracles.boilerplateGramsSql(0.5),
    "q_zipf" -> PipelineOracles.zipfCoverageSql(Seq(10, 100, 1000)),
    "q_quality_quantiles" -> PipelineOracles.qualityQuantilesSql,
    "q_quantize_int8" -> PipelineOracles.quantizeInt8Sql,
    "q_semantic_audit" -> PipelineOracles.semanticAuditSql,

    // ---- §2.6 streaming batch twins ----
    "q_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 4) AS total
FROM events GROUP BY 1, 2""",
    "q_window_hh" ->
      """SELECT wstart, term, est, rn FROM (
  SELECT wstart, term, est,
         CAST(ROW_NUMBER() OVER (PARTITION BY wstart ORDER BY est DESC, term ASC) AS BIGINT) AS rn
  FROM (SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
               event_type AS term, CAST(COUNT(*) AS BIGINT) AS est
        FROM events GROUP BY 1, 2) g) t WHERE rn <= 3""",
    "q_window_distinct" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY 1 ORDER BY 1""",
    "q_window_quantiles" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       ROUND(quantile_disc(value, 0.5), 6) AS p50,
       ROUND(quantile_disc(value, 0.95), 6) AS p95
FROM events GROUP BY 1 ORDER BY 1""",
    "q_window_top" ->
      """SELECT wstart, rn, event_id, ROUND(value, 6) AS value FROM (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
         event_id, value,
         CAST(ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
              ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
  FROM events) t WHERE rn <= 3 ORDER BY wstart, rn""",
    "q_range_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts, s.event_id AS signup_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON c.user_id = s.user_id
 AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 1 HOUR
ORDER BY click_id, signup_id""",
    // independent oracle: DuckDB's NATIVE ASOF JOIN, not a window
    // re-formulation of the Spark plan
    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       ROUND(l.value, 6) AS purchase_value, ROUND(r.value, 6) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id""",
    // sliding 1h/30min: every event expands into exactly 2 epoch-aligned
    // window starts (k=0,1), mirroring Spark's window(ts, 1h, 30m)
    "q_events_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt, ROUND(SUM(value), 4) AS total
FROM (SELECT ts, event_type, value,
        time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS ws
      FROM events, unnest([0, 1]) AS t(k))
GROUP BY 1, 2""",
    "q_events_sessions" ->
      """WITH e AS (SELECT user_id, event_id, ts,
  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
s AS (SELECT user_id, event_id, ts,
  CASE WHEN prev IS NULL OR ts > prev + INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_sess FROM e),
x AS (SELECT user_id, ts,
  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM s)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
FROM x GROUP BY 1, 2""",
    "q_events_props" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
FROM events GROUP BY 1""",
    "q_events_dedup" ->
      """WITH b AS (SELECT user_id, event_type,
  time_bucket(INTERVAL '1 hour', ts) AS m, event_id,
  ROW_NUMBER() OVER (PARTITION BY user_id, event_type, time_bucket(INTERVAL '1 hour', ts)
                     ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id, event_type, strftime(m, '%Y-%m-%d %H:%M:%S') AS bucket, event_id
FROM b WHERE rn = 1"""
  )
}
