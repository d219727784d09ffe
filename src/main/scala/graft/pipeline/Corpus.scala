package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextOps.hash60

/** Corpus-preparation operators for LLM training-data pipelines, beyond
  * the near-dup family in [[Dedup]]: cluster + canonicalize duplicates,
  * deterministic sampling, token-budget packing, vocabulary extraction,
  * embedding centroids, length histograms, and an end-to-end cleaning
  * filter. No counterpart in the reference (a graph engine); these are
  * the standard corpus-prep recipes, all shuffle-bounded.
  */
object Corpus {

  /** Near-duplicate clusters: connected components over the candidate
    * pair graph (e.g. [[Dedup.minhashPairs]]), each cluster labeled by
    * its minimum member doc_id. Returns (rep_id, n_docs) per cluster —
    * the keep-one-representative contract of corpus dedup. Only docs
    * appearing in some pair form clusters (singletons are implicitly
    * kept). Scale: one CC fixpoint over |pairs| edges, O(log n) rounds
    * via pointer doubling. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    // An unconverged CC run would silently mislabel clusters — fail
    // instead (pointer doubling converges in O(log n) rounds, so hitting
    // the cap means the cap is mis-tuned or the pair graph is live).
    val (cc, _, converged) =
      graft.algorithms.Community.ccWithRounds(nodes, sym, maxIter)
    if (!converged) throw new IllegalStateException(
      s"dedupClusters: connected components did not converge within $maxIter rounds")
    cc.groupBy(col("component").as("rep_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  /** Near-dup cluster MEMBERSHIP: (id, rep_id) for every doc appearing
    * in some pair — the per-member view of [[dedupClusters]] (CC labels
    * are min member ids, so rep_id IS the canonical keeper and
    * id ≠ rep_id IS the drop set). Pair-drop heuristics ("drop every b
    * of a pair") over-keep: in the pair graph {(2,3), (1,3)} doc 2 is
    * never a b yet is a transitive dup of 1 — cluster-canonical keep is
    * the correct contract, and this frame is its primitive. */
  def clusterMembership(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    val (cc, _, converged) =
      graft.algorithms.Community.ccWithRounds(nodes, sym, maxIter)
    if (!converged) throw new IllegalStateException(
      s"clusterMembership: connected components did not converge within $maxIter rounds")
    cc.select(col("id"), col("component").as("rep_id"))
  }

  /** Near-dup cluster-size histogram: how many clusters of each size
    * the candidate-pair graph produces, with each size's share of the
    * corpus — the "how duplicated is this corpus really" shape report
    * (a fat tail of giant clusters means boilerplate, not true dups).
    * Size-1 row = docs in NO pair (corpus total minus clustered).
    *
    * Scale: rides [[dedupClusters]]' dual-regime CC; histogram is a
    * ≤|distinct sizes|-key rollup. */
  def clusterSizes(docs: DataFrame, pairs: DataFrame,
                   maxIter: Int = 15): DataFrame = {
    val cl = dedupClusters(pairs, maxIter)
    val nDocs = docs.agg(count(lit(1)).as("total"))
    val inCl = cl.agg(coalesce(sum("n_docs"), lit(0L)).as("clustered"))
    val multi = cl.groupBy(col("n_docs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = nDocs.crossJoin(inCl)
      .select(lit(1L).as("cluster_size"),
        (col("total") - col("clustered")).as("n_clusters"))
    multi.select(col("cluster_size").cast("long").as("cluster_size"),
        col("n_clusters").cast("long").as("n_clusters"))
      .unionByName(singles)
      .crossJoin(broadcast(nDocs))
      .select(col("cluster_size"), col("n_clusters"),
        round((col("cluster_size") * col("n_clusters")).cast("double") /
          col("total").cast("double"), 6).as("doc_share"))
      .orderBy("cluster_size")
  }

  /** Dedup survivorship per source: canonical keep = the min doc_id
    * of each near-dup cluster (the dedupClusters contract — CC
    * labels ARE min member ids), everything else removed; per source
    * the doc count, removals and retention rate — the "which sources
    * shrink under dedup" report a mix designer reads next to
    * [[dupInflation]].
    *
    * Scale: the CC kernel is dual-regime; the removal flag is one
    * |clustered-docs| left join into a per-source rollup. */
  def dedupRetention(docs: DataFrame, pairs: DataFrame,
                     maxIter: Int = 15): DataFrame = {
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val nodes = sym.select(col("src").as("id")).distinct()
    val (cc, _, converged) =
      graft.algorithms.Community.ccWithRounds(nodes, sym, maxIter)
    if (!converged) throw new IllegalStateException(
      s"dedupRetention: connected components did not converge within $maxIter rounds")
    val removed = cc.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"), lit(1L).as("rm"))
    docs.join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("rm"), lit(0L))).cast("long").as("n_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        round(lit(1.0) - col("n_removed").cast("double") /
          col("n_docs").cast("double"), 6).as("retention"))
      .orderBy("source")
  }

  /** Deterministic hash sampling: keep a doc iff its 60-bit md5 bucket
    * over the doc_id (with a salt prefix) lands under `pct` of 100.
    * Reproducible across engines/runs, no RNG state, stable under
    * repartitioning — the standard corpus down-sampling primitive. */
  def hashSample(docs: DataFrame, pct: Int = 10): DataFrame =
    docs.filter(
        pmod(hash60(col("doc_id").cast("string"), "s:"), lit(100L)) < pct)
      .select(col("doc_id"), col("lang"))

  /** Token-budget sequence packing: docs in doc_id order are laid out
    * contiguously and cut into bins of `capacity` tokens (next-fit by
    * cumulative offset — a doc starts in the bin its running offset
    * falls into). Returns (bin, n_docs, total_tokens).
    *
    * Scale: the global running sum is computed hierarchically — an
    * intra-block window partitioned by doc_id block plus a tiny
    * ordered window over the |corpus|/block block sums — so no stage
    * ever globally sorts the corpus into one partition. */
  def packBins(docs: DataFrame, capacity: Long = 512L,
               block: Long = 4096L): DataFrame = {
    val tok = docs.select(col("doc_id"),
      regexp_count(col("text"), lit("[^ ]+")).cast("long").as("tokens"))
      .withColumn("blk", floor(col("doc_id") / block))
    val wBlocks = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tok.groupBy("blk").agg(sum("tokens").as("bs"))
      .withColumn("off", coalesce(sum("bs").over(wBlocks), lit(0L)))
      .select("blk", "off")
    val wIn = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.join(broadcast(offsets), Seq("blk"))
      .withColumn("cum", col("off") + sum("tokens").over(wIn))
      .select(col("doc_id"), col("tokens"),
        floor((col("cum") - col("tokens")) / capacity).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_docs"),
           sum("tokens").as("total_tokens"))
  }

  /** THE whitespace term stream (non-empty tokens) — single definition
    * shared by [[vocabTopK]] and [[Sketches.heavyHitters]] so the two
    * operators (and their oracles) can never disagree on what a term
    * is. */
  private[graft] def terms(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Vocabulary extraction: top-k whitespace terms by frequency
    * (count desc, term asc tiebreak). One explode + one map-side-
    * combined count + a distributed top-k (TakeOrdered) — never a
    * global sort of the term table. */
  def vocabTopK(docs: DataFrame, k: Int = 50): DataFrame =
    terms(docs)
      .groupBy("term").agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)

  /** Term burstiness / adaptation (Church & Gale 1995): for the top-k
    * terms by collection frequency, the probability a document that
    * mentions the term mentions it AGAIN (df2/df) and the mean
    * within-doc rate cf/df. Content words adapt (a doc about X says X
    * many times); function words don't — the signal that separates
    * topical vocabulary from glue, which raw frequency can't.
    * Returns (term, df, cf, df2, adaptation, rate).
    *
    * Scale: one (doc,term) map-side-combined count + one per-term
    * rollup + a distributed top-k (TakeOrdered, never a global
    * sort). */
  def termBurstiness(docs: DataFrame, k: Int = 30): DataFrame = {
    val tc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    tc.groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        sum("c").cast("long").as("cf"),
        sum(when(col("c") >= 2L, 1L).otherwise(0L)).cast("long").as("df2"))
      .orderBy(col("cf").desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("df"), col("cf"), col("df2"),
        round(col("df2").cast("double") / col("df").cast("double"), 6)
          .as("adaptation"),
        round(col("cf").cast("double") / col("df").cast("double"), 6)
          .as("rate"))
  }

  /** Vocabulary-coverage planning curve: for each coverage target
    * (50/80/90/95% of token instances), the EXACT minimum number of
    * top-frequency terms needed — the inverse of [[zipfCoverage]]
    * (which maps k → coverage) and the number a tokenizer-vocab-size
    * decision actually wants. All arithmetic is integer: the
    * qualifying frequency class is found by 100·cum ≥ pct·T compares
    * and the within-class remainder by ceil-division — no float ever
    * decides a boundary.
    *
    * Scale: the term count collapses to a (frequency, n_terms) class
    * frame bounded by the distinct-frequency domain (Zipf: ~√N
    * classes), and the cumulative windows run on THAT frame — never
    * on the vocabulary. */
  def vocabCoverage(docs: DataFrame,
                    targets: Seq[Int] = Seq(50, 80, 90, 95)): DataFrame = {
    require(targets.nonEmpty && targets.forall(p => p > 0 && p <= 100),
      s"targets must be percentages in (0,100], got $targets")
    val g = terms(docs)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt").agg(count(lit(1)).as("nt"))
    val wDesc = Window.orderBy(col("cnt").desc)
    val cum = g
      .withColumn("mass", col("cnt") * col("nt"))
      .withColumn("cum", sum("mass")
        .over(wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tprev", coalesce(sum("nt")
        .over(wDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(g.agg(
        sum(col("cnt") * col("nt")).as("tt"))))
      .withColumn("pct",
        explode(array(targets.map(p => lit(p.toLong)): _*)))
    // first qualifying class in cnt-desc order = min cum among rows
    // with 100·cum ≥ pct·T; carry its fields through one min-struct
    val pick = cum
      .filter(col("cum") * 100L >= col("pct") * col("tt"))
      .groupBy("pct")
      .agg(min(struct(col("cum"), col("cnt"), col("nt"), col("tprev"),
        col("mass"), col("tt"))).as("f"))
      .select(col("pct"), col("f.cum").as("cum"), col("f.cnt").as("cnt"),
        col("f.tprev").as("tprev"), col("f.mass").as("mass"),
        col("f.tt").as("tt"))
    pick.select(col("pct"),
        // j = ceil((pct·T − 100·cum_prev) / (100·cnt)), cum_prev =
        // cum − mass; positive operands so DIV is the exact floor
        expr("(pct * tt - 100 * (cum - mass) + 100 * cnt - 1) " +
          "DIV (100 * cnt)").as("j"),
        col("cum"), col("cnt"), col("tprev"), col("mass"), col("tt"))
      .select(col("pct").cast("long").as("pct"),
        (col("tprev") + col("j")).cast("long").as("k_terms"),
        round(((col("cum") - col("mass")) + col("j") * col("cnt"))
          .cast("double") / col("tt").cast("double"), 6).as("coverage"))
      .orderBy("pct")
  }

  /** BPE merge-pair statistics: adjacent character-pair counts WITHIN
    * words (the exact quantity byte-pair-encoding maximizes at its
    * first merge step — running this after each merge is the whole BPE
    * trainer loop, so the top rows here ARE the first merge
    * candidates). Tokenizer-design signal alongside [[vocabTopK]] and
    * [[TextOps.zipfCoverage]]. Two explodes + one map-side-combined
    * count + distributed top-k; the pair alphabet is bounded by the
    * character set squared, so the aggregate state is tiny at any
    * corpus size. */
  def bpePairs(docs: DataFrame, topN: Int = 30): DataFrame =
    terms(docs)
      .withColumnRenamed("term", "w")
      .where(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topN)

  /** BPE tokenizer APPLICATION: segment the distinct word vocabulary
    * with the corpus's own top-`merges` character-pair merge table
    * (the [[bpePairs]] statistic — count desc, pair asc). Each merge
    * rewrites the space-separated symbol string ` a b ` → ` ab `, in
    * rank order, each driven to its fixpoint — two left-to-right
    * replace passes per merge suffice: pass one merges every
    * occurrence whose leading separator wasn't consumed by the
    * previous match (at least every other member of a boundary-sharing
    * chain), which leaves no two remaining occurrences adjacent, so
    * pass two clears the rest. This rank-order sweep is the standard
    * streaming approximation of BPE apply (a later merge never
    * re-enables an earlier one), deterministic and engine-identical.
    *
    * Scale: tokenization operates on the DISTINCT word vocabulary —
    * orders of magnitude smaller than the corpus at 100 TB (docs join
    * back to segmentations by word equality); the merge table is a
    * model artifact (driver-sized by definition, like the mixing
    * weights) collected once and folded into ONE codegen'd projection
    * of 2·M nested replaces — no per-merge pass over the data.
    * Returns (word, seg, n_tokens). */
  def bpeApply(docs: DataFrame, merges: Int = 12): DataFrame = {
    val ms = bpePairs(docs, merges).collect().map(_.getString(0))
    val vocab = terms(docs).select(col("term").as("word"))
      .where(col("word") =!= "").distinct()
    // ' h e l l o ' — leading/trailing separators make every symbol
    // boundary explicit so a merge pattern can never match across
    // token or word boundaries
    val spaced = concat(regexp_replace(col("word"), "(.)", " $1"), lit(" "))
    val segN = ms.foldLeft(spaced) { (c, pair) =>
      val p = lit(s" ${pair.charAt(0)} ${pair.charAt(1)} ")
      val r = lit(s" $pair ")
      call_function("replace",
        call_function("replace", c, p, r), p, r)
    }
    vocab.select(col("word"), trim(segN).as("seg"))
      .withColumn("n_tokens",
        size(split(col("seg"), " ")).cast("long"))
  }

  /** The FULL BPE trainer loop (Sennrich et al. 2016 §3.2 — the
    * algorithm [[bpePairs]] computes only the first step of): start
    * from the character-spaced word-count vocabulary, then `merges`
    * times (a) count adjacent SYMBOL pairs over the CURRENT
    * segmentation, occurrence-weighted by word count, (b) pick the
    * argmax pair (count desc, pair asc — deterministic tiebreak),
    * (c) rewrite every ` l r ` → ` lr ` in all segmentations via the
    * two-pass fixpoint replace ([[bpeApply]]'s boundary-chain
    * discipline, identical in both engines), and record the merge.
    * Unlike [[bpeApply]] — which applies the top-N FIRST-ROUND pairs —
    * later merges here operate on merged symbols (the real trainer:
    * 'th'+'e' can win round 2 only because 't h' won round 1).
    *
    * DOCUMENTED DEVIATION from Sennrich's reference merge application:
    * the two space-delimited replace passes consume the shared space
    * delimiter, so on a run of >= 5 identical symbols alternate pairs
    * are skipped in the second pass ('a a a a a' with merge a+a yields
    * 'aa a aa', where strict left-to-right greedy gives 'aa aa a') —
    * which can shift later-round pair counts and the trained table on
    * such runs. The DuckDB oracle applies the identical two-pass
    * replace, so engine parity is exact; the deviation affects only
    * fidelity to the canonical algorithm on same-symbol runs, a corpus
    * shape the word-level pre-tokenization makes rare.
    *
    * Scale: the loop runs over the DISTINCT word-count frame (a
    * vocab-sized dim at any corpus size — the exact artifact real BPE
    * trainers aggregate to before iterating); per round one map-side-
    * combined pair count (alphabet²-bounded state) + one codegen'd
    * replace projection; the argmax is a 1-row driver pick (the merge
    * table is a model artifact, driver-sized by definition — the
    * [[Tuning]] gate discipline). localCheckpoint per round keeps the
    * plan linear in `merges`, not exponential.
    *
    * Returns the merge table (rank, lhs, rhs, n). */
  def bpeTrain(docs: DataFrame, merges: Int = 10): DataFrame = {
    val (table, seg) = bpeTrainLoop(docs, merges)
    val spark = docs.sparkSession
    seg.unpersist()
    import spark.implicits._
    table.toDF("rank", "lhs", "rhs", "n")
  }

  /** The trained segmentation [[bpeTrain]]'s merge table induces:
    * (word, seg, n_tokens) over the distinct vocabulary — the
    * apply-side artifact, but segmented by the ITERATED trainer. */
  def bpeTrainSegments(docs: DataFrame, merges: Int = 10): DataFrame =
    bpeTrainLoop(docs, merges)._2
      .select(col("w").as("word"), trim(col("seg")).as("seg"))
      .withColumn("n_tokens", size(split(col("seg"), " ")).cast("long"))

  private def bpeTrainLoop(docs: DataFrame, merges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    require(merges >= 1, "bpeTrain needs merges >= 1")
    val wc = terms(docs).groupBy(col("term").as("w"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    // ' h e l l o ' — explicit boundary separators, as bpeApply
    var seg = wc.select(col("w"), col("cnt"),
        concat(regexp_replace(col("w"), "(.)", " $1"), lit(" ")).as("seg"))
      .localCheckpoint()
    val table = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val pairs = seg
        .select(col("cnt"), split(trim(col("seg")), " ").as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => concat(element_at(col("syms"), i), lit(" "),
              element_at(col("syms"), i + 1)))).as("pair"))
        .groupBy("pair").agg(sum("cnt").cast("long").as("n"))
      val top = pairs.orderBy(col("n").desc, col("pair").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val pair = top(0).getString(0)
        val Array(l, rr) = pair.split(" ", 2)
        table += ((r.toLong, l, rr, top(0).getLong(1)))
        val pat = lit(s" $pair ")
        val rep = lit(" " + l + rr + " ")
        val once = call_function("replace", col("seg"), pat, rep)
        seg = seg.withColumn("seg", call_function("replace", once, pat, rep))
          .localCheckpoint()
        r += 1
      }
    }
    (table.result(), seg)
  }

  /** Inverted-index construction with capped postings — the retrieval
    * artifact behind [[bm25TopK]]: per term, its document frequency
    * and the top `maxPostings` postings by (tf desc, doc_id asc) in
    * long format (term, df, rnk, doc_id, tf). Real indexes cap or
    * impact-order postings exactly like this: a stop word's full
    * posting list is the corpus itself, and no retrieval engine scans
    * that at serving time.
    *
    * Scale: one token explode → (term, doc) counts (map-side
    * combined), then a per-term rank window. The window sorts within
    * term partitions only — vocab-keyed, so no global sort — and the
    * cap bounds the output at |vocab|·maxPostings rows. The heaviest
    * term's partition is its df, the known worst case of index
    * construction (impact-ordered indexes shard exactly there). */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 20): DataFrame = {
    require(maxPostings >= 1, "invertedIndex needs maxPostings >= 1")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("long").as("tf"))
    val byTerm = Window.partitionBy("term")
    val ranked = tf
      .withColumn("df", count(lit(1)).over(byTerm).cast("long"))
      .withColumn("rnk", row_number().over(
        byTerm.orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
    ranked.filter(col("rnk") <= maxPostings)
      .select(col("term"), col("df"), col("rnk"), col("doc_id"), col("tf"))
  }

  /** Subword fertility per source — the standard tokenizer-quality
    * metric (average subword tokens emitted per word; a fertility near
    * 1 means the merge table fits the source, a high one means the
    * tokenizer fragments it): [[bpeApply]]'s segmentation joined back
    * to the word OCCURRENCE stream, so frequent words weigh by use.
    *
    * Scale: the segmentation is a vocab-sized dim (broadcasts under
    * AQE); the occurrence stream is one explode; the per-source
    * aggregate is map-side combined — the exact shape a tokenizer
    * sweep runs per candidate merge table. */
  def tokenFertility(docs: DataFrame, merges: Int = 12,
                     segIn: Option[DataFrame] = None): DataFrame = {
    val seg = segIn.getOrElse(bpeApply(docs, merges))
      .select(col("word"), col("n_tokens"))
    docs.select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(seg, Seq("word"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("n_tokens").cast("long").as("n_subtokens"))
      // n_subtokens / n_words — operator order mirrored in the oracle
      .withColumn("fertility",
        round(col("n_subtokens").cast("double") / col("n_words"), 6))
  }

  /** Corpus composition report with subtotals: doc counts and
    * character mass per (source, lang), per source, and grand total in
    * ONE pass — Spark's `rollup` compiles to a single Expand +
    * aggregate, the idiomatic replacement for unioning three separate
    * groupBys (which would scan the table three times at 100 TB).
    * `grouping_id` disambiguates subtotal rows from a real NULL group
    * value, mirrored by GROUPING() in the oracle. */
  def corpusRollup(docs: DataFrame): DataFrame =
    docs.rollup(col("source"), col("lang"))
      .agg(grouping_id(col("source"), col("lang")).cast("long").as("gid"),
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("gid"), col("n_docs"), col("chars"))
      .orderBy("gid", "source", "lang")

  /** BM25 relevance ranking of the corpus against a fixed query-term
    * set (Robertson et al.; the Lucene-practical idf
    * ln((N − df + 0.5)/(df + 0.5) + 1), so idf stays positive at any
    * df). The standard retrieval primitive for query-targeted corpus
    * curation — "give me the documents most about X" — sharing the
    * whitespace term formula with [[vocabTopK]]/heavy-hitters so every
    * text operator agrees on what a term is.
    *
    * Scale: one token explode feeds both the per-doc length aggregate
    * and the (doc, term) tf counts (the tf side prunes to the query
    * terms BEFORE its shuffle, so the heavy aggregate moves only
    * matching tokens); df and the 1-row (N, avgdl) stats broadcast into
    * the scoring join; top-k is a TakeOrdered, never a global sort.
    * Score sums run over ≤ |queryTerms| rows per doc and are rounded to
    * 6 dp like every float aggregate in the suite. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
               b: Double = 0.75, k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) — operator order
    // mirrored verbatim in the DuckDB oracle so the doubles agree
    val scored = tf
      .join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy("doc_id").agg(sum("s").as("score"))
    scored.select(col("doc_id"), round(col("score"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
  }

  /** Pseudo-relevance-feedback retrieval (the RM3 recipe — Lavrenko &
    * Croft 2001 relevance models, Abdul-Jaleel et al. 2004's
    * interpolated variant): run BM25 for the seed terms, harvest
    * expansion terms from the top `fbDocs` results (relevance weight
    * w(t) = Σ_{d∈fb} tf(t,d)/dl(d), seed terms excluded, top
    * `fbTerms` by (6-dp weight, term)), then re-score the corpus with
    * the expanded weighted query (seed weight 1, expansion weight
    * `lambda`) — the classic one-round query expansion every lexical
    * retrieval stack ships next to plain BM25.
    *
    * Scale: ONE corpus scan builds the (doc, term) count frame
    * (materialized — dl, df, both retrieval rounds and the feedback
    * harvest all derive from it, never a token re-explode); the
    * expanded query is ≤ |seed|+fbTerms rows broadcast into the
    * second scoring join; both rounds rank through distributed
    * TakeOrdered. Returns (rank, doc_id, score, n_matched). */
  def rm3Retrieval(docs: DataFrame, queryTerms: Seq[String],
                   k1: Double = 1.2, b: Double = 0.75, fbDocs: Int = 5,
                   fbTerms: Int = 5, lambda: Double = 0.5,
                   k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && fbDocs >= 1 && fbTerms >= 1 && k >= 1,
      "rm3Retrieval needs seed terms and positive fbDocs/fbTerms/k")
    val tfAll = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tfAll.groupBy("doc_id").agg(sum("tf").as("dl"))
      .localCheckpoint()
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    def bm25Scores(terms: DataFrame): DataFrame = {
      // terms: (term, w) broadcast-sized; same operator order as
      // bm25TopK so the doubles agree engine-to-engine
      val tf = tfAll.join(broadcast(terms), Seq("term"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (col("w") *
            (log((col("n") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)) *
              (col("tf") * lit(k1 + 1.0)) /
              (col("tf") + lit(k1) *
                (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))))
            .as("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_matched"),
          round(sum("s"), 6).as("score"))
    }
    val spark = docs.sparkSession
    import spark.implicits._
    // distinct: a repeated seed term must weigh 1.0 once, not once
    // per repetition, in both rounds AND in the expansion exclusion
    val seedTerms = queryTerms.distinct
    val seed = seedTerms.map(t => (t, 1.0)).toDF("term", "w")
    val fb = bm25Scores(seed)
      .orderBy(col("score").desc, col("doc_id").asc).limit(fbDocs)
      .select("doc_id")
    val exp = tfAll.join(broadcast(fb), Seq("doc_id"))
      .filter(!col("term").isInCollection(seedTerms))
      .join(dl, Seq("doc_id"))
      .groupBy("term")
      .agg(round(sum(col("tf").cast("double") /
        col("dl").cast("double")), 6).as("fw"))
      .orderBy(col("fw").desc, col("term").asc).limit(fbTerms)
      .select(col("term"), lit(lambda).as("w"))
    bm25Scores(seed.unionByName(exp))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select("rank", "doc_id", "score", "n_matched")
  }

  /** Per-document TF-IDF keywords: the `topN` most characteristic
    * terms of every document — (tf/dl)·ln(N/df) with N = documents
    * containing ≥ 1 term — the classic representation behind
    * topic-targeted corpus filtering and cluster labeling. Shares the
    * whitespace term formula with [[vocabTopK]]/[[bm25TopK]].
    *
    * Scale: one token explode → one (doc, term) count; the per-doc
    * length reuses THAT frame through a doc-partitioned window (one
    * exchange of the distinct-terms frame, never a second pass over
    * raw tokens); df and the 1-row N broadcast into the scoring join;
    * ranking is a per-doc window top-N, so output is ≤ topN·|docs|
    * rows and nothing global ever sorts. Scores round to 6 dp before
    * ranking so the rank is taken on the same value in both engines. */
  def tfidfKeywords(docs: DataFrame, topN: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val withDl = tf.withColumn("dl", sum("tf").over(byDoc))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.select(countDistinct("doc_id").cast("double").as("n"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    withDl
      .join(broadcast(dfT), Seq("term"))
      .join(broadcast(nDocs))
      // (tf/dl)·ln(n/df) — operator order mirrored in the DuckDB oracle
      .select(col("doc_id"), col("term"),
        round((col("tf").cast("double") / col("dl")) *
          log(col("n") / col("df")), 6).as("tfidf"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= topN)
      .select(col("doc_id"), col("term"), col("tfidf"),
        col("rn").cast("long").as("rn"))
  }

  /** Gini coefficient of the per-source document distribution — the
    * single-number imbalance metric a mix designer tracks (0 = every
    * source equal, → 1 = one source dominates), via the rank formula
    * G = 2·Σᵢ i·xᵢ / (k·Σx) − (k+1)/k over ascending-sorted source
    * counts.
    *
    * Scale: one map-side-combined groupBy(source); the rank window and
    * final fold run on the k-row source frame. */
  def sourceGini(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").asc, col("source").asc)
    per.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("k"), sum("n").as("tot"),
        sum(col("i") * col("n")).as("iw"))
      .select(
        round((lit(2.0) * col("iw")) / (col("k") * col("tot")) -
          (col("k") + lit(1.0)) / col("k"), 6).as("gini"),
        col("k").cast("long").as("n_sources"),
        col("tot").cast("long").as("n_docs"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020): rank every
    * document by its unigram-LM score ([[lmScore]] nll — low = fluent/
    * common, high = rare/noisy) and split the corpus into `nBuckets`
    * equal tiers (head/middle/tail for 3). The standard coarse quality
    * partition used to mix "cleanliness" strata into a training set.
    *
    * Scale: the scoring is [[lmScore]]'s bounded plan. The tier split
    * is dual-regime like the iterative kernels: under
    * the [[graft.algorithms.Tuning]] gate the exact NTILE
    * runs as one total-order window (fine for a gate-small scored
    * frame, and the regime the DuckDB oracle can mirror); past the
    * gate the SAME assignment is computed without any single-partition
    * window — range-repartition on (nll, doc_id), count rows per range
    * partition (≤ `shuffle.partitions` rows to the driver), broadcast
    * the cumulative offsets back, and derive each row's exact global
    * rank from offset + within-partition row_number. Rank → tier is
    * then pure integer arithmetic (NTILE's quota formula), so both
    * regimes emit bit-identical buckets on the unique (nll, doc_id)
    * order — regime parity is pinned in ShuffleRegimeSpec. Exactness
    * does not depend on where the range sampler places boundaries:
    * offsets are computed from the ACTUAL partition sizes. */
  def pplBuckets(docs: DataFrame, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, "pplBuckets needs nBuckets >= 2")
    // Dual-regime global NTILE extracted to graft.ops.Ranks (round 10,
    // when the revived PlanSpec invariant caught rfm with the same
    // single-task NTILE this kernel fixed in round 8).
    graft.ops.Ranks.globalNtile(lmScore(docs), nBuckets,
        Seq(col("nll").asc, col("doc_id").asc), "bucket")
      .select(col("doc_id"), col("nll"), col("bucket"))
  }

  /** Source × language CUBE rollup: doc counts and character volume at
    * every grouping-set granularity — the one-pass OLAP summary a mix
    * designer reads before weighting sources. Subtotal rows surface as
    * the `<all>` sentinel plus a grouping id (2·g(source)+g(lang)), so
    * the output is null-free and unambiguous even if a real source were
    * ever named like the sentinel.
    *
    * Scale: CUBE expands each input row into its 4 grouping sets
    * BEFORE one partial-aggregated shuffle (Spark's Expand — no
    * per-granularity re-scan of the table); output is ≤ 4·|source ×
    * lang| rows. */
  def sourceLangCube(docs: DataFrame): DataFrame =
    docs.cube(col("source"), col("lang"))
      .agg(grouping(col("source")).as("gs"), grouping(col("lang")).as("gl"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("chars"))
      .select(
        when(col("gs") === 1, lit("<all>")).otherwise(col("source")).as("source"),
        when(col("gl") === 1, lit("<all>")).otherwise(col("lang")).as("lang"),
        (lit(2L) * col("gs") + col("gl")).cast("long").as("gid"),
        col("n_docs"), col("chars"))

  /** Hybrid retrieval: BM25 and Dirichlet-smoothed query-likelihood
    * rankings fused with reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009): rrf(d) = Σ_r 1/(rrfK + rank_r(d)) over the two top-`listK`
    * lists, absent ranks contributing 0. Two genuinely different
    * retrieval models (probabilistic-relevance vs language-model) make
    * the fusion non-degenerate; this is the lexical half of the hybrid
    * search stack next to [[graft.pipeline.Similarity.cosineTopK]].
    *
    * Scale: both rankers share ONE token explode; candidates are docs
    * containing ≥ 1 query term (the tf frame prunes to query terms
    * BEFORE its shuffle); corpus stats (N, avgdl, |C|) and per-term
    * df/cf are broadcast 1-row / |q|-row frames; each list cut is a
    * TakeOrdered (never a global sort) and only then ranked by a
    * window over ≤ listK rows; the fusion join moves ≤ 2·listK rows.
    * Scores round to 6 dp BEFORE ranking so both engines rank the same
    * value; rank ties break on doc_id. Query terms absent from the
    * corpus (cf = 0) are excluded from the QL sum — their smoothed
    * probability is 0 and ln(0) is undefined in every engine. */
  def hybridRrf(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
                b: Double = 0.75, mu: Double = 2000.0, listK: Int = 50,
                rrfK: Int = 60, k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "hybridRrf needs at least one query term")
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"),
      sum("dl").cast("double").as("ctot"))
    val tf = toks.filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    // BM25 list — formula mirrored op for op in the oracle
    val bm = tf
      .join(broadcast(dfT), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
    // QL list — ln((tf + μ·cf/|C|) / (dl + μ)) summed over query terms
    // present in the corpus, tf coalesced to 0 for candidate docs
    // missing a term
    val cand = tf.select("doc_id").distinct()
    val ql = cand
      .crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "term"), "left")
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        log((coalesce(col("tf"), lit(0L)) + lit(mu) * col("cf") / col("ctot")) /
          (col("dl") + lit(mu))).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 6).as("score"))
    def topRanked(scored: DataFrame, rankCol: String): DataFrame = {
      val w = Window.orderBy(col("score").desc, col("doc_id").asc)
      scored.orderBy(col("score").desc, col("doc_id").asc).limit(listK)
        .withColumn(rankCol, row_number().over(w).cast("long"))
        .select("doc_id", rankCol)
    }
    topRanked(bm, "r_bm25")
      .join(topRanked(ql, "r_ql"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_ql")), lit(0.0)), 6).as("rrf"),
        coalesce(col("r_bm25"), lit(0L)).as("r_bm25"),
        coalesce(col("r_ql"), lit(0L)).as("r_ql"))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(k)
  }

  /** Pointwise-mutual-information collocations: the top `k` term pairs
    * whose document co-occurrence exceeds what their independent
    * frequencies predict — PMI = ln(P(a,b)/(P(a)·P(b))) over
    * document-level presence. The standard collocation-mining signal
    * behind phrase detection and template discovery in corpus audits.
    *
    * Scale: the pair space is the square of the vocabulary, so the
    * pair generator prunes to the top-`vocabK` terms first (broadcast
    * semi-join) — per-doc fan-out is then ≤ min(|doc terms|, vocabK)²
    * and the pair aggregate carries at most vocabK² keys, never the
    * raw vocabulary squared. Pairs come from a per-doc sorted
    * distinct-term array pair-exploded in place (the same
    * groupBy+explode shape as the part co-occurrence graph — no
    * presence-table self-join, which would re-probe the full (doc,
    * term) table). `minPairDocs` drops singleton-noise pairs before
    * the scoring join; term frequencies and the 1-row doc count
    * broadcast. With vocabulary ≤ vocabK the prune is a no-op and the
    * result is exact — the oracle regime, pinned by the same
    * capacity-precondition spec as the sketches. */
  def termPmi(docs: DataFrame, vocabK: Int = 64, minPairDocs: Long = 2,
              k: Int = 50): DataFrame = {
    // ONE shuffle of the raw token stream (map-side partial collect_set
    // dedups before the exchange); presence counts, the doc count and
    // the pair generator all derive from the per-doc sorted set — the
    // earlier distinct()-based formulation paid a second full-token
    // exchange for the same information. The set frame feeds FOUR
    // consumers whose differing column pruning defeats ReuseExchange
    // (verified via ExplainAudit: the subtree replayed four times), so
    // materialize it once — the winnowPairs idiom.
    val docSets = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id").agg(sort_array(collect_set("term")).as("ts"))
      .localCheckpoint()
    val presence = docSets.select(col("doc_id"), explode(col("ts")).as("term"))
    val ca = presence.groupBy("term").agg(count(lit(1)).as("c_t"))
    val vocab = ca.orderBy(col("c_t").desc, col("term").asc).limit(vocabK)
    val d = docSets.select(count(lit(1)).cast("double").as("d"))
    val pairs = docSets
      // top-vocabK prune as a 1-row broadcast + sorted-order-preserving
      // array_intersect — no re-shuffle of the pruned presence
      .crossJoin(broadcast(vocab.agg(collect_list("term").as("vocab"))))
      .select(col("doc_id"), array_intersect(col("ts"), col("vocab")).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
          |  transform(slice(ts, i + 2, size(ts) - i - 1), y ->
          |    struct(x AS ta, y AS tb))))""".stripMargin)).as("p"))
      .groupBy(col("p.ta").as("term_a"), col("p.tb").as("term_b"))
      .agg(count(lit(1)).as("pair_docs"))
      .filter(col("pair_docs") >= minPairDocs)
    pairs
      .join(broadcast(ca.select(col("term").as("term_a"), col("c_t").as("c_a"))),
        Seq("term_a"))
      .join(broadcast(ca.select(col("term").as("term_b"), col("c_t").as("c_b"))),
        Seq("term_b"))
      .crossJoin(broadcast(d))
      // ln(cab·D / (ca·cb)) — operator order mirrored in the oracle
      .select(col("term_a"), col("term_b"), col("pair_docs"),
        round(log((col("pair_docs").cast("double") * col("d")) /
          (col("c_a").cast("double") * col("c_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a").asc, col("term_b").asc)
      .limit(k)
  }

  /** Concept clusters: connected components of the term-association
    * graph whose edges are the top-k PMI pairs from [[termPmi]] — the
    * cross-family composition (text statistics → graph algorithm) a
    * topic-discovery pass runs: terms that co-occur unusually often
    * clump into connected vocabulary neighborhoods. Cluster label =
    * lexicographic min term in the component (id-scheme-free, so the
    * oracle needs no hash mirroring).
    *
    * Scale: the edge set is k-bounded by construction (top-k PMI cut),
    * so the graph side is trivially small here; with an unbounded PMI
    * threshold cut instead, the component pass inherits
    * [[graft.algorithms.Community.connectedComponents]]'s dual-regime
    * pointer-doubling — the term graph is |vocab|-sized either way,
    * never corpus-sized. */
  def termGraphClusters(docs: DataFrame, maxIter: Int = 20): DataFrame = {
    val pairs = termPmi(docs).select("term_a", "term_b").localCheckpoint()
    val ids = pairs.select(col("term_a").as("term"))
      .unionByName(pairs.select(col("term_b").as("term")))
      .distinct()
      .select(col("term"), TextOps.hash60(col("term"), "tg:").as("id"))
      .localCheckpoint()
    val e = pairs
      .join(ids.select(col("term").as("term_a"), col("id").as("src")), Seq("term_a"))
      .join(ids.select(col("term").as("term_b"), col("id").as("dst")), Seq("term_b"))
      .select("src", "dst")
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val lab = graft.algorithms.Community
      .connectedComponents(ids.select("id"), sym, maxIter)
      .join(ids, Seq("id"))
      .select(col("term"), col("component"))
    val minTerm = lab.groupBy("component").agg(min("term").as("cluster"))
    val lbl = lab.join(minTerm, Seq("component")).select("term", "cluster")
    val sz = lbl.groupBy("cluster").agg(count(lit(1)).cast("long").as("cluster_size"))
    lbl.join(sz, Seq("cluster"))
      .select(col("term"), col("cluster"), col("cluster_size"))
      .orderBy("cluster", "term")
  }

  /** Feature-hashed document vectors (the hashing trick, Weinberger
    * et al. 2009): each document becomes an L2-normalized sparse
    * count vector over `dim` buckets, bucket = hash(term) mod dim —
    * the classic fixed-width featurizer that needs NO vocabulary
    * table, so it runs in one pass at any corpus size. Output is long
    * format (doc_id, pos, v): one narrow explode + one
    * map-side-combined (doc, pos) count + a doc-keyed window for the
    * norm — no shuffle carries more than the nonzero entries, and
    * rows out ≤ min(|doc terms|, dim) per doc. */
  def hashedFeatures(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 1, "hashedFeatures needs dim >= 1")
    val cnt = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"),
        pmod(TextOps.hash60(col("term"), "fh:"), lit(dim.toLong)).as("pos"))
      .groupBy("doc_id", "pos").agg(count(lit(1)).as("c"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    cnt
      .withColumn("s2", sum(col("c") * col("c")).over(byDoc))
      // c / sqrt(s2) — operator order mirrored in the DuckDB oracle
      .select(col("doc_id"), col("pos"),
        round(col("c").cast("double") / sqrt(col("s2").cast("double")), 6).as("v"))
  }

  /** Per-source KL divergence of the term distribution from the
    * corpus-wide distribution — the drift/contamination signal behind
    * "which source stopped looking like the rest of the corpus":
    * KL(p_src ‖ p_corpus) = Σ_t p ln(p/q) with p = tf(t|src)/|src|,
    * q = tf(t)/|corpus|. Both distributions share one token explode;
    * the per-source aggregate shuffles (source, term) counts, the
    * corpus marginals broadcast. q = 0 while p > 0 is impossible by
    * construction (every source term IS a corpus term), so the sum is
    * always finite. */
  def sourceKl(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val st = toks.groupBy("source", "term").agg(count(lit(1)).as("c_st"))
    val sTot = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val ct = st.groupBy("term").agg(sum("c_st").as("c_t"))
    val cTot = ct.agg(sum("c_t").cast("double").as("n"))
    // p·ln((c_st·n)/(n_s·c_t)) summed per source — operator order
    // mirrored in the DuckDB oracle
    st.join(sTot, Seq("source"))
      .join(broadcast(ct), Seq("term"))
      .crossJoin(broadcast(cTot))
      .groupBy("source")
      .agg(round(sum((col("c_st").cast("double") / col("n_s")) *
        log((col("c_st").cast("double") * col("n")) /
          (col("n_s").cast("double") * col("c_t")))), 6).as("kl"))
      .orderBy("source")
  }

  /** Per-label embedding centroids in long format: (label, pos, c) with
    * c = mean of component `pos` over the label's vectors, rounded to
    * 6 dp. posexplode keeps the shuffle narrow ((label, pos) keyed,
    * map-side combined) at any row count. */
  def embedCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))

  /** Per-dimension embedding statistics — the normalization pass a
    * training pipeline runs before standardizing feature columns:
    * mean, sample stddev, min, max for every dimension in one
    * map-side-combined aggregation over the exploded (pos, value)
    * stream. At 100 TB the aggregate state is 4 numbers × dim — the
    * explode is the only cost and it is embarrassingly parallel. */
  def embedStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("pos"), col("x").cast("double").as("x"))
      .groupBy("pos")
      .agg(round(avg(col("x")), 6).as("mean"),
        round(stddev_samp(col("x")), 6).as("sd"),
        round(min(col("x")), 6).as("mn"),
        round(max(col("x")), 6).as("mx"))
      .orderBy("pos")

  /** Overlapping character-window chunking — the long-document split
    * a context-bounded training pipeline runs (window `size`, stride
    * `stride` < size ⇒ size − stride chars of overlap so no boundary
    * context is lost). Pure per-row map (sequence + substr explode):
    * no shuffle at any corpus size. Empty documents emit one empty
    * chunk (greatest(len, 1)) so every doc_id survives the op. */
  def chunkDocs(docs: DataFrame, size: Int = 200, stride: Int = 150): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size, got size=$size stride=$stride")
    docs
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(stride))).as("start"),
        col("text"))
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_ix"),
        col("start").cast("long").as("start"),
        col("text").substr(col("start"), lit(size)).as("chunk"))
      .orderBy("doc_id", "chunk_ix")
  }

  /** Document length histogram over the `n_chars` column: fixed-width
    * buckets (bucket = floor(n_chars / width) * width) → doc counts. */
  def lenHistogram(docs: DataFrame, width: Long = 50L): DataFrame =
    docs.select((floor(col("n_chars") / width) * width).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_docs"))

  /** Benchmark decontamination: flag training docs that share any
    * character 8-gram with a held-out eval slice (the standard n-gram
    * overlap check run before training). The eval slice is the
    * deterministic hash sample `hash60(doc_id, "ev:") % 100 < evalPct`
    * — in production it would be the benchmark suite itself. Returns
    * (doc_id, n_shared): per contaminated training doc, how many of its
    * DISTINCT 8-gram hashes occur anywhere in the eval slice.
    *
    * Scale: both sides reduce to (doc_id, gram-hash) rows; the overlap
    * is one semi-join keyed on the 60-bit gram hash — shuffle bounded
    * by corpus gram count, and a real (small) benchmark set broadcasts
    * automatically under AQE. Never doc×doc pairs. */
  def decontaminate(docs: DataFrame, evalPct: Int = 5,
                    gram: Int = 8): DataFrame = {
    // Split BEFORE shingling: the eval predicate is a pure function of
    // doc_id, so each side shingles only its own docs (1.0× corpus
    // total, filters pushed to the scan) — shingling the whole corpus
    // into one frame and semi/anti-joining it re-ran the explode for
    // both branches (measured 2× the shingle work at sf0.1).
    // `gram` is the contamination window: 8 chars is the standalone
    // q_decontam's aggressive audit; longer windows (pipelines tune
    // this) flag only verbatim spans.
    val isEval =
      pmod(hash60(col("doc_id").cast("string"), "ev:"), lit(100L)) < evalPct
    val evalGrams = TextOps.shingles(docs.filter(isEval), gram)
      .select(hash60(col("sh"), "dc:").as("g")).distinct()
    TextOps.shingles(docs.filter(!isEval), gram)
      .select(col("doc_id"), hash60(col("sh"), "dc:").as("g")).distinct()
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_shared"))
  }

  /** Graded contamination score — [[decontaminate]]'s scored sibling:
    * for EVERY training doc, the fraction of its distinct `gram`-char
    * shingle hashes that occur anywhere in the eval slice. Production
    * decontamination drops on `frac >= tau` rather than any-overlap
    * (one shared idiom in a long doc should not kill it), so the
    * graded signal is what the threshold sweep actually tunes on.
    * Returns (doc_id, n_grams, n_hit, frac) with zero-overlap docs
    * scoring 0.0.
    *
    * Scale: same shape as decontaminate — split before shingling, one
    * left join on the 60-bit gram hash (the small benchmark side
    * broadcasts under AQE), one per-doc aggregate. Never doc×doc. */
  def contamScore(docs: DataFrame, evalPct: Int = 5,
                  gram: Int = 8): DataFrame = {
    val isEval =
      pmod(hash60(col("doc_id").cast("string"), "ev:"), lit(100L)) < evalPct
    val evalGrams = TextOps.shingles(docs.filter(isEval), gram)
      .select(hash60(col("sh"), "dc:").as("g")).distinct()
      .withColumn("hit", lit(1L))
    TextOps.shingles(docs.filter(!isEval), gram)
      .select(col("doc_id"), hash60(col("sh"), "dc:").as("g")).distinct()
      .join(evalGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      // n_hit / n_grams — operator order mirrored in the DuckDB oracle
      .withColumn("frac",
        round(col("n_hit").cast("double") / col("n_grams"), 6))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023, arXiv:
    * 2302.03169): score every raw document by how target-like its
    * hashed bag-of-words is —
    * `log w(d) = Σ_tokens [ln p̂_t(h(tok)) − ln p̂_r(h(tok))]` with
    * Laplace-smoothed bucket distributions over `dim` hashed buckets.
    * The target slice here is the corpus in `targetLang` (in
    * production: the high-quality reference set — Wikipedia, books);
    * raw is the whole corpus. Returns the top-`k` docs by log-weight —
    * the pool importance resampling draws from.
    *
    * Scale: one token explode feeds both bucket distributions (a
    * single groupBy with a conditional count) and a second explode
    * scores docs; the bucket log-ratio table is `dim` rows (broadcast),
    * the per-doc score is a map-side-combined sum, and the top-k is a
    * TakeOrdered — no shuffle wider than (doc_id) at any corpus size.
    * Ranking compares the 6-dp ROUNDED weight (ties broken by doc_id)
    * so both engines rank identical values. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  dim: Int = 64, k: Int = 40): DataFrame = {
    require(dim >= 1 && k >= 1, "dsirWeights needs dim >= 1 and k >= 1")
    val toks = docTokenBuckets(docs, dim)
    val lr = dsirLogRatios(docs, targetLang, dim)
    val scored = toks.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id").agg(round(sum("lr"), 6).as("logw"))
      .orderBy(col("logw").desc, col("doc_id")).limit(k)
    // rank numbering runs over the k collected rows only (TakeOrdered
    // bounds the sort; the empty-frame window is k rows, not |corpus|)
    scored.withColumn("rn", row_number().over(
        Window.orderBy(col("logw").desc, col("doc_id"))).cast("long"))
      .select(col("rn"), col("doc_id"), col("logw"))
  }

  private def docTokenBuckets(docs: DataFrame, dim: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), col("lang"),
        pmod(hash60(col("term"), "ds:"), lit(dim.toLong)).as("b"))

  /** The DSIR per-bucket log importance ratio table (b, lr) — the
    * model artifact [[dsirWeights]] scores with. Both distributions in
    * ONE pass: raw count + conditional target count per bucket.
    * Laplace +1 over dim buckets keeps every bucket probability finite
    * on both sides (a bucket no target token hits still scores, just
    * negatively); ln((ct+1)/(nt+dim)) − ln((cr+1)/(nr+dim)) is one
    * double per bucket with the same op order in the DuckDB oracle →
    * bit-identical. */
  def dsirLogRatios(docs: DataFrame, targetLang: String = "en",
                    dim: Int = 64): DataFrame = {
    val dists = docTokenBuckets(docs, dim).groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === targetLang, lit(1))).as("ct"))
    val tots = dists.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    dists.crossJoin(broadcast(tots))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("nt") + dim)) -
          log((col("cr") + 1).cast("double") / (col("nr") + dim))).as("lr"))
  }

  /** [[dsirLogRatios]] collected to the driver-sized Map a streaming
    * intake gate broadcasts — dim entries, a model artifact by
    * definition (same class as the merge table or mixing weights). */
  def dsirRatioMap(docs: DataFrame, targetLang: String = "en",
                   dim: Int = 64): Map[Long, Double] =
    dsirLogRatios(docs, targetLang, dim).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Data-mixing sampler: per-language target weights (0..1) applied as
    * deterministic hash sampling — doc kept iff its salted md5 bucket
    * over 10 000 lands under weight(lang)·10 000. The standard knob for
    * re-weighting sources/domains in a training mix; reproducible across
    * engines and runs, stable under repartitioning, no RNG state.
    * Unlisted languages default to weight 0. Narrow filter — scales
    * trivially. */
  def mixSample(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    // Thresholds are integerized ONCE on the driver: weight*10000 as an
    // IEEE double (e.g. 0.29 → 2900.0000000000005) can disagree with a
    // decimal engine's exact product at the boundary bucket, so both the
    // filter and the cross-engine oracle must compare long < long.
    val thresholds = weights.map { case (l, w) =>
      l -> math.round(w * 10000).min(10000L) }
    val w = typedLit(thresholds)
    docs.filter(
        pmod(hash60(col("doc_id").cast("string"), "mx:"), lit(10000L)) <
          coalesce(element_at(w, col("lang")), lit(0L)))
      .select("doc_id", "lang")
  }

  /** Boilerplate n-gram mining: the character 8-gram hashes appearing in
    * at least `minDocFrac` of all documents, with their document
    * frequency — the template/navigation text a cleaning pass strips.
    * One shingle pass → per-gram distinct-doc count → threshold against
    * the corpus size (a 1-row broadcast); shuffle bounded by the gram
    * count, never doc pairs. */
  def boilerplateGrams(docs: DataFrame, minDocFrac: Double = 0.5): DataFrame = {
    val tot = docs.agg(count(lit(1)).as("nd"))
    TextOps.shingles(docs, 8)
      .select(col("doc_id"), hash60(col("sh"), "bp:").as("g")).distinct()
      .groupBy("g").agg(count(lit(1)).cast("long").as("df"))
      .crossJoin(broadcast(tot))
      .filter(col("df") >= col("nd") * minDocFrac)
      .select("g", "df")
  }

  /** Zipf coverage: for each k in `ks`, the fraction of all whitespace
    * token instances covered by the k most frequent terms (count desc,
    * term asc tiebreak) — the tokenizer-design curve. A k larger than
    * the vocabulary covers 1.0. The term table reduces map-side; only
    * the top-max(ks) rows (driver-bounded) enter the ranking window. */
  def zipfCoverage(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    val tf = docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum("c").as("tot"))
    val ord = Window.orderBy(col("c").desc, col("term").asc)
    val cum = tf.orderBy(col("c").desc, col("term").asc).limit(ks.max)
      .withColumn("rn", row_number().over(ord))
      .withColumn("cum", sum("c").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    // one conditional aggregation per k over the single driver-bounded
    // ranked frame — the term table is computed once
    val covs = ks.map(k =>
      round(max(when(col("rn") <= k, col("cum"))) / max(col("tot")), 6)
        .as(s"c_$k"))
    cum.crossJoin(broadcast(tot)).agg(covs.head, covs.tail: _*)
  }

  /** Good–Turing frequency smoothing over word TRIGRAMS (Good 1953 —
    * the Katz-backoff/SGT foundation, computed on the n-gram grain
    * where the rare tail actually lives; the word-unigram vocabulary
    * of a clean corpus has no N₁ mass to smooth): the frequency-of-
    * frequencies table N_r for r ≤ rMax with the smoothed count
    * r* = (r+1)·N_{r+1}/N_r, each class's raw probability mass
    * r·N_r/N, and the unseen-mass estimate p₀ = N₁/N — the number an
    * n-gram-LM / OOV-rate decision reads. r* NULL where N_{r+1} = 0
    * (the classic sparse-tail condition SGT smoothing exists to fix —
    * surfaced, not hidden).
    *
    * Scale: one token-linear trigram explode (array index walk, O(1)
    * state per row) → gram-keyed counts; the N_r frame is ≤ max-count
    * rows and the N_{r+1} lookup is a self-join on the ≤rMax slice —
    * constant-size tail work at any corpus. The N_r frame is
    * materialized once (`localCheckpoint`) and BOTH totals are derived
    * from it (n_tokens = Σ r·N_r, n1 = N_1), so the plan carries
    * exactly ONE corpus scan + ONE term shuffle — the unmaterialized
    * form re-executed the trigram shuffle three times (plan-audited). */
  def goodTuring(docs: DataFrame, rMax: Int = 10): DataFrame = {
    val w = docs.select(split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3) // Spark sequence() DESCENDS when stop < start
    val tf = w
      .select(explode(sequence(lit(1), size(col("ts")) - 2)).as("i"), col("ts"))
      .select(concat_ws(" ",
        element_at(col("ts"), col("i")),
        element_at(col("ts"), col("i") + 1),
        element_at(col("ts"), col("i") + 2)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val nr = tf.groupBy(col("c").as("r"))
      .agg(count(lit(1)).cast("long").as("n_r"))
      .localCheckpoint() // ≤ max-count rows; every downstream read is free
    val tot = nr.agg(sum(col("r") * col("n_r")).cast("long").as("n_tokens"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).cast("long").as("n1"))
    nr.filter(col("r") <= rMax)
      .join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_next")),
        Seq("r"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("r").cast("long").as("r"), col("n_r"),
        round(((col("r") + 1) * col("n_next")).cast("double") /
          col("n_r").cast("double"), 6).as("r_star"),
        round((col("r") * col("n_r")).cast("double") /
          col("n_tokens").cast("double"), 6).as("mass_share"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unseen"))
      .orderBy("r")
  }

  /** Per-language quality distribution: doc count and interpolated
    * quality quartiles — the dashboard a filtering-threshold decision
    * reads. One narrow quality projection + one map-side-combined
    * aggregation per language; the quantile state is bounded per group
    * (at true scale swap `percentile` for `approx_percentile` with an
    * accuracy knob — same call shape). */
  def qualityQuantiles(docs: DataFrame): DataFrame =
    TextOps.withQuality(docs)
      .groupBy("lang")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        round(percentile(col("quality"), lit(0.25)), 6).as("q25"),
        round(percentile(col("quality"), lit(0.5)), 6).as("q50"),
        round(percentile(col("quality"), lit(0.75)), 6).as("q75"))

  /** Gopher-style repetition metrics per document over whitespace
    * tokens: total words, distinct-word ratio, top-unigram fraction,
    * and the fraction of word-bigram instances whose bigram occurs
    * more than once in the doc. High dup2_frac / top_frac or low
    * uniq_ratio mark boilerplate and degenerate repetition for the
    * quality filter. All map-side-combined aggregations keyed by
    * (doc_id[, term]) — no cross-doc shuffle at any corpus size. */
  def repetition(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val uc = w.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val u = uc.groupBy("doc_id").agg(sum("c").as("words"),
      count(lit(1)).as("uniq"), max("c").as("topc"))
    val arr = docs.select(col("doc_id"), split(col("text"), " ").as("arr"))
    // guard: Spark's sequence(1, 0) steps DOWNWARD — never build it
    val bg = arr.filter(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(arr) - 1), " +
          "i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))")).as("bg"))
    val bd = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n2"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("d2"))
    u.join(bd, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("words").cast("long").as("words"),
        round(col("uniq") / col("words"), 6).as("uniq_ratio"),
        round(col("topc") / col("words"), 6).as("top_frac"),
        round(coalesce(col("d2") / col("n2"), lit(0.0)), 6).as("dup2_frac"))
  }

  /** Gopher-style composite quality gate (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", rules C.1 — the word-level subset
    * that is meaningful on single-line corpora): per doc, word count,
    * instance-weighted mean word length, fraction of purely-alphabetic
    * word instances, stop-word hits, and the top-word fraction from
    * [[repetition]]'s family — plus the composite `keep` verdict
    * (words ≥ minWords, mean word length in [3, 10], alpha fraction ≥
    * 0.8, ≥ 2 stop-word hits, top-word fraction ≤ maxTopFrac). One
    * explode + two map-side-combined aggregations keyed by doc — no
    * cross-doc shuffle at any corpus size. */
  def gopherRules(docs: DataFrame, minWords: Int = 20,
                  maxTopFrac: Double = 0.2): DataFrame = {
    val tc = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val m = tc.groupBy("doc_id").agg(
      sum("c").cast("long").as("words"),
      max("c").as("topc"),
      (sum(col("c") * length(col("term"))) / sum("c")).as("mwl"),
      (sum(when(col("term").rlike("^[A-Za-z]+$"), col("c")).otherwise(0L)) /
        sum("c")).as("alpha"))
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\b(the|a|is|and|of)\\b"))
          .cast("long").as("stop_hits"))
      .join(m, Seq("doc_id"))
      .select(col("doc_id"), col("words"),
        round(col("mwl"), 6).as("mean_word_len"),
        round(col("alpha"), 6).as("alpha_frac"),
        col("stop_hits"),
        round(col("topc") / col("words"), 6).as("top_frac"),
        (col("words") >= minWords &&
          col("mwl") >= 3.0 && col("mwl") <= 10.0 &&
          col("alpha") >= 0.8 &&
          col("stop_hits") >= 2 &&
          col("topc") / col("words") <= maxTopFrac).as("keep"))
  }

  /** Unigram language-model quality score: train p(t) = cnt(t)/total on
    * the corpus itself, score each doc by the mean negative log-prob of
    * its word instances (the cheap perplexity proxy used for LM-based
    * quality filtering). Returns (doc_id, nll) rounded to 6 dp.
    *
    * Scale: the term-frequency table is |vocab| rows (AQE broadcasts it
    * when small); scoring is one join on term + one map-side-combined
    * per-doc average — shuffle bounded by token count. */
  def lmScore(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = w.groupBy("term").agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum("c").as("tot"))
    w.join(tf, Seq("term"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c") / col("tot"))), 6).as("nll"))
  }

  /** Bigram language-model scoring — the order-2 refinement of
    * [[lmScore]]: each doc's mean negative log-probability under the
    * corpus-trained bigram model p(w2 | w1) = c(w1,w2) / c(w1,·),
    * where c(w1,·) sums the bigram counts with context w1 (so the
    * model is a proper conditional even at document-final tokens).
    * Every document bigram exists in the training counts by
    * construction (the corpus trains on itself), so no smoothing term
    * is needed and the probabilities are exact rationals.
    * Repetitive/templated text scores low nll, rare constructions
    * high — the perplexity-shaped quality signal of Wenzek et al.'s
    * CCNet pipeline, with the corpus itself standing in for the LM.
    *
    * Plan: the bigram stream (tokenize + lead() over the per-doc
    * position window — one shuffle on doc_id) is materialized ONCE
    * with localCheckpoint and then feeds the model counts AND the
    * scoring join; without the checkpoint, Catalyst re-runs the
    * explode+window once per consumer (three times — plan-audited).
    * At cluster scale the same role is played by a persisted staging
    * table of bigrams, the usual shape for an LM-count job. Shuffles
    * are bounded by the token count; nothing is ever doc × doc or
    * vocab × vocab. Returns (doc_id, n_bigrams, nll) — single-token
    * docs have no bigram and are excluded, mirroring the SQL twin. */
  def bigramNll(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val w = docs.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "term")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val bg = w.withColumn("nxt", lead("term", 1).over(win))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("term"), col("nxt"))
      .localCheckpoint()
    val cb = bg.groupBy("term", "nxt").agg(count(lit(1)).as("cb"))
    val cuc = cb.groupBy("term").agg(sum("cb").as("cu"))
    bg.join(cb, Seq("term", "nxt"))
      .join(cuc, Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(-log(col("cb") / col("cu"))), 6).as("nll"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999's benchmark winner; the KenLM default) — the
    * smoothed refinement of [[bigramNll]]:
    *
    *   P(w2|w1) = (c(w1,w2) − d + d · N1+(w1,·) · P_cont(w2)) / c(w1,·)
    *   P_cont(w2) = N1+(·,w2) / |distinct bigram types|
    *
    * with absolute discount d = 0.75. The continuation probability
    * ranks words by how many CONTEXTS they follow, not raw frequency —
    * the "Francisco problem": frequent-but-one-context words stop
    * inflating unseen combinations. Every document bigram exists in
    * the self-trained counts, so c ≥ 1 > d keeps every probability in
    * (0, 1] with no backoff branch needed; the discount mass is still
    * redistributed through P_cont exactly as the full model would.
    *
    * Plan: same checkpointed bigram stream as [[bigramNll]] feeding
    * FOUR count frames — (w1,w2) counts, per-context totals+fanout in
    * ONE aggregate, per-word continuation fanout, and the 1-row type
    * total (broadcast) — then one scoring join chain and a per-doc
    * roll-up. All shuffles token-bounded. The arithmetic is written in
    * the same left-associated order as the SQL twin so both engines
    * evaluate identical IEEE doubles before the 6-dp round. */
  def kneserNeyNll(docs: DataFrame, d: Double = 0.75): DataFrame = {
    require(d > 0.0 && d < 1.0, "kneserNeyNll needs 0 < d < 1")
    val toks = split(col("text"), " ")
    val w = docs.select(col("doc_id"),
      posexplode(toks).as(Seq("pos", "term")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val bg = w.withColumn("nxt", lead("term", 1).over(win))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("term"), col("nxt"))
      .localCheckpoint()
    val cb = bg.groupBy("term", "nxt").agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    val cun1 = cb.groupBy("term")
      .agg(sum("cb").as("cu"), count(lit(1)).as("n1"))
    val nc = cb.groupBy("nxt").agg(count(lit(1)).as("ncont"))
    val tt = cb.agg(count(lit(1)).as("tt"))
    val p = (col("cb") - lit(d) + lit(d) * col("n1") * col("ncont") / col("tt")) /
      col("cu")
    bg.join(cb, Seq("term", "nxt"))
      .join(cun1, Seq("term"))
      .join(nc, Seq("nxt"))
      .crossJoin(broadcast(tt))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(-log(p)), 6).as("nll"))
  }

  /** Deterministic train/validation/test assignment: split is a pure
    * function of doc_id (salted hash bucket over 100, the same
    * integer-compare discipline as [[mixSample]]/[[hashSample]]), so
    * membership is reproducible across engines, runs and
    * repartitioning, and a doc can never migrate between splits when
    * the corpus grows — the property a training pipeline needs to keep
    * eval data uncontaminated across refreshes. Narrow projection,
    * zero shuffle. */
  def splitAssign(docs: DataFrame, trainPct: Int = 90,
                  valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"split percentages must be >= 0 and sum <= 100, got $trainPct/$valPct")
    val b = pmod(hash60(col("doc_id").cast("string"), "sp:"), lit(100L))
    docs.select(col("doc_id"),
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** THE segment-windowing formula: consecutive `width`-token windows
    * of an already-split token array, joined back to strings. Single
    * definition shared by [[segmentDedup]] (offline miner) and
    * [[graft.streaming.CorpusStreams.segmentGate]] (online filter) —
    * the gate only strips what the miner mined if the two windowings
    * hash identically, so there must be exactly one copy. */
  private[graft] def segments(arr: Column, width: Int): Column =
    transform(
      sequence(lit(0), floor((size(arr) - 1) / lit(width)).cast("int")),
      i => array_join(slice(arr, i * lit(width) + lit(1), lit(width)), " "))

  /** Sliding `width`-token windows of an already-split token array
    * (stride 1), re-joined to strings — the stride-1 twin of
    * [[segments]]. Empty for docs shorter than one window (guarded:
    * Spark's `sequence` auto-descends on a negative span). */
  private[graft] def slidingWindows(arr: Column, width: Int): Column =
    when(size(arr) >= width,
      transform(sequence(lit(0), size(arr) - lit(width)),
        i => array_join(slice(arr, i + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))

  /** MAXIMAL duplicated-span extraction — the sliding-window
    * completion of [[segmentDedup]] toward Lee et al. 2022's
    * suffix-array exact-substring dedup: position p (0-based) opens
    * the window tokens[p, p+width); a position is DUPLICATED when its
    * window text occurs in ≥ `minDf` distinct documents anywhere in
    * the corpus; a duplicated SPAN is a maximal run of consecutive
    * duplicated positions (run p..q covers tokens p .. q+width−1 —
    * exactly the ≥-width-token repeated substrings the suffix-array
    * method reports, at window granularity). Fixed windows
    * ([[segmentDedup]]) MISS repeats that straddle a segment
    * boundary; stride-1 windows cannot. Returns one row per document:
    * (doc_id, n_tokens, n_positions, n_dup_positions, n_spans,
    * dup_tokens, dup_share) — n_spans counts COVERAGE-merged spans
    * (two runs separated by < width positions overlap in token
    * coverage and merge), dup_tokens the union of covered tokens.
    *
    * Scale: one split+explode pass (token-linear, ×1 per position vs
    * segmentDedup's ×1/width — the honest price of stride 1, still
    * linear); document frequency over the 60-bit window hash
    * (map-side combined); the run/merge analysis is two per-document
    * windows — partitioned by doc_id, bounded by document length,
    * never corpus-wide. Never doc×doc. */
  def dupSpans(docs: DataFrame, width: Int = 10, minDf: Int = 2,
               framesIn: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (wins, spans) = framesIn.getOrElse(dupSpanFrames(docs, width, minDf))
    val merged = spans
      .groupBy("doc_id")
      .agg(sum("dp").cast("long").as("n_dup_positions"),
        count(lit(1)).cast("long").as("n_spans"),
        sum(col("c1") - col("c0") + 1L).cast("long").as("dup_tokens"))
    wins.groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum(col("g").isNotNull.cast("long")).cast("long").as("n_positions"))
      .join(merged, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"), col("n_positions"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_share"))
  }

  /** Shared kernel of [[dupSpans]] / [[stripDupSpans]]: the
    * checkpointed window stream and the coverage-merged span frame
    * (doc_id, grp, dp = duplicated positions, c0..c1 = covered token
    * range). Exposed so a session can compute it ONCE and feed both
    * consumers via their `framesIn` (the report/strip pair otherwise
    * pays two full token-explode + df + window passes). */
  private[graft] def dupSpanFrames(docs: DataFrame, width: Int = 10,
                                   minDf: Int = 2): (DataFrame, DataFrame) = {
    require(width >= 1 && minDf >= 1, "dupSpans needs width, minDf >= 1")
    // checkpoint HASHES, not window strings: downstream reads only
    // (doc_id, n_tokens, pos, g), and the string column would 10× the
    // pinned block footprint (a ~1 GB block per call at sf0.1 — enough
    // to evict the session's shared caches and slow every LATER query;
    // measured as a uniform ~1.3× drift across the whole bench suite
    // before this projection landed)
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n_tokens"),
        posexplode_outer(slidingWindows(col("arr"), width))
          .as(Seq("pos", "seg")))
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        TextOps.hash60(col("seg"), "sw:").as("g"))
      .localCheckpoint() // feeds the df aggregate AND the join back
    val dfreq = wins.filter(col("g").isNotNull)
      .select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val runs = wins.filter(col("g").isNotNull)
      .join(dfreq, Seq("g"))
      .filter(col("df") >= minDf)
      .withColumn("run", col("pos") - row_number().over(byPos))
      .groupBy("doc_id", "run")
      .agg(count(lit(1)).as("n_dup_pos"),
        min("pos").cast("long").as("p0"), max("pos").cast("long").as("p1"))
      .withColumn("cov0", col("p0"))
      .withColumn("cov1", col("p1") + lit(width.toLong) - 1L)
    // interval-union of run coverages: a new merged span starts where
    // cov0 exceeds the running max cov1 of all earlier runs
    val byCov = Window.partitionBy("doc_id").orderBy("cov0")
    val spans = runs
      .withColumn("prevMax",
        max("cov1").over(byCov.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newSpan",
        (col("prevMax").isNull || col("cov0") > col("prevMax")).cast("long"))
      .withColumn("grp", sum("newSpan").over(byCov))
      .groupBy("doc_id", "grp")
      .agg(sum("n_dup_pos").as("dp"),
        min("cov0").as("c0"), max("cov1").as("c1"))
    (wins, spans)
  }

  /** The APPLY side of [[dupSpans]] (the segmentDedup report/strip
    * symmetry at stride-1 granularity): remove every token covered by
    * a duplicated span, reassemble the survivors in original order.
    * Returns (doc_id, n_tokens, dup_tokens, clean_text) — clean_text
    * "" marks an all-duplicated doc.
    *
    * Scale: the merged span set rides as ONE (sorted-starts,
    * sorted-ends) array pair per document — the token stream joins one
    * row per doc (no token×span row fan-out; the previous equi-join-
    * then-range-filter shape replicated every token row once per span
    * of its document, O(tokens·spans) inside one partition for a
    * heavily-duplicated doc) and containment is a codegen'd binary
    * search ([[graft.sql.SortedRangesContain]], O(log spans) per
    * token). Reassembly is the segmentDedup ordered-collect
    * aggregation; the span arrays are bounded by n_tokens/width per
    * doc (spans are disjoint after the coverage merge). */
  def stripDupSpans(docs: DataFrame, width: Int = 10, minDf: Int = 2,
                    framesIn: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    graft.sql.SortedRangesContain.register(docs.sparkSession)
    val (_, spans) = framesIn.getOrElse(dupSpanFrames(docs, width, minDf))
    // disjoint spans sorted by start: struct sort orders by c0 first,
    // and disjointness makes the end array co-sorted
    val spanArr = spans
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("c0"), col("c1")))).as("sp"))
      .select(col("doc_id"), col("sp.c0").as("c0s"), col("sp.c1").as("c1s"))
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("tpos", "tok")))
    val marked = toks
      .join(spanArr, Seq("doc_id"), "left_outer")
      .withColumn("covered",
        when(col("c0s").isNull, lit(0L))
          .otherwise(call_function("sorted_ranges_contain",
            col("c0s"), col("c1s"), col("tpos").cast("long")).cast("long")))
    marked.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum("covered").cast("long").as("dup_tokens"),
        array_join(transform(
          array_sort(collect_list(when(col("covered") === 0L,
            struct(col("tpos"), col("tok"))))),
          x => x.getField("tok")), " ").as("clean_text"))
  }

  /** Segment-level exact dedup (the fixed-window approximation of
    * substring dedup, Lee et al. "Deduplicating Training Data Makes
    * Language Models Better", 2022): each doc is cut into consecutive
    * `width`-token segments; a segment occurring in ≥ `minDf` distinct
    * documents anywhere in the corpus is boilerplate and is dropped
    * from every document; the survivors are re-joined in original
    * order. Returns (doc_id, n_segs, n_kept, clean_text) — n_kept = 0
    * with clean_text = "" marks an all-boilerplate doc.
    *
    * Scale: one split+explode pass (segments carry their in-doc
    * position), document frequency over the 60-bit segment hash —
    * (g, doc_id) distinct + map-side-combined count, shuffle bounded
    * by the corpus token count / width — then one join back on the
    * hash and a per-doc reassembly aggregation. Never doc×doc; the
    * df table is |distinct segments| rows and AQE broadcasts it when
    * small. */
  def segmentDedup(docs: DataFrame, width: Int = 10, minDf: Int = 2): DataFrame = {
    // materialized because it feeds both the df aggregate and the join
    // back (the oracle marks its segs CTE MATERIALIZED for the same
    // reason) — without it the split+explode runs twice per call
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(col("doc_id"),
        posexplode(segments(col("arr"), width)).as(Seq("pos", "seg")))
      .withColumn("g", hash60(col("seg"), "sg:"))
      .localCheckpoint()
    val dfreq = segs.select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
    val kept = col("df") < minDf
    segs.join(dfreq, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_segs"),
        sum(kept.cast("long")).cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(kept, struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"))
  }

  /** Per-source mix report: doc count, total whitespace tokens and
    * mean quality per `source` — the one-glance table a mix designer
    * reads next to [[sourceOverlap]] before setting [[mixSample]]
    * weights. One narrow projection + one map-side-combined
    * aggregation over |sources| keys. */
  def mixReport(docs: DataFrame): DataFrame =
    TextOps.withQuality(docs)
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("_words").cast("long").as("total_tokens"),
        round(avg("quality"), 6).as("mean_quality"))

  /** Per-source PII density: documents scanned, documents carrying at
    * least one PII hit, total hits across the [[TextOps.piiPatterns]]
    * families, and hits per 1k characters — the compliance row a
    * source gets reviewed on before entering a training mix. (The
    * synthetic corpus carries no PII, so the oracle validates the
    * expressions agree across engines; PiiSpec exercises real
    * matches.)
    *
    * Scale: ONE narrow scan — the regexp counts fold per row, then a
    * k-row source aggregate; no join against a separate scan frame. */
  def piiDensity(docs: DataFrame): DataFrame = {
    val hits = TextOps.piiPatterns
      .map { case (_, re, _) => regexp_count(col("text"), lit(re)).cast("long") }
      .reduce(_ + _)
    docs.select(col("source"), hits.as("h"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("h") > 0L, 1L).otherwise(0L)).cast("long")
          .as("docs_with_pii"),
        sum("h").cast("long").as("n_hits"),
        round(sum("h") * lit(1000.0) / sum("chars"), 6).as("hits_per_kchar"))
  }

  /** Per-source duplication inflation: docs vs distinct content
    * fingerprints and their ratio (1.0 = no exact dups; 2.0 = the
    * source ships every text twice) — the first column a mix designer
    * reads next to [[mixReport]], since a source's size is
    * meaningless before dividing out its duplication.
    *
    * Scale: two-stage aggregation — partial count on (source, fp)
    * combines map-side, then a k-row source roll-up; no
    * count-distinct expansion, no window. */
  def dupInflation(docs: DataFrame, key: Column): DataFrame =
    docs.select(col("source"), md5(key).as("fp"))
      .groupBy("source", "fp").agg(count(lit(1)).as("m"))
      .groupBy("source")
      .agg(sum("m").cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_unique"),
        round(sum("m").cast("double") / count(lit(1)), 6).as("inflation"))

  /** Temperature-scaled source sampling weights — the multilingual-LM
    * mixing rule (exponentiated sampling, Devlin et al. 2019 mBERT
    * App. A; Conneau & Lample 2019; mT5): p_s ∝ n_s^α with α ∈ (0, 1]
    * flattening the natural source distribution toward uniform so
    * low-resource sources aren't drowned. Per source: doc count,
    * natural share, temperature share, the boost factor a sampler
    * applies (temp/natural — >1 upsampled), and expected epochs over
    * the source for a `budgetDocs` total sample (epochs > 1 ⇒ the
    * source repeats; the overfitting dial mix designers watch).
    *
    * Scale: ONE map-side-combined groupBy(source); the α-power fold
    * and both normalizers run on the k-row source frame against a
    * broadcast 1-row total. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.5,
                     budgetDocs: Long = 100000L): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "temperatureMix needs 0 < alpha <= 1")
    require(budgetDocs > 0, "temperatureMix needs a positive budget")
    val per = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val tot = per.agg(sum("n").as("tot"), sum(pow(col("n"), alpha)).as("ptot"))
    val temp = pow(col("n"), alpha) / col("ptot")
    val nat = col("n") / col("tot")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        round(nat, 6).as("nat_share"),
        round(temp, 6).as("temp_share"),
        round(temp / nat, 6).as("boost"),
        round(lit(budgetDocs.toDouble) * temp / col("n"), 6).as("epochs"))
  }

  /** Cross-source duplication overlap: for each unordered pair of
    * `source` values, how many near-dup candidate pairs straddle them
    * (diagonal = within-source duplication) — the crawl-overlap matrix
    * a mix designer reads before weighting sources. Scale: two doc_id
    * equi-joins to attach source metadata to the (already bounded)
    * candidate pair frame, then an aggregation over ≤ |sources|² keys;
    * the metadata projection broadcasts under AQE when small. */
  def sourceOverlap(docs: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(docs.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).cast("long").as("n_pairs"))

  /** End-to-end corpus cleaning: keep docs whose language-ID guess
    * matches the labeled lang, whose quality score is ≥ `minQuality`,
    * and which are NOT a member of any near-dup candidate pair; report
    * survivors per language. Composes [[TextOps.langId]],
    * [[TextOps.quality]] and the pair frame (one anti-join). */
  /** End-to-end training-mix report — the WHOLE prep DAG as one
    * composed plan: language-ID gate ∧ quality gate ∧ exact-dup
    * removal (first-100-char fingerprint, keep each cluster's min-id
    * representative — the stage a production pipeline runs before
    * near-dup banding, which q_corpus_clean covers separately) ∧
    * benchmark decontamination (eval-slice verbatim `gram`-char
    * overlap, the held-out slice itself leaving the mix too) →
    * per-language mixing sampler → deterministic train/val/test
    * split → per (lang, split) doc count and character mass of the
    * final training set. Every stage is the SAME operator a user runs
    * standalone (langId, quality, dedupExact's fingerprint,
    * decontaminate, mixSample, splitAssign), so this row certifies
    * the composition, not new semantics — Catalyst fuses the gates
    * into one pass over the corpus plus the semi-join sides the
    * dedup/decontam stages genuinely need. All joins are keyed on
    * doc_id; nothing materializes doc×doc state. */
  /** `mediaDropIds`: optional extra exclusion frame (one doc_id
    * column) — the hook the MULTIMODAL gates plug into (perceptual
    * image / audio fingerprint near-dup members,
    * `Multimodal.imageDedupPairs` / `audioDedupPairs`): one more
    * doc_id-keyed anti-join on the survivor frame, nothing else in
    * the plan changes. None ≡ the text-only mix (the oracle-checked
    * q_training_mix row). */
  def trainingMixReport(docs: DataFrame,
                        weights: Map[String, Double],
                        minQuality: Double = 0.5, evalPct: Int = 5,
                        gram: Int = 24,
                        trainPct: Int = 90, valPct: Int = 5,
                        mediaDropIds: Option[DataFrame] = None,
                        survivorsIn: Option[DataFrame] = None): DataFrame = {
    // survivorsIn: the text-gate survivor frame is identical for every
    // media-gate variant of the report — a session serving both the
    // text and multimodal mixes computes it once
    val textSurvivors = survivorsIn.getOrElse(
      mixTextSurvivors(docs, minQuality, evalPct, gram))
    val survivors = mediaDropIds match {
      case Some(ids) => textSurvivors.join(
        ids.select(col(ids.columns.head).cast("long").as("doc_id")),
        Seq("doc_id"), "left_anti")
      case None => textSurvivors
    }
    mixSample(docs, weights)
      .join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(splitAssign(docs, trainPct, valPct), Seq("doc_id"))
      .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy("lang", "split")
  }

  /** The TEXT-gate survivor frame of [[trainingMixReport]] (doc_id,
    * lang): language-ID pass ∧ quality ≥ threshold ∧ NOT a
    * non-canonical exact-dup ∧ NOT benchmark-contaminated ∧ NOT in the
    * held-out eval slice. Split out so the text and multimodal mix
    * reports share one computation. */
  def mixTextSurvivors(docs: DataFrame, minQuality: Double = 0.5,
                       evalPct: Int = 5, gram: Int = 24): DataFrame = {
    // exact dedup keeps each fingerprint cluster's min-id
    // REPRESENTATIVE — dedup keeps one copy of the content, it
    // doesn't erase it; only non-canonical members leave the mix
    val fp = docs.select(col("doc_id"),
      md5(lower(substring(col("text"), 1, 100))).as("fp"))
    val dup = fp
      .join(fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id")), Seq("fp"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    val contaminated = decontaminate(docs, evalPct, gram).select("doc_id")
    // the held-out slice itself leaves the training mix too — it's the
    // benchmark, not training data
    val evalSlice = docs.filter(
      pmod(TextOps.hash60(col("doc_id").cast("string"), "ev:"),
        lit(100L)) < evalPct).select("doc_id")
    TextOps.langId(docs).filter(col("matches"))
      .select("doc_id", "lang")
      .join(TextOps.quality(docs).filter(col("quality") >= minQuality)
        .select("doc_id"), Seq("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(evalSlice, Seq("doc_id"), "left_anti")
  }

  def corpusClean(docs: DataFrame, pairs: DataFrame,
                  minQuality: Double = 0.5): DataFrame = {
    val dup = pairs.select(col("a").as("doc_id"))
      .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
    TextOps.langId(docs).filter(col("matches"))
      .join(TextOps.quality(docs).filter(col("quality") >= minQuality),
        Seq("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).cast("long").as("kept"))
  }

  /** Token-budget epoch planner: per language, fill a whole-document
    * token budget best-quality-first and report the selection — the
    * concrete "which docs make the cut for this epoch" decision a mix
    * designer runs after setting per-language budgets. Semantics
    * (pinned, whole docs only): θ = quality of the block where the
    * budget crosses scanning value blocks best-first; every doc with
    * quality > θ is selected (their tokens total tok_above < B by
    * construction); within the θ tie-block docs are taken in doc_id
    * order while the running token total fits the remainder.
    *
    * Scale: NO corpus-grain sort — the best-first scan runs on the
    * per-(lang, quality-VALUE) count frame (windows over the value
    * domain), and only the θ tie-block's docs get a doc-grain window
    * (bounded by the largest quality tie, not the corpus). */
  def tokenBudget(docs: DataFrame, budget: Long = 200000L): DataFrame = {
    val feat = TextOps.withQuality(docs)
      .select(col("lang"), col("doc_id"), col("quality").as("q"),
        col("_words").as("nt"))
    val vc = feat.groupBy("lang", "q")
      .agg(count(lit(1)).as("c"), sum("nt").as("tok"))
    val wDesc = Window.partitionBy("lang").orderBy(col("q").desc)
    val cum = vc.withColumn("cum_above", sum("tok").over(wDesc) - col("tok"))
    // θ block: the LAST block (best-first) whose strictly-better mass
    // is still under budget — always exists (first block has 0 above)
    val theta = cum.filter(col("cum_above") < budget)
      .groupBy("lang")
      .agg(min("q").as("theta"))
    val above = cum.join(broadcast(theta), Seq("lang"))
      .filter(col("q") > col("theta"))
      .groupBy("lang")
      .agg(sum("c").as("n_above"), sum("tok").as("tok_above"))
    val wTie = Window.partitionBy("lang").orderBy("doc_id")
    val boundary = feat.join(broadcast(theta), Seq("lang"))
      .filter(col("q") === col("theta"))
      .withColumn("cum_nt", sum("nt").over(wTie))
      .join(broadcast(above), Seq("lang"), "left")
      .filter(col("cum_nt") <= lit(budget) - coalesce(col("tok_above"), lit(0L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_boundary"), sum("nt").as("tok_boundary"))
    theta
      .join(above, Seq("lang"), "left")
      .join(boundary, Seq("lang"), "left")
      .select(col("lang"), col("theta"),
        coalesce(col("n_above"), lit(0L)).as("n_above"),
        coalesce(col("tok_above"), lit(0L)).as("tok_above"),
        coalesce(col("n_boundary"), lit(0L)).as("n_boundary"),
        coalesce(col("tok_boundary"), lit(0L)).as("tok_boundary"),
        (coalesce(col("n_above"), lit(0L)) +
          coalesce(col("n_boundary"), lit(0L))).as("n_selected"),
        (coalesce(col("tok_above"), lit(0L)) +
          coalesce(col("tok_boundary"), lit(0L))).as("tokens_selected"))
      .orderBy("lang")
  }

  /** Training-shard mixing audit: docs assigned to `shards` buckets by
    * the salted 60-bit md5 of doc_id (the deterministic assignment a
    * distributed writer would use), then each shard's source
    * distribution is scored against the corpus distribution with KL —
    * the "is every shard a faithful miniature of the mix" check that
    * catches skewed shard assignment before it skews training batches.
    * Returns (shard, n_docs, n_sources, kl) per shard.
    *
    * Scale: one scan to the (shard, source) count frame (|shards|·|S|
    * rows); global marginals derived from it; every join is on frames
    * broadcast-sized by construction. */
  def shardMix(docs: DataFrame, shards: Int = 16): DataFrame = {
    val c = docs
      .select(pmod(TextOps.hash60(col("doc_id").cast("string"), "shard:"),
        lit(shards.toLong)).as("shard"), col("source"))
      .groupBy("shard", "source").agg(count(lit(1)).as("c"))
    val bySh = c.groupBy("shard").agg(sum("c").as("n_docs"),
      count(lit(1)).as("n_sources"))
    val glob = c.groupBy("source").agg(sum("c").as("g"))
    val tot = glob.agg(sum("g").as("n"))
    c.join(broadcast(glob), Seq("source")).crossJoin(broadcast(tot))
      .join(broadcast(bySh), Seq("shard"))
      .groupBy("shard")
      .agg(sum((col("c") / col("n_docs")) *
        log((col("c") / col("n_docs")) / (col("g") / col("n")))).as("kl"))
      .join(bySh, Seq("shard"))
      .select(col("shard"), col("n_docs").cast("long").as("n_docs"),
        col("n_sources").cast("long").as("n_sources"),
        round(col("kl"), 6).as("kl"))
      .orderBy("shard")
  }

  /** Incremental-ingestion dedup audit: the corpus is split into an
    * 80% "index" (already-ingested history) and 20% "incoming" batch
    * by salted doc_id hash, and each incoming doc is checked against
    * the index's exact content fingerprints — the per-source hit rate
    * is the marginal duplication a NEW crawl batch carries against the
    * existing corpus (the number that decides whether a source is
    * still worth crawling). Returns (source, n_incoming, n_hit,
    * hit_rate).
    *
    * Scale: the index side reduces to DISTINCT fingerprints before the
    * join (one shuffle each side, join key = 128-bit md5 — uniform, no
    * skew); nothing doc×doc. */
  def incrementalDedup(docs: DataFrame, indexPct: Int = 80): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("fp"),
      pmod(TextOps.hash60(col("doc_id").cast("string"), "inc:"), lit(100L))
        .as("b"))
    val index = fp.filter(col("b") < indexPct)
      .select("fp").distinct().withColumn("h", lit(1L))
    fp.filter(col("b") >= indexPct)
      .join(index, Seq("fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_incoming"),
        sum(coalesce(col("h"), lit(0L))).cast("long").as("n_hit"))
      .select(col("source"), col("n_incoming"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_incoming"), 6)
          .as("hit_rate"))
      .orderBy("source")
  }

  /** Pairwise source vocabulary overlap: Jaccard of the distinct
    * whitespace-term sets of every source pair ([[terms]] tokenizer —
    * the shared definition). High overlap between two crawl sources
    * flags redundant acquisition even when no document is a near-dup;
    * low overlap justifies keeping both. Returns (source_a, source_b,
    * vocab_a, vocab_b, n_both, jaccard), a < b.
    *
    * Scale: the corpus reduces to the DISTINCT (source, term) frame
    * (vocab-bounded) before any pairing; the pair join is keyed on
    * term with ≤|S| rows per key, so intersections cost vocab·|S|²
    * worst-case — never doc×doc, never vocab×vocab. */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("v"))
    val both = st.join(st.select(col("source").as("source_b"),
          col("term")), Seq("term"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("v").as("vocab_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("v").as("vocab_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("vocab_a").cast("long").as("vocab_a"),
        col("vocab_b").cast("long").as("vocab_b"),
        col("n_both").cast("long").as("n_both"),
        round(col("n_both").cast("double") /
          (col("vocab_a") + col("vocab_b") - col("n_both")), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Quality↔rule-gate calibration: global quality deciles (the
    * [[qualityDupLift]] value-domain rank rule) against the
    * [[gopherRules]] composite keep flag — does the cheap heuristic
    * score predict the expensive rule gate, i.e. can a threshold on
    * quality replace the full rule evaluation at scan time. Returns
    * (decile, n_docs, n_keep, keep_rate).
    *
    * Scale: the decile map lives on the distinct-quality frame; the
    * gopher flags are the one token-grouped pass gopherRules already
    * costs; one decile-keyed rollup. */
  def qualityCalibration(docs: DataFrame): DataFrame = {
    val scored = TextOps.quality(docs)
      .select(col("doc_id"), col("quality").as("q"))
    val cnt = scored.groupBy("q").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("q")
    val ranked = cnt
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("q"),
        least(floor((lit(2L) * (col("cum") - col("c")) + col("c"))
            .cast("double") / (lit(2L) * col("n")).cast("double") * lit(10.0)),
          lit(9.0)).cast("long").as("decile"))
    scored.join(ranked, Seq("q"))
      .join(gopherRules(docs).select(col("doc_id"), col("keep")),
        Seq("doc_id"))
      .groupBy("decile")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_keep"))
      .select(col("decile"), col("n_docs"), col("n_keep"),
        round(col("n_keep").cast("double") / col("n_docs"), 6)
          .as("keep_rate"))
      .orderBy("decile")
  }

  /** Train→eval split leakage: the fraction of val/test documents that
    * share at least one character `gram`-gram hash with ANY train
    * document under the [[splitAssign]] buckets (same salt, same
    * cuts) — the audit that catches near-dup contamination a doc-id
    * split can't see. Returns (split, n_docs, n_leaked, leak_rate)
    * for the non-train splits.
    *
    * Scale: split-before-shingle (the split predicate is a pure
    * doc_id function, so each side shingles only its own docs —
    * the decontaminate lesson); one gram-keyed semi-join. */
  def splitLeakage(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5,
                   gram: Int = 8): DataFrame = {
    val b = pmod(TextOps.hash60(col("doc_id").cast("string"), "sp:"),
      lit(100L))
    val trainG = TextOps.shingles(docs.filter(b < trainPct), gram)
      .select(TextOps.hash60(col("sh"), "lk:").as("g")).distinct()
    val nonTrain = docs.filter(b >= trainPct)
      .withColumn("split",
        when(b < trainPct + valPct, "val").otherwise("test"))
    val leaked = TextOps.shingles(nonTrain, gram)
      .select(col("doc_id"), TextOps.hash60(col("sh"), "lk:").as("g"))
      .join(trainG, Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .join(nonTrain.select("doc_id", "split"), Seq("doc_id"))
      .groupBy("split").agg(count(lit(1)).as("n_leaked"))
    nonTrain.groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs").cast("long").as("n_docs"),
        coalesce(col("n_leaked"), lit(0L)).cast("long").as("n_leaked"),
        round(coalesce(col("n_leaked"), lit(0L)).cast("double") /
          col("n_docs"), 6).as("leak_rate"))
      .orderBy("split")
  }

  /** Hapax-legomena profile per source: vocabulary size, share of
    * terms occurring exactly once WITHIN the source, and token total —
    * the productivity/creativity fingerprint (a high hapax rate marks
    * genuinely novel text; a collapsing one marks template spam long
    * before near-dup detectors fire). [[terms]] tokenizer. One
    * (source, term) count shuffle, then an |S|-row rollup. */
  def hapaxProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long").as("hapax"),
        sum("c").cast("long").as("tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("tokens"),
        round(col("hapax").cast("double") / col("vocab"), 6).as("hapax_rate"))
      .orderBy("source")

  /** Skip-gram co-occurrence pairs (the word2vec/GloVe training
    * statistic): ordered (center, context) counts for contexts 1..w
    * positions ahead within a document, top `topK` by count. Positions
    * come from the RAW whitespace split (empty tokens hold their slot
    * and are filtered after pairing), so both engines see identical
    * adjacency. Returns (center, context, n).
    *
    * Scale: w `lead` columns over one per-doc window — no self-join,
    * no position explode; the count shuffles once keyed by the pair;
    * top-k is a TakeOrdered. */
  def skipgramPairs(docs: DataFrame, window: Int = 2,
                    topK: Int = 30): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = toks.select(col("doc_id") +: col("term").as("center") +:
      (1 to window).map(j => lead("term", j).over(w).as(s"ctx$j")): _*)
    (1 to window).map(j =>
        leads.select(col("center"), col(s"ctx$j").as("context")))
      .reduce(_ unionByName _)
      .filter(col("center") =!= "" && col("context").isNotNull &&
        col("context") =!= "")
      .groupBy("center", "context").agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("center").asc, col("context").asc)
      .limit(topK)
  }

  /** Quality↔duplication calibration: global quality percent-rank
    * deciles (exact half-unit ranks over the quality VALUE domain, as
    * [[graft.pipeline.Robust.quantileNorm]]) against the near-dup flag
    * from the MinHash candidate pairs — the "does my quality score
    * actually anti-correlate with duplication" audit that decides
    * whether quality-gating doubles as soft dedup. One quality scan +
    * the shared candidate-pair frame; deciles from the value-domain
    * rank formula, never an NTILE over the corpus. */
  def qualityDupLift(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val scored = TextOps.quality(docs).select(col("doc_id"), col("quality").as("q"))
    val cnt = scored.groupBy("q").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("q")
    val ranked = cnt
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("q"),
        least(floor((lit(2L) * (col("cum") - col("c")) + col("c")).cast("double") /
          (lit(2L) * col("n")).cast("double") * lit(10.0)), lit(9.0))
          .cast("long").as("decile"))
    val dup = pairs.select(col("a").as("doc_id"))
      .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
      .withColumn("is_dup", lit(1L))
    scored.join(ranked, Seq("q"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .select(col("decile"), col("n_docs"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy("decile")
  }

  /** Word2vec-style phrase mining (Mikolov et al. 2013 §4): adjacent
    * whitespace-token bigrams scored by (c_ab − δ)·N / (c_a·c_b) —
    * PMI with a min-count discount — and the top-k returned. Adjacency
    * is over the RAW whitespace split (both sides non-empty), so the
    * engine and oracle agree on positions without re-ranking. Counts
    * are exact BIGINT off two token passes (bigram join on (doc_id,
    * pos+1) — no window); the score is one double closed form per
    * surviving bigram, ties broken lexically. */
  def phraseStats(docs: DataFrame, minCount: Long = 5L, delta: Double = 5.0,
                  topK: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val uni = toks.filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n_toks"))
    val bi = toks.select(col("doc_id"), col("pos"), col("w").as("w1"))
      .join(toks.select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("w").as("w2")), Seq("doc_id", "pos"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_a"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_b"))),
        Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"),
        round((col("c_ab").cast("double") - lit(delta)) *
          col("n_toks").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Fixed function-word list shared by [[stopwordProfile]] and its
    * oracle — the 15 highest-frequency English closed-class words. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in",
    "is", "it", "that", "for", "on", "as", "with", "at", "by")

  /** Per-source stopword profile: token share of closed-class
    * function words + how many distinct stopwords appear — the
    * classic text-vs-template quality signal (natural prose sits near
    * 0.3–0.5, keyword soup near 0). One token pass, |S|-bounded
    * output, exact counts. */
  def stopwordProfile(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    toks.groupBy("source").agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("w").isin(stopwords: _*), 1L).otherwise(0L))
          .as("n_stop"),
        countDistinct(when(col("w").isin(stopwords: _*), col("w")))
          .as("n_distinct_stop"))
      .select(col("source"), col("n_toks"), col("n_stop"),
        round(col("n_stop").cast("double") / col("n_toks").cast("double"),
          6).as("stop_ratio"),
        col("n_distinct_stop"))
      .orderBy("source")
  }

  /** k-anonymity audit over the release-style quasi-identifier
    * (lang, source, n_chars DIV `bucket`): for each k, how many
    * documents sit in an equivalence class smaller than k — i.e. are
    * re-identifiable from the quasi-identifier alone (Sweeney 2002).
    * The tabular counterpart of the graph-side degree-anonymity
    * screen. One groupBy to the class frame, then class-domain-
    * bounded aggregates per k. */
  def kAnonymity(docs: DataFrame, bucket: Long = 100L,
                 ks: Seq[Int] = Seq(2, 5, 10)): DataFrame = {
    require(ks.nonEmpty, "kAnonymity needs at least one k")
    val cls = docs
      .select(col("lang"), col("source"),
        expr(s"CAST(n_chars AS BIGINT) DIV $bucket").as("len_b"))
      .groupBy("lang", "source", "len_b")
      .agg(count(lit(1)).as("csize"))
    val tot = cls.agg(count(lit(1)).as("n_classes"), sum("csize").as("n_docs"),
      min("csize").as("min_class"), max("csize").as("max_class"))
    ks.map { kk =>
      cls.agg(sum(when(col("csize") < kk, col("csize")).otherwise(0L))
          .as("exposed"))
        .crossJoin(broadcast(tot))
        .select(lit(kk.toLong).as("k"), col("n_classes"), col("n_docs"),
          col("min_class"), col("max_class"), col("exposed"),
          round(col("exposed").cast("double") / col("n_docs").cast("double"),
            6).as("exposed_rate"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** ==== NOT DIFFERENTIAL PRIVACY — Laplace-mechanism DEMO ====
    * Per-source histogram with DETERMINISTIC inverse-CDF "noise":
    * u = (h+½)/2⁶⁰ from the salted 60-bit hash of the source name
    * (the +½ keeps u strictly inside (0,1), so the quantile transform
    * can never hit ln(0) = −∞ at either tail), noise = −(1/ε)·
    * sign(u−½)·ln(1−2|u−½|) — the exact Laplace quantile transform,
    * bit-identical across engines because both apply the same ln to
    * the same hash-derived double. This provides NO privacy guarantee:
    * the noise is a deterministic function of the group key (an
    * adversary recomputes it exactly), and the TRUE count is emitted
    * beside the noised one. It demonstrates the mechanism's algebra /
    * plan shape only; a real ε-DP release draws fresh randomness per
    * release, drops the true count, and never reuses a salt (a fixed
    * salt reuses its privacy budget). Sensitivity 1 (one document
    * moves one count), so b = 1/ε. One groupBy; |S|-bounded output. */
  def dpHistogram(docs: DataFrame, epsilon: Double = 1.0,
                  salt: String = "dp:"): DataFrame = {
    require(epsilon > 0.0, "epsilon must be positive")
    val cnt = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val u = (hash60(col("source"), salt).cast("double") + lit(0.5)) /
      lit((1L << 60).toDouble)
    val d = u - lit(0.5)
    val noise = when(d >= 0.0, -log(lit(1.0) - lit(2.0) * d))
      .otherwise(log(lit(1.0) + lit(2.0) * d)) / lit(epsilon)
    cnt.select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") + noise, 6).as("noised"),
        lit(epsilon).as("epsilon"))
      .orderBy("source")
  }

  /** Differentially-private per-source mean (the Laplace
    * sum-and-count mechanism, Dwork et al. 2006): values clipped to
    * [0, clip] (the sensitivity bound every DP release needs), ε
    * split evenly between the noised clipped sum (scale 2·clip/ε)
    * and the noised count (scale 2/ε), mean = noised sum / max(1,
    * noised count) — [[dpHistogram]]'s count release extended to the
    * magnitude statistics a data-sharing report actually publishes.
    * Noise is the same deterministic inverse-CDF-of-hash draw as
    * dpHistogram (per-source, salted per release component), so the
    * oracle replays it exactly; like there, a deployment wanting real
    * DP swaps the hash u for a secret RNG.
    *
    * Scale: one |sources|-key aggregate (map-side combined), noise is
    * per-group codegen. Returns (source, n_docs, dp_count, dp_sum,
    * dp_mean, epsilon). */
  def dpMean(docs: DataFrame, valueCol: String = "n_chars",
             clip: Double = 2000.0, epsilon: Double = 1.0,
             salt: String = "dpm:"): DataFrame = {
    require(epsilon > 0.0 && clip > 0.0,
      "dpMean needs epsilon > 0 and clip > 0")
    def lap(saltN: String, scale: Double) = {
      val u = (TextOps.hash60(col("source"), saltN).cast("double") +
        lit(0.5)) / lit((1L << 60).toDouble)
      val d = u - lit(0.5)
      (when(d >= 0.0, -log(lit(1.0) - lit(2.0) * d))
        .otherwise(log(lit(1.0) + lit(2.0) * d))) * lit(scale)
    }
    val g = docs.groupBy("source").agg(
      sum(least(greatest(col(valueCol).cast("double"), lit(0.0)),
        lit(clip))).as("csum"),
      count(lit(1)).as("n"))
    val dpN = col("n").cast("double") + lap(salt + "n:", 2.0 / epsilon)
    val dpS = col("csum") + lap(salt + "s:", 2.0 * clip / epsilon)
    g.select(col("source"), col("n").cast("long").as("n_docs"),
        round(dpN, 6).as("dp_count"),
        round(dpS, 6).as("dp_sum"),
        round(dpS / greatest(dpN, lit(1.0)), 6).as("dp_mean"),
        lit(epsilon).as("epsilon"))
      .orderBy("source")
  }

  /** 2-D skyline (Pareto frontier) over (quality MAX, n_chars MIN) —
    * the preference-query operator: a document survives iff no other
    * document is at least as good on both axes and strictly better on
    * one ("the shortest document at every quality level anything
    * longer cannot beat"). Computed on the (quality, length) VALUE
    * domain, not the corpus: per-quality min length, then one running
    * min over the quality domain ordered descending — a document is
    * on the skyline iff it achieves its quality's min length AND is
    * strictly shorter than everything at higher quality. Ties on both
    * axes all survive (domination requires a strict edge). */
  def skyline(docs: DataFrame): DataFrame = {
    val scored = TextOps.withQuality(docs)
      .select(col("doc_id"), col("quality"),
        col("n_chars").cast("long").as("len"))
    val q = scored.groupBy("quality").agg(min("len").as("min_len"))
    val w = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dom = q.withColumn("best_above", min("min_len").over(w))
    scored.join(broadcast(dom), Seq("quality"))
      .filter(col("len") === col("min_len") &&
        (col("best_above").isNull || col("len") < col("best_above")))
      .select(col("doc_id"), col("quality"), col("len"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  /** Zipf-exponent fit: OLS of ln(frequency) on ln(rank) over the
    * top-k vocabulary (rank ties broken lexically) — the companion of
    * [[zipfCoverage]]: coverage says how much the head holds, the
    * exponent says how fast the tail decays (natural text ≈ −1;
    * flatter means template/ID-heavy tokens). The fit runs on a
    * k-row frame at any corpus size. */
  def zipfFit(docs: DataFrame, k: Int = 200): DataFrame = {
    val cnt = docs.select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(k)
    val ranked = cnt.withColumn("r",
      row_number().over(Window.orderBy(col("c").desc, col("t"))))
    val pts = ranked.select(log(col("r").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"))
    val a = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"), sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val vx = col("sxx") - col("sx") * col("sx") / nD
    val vy = col("syy") - col("sy") * col("sy") / nD
    val cxy = col("sxy") - col("sx") * col("sy") / nD
    a.select(col("n").as("k_used"),
      round(when(vx > 0.0, cxy / vx), 6).as("slope"),
      round(when(vx > 0.0, (col("sy") - cxy / vx * col("sx")) / nD), 6)
        .as("intercept"),
      round(when(vx > 0.0 && vy > 0.0, cxy * cxy / (vx * vy)), 6).as("r2"))
  }
}
