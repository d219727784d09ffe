package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextOps.{hash60, shingles}

/** Deduplication operators (brief-mandated LLM-pipeline surface).
  *
  * Scale notes: exact dedup is one hash-groupBy; MinHash/LSH bounds the
  * candidate space via banded signatures (groupBy band → bucket join, no
  * cartesian anywhere); SimHash pairs join on 8-bit chunks (pigeonhole:
  * hamming ≤ 3 on 32 bits ⇒ some chunk equal). All self-joins are on
  * hashed keys — uniform distribution, no skew.
  */
object Dedup {

  /** Exact dedup by content hash of `key`: groups with >1 member, keeping
    * the smallest doc_id as representative. */
  def exact(docs: DataFrame, key: Column): DataFrame =
    docs.select(col("doc_id"), md5(key).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("cnt"))
      .filter(col("cnt") > 1)

  /** Quality-aware canonical selection: the same exact-dup groups as
    * [[exact]], but the survivor is the member with the BEST
    * [[TextOps]] quality score (doc_id ascending on ties) rather than
    * the blind min-id — the dedup policy that keeps the best-written
    * copy when a crawl carries boilerplate-mangled variants. Returns
    * multi-member groups only: (fp, canonical_id, n_members,
    * best_quality, worst_quality) — the quality spread shows what the
    * choice bought.
    *
    * Scale: quality is a per-row codegen map on the scan; ONE hash
    * groupBy on the fingerprint with a max_by struct — no window, no
    * second shuffle; output bounded by the dup-group count. Quality is
    * 6-dp-rounded BEFORE the argmax so both engines rank the same
    * value; ties break on smaller doc_id via the negated id in the
    * ordering struct. */
  def canonicalDedup(docs: DataFrame, key: Column): DataFrame =
    TextOps.withQuality(docs)
      .select(col("doc_id"), md5(key).as("fp"), col("quality"))
      .groupBy("fp")
      .agg(
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
          .as("canonical_id"),
        count(lit(1)).cast("long").as("n_members"),
        max(col("quality")).as("best_quality"),
        min(col("quality")).as("worst_quality"))
      .filter(col("n_members") > 1)

  /** Hashed shingle stream (doc_id, ha, hb): ha is the shared 60-bit
    * base hash, hb the second family base (its own 'b:' digest,
    * truncated to 55 bits so ha + 15·hb can't overflow BIGINT). MinHash
    * consumes both, SimHash and the Jaccard verifier consume ha —
    * sharing ONE substring scan across all three operators, where
    * per-operator prefixes ('sim:', 'j:') re-scanned and re-hashed the
    * corpus once per operator. Any injective hash gives the same
    * Jaccard counts, and md5 bits are uniform for SimHash, so only the
    * (oracle-mirrored) constants change.
    *
    * hb deliberately comes from a SECOND digest: deriving it from spare
    * bits of ha's digest was measured to double the LSH candidate-pair
    * count at sf0.1 (691k → 1.4M) — with a shared digest the four
    * minhash values inside a band correlate through their common
    * argmin shingle, so band agreement degenerates toward single-row
    * agreement and the extra md5 is far cheaper than the extra pairs. */
  def hashedShingles(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"),
      hash60(col("sh"), "a:").as("ha"),
      (hash60(col("sh"), "b:") % lit(1L << 55)).as("hb"))

  /** MinHash signatures: k min-hashes over char-5-gram shingles via
    * double hashing h_j = ha + j·hb (2 md5 calls per shingle instead of
    * k) → (doc_id, m0..m{k-1}). `hashedIn` shares one (ideally cached)
    * [[hashedShingles]] frame across the minhash / simhash / jaccard
    * stages — MIN over a multiset equals MIN over its set, so a
    * deduplicated frame would give identical signatures too. */
  def minhashSignatures(docs: DataFrame, k: Int = 16,
                        hashedIn: Option[DataFrame] = None): DataFrame = {
    val hashed = hashedIn.getOrElse(hashedShingles(docs))
      .select(col("doc_id") +:
        (0 until k).map(j => (col("ha") + lit(j.toLong) * col("hb")).as(s"h$j")): _*)
    hashed.groupBy("doc_id")
      .agg((0 until k).map(j => min(s"h$j").as(s"m$j")).head,
           (0 until k).map(j => min(s"h$j").as(s"m$j")).tail: _*)
  }

  /** Banded signature hashes: (doc_id, band, bh). */
  def minhashBands(sigs: DataFrame, bands: Int = 4, rows: Int = 4): DataFrame =
    (0 until bands).map { b =>
      sigs.select(col("doc_id"), lit(b).cast("long").as("band"),
        md5(concat_ws("_", (0 until rows).map(r => col(s"m${b * rows + r}")): _*))
          .as("bh"))
    }.reduce(_ unionByName _)

  /** Cap-filter for a banded-signature frame: buckets holding more
    * than `maxBucket` docs are excluded from the self-join (the
    * hammingPairs64 / squareCountCapped hot-key discipline) — a
    * degenerate near-constant-signature corpus cannot go quadratic
    * inside one band bucket; candidate volume stays ≤
    * bands·maxBucket·n. A pair survives if ANY of its agreeing bands
    * stays under the cap; audit what a cap dropped with
    * [[minhashHotBuckets]] before trusting a capped run. */
  private def capBands(b: DataFrame, maxBucket: Long): DataFrame =
    if (maxBucket == Long.MaxValue) b
    else {
      require(maxBucket >= 2, "minhash band cap needs maxBucket >= 2 (a pair)")
      val ok = b.groupBy("band", "bh").agg(count(lit(1)).as("n_ids"))
        .filter(col("n_ids") <= maxBucket).select("band", "bh")
      b.join(ok, Seq("band", "bh"), "left_semi")
    }

  /** The capped-run audit for [[minhashPairs]]/[[bandingCurve]]: the
    * (band, bh) buckets a cap of `maxBucket` would drop, with their
    * population — empty ⇒ the capped run was exact. */
  def minhashHotBuckets(docs: DataFrame, maxBucket: Long, k: Int = 16,
                        bands: Int = 4,
                        hashedIn: Option[DataFrame] = None): DataFrame =
    minhashBands(minhashSignatures(docs, k, hashedIn), bands, k / bands)
      .groupBy("band", "bh").agg(count(lit(1)).cast("long").as("n_ids"))
      .filter(col("n_ids") > maxBucket)

  /** Near-duplicate candidate pairs: docs sharing any full band.
    * `maxBucket` is the production hot-bucket cap (default uncapped
    * = exact; cap ≥ the max bucket population ≡ uncapped,
    * spec-pinned). */
  def minhashPairs(docs: DataFrame, k: Int = 16, bands: Int = 4,
                   hashedIn: Option[DataFrame] = None,
                   maxBucket: Long = Long.MaxValue,
                   sigsIn: Option[DataFrame] = None): DataFrame = {
    val b = capBands(
      minhashBands(sigsIn.getOrElse(minhashSignatures(docs, k, hashedIn)),
        bands, k / bands),
      maxBucket)
    b.select(col("band"), col("bh"), col("doc_id").as("a"))
      .join(b.select(col("band"), col("bh"), col("doc_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** 32-bit SimHash over char-5-gram shingles (bits 0..31 of the shared
    * ha base hash). */
  def simhash(docs: DataFrame, hashedIn: Option[DataFrame] = None): DataFrame = {
    val h = hashedIn.getOrElse(hashedShingles(docs))
      .select(col("doc_id"), col("ha").as("h"))
    val sums = h.groupBy("doc_id").agg(
      (0 until 32).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$i")).head,
      (0 until 32).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$i")).tail: _*)
    sums.select(col("doc_id"),
      (0 until 32).map(i =>
        when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, bucketed by 8-bit
    * chunks so the join never goes quadratic. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   hashedIn: Option[DataFrame] = None): DataFrame = {
    val sh = simhash(docs, hashedIn)
    val chunks = (0 until 4).map { c =>
      sh.select(col("doc_id"), lit(c).cast("long").as("chunk"),
        shiftright(col("simhash"), c * 8).bitwiseAND(lit(255L)).as("cv"),
        col("simhash"))
    }.reduce(_ unionByName _)
    chunks.select(col("chunk"), col("cv"), col("doc_id").as("a"), col("simhash").as("fa"))
      .join(chunks.select(col("chunk"), col("cv"), col("doc_id").as("b"),
        col("simhash").as("fb")), Seq("chunk", "cv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard similarity for (by default) the MinHash candidate
    * pairs; pass `pairsIn` / `shinglesIn` to reuse already-computed
    * pairs and a shingle frame.
    *
    * The intersect/size computation runs over the *hashed* shingle set
    * (shared 60-bit md5 per shingle, deduplicated after hashing) rather
    * than the raw strings: both engines apply the same hash, so counts —
    * and therefore jaccard values — are identical by construction even
    * in the (cosmically unlikely) event of a collision, while the
    * candidate×shingle join, the dominant shuffle of this operator,
    * moves fixed-width bigints instead of strings. */
  def ngramJaccard(docs: DataFrame, pairsIn: Option[DataFrame] = None,
                   hashedIn: Option[DataFrame] = None,
                   shArrIn: Option[DataFrame] = None): DataFrame =
    pairOverlap(docs, pairsIn.getOrElse(minhashPairs(docs, hashedIn = hashedIn)),
        hashedIn, shArrIn)
      .select(col("a"), col("b"),
        round(col("common") / (col("sza") + col("szb") - col("common")), 6)
          .as("jaccard"))

  /** The per-doc hashed-shingle-set arrays (doc_id, shs) both sides of
    * [[pairOverlap]] join against — exposed so sessions running several
    * pair-scoring ops (jaccard, containment) can build + persist it
    * once (one |docs|-row frame, KB-sized arrays per doc). SORTED
    * ascending: the per-pair overlap count is then a zero-allocation
    * two-pointer merge ([[graft.sql.ArraySortedIntersectCount]])
    * instead of a hash set + materialized intersection array per pair
    * — one O(n log n) sort per DOC buys O(n) per PAIR, and pairs
    * outnumber docs by orders of magnitude. */
  def shingleArrays(docs: DataFrame, hashedIn: Option[DataFrame] = None): DataFrame =
    hashedIn.getOrElse(hashedShingles(docs))
      .select(col("doc_id"), col("ha").as("sh"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("sh"))).as("shs"))

  /** Shared overlap frame (a, b, common, sza, szb) behind [[ngramJaccard]]
    * and [[containment]] — ONE copy of the tuned plan: one hashed-
    * shingle-set array per doc, joined to each side of the candidate
    * pairs; common = |array_intersect| evaluates inside codegen per
    * pair. Shuffle volume is bounded by |docs| + |pairs| rows — never
    * the |pairs|·shingles-per-doc row explosion of a candidate×shingle
    * join (measured 20 s vs ~6 s at sf0.1's 691k candidate pairs).
    * Per-doc arrays are KBs even for long docs. */
  private def pairOverlap(docs: DataFrame, pairs: DataFrame,
                          hashedIn: Option[DataFrame],
                          shArrIn: Option[DataFrame] = None): DataFrame = {
    docs.sparkSession match { case s => graft.sql.ArraySortedIntersectCount.register(s) }
    // Driver-gated broadcast of the array side (round 15, guide §3.1):
    // the candidate×array joins ARE the verify pass's cost, and
    // collect_set defeats Spark's size estimator, so the planner
    // sort-merge-joined them — shuffling the multi-million-row pair
    // stream twice to meet a Σ|shingles|-long frame that is MBs at
    // bench scale. Gate on the observed total shingle count (the
    // broadcast's true size driver): under the gate the two joins
    // become broadcast hash joins and the pair stream never shuffles;
    // past it (cluster-scale corpus) the shuffle join stands unchanged.
    val (shArr, mSh) = graft.algorithms.Probe.checkpointObserved(
      shArrIn.getOrElse(shingleArrays(docs, hashedIn)),
      sum(size(col("shs"))).as("n"))
    val shingles = Option(mSh("n")).fold(0L)(_.asInstanceOf[Long])
    def side(f: DataFrame) = graft.algorithms.Tuning.broadcastIfFits(f, shingles)
    pairs
      .join(side(shArr.select(col("doc_id").as("a"), col("shs").as("sa"))), Seq("a"))
      .join(side(shArr.select(col("doc_id").as("b"), col("shs").as("sb"))), Seq("b"))
      .select(col("a"), col("b"),
        // sorted-set two-pointer count == size(array_intersect) on the
        // (duplicate-free, sorted) shingleArrays frames, without the
        // per-pair hash set + intersection-array allocation
        call_function("array_sorted_intersect_count", col("sa"), col("sb"))
          .as("common"),
        size(col("sa")).cast("long").as("sza"), size(col("sb")).cast("long").as("szb"))
  }

  /** MinHash estimator-error audit — the sketch-quality counterpart of
    * the ANN recall audit: for every banded candidate pair, the
    * signature-estimated Jaccard (fraction of the k MinHash slots that
    * agree — the unbiased estimator the sketch is built on) next to
    * the TRUE shingle Jaccard ([[ngramJaccard]]'s exact two-pointer
    * count) and the absolute error. Mean/max of `abs_err` is the
    * one-number health check that catches a broken hash family or a
    * mis-sized k after any refactor of the dedup stack.
    *
    * Scale: candidates and true scores are the existing bounded plans;
    * the estimate adds two signature equi-joins (|docs|-row frames,
    * k+1 columns) against the pair set — output-bound like every
    * pair scorer. est = eq/k is an exact binary rational, and the
    * error subtracts the 6-dp-ROUNDED true score, so both engines
    * compute identical doubles before the final round. */
  def minhashAudit(docs: DataFrame, k: Int = 16,
                   hashedIn: Option[DataFrame] = None,
                   pairsIn: Option[DataFrame] = None,
                   shArrIn: Option[DataFrame] = None,
                   sigsIn: Option[DataFrame] = None): DataFrame = {
    val hashed = hashedIn.getOrElse(hashedShingles(docs))
    val pairs = pairsIn.getOrElse(minhashPairs(docs, k, hashedIn = Some(hashed)))
    val truth = ngramJaccard(docs, Some(pairs), Some(hashed), shArrIn)
    val sigs = sigsIn.getOrElse(minhashSignatures(docs, k, Some(hashed)))
    val sa = sigs.select(col("doc_id").as("a") +:
      (0 until k).map(j => col(s"m$j").as(s"x$j")): _*)
    val sb = sigs.select(col("doc_id").as("b") +:
      (0 until k).map(j => col(s"m$j").as(s"y$j")): _*)
    val eq = (0 until k).map(j =>
      when(col(s"x$j") === col(s"y$j"), 1L).otherwise(0L)).reduce(_ + _)
    truth.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a"), col("b"), col("jaccard"),
        round(eq.cast("double") / lit(k.toDouble), 6).as("est"),
        round(abs(eq.cast("double") / lit(k.toDouble) - col("jaccard")), 6)
          .as("abs_err"))
  }

  /** Per-document novelty: over a doc's DISTINCT shingle hashes, the
    * share also present in some other doc (`dup_frac`) and the mean
    * inverse document frequency (`novelty` — 1.0 ⇔ every gram unique
    * to this doc). The memorization-risk signal: high dup_frac docs
    * are templated/copied content a curation pass down-weights.
    *
    * Scale: one distinct gram stream, one gram-keyed df aggregate,
    * one token-bounded join back, one per-doc roll-up — the
    * boilerplate/winnow family shape; nothing is ever doc × doc. */
  def noveltyScore(docs: DataFrame, hashedIn: Option[DataFrame] = None): DataFrame = {
    val grams = hashedIn.getOrElse(hashedShingles(docs))
      .select(col("doc_id"), col("ha").as("g")).distinct()
    val dfG = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(dfG, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
        round(avg(when(col("df") > 1L, 1.0).otherwise(0.0)), 6).as("dup_frac"),
        round(avg(lit(1.0) / col("df")), 6).as("novelty"))
  }

  /** Positional exact-substring duplication rate — the per-document
    * signal behind suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): the
    * fraction of a document's k-gram POSITIONS whose gram occurs more
    * than once in the corpus. Position-level and multiplicity-aware —
    * within-doc repeats count, unlike the distinct-gram
    * [[noveltyScore]] — so 0.30 literally means "30% of this text is
    * covered by 20-char spans that exist elsewhere", the quantity a
    * substring-dedup pass would cut.
    *
    * Scale: the gram stream is length-linear off the [[TextOps]]
    * generator (O(1) state per row, hashed to a 60-bit key before the
    * shuffle); one map-side-combined gram count; one count join back;
    * one per-doc roll-up — the novelty/boilerplate family shape, no
    * doc×doc work anywhere. */
  def substringDupRate(docs: DataFrame, k: Int = 20): DataFrame = {
    // NOT checkpointed although grams feeds both the count and the
    // join back: measured round 14, pinning the ~|chars| hash rows
    // costs more than re-running the codegen'd explode+hash
    // (3.70 → 3.81 s at sf0.1) — the opposite verdict from
    // segmentDedup, whose window STRINGS are 10× wider per row
    val grams = TextOps.shingles(docs, k)
      .select(col("doc_id"), TextOps.hash60(col("sh"), "sd:").as("g"))
    val cnt = grams.groupBy("g").agg(count(lit(1)).as("c"))
    grams.join(cnt, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_pos"),
        sum(when(col("c") > 1L, 1L).otherwise(0L)).cast("long").as("dup_pos"))
      .select(col("doc_id"), col("n_pos"), col("dup_pos"),
        round(col("dup_pos").cast("double") / col("n_pos"), 6).as("dup_rate"))
  }

  /** Shingle containment — the ASYMMETRIC Jaccard (|A∩B|/|A| and
    * |A∩B|/|B|): a short doc fully embedded in a long one scores near
    * 1.0 on its own side while symmetric Jaccard dilutes toward
    * |A|/|B| and misses it. Candidates default to minhash-LSH pairs
    * UNION winnowing-fingerprint pairs: whole-doc MinHash bands
    * under-recall exactly the subset case (band agreement probability
    * ~ J^rows, and a strict subset has J ≈ |A|/|B|), while winnowing
    * guarantees a shared fingerprint for any common substring of
    * w+k−1 chars regardless of the length ratio — together they are a
    * containment-sensitive candidate set. Scoring runs the same
    * bounded pair-overlap plan as [[ngramJaccard]]. */
  def containment(docs: DataFrame, pairsIn: Option[DataFrame] = None,
                  hashedIn: Option[DataFrame] = None,
                  shArrIn: Option[DataFrame] = None): DataFrame = {
    val pairs = pairsIn.getOrElse(
      minhashPairs(docs, hashedIn = hashedIn).select("a", "b")
        .unionByName(TextOps.winnowPairs(docs).select("a", "b"))
        .distinct())
    pairOverlap(docs, pairs, hashedIn, shArrIn)
      .select(col("a"), col("b"),
        round(col("common") / col("sza"), 6).as("c_ab"),
        round(col("common") / col("szb"), 6).as("c_ba"))
  }

  /** Blocked fuzzy entity matching — the record-linkage member of the
    * dedup family: near-identical entity strings (names, titles, SKUs)
    * that exact dedup misses because of typos or word swaps. Candidate
    * pairs must share at least one full token (standard blocking — the
    * Σ df² bound), hot blocks above `maxDf` distinct names are dropped
    * (a stop-word block key would otherwise go quadratic at scale,
    * same cap discipline as [[TextOps.winnowPairs]]), and a candidate
    * matches iff `levenshtein(a, b) ≤ maxDist` — an integer metric
    * both engines define identically, so the oracle is exact.
    *
    * Operates on the DISTINCT name set (the entity vocabulary), never
    * the row stream: at 100 TB the distinct names are orders of
    * magnitude smaller than the table, and matches join back to rows
    * by equality. Returns unordered pairs (a < b, dist). */
  def fuzzyMatch(names: DataFrame, nameCol: String, maxDist: Int = 3,
                 maxDf: Long = 1000L): DataFrame = {
    require(maxDist >= 1, "fuzzyMatch needs maxDist >= 1")
    val n = names.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
    val blocks = n.select(col("name"),
        explode(split(col("name"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val kept = blocks.join(
      blocks.groupBy("w").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      Seq("w"))
    kept.select(col("w"), col("name").as("a"))
      .join(kept.select(col("w"), col("name").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .filter(levenshtein(col("a"), col("b")) <= maxDist)
      .select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).cast("long").as("dist"))
  }

  /** Jaro–Winkler record linkage over a name column — the prefix-
    * weighted complement of [[fuzzyMatch]]'s edit distance (entity
    * names diverge at the tail far more often than at the head;
    * Winkler 1990). Same shared-token blocking with the df cap (hot
    * blocking tokens are pruned, never exploded — the 100 TB guard),
    * scored by the native [[graft.sql.JaroWinkler]] expression so the
    * pair loop stays inside whole-stage codegen. The similarity is
    * rounded to 6dp BEFORE the threshold filter so both engines gate
    * on the identical value. */
  def jaroMatch(names: DataFrame, nameCol: String, minSim: Double = 0.8,
                maxDf: Long = 1000L): DataFrame = {
    require(minSim > 0.0 && minSim < 1.0, "jaroMatch needs 0 < minSim < 1")
    names.sparkSession match { case s => graft.sql.JaroWinkler.register(s) }
    val n = names.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
    val blocks = n.select(col("name"),
        explode(split(col("name"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val kept = blocks.join(
      blocks.groupBy("w").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      Seq("w"))
    kept.select(col("w"), col("name").as("a"))
      .join(kept.select(col("w"), col("name").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .select(col("a"), col("b"),
        round(call_function("jaro_winkler", col("a"), col("b")), 6)
          .as("jw"))
      .filter(col("jw") >= minSim)
  }

  /** Lexical×semantic agreement audit: the embedding-cosine decile
    * histogram of the lexical (minhash) candidate pairs — the dashboard
    * that catches a dedup config gone wrong (lexical dups scoring as
    * semantically distant means bad embeddings or shingle collisions;
    * the whole mass in one bucket means redundant signals). Doc and
    * vector ids are aligned in the corpus. Two hash joins on the pair
    * endpoints + one fused array_cosine per pair + a ≤20-bucket
    * aggregation — shuffle bounded by |pairs|. */
  /** EXACT set-similarity join with prefix filtering (PPJoin family,
    * Xiao et al., WWW 2008): every document pair whose token-SET
    * Jaccard is ≥ τ (= tauNum/tauDen) — no probabilistic recall loss,
    * the exact counterpart to the MinHash/SimHash candidate
    * generators and the final arbiter when a dedup pipeline needs a
    * guarantee.
    *
    * Prefix filter: tokens totally ordered rarest-first (df asc, term
    * tiebreak); a document of L distinct tokens exposes only its first
    * L − ⌈τ·L⌉ + 1 tokens. Any pair with J ≥ τ shares ≥ ⌈τ·L⌉ tokens
    * of EITHER side, so its prefixes must collide — completeness by
    * the standard pigeonhole argument, and the exposed tokens are by
    * construction the rarest, so candidate buckets stay small.
    * Candidates are verified with an exact overlap count and the
    * integer cross-multiplied threshold inter·q ≥ p·(|A|+|B|−inter) —
    * no float compare anywhere, so both engines agree bit-for-bit.
    * τ is a rational (p, q) and ⌈p·L/q⌉ folds as (p·L + q − 1) DIV q:
    * exact integers end to end.
    *
    * Scale: one token distinct, one broadcast df join, per-doc window
    * rank; candidate generation is a self-join on PREFIX tokens only
    * (rare by construction — the algorithm's own skew defense);
    * verification moves Σ|A| rows over the candidate set, which is
    * output-bound like every exact join. */
  def setSimJoin(docs: DataFrame, tauNum: Int = 3, tauDen: Int = 5): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      "setSimJoin needs 0 < tauNum/tauDen <= 1")
    val w = org.apache.spark.sql.expressions.Window
    val (tk, nTk) = graft.algorithms.Probe.checkpointCounted(
      docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "").distinct())
    val dfT = tk.groupBy("term").agg(count(lit(1)).as("df"))
    // Vocab frame ≤ |tk| rows: broadcast only when the (doc, term) set
    // itself is gate-small — a web-scale vocabulary must shuffle-join,
    // not be shipped to every executor (same discipline as
    // LinkPrediction's degree side).
    val dfSide = graft.algorithms.Tuning.broadcastIfFits(dfT, nTk)
    val ranked = tk.join(dfSide, Seq("term"))
      .withColumn("rn", row_number().over(
        w.partitionBy("doc_id").orderBy(col("df").asc, col("term").asc)))
      .withColumn("cnt", count(lit(1)).over(w.partitionBy("doc_id")))
    val prefix = ranked.filter(col("rn") <=
        col("cnt") - expr(s"(($tauNum * cnt + ${tauDen - 1}) DIV $tauDen)") + 1)
      .select("term", "doc_id", "cnt")
    val cand = prefix.select(col("term"), col("doc_id").as("a"), col("cnt").as("ca"))
      .join(prefix.select(col("term"), col("doc_id").as("b"), col("cnt").as("cb")),
        Seq("term"))
      .filter(col("a") < col("b"))
      .select("a", "b", "ca", "cb").distinct()
    val inter = cand
      .join(tk.select(col("doc_id").as("a"), col("term")), Seq("a"))
      .join(tk.select(col("doc_id").as("b"), col("term")), Seq("b", "term"))
      .groupBy("a", "b", "ca", "cb").agg(count(lit(1)).as("inter"))
    inter
      .filter(col("inter") * lit(tauDen.toLong) >=
        lit(tauNum.toLong) * (col("ca") + col("cb") - col("inter")))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") /
          (col("ca") + col("cb") - col("inter")), 6).as("jaccard"))
  }

  def semanticAudit(pairs: DataFrame, emb: DataFrame): DataFrame = {
    graft.sql.ArrayCosine.register(emb.sparkSession)
    pairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .select(expr("round(array_cosine(ea, eb), 6)").as("cosine"))
      .groupBy(floor(col("cosine") * 10).cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(avg("cosine"), 6).as("avg_cosine"))
  }

  /** Levenshtein record linkage over a name column — the edit-distance
    * twin of [[jaroMatch]] with the same df-capped token blocking:
    * candidate pairs share a sub-`maxDf` word block (never all-pairs),
    * then the exact unit-cost edit distance keeps pairs at most
    * `maxDist` apart. Both engines implement classic
    * Wagner–Fischer, so the integer distance is hash-exact. */
  def editMatch(names: DataFrame, nameCol: String, maxDist: Int = 4,
                maxDf: Long = 1000L): DataFrame = {
    require(maxDist >= 1, "editMatch needs maxDist >= 1")
    val n = names.select(col(nameCol).as("name"))
      .filter(col("name").isNotNull).distinct()
    val blocks = n.select(col("name"),
        explode(split(col("name"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    val kept = blocks.join(
      blocks.groupBy("w").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf),
      Seq("w"))
    kept.select(col("w"), col("name").as("a"))
      .join(kept.select(col("w"), col("name").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** MinHash BANDING tuning curve — the LSH-side counterpart of the
    * ANN plane-count curve: for each (bands, rows) tiling of the k
    * signature slots, the candidate count, the exactly-verified pairs
    * (shingle Jaccard ≥ tauNum/tauDen, integer cross-multiplied),
    * precision, and recall RELATIVE TO THE UNION of verified pairs
    * across all tilings (absolute recall would need the all-pairs
    * join the banding exists to avoid — the union baseline is the
    * honest distributed-computable reference, and it contains every
    * pair any candidate tiling would accept). More bands × fewer rows
    * = more candidates = higher recall, lower precision — this table
    * is where a dedup config reads its operating point.
    *
    * Scale: one shared shingle scan + signature build; ONE band-bucket
    * join across every tiling at once (per-tiling band ids offset by
    * ti·k so buckets can never mix across tilings — never all-pairs);
    * ONE exact-verify pass over the union; per-tiling counts off a
    * single conditional aggregation. (Round 15: the former per-tiling
    * self-join + eager checkpoint ×|bandings| and per-tiling semi-join
    * count pairs collapsed into one join + one checkpoint + one agg —
    * same candidate sets, same verified sets, identical output.) */
  def bandingCurve(docs: DataFrame, k: Int = 16,
                   bandings: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2)),
                   tauNum: Int = 1, tauDen: Int = 2,
                   hashedIn: Option[DataFrame] = None,
                   shArrIn: Option[DataFrame] = None,
                   maxBucket: Long = Long.MaxValue,
                   sigsIn: Option[DataFrame] = None): DataFrame = {
    require(bandings.nonEmpty, "bandingCurve needs at least one (bands, rows) tiling")
    val hashed = hashedIn.getOrElse(hashedShingles(docs))
    // one signature build shared by every tiling — materialized so the
    // per-tiling band projections don't re-run the min-hash groupBy
    val sigs = sigsIn.getOrElse(
      minhashSignatures(docs, k, Some(hashed)).localCheckpoint())
    val banded = bandings.zipWithIndex.map { case ((b, r), ti) =>
      require(b * r == k, s"banding ($b x $r) must tile k = $k")
      minhashBands(sigs, b, r).select(col("doc_id"),
        // tiling-disjoint band ids (band < bands <= k): capBands and
        // the bucket join see exactly the per-tiling buckets
        (col("band") + lit((ti * k).toLong)).as("band"), col("bh"))
    }.reduce(_ unionByName _)
    // hot-bucket cap (same knob as minhashPairs): a degenerate corpus
    // can't flood one band bucket quadratically
    val bd = capBands(banded, maxBucket)
    val pairs = bd.select(col("band"), col("bh"), col("doc_id").as("a"))
      .join(bd.select(col("band"), col("bh"), col("doc_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select((col("band") / lit(k.toLong)).cast("long").as("ti"),
        col("a"), col("b"))
      .distinct()
      .localCheckpoint()
    val union = pairs.select("a", "b").distinct()
    val ov = pairOverlap(docs, union, Some(hashed), shArrIn)
    val truth = ov
      .filter(col("common") * tauDen >=
        (col("sza") + col("szb") - col("common")) * tauNum)
      .select("a", "b").localCheckpoint()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    // candidates + verified per tiling in ONE pass over the pair frame
    // (count of non-null hit == the former per-tiling semi-join count)
    val perTi = pairs
      .join(truth.withColumn("hit", lit(1L)), Seq("a", "b"), "left_outer")
      .groupBy("ti")
      .agg(count(lit(1)).as("cand"), count(col("hit")).as("ver"))
    import docs.sparkSession.implicits._
    val tilings = bandings.zipWithIndex
      .map { case ((b, r), ti) => (ti.toLong, b.toLong, r.toLong) }
      .toDF("ti", "bands", "rows_per_band")
    // left join: a tiling with zero candidates still emits its row. The
    // hint goes on the non-preserved side (one row per tiling): Spark
    // cannot build the preserved side of an outer join and drops a hint
    // placed there, with a warning
    tilings.join(broadcast(perTi), Seq("ti"), "left_outer")
      .crossJoin(broadcast(nTruth))
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("cand"), lit(0L)).as("candidates"),
        coalesce(col("ver"), lit(0L)).as("verified"), col("n_truth"))
      .select(col("bands"), col("rows_per_band"), col("candidates"),
        col("verified"), col("n_truth"),
        round(when(col("candidates") > 0,
          col("verified").cast("double") / col("candidates").cast("double")),
          6).as("precision"),
        round(when(col("n_truth") > 0,
          col("verified").cast("double") / col("n_truth").cast("double")),
          6).as("recall"))
      .orderBy("bands")
  }

  /** SimHash hamming-threshold tuning curve — the SimHash twin of
    * [[bandingCurve]]: for each max-hamming t ∈ 0..3 (the range the
    * 4×8-bit pigeonhole blocking is COMPLETE for), the candidate
    * count, exactly-verified near-dups (shingle Jaccard ≥
    * tauNum/tauDen), precision, and recall relative to the t = 3 set
    * (thresholds nest, so the base is the true t ≤ 3 reference).
    * One chunk join at t = 3 + ONE exact-verify pass; the per-arm
    * numbers are conditional sums off a single aggregation. */
  def simhashCurve(docs: DataFrame, tauNum: Int = 1, tauDen: Int = 2,
                   hashedIn: Option[DataFrame] = None,
                   shArrIn: Option[DataFrame] = None): DataFrame = {
    val cand = simhashPairs(docs, 3, hashedIn).localCheckpoint()
    // pairOverlap keeps every pair (shingleArrays covers all docs;
    // zero overlap surfaces as common = 0), so the inner join is safe
    val j = cand.join(pairOverlap(docs, cand.select("a", "b"),
        hashedIn, shArrIn), Seq("a", "b"))
      .select(col("hamming"),
        (col("common") * tauDen >=
          (col("sza") + col("szb") - col("common")) * tauNum).as("dup"))
    val aggCols = (0 to 3).flatMap { t =>
      Seq(sum(when(col("hamming") <= t, 1L).otherwise(0L)).as(s"c_$t"),
        sum(when(col("hamming") <= t && col("dup"), 1L).otherwise(0L))
          .as(s"v_$t"))
    }
    j.agg(aggCols.head, aggCols.tail: _*)
      .select(expr("stack(4, " +
        (0 to 3).map(t => s"CAST($t AS BIGINT), c_$t, v_$t").mkString(", ") +
        ") as (max_hamming, candidates, verified)"), col("v_3").as("v_base"))
      .select(col("max_hamming"), col("candidates"), col("verified"),
        round(when(col("candidates") > 0,
          col("verified").cast("double") / col("candidates").cast("double")),
          6).as("precision"),
        round(when(col("v_base") > 0,
          col("verified").cast("double") / col("v_base").cast("double")),
          6).as("recall"))
      .orderBy("max_hamming")
  }

  /** Jaccard threshold sweep over the near-dup candidate pairs: for
    * each gate τ = b/10 (b ∈ 1..9), how many candidate pairs clear it
    * — the "what would a stricter dedup drop" table, read before
    * committing a threshold. EXACT integer compares (common·10 ≥
    * b·union) off ONE overlap pass; the nine arms are conditional
    * sums in one aggregation unpivoted by stack. */
  def jaccardSweep(docs: DataFrame, pairsIn: Option[DataFrame] = None,
                   hashedIn: Option[DataFrame] = None,
                   shArrIn: Option[DataFrame] = None): DataFrame = {
    val ov = pairOverlap(docs,
        pairsIn.getOrElse(minhashPairs(docs, hashedIn = hashedIn)),
        hashedIn, shArrIn)
      .select(col("common"),
        (col("sza") + col("szb") - col("common")).as("un"))
    val aggCols = count(lit(1)).as("candidates") +: (1 to 9).map(b =>
      sum(when(col("common") * 10 >= col("un") * b, 1L).otherwise(0L))
        .as(s"ge_$b"))
    ov.agg(aggCols.head, aggCols.tail: _*)
      .select(expr("stack(9, " +
        (1 to 9).map(b => s"CAST($b AS BIGINT), ge_$b").mkString(", ") +
        ") as (tau_tenths, pairs_ge)"), col("candidates"))
      .select(col("tau_tenths"), col("candidates"), col("pairs_ge"),
        round(when(col("candidates") > 0,
          col("pairs_ge").cast("double") / col("candidates").cast("double")),
          6).as("share"))
      .orderBy("tau_tenths")
  }
}
