package graft.operators

import graft.functions.{Funcs, Native}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines (north-star scope).
  *
  * Scale design: every variant avoids O(n²) comparisons. Exact dedup
  * shuffles on a 128-bit digest (bytes, not documents). MinHash-LSH and
  * SimHash generate candidates via equi-joins on sketch keys — shuffle
  * volume is O(n · bands), verification touches only candidate pairs.
  * Embedding near-dup blocks on a partition key before comparing.
  *
  * Cache lifecycle: the sketch/band relations are `.persist()`ed because
  * each feeds multiple downstream joins and Catalyst does not dedupe
  * common subplans. A lazy DataFrame API cannot unpersist behind itself,
  * so every persist routes through the session-scoped [[Caches]]
  * registry: once the operator's output is materialized, call
  * [[releaseCaches]] (as `CorpusPrep.run`/`runIncremental` do on exit)
  * to drop them; `spark.catalog.clearCache()` remains the blunt
  * alternative (Bench uses it between reps).
  */
object Dedup {

  /** Blocking-unpersist every sketch relation the operators cached in
    * this session (see [[Caches]]). Safe anytime — an unpersisted
    * relation recomputes from source; call it after materializing the
    * operator outputs. Returns the number of relations released. */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Int = Caches.release(spark)

  /** Skew-guarded candidate pairs from an exploded sketch-key relation —
    * the shared core of every LSH family member ([[minhashLsh]],
    * [[simhash]], [[embeddingNearDupSrp]]). Input columns: `band`, `bkey`,
    * `id`, plus any `payload` columns to carry through to both pair sides
    * (e.g. the signature, so Hamming verification needs no join-back).
    *
    * A bucket with m members yields m² candidate pairs in the self-join —
    * one hot band-key (boilerplate shared by many docs, or a giant
    * near-dup cluster) turns the join quadratic on a single partition.
    * Cold buckets (≤ cap) do the full pairwise join; hot buckets degrade
    * to CHAINING — consecutive ids linked, O(m) pairs — so a large
    * near-dup cluster stays transitively connected for union-find-style
    * dedup (dropping hot buckets outright would lose every pair of a
    * >cap cluster: ALL its bands are hot). Trade-offs of chaining: the
    * output is union-find EDGES, not the complete verified pair list, for
    * over-cap clusters; and an unrelated doc interleaved (by id) in a hot
    * bucket can break a chain link — connectivity then depends on the
    * cluster's other bands. The hot-key list is tiny after the
    * partial-aggregated count, so it broadcasts.
    *
    * When the guard trips it is OBSERVABLE: the plan carries a
    * `graft_skew_guard` observation (`hot_buckets`, `hot_rows`) that a
    * `QueryExecutionListener` (or `observedMetrics` on the
    * `QueryExecution`) reads after any action — zero runtime cost, no
    * extra job, and a caller consuming raw pairs can alert on recall
    * degradation instead of discovering it downstream. ABSENCE of the
    * observation means zero trips: with no hot keys, AQE's empty-
    * relation propagation may prune the branch (and its CollectMetrics
    * node) entirely.
    *
    * Output: (`id_a`, `id_b`[, `<p>_a`, `<p>_b` per payload column]),
    * deduped on the id pair. */
  private def guardedCandidatePairs(
      keyed: DataFrame,
      payload: Seq[String],
      maxBucketSize: Int): DataFrame = {
    // persisted: the hot-key aggregation is a full pass over the
    // (corpus-sized) keyed relation and is read twice below (observation
    // anti-join + hot-pair join) — the filtered list itself is tiny by
    // construction, so the cache is a few KB
    val hot = keyed.groupBy("band", "bkey")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .transform(Caches.persisted)
    // the observation wraps only the anti-join instance (a second
    // CollectMetrics with the same name elsewhere in one query would be
    // rejected by the analyzer); metrics: over-cap bucket count + the
    // rows inside them — the population whose pair-level recall is
    // degraded to chaining
    val hotObs = hot
      .observe("graft_skew_guard",
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("bsz")), lit(0L)).as("hot_rows"))
      .select("band", "bkey")
    val hotKeys = hot.select("band", "bkey")
    def sided(suffix: String): Seq[Column] =
      col("id").as(s"id$suffix") +: payload.map(p => col(p).as(s"$p$suffix"))
    val cold = keyed.join(broadcast(hotObs), Seq("band", "bkey"), "left_anti")
    val coldPairs = cold.select((col("band") +: col("bkey") +: sided("_a")): _*)
      .join(cold.select((col("band") +: col("bkey") +: sided("_b")): _*), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .drop("band", "bkey")
    val hotPairs = keyed.join(broadcast(hotKeys), Seq("band", "bkey"))
      .withColumn("nxt", lead(struct(col("id") +: payload.map(col): _*), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey")).orderBy(col("id"))))
      .filter(col("nxt").isNotNull)
      .select(
        (col("id").as("id_a") +: payload.map(p => col(p).as(s"${p}_a"))) ++
          (col("nxt.id").as("id_b") +: payload.map(p => col(s"nxt.$p").as(s"${p}_b"))): _*)
    coldPairs.union(hotPairs).dropDuplicates("id_a", "id_b")
  }

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id
    * (deterministic, unlike dropDuplicates' arbitrary pick). The shuffle key
    * is the md5 digest, so 100 TB of text shuffles only (digest, id) pairs
    * once the map-side projection prunes the text column. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(Funcs.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Incremental exact dedup — the corpus-GROWTH shape: a new ingest batch
    * dedups against the fingerprints of everything already accepted,
    * without rescanning the accepted corpus. Returns the surviving new
    * documents (first occurrence within the batch, by min doc_id, AND
    * absent from the store) and the updated store to persist for the next
    * batch.
    *
    * Scale shape: the store is (fp, keep_id) — 24 bytes/doc, not the
    * corpus — and the only operations are a digest-keyed groupBy of the
    * (small) new batch and one left-anti equi-join on fp. Left to AQE,
    * the smaller side broadcasts; when both are huge it is one co-keyed
    * shuffle. Re-running a batch is idempotent: its fps are in the store,
    * so everything anti-joins away. */
  def exactIncremental(
      newDocuments: DataFrame,
      store: DataFrame): (DataFrame, DataFrame) = {
    val batchKeepers = newDocuments
      .select(Funcs.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"))
    val novel = batchKeepers.join(store.select("fp"), Seq("fp"), "left_anti")
    (novel, store.unionByName(novel))
  }

  /** URL-level dedup — the cheapest dedup tier a web pipeline runs, BEFORE
    * any content pass (CCNet §2 dedups re-crawls by URL; RefinedWeb §3.2
    * likewise): group documents by [[TextAnalysis.canonicalUrl]] and keep
    * the best capture per page (longest text wins — the fullest crawl —
    * ties to the smallest doc_id).
    *
    * Scale shape: ONE hash shuffle, keyed by the canonical URL's xxhash64
    * fingerprint (8 bytes/row in the exchange; the text never moves — only
    * (fp, doc_id, n_chars, canon_url) rows). Keeper and group size come
    * from two window specs over the SAME partitioning, so Catalyst plans a
    * single Exchange; no join-back pass. Emits one row per input doc:
    * (doc_id, canon_url, keeper_id, n_dups, is_keeper) — flags, not a
    * pre-applied filter, the [[TextAnalysis.gopherFilter]] auditability
    * stance.
    *
    * @param documents (doc_id, url, n_chars) — derive `url` upstream;
    *                  the corpus table carries no URL column.
    * @param keeperOrder which capture of a page wins: the default is
    *                  keep-longest (fullest crawl, ties to the smallest
    *                  doc_id); a re-crawling pipeline passes
    *                  `Seq(col("fetch_ts").desc, col("doc_id").asc)` for
    *                  keep-LATEST (the CCNet snapshot rule — newest fetch
    *                  supersedes, whatever its length). Order columns
    *                  must exist on `documents`; the plan shape (single
    *                  fp-keyed Exchange, both windows sharing it) is
    *                  identical for any ordering. */
  def urlDedup(documents: DataFrame,
      keeperOrder: Seq[Column] = Seq(col("n_chars").desc, col("doc_id").asc)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = documents
      .withColumn("canon_url", TextAnalysis.canonicalUrl(col("url")))
      .withColumn("fp", xxhash64(col("canon_url")))
    val byFp = Window.partitionBy(col("fp"))
    val ordered = byFp.orderBy(keeperOrder: _*)
    canon.select(
      col("doc_id"), col("canon_url"),
      first(col("doc_id")).over(ordered).as("keeper_id"),
      count(lit(1)).over(byFp).as("n_dups"))
      .withColumn("is_keeper", (col("doc_id") === col("keeper_id")).cast("bigint"))
  }

  /** MinHash-LSH candidate pairs — the shared blocking front end of
    * [[minhashLsh]] and [[editSimNearDup]]: shingle → k-minhash signature
    * (map-side) → explode band keys → skew-guarded self-equi-join on
    * (band, key). The shuffle moves 3 longs per (doc, band), never text
    * or shingle arrays. The banded relation is PERSISTED: it appears
    * three times downstream (hot-bucket count + both sides of the
    * self-join) and Catalyst does not dedupe common subplans, so without
    * the persist the shingle+minhash scan — the expensive part — would
    * run once per occurrence. Persisted size is ~3 longs × bands per
    * doc, ~1% of corpus at 100 TB. */
  private def lshCandidates(documents: DataFrame, shingleLen: Int,
      numHashes: Int, bands: Int, maxBucketSize: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands) — " +
        "a remainder would silently discard trailing signature positions and shift the S-curve")
    val rowsPerBand = numHashes / bands // LSH S-curve knee ≈ (1/b)^(1/r) ≈ 0.71
    val banded = documents
      // fused shingle→hash→k-minima ([[Native.minhashFromTokens]]): the
      // signature comes straight off the token array in one loop — no
      // intermediate shingle array, and skipping array_distinct is exact
      // because duplicate shingles cannot change a minimum
      .select(col("doc_id").as("id"),
        Native.minhashFromTokens(Funcs.tokens(col("text")), shingleLen, numHashes).as("sig"))
      .select(col("id"),
        posexplode(Funcs.lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bkey")))
      .transform(Caches.persisted)
    guardedCandidatePairs(banded, Nil, maxBucketSize)
  }

  /** MinHash+LSH near-dup candidate pairs with exact-Jaccard verification.
    *
    * shingle → k-minhash signature (map-side) → explode band keys →
    * self-equi-join on (band, key) → distinct pairs → verify Jaccard on
    * shingle sets ≥ threshold. The only shuffles are the band-key join and
    * the final distinct; no cross join anywhere.
    */
  def minhashLsh(
      documents: DataFrame,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxBucketSize: Int = 64): DataFrame = {
    // skew-guarded LSH candidate generation (see [[lshCandidates]])
    val candidates = lshCandidates(documents, shingleLen, numHashes, bands, maxBucketSize)

    // Exact-Jaccard verification over h-sorted distinct shingle-hash
    // arrays (same representation as [[ngramJaccard]]'s verify): one
    // fused tokenize→shingle→hash→distinct-sort pass per doc, then a
    // two-pointer O(|A|+|B|) intersect per candidate — no string
    // re-shingling per pair. Distinct-by-hash equals distinct-by-string
    // modulo a ~2⁻⁶⁴ in-document collision (the oracle fixture pins
    // equality). Persisted: both candidate-join sides read it.
    val hashed = documents
      .select(col("doc_id"),
        Native.shingleHashes(Funcs.tokens(col("text")), shingleLen, sortedDistinct = true).as("hs"))
      .withColumn("sz", size(col("hs")))
      .transform(Caches.persisted)
    def side(id: String, hs: String, sz: String) =
      hashed.select(col("doc_id").as(id), col("hs").as(hs), col("sz").as(sz))
    candidates
      .join(side("id_a", "hs_a", "sz_a"), Seq("id_a"))
      .join(side("id_b", "hs_b", "sz_b"), Seq("id_b"))
      .withColumn("c", Native.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Edit-similarity verification of candidate pairs — the pairwise
    * criterion of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", §NearDup): sim = 1 − lev(a, b) / max(|a|,
    * |b|), robust to word-order and small in-place edits that shingle
    * Jaccard over-penalizes. Joins the (optionally truncated) text onto
    * each side of the pair relation and keeps pairs at or above
    * `threshold`, emitting the exact distance.
    *
    * Scale shape: cost is candidates × O(maxChars²) DP cells — the
    * truncation dial trades fidelity for throughput, exactly why Lee et
    * al. verify on bounded token windows. When a distance cutoff is
    * implied (threshold ≥ 1, or a positive threshold with finite
    * `maxChars`), the built-in BANDED Levenshtein early-exits above it,
    * so dissimilar candidates cost O(maxChars·cutoff), not
    * O(maxChars²). The pair relation is candidate-sized; the two text
    * joins shuffle only candidate rows plus one doc-keyed pass — never
    * a pairwise text blow-up.
    *
    * Output: (id_a, id_b, dist, edit_sim). */
  def verifyEditSimilarity(pairs: DataFrame, documents: DataFrame,
      threshold: Double, maxChars: Int = Int.MaxValue,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"verifyEditSimilarity: threshold must be in [0, 1], got $threshold")
    val t = if (maxChars == Int.MaxValue) col("text")
            else substring(col("text"), 1, maxChars)
    val docs = documents.select(col("doc_id"), t.as("t"))
    // a sound static cutoff needs (1−thr)·maxLen bounded: thr ≥ 1 bounds
    // it at 0 for any length; otherwise finite maxChars bounds maxLen.
    // +1 absorbs the integer floor at the boundary (a cutoff may only
    // ever be ≥ the true one, never below)
    val cutoff: Option[Int] =
      if (threshold >= 1.0) Some(1)
      else if (threshold > 0.0 && maxChars != Int.MaxValue)
        Some(((1.0 - threshold) * maxChars).toInt + 1)
      else None
    val dist = cutoff match {
      case Some(c) => levenshtein(col("t_a"), col("t_b"), c)
      case None    => levenshtein(col("t_a"), col("t_b"))
    }
    verifyPairsWith(pairs, docs, dist,
      greatest(length(col("t_a")), length(col("t_b")), lit(1)), threshold,
      maxPairsPerDoc)
  }

  /** Deterministic per-doc PAIR BUDGET for the DP verify stages — the
    * scale dial for the one stage whose cost is ∝ matched pairs, not
    * corpus size: every doc keeps at most `maxPairsPerDoc` candidate
    * pairs (its lowest-partner-id ones, so the choice is reproducible,
    * never sampled), and a pair survives only if BOTH endpoints kept it —
    * no document's verify cost can exceed `maxPairsPerDoc` DP runs.
    * Degrades LOUDLY, never silently: the dropped pairs surface in the
    * `graft_pair_budget` observation (`truncated_pairs`), the same
    * alerting channel as the skew guard's `graft_skew_guard` — a caller
    * reads it off any action's `observedMetrics` and knows recall was
    * degraded to budget, instead of discovering missing dups downstream.
    * Absence of the observation = zero trips (AQE may prune the empty
    * branch with its CollectMetrics node). Identity — zero plan change —
    * when the budget is unset. */
  private def budgetPairs(pairs: DataFrame, maxPairsPerDoc: Int): DataFrame = {
    if (maxPairsPerDoc == Int.MaxValue) return pairs
    require(maxPairsPerDoc > 0, s"maxPairsPerDoc must be positive, got $maxPairsPerDoc")
    // distinct FIRST: the public verify entry points accept arbitrary
    // pair relations, and a duplicated (id_a,id_b) row would inflate
    // row_number so one copy lands in `dropped` and the anti-join then
    // removes ALL copies — a doc's lowest-ranked (supposedly kept)
    // partner could vanish entirely. Internal LSH callers already dedup;
    // one distinct here makes the budget duplicate-safe for everyone.
    // persisted: the pair relation feeds both explode sides AND the
    // anti-join below, and candidates come off a corpus-sized LSH pass
    val p = pairs.select("id_a", "id_b").distinct().transform(Caches.persisted)
    val sided = p.select(col("id_a").as("doc"), col("id_b").as("partner"),
        col("id_a"), col("id_b"))
      .union(p.select(col("id_b").as("doc"), col("id_a").as("partner"),
        col("id_a"), col("id_b")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("partner"))
    val dropped = sided.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > maxPairsPerDoc)
      .select("id_a", "id_b").distinct()
      .observe("graft_pair_budget", count(lit(1)).as("truncated_pairs"))
    p.join(dropped, Seq("id_a", "id_b"), "left_anti")
  }

  /** The shared verify tail of [[verifyEditSimilarity]] and
    * [[verifyTokenEditSimilarity]]: join the per-doc payload `t` onto
    * each pair side as `t_a`/`t_b`, spread, compute the distance ONCE
    * per row, apply the sim threshold. `keyed` must expose (doc_id, t);
    * `dist`/`maxLen` are expressions over `t_a`/`t_b` (−1 = above an
    * engine-side cutoff, dropped). `maxPairsPerDoc` bounds any one doc's
    * DP count ([[budgetPairs]] — loud truncation, deterministic keep). */
  private def verifyPairsWith(pairs: DataFrame, keyed: DataFrame,
      dist: Column, maxLen: Column, threshold: Double,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    def side(id: String, tc: String) =
      keyed.select(col("doc_id").as(id), col("t").as(tc))
    budgetPairs(pairs.select("id_a", "id_b"), maxPairsPerDoc)
      .join(side("id_a", "t_a"), Seq("id_a"))
      .join(side("id_b", "t_b"), Seq("id_b"))
      // spread the MATCHED candidates before the DP with an explicit
      // partition count (exempt from AQE coalescing): the candidate
      // relation is bytes-tiny but each row costs a ~ms DP, so letting it
      // inherit a broadcast-join's streamed-side partitioning (or an
      // AQE-coalesced single partition) serializes the whole verify —
      // measured 6.4 s → 0.9 s at sf0.1. The shuffle moves ids + two
      // bounded payloads per candidate, nothing corpus-sized.
      .repartition(pairs.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("dist", dist.cast("bigint"))
      // a banded distance returns −1 above its cutoff — below threshold
      // by construction, so drop before the sim algebra would misread −1.
      // `barrier` pins each filter here: a pushable (deterministic) form
      // gets rewritten in terms of the distance expression and sunk into
      // the join condition BELOW the repartition — the DP then runs at
      // the broadcast-join's streamed-side parallelism (a single doc-scan
      // partition at small SF) and once per filter reference instead of
      // once per row. An always-false non-deterministic OR-term cannot be
      // split off or pushed, and costs nothing per row.
      .filter(col("dist") >= 0L || barrier())
      .withColumn("edit_sim",
        lit(1.0) - col("dist").cast("double") / maxLen.cast("double"))
      .filter(col("edit_sim") >= threshold || barrier())
      .select(col("id_a"), col("id_b"), col("dist"), col("edit_sim"))
  }

  /** TOKEN-level edit-similarity verification — the criterion Lee et al.
    * 2022 actually define NearDup over (char-level Levenshtein
    * over-penalizes one long-token substitution and under-penalizes many
    * short ones). Tokens are xxhash64'd map-side so the DP compares
    * primitive longs ([[Native.TokenEditDistance]], ~ns per cell vs the
    * builtin string form's per-codepoint walk); a hash collision inside
    * one pair (~2⁻⁶⁴ per token pair) is the only divergence from exact.
    * `maxTokens` bounds the per-pair DP like `maxChars` does for the
    * char form; same cutoff algebra, same spread/barrier plan shape.
    * Output: (id_a, id_b, dist, edit_sim). */
  def verifyTokenEditSimilarity(pairs: DataFrame, documents: DataFrame,
      threshold: Double, maxTokens: Int = Int.MaxValue,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"verifyTokenEditSimilarity: threshold must be in [0, 1], got $threshold")
    val toks = if (maxTokens == Int.MaxValue) Funcs.tokens(col("text"))
               else slice(Funcs.tokens(col("text")), 1, maxTokens)
    val keyed = documents.select(col("doc_id"),
      transform(toks, t => xxhash64(t)).as("t"))
    val cutoff: Int =
      if (threshold >= 1.0) 1
      else if (threshold > 0.0 && maxTokens != Int.MaxValue)
        ((1.0 - threshold) * maxTokens).toInt + 1
      else 0 // unbounded: full DP per pair
    verifyPairsWith(pairs, keyed,
      Native.tokenEditDistance(col("t_a"), col("t_b"), cutoff),
      greatest(size(col("t_a")), size(col("t_b")), lit(1)), threshold,
      maxPairsPerDoc)
  }

  /** Always-false, NON-DETERMINISTIC predicate term: `cond || barrier()`
    * evaluates exactly like `cond`, but the optimizer may neither split
    * it out of the disjunction nor push the filter below a projection,
    * exchange, or into a join condition — the sanctioned way to pin an
    * expensive per-row predicate at the parallelism it was written at. */
  private def barrier(): Column = monotonically_increasing_id() < lit(0L)

  /** Near-dup pairs by MinHash-LSH blocking + edit-similarity
    * verification — [[minhashLsh]] with Lee et al.'s EditSim in place of
    * exact shingle Jaccard. Same candidate generation (the shuffle moves
    * 3 longs per (doc, band)); see [[verifyEditSimilarity]] for the
    * verification cost model and the `maxChars` dial.
    *
    * Corpus-scale dials, in preference order: (1) use
    * [[tokenEditSimNearDup]] — the token DP is ~an order of magnitude
    * cheaper per pair and is the criterion Lee et al. actually define;
    * (2) bound the per-pair DP with `maxChars`/`maxTokens`; (3) bound the
    * per-DOC pair count with `maxPairsPerDoc` — boilerplate-heavy crawls
    * produce docs matching thousands of candidates, and this is the knob
    * that caps the worst doc's cost. Truncation is deterministic and
    * LOUD (the `graft_pair_budget` observation counts dropped pairs —
    * see [[budgetPairs]]), never a silent sample. */
  def editSimNearDup(documents: DataFrame, shingleLen: Int = 3,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.9,
      maxChars: Int = Int.MaxValue, maxBucketSize: Int = 64,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame =
    verifyEditSimilarity(
      lshCandidates(documents, shingleLen, numHashes, bands, maxBucketSize),
      documents, threshold, maxChars, maxPairsPerDoc)

  /** [[editSimNearDup]] with the TOKEN-level criterion — LSH blocking +
    * [[verifyTokenEditSimilarity]], the closest composition to Lee et
    * al.'s published NearDup (banded MinHash candidates, token edit
    * similarity verify). */
  def tokenEditSimNearDup(documents: DataFrame, shingleLen: Int = 3,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.8,
      maxTokens: Int = Int.MaxValue, maxBucketSize: Int = 64,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame =
    verifyTokenEditSimilarity(
      lshCandidates(documents, shingleLen, numHashes, bands, maxBucketSize),
      documents, threshold, maxTokens, maxPairsPerDoc)

  /** Cross-corpus near-dup pairs: MinHash-LSH banding on BOTH relations,
    * candidates from the (band, key) equi-join ACROSS them, exact-Jaccard
    * verification — near-dup-level benchmark decontamination ("which
    * train docs are a near-copy of a held-out doc"), where
    * [[graft.operators.Pipeline.decontaminate]]'s exact n-gram hit is too
    * strict (a paraphrased or lightly-edited leak shares few exact
    * 8-grams but a high shingle Jaccard).
    *
    * Scale shape: at the decontamination operating point the right side
    * (the benchmark suite) is tiny, so AQE broadcasts its banded keys and
    * the 100 TB left side is never shuffled; the banding still bounds the
    * symmetric big×big case (shuffle = 3 longs per (doc, band), like
    * [[minhashLsh]]). Skew guard for cross-joins: a (band, key) hot on
    * EITHER side (> maxBucketSize) would go quadratic, so hot buckets
    * degrade to pairing every left member with ONE representative right
    * member (min id) — left-side coverage ("is this train doc
    * contaminated?") is preserved at O(|left|) per bucket, but a left doc
    * similar to a non-representative right doc in that bucket relies on
    * its other bands (same caveat class as [[guardedCandidatePairs]]'
    * chaining; the `graft_skew_guard` observation is not emitted here —
    * watch bucket sizes via the same groupBy if needed).
    *
    * Output: (`id_a` from `left`, `id_b` from `right`, `jaccard`). */
  def crossNearDup(
      left: DataFrame,
      right: DataFrame,
      shingleLen: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.6,
      maxBucketSize: Int = 64): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must divide evenly into bands ($bands)")
    val rowsPerBand = numHashes / bands
    // banded keys per side, persisted: each feeds the hot-key count and
    // two candidate joins (release via releaseCaches, see object note)
    def banded(docs: DataFrame): DataFrame = docs
      .select(col("doc_id").as("id"),
        Native.minhashFromTokens(Funcs.tokens(col("text")), shingleLen, numHashes).as("sig"))
      .select(col("id"),
        posexplode(Funcs.lshBandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "bkey")))
      .transform(Caches.persisted)
    val lb = banded(left)
    val rb = banded(right)
    def hotOf(df: DataFrame): DataFrame = df.groupBy("band", "bkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > maxBucketSize).select("band", "bkey")
    // persisted: `hot` feeds two anti-joins, the representative pick, and
    // the hot-pair join — four references, each of which would otherwise
    // re-run BOTH corpus-sized groupBy aggregations (tiny by construction)
    val hot = hotOf(lb).union(hotOf(rb)).distinct().transform(Caches.persisted)
    val coldPairs = lb.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
      .select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(rb.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
        .select(col("band"), col("bkey"), col("id").as("id_b")), Seq("band", "bkey"))
      .drop("band", "bkey")
    // hot buckets: min-id right representative per key (one row per hot key)
    val rep = rb.join(broadcast(hot), Seq("band", "bkey"))
      .groupBy("band", "bkey").agg(min(col("id")).as("id_b"))
    val hotPairs = lb.join(broadcast(hot), Seq("band", "bkey"))
      .select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(broadcast(rep), Seq("band", "bkey"))
      .drop("band", "bkey")
    val candidates = coldPairs.union(hotPairs).dropDuplicates("id_a", "id_b")
    // exact verification over h-sorted shingle-hash arrays, one pass per
    // side (each verify side is read once — no persist needed here)
    def side(docs: DataFrame, id: String, hs: String, sz: String) = docs
      .select(col("doc_id").as(id),
        Native.shingleHashes(Funcs.tokens(col("text")), shingleLen, sortedDistinct = true).as(hs))
      .withColumn(sz, size(col(hs)))
    candidates
      .join(side(left, "id_a", "hs_a", "sz_a"), Seq("id_a"))
      .join(side(right, "id_b", "hs_b", "sz_b"), Seq("id_b"))
      .withColumn("c", Native.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup: `sigBits`-bit signature per doc; candidate pairs
    * share one of (maxHamming+1) signature bands (pigeonhole: h flipped
    * bits cannot touch all h+1 bands, so Hamming ≤ maxHamming ⇒ some band
    * equal — LOSSLESS recall at any maxHamming < sigBits), then exact
    * Hamming verification. Same equi-join-on-sketch-key scaling AND the
    * same hot-bucket skew guard as MinHash-LSH: an over-cap band key
    * (e.g. thousands of identical boilerplate docs ⇒ identical sigs)
    * degrades to O(m) consecutive-id chaining instead of an m² self-join.
    *
    * BAND-KEY CEILING: a band of w bits has 2^w possible keys, so once
    * the corpus grows past ~maxBucketSize·2^w docs EVERY bucket of that
    * band is expected over the cap, the skew guard chains everything,
    * and banded recall silently collapses to near-adjacent ids. With the
    * default 64-bit signature and maxHamming=3 (4×16-bit bands) that is
    * ~4M docs at the default cap. Past it, pass `sigBits = 128`
    * ([[Native.simhashWide]], 4×32-bit bands → ceiling ~10¹¹ docs; note
    * Hamming distances roughly double for the same similarity, so scale
    * `maxHamming` accordingly). Pass the (approximate) `corpusSize` to
    * make the operator REFUSE a saturated configuration instead of
    * degrading silently.
    *
    * @param sigBits    signature width in bits: 64 (single-long, the
    *                   default) or any multiple of 64 (ARRAY<LONG> wide
    *                   signature)
    * @param corpusSize optional document-count hint; when ≥ 0 the
    *                   operator requires that even the widest band's key
    *                   space is not saturated (corpusSize ≤
    *                   maxBucketSize·2^maxWidth) and throws with the
    *                   remedy otherwise */
  def simhash(documents: DataFrame, maxHamming: Int = 3, maxBucketSize: Int = 64,
      sigBits: Int = 64, corpusSize: Long = -1L): DataFrame = {
    val sigExpr =
      if (sigBits == 64) Native.simhash(Funcs.tokens(col("text")))
      else Native.simhashWide(Funcs.tokens(col("text")), sigBits / 64)
    hammingNearDup(documents.select(col("doc_id").as("id"), sigExpr.as("sig")),
      maxHamming, maxBucketSize, sigBits, corpusSize)
  }

  /** Hamming-banded near-dup over a PRECOMPUTED signature relation — the
    * banding/skew-guard/verify core of [[simhash]], factored out so any
    * bit-signature modality plugs in: text simhash ([[simhash]]),
    * perceptual image hashes ([[Multimodal.imageNearDupSig]] over
    * [[Native.DHash64]]), audio envelopes ([[Multimodal.audioNearDupSig]]),
    * video clip signatures ([[Multimodal.videoNearDup]]); [[signedNearDup]]
    * builds the signature relation from a row set and a signature Column.
    * Same pigeonhole guarantee (hamming ≤ maxHamming ⇒ some band equal —
    * lossless recall), same band-key ceiling and `corpusSize` refusal
    * contract documented on [[simhash]].
    *
    * @param sigs (id, sig) — sig LONG when sigBits = 64, ARRAY<LONG>
    *             (length sigBits/64) otherwise */
  def hammingNearDup(sigs: DataFrame, maxHamming: Int = 3, maxBucketSize: Int = 64,
      sigBits: Int = 64, corpusSize: Long = -1L): DataFrame = {
    val nBands = maxHamming + 1
    require(sigBits >= 64 && sigBits % 64 == 0,
      s"sigBits must be a positive multiple of 64, got $sigBits")
    require(nBands >= 2 && nBands <= sigBits,
      s"maxHamming must be in [1, ${sigBits - 1}], got $maxHamming")
    // band widths: sigBits split as evenly as possible over h+1 bands
    val widths = Array.tabulate(nBands)(i => sigBits / nBands + (if (i < sigBits % nBands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val maxWidth = widths.max
    if (corpusSize >= 0) {
      // BigInt: maxBucketSize << maxWidth overflows Long well before the
      // width-62 mark (64 << 57 is already negative), and a negative or
      // zero "capacity" would spuriously refuse perfectly valid wide
      // signatures
      val capacity = (BigInt(maxBucketSize) << maxWidth).min(BigInt(Long.MaxValue)).toLong
      require(corpusSize <= capacity,
        s"simhash band keys saturate: $corpusSize docs over $nBands bands of ≤$maxWidth bits " +
          s"puts every bucket of every band over maxBucketSize=$maxBucketSize, so the skew " +
          "guard would chain ALL candidates and banded recall would collapse to " +
          s"near-adjacent ids — widen the signature (sigBits = ${sigBits * 2}) " +
          "or raise maxBucketSize")
    }
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    // band i = bits [starts(i), starts(i)+widths(i)) of the signature;
    // for wide signatures bit k lives in word k/64, and a band crossing a
    // word boundary stitches its low part from word w0 and high part from
    // word w0+1 (widths ≤ 64 always, so at most two words contribute)
    val bandKeys = (0 until nBands).map { i =>
      if (sigBits == 64)
        shiftright(col("sig"), starts(i)).bitwiseAND(lit(mask(widths(i))))
      else {
        val w0 = starts(i) / 64
        val off = starts(i) % 64
        val fromW0 = math.min(widths(i), 64 - off)
        val low = shiftright(element_at(col("sig"), w0 + 1), off).bitwiseAND(lit(mask(fromW0)))
        if (fromW0 == widths(i)) low
        else low.bitwiseOR(shiftleft(
          element_at(col("sig"), w0 + 2).bitwiseAND(lit(mask(widths(i) - fromW0))), fromW0))
      }
    }
    // (band, key) per doc; persisted (3 longs/doc/band) so the
    // signature scan runs once, not once per self-join side; the sig
    // rides along as payload so Hamming verification needs no join-back
    val quads = sigs.select(
      col("id"), col("sig"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
      .transform(Caches.persisted)
    val ham =
      if (sigBits == 64) Funcs.hamming64(col("sig_a"), col("sig_b"))
      else Funcs.hammingWide(col("sig_a"), col("sig_b"))
    guardedCandidatePairs(quads, Seq("sig"), maxBucketSize)
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[hammingNearDup]] over `rows` (id, …) signed by `sig`, a Column over
    * `rows`' columns (e.g. `Multimodal.imageNearDupSig(Multimodal
    * .pngDecodeLuma(col("png")), 9, 8)`). Rows whose signature is NULL —
    * undecodable, corrupt or too-short payloads — never pair: they drop at
    * the scan, before any shuffle. */
  def signedNearDup(rows: DataFrame, sig: Column, maxHamming: Int,
      maxBucketSize: Int = 64, sigBits: Int = 64): DataFrame =
    hammingNearDup(
      rows.select(col("id"), sig.as("sig")).filter(col("sig").isNotNull),
      maxHamming, maxBucketSize, sigBits)

  /** Embedding-cosine near-dup pairs, blocked on IVF (k-means) centroid
    * buckets: each vector is assigned its `nprobe` nearest centroids
    * map-side ([[Similarity.probeBuckets]], literal centroids → zero
    * shuffle), candidate pairs are generated by the shared skew-guarded
    * equi-join ([[guardedCandidatePairs]]) over (vec_id, bucket) pairs
    * ONLY (two ints per probe — the float arrays never enter the
    * candidate shuffle), then exact cosine verifies each deduped pair.
    * Multi-probe (nprobe ≥ 2) recovers pairs that straddle a cluster
    * boundary. No data-dependent label column is used; numCentroids
    * scales the blocking (≈ √(n / target bucket size)).
    *
    * Over-cap buckets and pair-level recall: inside a bucket the skew
    * guard degrades (> maxBucketSize members), only consecutive-id CHAIN
    * pairs are emitted, and a chain pair between non-identical neighbors
    * can fail the cosine verify — so pair-level recall in an over-cap
    * bucket is guaranteed only for IDENTICAL vectors (identical ⇒ every
    * chain link verifies at any threshold). Non-identical near-dups in a
    * dense bucket need [[connectedComponents]] downstream to recover
    * transitive connectivity; callers consuming RAW pairs should watch
    * the `graft_skew_guard` observation ([[guardedCandidatePairs]]) and
    * treat a tripped guard as a recall warning.
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      minCosine: Double,
      numCentroids: Int = 0,
      nprobe: Int = 5,
      kmeansIters: Int = 3,
      maxBucketSize: Int = 4096): DataFrame = {
    // numCentroids = 0 (the default) RIGHT-SIZES the blocking to the
    // corpus: candidate volume is Σ m_c² over buckets of size
    // m ≈ nprobe·n/C, so a FIXED C makes the pair join quadratic in n —
    // the fourth-decade scaling run measured exactly that (exp 1.58 at
    // sf1 under C=64). Holding the cluster SIZE constant instead
    // (C = nprobe·n/128) keeps pair volume linear; the count is one
    // cheap aggregate, and the cap is the training-sample contract
    // (past it, raise sampleSize or switch to the SRP sibling).
    val c = autoCentroids(embeddings, numCentroids, nprobe)
    val cents = Similarity.trainCentroids(embeddings, "vec_id", "embedding", c, kmeansIters)
    // two ints per (vector, probe); persisted so the C-dot-product probe
    // assignment runs once, not once per self-join side. Candidate
    // generation goes through the SAME skew-guarded helper as the three
    // LSH siblings (band is constant 0, bkey = centroid bucket): a
    // degenerate centroid that swallows a boilerplate/zero-vector family
    // degrades to O(m) chaining instead of an m² single-partition
    // self-join. The cap is higher than the LSH family's (buckets here
    // are ~n/numCentroids by construction, not near-dup families), so
    // only a pathological bucket — the scale-killer case — trips it.
    val keyed = embeddings.select(
      col("vec_id").as("id"),
      lit(0).as("band"),
      explode(Similarity.probeBuckets(col("embedding"), cents, nprobe)).as("bkey"))
      .transform(Caches.persisted)
    val candidates = guardedCandidatePairs(keyed, Nil, maxBucketSize)
    // Norms once per vector map-side; cosine inside the verify is a single
    // codegen'd dot per surviving candidate pair.
    def side(ida: String, emb: String, nrm: String) = embeddings.select(
      col("vec_id").as(ida), col("embedding").as(emb),
      Native.normF(col("embedding")).as(nrm))
    candidates
      .join(side("id_a", "emb_a", "norm_a"), Seq("id_a"))
      .join(side("id_b", "emb_b", "norm_b"), Seq("id_b"))
      // inclusive bound: same boundary convention as the whole dedup family
      .filter(Native.dotF(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")) >= minCosine)
      .select(col("id_a"), col("id_b"))
  }

  /** The linear-blocking rule shared by the centroid-blocked embedding
    * dedups: hold the expected probe-bucket SIZE constant
    * ([[TargetClusterSize]]) as the corpus grows, so the within-bucket
    * pair volume Σ m² stays ∝ n instead of n²/C. The target (128) is
    * calibrated against the multi-probe recall contract at LOW
    * thresholds (finer clusters raise boundary-straddle misses — the
    * ≥0.95-recall pin at cosine 0.3 held at ~n/100 clusters and dropped
    * at ~n/64); it reproduces the r7 hand-tuned C=64 at sf0.1 exactly.
    * Floor 16 (tiny corpora don't need blocking); ceiling =
    * [[Similarity.trainCentroids]]' default sample contract (the sample
    * must exceed C). An explicit caller value wins unchanged. */
  private val TargetClusterSize = 128L
  private def autoCentroids(embeddings: DataFrame, numCentroids: Int, nprobe: Int): Int =
    if (numCentroids > 0) numCentroids
    else {
      val n = embeddings.count()
      math.min(4096L, math.max(16L, nprobe * n / TargetClusterSize)).toInt
    }

  /** Embedding-cosine near-dup pairs via sign-random-projection LSH
    * ([[graft.functions.Native.SrpTableKeys]]) — the TRAIN-FREE sibling of
    * the IVF-blocked [[embeddingNearDup]]: no k-means pass, no driver
    * sample, no centroid literals; the hyperplanes are a pure function of
    * (table, bit, dim), so the operator is a stateless map over the corpus
    * followed by the same skew-guarded key equi-join as the text-LSH
    * family. Use it when the corpus distribution is unknown or drifting
    * (streaming ingest, incremental dedup) or when the threshold is high
    * (cosine ≥ ~0.9, where the (bits, tables) S-curve is steep); prefer
    * IVF blocking for lower thresholds, where angular LSH recall decays.
    *
    * Candidate recall at cosine c: 1 − (1 − (1−θ/π)^bits)^tables,
    * θ = arccos(c) — defaults (8×16) give ~0.97 at c = 0.99, ~0.8 at
    * c = 0.95. Exact-cosine verification removes every false positive, so
    * the dials trade recall against candidate volume only. Shuffle volume:
    * 3 longs per (vector, table) for the keys, ints-only candidate pairs;
    * the float arrays enter only the final verify join. The exploded key
    * relation is persisted (see the object-level cache-lifecycle note:
    * release via [[releaseCaches]] once the output is materialized). */
  def embeddingNearDupSrp(
      embeddings: DataFrame,
      minCosine: Double,
      numTables: Int = 8,
      bitsPerTable: Int = 16,
      maxBucketSize: Int = 64): DataFrame = {
    // (table, key) per vector; persisted so the O(tables·bits·dim)
    // signature pass runs once, not once per self-join side
    val keyed = embeddings.select(
      col("vec_id").as("id"),
      posexplode(Native.srpKeys(col("embedding"), numTables, bitsPerTable))
        .as(Seq("band", "bkey")))
      .transform(Caches.persisted)
    val candidates = guardedCandidatePairs(keyed, Nil, maxBucketSize)
    def side(ida: String, emb: String, nrm: String) = embeddings.select(
      col("vec_id").as(ida), col("embedding").as(emb),
      Native.normF(col("embedding")).as(nrm))
    candidates
      .join(side("id_a", "emb_a", "norm_a"), Seq("id_a"))
      .join(side("id_b", "emb_b", "norm_b"), Seq("id_b"))
      .filter(Native.dotF(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")) >= minCosine)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster-then-prune over an embedding column, packaged as the same
    * canonicalized output shape as [[dedupComponents]] — one row per
    * vector with its near-dup component and a min-id keeper flag, so a
    * semantic-dedup pass is `filter(is_keeper = 1)`.
    *
    * The recipe (and its scale rationale) is the paper's: assign every
    * vector to its SINGLE nearest k-means centroid, compare pairs only
    * WITHIN a cluster, and keep one representative per semantic
    * duplicate group. Single assignment (vs [[embeddingNearDup]]'s
    * multi-probe candidate generation) is the deliberate trade: candidate
    * volume is Σ m_c² over clusters of expected size n/C — the paper's
    * O(n²/C) — at the cost of missing pairs that straddle a cluster
    * boundary (SemDeDup accepts this; raise C for tighter clusters, or
    * use the multi-probe sibling when recall beats cost). Assignment is
    * pure map-side codegen over LITERAL centroids
    * ([[Similarity.nearestBucket]]) — zero shuffle until the cluster-key
    * equi-join, which routes through the shared skew-guarded candidate
    * helper (a degenerate cluster swallowing a zero-vector family
    * degrades to O(m) chaining, never an m² single-partition join).
    * Verification is one codegen'd dot product per surviving pair;
    * components close transitive groups so the keeper is well-defined
    * even when similarity is not transitive.
    *
    * Output: (`vec_id`, `cluster`, `component_id`, `is_keeper`). */
  def semanticDedup(
      embeddings: DataFrame,
      minCosine: Double,
      numCentroids: Int = 0,
      kmeansIters: Int = 3,
      maxBucketSize: Int = 4096): DataFrame = {
    // 0 = auto: C = n / TargetClusterSize — the paper's own scale rule
    // (SemDeDup §2 holds cluster size roughly constant as n grows); a
    // fixed C makes the within-cluster pair stage quadratic in n (see
    // [[embeddingNearDup]]'s blocking note)
    val c = autoCentroids(embeddings, numCentroids, nprobe = 1)
    val cents = Similarity.trainCentroids(embeddings, "vec_id", "embedding", c, kmeansIters)
    // one int pair per vector; persisted because it feeds both self-join
    // sides and the final per-vector output (release via releaseCaches)
    val keyed = embeddings.select(
      col("vec_id").as("id"),
      lit(0).as("band"),
      Similarity.nearestBucket(col("embedding"), cents).as("bkey"))
      .transform(Caches.persisted)
    val candidates = guardedCandidatePairs(keyed, Nil, maxBucketSize)
    def side(ida: String, emb: String, nrm: String) = embeddings.select(
      col("vec_id").as(ida), col("embedding").as(emb),
      Native.normF(col("embedding")).as(nrm))
    val pairs = candidates
      .join(side("id_a", "emb_a", "norm_a"), Seq("id_a"))
      .join(side("id_b", "emb_b", "norm_b"), Seq("id_b"))
      .filter(Native.dotF(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")) >= minCosine)
      .select(col("id_a"), col("id_b"))
    val comps = connectedComponents(pairs).withColumnRenamed("id", "vec_id")
    keyed.select(col("id").as("vec_id"), col("bkey").as("cluster"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("comp"), col("vec_id")).as("component_id"))
      .withColumn("is_keeper", (col("vec_id") === col("component_id")).cast("bigint"))
  }

  /** EXACT all-pairs n-gram Jaccard self-join via prefix filtering
    * (SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07): provably NO false negatives, unlike the probabilistic
    * MinHash path.
    *
    * Lemma: under ANY global token order, two sets with |A∩B| ≥ α share a
    * token within their first (|·|−α+1) elements. With J(A,B) ≥ t ⇒
    * |A∩B| ≥ ⌈t·|A|⌉, indexing only each doc's (|S|−⌈t·|S|⌉+1)-prefix is
    * lossless. The order we pick is document-frequency ascending (PPJoin's
    * rare-first heuristic, ties by hash): prefixes then hold each doc's
    * RAREST shingles, so the candidate equi-join on the prefix token
    * collides almost only for genuinely similar docs — measured 100×
    * fewer candidates than hash order on the synthetic corpus, because
    * common boilerplate shingles (shared by hundreds of docs) never enter
    * a prefix unless a doc has nothing rarer. The size filter
    * (⌈t·szA⌉ ≤ szB ≤ ⌊szA/t⌋) prunes length-incompatible pairs before
    * the verify. Exact Jaccard then re-shingles only candidate rows.
    */
  def ngramJaccard(documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // FP-safe slack: t·sz computed in doubles can land a hair ABOVE the
    // exact rational (e.g. 0.3*10 = 3.0000000000000004), which would
    // shorten the prefix / tighten the length filter and break the
    // no-false-negative guarantee at boundary Jaccard values. Nudging the
    // threshold down by an epsilon only lengthens prefixes and loosens the
    // filter — extra candidates are removed by the exact verify.
    val tSafe = threshold - 1e-9

    // h-sorted shingle-hash array per doc: ONE shingling pass feeds both
    // prefix indexing and verification; persisted (ids + ~|S| longs/doc)
    // fused tokenize→shingle→hash→distinct-sort ([[Native.shingleHashes]]):
    // one loop per doc vs an interpreted tree per shingle. Distinct is by
    // 64-bit hash rather than by string — identical sets modulo a ~2⁻⁶⁴
    // in-document collision (and the sf-fixture oracle pins equality).
    val hashed = documents
      .select(col("doc_id"),
        Native.shingleHashes(Funcs.tokens(col("text")), n, sortedDistinct = true).as("hs"))
      .withColumn("sz", size(col("hs")))
      .transform(Caches.persisted)

    // global document frequency per shingle (partial-agg'd: the shuffle
    // carries one (hash, count) per distinct hash per map task)
    val exploded = hashed.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    // per doc: hashes re-sorted rare-first, then the exploded prefix index
    // (tok, pos, doc_id, sz) — 4 longs per indexed shingle. Persisted:
    // both self-join sides read it (same rationale as minhashLsh's banded).
    val prefixed = exploded.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ordered"))
      .withColumn("sz", size(col("ordered")))
      .withColumn("plen", (col("sz") - ceil(lit(tSafe) * col("sz")) + 1).cast("int"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("ordered"), lit(1), col("plen"))).as(Seq("pos", "e")))
      .select(col("doc_id"), col("sz"), col("pos"), col("e.h").as("tok"))
      .transform(Caches.persisted)

    // PPJoin positional filter: a match at (rare-first) prefix positions
    // (pA, pB) caps the remaining overlap at 1 + min(szA−pA−1, szB−pB−1);
    // require it to reach the PPJoin overlap bound ⌈t/(1+t)·(szA+szB)⌉.
    // Safe per-match: a feasible pair always survives via its earliest
    // shared prefix token, which carries the loosest cap.
    val alpha = ceil(lit(tSafe / (1 + tSafe)) * (col("a.sz") + col("b.sz")))
    val candidates = prefixed.as("a")
      .join(prefixed.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t needs t·max(|A|,|B|) ≤ min(|A|,|B|)
          col("b.sz") >= ceil(lit(tSafe) * col("a.sz")) &&
          col("b.sz") * lit(tSafe) <= col("a.sz") &&
          (lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1)) >= alpha)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // exact verification: two-pointer intersect over the persisted
    // h-sorted hash arrays (O(|A|+|B|) per candidate, no string work);
    // |A∪B| = szA + szB − c. Hash-collision risk is 2⁻⁶⁴-negligible.
    def side(id: String, hs: String, sz: String) =
      hashed.select(col("doc_id").as(id), col("hs").as(hs), col("sz").as(sz))
    candidates
      .join(side("id_a", "hs_a", "sz_a"), Seq("id_a"))
      .join(side("id_b", "hs_b", "sz_b"), Seq("id_b"))
      .withColumn("c", Native.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        col("c").cast("double") / (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-dup pair relation (`id_a`, `id_b`) by
    * iterative min-label propagation: every node starts labeled with its own
    * id; each round every node takes the min label in its neighborhood;
    * fixpoint = each node labeled with the smallest id reachable from it.
    * This is the canonicalization step BETWEEN pair detection and actually
    * dropping duplicates — transitive near-dups (A≈B, B≈C, A≉C) must share
    * one keeper or dedup drops too little.
    *
    * Scale shape: each round is one O(E) label shuffle plus one O(V)
    * pointer-jumping self-join ("path halving": each label jumps to its
    * label's label), so the round count is O(log diameter) — a
    * 1000-node boilerplate CHAIN, the adversarial shape for plain
    * min-label propagation (diameter rounds), converges in ~10. Dense
    * near-dup clusters still converge in 2-3. `localCheckpoint`
    * truncates lineage each round so the plan stays O(1) deep instead of
    * growing per iteration, and the convergence probe reuses the
    * checkpointed result rather than recomputing the chain. Hitting
    * `maxIter` without a fixpoint THROWS instead of silently returning
    * split components — with compression, 50 rounds covers any diameter
    * that fits in a long.
    *
    * Small-graph fast path: the edge relation of a near-dup graph is
    * ids-only and typically MINUSCULE relative to the corpus (the pair
    * stage already filtered it), while the iterative loop pays several
    * Spark jobs per round in fixed overhead. Below `maxDriverEdges`
    * (default 2M edges; peak driver footprint ≈ 32 MB of primitive edge
    * arrays + up to 64 MB of node-id/parent arrays ≈ 100 MB — the same
    * bounded-collect contract as `Similarity.trainCentroids`) the
    * components are solved on the driver: edges collect as primitive
    * long pairs, node ids are sorted into an index (so union-find runs
    * over Int arrays, no boxing, and "union by min index" ≡ "union by
    * min id"), and the labels re-parallelize. Above the bound, the
    * distributed pointer-jumping loop runs unchanged. Both paths produce
    * identical labels (pinned by a test). */
  def connectedComponents(
      edges: DataFrame,
      maxIter: Int = 50,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    // Materialize the edge relation once, then size the iteration
    // partitioning to the ACTUAL edge count (~1M edge-pairs per partition):
    // edges arrive from a multi-stage join pipeline whose dozens of
    // near-empty output partitions would otherwise cost a task per
    // partition per round (AQE can't help — cached plans keep their
    // partitioning: canChangeCachedPlanOutputPartitioning=false).
    // Repartitioning on src also pre-buckets the per-round join key.
    val e = edges
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    if (nEdges <= maxDriverEdges) {
      // Primitive-array union-find: collect per-partition long arrays (no
      // boxed Rows survive past the executor side), index node ids by
      // binary search over a sorted unique array, and run find/union over
      // an Int parent array. Footprint is 16 bytes/edge + 12 bytes/node.
      val parts: Array[Array[Long]] = e.rdd
        .mapPartitions { it =>
          val buf = scala.collection.mutable.ArrayBuilder.make[Long]
          it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
          Iterator.single(buf.result())
        }
        .collect()
      e.unpersist()
      val flat = new Array[Long](parts.map(_.length).sum)
      var off = 0
      parts.foreach { p => System.arraycopy(p, 0, flat, off, p.length); off += p.length }
      val ids = flat.clone()
      java.util.Arrays.sort(ids)
      var n = 0 // in-place dedupe of the sorted id array
      var i = 0
      while (i < ids.length) {
        if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
        i += 1
      }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      i = 0
      while (i + 1 < flat.length) {
        // ids ascending ⇒ smaller index = smaller id, so union by MIN
        // index ≡ union by min id — the invariant the distributed loop
        // fixes iteratively holds directly
        val a = java.util.Arrays.binarySearch(ids, 0, n, flat(i))
        val b = java.util.Arrays.binarySearch(ids, 0, n, flat(i + 1))
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 2
      }
      val session = edges.sparkSession
      import session.implicits._
      val out = new Array[(Long, Long)](n)
      i = 0
      while (i < n) { out(i) = (ids(i), ids(find(i))); i += 1 }
      return out.toSeq.toDF("id", "comp")
    }
    val parts = math.max(1, math.min((2L * nEdges / 1000000L).toInt,
      edges.sparkSession.sparkContext.defaultParallelism * 32))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // lazy init: lineage is one scan of the persisted sym, so there is
    // nothing to truncate yet — round 0's checkpoint covers it
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // labels flowing across edges, then min per node (incl. its own label).
      // The node's previous label rides along as a second aggregate (unique
      // per id, so max() just recovers it), which fuses convergence
      // detection into the same shuffle — one materializing job per round
      // plus a cheap filter over the checkpointed result, instead of a
      // separate labels⋈next comparison join.
      val viaNeighbor = sym.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("comp"), lit(null).cast("long").as("prev"))
      val agg = labels.select(col("id"), col("comp"), col("comp").as("prev"))
        .union(viaNeighbor)
        .groupBy("id").agg(min("comp").as("comp"), max("prev").as("prev"))
      // path halving: comp ≤ id invariantly (min includes self), and comp
      // is reachable from id, so jumping comp → comp(comp) stays inside
      // the component while doubling the propagation horizon per round —
      // O(log diameter) rounds instead of O(diameter). Every comp value
      // is a node id, so the left join's null arm never fires (kept for
      // safety).
      val next = agg.as("a")
        .join(agg.select(col("id").as("jid"), col("comp").as("jcomp")).as("j"),
          col("a.comp") === col("j.jid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("j.jcomp"), col("a.comp")).as("comp"),
          col("a.prev").as("prev"))
        .localCheckpoint(true)
      converged = next.filter(col("comp") < col("prev")).isEmpty
      labels = next.select("id", "comp")
      iter += 1
    }
    sym.unpersist()
    e.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "split components would corrupt dedup; raise maxIter")
    labels
  }

  /** End-to-end near-dup canonicalization: exact n-gram Jaccard pairs
    * ([[ngramJaccard]], lossless prefix-filtered) → [[connectedComponents]]
    * → one row per document with its component id (the smallest doc_id in
    * its near-dup cluster) and a keeper flag. Documents in no pair are
    * their own singleton component. Downstream dedup is then
    * `filter(is_keeper = 1)`. */
  def dedupComponents(documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val comps = connectedComponents(ngramJaccard(documents, n, threshold).select("id_a", "id_b"))
    documents.select(col("doc_id"))
      .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component_id"))
      .withColumn("is_keeper", (col("doc_id") === col("component_id")).cast("bigint"))
  }

  /** [[dedupComponents]] with a quality-aware keeper: instead of the
    * smallest doc_id, each near-dup cluster keeps its LONGEST document
    * (`n_chars`, ties → smallest id) — the standard "keep the most
    * complete copy" rule when near-dups are truncations/excerpts of one
    * another. Emits every document with its component id, the chosen
    * keeper's id, and the keep flag.
    *
    * Scale shape: the extra work over [[dedupComponents]] is one window
    * max per component — component partitions are near-dup clusters
    * (small by construction; the skew bound is the largest boilerplate
    * family, already bounded by the pair stage's skew guard), and
    * singleton docs skip the shuffle entirely via the left join's null
    * path (they are their own keeper without entering the window). */
  def dedupKeepBest(documents: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val comps = connectedComponents(ngramJaccard(documents, n, threshold).select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
    // only docs that are IN some component enter the window; the best doc
    // per component = first by (n_chars desc, doc_id asc)
    val member = documents.select(col("doc_id"), col("n_chars")).join(comps, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val best = member
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("comp"), col("doc_id").as("best_id"))
    documents.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .join(best, Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component_id"),
        coalesce(col("best_id"), col("doc_id")).as("keeper_id"))
      .withColumn("is_keeper", (col("doc_id") === col("keeper_id")).cast("bigint"))
  }

  /** Corpus-wide duplicated-SPAN detection — the substring-dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22): a token n-gram is *duplicated* when it occurs ≥ 2
    * times across the corpus (any doc, any position); each doc's
    * duplicated gram positions merge into maximal regions, yielding the
    * per-document span stats a filtering / span-removal pass keys on:
    * `n_dup_grams`, `n_dup_regions`, `dup_tokens` (tokens covered by the
    * merged regions) and `dup_token_frac`.
    *
    * Scale shape: grams ride as 8-byte xxhash64 keys (the shuffle never
    * carries gram STRINGS; hash-distinct ≡ string-distinct modulo a
    * ~2⁻⁶⁴ collision, the same stance as [[ngramJaccard]] — and the
    * DuckDB oracle, which groups by string, pins the equality). One
    * partial-aggregated frequency groupBy, one equi-join back (AQE picks
    * broadcast while the duplicated-gram set is small), then the
    * gaps-and-islands interval merge runs under a window PARTITIONED BY
    * doc — bounded by document length, never corpus-wide. The exploded
    * gram relation is persisted (feeds both the frequency count and the
    * join-back; see the object-level cache-lifecycle note). */
  /** Positional gram-hash relation (doc_id, n_tokens, pos, h): fused
    * tokenize→shingle→hash ([[Native.ShingleHashes]], positional order) —
    * gram STRINGS are never materialized; one loop per doc emits the
    * 8-byte keys directly. Persisted: the frequency aggregate and the
    * occurrence join-back both read it (object-level cache-lifecycle
    * note applies). */
  private def positionalGramHashes(documents: DataFrame, n: Int): DataFrame = {
    val toks = Funcs.tokens(col("text"))
    documents
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"),
        posexplode(Native.shingleHashes(toks, n, sortedDistinct = false)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("bigint").as("pos"), col("h"))
      .transform(Caches.persisted)
  }

  /** Gaps-and-islands merge of marked spans [pos, e) into maximal
    * per-doc regions (start, end, grams) — windows partition by doc, so
    * the merge is bounded by document length, never corpus-wide. */
  private def mergeSpanIslands(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("brk",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("rid", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("pos")).as("start"), max(col("e")).as("end"), count(lit(1)).as("grams"))
  }

  def duplicatedSpans(documents: DataFrame, n: Int = 5): DataFrame = {
    val grams = positionalGramHashes(documents, n)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("freq")).filter(col("freq") >= 2)
    // duplicated occurrences with their (capped) spans [pos, e)
    val spans = grams.join(dup.select("h"), Seq("h"))
      .withColumn("e", least(col("pos") + n, col("n_tokens")))
    val regions = mergeSpanIslands(spans)
      .groupBy("doc_id")
      .agg(sum(col("grams")).as("n_dup_grams"),
        count(lit(1)).as("n_dup_regions"),
        sum(col("end") - col("start")).as("dup_tokens"))
    documents
      .select(col("doc_id"), size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .join(regions, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_regions"), lit(0L)).as("n_dup_regions"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_token_frac",
        col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Duplicated-span REMOVAL — [[duplicatedSpans]]' acting sibling (the
    * actual Lee-et-al treatment: cut the repeated substrings, keep the
    * corpus-first occurrence): every n-gram occurrence except the first
    * (in packed (doc_id, pos) order) of a ≥2-frequency gram marks its
    * token span; spans merge per doc and the covered tokens are dropped
    * from the text. Emits (doc_id, n_tokens, n_kept, text_clean).
    *
    * Scale shape: "first occurrence" is a plain `min` over a packed
    * BIGINT key in a partial-aggregated groupBy — no window over the
    * gram partition, so a boilerplate gram repeated millions of times
    * costs one combiner cell, not a single-partition sort. (The packing
    * assumes doc_id < 2³¹ and positions < 2³²; an id space beyond that
    * swaps the key for `min(struct(doc_id, pos))` — same plan shape,
    * wider key.) Everything
    * downstream (islands, filter-by-region) is doc-partitioned; the
    * final text rebuild is one higher-order `filter` per doc inside
    * codegen. */
  def removeDuplicatedSpans(documents: DataFrame, n: Int = 5): DataFrame = {
    val toks = Funcs.tokens(col("text"))
    val grams = positionalGramHashes(documents, n)
    // (doc_id, pos) packed into one BIGINT so the corpus-first occurrence
    // is a plain min (same arithmetic in the DuckDB oracle)
    // cast first: ShiftLeft on an INT column masks the shift count to 5
    // bits, so shiftleft(intCol, 32) is the IDENTITY and the packed key
    // silently collides (doc 1/pos 4 == doc 2/pos 3)
    val okey = shiftleft(col("doc_id").cast("long"), 32) + col("pos")
    val stats = grams.select(col("h"), okey.as("okey"))
      .groupBy("h").agg(count(lit(1)).as("cnt"), min(col("okey")).as("first_okey"))
      .filter(col("cnt") >= 2)
    val marked = grams.join(stats, Seq("h"))
      .filter(okey =!= col("first_okey"))
      .withColumn("e", least(col("pos") + n, col("n_tokens")))
    val regions = mergeSpanIslands(marked)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("start").as("s"), col("end").as("e"))))
        .as("regions"))
    documents
      .join(regions, Seq("doc_id"), "left")
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"),
        when(col("regions").isNull, toks)
          .otherwise(filter(toks, (_, i) => !exists(col("regions"),
            r => i.cast("bigint") >= r.getField("s") && i.cast("bigint") < r.getField("e"))))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("bigint").as("n_kept"),
        concat_ws(" ", col("kept")).as("text_clean"))
  }

  /** Exact line-level corpus deduplication (the RefinedWeb / Dolma
    * recipe): a line that occurs anywhere else in the corpus survives
    * only at its corpus-FIRST occurrence — packed (doc_id, line_pos)
    * `min`, the same first-occurrence stance and id-space assumption as
    * [[removeDuplicatedSpans]] — and every later copy is dropped, each
    * document's text rebuilt from its surviving lines in order.
    * Boilerplate (nav bars, cookie banners, license headers) is the
    * target: it repeats verbatim across pages, so exact line identity
    * catches it with no near-dup machinery. The doc-LOCAL heuristic
    * sibling is [[TextAnalysis.c4LineFilter]].
    *
    * Scale shape: lines ride every shuffle as 8-byte xxhash64
    * fingerprints, never strings (the decontaminate/bigram stance; the
    * string-keyed DuckDB oracle pins the equality) — the line text
    * itself never leaves its document row. First occurrence is a
    * partial-agg'd `min` over the packed key, so a million-fold
    * boilerplate line costs one combiner cell, never a line-partitioned
    * window; the drop-set join-back is doc-keyed ints; the rebuild is a
    * doc-local higher-order `filter` in codegen.
    *
    * Emits (doc_id, n_lines, n_kept, text_clean); a document whose every
    * line was seen earlier keeps its row with empty `text_clean`. Blank
    * lines are lines too — corpus-wide, only the first survives (run a
    * normalization pass first if blank-line structure must be kept).
    *
    * @param dropAllAbove lines occurring at least this many times
    *                     corpus-wide lose EVERY occurrence, first
    *                     included — the RefinedWeb treatment of
    *                     high-frequency boilerplate (a nav bar is noise
    *                     in its first document too). Default keeps the
    *                     plain keep-first semantics.
    * @param sep          segment separator — "\n" (default) dedups lines,
    *                     "\n\n" dedups PARAGRAPHS (the Dolma paragraph
    *                     tier: multi-line blocks repeat as units in
    *                     templated pages, and paragraph grain avoids
    *                     killing legitimately repeated short lines). */
  def lineDedup(documents: DataFrame, dropAllAbove: Long = Long.MaxValue,
      sep: String = "\n"): DataFrame = {
    val hashed = hashedLines(documents, sep).transform(Caches.persisted)
    val firsts = hashed.groupBy("fp")
      .agg(min(col("okey")).as("first_okey"), count(lit(1)).as("cnt"))
    val dropped = hashed.join(firsts, Seq("fp"))
      .filter(col("okey") =!= col("first_okey") || col("cnt") >= dropAllAbove)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("pos_list"))
    rebuildLines(documents, dropped, keepListed = false, sep)
  }

  /** The shared line representation of [[lineDedup]] /
    * [[lineDedupIncremental]]: one row per (doc, line) with the line's
    * 8-byte xxhash64 fingerprint and the packed corpus-order key
    * `okey = doc_id·2³² + pos`.
    *
    * OKEY CONTRACT (also binds the `keep_okey` column in the incremental
    * line store and its `>> 32` doc recovery): doc_id must be
    * non-negative and fit in 31 bits, pos in 32 — a doc_id ≥ 2³¹ silently
    * wraps the packing and corrupts first-occurrence order. 64-bit
    * (hash-derived) doc ids must be densely re-keyed first — the same
    * id-space assumption [[removeDuplicatedSpans]] documents. */
  private def hashedLines(documents: DataFrame, sep: String = "\n"): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(transform(split(col("text"), java.util.regex.Pattern.quote(sep)),
          l => xxhash64(l)))
          .as(Seq("pos", "fp")))
      .withColumn("okey", shiftleft(col("doc_id").cast("long"), 32) + col("pos"))

  /** Rebuild each document from a per-doc sorted `pos_list` relation:
    * `keepListed = false` drops the listed positions (a doc absent from
    * the relation keeps everything — [[lineDedup]]'s drop-set shape);
    * `keepListed = true` keeps ONLY the listed positions (an absent doc
    * keeps nothing — the incremental keep-set shape). Emits the shared
    * (doc_id, n_lines, n_kept, text_clean) schema. */
  private def rebuildLines(documents: DataFrame, positions: DataFrame,
      keepListed: Boolean, sep: String = "\n"): DataFrame = {
    val lines = split(col("text"), java.util.regex.Pattern.quote(sep))
    val whenAbsent = if (keepListed) array().cast("array<string>") else lines
    val listed = (i: Column) => array_contains(col("pos_list"), i)
    documents
      .join(positions, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(lines).cast("bigint").as("n_lines"),
        when(col("pos_list").isNull, whenAbsent)
          .otherwise(filter(lines,
            (_, i) => if (keepListed) listed(i) else !listed(i)))
          .as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("bigint").as("n_kept"),
        concat_ws(sep, col("kept")).as("text_clean"))
  }

  /** Incremental line-level dedup — [[lineDedup]]'s corpus-GROWTH shape
    * (the [[exactIncremental]] contract at line granularity, i.e. the
    * RefinedWeb ingest treatment applied batch-by-batch): a new batch's
    * lines are deduplicated against the fingerprints of every line
    * already ACCEPTED, plus keep-first within the batch itself, without
    * rescanning accepted text. Returns (cleaned batch, updated store).
    *
    * Scale shape: the store is an `(fp, keep_okey) BIGINT` pair — 16
    * bytes per distinct line ever accepted, not the corpus — and the only
    * operations are one fp-keyed groupBy of the (small) batch and one
    * left-anti equi-join on fp; AQE broadcasts whichever side is small.
    * Replay safety: a replayed batch contributes no new store fps (its
    * lines all anti-join away), so the store is idempotent under
    * at-least-once delivery — pair with the content-addressed `_COMMIT`
    * batch protocol ([[graft.apps.CorpusPrep.runIncremental]]) for
    * exactly-once OUTPUT semantics too.
    *
    * Returns (cleaned, novel, updatedStore):
    *  - `cleaned` is the [[lineDedup]] shape (doc_id, n_lines, n_kept,
    *    text_clean); a batch doc whose every line was seen before keeps
    *    its row with n_kept = 0 and empty text_clean (callers gate);
    *  - `novel` is the batch's newly-claimed line fingerprints
    *    (fp, keep_okey) — keep_okey packs the claiming doc and line
    *    position as doc_id·2³² + pos, the [[exactIncremental]] keeper
    *    convention at line grain, so callers can filter the store
    *    contribution to finally-accepted docs (keep_okey >> 32);
    *  - `updatedStore` = store ∪ novel, for callers without their own
    *    store protocol. */
  def lineDedupIncremental(
      newDocuments: DataFrame,
      store: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val hashed = hashedLines(newDocuments).transform(Caches.persisted)
    // batch-first occurrence per fp, then only fps the store hasn't seen
    val novel = hashed.groupBy("fp").agg(min(col("okey")).as("keep_okey"))
      .join(store.select("fp"), Seq("fp"), "left_anti")
      .transform(Caches.persisted)
    val keptPos = hashed.join(novel, Seq("fp"))
      .filter(col("okey") === col("keep_okey"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("pos_list"))
    (rebuildLines(newDocuments, keptPos, keepListed = true),
      novel, store.unionByName(novel))
  }

  /** Cross-source n-gram overlap matrix — the inter-domain contamination
    * diagnostic a mixture designer reads before setting weights: for
    * every source pair, the count of shared distinct n-grams and their
    * Jaccard. High overlap between a "web" and a "books" slice means the
    * slices are not the independent domains the mixture math assumes
    * (or one leaks into the other).
    *
    * Scale shape: ONE shuffle on the gram fingerprint — grams ride as
    * 8-byte xxhash64 keys (string-keyed in the DuckDB oracle) into a
    * partial-aggregated `collect_set(source)` (set size ≤ |sources|, so
    * map-side partials shrink the shuffle below the distinct-pair
    * volume), and each fingerprint's sorted source set expands to its
    * own ≤ C(|sources|,2) pairs in codegen — never a gram self-join.
    * Everything after the fp aggregate is vocabulary-sized, the output
    * sources²-sized (tiny). Short documents follow
    * [[Funcs.wordShingles]]' whole-doc rule. */
  def sourceOverlap(documents: DataFrame, n: Int = 3): DataFrame = {
    // fused native shingle hashing: each doc's distinct gram fps come out
    // of one loop as a sorted array (bit-identical to xxhash64 over the
    // declarative wordShingles) — no gram strings materialize, and the
    // per-doc distinct shrinks the exploded relation before the shuffle
    val srcSets = documents
      .select(col("source"),
        explode(Native.shingleHashes(Funcs.tokens(col("text")), n,
          sortedDistinct = true)).as("fp"))
      .groupBy("fp").agg(array_sort(collect_set(col("source"))).as("ss"))
      .transform(Caches.persisted)
    val perSource = srcSets.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    srcSets
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))),
          b => struct(a.as("sa"), b.as("sb")))))).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(perSource.select(col("source").as("source_a"), col("n_grams").as("na")), Seq("source_a"))
      .join(perSource.select(col("source").as("source_b"), col("n_grams").as("nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        col("shared_grams").cast("bigint").as("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams")).cast("double"), 6).as("jaccard"))
  }

  /** N-gram Jaccard similarity for explicit pairs (verification primitive
    * shared by tests; the LSH path above inlines the same expression). */
  def jaccardNgram(pairs: DataFrame, textA: String, textB: String, n: Int): DataFrame = {
    val shA = array_distinct(Funcs.wordShingles(Funcs.tokens(col(textA)), n))
    val shB = array_distinct(Funcs.wordShingles(Funcs.tokens(col(textB)), n))
    pairs.withColumn("jaccard",
      size(array_intersect(shA, shB)).cast("double") /
        size(array_union(shA, shB)).cast("double"))
  }
}
