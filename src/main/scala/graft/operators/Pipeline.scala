package graft.operators

import graft.functions.{Funcs, Native}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * after ingestion (north-star scope, beyond the reference's surface):
  * deterministic splits, vocabulary, PII redaction, embedding
  * quantization, corpus statistics, and the composed filter→dedup flow.
  *
  * Scale design: splits / redaction / quantization are pure map-side
  * (scan → project, zero shuffle, embarrassingly parallel). Vocabulary
  * top-k uses TakeOrderedAndProject (per-partition partial top-k, single
  * tiny reduce) — never a global sort. Corpus stats is one partial-
  * aggregated reduction to a single row.
  */
object Pipeline {

  /** The split rule shared by [[hashSplit]] and [[decontaminate]]: last
    * hex digit of md5(id) → 0-b train (12/16), c-d val (2/16), e-f test
    * (2/16). A pure column expression so callers inline it map-side
    * instead of joining against a materialized split table. */
  private def splitAssign(id: Column): Column = {
    val nib = substring(md5(id.cast("string")), 32, 1)
    when(nib.isin("c", "d"), "val")
      .when(nib.isin("e", "f"), "test")
      .otherwise("train")
  }

  /** Deterministic train/val/test assignment from the last hex digit of
    * md5(doc_id). Hash-based (not modulo-id) so the split stays unbiased
    * under id clustering, and stable across runs/engines — re-running on
    * a grown corpus never reassigns an existing document. Map-side only. */
  def hashSplit(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), splitAssign(col("doc_id")).as("split"))

  /** [[hashSplit]]'s assignment as a bare column expression — the
    * docstring above says "callers inline it map-side instead of joining
    * against a materialized split table"; this is that inline form
    * (filtering one split, or attaching the column, without a doc_id
    * exchange of the corpus). */
  def splitExpr(id: Column): Column = splitAssign(id)

  /** Exact top-k vocabulary with dense global rank (ties broken by word).
    * groupBy(word) partial-aggregates map-side; orderBy+limit compiles to
    * TakeOrderedAndProject — each task keeps its local top-k, the driver
    * merges k·partitions rows — so no stage ever holds the full vocab
    * sorted. The row_number window then runs over k rows, not the vocab. */
  def vocabTopK(documents: DataFrame, k: Int): DataFrame = {
    val counts = documents
      .select(explode(Funcs.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(k)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("word"))).cast("bigint"))
  }

  /** Per-source document cap: keep at most `k` documents from each source,
    * chosen deterministically by md5(doc_id) order (the same unbiased
    * hash-order the samplers use — "first k by hash" is a uniform sample,
    * ties impossible on distinct ids but doc_id breaks them anyway). The
    * mixture-control primitive for over-represented sources (crawl dumps
    * dwarfing curated sets).
    *
    * Scale shape: the rank-≤-k predicate compiles to WindowGroupLimit
    * (Spark ≥3.5), which keeps a running top-k PER MAP PARTITION before
    * the shuffle — so each source ships at most k·partitions rows to the
    * window sort, not its full document set. A hot source (the 100 TB
    * skew case) is bounded by the same cap; no salting needed because the
    * pre-shuffle limit already collapses the skew. */
  def capPerSource(documents: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** Cluster-capped diversity sampling — [[capPerSource]]'s embedding-space
    * sibling (the DiverseEvol/DataComp curation move): assign every vector
    * to its nearest centroid and keep at most `perCluster` per cluster in
    * deterministic md5(vec_id) order, so over-represented semantic regions
    * (boilerplate clusters, template farms) are capped while the long tail
    * survives intact — a diversity guarantee doc-count sampling cannot
    * give.
    *
    * Scale shape: assignment is [[Similarity.nearestBucket]] — centroids
    * ride as broadcast LITERALS (driver-trained via
    * [[Similarity.trainCentroids]] on a bounded sample, or caller-supplied
    * medoids), so the assignment is pure map-side codegen'd arithmetic,
    * join-free at any corpus size. The cap is one row_number window
    * partitioned by cluster — the same single-shuffle shape as
    * [[capPerSource]]; a cluster is at most corpus-sized only in the
    * degenerate one-cluster case, and `perCluster` bounds what survives. */
  def clusterCapSample(
      embeddings: DataFrame,
      cents: Array[Array[Float]],
      perCluster: Int): DataFrame = {
    require(cents.nonEmpty, "clusterCapSample: no centroids")
    val assigned = embeddings.select(
      col("vec_id"),
      Similarity.nearestBucket(col("embedding"), cents).cast("bigint").as("cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= perCluster)
  }

  /** Token-budget sampling: per source, keep documents in deterministic
    * md5(doc_id) order until the source's token budget fills — "take until
    * full", so a doc is kept iff the tokens BEFORE it are under budget.
    * The mixture-control primitive when targets are token masses rather
    * than doc counts ([[capPerSource]]'s sibling).
    *
    * Scale shape: a naive per-source running total funnels each source
    * through ONE window partition — a hot crawl source becomes a
    * single-task sort at 100 TB. Instead the hash order is exploited
    * two-phase: the first md5 byte buckets each source into 256 slices
    * whose numeric order equals the hash order (bucket is a prefix of the
    * sort key), so (1) a tiny per-(source,bucket) token-total relation —
    * ≤ 256·#sources rows — gets the running total across buckets, and
    * (2) only the ONE bucket per source that straddles the budget needs a
    * row-level running total, over 1/256 of that source. Fully-funded
    * buckets pass through map-side; overspent buckets are filtered
    * map-side. The row-level window never sees a whole source. */
  def sampleToTokenBudget(documents: DataFrame, budgetTokens: Long): DataFrame =
    sampleToBudgetCore(documents, _.withColumn("budget", lit(budgetTokens)))

  /** [[sampleToTokenBudget]] with a PER-SOURCE budget relation
    * (`budgets`: one (source, budget_tokens) row per source — MUST be
    * unique per source; a duplicate budget row would fan the join out
    * and emit its source's docs once per row) — the form a mixture plan
    * actually emits: each domain fills to its OWN target. Budgets join
    * the tiny per-(source, bucket) totals relation (broadcast,
    * ≤ 256·#sources rows), so the corpus-sized flow is untouched; a
    * source absent from `budgets` is dropped entirely (budget 0), which
    * is the right default for a curated mixture. */
  def sampleToTokenBudgets(documents: DataFrame, budgets: DataFrame): DataFrame =
    sampleToBudgetCore(documents,
      _.join(budgets.select(col("source"), col("budget_tokens").as("budget")), Seq("source")))

  /** Shared two-phase core: `withBudget` attaches a `budget` column to the
    * per-(source, bucket) totals relation (constant or per-source join). */
  private def sampleToBudgetCore(documents: DataFrame,
      withBudget: DataFrame => DataFrame): DataFrame = {
    // persisted: the tokenize+hash scan feeds the bucket-totals aggregate
    // AND both union branches — Catalyst does not dedupe common subplans,
    // so without this the corpus is tokenized three times per action
    val base = documents
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"),
        size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
      .transform(Caches.persisted)
    val wb = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketTotals = withBudget(base.groupBy("source", "bucket")
      .agg(sum(col("n_tokens")).as("bucket_toks"))
      .withColumn("bucket_before", coalesce(sum(col("bucket_toks")).over(wb), lit(0L))))
    val joined = base.join(broadcast(bucketTotals), Seq("source", "bucket"))
    val fullyKept = joined
      .filter(col("bucket_before") + col("bucket_toks") <= col("budget"))
    val wr = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = joined
      .filter(col("bucket_before") < col("budget") &&
        col("bucket_before") + col("bucket_toks") > col("budget"))
      .withColumn("within_before", coalesce(sum(col("n_tokens")).over(wr), lit(0L)))
      .filter(col("bucket_before") + col("within_before") < col("budget"))
    fullyKept.select(col("doc_id"), col("source"), col("n_tokens"))
      .union(boundary.select(col("doc_id"), col("source"), col("n_tokens")))
  }

  /** Deterministic global training order + shard assignment: every document
    * gets its 0-based position in md5(doc_id) order (the corpus-wide
    * deterministic shuffle a pretraining run wants — stable across runs,
    * engines, partitionings, and corpus growth never reorders the common
    * prefix of surviving docs) and the shard `pos / shardSize` it lands in.
    *
    * Scale shape: a naive `row_number() OVER (ORDER BY h)` funnels the
    * whole corpus through ONE window partition. Instead the global rank is
    * assembled two-phase from the hash order itself (the same trick as
    * [[sampleToTokenBudget]]): the first md5 byte buckets the corpus into
    * 256 slices whose numeric order equals the hash order (the bucket is a
    * prefix of the sort key), so (1) a 256-row per-bucket count relation
    * gets the running offsets — the only unpartitioned window, over ≤256
    * rows — and (2) each bucket ranks its own 1/256 slice independently
    * under a partitioned window. pos = bucket offset + rank within bucket;
    * the offsets broadcast joins AFTER the rank window, so the bucket
    * exchange runs beside the offsets chain instead of behind it.
    * At 100 TB, widen the prefix (`prefixChars` = 4 → 65 536 slices) to
    * keep each per-bucket sort in one task's memory; the offsets relation
    * stays tiny and broadcasts. Emits (doc_id, pos, shard); the shard
    * writers use [[orderedShards]], which carries the payload columns
    * through the same window instead of joining them back. */
  def globalOrderShards(
      documents: DataFrame,
      shardSize: Long = 100L,
      prefixChars: Int = 2): DataFrame =
    orderedShards(documents.select("doc_id"), shardSize, prefixChars)

  /** [[globalOrderShards]] with every column of `documents` carried
    * through the bucket-partitioned rank window: (doc_id, pos, shard, then
    * the other input columns in input order), positions starting at
    * `posBase` (a store appending after its committed corpus). The payload
    * rides the bucket exchange, so writing ordered shards needs no
    * doc_id join back to the corpus. */
  private[graft] def orderedShards(
      documents: DataFrame,
      shardSize: Long,
      prefixChars: Int = 2,
      posBase: Long = 0L): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 7, "prefix must stay in int range")
    val payload = documents.columns.filter(_ != "doc_id").map(c => col(s"`$c`"))
    val base = documents
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .withColumn("__bucket", conv(substring(col("__h"), 1, prefixChars), 16, 10).cast("int"))
    val wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__offset", coalesce(sum(col("__n")).over(wb), lit(0L)))
      .select("__bucket", "__offset")
    val wr = Window.partitionBy("__bucket").orderBy("__h", "doc_id")
    base.withColumn("__rank", row_number().over(wr))
      .join(broadcast(offsets), Seq("__bucket"))
      .withColumn("pos", (col("__offset") + col("__rank") - 1 + posBase).cast("bigint"))
      .select((Seq(col("doc_id"), col("pos"),
        floor(col("pos") / shardSize).cast("bigint").as("shard")) ++ payload): _*)
  }

  /** Curriculum ordering — [[globalOrderShards]] with a leading curriculum
    * stage: documents are globally ordered by (stage asc, md5(doc_id),
    * doc_id), so stage 0 is seen first and, WITHIN a stage, the order is
    * the same deterministic hash shuffle as the flat pipeline (a
    * length/quality curriculum that still decorrelates neighbors — the
    * short-to-long and clean-to-noisy recipes both reduce to a stage
    * column). Emits (doc_id, stage, pos, shard).
    *
    * Scale shape: the two-phase trick generalizes because (stage, bucket)
    * is a PREFIX of the sort key (stage, h, doc_id) — contiguous groups in
    * the target order. The only unpartitioned window runs over the
    * per-(stage, bucket) count relation (≤ stages × 16^prefixChars rows,
    * never the corpus); each group then ranks its own slice under a
    * partitioned window, and pos = group offset + rank.
    *
    * @param stage small non-negative INT expression (tertile, gate tier,
    *              length band); cardinality is assumed ≪ corpus. */
  def curriculumOrder(
      documents: DataFrame,
      stage: Column,
      shardSize: Long = 100L,
      prefixChars: Int = 2): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 7, "prefix must stay in int range")
    val base = documents.select(col("doc_id"), stage.cast("int").as("stage"),
      md5(col("doc_id").cast("string")).as("h"))
      .withColumn("bucket", conv(substring(col("h"), 1, prefixChars), 16, 10).cast("int"))
    val wb = Window.orderBy("stage", "bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("stage", "bucket").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(wb), lit(0L)))
      .select("stage", "bucket", "offset")
    val wr = Window.partitionBy("stage", "bucket").orderBy("h", "doc_id")
    base.join(broadcast(offsets), Seq("stage", "bucket"))
      .withColumn("pos", (col("offset") + row_number().over(wr) - 1).cast("bigint"))
      .select(col("doc_id"), col("stage").cast("bigint").as("stage"), col("pos"),
        floor(col("pos") / shardSize).cast("bigint").as("shard"))
  }

  /** Materialize the corpus as training shards in the [[globalOrderShards]]
    * order: one parquet directory per shard, rows inside each file sorted
    * by `pos` — the layout a data loader streams sequentially with no
    * further shuffling. `repartition(shard)` puts each shard in exactly
    * one task (shards are budget-sized by construction, so tasks are
    * balanced by design — no skew possible); `sortWithinPartitions` is a
    * spillable per-task sort, never a global one; `partitionBy` prunes
    * reads to the shard ranges a resumed run still needs. */
  def writeTrainingShards(documents: DataFrame, path: String, shardSize: Long = 100L): Unit = {
    orderedShards(documents, shardSize)
      // r18: explicit width — an AQE-coalescible keyed repartition over
      // tiny rows folds to ONE task that creates every shard directory's
      // file serially (file creation is per-output-unit work; the width
      // must follow the directory count, not the byte size). At corpus
      // scale shards ≫ cores, so cluster parallelism is the cap either
      // way; near-empty tasks at toy scale cost ~ms each.
      .repartition(math.max(1,
        documents.sparkSession.sparkContext.defaultParallelism * 2), col("shard"))
      // (shard, pos), not just pos: the partitioned writer REQUIRES rows
      // ordered by the partition column and would inject its own sort —
      // whose tie order is undefined — if the incoming order didn't
      // already satisfy it; with shard leading, the requirement is a
      // satisfied prefix and pos order survives into each file
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
    // manifest: one row per shard (doc/token totals, pos range) written
    // AFTER the shards — a loader plans epochs, token budgets, and resume
    // points against this tiny relation instead of listing or scanning
    // the shard tree (at 100 TB, the listing alone is a job). Computed by
    // reading BACK the written shards (cheaper than re-running the
    // ordering pipeline, and it describes the actual on-disk state);
    // token counts use the same tokenizer as the gates/packing, so
    // manifest budgets agree with the operators structurally.
    documents.sparkSession.read.parquet(path)
      .groupBy(col("shard").cast("bigint").as("shard"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(size(Funcs.tokens(col("text"))).cast("bigint")).as("n_tokens"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /** The shard manifest [[writeTrainingShards]] wrote: (shard, n_docs,
    * n_tokens, min_pos, max_pos), one row per shard. Underscore-prefixed
    * directory, so plain reads of `path` ignore it. */
  def readShardManifest(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema("shard BIGINT, n_docs BIGINT, n_tokens BIGINT, min_pos BIGINT, max_pos BIGINT")
      .parquet(s"$path/_manifest")

  /** Overlapping token-window chunking (the embedding / context-window
    * prep step): each document yields ⌈(n−overlap)/stride⌉ chunks of up to
    * `chunkTokens` tokens, consecutive chunks sharing `overlap` tokens so
    * no semantic boundary is lost to a hard cut; every document yields at
    * least one chunk. stride = chunkTokens − overlap; chunk `i` starts at
    * token i·stride.
    *
    * Scale shape: pure map-side — tokenize, compute the chunk count, one
    * `posexplode` per document, slice per chunk. No shuffle at any scale;
    * output size is corpus_tokens/stride rows, each carrying its own
    * text, which is exactly the fan-out an embedding batch job wants to
    * feed directly from the scan. */
  def chunkDocuments(
      documents: DataFrame,
      chunkTokens: Int = 32,
      overlap: Int = 8): DataFrame = {
    require(overlap >= 0, "negative overlap would silently skip tokens between chunks")
    require(overlap < chunkTokens, "overlap must be smaller than the chunk size")
    val stride = chunkTokens - overlap
    val toks = Funcs.tokens(col("text"))
    val nChunks = greatest(lit(1L),
      ceil((size(toks) - lit(overlap)).cast("double") / stride).cast("bigint"))
    val start = (col("chunk_id") * stride + 1).cast("int")
    documents
      .select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        size(slice(col("toks"), start, lit(chunkTokens))).cast("bigint").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), start, lit(chunkTokens))).as("chunk_text"))
  }

  /** Email / phone patterns kept RE2-compatible (no lookaround, no
    * backrefs) so the identical pattern runs under Java regex here and
    * RE2 in the DuckDB oracle. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  /** PII redaction: replace email / phone-shaped spans with placeholder
    * tokens and count the replacements per document. Map-side regex,
    * one codegen span; at 100 TB this is the shape of any scrub pass
    * (the pattern set is pluggable).
    *
    * Counts mirror the replacement order: emails are counted/redacted on
    * the original text, phones on the email-redacted intermediate — so
    * `n_phones` always equals the number of `<PHONE>` tokens emitted (a
    * phone-shaped span inside a matched email is neither counted nor
    * replaced). */
  def redactPii(documents: DataFrame): DataFrame = {
    val emailRedacted = regexp_replace(col("text"), EmailPattern, "<EMAIL>")
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0))).cast("bigint").as("n_emails"),
      size(regexp_extract_all(emailRedacted, lit(PhonePattern), lit(0))).cast("bigint").as("n_phones"),
      regexp_replace(emailRedacted, PhonePattern, "<PHONE>").as("text_redacted"))
  }

  /** Symmetric int8 quantization per embedding: scale = 127/max|x| (1.0
    * for the zero vector), q_i = round(x_i·scale) ∈ [-127,127]. Emits the
    * scale and the quantized L1 mass — the integrity scalars a pipeline
    * checkpoints — rather than the int8 array itself (engine-portable
    * compare; the array reconstruction is `round(x·scale)`). Pure
    * map-side; the arithmetic is double-precision IEEE on both engines. */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val absMax = aggregate(col("embedding"), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    embeddings
      .withColumn("scale",
        when(absMax > 0.0d, lit(127.0d) / absMax).otherwise(lit(1.0d)))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + abs(round(x.cast("double") * col("scale"))))
          .cast("bigint").as("q_l1"))
  }

  /** One-row corpus summary: doc count, token mass, and exact interpolated
    * token-count percentiles. Exact `percentile` keeps oracle parity and
    * partial-aggregates over the (small) distinct-count domain; a 100 TB
    * run with high-cardinality values would swap in approx_percentile —
    * same plan shape, sketch-mergeable. */
  def corpusStats(documents: DataFrame): DataFrame = {
    val nToks = size(Funcs.tokens(col("text"))).cast("bigint")
    documents
      .select(nToks.as("n_tokens"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        // 6-decimal round on BOTH sides: the two engines may interpolate
        // as a+(b−a)·f vs a·(1−f)+b·f, which can differ by one ulp
        round(percentile(col("n_tokens"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("n_tokens"), lit(0.9)), 6).as("p90_tokens"),
        round(percentile(col("n_tokens"), lit(0.99)), 6).as("p99_tokens"))
  }

  /** Sketch-based corpus summary — [[corpusStats]]' 100 TB path: HLL++
    * distinct counts (`approx_count_distinct`) and t-digest-style
    * percentiles (`approx_percentile`) are one-pass, fixed-memory, and
    * SKETCH-MERGEABLE, so the plan is the same single partial-aggregated
    * reduction at any scale — no exact-percentile distinct-domain
    * assumption. Not oracle-able (sketch internals are engine-specific);
    * accuracy is pinned by a test against the exact aggregates. */
  def corpusStatsApprox(documents: DataFrame, rsd: Double = 0.05): DataFrame = {
    val nToks = size(Funcs.tokens(col("text"))).cast("bigint")
    // doc-grain sketches (one scan, one reduce to a single row)
    val docStats = documents
      .select(col("doc_id"), col("source"), nToks.as("n_tokens"))
      .agg(
        approx_count_distinct(col("doc_id"), rsd).as("n_docs_approx"),
        approx_count_distinct(col("source"), rsd).as("n_sources_approx"),
        percentile_approx(col("n_tokens"), lit(0.5), lit(10000)).as("p50_tokens_approx"),
        percentile_approx(col("n_tokens"), lit(0.99), lit(10000)).as("p99_tokens_approx"))
    // word-grain HLL (its own scan: different grain; still one fixed-memory
    // reduce — never a distinct shuffle of the full vocabulary)
    val vocab = documents
      .select(explode(Funcs.tokens(col("text"))).as("word"))
      .agg(approx_count_distinct(col("word"), rsd).as("n_distinct_words_approx"))
    docStats.crossJoin(vocab) // both sides are single rows
  }

  /** The composed corpus-prep flow: quality gate → exact-dedup keeper
    * join, the minimal end-to-end "clean this corpus" pipeline. The gate
    * is map-side; the keeper set reuses [[Dedup.exact]]'s digest shuffle;
    * the final join is keyed on doc_id (at 100 TB both sides are
    * id-partitioned — no broadcast needed, no skew: ids are unique). */
  def qualityFilterDedup(
      documents: DataFrame,
      minTokens: Long = 5L,
      maxTokens: Long = 10000L): DataFrame = {
    val nToks = size(Funcs.tokens(col("text"))).cast("bigint")
    val gated = documents
      .withColumn("n_tokens", nToks)
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
    val keepers = Dedup.exact(documents).select(col("keep_id").as("doc_id"))
    gated.join(keepers, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"))
  }

  /** The persisted split-tagged gram relation every decontamination
    * entry point probes — ONE definition so the shingle representation
    * (8-byte fused hashes, sortedDistinct per doc) cannot diverge
    * between [[decontaminate]], [[decontaminateBloom]], and
    * [[contaminationReport]], whose results (and shared DuckDB oracle)
    * are defined to agree. */
  private def gramRelation(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), splitAssign(col("doc_id")).as("split"),
        explode(graft.functions.Native.shingleHashes(
          Funcs.tokens(col("text")), n, sortedDistinct = true)).as("gram"))
      .transform(Caches.persisted)

  /** Benchmark decontamination: flag training documents sharing any word
    * n-gram with the (hash-split) test set — the standard pre-training
    * hygiene pass (e.g. GPT-3 appendix C uses 13-gram overlap; the n is a
    * parameter because the right value depends on document length).
    *
    * Scale shape: the gram relation is computed ONCE and persisted (the
    * tokenize+shingle scan is the expensive part; it feeds both the test
    * and train sides). The test-gram probe side is deduped and then
    * joined with a SIZE-GUARDED broadcast: a real benchmark suite is tiny
    * relative to a 100 TB train corpus and broadcasting it keeps train
    * grams in place, but nothing guarantees that — here the "test" split
    * is a 2/16 hash slice of the same corpus — so the broadcast hint is
    * applied only when a cheap upper bound (pre-distinct test-gram row
    * count, map-side over the persisted cache) stays under
    * `broadcastMaxRows`. Above the bound it becomes a shuffle equi-join
    * on `gram` (both sides are already narrow (id, gram) pairs), and AQE
    * may still convert it back to broadcast at runtime from the ACTUAL
    * built size — so the driver never pins an unbounded relation. Output:
    * one row per contaminated train doc with its distinct-gram hit count.
    */
  def decontaminate(
      documents: DataFrame,
      n: Int = 5,
      broadcastMaxRows: Long = 2000000L): DataFrame = {
    // grams ride as 8-byte fused shingle HASHES (Native.ShingleHashes,
    // distinct-sorted per doc): the probe join keys on a long instead of
    // an n-token string — at 100 TB that is the difference between
    // shuffling grams and shuffling fingerprints. Hash-distinct ≡
    // string-distinct modulo ~2⁻⁶⁴ (the DuckDB oracle groups by string
    // and pins the equality).
    val grams = gramRelation(documents, n)
    val testGrams = grams.filter(col("split") === "test").select("gram").distinct()
    // conservative guard: row count BEFORE distinct (no shuffle to compute,
    // never underestimates the broadcast side)
    val testUpperBound = grams.filter(col("split") === "test").count()
    val probe = if (testUpperBound <= broadcastMaxRows) broadcast(testGrams) else testGrams
    grams.filter(col("split") === "train")
      .join(probe, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_hits"))
  }

  /** [[decontaminate]]'s map-side-pruned sibling for the regime where the
    * probe side CANNOT broadcast as an exact relation but the corpus side
    * is enormous: a driver-built Bloom filter over the distinct test-gram
    * hashes (~1.2 bytes/gram at 1% fpp — 10× smaller than the exact
    * long set) prunes the train grams IN THE SCAN STAGE, so the exact
    * verify join only ever shuffles `hits + fpp·|train grams|` rows
    * instead of every train gram. Composed semantics are EXACT — the
    * verify join removes the Bloom's false positives — so this shares
    * [[decontaminate]]'s DuckDB oracle verbatim. At 100 TB: the filter
    * rides the task binary once per executor, the corpus side never
    * shuffles non-candidate grams, and the exact join's shuffle is
    * proportional to contamination, not corpus size. */
  def decontaminateBloom(
      documents: DataFrame,
      n: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    val grams = gramRelation(documents, n)
    val testGrams = grams.filter(col("split") === "test").select("gram").distinct()
      .transform(Caches.persisted)
    val nTest = testGrams.count()
    val filter = testGrams.stat.bloomFilter("gram", math.max(nTest, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    grams.filter(col("split") === "train")
      .filter(graft.functions.Native.bloomContains(bos.toByteArray, col("gram")))
      .join(testGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_hits"))
  }

  /** Per-benchmark-document contamination report — [[decontaminate]]
    * transposed: instead of flagging leaking TRAIN docs, score each
    * TEST-split document by how widely its n-grams appear in the train
    * split (how many distinct train docs overlap it, and how many gram
    * occurrences in total). This is the eval-integrity view an ML team
    * actually reads before trusting a benchmark number: a test doc with
    * hundreds of train-side hits is burned regardless of which train
    * docs get dropped. Same deterministic md5 split and 8-byte fused
    * gram hashes as [[decontaminate]] (hash-distinct ≡ string-distinct
    * modulo ~2⁻⁶⁴; the oracle groups by string and pins the equality).
    *
    * Scale shape: the gram join shuffles hashes keyed by the long
    * fingerprint; the test side is benchmark-sized (tiny vs the corpus)
    * so it broadcasts under the same row-count guard as
    * [[decontaminate]], leaving ONE corpus-side shuffle into the final
    * per-test-doc aggregate. `n_train_docs` is a count-distinct over
    * (test_id, train_id) — Spark plans it as the standard two-phase
    * expand/partial-agg, never a driver-side set. */
  def contaminationReport(
      documents: DataFrame,
      n: Int = 5,
      broadcastMaxRows: Long = 2000000L): DataFrame = {
    val grams = gramRelation(documents, n)
    val testGrams = grams.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("gram"))
    val testUpperBound = testGrams.count()
    val probe = if (testUpperBound <= broadcastMaxRows) broadcast(testGrams) else testGrams
    grams.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("gram"))
      .join(probe, Seq("gram"))
      .groupBy("test_id")
      .agg(
        countDistinct(col("train_id")).cast("bigint").as("n_train_docs"),
        count(lit(1)).cast("bigint").as("n_gram_hits"))
      .withColumnRenamed("test_id", "doc_id")
  }

  /** Near-dup-level decontamination — [[decontaminate]]'s fuzzy sibling:
    * flag train-split documents that are a MinHash-LSH NEAR-duplicate
    * (exact-Jaccard ≥ `threshold`) of any test-split document, catching
    * paraphrased / lightly-edited leaks whose exact n-grams differ. Same
    * deterministic md5 split rule as [[decontaminate]]; candidate
    * generation and verification are [[Dedup.crossNearDup]] (tiny test
    * side broadcasts; either-side-hot buckets degrade to representative
    * pairing — see its scaladoc). Output: one row per contaminated train
    * doc with its count of distinct near-dup test docs. */
  def decontaminateNearDup(
      documents: DataFrame,
      threshold: Double = 0.8,
      shingleLen: Int = 3,
      maxBucketSize: Int = 64): DataFrame = {
    val withSplit = documents.select(
      col("doc_id"), col("text"), splitAssign(col("doc_id")).as("split"))
    val train = withSplit.filter(col("split") === "train").select("doc_id", "text")
    val test = withSplit.filter(col("split") === "test").select("doc_id", "text")
    Dedup.crossNearDup(train, test, shingleLen = shingleLen,
      threshold = threshold, maxBucketSize = maxBucketSize)
      .groupBy("id_a").agg(count(lit(1)).cast("bigint").as("n_hits"))
      .withColumnRenamed("id_a", "doc_id")
  }

  /** The uniform-[0,1) value behind deterministic sampling: the first 4
    * hex digits of md5(id) as an integer over 65536. Uses the OPPOSITE end
    * of the digest from [[splitAssign]]'s last digit, so sampling is
    * independent of split membership. */
  private def hashFraction(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("double") / 65536.0d

  /** Deterministic Bernoulli sample: keep a row iff hashFraction(doc_id)
    * < p. Unlike `df.sample()` (partition-order-dependent RNG), the kept
    * set is a pure function of ids — reproducible across runs, engines,
    * partitionings, and corpus growth. Map-side filter; at 100 TB it
    * fuses into the scan with nothing shuffled. */
  def bernoulliSample(documents: DataFrame, p: Double): DataFrame =
    documents
      .filter(hashFraction(col("doc_id")) < p)
      .select(col("doc_id"), col("source"), col("lang"))

  /** Per-stratum deterministic sampling: each `source` gets its own keep
    * rate (training mixtures up-sample curated sources, down-sample
    * crawl). Same hash-fraction rule as [[bernoulliSample]]; the
    * per-stratum rate is a broadcast-free CASE expression, so this too is
    * a pure map-side filter. */
  def stratifiedSample(
      documents: DataFrame,
      fractions: Map[String, Double],
      defaultFraction: Double): DataFrame = {
    val rate = fractions.foldLeft(lit(defaultFraction)) { case (acc, (src, p)) =>
      when(col("source") === src, p).otherwise(acc)
    }
    documents
      .filter(hashFraction(col("doc_id")) < rate)
      .select(col("doc_id"), col("source"), col("lang"))
  }

  /** Concat-and-split sequence packing (the GPT-style pretraining layout):
    * documents are laid end-to-end in a deterministic order and cut into
    * fixed token-budget sequences; each document is assigned the sequence
    * where it STARTS, at its token offset within that sequence.
    *
    * Scale shape: a single global order would funnel the corpus through
    * one window partition, so the corpus is first split into `numBuckets`
    * independent streams (id mod buckets — deterministic and
    * engine-portable); the running-total window partitions by bucket. At
    * 100 TB, numBuckets scales with the cluster (each bucket packs
    * independently; sequences never straddle buckets). */
  def packSequences(
      documents: DataFrame,
      budgetTokens: Long = 512L,
      numBuckets: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"),
        size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"),
        (col("doc_id") % numBuckets).as("bucket"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("bucket"),
        floor(col("cum_before") / budgetTokens).cast("bigint").as("seq_id"),
        (col("cum_before") % budgetTokens).as("tok_offset"))
  }

  /** Packing-efficiency report over the [[packSequences]] layout: per
    * bucket, how many fixed-budget sequences the concat-and-split packing
    * produces (`n_seqs` = ⌈tokens/budget⌉ — contiguous cuts waste only the
    * final partial sequence), the fill fraction of the allocated capacity,
    * and how many documents straddle a sequence boundary (`n_split_docs` —
    * the attention-contamination/truncation cost a packing run monitors;
    * a doc splits iff its in-sequence start offset + length overruns the
    * budget).
    *
    * Scale shape: the running total reuses [[packSequences]]'s per-bucket
    * window (never a global one); the report itself is a partial-agg'd
    * groupBy to numBuckets rows. `fill_frac` is one IEEE division of two
    * exact BIGINTs — deterministic across engines. */
  def packingReport(
      documents: DataFrame,
      budgetTokens: Long = 512L,
      numBuckets: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = documents
      .select(col("doc_id"),
        size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"),
        (col("doc_id") % numBuckets).as("bucket"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("split",
        ((col("cum_before") % budgetTokens) + col("n_tokens") > budgetTokens)
          .cast("bigint"))
    val nSeqs = (col("total_tokens") + lit(budgetTokens - 1)).divide(lit(budgetTokens))
    packed.groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("split")).as("n_split_docs"))
      .select(col("bucket"), col("n_docs"), col("total_tokens"),
        floor(nSeqs).cast("bigint").as("n_seqs"),
        (col("total_tokens").cast("double") /
          (floor(nSeqs) * budgetTokens).cast("double")).as("fill_frac"),
        col("n_split_docs"))
  }

  /** Hierarchical corpus report: doc/token totals per (source, lang), per
    * source, and corpus-wide in ONE pass — `rollup` compiles to a single
    * Expand + partial-aggregated groupBy, so the three granularities cost
    * one shuffle of (grouping-key, partial-sum) rows, not three scans.
    * Subtotal rows mark the rolled-up level with 'ALL' (the data columns
    * are non-null by contract, so the marker is unambiguous). The shape a
    * 100 TB corpus dashboard materializes nightly. */
  def corpusReport(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), col("lang"),
        size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("total_tokens"))

  /** Domain-mixture weights: per-source token share and the up/down-
    * sampling weight that would flatten the mixture to uniform (the
    * degenerate target; a real run feeds its own target shares — the
    * plan shape is identical). One partial-aggregated groupBy to ~#sources
    * rows; the global-total windows then run over that tiny relation, not
    * the corpus. */
  def mixtureWeights(documents: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val share = col("total_tokens").cast("double") / sum(col("total_tokens")).over(all).cast("double")
    documents
      .select(col("source"), size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(share, 6).as("token_share"),
        round((lit(1.0d) / count(lit(1)).over(all).cast("double")) / share, 6).as("weight"))
  }

  /** Temperature-scaled domain mixture (the multilingual-LM / Gopher
    * sampling-weight recipe): sampling weight qᵢ ∝ pᵢ^α where pᵢ is the
    * domain's token share — α < 1 flattens the mixture toward uniform
    * (up-samples small domains), α = 1 is proportional, α > 1 sharpens.
    *
    * Determinism note: the α-power normalizer Σⱼ pⱼ^α is a sum of
    * DOUBLES, and float addition is order-sensitive in the last ulp —
    * so it is folded over the source-sorted list (both engines sum in
    * the identical order), never a partition-order aggregate. The
    * relation is domain-sized (tiny) by the time any double math runs;
    * everything corpus-sized is exact BIGINT token counting. */
  def temperatureMixture(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val all = Window.partitionBy()
    // persisted: the domain-sized aggregate feeds both the denominator
    // fold and the final select — without it the corpus-wide tokenize
    // scan underneath runs twice per action (the relation itself is
    // #sources rows, so the cache is a few KB)
    val bySrc = documents
      .select(col("source"), size(Funcs.tokens(col("text"))).cast("bigint").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("share",
        col("total_tokens").cast("double") / sum(col("total_tokens")).over(all).cast("double"))
      .withColumn("pa", pow(col("share"), lit(alpha)))
      .transform(Caches.persisted)
    val denom = bySrc.agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("source"), col("pa")))),
          x => x.getField("pa")),
        lit(0.0d), (acc, x) => acc + x).as("denom"))
    bySrc.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(col("share"), 6).as("token_share"),
        round(col("pa") / col("denom"), 6).as("weight"))
  }

  /** Epoch plan for a token budget (the data-constrained-scaling
    * bookkeeping, Muennighoff et al. 2023): given the
    * [[temperatureMixture]] sampling weights, each domain's token
    * allocation is `weight × budget` and its epoch count is
    * allocation ÷ available tokens — epochs > 1 mean the domain REPEATS
    * (the paper's regime: up to ~4 epochs repay like fresh data),
    * epochs < 1 mean subsampling. Pure domain-sized arithmetic on top of
    * the mixture relation — nothing corpus-sized runs here. Emits
    * (source, total_tokens, weight, target_tokens, epochs). */
  def epochPlan(documents: DataFrame, budgetTokens: Long, alpha: Double = 0.5): DataFrame =
    temperatureMixture(documents, alpha)
      .select(col("source"), col("total_tokens"), col("weight"),
        round(col("weight") * budgetTokens).cast("bigint").as("target_tokens"))
      .withColumn("epochs",
        round(col("target_tokens").cast("double") / col("total_tokens").cast("double"), 6))

  /** Threshold calibration sweep — the selection-ablation table a
    * score-based filter is tuned from (the DCLM / FineWeb-Edu ablation
    * shape: "what survives at each cutoff"): for every candidate
    * threshold, the documents and token mass kept by `score ≥ t`
    * (`keepBelow` flips to ≤ for lower-is-better scores like
    * perplexity). Thresholds can be tuned offline from this one table
    * without re-running the scorer.
    *
    * Scale shape: ONE aggregate pass — each threshold contributes two
    * conditional sums to a single partial-agg'd reduction, so the corpus
    * is read once and nothing corpus-sized shuffles; the single result
    * row then unpivots map-side to one row per threshold. */
  def thresholdSweep(scored: DataFrame, scoreCol: String, weightCol: String,
      thresholds: Seq[Double], keepBelow: Boolean = false): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: no thresholds")
    def keep(t: Double): Column =
      if (keepBelow) col(scoreCol) <= t else col(scoreCol) >= t
    val aggs =
      count(lit(1)).cast("bigint").as("n_docs") +:
        sum(col(weightCol)).cast("bigint").as("total_w") +:
        thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
          sum(when(keep(t), 1L).otherwise(0L)).cast("bigint").as(s"k_$i"),
          sum(when(keep(t), col(weightCol)).otherwise(0L)).cast("bigint").as(s"w_$i"))
        }
    scored.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(thresholds.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          col(s"k_$i").as("n_keep"),
          round(col(s"k_$i").cast("double") / col("n_docs").cast("double"), 6)
            .as("keep_rate"),
          col(s"w_$i").as("tokens_keep"),
          round(col(s"w_$i").cast("double") / col("total_w").cast("double"), 6)
            .as("token_keep_rate"))
      }: _*)).as("r"))
      .select(col("r.threshold").as("threshold"), col("r.n_keep").as("n_keep"),
        col("r.keep_rate").as("keep_rate"), col("r.tokens_keep").as("tokens_keep"),
        col("r.token_keep_rate").as("token_keep_rate"))
  }

  /** Mixture MATERIALIZATION — the step [[epochPlan]] stops short of:
    * turn the per-domain token targets into an actual sampled corpus by
    * filling each source to its own target in deterministic md5 order
    * ([[sampleToTokenBudgets]]). A domain whose target exceeds its
    * available tokens keeps everything (its epochs > 1 repetition is the
    * LOADER's job — materializing duplicate rows here would break every
    * downstream dedup invariant, so this emits each kept doc once).
    *
    * Scale shape: the plan side is domain-sized arithmetic; the corpus
    * side is the two-phase bucketed sampler — two corpus scans total
    * (one tokenize+aggregate for the mixture, one tokenize+hash for the
    * sampler), both map-side before tiny keyed shuffles. */
  def materializeMixture(documents: DataFrame, budgetTokens: Long,
      alpha: Double = 0.5): DataFrame =
    sampleToTokenBudgets(documents,
      epochPlan(documents, budgetTokens, alpha)
        .select(col("source"), col("target_tokens").as("budget_tokens")))

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4, the denoising
    * objective's sample constructor): each token is masked by a
    * deterministic hash draw — md5(doc_id:pos) mod 100 < `ratePercent`,
    * md5 so the DuckDB oracle replays the draw bit-exactly — and each
    * maximal RUN of masked tokens becomes one sentinel: the input keeps
    * unmasked text with `<extra_id_k>` standing in for span k, the
    * target lists each sentinel followed by the span's tokens and ends
    * with the closing sentinel `<extra_id_n>` (the T5 convention; an
    * uncorrupted document's target is just `<extra_id_0>`).
    *
    * Scale shape: entirely map-side, one native pass per document
    * ([[graft.functions.Native.SpanCorrupt]]) — no shuffle at any
    * scale. The declarative higher-order-`aggregate` twin
    * ([[spanCorruptDeclarative]]) is kept because it SPECIFIES the fold
    * (and the test pins the native loop to it), but it copies its
    * accumulator arrays on every append — O(n²) per document, quadratic
    * on long documents — so the native loop is the production path.
    *
    * Emits (doc_id, n_tokens, n_masked, n_spans, input_text,
    * target_text). */
  def spanCorrupt(documents: DataFrame, ratePercent: Int = 15): DataFrame = {
    require(ratePercent >= 0 && ratePercent <= 100, "ratePercent must be in [0,100]")
    val toks = Funcs.tokens(col("text"))
    documents
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"),
        Native.spanCorrupt(toks, col("doc_id").cast("long"), ratePercent).as("f"))
      .select(col("doc_id"), col("n_tokens"),
        col("f.n_masked").as("n_masked"),
        col("f.n_spans").as("n_spans"),
        col("f.input_text").as("input_text"),
        col("f.target_text").as("target_text"))
  }

  /** The declarative specification of [[spanCorrupt]] (higher-order
    * `aggregate` fold) — test-only twin; see the scale note above. */
  private[graft] def spanCorruptDeclarative(documents: DataFrame, ratePercent: Int = 15): DataFrame = {
    require(ratePercent >= 0 && ratePercent <= 100, "ratePercent must be in [0,100]")
    val toks = Funcs.tokens(col("text"))
    def masked(i: Column): Column =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), i.cast("string"))
        .cast("binary")), 1, 4), 16, 10).cast("int") % 100 < ratePercent
    def sent(k: Column): Column = concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    val idx = transform(toks, (t, i) => struct(t.as("tok"), masked(i).as("mk")))
    val init = struct(lit(0).as("k"), lit(false).as("prev"),
      array().cast("array<string>").as("inp"), array().cast("array<string>").as("tgt"))
    val folded = aggregate(idx, init, (acc, x) => {
      val mk = x.getField("mk")
      val tok = x.getField("tok")
      val isStart = mk && !acc.getField("prev")
      val k2 = when(isStart, acc.getField("k") + 1).otherwise(acc.getField("k"))
      val inp2 = when(!mk, concat(acc.getField("inp"), array(tok)))
        .when(isStart, concat(acc.getField("inp"), array(sent(acc.getField("k")))))
        .otherwise(acc.getField("inp"))
      val tgt2 = when(isStart, concat(acc.getField("tgt"), array(sent(acc.getField("k")), tok)))
        .when(mk, concat(acc.getField("tgt"), array(tok)))
        .otherwise(acc.getField("tgt"))
      struct(k2.as("k"), mk.as("prev"), inp2.as("inp"), tgt2.as("tgt"))
    })
    documents
      .select(col("doc_id"), size(toks).cast("bigint").as("n_tokens"), folded.as("f"))
      .select(col("doc_id"), col("n_tokens"),
        (size(col("f.tgt")) - col("f.k")).cast("bigint").as("n_masked"),
        col("f.k").cast("bigint").as("n_spans"),
        concat_ws(" ", col("f.inp")).as("input_text"),
        concat_ws(" ", concat(col("f.tgt"), array(sent(col("f.k"))))).as("target_text"))
  }
}
