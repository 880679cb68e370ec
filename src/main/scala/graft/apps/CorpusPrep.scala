package graft.apps

import graft.Tables
import graft.operators.{Dedup, Pipeline, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end corpus-preparation DAG — the "user of the
  * library" flow a pretraining data team runs nightly, chaining the
  * north-star operators in their production order:
  *
  *   ingest → normalize → quality gate (Gopher rules) → duplicated-span
  *   cut (corpus-first occurrence kept) → exact dedup → near-dup
  *   canonicalization → decontaminate vs the held-out split →
  *   train/val/test split → sequence packing → shard write
  *
  * Every stage is the already-tested operator; this object only wires
  * them, so the scale properties (map-side gates, digest-keyed dedup,
  * skew-guarded pair joins, bucketed packing, shard-pruned writes)
  * compose unchanged. Intermediate relations that feed multiple stages
  * are reused as DataFrames — Catalyst sees one DAG and the exact-dedup
  * scan, for instance, is shared rather than recomputed.
  */
object CorpusPrep {

  /** Per-stage row counts, returned for observability (the driver-side
    * numbers a pipeline run logs/alerts on). */
  case class Report(
      ingested: Long,
      qualityKept: Long,
      spanKept: Long, //        after duplicated-span cut + re-gate
      exactKept: Long,
      nearDupKept: Long,
      decontaminated: Long, // survivors of decontamination, pre-split
      trainRows: Long, //       … of which assigned to the train split
      shardsWritten: Long)

  /** Run the full prep over `documents`, writing train shards to
    * `outDir`. Returns the per-stage report. Thresholds are the operator
    * defaults scaled for the tiny synthetic corpus; a production run
    * passes its own.
    *
    * @param gate the quality gate applied to the normalized corpus —
    *             any `DataFrame => DataFrame` that filters rows (e.g.
    *             `d => d.join(TextAnalysis.gopherFilter(d).filter(col(
    *             "keep") === 1).select("doc_id"), Seq("doc_id"))` for the
    *             Gopher composite on a prose corpus). Defaults to the
    *             token-count gate in [minTokens, maxTokens] — the
    *             synthetic fixture would fail Gopher's stopword rule.
    * @param pre  raw-ingest extraction applied BEFORE normalization — the
    *             hook for format conversion and line-level cleaning on
    *             crawl data. Must return a frame with the same (doc_id,
    *             text, …) shape. E.g. HTML extraction + C4 line rules +
    *             corpus line dedup:
    *             `d => Dedup.lineDedup(d.drop("text").join(
    *             TextAnalysis.stripHtml(d).select(col("doc_id"),
    *             col("text_plain").as("text")), Seq("doc_id")))
    *             .select(col("doc_id"), col("text_clean").as("text"))`.
    *             Defaults to identity (the synthetic fixture is already
    *             plain text). */
  def run(spark: SparkSession, documents: DataFrame, outDir: String,
      minTokens: Long = 5L, maxTokens: Long = 10000L,
      jaccard: Double = 0.8, ngram: Int = 3, contamN: Int = 8,
      spanN: Int = 8, shardSize: Long = 64L,
      gate: Option[DataFrame => DataFrame] = None,
      pre: Option[DataFrame => DataFrame] = None): Report = {
    val raw = pre.map(f => f(documents)).getOrElse(documents)
    val ingested = raw.count()

    // 1. normalize text once; all downstream stages read the normal form.
    //    In-place column rewrite (TextAnalysis.normExpr) — attaching the
    //    normalizeText projection by self-join on doc_id planned a full
    //    doc_id exchange of both sides plus a join for a per-row rewrite
    //    (guide §2.4: remove shuffles outright).
    val normed = raw.withColumn("text", TextAnalysis.normExpr(col("text")))

    // 2. quality gate (map-side; pluggable via `gate` — default is the
    //    token-count gate, the Gopher composite being the documented
    //    alternative for prose corpora).
    //    Persisted: every later stage (dedup scans, decontamination grams,
    //    packing) reads the gated corpus — without it each per-stage count
    //    action re-runs the ingest+normalize scan.
    //    Tokenized via Funcs.tokens — the SAME tokenizer every composed
    //    operator uses, so the gate's token count agrees with packing /
    //    decontamination structurally, not just post-normalization.
    val nToks = size(graft.functions.Funcs.tokens(col("text"))).cast("bigint")
    val lengthGate: DataFrame => DataFrame =
      _.filter(nToks >= minTokens && nToks <= maxTokens)
    val gated = gate.getOrElse(lengthGate)(normed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qualityKept = gated.count()

    // 2.5 cut corpus-duplicated spans (keep the corpus-first occurrence
    //     — the Lee-et-al substring-dedup treatment, run BEFORE document
    //     dedup so excerpt-boilerplate collapses make later stages bite),
    //     then re-apply the token floor: a doc cut below minTokens drops
    val cleaned = gated
      .join(Dedup.removeDuplicatedSpans(gated, n = spanN)
        .select(col("doc_id"), col("text_clean"), col("n_kept")), Seq("doc_id"))
      .filter(col("n_kept") >= minTokens)
      .drop("text", "n_kept").withColumnRenamed("text_clean", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spanKept = cleaned.count()

    // 3. exact dedup: keep the digest keepers
    val keepers = Dedup.exact(cleaned).select(col("keep_id").as("doc_id"))
    val exact = cleaned.join(keepers, Seq("doc_id"))
    val exactKept = exact.count()

    // 4. near-dup canonicalization: keep one doc per component
    val nearKept = exact.join(
      Dedup.dedupComponents(exact, n = ngram, threshold = jaccard)
        .filter(col("is_keeper") === 1).select("doc_id"),
      Seq("doc_id"))
    val nearDupKept = nearKept.count()

    // 5. decontaminate: drop train docs sharing an n-gram with the
    //    held-out split, then 6. assign splits. The report counts the
    //    decontamination survivors BEFORE the split filter so each stage
    //    measures exactly one drop (contamination loss vs val/test
    //    removal), then trainRows measures the split.
    val contaminated = Pipeline.decontaminate(nearKept, n = contamN).select("doc_id")
    // split attached in place (Pipeline.splitExpr) — the hashSplit
    // projection join cost a doc_id exchange of the corpus per run for a
    // per-row hash rule
    val assigned = nearKept.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("split", Pipeline.splitExpr(col("doc_id")))
    val decontaminated = assigned.count()
    val clean = assigned.filter(col("split") === "train").drop("split")

    // 7. pack into fixed token-budget sequences (metadata columns ride
    //    along with the shard write for the loader)
    val packed = clean.join(Pipeline.packSequences(clean), Seq("doc_id"))
    val trainRows = packed.count()

    // 8. shard write in deterministic global order; the report's shard
    //    count comes from the manifest (one row per shard), not a rescan
    //    of the corpus it just wrote
    Pipeline.writeTrainingShards(packed, outDir, shardSize)
    val shardsWritten = Pipeline.readShardManifest(spark, outDir).count()

    gated.unpersist()
    cleaned.unpersist()
    // release the sketch relations the composed operators registered
    // (span grams, LSH bands, decontaminate grams — see operators.Caches):
    // every count above is materialized, so nothing re-reads them
    Dedup.releaseCaches(spark)
    Report(ingested, qualityKept, spanKept, exactKept, nearDupKept,
      decontaminated, trainRows, shardsWritten)
  }

  /** Per-batch counts of one [[runIncremental]] invocation. */
  case class IncrementalReport(
      batchRows: Long, //    rows in the incoming batch
      gated: Long, //        after normalize + length gate
      novelExact: Long, //   new content fingerprints (in-batch + vs store)
      accepted: Long, //     after signature near-dup vs the store
      totalStored: Long) //  cumulative corpus rows after this batch

  /** Committed, non-superseded batch directories — the only state any
    * store reader sees. A committed compaction directory lists the
    * source directories it replaced in its `_COMPACTED_FROM` manifest;
    * those are excluded here even if still on disk, which is what makes
    * [[compactStore]]'s commit atomic (deleting sources afterwards is
    * mere garbage collection). */
  private def committedBatches(spark: SparkSession, storeDir: String): Seq[String] =
    graft.sources.BatchStore.committedDirs(spark, storeDir)

  /** Union-read relation `name` across the given batch dirs with an
    * explicit schema; empty DataFrame when no dir carries it. */
  private def readStoreIn(spark: SparkSession, dirs: Seq[String],
      name: String, ddl: String): DataFrame =
    graft.sources.BatchStore.readRelation(spark, dirs, name, ddl)

  /** Continuous ingestion: a file-watching stream over `inDir` (JSONL
    * drops) drives [[runIncremental]] once per micro-batch via
    * foreachBatch — Structured Streaming supplies file discovery,
    * checkpointed batch tracking and restart semantics, while the
    * store's own `_COMMIT` protocol makes each application atomic AND
    * content-idempotent (a micro-batch replayed after a crash between
    * store commit and checkpoint advance lands on its existing
    * content-hash batch id — the pinned replay-no-op property — so the
    * at-least-once overlap the two logs can disagree about is
    * harmless). Micro-batches persist across [[runIncremental]]'s
    * several actions instead of re-reading source files per action.
    * Returns the started query; the caller owns its lifecycle — pass
    * `Trigger.AvailableNow()` for drain-and-stop ingest cadence or the
    * default continuous micro-batching for a live feed. */
  def streamIncremental(spark: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType, storeDir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      minTokens: Long = 5L, maxTokens: Long = 10000L,
      shardSize: Long = 64L,
      nearDupJaccard: Double = 0.8,
      lineLevelDedup: Boolean = false,
      pre: Option[DataFrame => DataFrame] = None): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (batch.count() > 0) {
            runIncremental(spark, batch, storeDir, minTokens, maxTokens,
              shardSize, nearDupJaccard, lineLevelDedup, pre)
            ()
          }
        } finally { batch.unpersist(); () }
      }
      .start()

  /** The corpus-GROWTH flow: ingest one new batch against a persistent
    * store without rescanning the accepted corpus —
    *
    *   normalize → gate → [[Dedup.exactIncremental]] (digest vs the
    *   (fp, keep_id) store) → SimHash-signature near-dup vs the signature
    *   store (the same online rule as `StreamOps.streamingNearDup`; full
    *   pair-verified canonicalization stays a periodic batch job — the
    *   documented online/offline recall split) → banded-minhash near-dup
    *   vs the `mh` store → append to train shards.
    *
    * Store layout under `storeDir`: `batches/b_<batchId>/{shards,fp,sig,
    * mh,attrs,meta,lfp}` plus an empty `_COMMIT` marker written LAST — one
    * directory per ingested batch holding that batch's accepted content
    * fingerprints (`fp`), simhash signatures (`sig`), minhash band keys
    * + signatures (`mh`, the banded near-dup probe), pos-ordered
    * training shards (`shards`), and one accepted-count row (`meta`, so
    * the stored-corpus size is a tiny-relation sum rather than a shard
    * rescan). Readers union only COMMITTED batch directories, which makes
    * the multi-relation append atomic without a transaction log:
    * `batchId` is a deterministic content hash of the batch, so a crash
    * between the writes leaves an uncommitted directory that (a) no
    * reader ever sees and (b) the retry of the same batch OVERWRITES
    * in-place before committing. Replaying an already-committed batch is
    * idempotent by construction — every fingerprint anti-joins away,
    * nothing is written, and the shards are byte-identical (pinned by
    * test). Single-writer by design (like any append-only ingest log);
    * concurrent ingests would need an external lock.
    *
    * New docs take positions `totalStored … totalStored+n-1` — within a
    * batch in the same deterministic md5 order as
    * [[Pipeline.globalOrderShards]], across batches in commit order, so
    * growth never reorders what a resumed loader already streamed.
    *
    * Scale shape: the batch shuffles on digests/signatures only (24
    * bytes/doc); the store sides are narrow columns that AQE broadcasts
    * while small and co-shuffles when grown. Two localCheckpoints precede
    * every store write, so no lineage can re-read a store path
    * mid-append: the novel fingerprints, and ONE row per accepted doc
    * (the gated columns plus simhash, minhash signature and band keys)
    * that every store relation but the shards projects without a
    * shuffle. The report counts are observations on the checkpoints'
    * own actions, so no action runs only to count.
    *
    * @param pre raw-ingest extraction applied to the batch BEFORE the
    *             content-hash batch id, line dedup, and normalization —
    *             the same hook as [[run]]'s `pre` (HTML strip, C4 line
    *             rules); map-side-only transforms keep the per-batch
    *             cost one codegen pass. Identity by default.
    * @param lineLevelDedup dedup batch lines against the committed
    *             `lfp` line-claim store (RefinedWeb ingest), raw-text
    *             side — see the stage comment below. */
  def runIncremental(spark: SparkSession, batch: DataFrame, storeDir: String,
      minTokens: Long = 5L, maxTokens: Long = 10000L,
      shardSize: Long = 64L, nearDupJaccard: Double = 0.8,
      lineLevelDedup: Boolean = false,
      pre: Option[DataFrame => DataFrame] = None): IncrementalReport = {
    import graft.functions.{Funcs, Native}
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedBatches(spark, storeDir)
    def readStore(name: String, ddl: String): DataFrame =
      readStoreIn(spark, committed, name, ddl)
    // r18: the stored-corpus position base depends only on the COMMITTED
    // meta relations — none of this ingest's work — so its collect runs as
    // a concurrent job from the start and is awaited only when the shard
    // writes need it (guide §2.6: actions are sequential only because the
    // driver calls them sequentially). On the action-count-bound protocol
    // path this hides one full plan+schedule cycle per ingest.
    val baseF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
      readStore("meta", "accepted BIGINT")
        .agg(coalesce(sum(col("accepted")), lit(0L))).collect()(0).getLong(0))
    // committed retractions release the claims of removed docs: every
    // probe relation (fp/lfp/sig/mh) anti-joins tombstoned keepers below,
    // so content re-ingested AFTER a takedown is accepted afresh instead
    // of silently deduped against removed text. Skipped on a
    // tombstone-free store so the common-case plan is unchanged. The
    // tombstones are read once, from the `committed` snapshot.
    val tombDirs = graft.sources.BatchStore.dirsWithRelation(spark, committed, "tomb")
    lazy val tombIds = broadcast(readStoreIn(spark, tombDirs, "tomb", "id BIGINT"))
      .select(col("id").as("__tomb_id"))
    def untombed(rel: DataFrame, keeperDocId: org.apache.spark.sql.Column): DataFrame =
      if (tombDirs.isEmpty) rel
      else rel.join(tombIds, keeperDocId === col("__tomb_id"), "left_anti")

    // everything the ingest persists or checkpoints is released on the way
    // out, whether it commits or throws: a long-running ingest stream calls
    // this once per micro-batch and re-runs a failing one, so whatever
    // stayed cached would pile up (the Caches registry included)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      held += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); df }
    def checkpointed(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); checkpoints += c; c }
    try {
      // raw-ingest extraction first, so every store decision (content id,
      // line claims, fingerprints) is over what actually enters the corpus;
      // persisted because the content-hash agg, the line-claim pass, and
      // the survivors join each action it — without the persist an
      // expensive extraction (HTML strip over crawl text) runs per action
      val extracted = pre.map(f => persisted(f(batch))).getOrElse(batch)
      // r17: with no `pre` hook the batch IS the extracted frame, so the
      // report's batch size is the content-id aggregate's count — one
      // fewer action per ingest (each action on this path is a full
      // plan+schedule cycle; the protocol's fixed cost is action count)
      val batchRows = if (pre.isEmpty) -1L else batch.count()
      // deterministic content id: order-independent hash over (doc_id, text)
      // plus the row count — a retry of the same batch lands on the same
      // directory and repairs any crashed partial write by overwriting it.
      // Wrapping SUM, not bit_xor: xor cancels rows repeated an even number
      // of times, so two different all-doubled batches would collide on 0
      // and the later one would be dropped as a replay (the appendIvfIndex
      // fix, applied here for the same structural reason). Only the writes
      // need it, so it runs beside the dedup stages unless it fills `pre`'s cache.
      val idF = java.util.concurrent.CompletableFuture.supplyAsync(() => extracted
        .agg(coalesce(sum(expr("xxhash64(doc_id, text)").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)), count(lit(1)))
        .collect()(0))
      if (extracted ne batch) idF.join()

      // optional line-level dedup vs the accepted-line store (the
      // RefinedWeb ingest treatment, batch-incrementally), on the RAW
      // text — BEFORE normalization, which folds newlines into spaces:
      // batch lines already claimed by ANY committed batch drop,
      // keep-first applies within the batch, and a doc cut to zero lines
      // drops here. The novel line claims are written to the `lfp`
      // relation at commit time, filtered (like the doc fp store) to
      // finally-ACCEPTED docs.
      val (lined, lineNovel) = if (lineLevelDedup) {
        val lfpStore = untombed(readStore("lfp", "fp BIGINT, keep_okey BIGINT"),
          shiftrightunsigned(col("keep_okey"), 32))
        val (cleaned, novel, _) = Dedup.lineDedupIncremental(extracted, lfpStore)
        val survivors = persisted(extracted.drop("text")
          .join(cleaned.filter(col("n_kept") > 0)
            .select(col("doc_id"), col("text_clean").as("text")), Seq("doc_id")))
        (survivors, novel)
      } else (extracted, null)

      // in-place normalization (see run()): the old normalizeText self-join
      // cost a doc_id exchange of both sides per ingest for a per-row rewrite
      val normed = lined.withColumn("text", TextAnalysis.normExpr(col("text")))
      val nToks = size(graft.functions.Funcs.tokens(col("text"))).cast("bigint")
      val gated = persisted(normed.filter(nToks >= minTokens && nToks <= maxTokens))

      // exact dedup vs the fingerprint store (plus first-in-batch keeper),
      // retracted keepers' claims released. The checkpoint's own action also
      // counts the gated rows (observed over the scan of the persisted
      // `gated`, not inside it) and the novel fps.
      val fpStore = untombed(readStore("fp", "fp STRING, keep_id BIGINT"), col("keep_id"))
      val exactNovel = Dedup.exactIncremental(
          gated.observe("graft_ingest_gated", count(lit(1))), fpStore)._1
        .observe("graft_ingest_novel", count(lit(1)))
      val novelFp = checkpointed(exactNovel)
      val gatedCount = observedCount(exactNovel, "graft_ingest_gated", gated)
      val novelExact = observedCount(exactNovel, "graft_ingest_novel", novelFp)
      val novelDocs = gated.join(novelFp.select(col("keep_id").as("doc_id")), Seq("doc_id"))

      // signature near-dup: one sig per novel doc, collapse in-batch by
      // sig (min doc_id keeper), then drop sigs the store has seen — each
      // stored sig carries its keeper so retraction can release the claim
      val sigStore = untombed(readStore("sig", "sig BIGINT, keep_id BIGINT"),
        col("keep_id"))
      val sigCands = novelDocs
        .select(col("doc_id"), Native.simhash(Funcs.tokens(col("text"))).as("sig"))
        .groupBy("sig").agg(min(col("doc_id")).as("doc_id"))
        .join(sigStore, Seq("sig"), "left_anti")

      // banded-minhash near-dup vs the store: the exact-signature stage
      // only collapses docs whose simhash is IDENTICAL (re-encodes,
      // reorderings); a small edit changes the signature and would slip
      // through until the periodic batch pass. Each accepted doc also
      // stores its minhash band keys + signature (append-only, like fp/
      // sig); a candidate colliding with a stored doc on ANY band is
      // verified by the classic signature-agreement Jaccard estimate
      // (matching positions / k) and rejected at ≥ nearDupJaccard. Online
      // recall is the banding S-curve's, not exact — the pair-verified
      // batch canonicalization remains the periodic ground truth (the
      // documented online/offline split).
      val mhStore = untombed(
        readStore("mh", "band INT, bkey BIGINT, sig ARRAY<BIGINT>, keep_id BIGINT"),
        col("keep_id"))
      // one row per candidate doc: every gated column plus the sketches the
      // store relations are written from; `__keep_id` is doc_id again, but
      // nullable like its min() aggregate, as the claim schemas have it
      val cand = gated
        .join(sigCands.select(col("doc_id"), col("doc_id").as("__keep_id"), col("sig").as("__ssig")),
          Seq("doc_id"))
        .withColumn("__msig", Native.minhashFromTokens(Funcs.tokens(col("text")), 3, 16))
        .withColumn("__bkeys", Funcs.lshBandKeys(col("__msig"), 4, 4))
      // rejected ids are batch-bounded, so they broadcast into the anti-join;
      // no distinct — an anti-join ignores build-side duplicates
      val mhRejected = cand
        .select(col("doc_id"), col("__msig"), posexplode(col("__bkeys")).as(Seq("band", "bkey")))
        .join(mhStore, Seq("band", "bkey"))
        .filter(
          aggregate(zip_with(col("__msig"), col("sig"), (a, b) => when(a === b, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / 16.0 >= nearDupJaccard)
        .select("doc_id")
      // the second checkpoint: one row per accepted doc, counted on the way in
      val acceptedRows = cand.join(broadcast(mhRejected), Seq("doc_id"), "left_anti")
        .observe("graft_ingest_accepted", count(lit(1)))
      val accepted = checkpointed(acceptedRows)
      val acceptedCount = observedCount(acceptedRows, "graft_ingest_accepted", accepted)

      // write accepted docs as this batch's shard slice, positions
      // continuing after the stored corpus (batch-internal order = the md5
      // hash order). The stored size comes from the committed META
      // relations (one row per batch), coalesced to 0 over an empty store —
      // NOT a count over the shards: a per-batch full corpus scan is
      // exactly the rescan this operator exists to avoid at 100 TB. The
      // collect has been running concurrently since the top of the ingest
      // (baseF); this is the await.
      val base = baseF.get()
      val idRow = idF.get()
      val extractedRows = idRow.getLong(1)
      val batchId =
        f"${graft.sources.BatchStore.wrap64(idRow.getDecimal(0))}%016x_$extractedRows"
      val batchDir = s"$storeDir/batches/b_$batchId"
      if (acceptedCount > 0) {
        // all relations land in this batch's own (uncommitted) directory in
        // OVERWRITE mode — a retry after a crash replaces any partial state
        // — and the _COMMIT marker goes last, making the whole batch
        // visible to readers atomically
        val ordered = Pipeline.orderedShards(
          accepted.drop("__keep_id", "__ssig", "__msig", "__bkeys"), shardSize, posBase = base)
        // r18: EXPLICIT width on the shard-write shuffle. A keyed
        // repartition with no width is AQE-coalescible, and the shuffled
        // bytes are tiny, so AQE folded the write into ONE task that
        // created every shard directory's parquet file SERIALLY — measured
        // 0.8-0.9 s of a 2.3 s ingest (file creation is real per-task work,
        // the one case where partition count must follow the OUTPUT unit
        // count, not the byte size). One writer task per shard directory,
        // capped at cluster parallelism; each task writes whole shard dirs.
        val nShards = (base + acceptedCount - 1) / shardSize - base / shardSize + 1
        val writeWidth = math.max(1L, math.min(nShards,
          spark.sparkContext.defaultParallelism.toLong * 2)).toInt
        // r17: the relation writes are mutually independent (different
        // directories, inputs all checkpointed upstream), so they run as
        // CONCURRENT jobs (guide §2.6 overlap-independent-jobs) — measured
        // sequentially they cost writes' SUM per ingest while the cluster
        // idles through each tail; concurrently they cost ~the shards write
        // alone. The _COMMIT marker still goes strictly LAST, after every
        // write has returned, so atomicity is untouched.
        import spark.implicits._
        graft.sources.BatchStore.runConcurrently(
          Seq(
            () => ordered
              .repartition(writeWidth, col("shard"))
              .sortWithinPartitions(col("shard"), col("pos"))
              .write.partitionBy("shard").mode("overwrite").parquet(s"$batchDir/shards"),
            () => Seq(acceptedCount).toDF("accepted")
              .coalesce(1).write.mode("overwrite").parquet(s"$batchDir/meta"),
            // only ACCEPTED docs' fingerprints enter the store — it tracks
            // the accepted corpus, so a signature-rejected doc stays
            // re-checkable. An accepted doc is its fp group's keeper, so its
            // own text's fingerprint is the group's.
            () => accepted
              .select(Funcs.fingerprint(col("text")).as("fp"), col("__keep_id").as("keep_id"))
              .write.mode("overwrite").parquet(s"$batchDir/fp"),
            () => accepted.select(col("__ssig").as("sig"), col("__keep_id").as("keep_id"))
              .write.mode("overwrite").parquet(s"$batchDir/sig"),
            () => accepted.select(posexplode(col("__bkeys")).as(Seq("band", "bkey")),
                col("__msig").as("sig"), col("__keep_id").as("keep_id"))
              .write.mode("overwrite").parquet(s"$batchDir/mh"),
            // Dolma-style attributes sidecar: every committed batch persists
            // the attributeReport relation for its ACCEPTED docs (over the
            // normalized text — the exact form that entered the corpus), so
            // the audit sidecar grows with the store, is readable without
            // touching shard text ([[readAttributes]]), and survives
            // [[compactStore]] like fp/sig/mh/lfp. Map-side pass over the
            // accepted batch only.
            () => TextAnalysis.attributeReport(accepted.select(col("doc_id"), col("text")))
              .write.mode("overwrite").parquet(s"$batchDir/attrs")
          ) ++ (if (lineLevelDedup) Seq(
            // the line-fp mirror of the doc-fp rule: only lines claimed by
            // finally-accepted docs enter the store, so a rejected doc's
            // lines stay claimable by a later batch
            () => lineNovel
              .withColumn("doc_id", shiftrightunsigned(col("keep_okey"), 32))
              .join(accepted.select("doc_id"), Seq("doc_id"))
              .select("fp", "keep_okey")
              .write.mode("overwrite").parquet(s"$batchDir/lfp")) else Nil))
        fs.create(new org.apache.hadoop.fs.Path(s"$batchDir/_COMMIT"), true).close()
      }
      IncrementalReport(if (batchRows < 0) extractedRows else batchRows, gatedCount,
        novelExact, acceptedCount, base + acceptedCount)
    } finally {
      checkpoints.foreach(releaseCheckpoint)
      held.foreach(_.unpersist())
      Dedup.releaseCaches(spark)
    }
  }

  /** The count observation `name` collected by the action that ran
    * `observed`, else the row count of `counted`, the materialized relation
    * whose rows it observes. AQE loses an observation that sat in a stage
    * it then replaced by an empty relation: the fp anti-join is pushed
    * below the fp grouping, so on an exact replay (or an all-gated-out
    * batch) the gated scan's whole stage is empty. Counting is exact where
    * a 0 would drop the batch as if nothing had been accepted. */
  private def observedCount(observed: DataFrame, name: String, counted: DataFrame): Long =
    observed.queryExecution.observedMetrics.get(name).map(_.getLong(0))
      .getOrElse(counted.count())

  /** Unpersist a `localCheckpoint`ed Dataset's RDD, which otherwise stays
    * persisted for the life of the session. */
  private def releaseCheckpoint(ds: DataFrame): Unit = ds.queryExecution.logical.foreach {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Retract documents from the store (takedown / robots revocation):
    * appends a committed TOMBSTONE batch ([[graft.sources.BatchStore
    * .appendTombstones]]) whose ids every reader anti-joins from that
    * commit on — [[readShards]], [[readAttributes]], and ALL FOUR claim
    * stores ([[runIncremental]]'s `fp`/`lfp`/`sig`/`mh` probes, each row
    * of which carries its keeper's doc_id for exactly this), so content
    * re-ingested AFTER a retraction is accepted afresh rather than
    * silently deduped against removed text. [[compactStore]] later makes
    * the absence PHYSICAL across shards/attrs/fp/lfp/sig/mh and consumes
    * the tombstones. Retraction is id-sized both ways: the tombstone
    * relation broadcasts into every anti-join, and no reader plan changes
    * shape on a tombstone-free store. Returns false when `docIds` is
    * empty or this exact retraction set is a replay.
    *
    * ID-SUPPRESSION CONTRACT: tombstones filter by doc_id with no notion
    * of time, so a retracted id stays suppressed until the next
    * [[compactStore]] consumes the tombstone — INCLUDING a doc
    * re-ingested under the SAME id in between (it is hidden from readers
    * and physically dropped at that compaction). "Accepted afresh" above
    * therefore means fresh CONTENT: the claim stores release the text's
    * fingerprints so re-ingest is not deduped away, and a feed whose ids
    * are content-derived (ingest assigns new doc_ids per batch) never
    * collides. A feed with STABLE external ids (e.g. URL-hash doc_ids)
    * must compact between a retraction and a same-id re-ingest, or the
    * re-ingest is swallowed. */
  def retract(spark: SparkSession, storeDir: String, docIds: DataFrame): Boolean =
    graft.sources.BatchStore.appendTombstones(spark, storeDir, docIds)

  /** [[retract]] by PREDICATE — the form takedowns actually arrive in
    * ("this domain revoked robots", "urls matching X", "everything we
    * classified language X"): one distributed scan of the stored corpus
    * selects the doc_ids, which land as a normal tombstone batch. The
    * predicate runs over the shard columns (url, source, text, …) JOINED
    * with the attributes sidecar ([[readAttributes]] — pred_lang,
    * gopher_keep, stopword_ratio, …), so quality- and classifier-level
    * takedowns need no extra scan of their own; on a shard-column name
    * collision the shard column wins (the sidecar copy is dropped). The
    * join is doc_id-equi over two already-committed relations and
    * nothing is ever collected to the driver. Returns false when nothing
    * matches. */
  def retractWhere(spark: SparkSession, storeDir: String,
      predicate: org.apache.spark.sql.Column): Boolean = {
    val shards = readShards(spark, storeDir)
    val attrs = readAttributes(spark, storeDir)
    // left join: a doc missing its sidecar row stays retractable by
    // shard predicates (its attrs columns read null)
    val sidecar = attrs.columns
      .filter(c => c != "doc_id" && shards.columns.contains(c))
      .foldLeft(attrs)((d, c) => d.drop(c))
    retract(spark, storeDir, shards.join(sidecar, Seq("doc_id"), "left")
      .filter(predicate).select("doc_id"))
  }

  /** Store inventory — the audit/GC view a store owner reads before
    * compaction or a takedown review: one row per committed,
    * non-superseded batch directory with its kind (data / retraction /
    * compacted), relations present, accepted count (from the tiny meta
    * relation) and retracted-id count. Metadata-only — never touches
    * shard text; a per-directory driver loop is the right shape for a
    * batch LISTING (the directory count is ingest-cadence-bounded and
    * compaction folds it back to one). */
  def describeStore(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    val rows = committedBatches(spark, storeDir).map { d =>
      val name = new org.apache.hadoop.fs.Path(d).getName
      val kind =
        if (name.startsWith("t_")) "retraction"
        else if (name.startsWith("c_")) "compacted"
        else "data"
      val relations = Seq("shards", "fp", "sig", "mh", "lfp", "attrs", "meta", "tomb")
        .filter(r => graft.sources.BatchStore.hasRelation(spark, d, r))
      val accepted =
        if (relations.contains("meta"))
          graft.sources.BatchStore.readRelation(spark, Seq(d), "meta", "accepted BIGINT")
            .agg(coalesce(sum(col("accepted")), lit(0L))).collect()(0).getLong(0)
        else 0L
      val retracted =
        if (relations.contains("tomb"))
          graft.sources.BatchStore.readRelation(spark, Seq(d), "tomb", "id BIGINT").count()
        else 0L
      (name, kind, relations.mkString(","), accepted, retracted)
    }
    rows.toDF("batch", "kind", "relations", "accepted", "retracted")
  }

  /** The store's committed tombstoned doc_ids (empty when none). */
  private def tombstones(spark: SparkSession, storeDir: String): DataFrame =
    graft.sources.BatchStore.readTombstones(spark, storeDir)
      .select(col("id").as("doc_id"))
  private def hasTombstones(spark: SparkSession, storeDir: String): Boolean =
    graft.sources.BatchStore
      .dirsWithRelation(spark, committedBatches(spark, storeDir), "tomb").nonEmpty

  /** The stored corpus as one DataFrame — the union of every COMMITTED,
    * non-superseded batch's shard slice (uncommitted crash leftovers and
    * compacted-away sources are invisible), minus any committed
    * retractions ([[retract]] — the anti-join is id-sized and broadcast,
    * and is skipped entirely on a tombstone-free store so the plan shape
    * is unchanged for the common case). This is the reader every
    * consumer of a [[runIncremental]] store should use; reading
    * `storeDir` recursively would see partial state. */
  def readShards(spark: SparkSession, storeDir: String): DataFrame = {
    val dirs = committedBatches(spark, storeDir)
    val paths = graft.sources.BatchStore.dirsWithRelation(spark, dirs, "shards")
      .map(d => s"$d/shards")
    require(paths.nonEmpty, s"no committed data batches under $storeDir/batches")
    // per-batch reads unioned by name: each batch dir carries its own
    // shard=N partition layout, so a multi-root read would need a common
    // basePath that the b_<id> level breaks. One scan node per batch is
    // fine at an ingest cadence; [[compactStore]] is the periodic pass
    // that folds them back to one.
    val all = paths.map(p => spark.read.parquet(p)).reduce(_.unionByName(_))
    if (hasTombstones(spark, storeDir))
      all.join(tombstones(spark, storeDir), Seq("doc_id"), "left_anti")
    else all
  }

  /** The attributes-sidecar schema ([[TextAnalysis.attributeReport]]'s
    * output shape), pinned so store reads never infer. */
  private val AttrsDdl: String =
    "doc_id BIGINT, n_tokens BIGINT, n_chars BIGINT, mean_word_len DOUBLE, " +
      "stopword_ratio DOUBLE, entropy DOUBLE, pred_lang STRING, " +
      "pred_lang_model STRING, gopher_keep BIGINT, n_badwords BIGINT"

  /** The stored corpus's Dolma-style attribute sidecar — one row per
    * accepted doc, unioned across committed batches, minus committed
    * retractions (the sidecar describes removed text, so it must go with
    * it). Lets audits and threshold tuning run over the tiny attributes
    * relation without ever scanning shard text. */
  def readAttributes(spark: SparkSession, storeDir: String): DataFrame = {
    val attrs = readStoreIn(spark, committedBatches(spark, storeDir), "attrs", AttrsDdl)
    if (hasTombstones(spark, storeDir))
      attrs.join(tombstones(spark, storeDir), Seq("doc_id"), "left_anti")
    else attrs
  }

  /** Fold every committed batch into ONE batch directory — the periodic
    * maintenance pass that keeps [[readShards]] (and the fp/sig/mh probe
    * reads) at one scan node regardless of how many ingest batches have
    * accumulated. Returns the number of source batches folded (0 = store
    * had ≤ 1 active batch; nothing was written).
    *
    * Crash safety uses SUPERSESSION, not ordering: the compacted
    * directory (deterministic name from the sorted source list, so a
    * retry overwrites the same dir) records its sources in a
    * `_COMPACTED_FROM` manifest written before its `_COMMIT`. Readers
    * ([[committedBatches]]) skip any committed directory named by
    * another committed directory's manifest, so the single `_COMMIT`
    * create atomically swaps N sources for their union — there is no
    * window where readers see both or neither. A crash before the commit
    * leaves the originals authoritative; deleting the sources afterwards
    * (`gc = true`) is pure garbage collection that can crash or be
    * skipped with no correctness effect.
    *
    * Positions/shards are copied verbatim (they are already globally
    * assigned and disjoint across batches), re-clustered by shard so the
    * compacted layout is one pos-sorted partition tree. */
  /** Smallest shardSize any writer uses (runIncremental's default) —
    * compaction derives its shard-count BOUND from the position
    * high-water mark with this floor, since shardSize itself is not
    * persisted. A store written with smaller shards merely under-sizes
    * the rewrite width (a perf shading, never correctness). */
  private val ShardSizeFloor = 64L

  def compactStore(spark: SparkSession, storeDir: String, gc: Boolean = true): Int = {
    val all = committedBatches(spark, storeDir)
    // retraction batches fold IN, not alongside: their ids are dropped
    // PHYSICALLY from every doc-keyed relation below and the consumed
    // tombstone dirs are deleted outright (not superseded — a crash
    // between the compacted commit and this GC leaves them active, which
    // merely re-filters ids that are already physically absent)
    val (tombDirs, sources) =
      all.partition(p => graft.sources.BatchStore.hasRelation(spark, p, "tomb"))
    if (sources.isEmpty || (sources.length <= 1 && tombDirs.isEmpty)) return 0
    // same structural broadcast stance as BatchStore.readTombstones: the
    // physical drop below anti-joins an id-sized set into corpus scans
    val tombs = broadcast(graft.sources.BatchStore
      .readRelation(spark, tombDirs, "tomb", "id BIGINT"))
    def drop(rel: DataFrame, keeperDocId: org.apache.spark.sql.Column): DataFrame =
      if (tombDirs.isEmpty) rel
      else rel.join(tombs.select(col("id").as("__tomb_id")),
        keeperDocId === col("__tomb_id"), "left_anti")
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = sources.map(p => new org.apache.hadoop.fs.Path(p).getName).sorted
    val cid = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val dir = s"$storeDir/batches/c_$cid"
    // r17: the per-relation rewrites are mutually independent (disjoint
    // output directories, committed-source inputs), so they run as
    // concurrent jobs (guide §2.6) — the shards re-cluster dominates and
    // the small relations fold in its shadow. `_COMPACTED_FROM` and
    // `_COMMIT` still go strictly after all of them.
    val lfpPresent = sources.exists { p =>
      val path = new org.apache.hadoop.fs.Path(s"$p/lfp")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    // meta stays the CUMULATIVE accepted count even when retractions
    // shrank the corpus: it is the position high-water mark the next
    // batch's `pos` values continue after — positions are never reused,
    // a retraction leaves pos holes (repack via Pipeline materialization
    // if a loader needs density). r18: the collect runs as a concurrent
    // job (it reads only committed meta relations) and the two thunks
    // that need it — the meta write, and the shard re-cluster's width —
    // await it inside the concurrent batch instead of serializing the
    // whole compaction behind it.
    val totalF = java.util.concurrent.CompletableFuture.supplyAsync(() =>
      readStoreIn(spark, sources, "meta", "accepted BIGINT")
        .agg(coalesce(sum(col("accepted")), lit(0L))).collect()(0).getLong(0))
    // r18: explicit width on the shard re-cluster (see runIncremental —
    // the AQE-coalesced keyed repartition serialized ~40 shard-dir file
    // creations into one task: 2.1 s of a 3.2 s compaction). One writer
    // per shard directory, capped at cluster parallelism; the shard
    // count bound comes from the position high-water mark, which ≥ the
    // live shard count by construction.
    def compactWidth = math.max(1L, math.min(
      totalF.get() / math.max(1L, ShardSizeFloor) + 1L,
      spark.sparkContext.defaultParallelism.toLong * 2)).toInt
    import spark.implicits._
    graft.sources.BatchStore.runConcurrently(
      Seq(
        () => drop(sources.map(p => spark.read.parquet(s"$p/shards")).reduce(_.unionByName(_)),
            col("doc_id"))
          .repartition(compactWidth, col("shard"))
          .sortWithinPartitions(col("shard"), col("pos"))
          .write.partitionBy("shard").mode("overwrite").parquet(s"$dir/shards"),
        () => Seq(totalF.get()).toDF("accepted")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta"),
        () => drop(readStoreIn(spark, sources, "fp", "fp STRING, keep_id BIGINT"), col("keep_id"))
          .write.mode("overwrite").parquet(s"$dir/fp"),
        // the near-dup claim relations drop their retracted keepers like
        // fp/lfp do (each row carries keep_id for exactly this); batches
        // written before the keep_id column read it as null, which no
        // tombstone id equals — their claims survive until a periodic batch
        // canonicalization rebuild
        () => drop(readStoreIn(spark, sources, "sig", "sig BIGINT, keep_id BIGINT"),
            col("keep_id"))
          .write.mode("overwrite").parquet(s"$dir/sig"),
        () => drop(readStoreIn(spark, sources, "mh",
            "band INT, bkey BIGINT, sig ARRAY<BIGINT>, keep_id BIGINT"), col("keep_id"))
          .write.mode("overwrite").parquet(s"$dir/mh"),
        // attributes sidecar folds like the probe relations (batches
        // predating the sidecar simply contribute no rows)
        () => drop(readStoreIn(spark, sources, "attrs", AttrsDdl), col("doc_id"))
          .write.mode("overwrite").parquet(s"$dir/attrs")
      ) ++ (if (lfpPresent) Seq(
        // line-claim store: only written when some source batch ran with
        // lineLevelDedup — an empty union writes an empty (but present)
        // relation, which readStoreIn reads back as empty; skipping the
        // write entirely when NO source carries lfp keeps a line-dedup-free
        // store free of the relation
        () => drop(readStoreIn(spark, sources, "lfp", "fp BIGINT, keep_okey BIGINT"),
            shiftrightunsigned(col("keep_okey"), 32))
          .write.mode("overwrite").parquet(s"$dir/lfp")) else Nil))
    val manifest = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_COMPACTED_FROM"), true)
    try manifest.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
    finally manifest.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_COMMIT"), true).close()
    // consumed tombstones always go (their absence is now physical);
    // superseded sources go under the gc flag as before
    tombDirs.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    if (gc) sources.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    sources.length
  }
}

/** CLI: `sbt "runMain graft.apps.CorpusPrepMain /root/testdata/sf0.001 /tmp/out"` */
object CorpusPrepMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/graft-corpus-prep"
    val spark = graft.Sessions.local()
    val report = CorpusPrep.run(spark, Tables.documents(spark, dir), out)
    println(report)
    spark.stop()
  }
}
