package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session recipe every harness main shares (Verify, Bench,
  * TimeQuery, the app runners). Hand-rolled copies drifted — one main ran
  * AQE, another didn't — and the next fixture-vintage flag would have to
  * be added N times; session config is load-bearing here (`nanosAsLong`
  * decides how `events.parquet` parses, the UTC pin is what makes the
  * TIMESTAMP_NTZ normalization instant-preserving), so it lives in one
  * place.
  */
object Sessions {
  /** Every `file:` path on [[graft.io.NioLocalFileSystem]] (FileSystem API)
    * and [[graft.io.NioLocalFs]] (FileContext API): the stock local
    * filesystem, with its permission and stat calls made through `java.nio`.
    *
    * Why: without Hadoop's native library (`libhadoop`), the stock local
    * filesystem forks `chmod`, `ls -ld` and `readlink` from the driver JVM
    * for every permission set, status read and `FileContext.rename`. A
    * streaming trigger writes its offset log, state-store deltas, their
    * checksum files and the commit log through that path, each an atomic
    * write (create, then a rename). Measured on a 4-core host from a 3 GB
    * heap, 200-byte files, medians of 200: a checkpoint atomic write 41-52 ms
    * stock vs 0.9-1.4 ms here (FileContext create 8.7-11.2 vs 0.27 ms,
    * `rename(OVERWRITE)` 40-41 vs 0.4-0.5 ms), `FileSystem.create` 9.2-10.3
    * vs 0.16-0.21 ms, a status with its permission 4.9-5.2 vs 0.03 ms. On
    * the streaming benchmark a trigger's offset-log write went 55 → 4 ms,
    * its commit-log write 80 → 4 ms and its state commit 428 → 25 ms.
    * Everything above the raw calls — the `.crc` files, the
    * FileContext-based checkpoint manager with its no-overwrite rename, the
    * v1 committer — is unchanged.
    *
    * Shared with the test session, so the suite runs on the same
    * filesystem. The FileSystem cache is per JVM and keyed by scheme, not
    * by configuration: a process that reads `file:` through Hadoop before
    * building its first session keeps the stock class. */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName)

  /** local[cpus] session with the harness invariants: shuffle parallelism
    * = cpus (not the 200 default), AQE on, UTC session timezone, legacy
    * nanos-as-long parquet reads, fork-free local filesystem ([[localFs]]),
    * native functions registered. */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped as TIMESTAMP(NANOS): read as raw long,
      // normalized in Tables.normalizeEventTime
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r17: constraint propagation OFF. Inner equi-joins on DERIVED keys
      // (the dedup tier joins on sha2(decode(encode(spine))) digests) make
      // InferFiltersFromConstraints synthesize `isnotnull(<derived key>)`
      // and push the WHOLE codec chain below the exchange into the scan
      // stage — every payload decodes TWICE, once of them serialized in
      // the single-split scan task (measured: dedup_audio_mp3 ×3.5, the
      // optimization guide's §4.4 duplicate-evaluation pathology with
      // native expressions in the UDF role). What the inference buys in
      // exchange — early isnotnull pruning on join keys — is ~nothing
      // here (fixture keys are never null) and marginal at table scale
      // (null join keys drop in the join anyway); what it costs scales
      // with payload bytes. Optimizer-only toggle: join semantics and
      // every query result are unchanged.
      .config("spark.sql.constraintPropagation.enabled", "false")
      // r17: size-based AQE coalescing. The default parallelismFirst=true
      // keeps every post-shuffle stage at `cpus` partitions however tiny
      // the data, so a multi-stage sketch query pays 32 near-empty tasks
      // of pure scheduling overhead per exchange (measured: 0.2-0.4 s per
      // stage at sf0.1). Size-first coalescing folds those to the
      // advisory partition size — the optimization guide's §2.2 stance
      // ("size partitions 100 MB-1 GB … let AQE coalesce") — while
      // user-specified repartitions (the codec-tier spreads, the shard
      // writes) keep their explicit widths. At cluster scale the same
      // setting is what sizes reduce partitions by bytes instead of by a
      // core count they outgrew.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // r18: let AQE re-partition CACHED plans too. The default (false)
      // exists to keep a cached relation's output partitioning stable for
      // exchange reuse, but it also DISABLES size-based coalescing inside
      // every persisted subtree — so each Caches.persisted boundary in the
      // multi-stage pipelines materialized `cpus` near-empty in-memory
      // partitions and every downstream action re-scheduled that width
      // (64-task stages after a union at sf0.1, the r17 verdict's
      // pipeline_full_prep_nd anti-scaling: 10.1 s at 32 cores vs 3.3 s at
      // 8). With it true the cache materializes at AQE's size-coalesced
      // width; measured 1.3× on the ND pipeline at 32 cores and scaling
      // ratio restored to ~1.0. At cluster scale the same setting sizes
      // cached partitions by bytes, which is the §2.2 stance; what it
      // forgoes (a downstream join reusing the cache's exchange layout)
      // AQE re-plans anyway.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // r18: file-output commit back to v1 (the Spark default), REVERTING
      // r17's v2. v2 promotes task output at TASK commit, whose documented
      // hazard (SPARK-33019 — why Spark itself reverted the default) is a
      // task failing DURING commit: files can be duplicated or left
      // partial while the job still SUCCEEDS — and in the batch-store
      // protocol the `_COMMIT` marker would then bless the corrupted
      // batch (the r17-advice medium finding). Measured before reverting
      // (guide §1): interleaved v1/v2 A-B on store_retract at sf0.1
      // (2x5 reps each) — warm medians 8.2 s (v1) vs 8.4 s (v2),
      // indistinguishable, because local-FS job-commit renames are
      // microseconds; r17's store-tier win came from the concurrent
      // writes and explicit shard widths, not the committer. At object-
      // store scale neither v1 nor v2 is the answer (manifest committers
      // are); v1 is the safe default everywhere this engine writes.
      // r17: the default 100-entry whole-stage-codegen class cache thrashes
      // under a 180+-query harness — by the time a query's timed reps run,
      // its generated classes (some compiled from multi-thousand-node
      // fixture expression trees at 0.5-1.5 s of Janino each) have been
      // evicted by the other queries' warm-ups, so every rep recompiles
      // what the warm-up pass deliberately paid for once. Sized to hold
      // the whole harness's classes; cost is classloader metadata, not
      // heap at this scale. Static conf — must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Native.register(s)
    s
  }
}
