package graft.sinks

import java.sql.Timestamp
import java.util.concurrent.ConcurrentSkipListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Sink definitions ≙ the reference's outputs (SURVEY §2.2) plus the
  * interactive-query surface (SURVEY §2.7, `OrderCountTumblingWindow
  * .java:126-145`).
  */
object Sinks {

  /** Kafka sink ≙ `to(topic, Produced.with(...))`
    * (`StreamTableJoinExample.java:172`, `processor/FraudDetectionApp
    * .java:104`). Expects the record envelope (`key`, `value` string
    * columns); requires the public `spark-sql-kafka-0-10` connector and a
    * broker at runtime (absent in the build sandbox — plan-construction
    * only here, the envelope contract is pinned by MemoryStream tests). */
  def toKafka(records: DataFrame, bootstrapServers: String, topic: String,
      checkpointLocation: String): DataStreamWriter[Row] =
    records
      .select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)

  /** Console sink ≙ `foreach(println)` / `print(Printed.toSysOut())`
    * (`WordCountApp.java:64`, `OrderCountTumblingWindow.java:81-82`). */
  def console(df: DataFrame, mode: OutputMode = OutputMode.Update()): DataStreamWriter[Row] =
    df.writeStream.format("console").outputMode(mode)

  /** Memory sink for tests/interactive reads: materializes the stream into
    * an in-memory table named `name` queryable via `spark.table(name)`. */
  def memoryTable(df: DataFrame, name: String, mode: OutputMode = OutputMode.Update()): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  // ---------------------------------------------------------------------
  // Interactive query surface ≙ OrderCountTumblingWindow.java:126-145
  // ---------------------------------------------------------------------

  /** A continuously-upserted window store with point-in-time range reads —
    * the analog of Kafka Streams' `ReadOnlyWindowStore.fetch(key, from,
    * to)` over a live aggregation (`OrderCountTumblingWindow.java:132-144`).
    *
    * The update-mode aggregate's per-trigger delta (exactly the KTable
    * changelog) is upserted keyed by (key, window_start); readers fetch
    * concurrently while the query runs. Here the store is a driver-side
    * map — the same locality as the reference's per-instance RocksDB
    * store. At 100 TB the identical `foreachBatch` contract upserts into
    * a keyed external table (Delta MERGE / key-value store) and `fetch`
    * becomes a range scan on (key, window_start); nothing upstream
    * changes.
    */
  final class WindowCountStore {
    /** Ordered by (key, window_start), so a fetch is one range read of its
      * key's windows, not a scan of every entry. */
    private val store = new ConcurrentSkipListMap[(String, Long), Long](Ordering.Tuple2[String, Long])

    /** Upsert one micro-batch delta: rows of
      * (window_start TIMESTAMP, key STRING, cnt BIGINT). The delta is
      * per-trigger-small (changed keys only), so the collect moves only
      * the changelog, never the full state. */
    def upsert(batch: DataFrame): Unit =
      batch.select(col("key"), col("window_start"), col("cnt")).collect().foreach { r =>
        store.put((r.getString(0), r.getTimestamp(1).getTime), r.getLong(2))
      }

    /** ≙ `windowStore.fetch(key, from, to)` — counts for `key` whose
      * window start lies in [from, to], sorted by window start. */
    def fetch(key: String, from: Timestamp, to: Timestamp): Seq[(Timestamp, Long)] =
      if (from.getTime > to.getTime) Seq.empty
      else store.subMap((key, from.getTime), true, (key, to.getTime), true).asScala.iterator
        .map { case ((_, ws), cnt) => (new Timestamp(ws), cnt) }.toSeq

    /** All materialized (key, window_start, cnt) triples (test surface). */
    def snapshot(): Seq[(String, Timestamp, Long)] =
      store.asScala.iterator.map { case ((k, ws), c) => (k, new Timestamp(ws), c) }.toSeq
  }

  /** Attach a [[WindowCountStore]] to an update-mode windowed aggregate
    * (columns `window_start`, `key`, `cnt`): every trigger's changelog is
    * upserted into the store while the query runs, one trigger per input
    * chunk ([[OneBatchPerChunk]]). Returns the started query; callers own
    * its lifecycle. */
  def interactiveWindowCounts(aggregated: DataFrame, store: WindowCountStore,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    startOneBatchPerChunk(aggregated, trigger) { (batch, _) => store.upsert(batch) }

  /** The SQL confs the window-store sinks start their queries with, so
    * each input chunk runs exactly one micro-batch:
    *  - `noDataMicroBatches.enabled = false`: no watermark-only batch after
    *    a data batch. In update mode that batch emits nothing; it only
    *    evicts windows the watermark has closed. Here a closed window is
    *    evicted at the next data batch instead, which is Kafka Streams'
    *    stream-time behaviour (stream time moves only when a record
    *    arrives), and the reference never runs a batch without input.
    *  - `statefulOperator.allowMultiple = false`: one global watermark per
    *    batch, used both to drop late rows and to evict. With the default
    *    per-operator propagation a batch drops late rows at the PREVIOUS
    *    batch's watermark; without the watermark-only batch in between,
    *    that is the watermark from two chunks back, which would count rows
    *    whose window has already closed (and re-create evicted windows at
    *    a partial count). With the single watermark a row is late iff its
    *    window ends at or before the highest event time of the earlier
    *    chunks: exactly what the default two-batch form produces.
    * The first conf needs the second; `JsonCodecSpec` pins the pair.
    * State stays bounded: after a batch it holds the windows that end after
    * the previous chunks' highest event time, i.e. this chunk's windows
    * plus the one it shares with the chunk before.
    *
    * The confs are captured at `start()`: `StreamExecution` builds its
    * watermark propagator from the session conf and clones the session
    * when the query is created, so the running query keeps these values
    * while the caller's session is restored straight after (see
    * [[startOneBatchPerChunk]]). Append-mode queries keep Spark's defaults:
    * they need the watermark-only batch to emit a closed window.
    *
    * One per-chunk cost remains and is Spark's: each new batch watermark
    * compiles one Janino class, a `SpecificPredicate` over the `window`
    * struct's end (`i.getStruct(0, 2).getLong(1) <= <watermark µs>L`),
    * built in a state task by the watermark predicates of
    * `StateStoreRestoreExec`/`StateStoreSaveExec`. The watermark is inlined
    * as a literal, so the generated-class cache never hits across
    * watermarks: `codegen_compiles` stays 1.0 per steady chunk on the
    * e2ebench `stream_triggers` workload, 6.6–18.4 ms a compile (median
    * 10.1 ms over the 15 batch watermarks of a seed-7 run, 4-core host). */
  private val OneBatchPerChunk = Seq(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.statefulOperator.allowMultiple" -> "false")

  /** Starts `aggregated` in update mode with `upsert` as its
    * `foreachBatch`, under [[OneBatchPerChunk]]. The caller's previous
    * values (or their absence) are restored in a `finally`; the lock keeps
    * two concurrent starts from restoring each other's values. */
  private def startOneBatchPerChunk(aggregated: DataFrame, trigger: Trigger)(
      upsert: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = aggregated.writeStream.outputMode(OutputMode.Update()).trigger(trigger)
      .foreachBatch(upsert)
    val conf = aggregated.sparkSession.conf
    OneBatchPerChunk.synchronized {
      val saved = conf.getAll
      try {
        OneBatchPerChunk.foreach { case (k, v) => conf.set(k, v) }
        writer.start()
      } finally OneBatchPerChunk.foreach { case (k, _) =>
        saved.get(k).fold(conf.unset(k))(conf.set(k, _))
      }
    }
  }

  /** The STORAGE-BACKED realization of [[WindowCountStore]] — the 100 TB
    * story its scaladoc promises, implemented without any external jar:
    * the same per-trigger changelog contract lands in a BUCKET-PARTITIONED
    * parquet table (`bucket = pmod(xxhash64(key), numBuckets)`), so the
    * store's capacity is the filesystem's, not one JVM heap's, and any
    * number of concurrent Spark readers can range-scan it while the
    * stream runs.
    *
    * MERGE strategy is the append-only LSM stance the incremental
    * stores already take ([[graft.sources.BatchStore]]'s design): each
    * micro-batch APPENDS its delta stamped with the foreachBatch
    * `batchId` (monotonic per checkpoint), and reads resolve
    * last-write-wins per (key, window_start) — never an overwrite racing
    * a reader, never a self-referential rewrite. A re-run of a failed
    * batch appends byte-identical rows under the same batch_id, so
    * resolution is retry-idempotent. [[compact]] folds the log when the
    * append chain grows long.
    *
    * Scale shape of [[fetch]]: the bucket predicate is a foldable
    * expression over a literal key, so it reaches the scan as a
    * PartitionFilter (1/numBuckets of files planned, golden-pinned), the
    * key/window predicates push into parquet, and the last-write-wins
    * window runs over one key's rows only. */
  final class ParquetWindowStore(spark: org.apache.spark.sql.SparkSession,
      path: String, numBuckets: Int = 16, retentionMs: Option[Long] = None) {
    require(numBuckets > 0, "ParquetWindowStore: numBuckets must be positive")
    require(retentionMs.forall(_ > 0), "ParquetWindowStore: retentionMs must be positive")
    private val schema = "key STRING, window_start TIMESTAMP, cnt BIGINT, batch_id BIGINT"
    private def bucketOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(xxhash64(key), lit(numBuckets.toLong))

    private def exists(): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    /** Sibling of the store root (NOT inside it — compact() deletes the
      * root), taken atomically by [[compact]] for its whole read→rewrite→
      * delete→rename span. */
    private def lockPath = new org.apache.hadoop.fs.Path(path + "__COMPACT_LOCK")
    private def fileSystem() =
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
    /** The raw append log (with `bucket` and `batch_id`); an unborn store
      * reads as empty rather than failing schema inference. */
    private def raw(): DataFrame =
      if (!exists())
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          org.apache.spark.sql.types.StructType.fromDDL(schema + ", bucket BIGINT"))
      else spark.read.schema(schema + ", bucket BIGINT").parquet(path)

    /** Last-write-wins per (key, window_start): the highest batch_id is
      * the current value (ties are byte-identical retry rows). */
    private def resolve(log: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"), col("window_start"))
        .orderBy(col("batch_id").desc)
      log.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("key"), col("window_start"), col("cnt"))
    }

    /** Writer intent markers — the second flag of the writer/compactor
      * handshake (siblings of the root, like [[lockPath]], because
      * compact() deletes the root). One per in-flight [[upsert]]. */
    private def newIntentPath() = new org.apache.hadoop.fs.Path(
      path + "__WRITE_INTENT." + java.util.UUID.randomUUID().toString)
    private[graft] def liveIntents(): Int = {
      val g = fileSystem().globStatus(
        new org.apache.hadoop.fs.Path(path + "__WRITE_INTENT.*"))
      if (g == null) 0 else g.length
    }

    /** Append one micro-batch delta (key, window_start, cnt) under
      * `batchId`. One writer per bucket directory (no-small-files rule);
      * the delta never joins or reads existing state.
      *
      * Refuses (loudly) while a [[compact]] lock is held, and the refusal
      * is MUTUAL EXCLUSION, not a check-then-act: the writer first drops
      * an intent marker (atomic create of a sibling file), THEN re-checks
      * the lock — while compact() takes its lock first and then refuses
      * if any intent exists. Whatever the interleaving, either the writer
      * observes the lock (created before its re-check) and backs off, or
      * the compactor observes the intent (created before its scan) and
      * backs off — a write that proceeds is never concurrent with a
      * compaction's delete→rename window, so a committed micro-batch can
      * no longer be lost silently mid-write. Throwing makes the streaming
      * engine retry the micro-batch with the same batchId once the lock
      * clears, which last-write-wins resolution absorbs (retry rows are
      * byte-identical). The intent is removed in a finally; a JVM crash
      * mid-write leaves it behind, blocking compaction (not appends)
      * until an operator inspects and deletes it — the same deliberate
      * crashed-holder policy as the compact lock itself. */
    def upsert(batch: DataFrame, batchId: Long): Unit = {
      val fs = fileSystem()
      def refuse(): Nothing = throw new IllegalStateException(
        s"ParquetWindowStore: compact() in progress ($lockPath held) — " +
          "refusing to append; the streaming engine will retry this batch")
      if (fs.exists(lockPath)) refuse() // fast path; the handshake is below
      val intent = newIntentPath()
      fs.create(intent, false).close()
      try {
        // re-check AFTER the intent create: a compactor that took the
        // lock before our intent landed must be visible here (and one
        // that takes it after will see our intent and back off)
        if (fs.exists(lockPath)) refuse()
        batch.select(col("key"), col("window_start"), col("cnt"),
            lit(batchId).as("batch_id"))
          .withColumn("bucket", bucketOf(col("key")))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode("append").parquet(path)
      } finally fs.delete(intent, false)
    }

    /** The resolved current state as a DataFrame — the concurrent-reader
      * surface (any session-side SQL composes over it). */
    def read(): DataFrame = resolve(raw())

    /** ≙ `windowStore.fetch(key, from, to)` over storage: bucket
      * partition-pruned, key/range pushed to parquet, resolved
      * last-write-wins, sorted by window start. */
    def fetch(key: String, from: Timestamp, to: Timestamp): Seq[(Timestamp, Long)] =
      resolve(raw()
        .filter(col("bucket") === bucketOf(lit(key))) // foldable ⇒ PartitionFilter
        .filter(col("key") === key &&
          col("window_start").between(lit(from), lit(to))))
        .orderBy(col("window_start"))
        .collect().map(r => (r.getTimestamp(1), r.getLong(2))).toSeq

    /** The fetch PLAN (test surface for the partition-pruning pin). */
    private[graft] def fetchPlan(key: String, from: Timestamp, to: Timestamp): DataFrame =
      resolve(raw()
        .filter(col("bucket") === bucketOf(lit(key)))
        .filter(col("key") === key &&
          col("window_start").between(lit(from), lit(to))))

    /** Fold the append log: rewrite the resolved state (original
      * batch_ids retained, so later appends still win) into a fresh
      * directory and swap it in. Maintenance op — a reader racing the
      * swap can observe the store momentarily empty (the [[raw]] guard),
      * never a half-merged state.
      *
      * WRITER exclusion is enforced, not just documented: the whole
      * read→rewrite→delete→rename span runs under an atomically-created
      * lock file ([[lockPath]]), and after taking it compact() refuses if
      * any writer INTENT marker exists — the two-flag handshake with
      * [[upsert]] (intent-then-check-lock vs lock-then-check-intents)
      * guarantees one side always observes the other, closing the window
      * where an upsert past its lock check but still mid-write would
      * append a committed micro-batch delta into the doomed old root and
      * lose it silently. A concurrent compact() finding the lock held
      * throws (FileAlreadyExists semantics of `create(…, overwrite =
      * false)`); a rewrite FAILURE releases the lock (the store root is
      * only touched after the rewrite fully succeeds, so it is intact).
      * Two cases deliberately leave the lock HELD for an operator's eye:
      * a JVM crash, and a `delete`/`rename` that REPORTS failure (Hadoop
      * FileSystems commonly return false instead of throwing) — in the
      * latter the store root may already be gone with the compacted data
      * stranded in `__compacting`, and releasing the lock would let
      * appends silently rebuild an empty store. Delete the lock file to
      * release after repairing.
      *
      * RETENTION (when `retentionMs` is set): before the rewrite, windows
      * with `window_start < max(window_start) − retention` are dropped
      * PHYSICALLY — the Kafka Streams window-store contract (windows past
      * retention stop being fetchable; the reference's interactive query
      * only ever reads now−5min..now, reference
      * OrderCountTumblingWindow.java:136-137), with Kafka's own
      * segment-granularity stance: expiry happens at maintenance time
      * (here: compaction), not per read, so [[fetch]] keeps its pruned
      * single-key plan and merely serves whatever is physically present.
      * The horizon keys on observed STREAM time (the max stored window
      * start), never the wall clock — a replayed or paused stream expires
      * nothing spuriously. Size `retentionMs` ≥ windowSize + grace + the
      * query horizon; starts compare against starts, so one store holds
      * one window size, which a per-aggregation store does by
      * construction. Without retention a long-running streaming aggregate
      * grows the store without bound — set it for production streams. */
    def compact(): Unit = {
      if (!exists()) return
      val fs = fileSystem()
      // atomic take: create with overwrite=false fails iff already held
      val lock = try fs.create(lockPath, false) catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"ParquetWindowStore: compact lock $lockPath already held " +
              "(concurrent compact, or a crashed one — inspect and delete to release)", e)
      }
      lock.close()
      var poisoned = false // a reported delete/rename failure keeps the lock
      try {
        val inflight = liveIntents()
        if (inflight > 0)
          throw new IllegalStateException(
            s"ParquetWindowStore: $inflight writer(s) in flight " +
              s"(${path}__WRITE_INTENT.*) — refusing to compact; retry once they drain " +
              "(a marker that never drains is a crashed writer: inspect and delete)")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"), col("window_start"))
          .orderBy(col("batch_id").desc)
        val tmp = path + "__compacting"
        val resolved = spark.read.schema(schema).parquet(path)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("key"), col("window_start"), col("cnt"), col("batch_id"))
        // retention horizon off observed stream time (max stored window
        // start — a single-row agg, driver-bounded by construction). The
        // max is computed over the CACHED resolved frame so the store is
        // scanned once per compaction, not twice (the lock excludes
        // concurrent writers, so both consumers see the same bytes; the
        // resolved max equals the raw max because row_number keeps ≥1 row
        // per (key, window_start) group).
        val retained = retentionMs match {
          case None => resolved
          case Some(r) =>
            resolved.cache()
            val mx = resolved.agg(max(col("window_start"))).collect()(0).getTimestamp(0)
            if (mx == null) resolved
            else resolved.filter(col("window_start") >=
              lit(new Timestamp(mx.getTime - r)))
        }
        try {
          retained
            .withColumn("bucket", bucketOf(col("key")))
            .repartition(col("bucket"))
            .write.partitionBy("bucket").mode("overwrite").parquet(tmp)
        } finally if (retentionMs.isDefined) resolved.unpersist()
        val p = new org.apache.hadoop.fs.Path(path)
        val t = new org.apache.hadoop.fs.Path(tmp)
        if (!fs.delete(p, true)) {
          poisoned = true
          throw new IllegalStateException(
            s"ParquetWindowStore: delete($path) returned false mid-compaction — " +
              s"store state is suspect and the compacted data is in $tmp; " +
              "lock left HELD, repair manually then delete the lock file")
        }
        if (!fs.rename(t, p)) {
          poisoned = true
          throw new IllegalStateException(
            s"ParquetWindowStore: rename($tmp, $path) returned false — the store " +
              s"root is deleted and the compacted data is stranded in $tmp; " +
              "lock left HELD (appends would rebuild an empty store), " +
              "rename manually then delete the lock file")
        }
      } finally if (!poisoned) fs.delete(lockPath, false)
    }
  }

  /** [[interactiveWindowCounts]]' storage-backed twin: identical
    * changelog contract, upserted with the batch id the LSM resolution
    * keys on. Nothing upstream changes — the promise the heap store's
    * scaladoc made, kept. */
  def interactiveWindowCountsParquet(aggregated: DataFrame, store: ParquetWindowStore,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    startOneBatchPerChunk(aggregated, trigger) { (batch, id) => store.upsert(batch, id) }
}
