package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The append-only batch-store protocol: the engine's exactly-once sink,
  * shared by the incremental corpus store (`graft.apps.CorpusPrep`) and the
  * incremental ANN indexes (`graft.operators.Similarity.appendIvfIndex`,
  * `appendIvfPqIndex`). Those owners supply only their relations and
  * rewrites; every protocol decision lives here.
  *
  * Layout: one directory per batch under `<root>/batches/`, one parquet
  * subdirectory per relation, and an empty `_COMMIT` marker written LAST.
  * Atomicity without a transaction log:
  *
  *  - batch ids are deterministic content hashes ([[contentId]]:
  *    `<prefix>_<%016x>_<rows>` over a wrapping sum of per-row xxhash64),
  *    so a crash between relation writes leaves an uncommitted directory
  *    that (a) no reader ever sees and (b) a retry of the same batch
  *    OVERWRITES in place before committing; replay of a committed batch is
  *    a detectable no-op ([[append]] returns false);
  *  - compaction ([[compact]]) SUPERSEDES rather than re-orders: the
  *    compacted directory `c_<md5 of the sorted source names>` records its
  *    source directory names in a `_COMPACTED_FROM` manifest written before
  *    its own `_COMMIT`, and [[committedDirs]] skips any committed
  *    directory named by another committed directory's manifest. The single
  *    `_COMMIT` create atomically swaps N sources for their union; deleting
  *    sources afterwards is mere garbage collection, run deepest first
  *    (what a source superseded in turn goes before the source whose
  *    manifest hides it);
  *  - RETRACTION is a batch kind, not an in-place delete
  *    ([[appendTombstones]]): a takedown lands as a committed
  *    `t_<hash>_<n>` directory whose single `tomb` relation lists the
  *    retracted ids. Readers anti-join the committed tombstones
  *    ([[Snapshot.live]]: id-sized, so a broadcast at any corpus size, and
  *    the identity on a tombstone-free store); compaction drops the
  *    retracted rows PHYSICALLY and then deletes the consumed tombstone
  *    directories outright. A crash between the compacted commit and that
  *    delete leaves them active, which merely re-filters ids that are
  *    already physically absent. Once consumed, the same id set retracts
  *    again as a fresh batch (its content-hash name is free again);
  *  - every reader works from ONE [[Snapshot]] (one listing) for both its
  *    data and its tombstones, so a concurrent commit or compaction can
  *    never pair one state's data with another's tombstone set;
  *  - single-writer by design (an append-only ingest log); concurrent
  *    writers would need an external lock.
  */
object BatchStore {

  /** One relation of a batch: its subdirectory name and its writer. The
    * writer is built when the relation's write starts, so a rewrite may
    * await a driver-side value inside the concurrent batch. */
  private[graft] type Relation = (String, () => DataFrameWriter[Row])

  /** A batch's content id: its directory name and its row count. */
  private[graft] final case class BatchId(name: String, rows: Long)

  /** Fold a decimal(38,0) per-row-hash SUM back to 64 bits (two's-
    * complement wrap). Batch content ids combine per-row xxhash64 values
    * with a wrapping SUM, not bit_xor — xor cancels rows repeated an even
    * number of times, so two different all-doubled batches would collide
    * on 0 and the later append would be silently dropped as a replay.
    * The sum runs as decimal(38,0) because ANSI mode makes a BIGINT sum
    * throw on overflow; BigInteger.longValue keeps the low 64 bits. */
  def wrap64(d: java.math.BigDecimal): Long = d.toBigInteger.longValue

  /** The content id of `rows` over `cols`: order-independent (a wrapping
    * sum of per-row xxhash64, see [[wrap64]]) and row-counted, so a retry
    * of the same batch lands on the same directory. One driver action. */
  private[graft] def contentId(prefix: String, rows: DataFrame, cols: String*): BatchId = {
    val r = rows
      .agg(coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)), count(lit(1)))
      .collect()(0)
    BatchId(f"${prefix}_${wrap64(r.getDecimal(0))}%016x_${r.getLong(1)}", r.getLong(1))
  }

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---- fault injection ---------------------------------------------------

  /** Thrown by an armed [[CrashPoint]]. */
  private[graft] final class InjectedCrash(msg: String) extends RuntimeException(msg)

  /** A crash armed for store `root`: its `k`-th protocol step (each
    * relation write, `_COMPACTED_FROM`, `_COMMIT`, each tombstone delete,
    * each garbage-collection delete) throws [[InjectedCrash]] instead of
    * running. `steps` lists the steps reached, so an unreachable `k`
    * enumerates an operation's steps. */
  private[graft] final class CrashPoint(val root: String, val k: Int) {
    private val reached = scala.collection.mutable.ArrayBuffer.empty[String]
    def steps: Seq[String] = synchronized(reached.toList)
    private[BatchStore] def reach(what: String): Boolean =
      synchronized { reached += what; reached.size == k }
  }

  /** The armed crash, if any; only steps on its own root count. */
  @volatile private[graft] var crashPoint: Option[CrashPoint] = None

  private def step(root: String, what: String): Unit = crashPoint.foreach { c =>
    if (c.root == root && c.reach(what))
      throw new InjectedCrash(s"injected crash at step ${c.k} ($what) of $root")
  }

  // ---- reads -------------------------------------------------------------

  /** Committed, non-superseded batch directories under `root/batches` —
    * the only state any store reader sees. */
  def committedDirs(spark: SparkSession, root: String): Seq[String] = {
    val (fs, batchesPath) = hadoopFs(spark, s"$root/batches")
    if (!fs.exists(batchesPath)) return Seq.empty
    val committed = fs.listStatus(batchesPath).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_COMMIT")))
      .map(_.getPath)
    val superseded = committed.flatMap(p => supersedes(spark, p.toString)).toSet
    committed.filterNot(p => superseded.contains(p.getName)).map(_.toString)
  }

  /** The directory names batch `dir`'s `_COMPACTED_FROM` manifest lists
    * (none for a batch that is not a compaction). */
  private def supersedes(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, m) = hadoopFs(spark, s"$dir/_COMPACTED_FROM")
    if (!fs.exists(m)) return Nil
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** One committed view of store `root`: the directories one listing found
    * committed and not superseded, split into tombstone (`t_`) and data
    * batches. A reader takes one snapshot and reads its data AND its
    * tombstones from it. Tombstones are read without an existence filter,
    * so a tombstone batch that a compaction consumed after the listing
    * fails the read loudly instead of silently leaving the filter. */
  private[graft] final class Snapshot private[BatchStore] (spark: SparkSession, val root: String,
      dirs: Seq[String]) {
    val (tombDirs, dataDirs) = dirs.partition(d => new Path(d).getName.startsWith("t_"))

    /** Relation `name` unioned across the data batches carrying it. */
    def read(name: String, ddl: String): DataFrame = readRelation(spark, dataDirs, name, ddl)

    /** Relation `name` of every data batch, each read with the schema
      * Spark's inference would give it ([[footerSchema]]) and unioned by
      * name, so batches whose schemas disagree still fail. Per-batch reads
      * because each batch carries its own partition tree (a multi-root read
      * would need a common basePath that the batch level breaks). */
    def readEach(name: String): DataFrame = {
      require(dataDirs.nonEmpty, s"no committed data batches under $root/batches")
      dataDirs.map { d =>
        val rel = s"$d/$name"
        spark.read.schema(footerSchema(spark, rel)).parquet(rel)
      }.reduce(_.unionByName(_))
    }

    /** Committed retracted ids (`id` BIGINT), with an explicit
      * `broadcast()` hint: the retraction contract is that readers
      * anti-join an ID-SIZED relation into corpus-sized scans, and that
      * plan must be STRUCTURAL, not an artifact of
      * `autoBroadcastJoinThreshold`'s size estimate. The hint's own bound
      * is executor memory: 8 bytes/id, so 100M retracted ids broadcast in
      * ~800 MB; past that, compact the store, which consumes them. */
    def tombstones: DataFrame = broadcast(
      if (tombDirs.isEmpty) readRelation(spark, Nil, "tomb", TombDdl)
      else spark.read.schema(TombDdl).parquet(tombDirs.map(d => s"$d/tomb"): _*))

    /** `rel` minus the rows whose `keeper` id is retracted, or `rel` itself
      * (an unchanged plan) when this snapshot holds no tombstone. */
    def live(rel: DataFrame, keeper: Column): DataFrame =
      if (tombDirs.isEmpty) rel
      else rel.join(tombstones.select(col("id").as("__tomb_id")),
        keeper === col("__tomb_id"), "left_anti")
  }

  private val TombDdl = "id BIGINT"

  /** Take one [[Snapshot]] of store `root`. */
  private[graft] def snapshot(spark: SparkSession, root: String): Snapshot =
    new Snapshot(spark, root, committedDirs(spark, root))

  /** Union-read relation `name` across the given batch dirs with an
    * explicit schema; empty DataFrame when no dir carries it. A dir that no
    * longer exists (garbage-collected since it was listed) fails the read
    * rather than silently shrinking it. */
  def readRelation(spark: SparkSession, dirs: Seq[String],
      name: String, ddl: String): DataFrame = {
    val paths = dirs.map(d => s"$d/$name").filter { p =>
      val (fs, path) = hadoopFs(spark, p)
      fs.exists(path) || {
        if (!fs.exists(path.getParent))
          throw new java.io.FileNotFoundException(s"batch ${path.getParent} no longer exists")
        false
      }
    }
    if (paths.nonEmpty) spark.read.schema(ddl).parquet(paths: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
  }

  /** The schema a schema-less `spark.read.parquet(rel)` infers for its data
    * columns, read on the driver from the first data file's footer: the
    * Spark row-metadata key when present, else Spark's parquet converter
    * under the session conf. Inference runs the same footer read as a
    * Spark job per call; Spark still discovers the partition columns from
    * the paths and makes the schema nullable. Fails when `rel` holds no
    * data file, as inference does. */
  private def footerSchema(spark: SparkSession,
      rel: String): org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val (fs, root) = hadoopFs(spark, rel)
    def firstFile(dir: Path): Option[FileStatus] = {
      val visible = fs.listStatus(dir).filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      visible.find(_.isFile).orElse(
        visible.iterator.filter(_.isDirectory).flatMap(d => firstFile(d.getPath)).nextOption())
    }
    val file = firstFile(root).getOrElse(
      throw new IllegalStateException(s"no parquet data file under $rel"))
    val reader = ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** True iff `dir` carries relation `name` (a parquet directory). */
  def hasRelation(spark: SparkSession, dir: String, name: String): Boolean = {
    val (fs, p) = hadoopFs(spark, s"$dir/$name")
    fs.exists(p)
  }

  /** All committed retracted ids under `root` (column `id` BIGINT; empty
    * when no tombstone batch exists), broadcast — [[Snapshot.tombstones]]
    * of a fresh snapshot. */
  def readTombstones(spark: SparkSession, root: String): DataFrame =
    snapshot(spark, root).tombstones

  // ---- writes ------------------------------------------------------------

  /** Append batch `id` to store `root`: every relation in OVERWRITE mode
    * (a retry replaces a crashed attempt's partial state) as concurrent
    * jobs, then the `_COMMIT` marker once all of them returned. An empty
    * or already committed batch (a replay) writes nothing: false. */
  private[graft] def append(spark: SparkSession, root: String, id: BatchId,
      relations: Seq[Relation]): Boolean = {
    val dir = s"$root/batches/${id.name}"
    val (fs, marker) = hadoopFs(spark, s"$dir/_COMMIT")
    if (id.rows == 0L || fs.exists(marker)) return false
    writeRelations(root, dir, relations)
    commit(spark, root, dir)
    true
  }

  /** Fold every committed data batch of `root`, minus its committed
    * retractions, into ONE `c_` directory. `rewrite` builds the compacted
    * relations from the snapshot (reading its `dataDirs`, dropping
    * retracted rows through [[Snapshot.live]]). Returns the number of
    * source batches folded: 0, with nothing written, when there is no data
    * batch, or a single one and no tombstone unless `force` (a rewrite the
    * caller wants regardless, such as a quantizer retrain). Consumed
    * tombstone directories are deleted after the commit; superseded
    * sources too when `gc`. */
  private[graft] def compact(spark: SparkSession, root: String, gc: Boolean,
      force: Boolean = false)(rewrite: Snapshot => Seq[Relation]): Int = {
    val store = snapshot(spark, root)
    val sources = store.dataDirs
    if (sources.isEmpty || (sources.length <= 1 && store.tombDirs.isEmpty && !force)) return 0
    val names = sources.map(p => new Path(p).getName).sorted
    val cid = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val dir = s"$root/batches/c_$cid"
    writeRelations(root, dir, rewrite(store))
    step(root, "_COMPACTED_FROM")
    val (fs, manifest) = hadoopFs(spark, s"$dir/_COMPACTED_FROM")
    val out = fs.create(manifest, true)
    try out.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    commit(spark, root, dir)
    store.tombDirs.foreach { d => step(root, s"tombstone delete $d"); delete(spark, Seq(d)) }
    if (gc) sources.foreach(collect(spark, root, _))
    sources.length
  }

  /** Delete superseded batch `dir`, after whatever it superseded in turn
    * that is still on disk (left by a `gc = false` compaction, or by a
    * crash during garbage collection): only `dir`'s manifest hides those,
    * so deleting `dir` first would make them visible again. */
  private def collect(spark: SparkSession, root: String, dir: String): Unit = {
    supersedes(spark, dir).map(n => s"$root/batches/$n")
      .filter { d => val (fs, p) = hadoopFs(spark, d); fs.exists(p) }
      .foreach(collect(spark, root, _))
    step(root, s"gc delete $dir")
    delete(spark, Seq(dir))
  }

  private def commit(spark: SparkSession, root: String, dir: String): Unit = {
    step(root, "_COMMIT")
    val (fs, p) = hadoopFs(spark, s"$dir/_COMMIT")
    fs.create(p, true).close()
  }

  private def writeRelations(root: String, dir: String, relations: Seq[Relation]): Unit =
    runConcurrently(relations.map { case (name, writer) => () =>
      step(root, s"$name write")
      writer().mode("overwrite").parquet(s"$dir/$name")
    })

  /** Run independent relation writes as CONCURRENT Spark jobs from a
    * bounded driver-side pool (optimization guide §2.6: actions are only
    * sequential because driver code calls them sequentially; overlapping
    * independent jobs lets the next job's tasks back-fill executors the
    * current job's tail leaves idle). Each thunk targets its OWN
    * directory — the session is the only shared state, and Spark's
    * scheduler is multi-thread-safe by design. Blocks until ALL thunks
    * finish; the FIRST failure is rethrown (after the others complete, so
    * a caller's crash-retry sees a stable directory state), which keeps
    * the write-then-`_COMMIT` ordering intact. */
  private def runConcurrently(writes: Seq[() => Unit]): Unit = {
    if (writes.isEmpty) return
    if (writes.length == 1) { writes.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(writes.length, 4))
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        writes.map(w => new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = w()
        }).asJava)
      // invokeAll waits for completion; surface the first failure with its
      // ORIGINAL exception (not the ExecutionException wrapper), attaching
      // any further failures as suppressed so multi-write diagnostics
      // aren't reduced to the first one
      val errors = futures.asScala.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
        }
      }
      errors.headOption.foreach { first =>
        errors.drop(1).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** Delete directories (garbage collection). */
  def delete(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      val (fs, p) = hadoopFs(spark, d)
      fs.delete(p, true)
    }

  /** Append a RETRACTION batch: `ids` (one BIGINT column, any name —
    * doc_id, vec_id) lands distinct as the `tomb` relation of a committed
    * `t_<contenthash>_<n>` directory, hashed over the DISTINCT set so
    * logically-equal retractions land on one directory regardless of
    * input duplication. Returns false, writing nothing, for an empty id
    * set or the replay of a committed retraction.
    *
    * What retraction MEANS is the store owner's contract; the protocol
    * only promises: readers that anti-join a snapshot's tombstones never
    * see a retracted id, and a compaction that consumes the tombstones
    * makes the absence physical. */
  def appendTombstones(spark: SparkSession, root: String, ids: DataFrame): Boolean = {
    require(ids.columns.length == 1,
      s"appendTombstones: one id column expected, got ${ids.columns.mkString(", ")}")
    val norm = ids.select(ids.col(ids.columns.head).cast("bigint").as("id")).distinct()
    append(spark, root, contentId("t", norm, "id"), Seq("tomb" -> (() => norm.write)))
  }
}
