package graft

import graft.apps.CorpusPrep
import graft.operators.Similarity
import graft.sources.BatchStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batch-store protocol ([[graft.sources.BatchStore]]) through its
  * owners: every crash point of the corpus store's and the IVF index's
  * operations, snapshot-consistent reads, and shard reads without schema
  * inference. */
class BatchStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(ids: Long*): DataFrame =
    ids.map(i => i -> s"word$i alpha$i beta$i gamma$i delta$i epsilon$i").toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def files(root: java.nio.file.Path): List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
    } finally walk.close()
  }

  private def copyStore(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    files(src).foreach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f, dst)
    }
  }

  private val WriteJobUuid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  /** Every file of the committed, non-superseded batches, keyed by batch
    * name and path (the part files' per-write-job uuid dropped), to the md5
    * of its bytes. Checksum sidecars are left out. */
  private def committedFiles(root: String): Map[String, String] =
    BatchStore.committedDirs(spark, root).flatMap { d =>
      val base = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(d).toUri.getPath)
      files(base).filterNot(_.getFileName.toString.startsWith(".")).map { f =>
        val key = s"${base.getFileName}/${base.relativize(f)}".replaceAll(WriteJobUuid, "")
        key -> java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
      }
    }.toMap

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Run `op` on a fresh copy of the store at `pre` once per protocol step,
    * crashing at that step, and check after each crash that
    *  - readers see exactly `pre`'s committed state: byte-identical
    *    committed batches before the operation's `_COMMIT`, the same
    *    reader rows after it (only a compaction has steps after it);
    *  - a retry converges to the no-crash result byte for byte;
    *  - replaying the operation then is a no-op (`replayed` holds for its
    *    result and no committed byte changes).
    * Returns the number of steps enumerated. */
  private def enumerateCrashes(pre: String, op: String => Any, read: String => Seq[String],
      replayed: Any => Boolean): Int = {
    def fresh(): String = { val r = s"${tmp("graft-crash-run")}/store"; copyStore(pre, r); r }
    def armed[T](root: String, k: Int)(body: => T): (BatchStore.CrashPoint, T) = {
      val c = new BatchStore.CrashPoint(root, k)
      BatchStore.crashPoint = Some(c)
      try (c, body) finally BatchStore.crashPoint = None
    }
    val preFiles = committedFiles(pre)
    val preRead = read(pre)
    val clean = fresh()
    val (count, _) = armed(clean, Int.MaxValue)(op(clean))
    val n = count.steps.size
    val commitStep = count.steps.indexOf("_COMMIT") + 1
    assert(commitStep > 0, s"no commit among the protocol steps: ${count.steps}")
    val expected = committedFiles(clean)
    for (k <- 1 to n) {
      val root = fresh()
      val (_, crash) = armed(root, k)(intercept[BatchStore.InjectedCrash](op(root)))
      val at = s"crash at step $k/$n (${crash.getMessage})"
      assert(read(root) == preRead, s"$at: readers saw a changed store")
      if (k <= commitStep) assert(committedFiles(root) == preFiles, s"$at: committed state changed")
      op(root)
      // a retry after a crash between a compaction's commit and its
      // tombstone deletes folds the still-active tombstones again, into
      // a new compacted directory: the same rows, a different name
      if (!crash.getMessage.contains("tombstone delete"))
        assert(committedFiles(root) == expected, s"$at: the retry diverged")
      else assert(read(root) == read(clean), s"$at: the retry diverged")
      val settled = committedFiles(root)
      assert(replayed(op(root)), s"$at: replay was not a no-op")
      assert(committedFiles(root) == settled, s"$at: replay changed the store")
    }
    n
  }

  private def readStore(root: String): Seq[String] =
    rows(CorpusPrep.readShards(spark, root)) ++ rows(CorpusPrep.readAttributes(spark, root))

  private lazy val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    .filter($"vec_id" < 96).select("vec_id", "embedding")
  private lazy val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", numCentroids = 4)
  private lazy val queries = emb.filter($"vec_id" < 4)
    .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
  private def probe(root: String): Seq[String] =
    rows(Similarity.ivfTopKIncremental(spark, queries, root, k = 5, nprobe = 2))

  test("every crash point of the store and index protocols: readers see the pre-op state, a retry converges byte for byte, replay is a no-op") {
    // corpus store: one batch, one retraction
    val one = s"${tmp("graft-crash-pre")}/store"
    CorpusPrep.runIncremental(spark, docs(1L, 2L, 3L), one)
    assert(CorpusPrep.retract(spark, one, Seq(2L).toDF("doc_id")))
    val ingestSteps = enumerateCrashes(one,
      r => CorpusPrep.runIncremental(spark, docs(4L, 5L, 2L), r), readStore,
      { case rep: CorpusPrep.IncrementalReport => rep.accepted == 0L })
    assert(ingestSteps == 7) // six relation writes and the commit
    val retractSteps = enumerateCrashes(one,
      r => CorpusPrep.retract(spark, r, Seq(1L, 3L).toDF("doc_id")), readStore,
      { case appended: Boolean => !appended })
    assert(retractSteps == 2)
    // two data batches and the retraction, folded and collected
    val two = s"${tmp("graft-crash-pre")}/store"
    copyStore(one, two)
    CorpusPrep.runIncremental(spark, docs(6L, 7L), two)
    val compactSteps = enumerateCrashes(two, r => CorpusPrep.compactStore(spark, r), readStore,
      { case folded: Int => folded == 0 })
    // six rewrites, _COMPACTED_FROM, _COMMIT, one tombstone and two
    // source deletes
    assert(compactSteps == 11)

    // IVF index: one batch, then a second with a retraction
    val ivfOne = s"${tmp("graft-crash-pre")}/index"
    assert(Similarity.appendIvfIndex(spark, emb.filter($"vec_id" % 2 === 0), ivfOne, cents))
    val appendSteps = enumerateCrashes(ivfOne,
      r => Similarity.appendIvfIndex(spark, emb.filter($"vec_id" % 2 === 1), r, cents), probe,
      { case appended: Boolean => !appended })
    assert(appendSteps == 3)
    val ivfTwo = s"${tmp("graft-crash-pre")}/index"
    copyStore(ivfOne, ivfTwo)
    assert(Similarity.appendIvfIndex(spark, emb.filter($"vec_id" % 2 === 1), ivfTwo, cents))
    assert(Similarity.retractVectors(spark, ivfTwo,
      emb.filter($"vec_id" % 5 === 2).select("vec_id")))
    val ivfCompactSteps = enumerateCrashes(ivfTwo, r => Similarity.compactIvfIndex(spark, r), probe,
      { case folded: Int => folded == 0 })
    assert(ivfCompactSteps == 7)
  }

  test("a reader's snapshot taken before a gc = false compaction never returns a retracted id") {
    val store = s"${tmp("graft-snap")}/store"
    CorpusPrep.runIncremental(spark, docs(1L, 2L, 3L), store)
    CorpusPrep.runIncremental(spark, docs(4L, 5L), store)
    assert(CorpusPrep.retract(spark, store, Seq(2L, 5L).toDF("doc_id")))
    val snap = BatchStore.snapshot(spark, store)
    val live = Set(1L, 3L, 4L)
    assert(CorpusPrep.readShards(snap).select("doc_id").as[Long].collect().toSet == live)
    assert(CorpusPrep.compactStore(spark, store, gc = false) == 2)
    // the sources are still on disk; the consumed tombstones are not
    scala.util.Try(CorpusPrep.readShards(snap).select("doc_id").as[Long].collect().toSet)
      .foreach(ids => assert(ids == live, "a pre-compaction snapshot read retracted docs"))
    // batches garbage-collected after the listing fail a read, not shrink it
    CorpusPrep.runIncremental(spark, docs(6L), store)
    val later = BatchStore.snapshot(spark, store)
    assert(CorpusPrep.compactStore(spark, store) == 2)
    intercept[java.io.FileNotFoundException](later.read("meta", "accepted BIGINT"))

    val index = s"${tmp("graft-snap")}/index"
    assert(Similarity.appendIvfIndex(spark, emb.filter($"vec_id" % 2 === 0), index, cents))
    assert(Similarity.appendIvfIndex(spark, emb.filter($"vec_id" % 2 === 1), index, cents))
    val retracted = emb.filter($"vec_id" % 5 === 2).select("vec_id").as[Long].collect().toSet
    assert(Similarity.retractVectors(spark, index, retracted.toSeq.toDF("vec_id")))
    val isnap = BatchStore.snapshot(spark, index)
    def vecIds() = Similarity.ivfTopKIncremental(spark, queries, isnap, k = 5, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    val before = vecIds()
    assert(before.nonEmpty && (before & retracted).isEmpty)
    assert(Similarity.compactIvfIndex(spark, index, gc = false) == 2)
    scala.util.Try(vecIds()).foreach(ids =>
      assert(ids == before, "a pre-compaction snapshot probe returned retracted vectors"))
  }

  test("garbage collection never resurrects the batches a gc = false compaction superseded") {
    val store = s"${tmp("graft-gc")}/store"
    CorpusPrep.runIncremental(spark, docs(1L, 2L), store)
    CorpusPrep.runIncremental(spark, docs(3L), store)
    assert(CorpusPrep.compactStore(spark, store, gc = false) == 2)
    CorpusPrep.runIncremental(spark, docs(4L), store)
    // folds the first compaction and the new batch, then deletes both; the
    // two batches only the first compaction's manifest hid go with it
    assert(CorpusPrep.compactStore(spark, store) == 2)
    assert(CorpusPrep.readShards(spark, store).select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L))
    assert(new java.io.File(s"$store/batches").listFiles().count(_.isDirectory) == 1)
  }

  test("readShards reads each batch with its inferred schema and runs no schema-inference job") {
    val store = s"${tmp("graft-footer")}/store"
    for (b <- Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L), Seq(7L)))
      CorpusPrep.runIncremental(spark, docs(b: _*), store)
    assert(CorpusPrep.retract(spark, store, Seq(3L, 5L).toDF("doc_id")))
    // jobs started inside the read carry its job group; the listener bus
    // delivers in order, so once the marker job is seen every job the read
    // started has been recorded
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      spark.sparkContext.setJobGroup("graft-footer-read", "readShards")
      val df = try CorpusPrep.readShards(spark, store) finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup("graft-footer-marker", "marker")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("graft-footer-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("graft-footer-marker"), "listener never saw the marker job")
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!groups.contains("graft-footer-read"), "readShards ran a Spark job")
    // the inferred read: each batch's shards read with no schema
    val inferred = BatchStore.committedDirs(spark, store)
      .filter(BatchStore.hasRelation(spark, _, "shards"))
      .map(d => spark.read.parquet(s"$d/shards")).reduce(_.unionByName(_))
      .join(BatchStore.readTombstones(spark, store).select($"id".as("doc_id")), Seq("doc_id"),
        "left_anti")
    assert(BatchStore.committedDirs(spark, store).size == 5)
    assert(got.schema == inferred.schema)
    assert(rows(got) == rows(inferred))
    assert(got.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L, 6L, 7L))
  }
}
