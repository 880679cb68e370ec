package graft.operators

import graft.functions.Native
import graft.sources.BatchStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star scope; `embeddings.embedding ARRAY<FLOAT>`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query side is broadcast (it's small by construction), so the
  *    corpus is scanned exactly once with no shuffle until the final
  *    per-query top-k, which reduces to k rows per query.
  *  - [[ivfTopK]]: IVF-bucketed search — corpus assigned to the nearest of
  *    C k-means centroids, queries probe only `nprobe` buckets.
  *
  * Scale design: centroids are tiny (C × d floats) so they live on the
  * driver and are inlined as LITERAL arrays into the assignment
  * expression — bucket assignment is pure map-side codegen'd arithmetic
  * with zero shuffle (vs. the naive corpus×centroids join + window-rank,
  * which shuffles n×C rows). At 100 TB the corpus would additionally be
  * written partitioned/bucketed by centroid id so a probe prunes
  * partitions instead of filtering a full scan.
  */
object Similarity {

  /** Cosine similarity with a zero-norm guard shared by every scoring
    * path: a zero-norm embedding (empty document, zeroed row) has no
    * direction, so its similarity is DEFINED as 0 instead of letting the
    * division throw — Spark 4 runs ANSI mode by default, where a single
    * zero-norm row would otherwise fail the whole job with
    * DIVIDE_BY_ZERO. Same stance [[centroidSims]]/[[trainCentroids]]
    * already take on zero vectors. */
  private def cosine(q: Column, c: Column, qn: Column, cn: Column): Column =
    when(qn * cn === 0.0d, lit(0.0d))
      .otherwise(Native.dotF(q, c) / (qn * cn))

  /** Bounded deterministic training sample shared by the quantizer
    * trainers ([[trainCentroids]], [[trainPqCodebooks]]): the lowest
    * `sampleSize` rows by xxhash64(id) — per-partition top-k + merge,
    * never a full sort. Fails with the CAUSE on an empty corpus instead
    * of a bare head crash, and refuses a sample smaller than the
    * centroid count the caller asked for — silently training fewer
    * buckets would falsify the caller's nprobe/recall arithmetic. */
  private def trainingSample(corpus: DataFrame, idCol: String, embCol: String,
      sampleSize: Int, minCentroids: Int): Array[Array[Float]] = {
    val sample = corpus
      .select(col(embCol), xxhash64(col(idCol)).as("h"))
      .orderBy(col("h"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty,
      "quantizer training: empty corpus sample - no embeddings to train on")
    require(sample.length >= minCentroids,
      s"quantizer training: sample size ${sample.length} < requested centroid count " +
        s"$minCentroids - lower the centroid count or raise sampleSize")
    sample
  }

  /** Exact brute-force cosine top-k.
    *
    * @param queries (query_id, q_embedding) — small; broadcast.
    * @param corpus  (vec_id, embedding) — arbitrarily large.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // Norms once per row map-side; the per-pair work is a single codegen'd
    // dot product (Native.FloatDotProduct).
    val q = broadcast(queries.withColumn("q_norm", Native.normF(col("q_embedding"))))
    val c = corpus.withColumn("c_norm", Native.normF(col("embedding")))
    val scored = c.join(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"), col("vec_id"),
        cosine(col("q_embedding"), col("embedding"), col("q_norm"), col("c_norm")).as("sim"))
    topK(scored, k)
  }

  /** Hard-negative mining — the retrieval/contrastive-training selection
    * pass (DPR, Karpukhin et al. 2020 §4.2; Contriever): for each query,
    * the top-k corpus rows that score HIGH but are NOT positives. The
    * positive band is excluded by cosine: any row with `sim ≥
    * posThreshold` is treated as a duplicate/positive of the query (its
    * own copy, near-dup re-crawls) and skipped, so the mined negatives
    * are the confusable-but-wrong examples a bi-encoder actually learns
    * from — taking plain top-k instead silently trains on unlabeled
    * positives.
    *
    * Scale shape: identical to [[bruteForceTopK]] — queries broadcast,
    * ONE corpus scan, per-pair work is a codegen'd dot product, and the
    * band filter is applied before the top-k reduction so excluded rows
    * never reach the shuffle. At 100 TB swap the scan for the IVF/PQ
    * shortlist tiers ([[ivfPqTopK]]) and re-rank: the band filter
    * composes unchanged on the re-ranked scores. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      posThreshold: Double = 0.95): DataFrame = {
    val q = broadcast(queries.withColumn("q_norm", Native.normF(col("q_embedding"))))
    val c = corpus.withColumn("c_norm", Native.normF(col("embedding")))
    val scored = c.join(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"), col("vec_id"),
        cosine(col("q_embedding"), col("embedding"), col("q_norm"), col("c_norm")).as("sim"))
      .filter(col("sim") < posThreshold)
    topK(scored, k)
  }

  // ---------------------------------------------------------------------
  // K-means centroid training (IVF coarse quantizer)
  // ---------------------------------------------------------------------

  /** Train C centroids with Lloyd iterations over a bounded SAMPLE —
    * the production coarse-quantizer recipe: a quantizer needs thousands
    * of training vectors, not the corpus, so at 100 TB this is one
    * TakeOrdered job over hash order (deterministic pseudo-random sample,
    * no full sort) + driver-side arithmetic on sampleSize × d floats,
    * instead of iters+1 full-corpus passes. Assignment of the actual
    * corpus stays cluster-side via [[nearestBucket]] literal expressions.
    * Cosine assignment (matching the probe metric); empty clusters keep
    * their previous centroid; ties break to the lowest centroid id.
    */
  def trainCentroids(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      numCentroids: Int,
      iters: Int = 3,
      sampleSize: Int = 4096): Array[Array[Float]] = {
    val sample = trainingSample(corpus, idCol, embCol, sampleSize, numCentroids)
    val d = sample.head.length
    var cents = sample.take(numCentroids).map(_.clone())
    def cosineToCent(v: Array[Float], c: Array[Float], cNorm: Double): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i).toDouble * c(i).toDouble; i += 1 }
      if (cNorm == 0.0) s else s / cNorm
    }
    var it = 0
    while (it < iters) {
      val norms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
      val sums = Array.fill(cents.length, d)(0.0)
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
        while (c < cents.length) {
          val s = cosineToCent(v, cents(c), norms(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Cosine-against-each-centroid columns: one codegen'd dot product per
    * literal centroid, divided by the centroid's (driver-computed) norm.
    * The row's own norm is constant across centroids so it cannot change
    * the ranking and is omitted. */
  private def centroidSims(emb: Column, cents: Array[Array[Float]]): Seq[Column] =
    cents.toSeq.map { ct =>
      val n = math.sqrt(ct.map(x => x.toDouble * x).sum)
      Native.dotF(emb, typedLit(ct)) / lit(if (n == 0.0) 1.0 else n)
    }

  /** Past this many centroids, assignment switches from per-centroid
    * literal columns (codegen-inlined dots — fastest at small C, and the
    * form the medoid oracles pin bit-exactly) to ONE native expression
    * holding the whole centroid matrix ([[Native.TopCentroids]]):
    * C inlined columns explode generated code size, and right-sizing C
    * with the corpus (the linear-blocking rule) needs hundreds. The two
    * paths rank BIT-IDENTICALLY (property-pinned in OperatorsSpec). */
  private val LiteralCentroidMax = 32

  /** Nearest-centroid id (0-based INT) as a pure map-side expression.
    * Ties break to the lowest id (array_position returns the first match,
    * and the max value is taken from the same array, so the equality is
    * bit-exact). */
  def nearestBucket(emb: Column, cents: Array[Array[Float]]): Column =
    if (cents.length <= LiteralCentroidMax) {
      val sims = array(centroidSims(emb, cents): _*)
      (array_position(sims, array_max(sims)) - 1).cast("int")
    } else element_at(probeBucketsNative(emb, cents, 1), 1)

  /** The `nprobe` nearest centroid ids as an ARRAY<INT>, map-side only:
    * sort (−sim, cid) structs (struct ordering = sim desc, cid asc
    * tie-break), take the first nprobe cids. */
  def probeBuckets(emb: Column, cents: Array[Array[Float]], nprobe: Int): Column =
    if (cents.length <= LiteralCentroidMax) probeBucketsLiteral(emb, cents, nprobe)
    else probeBucketsNative(emb, cents, nprobe)

  private[graft] def probeBucketsLiteral(emb: Column, cents: Array[Array[Float]],
      nprobe: Int): Column = {
    val entries = centroidSims(emb, cents).zipWithIndex.map { case (s, i) =>
      struct((-s).as("neg"), lit(i).as("cid"))
    }
    slice(transform(array_sort(array(entries: _*)), e => e.getField("cid")), 1, nprobe)
  }

  private[graft] def probeBucketsNative(emb: Column, cents: Array[Array[Float]],
      nprobe: Int): Column =
    Native.topCentroids(emb, cents.toSeq.map(_.toSeq), nprobe)

  /** IVF ANN: k-means centroids (deterministic init + `kmeansIters` Lloyd
    * refinements), corpus assigned to its `corpusAssign` nearest buckets
    * map-side (multi-assignment redundancy — index grows ×corpusAssign,
    * recall rises sharply on diffuse data), queries probe their `nprobe`
    * nearest buckets. The probe join broadcasts the (small) exploded query
    * side, so the corpus is never shuffled; at 100 TB, storing the corpus
    * partitioned by bucket turns the probe into partition pruning.
    * Recall/cost dials: nprobe, corpusAssign, numCentroids.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      numCentroids: Int,
      nprobe: Int,
      kmeansIters: Int = 3,
      corpusAssign: Int = 3): DataFrame =
    ivfTopKWith(queries, corpus,
      trainCentroids(corpus, "vec_id", "embedding", numCentroids, kmeansIters),
      k, nprobe, corpusAssign)

  /** [[ivfTopK]] with CALLER-SUPPLIED centroids (pre-trained elsewhere, or
    * planted medoids — the move that makes the partial-probe path
    * hash-oracle-able: with centroids the oracle can reconstruct, the
    * probe sets and candidate buckets are pure SQL). Identical plan. */
  def ivfTopKWith(
      queries: DataFrame,
      corpus: DataFrame,
      cents: Array[Array[Float]],
      k: Int,
      nprobe: Int,
      corpusAssign: Int = 3): DataFrame = {
    // zero centroids would plan an empty probe join and return an empty
    // result that reads as "no neighbors" — refuse instead
    require(cents.nonEmpty, "ivfTopKWith: no centroids")
    val corpusB = corpus.select(
      col("vec_id"), col("embedding"),
      Native.normF(col("embedding")).as("c_norm"),
      explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket"))
    val queryB = broadcast(queries.select(
      col("query_id"), col("q_embedding"),
      Native.normF(col("q_embedding")).as("q_norm"),
      explode(probeBuckets(col("q_embedding"), cents, nprobe)).as("bucket")))
    val scored = queryB.join(corpusB, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_embedding"), col("embedding"), col("q_norm"), col("c_norm")).as("sim"))
      // a (query, vec) pair can meet in several shared buckets — dedup
      // before ranking so multi-assignment never double-counts a neighbor
      .dropDuplicates("query_id", "vec_id")
    topK(scored, k)
  }

  /** Materialize the corpus as a bucket-partitioned parquet index — the
    * at-scale layout [[ivfTopK]]'s scaladoc promises: one directory per
    * nearest-centroid bucket (multi-assigned ×`corpusAssign`), row norms
    * precomputed at write time. Probing via [[ivfTopKIndexed]] then PRUNES
    * partitions: the scan plans only the probed buckets' files instead of
    * filtering a full corpus scan. */
  /** The incremental-protocol batch layouts — what [[appendIvfIndex]] /
    * [[appendIvfPqIndex]] (and the compactions) write, pinned so protocol
    * readers can pass an explicit schema instead of paying a footer-
    * inference job per read (r18). `c_norm` is DOUBLE ([[Native.normF]]
    * is a sqrt), `bucket` is the INT partition column. */
  private val IvfBatchSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, c_norm DOUBLE, bucket INT"
  private val PqBatchSchema = "vec_id BIGINT, codes ARRAY<INT>, bucket INT"

  /** Width for a bucket-partitioned index write: one writer task per
    * bucket directory, capped at cluster parallelism (each task then
    * writes whole bucket dirs). EXPLICIT, not AQE-sized (r18): a keyed
    * repartition with no width is AQE-coalescible, and index rows are
    * tiny, so size-based coalescing folded every bucket write into ONE
    * task that created all bucket dirs' parquet files serially — file
    * creation is per-OUTPUT-UNIT work, the one shuffle whose width must
    * follow the directory count, not the byte size. */
  private def bucketWriteWidth(spark: SparkSession, numBuckets: Int): Int =
    math.max(1, math.min(numBuckets, spark.sparkContext.defaultParallelism * 2))

  def writeIvfIndex(corpus: DataFrame, cents: Array[Array[Float]], path: String,
      corpusAssign: Int = 3, attrCols: Seq[String] = Nil): Unit =
    corpus.select(
      Seq(col("vec_id"), col("embedding"),
        Native.normF(col("embedding")).as("c_norm")) ++
      attrCols.map(col) :+
      explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket"): _*)
      // pre-partition by bucket: each bucket dir gets ONE writer's files
      // instead of one per (input task × bucket) — the no-small-files rule
      // for a layout that probes later partition-prune; the shuffled rows
      // are ids + codes/norms, a sliver of the corpus
      .repartition(bucketWriteWidth(corpus.sparkSession, cents.length), col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** IVF probe over a [[writeIvfIndex]] layout with STATIC partition
    * pruning. The query side is tiny by contract (it is broadcast for the
    * probe join), so collecting its distinct probe buckets — at most
    * queries × nprobe ints — is a bounded driver action; the resulting
    * `isin` on the partition column reaches the scan as a PartitionFilter
    * (visible in .explain("formatted")), so unprobed buckets' files are
    * never opened. Same scoring/top-k as [[ivfTopK]] — pass the same
    * centroids for identical results. */
  def ivfTopKIndexed(spark: SparkSession, queries: DataFrame, indexPath: String,
      cents: Array[Array[Float]], k: Int, nprobe: Int): DataFrame =
    topK(scoreIndexed(spark, queries, Seq(indexPath), cents, nprobe)
      .dropDuplicates("query_id", "vec_id"), k)

  /** The probe-score core of [[ivfTopKIndexed]] (no dedup/top-k): probed
    * buckets collected driver-side (bounded by queries × nprobe), `isin`
    * partition filter on the scan, broadcast probe join, exact cosine.
    * Shared with the incremental probe so both paths plan identically.
    * Accepts SEVERAL data paths sharing `cents` (r18): batches appended
    * under one quantizer probe identical bucket sets, so scanning them as
    * one multi-root read replaces per-batch scan nodes, probe collects,
    * and union legs — same candidate multiset, one plan. */
  private def scoreIndexed(spark: SparkSession, queries: DataFrame, dataPaths: Seq[String],
      cents: Array[Array[Float]], nprobe: Int, pred: Option[Column] = None,
      schema: Option[String] = None): DataFrame = {
    val queryB = queries.select(
      col("query_id"), col("q_embedding"),
      Native.normF(col("q_embedding")).as("q_norm"),
      explode(probeBuckets(col("q_embedding"), cents, nprobe)).as("bucket"))
    val probed = queryB.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    // the attribute predicate composes with the partition filter at the
    // SCAN (PushedFilters within the pruned bucket dirs — plan-pinned),
    // never post-rank: a post-rank filter would silently starve top-k
    // under selective predicates instead of ranking the true survivors.
    // Per-path reads unioned BELOW the filter: each batch dir carries its
    // own bucket=N partition tree, so one multi-root read would need a
    // common basePath the b_<id> level breaks; the isin filter pushes
    // through the union into every scan's partition pruning unchanged.
    // An EXPLICIT schema (when the caller controls the layout — the
    // incremental protocol's fixed batch schema) skips the footer-reading
    // inference job each schema-less read.parquet pays; the generic
    // indexed path stays schema-flexible (attrCols layouts).
    val read = schema.fold(spark.read)(s => spark.read.schema(s))
    val pruned = dataPaths.map(p => read.parquet(p)).reduce(_.unionByName(_))
      .filter(col("bucket").isin(probed: _*))
    val index = pred.fold(pruned)(pruned.filter)
    broadcast(queryB).join(index, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_embedding"), col("embedding"), col("q_norm"), col("c_norm")).as("sim"))
  }

  /** Filtered ANN over the in-memory probe path: top-k among corpus rows
    * satisfying `pred` ("top-k among lang='en' ∧ source=X" — the retrieval
    * shape real pipelines query). The predicate lands on the CORPUS before
    * bucket assignment — i.e. in the scan stage — NOT on the ranked
    * output: post-filtering a k-deep shortlist silently degrades recall
    * under selective predicates (most of the shortlist dies and nothing
    * refills it), while a scan-stage filter ranks the true survivors.
    * Identical probe/rank plan to [[ivfTopKWith]] otherwise; at scale the
    * filter reaches the parquet scan as a pushed filter. */
  def ivfTopKFilteredWith(queries: DataFrame, corpus: DataFrame,
      cents: Array[Array[Float]], pred: Column, k: Int, nprobe: Int,
      corpusAssign: Int = 3): DataFrame =
    ivfTopKWith(queries, corpus.filter(pred), cents, k, nprobe, corpusAssign)

  /** Filtered probe over a [[writeIvfIndex]] layout (write the filter
    * columns via `attrCols`) with ADAPTIVE widening: probe `nprobe`
    * buckets with the predicate applied in the scan stage; any query
    * whose surviving candidate count comes up short of `k` re-probes at
    * `maxNprobe` (default: every bucket — exact search over the filtered
    * corpus). This is the recall repair for selective predicates: a fixed
    * nprobe that is fine unfiltered can leave a filtered query with
    * near-empty buckets, and only widening the probe — not deepening the
    * shortlist after ranking — restores the true top-k. The count check
    * is a per-query aggregate over the (broadcast-contract) tiny query
    * set — a bounded driver decision, not a data-scale collect. Wide
    * candidates strictly contain narrow ones (probe sets nest), so
    * replacing short queries' results wholesale is exact. */
  def ivfTopKIndexedFiltered(spark: SparkSession, queries: DataFrame,
      indexPath: String, cents: Array[Array[Float]], pred: Column, k: Int,
      nprobe: Int, maxNprobe: Int = 0): DataFrame = {
    val wide = if (maxNprobe <= 0) cents.length else maxNprobe
    val first = scoreIndexed(spark, queries, Seq(indexPath), cents, nprobe, Some(pred))
      .dropDuplicates("query_id", "vec_id")
      .transform(Caches.persisted) // consumed by the count AND the final rank
    val counted = first.groupBy("query_id").count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val short = queries.select("query_id").distinct().collect().map(_.get(0))
      .filter(id => counted.getOrElse(id, 0L) < k)
    val scored =
      if (short.isEmpty) first
      else {
        val wideScores = scoreIndexed(spark,
          queries.filter(col("query_id").isin(short: _*)),
          Seq(indexPath), cents, wide, Some(pred))
          .dropDuplicates("query_id", "vec_id")
        first.filter(!col("query_id").isin(short: _*)).union(wideScores)
      }
    topK(scored, k)
  }

  // ---------------------------------------------------------------------
  // Incremental IVF index — append-only batches (graft.sources.BatchStore)
  // ---------------------------------------------------------------------

  private def centroidsDf(spark: SparkSession, cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF("cid", "centroid")
  }

  /** Centroids persisted inside a committed batch directory, in cid order. */
  def readIndexCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    spark.read.schema("cid INT, centroid ARRAY<FLOAT>").parquet(dir)
      .orderBy("cid").collect().map(_.getSeq[Float](1).toArray)

  /** Attribute multi-root-scan rows back to the input dir that owns their
    * file: normalized-path prefix match (trailing slash so a sibling name
    * extending another — `b_ab_1` vs `b_ab_12` — can't cross-match). */
  private def ownerDir(dirs: Seq[String]): String => String = {
    val normalized = dirs.map(d =>
      (new org.apache.hadoop.fs.Path(d).toUri.getPath + "/") -> d)
    file => {
      val p = new org.apache.hadoop.fs.Path(file).toUri.getPath
      normalized.collectFirst { case (prefix, d) if p.startsWith(prefix) => d }
        .getOrElse(sys.error(s"index read: file $file under none of the batch dirs"))
    }
  }

  /** [[readIndexCentroids]] for SEVERAL batch dirs in ONE scan+collect
    * (r18): the per-dir reads were one driver action each, so an N-batch
    * probe paid N tiny plan+schedule cycles before any scoring work. One
    * multi-root read with `input_file_name` attribution replaces them;
    * per-dir content and order are identical to the per-dir reads. */
  def readIndexCentroidsAll(spark: SparkSession, dirs: Seq[String])
      : Map[String, Array[Array[Float]]] = {
    if (dirs.isEmpty) return Map.empty
    if (dirs.lengthCompare(1) == 0)
      return Map(dirs.head -> readIndexCentroids(spark, dirs.head))
    val owner = ownerDir(dirs)
    spark.read.schema("cid INT, centroid ARRAY<FLOAT>").parquet(dirs: _*)
      .select(input_file_name().as("f"), col("cid"), col("centroid"))
      .collect()
      .groupBy(r => owner(r.getString(0)))
      .map { case (d, rows) =>
        d -> rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray)
      }
  }

  /** Append one embedding batch to an incremental IVF index — the
    * append-only growth path [[writeIvfIndex]] lacks (write-once means a
    * growing corpus would rebuild the whole index per ingest) — as one
    * [[graft.sources.BatchStore]] batch: its rows bucket-partitioned under
    * `data/` AND the centroids that bucketing used under `centroids/`. The
    * batch id is a content hash over ids AND vectors, so a batch of
    * modified embeddings under old ids is NEW content, not a replay: it
    * appends, and the probe's max-combine surfaces the best-scoring stored
    * version until a retrain compaction re-encodes from the corpus.
    * Replaying a committed batch, or appending an empty one, writes
    * nothing and returns false.
    *
    * Centroids travel WITH the batch so a probe is always consistent:
    * each batch's candidates come from probing that batch's own
    * centroids, which keeps results exact-equal to a single-index build
    * whenever appends share centroids, and merely changes the candidate
    * sets (never correctness of the exact re-scoring) when they don't.
    * Centroid re-train is an explicit COMPACTION ([[compactIvfIndex]]),
    * not an append-time side effect.
    *
    * Scale shape: one batch-sized scan (assignment is map-side literal
    * arithmetic), one partitioned write; the committed index is never
    * read or rewritten on append. */
  def appendIvfIndex(spark: SparkSession, batch: DataFrame, path: String,
      cents: Array[Array[Float]], corpusAssign: Int = 3): Boolean = {
    require(cents.nonEmpty, "appendIvfIndex: no centroids")
    BatchStore.append(spark, path, BatchStore.contentId("b", batch, "vec_id", "embedding"),
      ivfRelations(spark, batch, cents, corpusAssign))
  }

  /** The relations of an IVF batch: `data` (each vector under its
    * `corpusAssign` nearest buckets) and the `centroids` it was bucketed by. */
  private def ivfRelations(spark: SparkSession, rows: DataFrame, cents: Array[Array[Float]],
      corpusAssign: Int): Seq[BatchStore.Relation] = Seq(
    "data" -> (() => rows.select(
        col("vec_id"), col("embedding"),
        Native.normF(col("embedding")).as("c_norm"),
        explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket"))
      // r18: the write pre-partitions by bucket. Unsplit, the whole append
      // ran as one task that created every bucket directory's file
      // serially (~0.45 s per append at sf0.1), because file creation is
      // per-output-unit work the shuffle width must match. The shuffled
      // bytes (ids + vectors of ONE batch) are the cheap side; one writer
      // per bucket is both the fast ingest and the compaction-friendly
      // layout.
      .repartition(bucketWriteWidth(spark, cents.length), col("bucket"))
      .write.partitionBy("bucket")),
    "centroids" -> (() => centroidsDf(spark, cents).coalesce(1).write))

  /** Retract vectors from an incremental index (takedown of the source
    * documents' embeddings): appends a committed TOMBSTONE batch
    * ([[BatchStore.appendTombstones]]). From that commit on,
    * [[ivfTopKIncremental]]/[[ivfPqTopKIncremental]] anti-join the
    * retracted vec_ids out of every candidate set, and the next
    * [[compactIvfIndex]]/[[compactIvfPqIndex]] makes the absence
    * PHYSICAL and consumes the tombstones. Returns false on an empty or
    * replayed retraction set. */
  def retractVectors(spark: SparkSession, path: String, vecIds: DataFrame): Boolean =
    BatchStore.appendTombstones(spark, path, vecIds)

  /** Probe an incremental IVF index: per committed batch, probe THAT
    * batch's centroids with static partition pruning (the shared
    * [[scoreIndexed]] core — identical plan shape to [[ivfTopKIndexed]]
    * per batch), union the scored candidates, drop committed retractions
    * ([[retractVectors]]), dedup (a vector re-appended in two batches, or
    * multi-assigned into two probed buckets, must not double-count), and
    * rank once. With all batches sharing centroids the result is EXACTLY
    * a single-index probe (candidate sets union to the same set —
    * golden-pinned); the per-batch scan-node count is the documented
    * compaction motive, same as the corpus store's. */
  def ivfTopKIncremental(spark: SparkSession, queries: DataFrame, path: String,
      k: Int, nprobe: Int): DataFrame =
    ivfTopKIncremental(spark, queries, BatchStore.snapshot(spark, path), k, nprobe)

  /** [[ivfTopKIncremental]] over one index snapshot. */
  private[graft] def ivfTopKIncremental(spark: SparkSession, queries: DataFrame,
      index: BatchStore.Snapshot, k: Int, nprobe: Int): DataFrame = {
    val dataDirs = index.dataDirs
    require(dataDirs.nonEmpty, s"no committed index batches under ${index.root}/batches")
    // r18: batches sharing centroids probe as ONE multi-root scan — the
    // probe set, the partition filter, and the broadcast query side are
    // functions of the centroids alone, so per-batch scans only exist to
    // honor per-batch quantizers. Grouping by (already collected) centroid
    // content keeps the per-batch contract where quantizers differ and
    // collapses the common all-appends-share-centroids case to one scan
    // node, one probe collect, zero union legs (same candidate multiset:
    // the broadcast join distributes over the union of the data dirs).
    val centsByDir = readIndexCentroidsAll(spark, dataDirs.map(d => s"$d/centroids"))
    val withCents = dataDirs.map(d => (d, centsByDir(s"$d/centroids")))
    val scored = withCents
      .groupBy { case (_, cents) => cents.map(_.toSeq).toSeq }
      .values.toSeq
      .map { group =>
        scoreIndexed(spark, queries, group.map { case (d, _) => s"$d/data" },
          group.head._2, nprobe, schema = Some(IvfBatchSchema))
      }.reduce(_.unionByName(_))
    // max, not dropDuplicates: a vector present twice (multi-assignment,
    // or re-ingested under a different stored version) must combine
    // DETERMINISTICALLY — an arbitrary pick would make the ranking
    // depend on task scheduling. Same shuffle as a dropDuplicates.
    topK(index.live(scored, col("vec_id"))
      .groupBy("query_id", "vec_id").agg(max(col("sim")).as("sim")), k)
  }

  /** Fold every committed batch into ONE directory and (optionally)
    * RE-TRAIN the coarse quantizer — the periodic maintenance pass that
    * keeps probes at one scan per index regardless of ingest cadence, and
    * the explicit home of centroid refresh (drifting data slowly degrades
    * recall under frozen centroids; re-training on every append would
    * rebucket the whole index per batch). A [[BatchStore.compact]]:
    * retracted vec_ids drop physically and their tombstones are consumed.
    * Multi-assigned rows collapse back to unique vectors before
    * re-bucketing (otherwise each compaction would multiply the index by
    * corpusAssign).
    *
    * Returns the number of source batches folded (0 = nothing to do). */
  def compactIvfIndex(spark: SparkSession, path: String,
      retrainCentroids: Option[Int] = None, kmeansIters: Int = 3,
      corpusAssign: Int = 3, gc: Boolean = true): Int =
    BatchStore.compact(spark, path, gc, force = retrainCentroids.nonEmpty) { index =>
      val sources = index.dataDirs
      val rows = index.live(
          sources.map(p => spark.read.schema(IvfBatchSchema).parquet(s"$p/data"))
            .reduce(_.unionByName(_)), col("vec_id"))
        .select("vec_id", "embedding")
        // max, not dropDuplicates: a vector re-ingested with a modified
        // embedding exists in several stored versions; the fold must pick
        // ONE deterministically (arrays order lexicographically) or the
        // compacted index would vary with task scheduling — the probe-side
        // max-combine stance applied at rest
        .groupBy("vec_id").agg(max(col("embedding")).as("embedding"))
      val cents = retrainCentroids match {
        case Some(c) => trainCentroids(rows, "vec_id", "embedding", c, kmeansIters)
        case None => readIndexCentroids(spark, s"${sources.head}/centroids")
      }
      ivfRelations(spark, rows, cents, corpusAssign)
    }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the memory-bounded ANN tier
  // ---------------------------------------------------------------------

  /** Train PQ codebooks: split the embedding into `m` contiguous
    * subspaces and run an independent L2 Lloyd loop per subspace over a
    * bounded driver sample (the [[trainCentroids]] contract: a quantizer
    * needs thousands of vectors, not the corpus — sampleSize × d floats
    * on the driver, corpus-side work stays in [[pqEncode]]'s map-side
    * expressions). Init = first `ksub` sample subvectors; empty clusters
    * keep their previous centroid; ties break to the lowest code.
    * Returns codebooks[m][ksub][d/m]. */
  def trainPqCodebooks(
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      m: Int,
      ksub: Int = 16,
      iters: Int = 5,
      sampleSize: Int = 4096): Array[Array[Array[Float]]] = {
    val sample = trainingSample(corpus, idCol, embCol, sampleSize, ksub)
    val d = sample.head.length
    require(d % m == 0, s"embedding dim $d must divide into m=$m subspaces")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val subs = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      var cents = subs.take(ksub).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length, dsub)(0.0)
        val counts = new Array[Long](cents.length)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cents.length) {
            var dist = 0.0; var i = 0
            while (i < dsub) {
              val df = v(i).toDouble - cents(c)(i).toDouble; dist += df * df; i += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(i => (sums(c)(i) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  /** PQ-encode the corpus: per subspace, the nearest (L2) codebook
    * centroid's index — `argmin ‖x−c‖² ≡ argmax (2·x·c − ‖c‖²)` with the
    * row-constant ‖x‖² dropped, so each code is a handful of codegen'd
    * dot products against LITERAL centroids (the [[nearestBucket]]
    * stance; ties break to the lowest code via first-match
    * array_position). Output (idCol, `codes` ARRAY<INT> of length m) —
    * m BYTES of information per vector: at 100 TB this is the tier that
    * fits an exabyte-scale embedding corpus in cluster memory (64-dim
    * float rows shrink 32× at m=8), and the scan side of every
    * downstream probe reads codes only, never the float arrays.
    * Assumes embedding dim = m × dsub (the codebooks' shape —
    * [[trainPqCodebooks]] enforces divisibility at train time); a
    * shorter row would silently score only its overlap. */
  def pqEncode(
      corpus: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), pqCodes(col(embCol), codebooks).as("codes"))

  /** The PQ code-assignment expression (argmin L2 per subspace via the
    * 2·dot − ‖c‖² identity), shared by [[pqEncode]] and
    * [[writeIvfPqIndex]] so the index writer can emit codes and coarse
    * buckets from ONE corpus scan. */
  private def pqCodes(embCol: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    val dsub = codebooks.head.head.length
    val codeCols = codebooks.toSeq.zipWithIndex.map { case (cb, s) =>
      val sub = slice(embCol, s * dsub + 1, dsub)
      val scores = array(cb.toSeq.map { ct =>
        val n2 = ct.map(x => x.toDouble * x).sum
        Native.dotF(sub, typedLit(ct.toSeq)) * 2.0 - lit(n2)
      }: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus, by inner
    * product (the MIPS convention: pre-normalize embeddings upstream for
    * cosine). Each query precomputes a lookup table per subspace —
    * lut_s[c] = q_sub · codebook[s][c], m × ksub doubles — on the TINY
    * broadcast query side; scoring a corpus row is then m array lookups
    * and adds in one codegen span, and the corpus scan touches codes
    * only (never embeddings). ADC is exact for any corpus vector that
    * equals its PQ reconstruction and an unbiased approximation
    * otherwise — [[pqTopKRefined]] adds the standard exact re-rank.
    *
    * @param codes  [[pqEncode]] output (vec_id, codes) — or a parquet
    *               round-trip of it (the persisted-index layout).
    */
  /** Per-query ADC lookup tables — lut_s[c] = q_sub · codebook[s][c],
    * m × ksub doubles on the (tiny, broadcast) query side; shared by
    * [[pqTopK]] and [[ivfPqTopK]]. */
  private def queryLuts(codebooks: Array[Array[Array[Float]]]): Seq[Column] = {
    val dsub = codebooks.head.head.length
    codebooks.toSeq.zipWithIndex.map { case (cb, s) =>
      array(cb.toSeq.map(ct =>
        Native.dotF(slice(col("q_embedding"), s * dsub + 1, dsub), typedLit(ct.toSeq))): _*)
        .as(s"lut_$s")
    }
  }

  def pqTopK(
      queries: DataFrame,
      codes: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      k: Int): DataFrame = {
    val m = codebooks.length
    val luts = queryLuts(codebooks)
    val q = broadcast(queries.select(col("query_id") +: luts: _*))
    val scored = codes.join(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (0 until m).map(s =>
          element_at(col(s"lut_$s"), element_at(col("codes"), s + 1) + 1))
          .reduce(_ + _).as("sim"))
    topK(scored, k)
  }

  /** PQ shortlist + exact re-rank — the production PQ deployment shape:
    * ADC over codes builds a `k × refineFactor` shortlist (full-corpus
    * scan, codes only), then ONLY the shortlist rows — queries × k ×
    * refineFactor of them, not the corpus — fetch their float embeddings
    * for an exact inner-product re-rank. Recall lost to quantization
    * error comes back as long as the true neighbor lands anywhere in the
    * shortlist; cost stays corpus-scan-in-codes + a shortlist-sized
    * join. Compose with IVF ([[writeIvfIndex]]) for IVF-PQ: probe prunes
    * the scan, codes shrink what's scanned, re-rank restores recall. */
  def pqTopKRefined(
      queries: DataFrame,
      corpus: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      k: Int,
      refineFactor: Int = 4): DataFrame = {
    val shortlist = pqTopK(queries, pqEncode(corpus, codebooks), codebooks, k * refineFactor)
      .select(col("query_id"), col("vec_id"))
    exactRerank(shortlist, corpus, queries, k)
  }

  /** Materialize an IVF-PQ index: the corpus multi-assigned to its
    * nearest coarse centroids ([[probeBuckets]], one directory per
    * bucket — the [[writeIvfIndex]] layout) but carrying PQ CODES
    * instead of float embeddings: m bytes of payload per row instead of
    * d floats (32× smaller at m=8 over 64-dim), so the at-scale index
    * both prunes (partitions) and shrinks (codes). Refine re-reads
    * embeddings from the CORPUS table by id — the index never stores
    * floats. */
  def writeIvfPqIndex(
      corpus: DataFrame,
      cents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      path: String,
      corpusAssign: Int = 3): Unit =
    // ONE corpus scan: codes and coarse buckets are both per-row
    // expressions, so a self-join on vec_id (two scans) is pure waste at
    // index-build scale; the only shuffle is the codes-layout repartition
    // (m bytes + ids per row, a sliver of the embedding corpus)
    corpus.select(col("vec_id"),
        pqCodes(col("embedding"), codebooks).as("codes"),
        explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket"))
      // one writer per bucket dir, explicit width (see writeIvfIndex)
      .repartition(bucketWriteWidth(corpus.sparkSession, cents.length), col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  private def codebooksDf(spark: SparkSession, cbs: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    (for { s <- cbs.indices; c <- cbs(s).indices }
      yield (s, c, cbs(s)(c).toSeq)).toDF("s", "c", "centroid")
  }

  /** Codebooks persisted inside a committed batch directory. */
  def readIndexCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.schema("s INT, c INT, centroid ARRAY<FLOAT>").parquet(dir)
      .orderBy("s", "c").collect()
    rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Float](2).toArray).toArray).toArray
  }

  /** [[readIndexCodebooks]] for SEVERAL batch dirs in ONE scan+collect
    * (r18) — same action-count rationale as [[readIndexCentroidsAll]]. */
  def readIndexCodebooksAll(spark: SparkSession, dirs: Seq[String])
      : Map[String, Array[Array[Array[Float]]]] = {
    if (dirs.isEmpty) return Map.empty
    if (dirs.lengthCompare(1) == 0)
      return Map(dirs.head -> readIndexCodebooks(spark, dirs.head))
    val owner = ownerDir(dirs)
    spark.read.schema("s INT, c INT, centroid ARRAY<FLOAT>").parquet(dirs: _*)
      .select(input_file_name().as("f"), col("s"), col("c"), col("centroid"))
      .collect()
      .groupBy(r => owner(r.getString(0)))
      .map { case (d, rows) =>
        d -> rows.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(2)).map(_.getSeq[Float](3).toArray).toArray)
          .toArray
      }
  }

  /** Append one embedding batch to an incremental IVF-PQ index — the
    * compressed sibling of [[appendIvfIndex]]: rows land PQ-ENCODED (m
    * bytes of payload, never floats) and bucket-partitioned, with the
    * batch's coarse centroids AND codebooks persisted alongside so every
    * probe is quantizer-consistent per batch. Same batch protocol and
    * content id, same replay no-op. Quantizer re-train is compaction's
    * job and needs the corpus (codes are not invertible) — see
    * [[compactIvfPqIndex]]. */
  def appendIvfPqIndex(spark: SparkSession, batch: DataFrame, path: String,
      cents: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      corpusAssign: Int = 3): Boolean = {
    require(cents.nonEmpty, "appendIvfPqIndex: no centroids")
    BatchStore.append(spark, path, BatchStore.contentId("b", batch, "vec_id", "embedding"),
      pqRelations(spark, batch.select(col("vec_id"),
        pqCodes(col("embedding"), codebooks).as("codes"),
        explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket")),
        cents, codebooks))
  }

  /** The relations of an IVF-PQ batch: `coded` rows (vec_id, codes,
    * bucket) as `data`, one writer per bucket dir (see [[appendIvfIndex]]),
    * and the quantizers that coded them. */
  private def pqRelations(spark: SparkSession, coded: DataFrame, cents: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): Seq[BatchStore.Relation] = Seq(
    "data" -> (() => coded
      .repartition(bucketWriteWidth(spark, cents.length), col("bucket"))
      .write.partitionBy("bucket")),
    "centroids" -> (() => centroidsDf(spark, cents).coalesce(1).write),
    "codebooks" -> (() => codebooksDf(spark, codebooks).coalesce(1).write))

  /** Probe an incremental IVF-PQ index: per committed batch, ADC over
    * codes with that batch's own quantizers and static partition pruning
    * (the [[ivfPqTopK]] scan shape per batch), shortlists unioned and
    * dedup'd, ONE exact re-rank against the corpus embeddings at the end.
    * ADC scores across batches are comparable (each estimates the same
    * q·x), and with all batches sharing quantizers the unioned candidate
    * set equals the single-index build's exactly (golden-pinned). */
  def ivfPqTopKIncremental(spark: SparkSession, queries: DataFrame, path: String,
      corpus: DataFrame, k: Int, nprobe: Int, refineFactor: Int = 4): DataFrame = {
    val index = BatchStore.snapshot(spark, path)
    val dataDirs = index.dataDirs
    require(dataDirs.nonEmpty, s"no committed index batches under $path/batches")
    // r18: same quantizer-grouping as ivfTopKIncremental — batches sharing
    // (centroids, codebooks) ADC-score as one multi-root scan; the
    // per-batch plan shape survives only where quantizers actually differ
    val centsByDir = readIndexCentroidsAll(spark, dataDirs.map(d => s"$d/centroids"))
    val cbsByDir = readIndexCodebooksAll(spark, dataDirs.map(d => s"$d/codebooks"))
    val withQ = dataDirs.map(d => (d,
      centsByDir(s"$d/centroids"), cbsByDir(s"$d/codebooks")))
    val scored = withQ
      .groupBy { case (_, cents, cbs) =>
        (cents.map(_.toSeq).toSeq, cbs.map(_.map(_.toSeq).toSeq).toSeq) }
      .values.toSeq
      .map { group =>
        adcScoreIndexed(spark, queries, group.map { case (d, _, _) => s"$d/data" },
          group.head._2, group.head._3, nprobe)
      }.reduce(_.unionByName(_))
    // max, not dropDuplicates: across batches the ADC estimate depends on
    // each batch's quantizers, so a re-ingested vector can score
    // differently per batch — combine deterministically (best estimate),
    // never by task-scheduling order. Same shuffle as a dropDuplicates.
    // Retractions drop BEFORE the shortlist so a tombstoned vector can
    // never crowd a live one out of the k·refineFactor re-rank set.
    val shortlist = topK(
      index.live(scored, col("vec_id"))
        .groupBy("query_id", "vec_id").agg(max(col("sim")).as("sim")),
      k * refineFactor).select(col("query_id"), col("vec_id"))
    exactRerank(shortlist, corpus, queries, k)
  }

  /** The probe+ADC core of [[ivfPqTopK]] (no top-k/refine), over data
    * paths sharing one quantizer pair (see [[scoreIndexed]]'s multi-root
    * note). */
  private def adcScoreIndexed(spark: SparkSession, queries: DataFrame, dataPaths: Seq[String],
      cents: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
      nprobe: Int): DataFrame = {
    val m = codebooks.length
    val luts = queryLuts(codebooks)
    val queryB = queries.select(
      (col("query_id") +: explode(probeBuckets(col("q_embedding"), cents, nprobe)).as("bucket")
        +: luts): _*)
    val probed = queryB.select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    // per-path reads unioned below the filter (see scoreIndexed); the PQ
    // batch layout is protocol-fixed, so the schema is explicit (no
    // footer-inference job per path — r18)
    val index = dataPaths.map(p => spark.read.schema(PqBatchSchema).parquet(p))
      .reduce(_.unionByName(_))
      .filter(col("bucket").isin(probed: _*))
    broadcast(queryB).join(index, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        (0 until m).map(s =>
          element_at(col(s"lut_$s"), element_at(col("codes"), s + 1) + 1))
          .reduce(_ + _).as("sim"))
  }

  /** Fold an incremental IVF-PQ index to ONE directory; optional quantizer
    * RE-TRAIN re-reads embeddings from `corpus` (PQ codes are not
    * invertible, so refresh needs the source of truth — the same
    * corpus-by-id contract as [[ivfPqTopK]]'s refine step). Without
    * retrain the fold copies rows verbatim under the head batch's
    * quantizers, which requires every source to share them — enforced by
    * comparing the persisted quantizer relations, not assumed. A
    * [[BatchStore.compact]], like [[compactIvfIndex]]. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
      corpus: Option[DataFrame] = None, retrainCentroids: Option[Int] = None,
      pqM: Int = 8, kmeansIters: Int = 3, corpusAssign: Int = 3,
      gc: Boolean = true): Int =
    BatchStore.compact(spark, path, gc, force = retrainCentroids.nonEmpty) { index =>
      val sources = index.dataDirs
      val stored = index.live(
        sources.map(p => spark.read.schema(PqBatchSchema).parquet(s"$p/data"))
          .reduce(_.unionByName(_)), col("vec_id"))
      retrainCentroids match {
        case Some(c) =>
          val emb = corpus.getOrElse(throw new IllegalArgumentException(
            "compactIvfPqIndex: quantizer re-train needs the corpus (codes are not invertible)"))
          val rows = emb.join(stored.select("vec_id").distinct(), Seq("vec_id"))
          val cents = trainCentroids(rows, "vec_id", "embedding", c, kmeansIters)
          val cbs = trainPqCodebooks(rows, "vec_id", "embedding", pqM)
          pqRelations(spark, rows.select(col("vec_id"),
            pqCodes(col("embedding"), cbs).as("codes"),
            explode(probeBuckets(col("embedding"), cents, corpusAssign)).as("bucket")),
            cents, cbs)
        case None =>
          // verbatim fold is only sound under ONE quantizer pair — check it
          // (one multi-root read per relation, not one per source — r18)
          val centsAll = readIndexCentroidsAll(spark, sources.map(p => s"$p/centroids"))
          val cbsAll = readIndexCodebooksAll(spark, sources.map(p => s"$p/codebooks"))
          val headC = centsAll(s"${sources.head}/centroids")
          val headB = cbsAll(s"${sources.head}/codebooks")
          sources.tail.foreach { p =>
            require(centsAll(s"$p/centroids").map(_.toSeq).toSeq
                == headC.map(_.toSeq).toSeq &&
              cbsAll(s"$p/codebooks").map(_.map(_.toSeq).toSeq).toSeq
                == headB.map(_.map(_.toSeq).toSeq).toSeq,
              s"compactIvfPqIndex: $p was appended under different quantizers - " +
                "pass the corpus and retrainCentroids to re-encode")
          }
          // max per (vec_id, bucket), not dropDuplicates: re-ingested
          // versions of a vector fold to a deterministic pick instead of a
          // task-scheduling-dependent one (see compactIvfIndex)
          pqRelations(spark, stored.groupBy("vec_id", "bucket").agg(max(col("codes")).as("codes")),
            headC, headB)
      }
    }

  /** IVF-PQ probe: queries probe their `nprobe` coarse buckets with
    * STATIC partition pruning (the [[ivfTopKIndexed]] contract — the
    * probed-bucket `isin` reaches the scan as a PartitionFilter), rows
    * inside the probed buckets are scored by ADC over codes only (the
    * scan never reads a float array — `ReadSchema` is (vec_id, codes),
    * plan-pinned), and the ADC shortlist of `k × refineFactor` re-ranks
    * exactly against the corpus embeddings ([[pqTopKRefined]]'s refine
    * step). This is the full production ANN stack: prune × compress ×
    * refine — at 100 TB the probe touches nprobe/C of the files and
    * reads m bytes per candidate row. */
  def ivfPqTopK(
      spark: SparkSession,
      queries: DataFrame,
      indexPath: String,
      corpus: DataFrame,
      codebooks: Array[Array[Array[Float]]],
      cents: Array[Array[Float]],
      k: Int,
      nprobe: Int,
      refineFactor: Int = 4): DataFrame = {
    // multi-assignment can surface a (query, vec) pair in several shared
    // buckets — dedup before ranking, like ivfTopK
    val shortlist = topK(
      adcScoreIndexed(spark, queries, Seq(indexPath), cents, codebooks, nprobe)
        .dropDuplicates("query_id", "vec_id"),
      k * refineFactor).select(col("query_id"), col("vec_id"))
    exactRerank(shortlist, corpus, queries, k)
  }

  /** Exact inner-product re-rank of an ADC shortlist against the corpus
    * embeddings — shortlist-sized joins, never a corpus scan; shared by
    * [[pqTopKRefined]] and [[ivfPqTopK]]. */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    topK(shortlist
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Native.dotF(col("q_embedding"), col("embedding")).as("sim")), k)

  /** Per-query top-k with deterministic tie-break (sim desc, vec_id asc);
    * integer-only output so the result is bit-stable across engines. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank").cast("bigint").as("rank"))
  }
}
