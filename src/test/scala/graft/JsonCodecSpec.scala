package graft

import graft.codec.JsonCodec
import graft.sinks.Sinks
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

/** JSON codec (≙ JsonPOJOSerde), Kafka-envelope pipelines, streaming
  * dedup, and the interactive window-store surface. */
class JsonCodecSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("EnrichedOrder JSON matches the reference's sample byte-for-byte (StreamTableJoinExample.java:159)") {
    val df = Seq((10, 1, "2025-09-29", "100.00", "1", "Alice", "alice@example.com"))
      .toDF("order_id", "customer_id", "order_date", "total_amount", "customerId", "name", "email")
      .select(JsonCodec.enrichedOrderJson(
        struct($"order_id", $"customer_id", $"order_date", $"total_amount"),
        struct($"customerId", $"name", $"email")).as("json"))
    assert(df.as[String].head() ==
      """{"order":{"order_id":10,"customer_id":1,"order_date":"2025-09-29","total_amount":"100.00"},"customer":{"customerId":"1","name":"Alice","email":"alice@example.com"}}""")
  }

  test("Order JSON round-trips: parse(to_json(order)) == order; malformed parses to null struct") {
    val orders = Seq((44, 2, "2025-08-21", "800.00"))
      .toDF("order_id", "customer_id", "order_date", "total_amount")
      .select(struct($"order_id", $"customer_id", $"order_date", $"total_amount").as("o"))
    val roundTripped = orders.select(JsonCodec.parseOrder(JsonCodec.toJsonValue($"o")).as("r"), $"o")
    assert(roundTripped.filter($"r" =!= $"o").isEmpty)
    val bad = Seq("{oops", "", "[1,2]").toDF("value")
      .select(JsonCodec.parseOrder($"value").as("v"))
    assert(bad.filter($"v.order_id".isNotNull).isEmpty)
  }

  test("T9 full-JSON streaming pipeline: Kafka envelope → from_json → re-key → dim join → nested EnrichedOrder JSON") {
    // ≙ StreamTableJoinExample.java:50-172 with the sandbox MemoryStream
    // standing in for the Kafka source (same record envelope).
    val in = MemoryStream[(String, String)]
    in.addData(
      ("10", """{"order_id":10,"customer_id":1,"order_date":"2025-09-29","total_amount":"100.00"}"""),
      ("11", """{"order_id":11,"customer_id":999,"order_date":"2025-09-30","total_amount":"50.00"}"""), // no such customer
      ("12", """not json at all"""))
    val records = in.toDF().toDF("key", "value")
    val dim = Seq(("1", "Alice", "alice@example.com"))
      .toDF("customerId", "name", "email")
    val enriched = records
      .withColumn("v", JsonCodec.parseOrder($"value"))
      .withColumn("customerId", JsonCodec.keyOrUnknown($"v.customer_id")) // selectKey ≙ :53
      .join(dim, Seq("customerId"), "inner")                              // ≙ :151-155
      .select(JsonCodec.enrichedOrderJson($"v", struct($"customerId", $"name", $"email")).as("value"))
    val q = enriched.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("json_t9").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("json_t9").as[String].collect().toSeq
    // order 11 (customer absent) and order 12 (malformed → UNKNOWN key) dropped by inner join
    assert(got == Seq(
      """{"order":{"order_id":10,"customer_id":1,"order_date":"2025-09-29","total_amount":"100.00"},"customer":{"customerId":"1","name":"Alice","email":"alice@example.com"}}"""))
  }

  test("UNKNOWN-keyed records survive re-key and are countable (StreamsOrderCount.java:103-105)") {
    val in = MemoryStream[String]
    in.addData(
      """{"order_id":1,"customer_id":3,"order_date":"2025-01-01","total_amount":"10.00"}""",
      """{"order_id":2,"customer_id":3,"order_date":"2025-01-01","total_amount":"20.00"}""",
      """broken{""")
    val counts = StreamOps.runningCount(
      in.toDF().toDF("value")
        .select(JsonCodec.keyOrUnknown(JsonCodec.parseOrder($"value").getField("customer_id")).as("key")))
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("json_unknown").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("json_unknown").as[(String, Long)].collect().toMap
    assert(got == Map("3" -> 2L, "UNKNOWN" -> 1L))
  }

  test("streaming dedup: in-watermark duplicates dropped, state bounded by the watermark") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = StreamOps.streamingDedup(in.toDF().toDF("id", "eventTime"), Seq("id"), "10 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_dedup").start()
    in.addData(("a", ts("2025-01-01 10:00:00")), ("a", ts("2025-01-01 10:01:00")))
    q.processAllAvailable()     // same-batch duplicate → one row
    in.addData(("a", ts("2025-01-01 10:02:00")))
    q.processAllAvailable()     // in-watermark duplicate → dropped
    in.addData(("b", ts("2025-01-01 10:30:00")))
    q.processAllAvailable()     // advances watermark to 10:20 → 'a' state (≤10:11) evicted
    in.addData(("a", ts("2025-01-01 10:25:00")))
    q.processAllAvailable()     // beyond the delay → re-emitted (bounded-state trade-off)
    q.stop()
    val got = spark.table("stream_dedup").groupBy($"id").count().as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("streaming near-dup: reordered/duplicate docs collapse by signature; distinct docs pass") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = StreamOps.streamingNearDup(
      in.toDF().toDF("value", "eventTime"), "10 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_neardup").start()
    in.addData(
      ("the quick brown fox", ts("2025-01-01 10:00:00")),
      ("quick the fox brown", ts("2025-01-01 10:01:00")), // reorder → same simhash
      ("a completely different document", ts("2025-01-01 10:01:30")))
    q.processAllAvailable()
    in.addData(("the quick brown fox", ts("2025-01-01 10:02:00"))) // exact dup in-watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_neardup").select($"value").as[String].collect().toSeq
    assert(got.sorted == Seq("a completely different document", "the quick brown fox"))
  }

  test("interactive window store: fetch(key, from, to) over a live tumbling aggregate (OrderCountTumblingWindow.java:126-145)") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
    val store = new Sinks.WindowCountStore
    val q = Sinks.interactiveWindowCounts(agg, store)
    try {
      in.addData(("107", ts("2025-01-01 10:00:05")), ("107", ts("2025-01-01 10:00:25")))
      q.processAllAvailable()
      // first range read while the query is live
      val mid = store.fetch("107", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
      assert(mid.map { case (w, c) => (w.toString, c) } == Seq(("2025-01-01 10:00:00.0", 2L)))
      // more data: a later window appears AND the first window's count is upserted
      in.addData(("107", ts("2025-01-01 10:00:45")), ("107", ts("2025-01-01 10:01:15")))
      q.processAllAvailable()
      val later = store.fetch("107", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
      assert(later.map { case (w, c) => (w.toString, c) } ==
        Seq(("2025-01-01 10:00:00.0", 3L), ("2025-01-01 10:01:00.0", 1L)))
      // range narrowing excludes windows outside [from, to]
      assert(store.fetch("107", ts("2025-01-01 10:01:00"), ts("2025-01-01 10:05:00")).map(_._2) == Seq(1L))
      assert(store.fetch("absent", ts("2025-01-01 00:00:00"), ts("2025-01-02 00:00:00")).isEmpty)
    } finally q.stop()
  }

  test("window store fetch is a range read: equals a brute-force filter, inclusive bounds, under a concurrent upsert") {
    val base = ts("2025-01-01 10:00:00").getTime
    def at(minute: Int) = base + minute * 60000L
    def batch(keys: Seq[String], minutes: Range, cnt: Long) =
      (for (k <- keys; m <- minutes) yield (new java.sql.Timestamp(at(m)), k, cnt))
        .toDF("window_start", "key", "cnt")
    // keys that prefix one another, so one key's range must not reach the next
    val keys = Seq("1", "10", "107", "2", "")
    val store = new Sinks.WindowCountStore
    store.upsert(batch(keys, 0 until 20, 1L))
    def got(key: String, from: Long, to: Long) =
      store.fetch(key, new java.sql.Timestamp(from), new java.sql.Timestamp(to)).map { case (w, c) => (w.getTime, c) }
    def brute(key: String, from: Long, to: Long) =
      store.snapshot().collect { case (k, w, c) if k == key && w.getTime >= from && w.getTime <= to => (w.getTime, c) }
        .sortBy(_._1)
    val probes = for (key <- keys :+ "absent"; from <- Seq(-1, 0, 5, 19, 20); to <- Seq(-1, 0, 5, 19, 25))
      yield (key, at(from), at(to))
    probes.foreach { case (k, f, t) => assert(got(k, f, t) == brute(k, f, t), (k, f, t)) }
    assert(got("10", at(5), at(5)) == Seq((at(5), 1L)))
    assert(got("10", at(6), at(5)).isEmpty)
    // readers fetch while a batch rewrites windows 0-19 and adds 20-29
    val writer = new Thread(() => store.upsert(batch(keys, 0 until 30, 2L)))
    writer.start()
    while (writer.isAlive) probes.foreach { case (k, f, t) =>
      val r = got(k, f, t)
      assert(r.map(_._1) == r.map(_._1).sorted.distinct)
      assert(r.forall { case (w, c) => w >= f && w <= t && (c == 1L || c == 2L) })
    }
    writer.join()
    probes.foreach { case (k, f, t) => assert(got(k, f, t) == brute(k, f, t), (k, f, t)) }
    assert(got("107", at(0), at(29)).map(_._2) == Seq.fill(30)(2L))
  }

  // -------------------------------------------------------------------
  // One micro-batch per chunk (Sinks.OneBatchPerChunk)
  // -------------------------------------------------------------------

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val AllowMultiple = "spark.sql.streaming.statefulOperator.allowMultiple"

  /** A 1-minute tumbling trace, one inner Seq per `addData`. The watermark
    * (grace 0) is the highest event time of the earlier chunks: 10:01:10,
    * 10:02:00, 10:03:59.999, 10:06:00, 10:06:30. It holds out-of-order rows
    * within a chunk, a row whose window ends exactly at the watermark
    * (b@10:01:40, dropped), one whose window ends 1 ms after it (a@10:03:30,
    * kept) and rows 2–10 minutes late. */
  private val edgeTrace: Seq[Seq[(String, String)]] = Seq(
    Seq("a" -> "10:00:05", "a" -> "10:00:30", "b" -> "10:01:10"),
    Seq("a" -> "10:00:50", "b" -> "10:01:20", "a" -> "10:02:00"),
    Seq("b" -> "10:01:40", "a" -> "10:02:30", "c" -> "10:03:59.999", "c" -> "10:03:10"),
    Seq("a" -> "10:03:30", "b" -> "10:02:59", "c" -> "10:06:00", "c" -> "10:05:10", "a" -> "10:03:00"),
    Seq("a" -> "10:00:10", "b" -> "09:57:00", "c" -> "10:04:30", "c" -> "10:05:59.999", "a" -> "10:06:30"),
    Seq("a" -> "10:08:00", "b" -> "10:05:30"))
  private def at(t: String) = ts(s"2025-01-01 $t")

  /** An update-mode `foreachBatch` upsert into `store`, started with the
    * session's confs as they are (Spark's defaults unless a caller set
    * them). */
  private def plainUpsert(agg: DataFrame, store: Sinks.WindowCountStore): StreamingQuery =
    agg.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) => store.upsert(batch) }
      .start()

  /** Runs `body` with `confs` set on the session, restoring the previous
    * values (or their absence) afterwards. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = spark.conf.getAll
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally confs.foreach { case (k, _) => saved.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The progress reports of the micro-batches `q` executed (an idle
    * trigger reports no `addBatch`). */
  private def executed(q: StreamingQuery) =
    q.recentProgress.filter(_.durationMs.containsKey("addBatch")).toSeq
  private def batchIds(q: StreamingQuery): Seq[Long] = executed(q).map(_.batchId)
  private def droppedRows(q: StreamingQuery): Long =
    executed(q).map(_.stateOperators.head.numRowsDroppedByWatermark).sum

  private def feed(in: MemoryStream[(String, java.sql.Timestamp)], chunk: Seq[(String, String)],
      qs: StreamingQuery*): Unit = {
    in.addData(chunk.map { case (k, t) => (k, at(t)) })
    qs.foreach(_.processAllAvailable())
  }

  private def cells(store: Sinks.WindowCountStore): Seq[(String, String, Long)] =
    store.snapshot().map { case (k, w, c) => (k, w.toString.stripPrefix("2025-01-01 "), c) }

  test("window-store sink runs one micro-batch per chunk and upserts what Spark's two-batch default does") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
    val sink, twoBatch = new Sinks.WindowCountStore
    val q = Sinks.interactiveWindowCounts(agg, sink)
    val d = plainUpsert(agg, twoBatch)
    try {
      edgeTrace.zipWithIndex.foreach { case (chunk, i) =>
        feed(in, chunk, q, d)
        assert(cells(sink) == cells(twoBatch), s"stores differ after chunk $i")
        assert(batchIds(q) == (0L to i), s"sink batches after chunk $i")
      }
      // the default form ran its watermark-only batches besides
      assert(batchIds(d).size > edgeTrace.size)
      assert(cells(sink) == Seq(
        ("a", "10:00:00.0", 2L), ("a", "10:02:00.0", 2L), ("a", "10:03:00.0", 2L),
        ("a", "10:06:00.0", 1L), ("a", "10:08:00.0", 1L), ("b", "10:01:00.0", 2L),
        ("c", "10:03:00.0", 2L), ("c", "10:05:00.0", 1L), ("c", "10:06:00.0", 1L)))
      assert(droppedRows(q) == 8L)
    } finally { q.stop(); d.stop() }
  }

  test("window-store sink: no-data batches off without the single watermark cuts late rows at a stale watermark") {
    // why the sink needs BOTH confs: alone, noDataMicroBatches=false drops
    // late rows at the watermark from two chunks back, so rows whose window
    // has closed are counted into windows the default never holds
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
    val noDataOnly, twoBatch = new Sinks.WindowCountStore
    val n = withConfs(NoDataBatches -> "false", AllowMultiple -> "true")(plainUpsert(agg, noDataOnly))
    val d = plainUpsert(agg, twoBatch)
    try {
      edgeTrace.foreach(feed(in, _, n, d))
      assert(batchIds(n) == edgeTrace.indices.map(_.toLong))
      val extra = cells(noDataOnly).diff(cells(twoBatch))
      // b@10:02:59 (chunk 4) and c@10:04:30 (chunk 5) each open a window
      // the watermark had already closed
      assert(extra.contains(("b", "10:02:00.0", 1L)) && extra.contains(("c", "10:04:00.0", 1L)), extra)
    } finally { n.stop(); d.stop() }
  }

  test("window-store sink keeps tumbling state bounded by the watermark over a long run") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
    val store = new Sinks.WindowCountStore
    val q = Sinks.interactiveWindowCounts(agg, store)
    val keys = (0 until 5).map(k => s"k$k")
    val windowsPerChunk = 2
    val chunks = 40
    val base = at("00:00:00").getTime
    def t(minute: Int, second: Int) = new java.sql.Timestamp(base + minute * 60000L + second * 1000L)
    // a data batch holds the windows its chunk touched plus the last window
    // of the chunk before, which the next batch evicts
    val bound = keys.size * (windowsPerChunk + 1)
    try {
      val rows = (0 until chunks).map { c =>
        val first = c * windowsPerChunk
        val live = for (k <- keys; m <- 0 until windowsPerChunk; s <- Seq(10, 50)) yield (k, t(first + m, s))
        // one row per chunk whose window closed three chunks back
        in.addData(if (c >= 3) live :+ ((keys.head, t(first - 5, 30))) else live)
        q.processAllAvailable()
        executed(q).filter(_.batchId == c).last.stateOperators.head.numRowsTotal
      }
      assert(rows.forall(_ <= bound), rows)
      // it plateaus at the bound from the second chunk on: no growth with chunk count
      assert(rows.tail.distinct == Seq(bound.toLong), rows)
      assert(batchIds(q) == (0L until chunks))
      // eviction touches state only: the store keeps every window it was sent
      assert(store.snapshot().size == keys.size * windowsPerChunk * chunks)
      assert(droppedRows(q) == chunks - 3)
    } finally q.stop()
  }

  test("window-store sinks leave the caller's session confs as they were; an append query after them keeps its watermark-only batch") {
    val keys = Seq(NoDataBatches, AllowMultiple)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-confs").toString + "/store"
    def startBoth(): Unit = {
      val in = MemoryStream[(String, java.sql.Timestamp)]
      val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
      val heap = Sinks.interactiveWindowCounts(agg, new Sinks.WindowCountStore)
      val pq = Sinks.interactiveWindowCountsParquet(agg, new Sinks.ParquetWindowStore(spark, dir, numBuckets = 2))
      try {
        // the started queries run with the sink's confs, one batch a chunk
        Seq(Seq("a" -> "10:00:10"), Seq("a" -> "10:01:30")).foreach(feed(in, _, heap, pq))
        assert(batchIds(heap) == Seq(0L, 1L) && batchIds(pq) == Seq(0L, 1L))
      } finally { heap.stop(); pq.stop() }
    }
    // unset: the test session sets neither conf
    assert(keys.forall(k => !spark.conf.getAll.contains(k)))
    startBoth()
    keys.foreach(k => assert(!spark.conf.getAll.contains(k), s"$k leaked into the session"))
    withConfs(keys.map(_ -> "true"): _*) {
      startBoth()
      keys.foreach(k => assert(spark.conf.getAll.get(k).contains("true"), s"$k not restored"))
    }
    // an append-mode window emits when the watermark passes its end, which
    // after the last chunk only the watermark-only batch can do
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val appended = Sinks.memoryTable(StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute"),
      "window_append_after_sinks", OutputMode.Append()).start()
    try {
      Seq(Seq("a" -> "10:00:10"), Seq("a" -> "10:01:30")).foreach(feed(in, _, appended))
      val got = spark.table("window_append_after_sinks").select($"key", $"window_start", $"cnt")
        .as[(String, java.sql.Timestamp, Long)].collect().toSeq
      assert(got == Seq(("a", at("10:00:00"), 1L)))
      assert(batchIds(appended).size > 2)
    } finally appended.stop()
  }

  test("parquet window store: storage-backed fetch matches the heap store live, prunes buckets, survives compaction") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val agg = StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute")
    // the SAME changelog feeds both implementations: the heap store is
    // the reference double, the parquet store is the 100 TB path under test
    val heap = new Sinks.WindowCountStore
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-window").toString + "/store"
    val pq = new Sinks.ParquetWindowStore(spark, dir, numBuckets = 8)
    val q = agg.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val pinned = batch.persist()
        heap.upsert(pinned)
        pq.upsert(pinned, id)
        pinned.unpersist()
        ()
      }
      .start()
    def agree(key: String, from: String, to: String): Unit = {
      val a = heap.fetch(key, ts(from), ts(to)).map { case (w, c) => (w.toString, c) }
      val b = pq.fetch(key, ts(from), ts(to)).map { case (w, c) => (w.toString, c) }
      assert(a == b, s"stores disagree for $key: heap=$a parquet=$b")
    }
    try {
      in.addData(("107", ts("2025-01-01 10:00:05")), ("107", ts("2025-01-01 10:00:25")),
        ("42", ts("2025-01-01 10:00:40")))
      q.processAllAvailable()
      // concurrent reader while the query is live, both keys
      agree("107", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      agree("42", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      assert(pq.fetch("107", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
        .map(_._2) == Seq(2L))
      // a later batch UPSERTS window 10:00 (2 → 3) and adds 10:01 — the
      // last-write-wins resolution must surface the new counts, not both
      in.addData(("107", ts("2025-01-01 10:00:45")), ("107", ts("2025-01-01 10:01:15")))
      q.processAllAvailable()
      agree("107", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      assert(pq.fetch("107", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
        .map(_._2) == Seq(3L, 1L))
      // range narrowing + absent keys behave like the reference double
      agree("107", "2025-01-01 10:01:00", "2025-01-01 10:05:00")
      agree("absent", "2025-01-01 00:00:00", "2025-01-02 00:00:00")
      // scale pin: the literal key's bucket reaches the scan as a
      // PartitionFilter (1/numBuckets of files planned), never a
      // post-scan filter
      val plan = pq.fetchPlan("107", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"bucket not partition-pruned:\n$plan")
      // compaction folds the append log without changing any answer
      pq.compact()
      agree("107", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      agree("42", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      // and appends after compaction still land over compacted state
      // (in-watermark: the stream's watermark sits at 10:01:15 grace-0,
      // so a 10:00 event would be legitimately dropped as late)
      in.addData(("42", ts("2025-01-01 10:02:10")))
      q.processAllAvailable()
      agree("42", "2025-01-01 09:58:00", "2025-01-01 10:03:00")
      assert(pq.fetch("42", ts("2025-01-01 09:58:00"), ts("2025-01-01 10:03:00"))
        .map(_._2) == Seq(1L, 1L))
    } finally q.stop()
  }

  test("parquet window store: retention drops windows past the horizon at compaction, keyed on stream time") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-retention").toString + "/store"
    // retention 10 min: with max stored window start 10:20, the horizon
    // is 10:10 — 10:00 expires, 10:10 and 10:20 survive
    val pq = new Sinks.ParquetWindowStore(spark, dir, numBuckets = 4,
      retentionMs = Some(10L * 60 * 1000))
    def delta(w: String, c: Long) = spark.range(1).select(lit("k").as("key"),
      lit(ts(w)).as("window_start"), lit(c).as("cnt"))
    pq.upsert(delta("2025-01-01 10:00:00", 2L), 0L)
    pq.upsert(delta("2025-01-01 10:10:00", 3L), 1L)
    pq.upsert(delta("2025-01-01 10:20:00", 5L), 2L)
    val all = (ts("2025-01-01 09:00:00"), ts("2025-01-01 11:00:00"))
    // BEFORE compaction every window is fetchable — expiry is a
    // maintenance-time (segment-granularity) act, like Kafka's
    assert(pq.fetch("k", all._1, all._2).map(_._2) == Seq(2L, 3L, 5L))
    pq.compact()
    // beyond-retention fetch is empty, in-retention windows survive
    assert(pq.fetch("k", ts("2025-01-01 09:00:00"), ts("2025-01-01 10:05:00")).isEmpty)
    assert(pq.fetch("k", all._1, all._2).map { case (w, c) => (w.toString, c) } ==
      Seq(("2025-01-01 10:10:00.0", 3L), ("2025-01-01 10:20:00.0", 5L)))
    // stream time, not wall clock: nothing else expires on a re-compact
    pq.compact()
    assert(pq.fetch("k", all._1, all._2).map(_._2) == Seq(3L, 5L))
    // a later append advances the horizon (10:35 − 10min = 10:25): the
    // next compaction expires 10:10 and 10:20, keeps 10:35
    pq.upsert(delta("2025-01-01 10:35:00", 1L), 3L)
    pq.compact()
    assert(pq.fetch("k", all._1, all._2).map { case (w, c) => (w.toString, c) } ==
      Seq(("2025-01-01 10:35:00.0", 1L)))
    // an unset retention store never expires (the default contract)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-pq-noret").toString + "/store"
    val forever = new Sinks.ParquetWindowStore(spark, dir2, numBuckets = 4)
    forever.upsert(delta("2025-01-01 10:00:00", 2L), 0L)
    forever.upsert(delta("2025-01-01 10:20:00", 5L), 1L)
    forever.compact()
    assert(forever.fetch("k", all._1, all._2).map(_._2) == Seq(2L, 5L))
  }

  test("parquet window store: compact lock excludes writers loudly, never silently") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-lock").toString + "/store"
    val pq = new Sinks.ParquetWindowStore(spark, dir, numBuckets = 4)
    val delta = spark.range(1).select(lit("k").as("key"),
      lit(ts("2025-01-01 10:00:00")).as("window_start"), lit(1L).as("cnt"))
    pq.upsert(delta, 0L)
    // a held lock makes upsert THROW (the streaming engine would retry the
    // batch), never append into a root compact() is about to delete
    val lock = new org.apache.hadoop.fs.Path(dir + "__COMPACT_LOCK")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] { pq.upsert(delta, 1L) }
    assert(e.getMessage.contains("compact() in progress"))
    // a second compactor cannot take the held lock either
    intercept[IllegalStateException] { pq.compact() }
    fs.delete(lock, false)
    // lock released ⇒ both proceed, and compact leaves no lock behind
    pq.upsert(delta, 1L)
    pq.compact()
    assert(!fs.exists(lock), "compact() must release its lock")
    assert(pq.fetch("k", ts("2025-01-01 09:00:00"), ts("2025-01-01 11:00:00"))
      .map(_._2) == Seq(1L))
  }

  test("parquet window store: writer intent markers make the exclusion mutual — compact refuses while a writer is in flight") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-intent").toString + "/store"
    val pq = new Sinks.ParquetWindowStore(spark, dir, numBuckets = 4)
    val delta = spark.range(1).select(lit("k").as("key"),
      lit(ts("2025-01-01 10:00:00")).as("window_start"), lit(1L).as("cnt"))
    pq.upsert(delta, 0L)
    // a completed upsert leaves NO marker behind (they drain per write)
    assert(pq.liveIntents() == 0, "upsert must remove its intent marker")
    // an in-flight writer — simulated by its intent marker, the state an
    // upsert holds for its whole write span — makes compact() THROW and
    // release its lock: the check-then-act hole (writer past its lock
    // check, compactor deleting the root mid-write) is closed from the
    // compactor's side too
    val intent = new org.apache.hadoop.fs.Path(dir + "__WRITE_INTENT.in-flight")
    val fs = intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(intent, false).close()
    val e = intercept[IllegalStateException] { pq.compact() }
    assert(e.getMessage.contains("writer(s) in flight"))
    val lock = new org.apache.hadoop.fs.Path(dir + "__COMPACT_LOCK")
    assert(!fs.exists(lock), "a writer-blocked compact must release its lock so the retry can take it")
    // writer drains ⇒ compaction proceeds and the data both sides wrote survives
    fs.delete(intent, false)
    pq.upsert(delta, 1L)
    pq.compact()
    assert(pq.liveIntents() == 0 && !fs.exists(lock))
    assert(pq.fetch("k", ts("2025-01-01 09:00:00"), ts("2025-01-01 11:00:00"))
      .map(_._2) == Seq(1L))
  }
}
