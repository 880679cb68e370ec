package e2ebench

import java.sql.Timestamp
import scala.collection.mutable

import graft.codec.JsonCodec
import graft.sinks.Sinks
import graft.streaming.StreamOps
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** One in-process source of Kafka-envelope order events feeds two
  * concurrent queries: T4 (1-min tumbling count per key, grace 0, upserted
  * into a `WindowCountStore`) and T10 (`fraudDetector` over
  * `JsonCodec.parseOrder`). One op is one chunk: it is stamped when the
  * generator emits it and complete when both queries have processed it. The
  * first phase uses small chunks, where fixed per-trigger cost dominates; the
  * second uses large chunks, where per-row work dominates. */
final class StreamTriggers(seed: Long, work: String) extends Workload {
  import StreamTriggers._

  private var gen: EventGen = _
  private var cold: Vector[Event] = _
  private var warm, warmSmall, smallChunks: Vector[Vector[Event]] = _

  /** Generates the chunks sent before the large phase, in the order they
    * are sent, so event time keeps advancing from chunk to chunk; the large
    * chunks follow from the same generator during the run. */
  def prepare(spark: SparkSession, seconds: Int): Unit = {
    gen = new EventGen(seed)
    cold = gen.chunk(SmallRows)
    warm = Vector.fill(WarmChunks)(gen.chunk(LargeRows))
    warmSmall = Vector.fill(WarmSmallChunks)(gen.chunk(SmallRows))
    smallChunks = Vector.fill(smallCount(seconds))(gen.chunk(SmallRows))
  }

  private def smallCount(seconds: Int): Int =
    math.max(CountedSmall, Window.count(seconds, SmallChunkSeconds / SmallShare))

  def run(spark: SparkSession, seconds: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")

    val src = MemoryStream[(String, String, Timestamp)]
    val env = src.toDF().toDF("key", "value", "eventTime")
    val store = new Sinks.WindowCountStore
    val ref = new Reference
    var attempted, failed = 0
    val fetchUs = mutable.ArrayBuffer.empty[Double]

    val t0 = System.nanoTime()
    val q4 = Sinks.interactiveWindowCounts(
      StreamOps.tumblingCount(env.select("key", "eventTime"), "1 minute"), store)
    val orders = env
      .select(col("key"), JsonCodec.parseOrder(col("value")).as("o"), col("eventTime"))
      .select(col("key"), col("o.order_id").cast("long").as("orderKey"),
        col("o.total_amount").as("totalAmount"), col("eventTime"))
      .as(Encoders.product[StreamOps.FraudInput])
    val q10 = Sinks.memoryTable(StreamOps.fraudDetector(orders, MinAmount, Threshold)(spark).toDF(),
      AlertTable, OutputMode.Append()).start()

    /** Emits one chunk and waits until both queries have processed it. */
    def chunk(events: Vector[Event]): Op = {
      val rows = events.map(e => (e.key, e.json, new Timestamp(e.t)))
      val (_, o) = Trace.op("chunk") {
        Trace.span("MemoryStream.addData", "stream")(src.addData(rows))
        Trace.span("StreamingQuery.processAllAvailable", "stream") {
          q4.processAllAvailable()
          q10.processAllAvailable()
        }
      }
      ref.add(events)
      attempted += 1
      // a range read of the hottest key over the last five windows
      val f0 = System.nanoTime()
      val got = store.fetch(HotKey, new Timestamp(ref.watermark - 5 * WindowMs),
        new Timestamp(ref.watermark + WindowMs))
      fetchUs += (System.nanoTime() - f0) / 1e3
      if (got.map { case (w, c) => (w.getTime, c) } != ref.fetch(HotKey, ref.watermark - 5 * WindowMs,
          ref.watermark + WindowMs)) failed += 1
      o
    }

    chunk(cold)
    val coldS = (System.nanoTime() - t0) / 1e9
    warm.foreach(chunk)
    warmSmall.foreach(chunk)

    // phase 1: small chunks, for latency
    val dropped0 = ref.dropped
    val smallOps = smallChunks.zipWithIndex
      .map { case (c, i) => val o = chunk(c); o.timed = true; o.counted = i < CountedSmall; o }
    // the small phase must carry its share of late rows, no more: a phase of
    // only late rows would time a T4 that updates no state
    val lateShare = (ref.dropped - dropped0).toDouble / (smallChunks.size * SmallRows)
    require(lateShare >= LateShare._1 && lateShare <= LateShare._2,
      f"late share of the small phase is $lateShare%.4f, outside $LateShare")
    // phase 2: large chunks, for throughput
    var entries = 0
    val largeOps = (0 until math.max(CountedLarge, Window.count(seconds, LargeChunkSeconds / (1 - SmallShare))))
      .map { i =>
        val o = chunk(gen.chunk(LargeRows))
        o.timed = true
        o.counted = i < CountedLarge
        if (i == CountedLarge - 1) entries = store.snapshot().size
        o
      }
    val largeRows = largeOps.size.toLong * LargeRows
    q4.stop()
    q10.stop()

    // final state: the window store and every alert equal the reference
    val windows = store.snapshot().map { case (k, w, c) => ((k, w.getTime), c) }.toMap
    val alerts = spark.table(AlertTable).as[StreamOps.Alert].collect()
      .map(a => (a.key, a.orderKey, a.runningCount)).toSet
    val finalOk = windows == ref.windows.toMap && alerts == ref.alerts.toSet &&
      alerts.size == ref.alerts.size
    if (!finalOk) failed = attempted

    val layer = () => if (!Trace.enabled) Map.empty[String, Double] else {
      val ops = smallOps ++ largeOps
      def in(t: Trace.Trigger, os: Iterable[Op]) = os.exists(o => o.start <= t.start && t.start <= o.end)
      val timedTrig = Trace.triggers.synchronized(Trace.triggers.toList).filter(in(_, ops))
      val countedOps = ops.filter(_.counted)
      val countedTrig = timedTrig.filter(in(_, countedOps))
      def meanD(k: String, ts: Seq[Trace.Trigger]) =
        if (ts.isEmpty) 0.0 else ts.map(_.durations.getOrElse(k, 0L)).sum.toDouble / ts.size
      // state as of the end of the counted prefix, which every run reaches
      val last = Seq(q4.id, q10.id).map { q =>
        val ts = countedTrig.filter(_.query == q.toString)
        require(ts.nonEmpty, s"no counted trigger of query $q")
        ts.last
      }
      val t4 = timedTrig.filter(_.query == q4.id.toString)
      Map(
        "triggers_per_chunk" -> countedTrig.size.toDouble / countedOps.size,
        "trigger_ms" -> meanD("triggerExecution", timedTrig),
        "add_batch_ms" -> meanD("addBatch", timedTrig),
        "query_planning_ms" -> meanD("queryPlanning", timedTrig),
        "wal_commit_ms" -> meanD("walCommit", timedTrig),
        "commit_offsets_ms" -> meanD("commitOffsets", timedTrig),
        "state_commit_ms" ->
          (if (timedTrig.isEmpty) 0.0 else timedTrig.map(_.stateCommitMs).sum.toDouble / timedTrig.size),
        "state_rows_total" -> last.map(_.stateRows).sum.toDouble,
        "state_memory_bytes" -> last.map(_.stateBytes).sum.toDouble,
        "rows_dropped_by_watermark" -> countedTrig.map(_.dropped).sum.toDouble / countedOps.size,
        "upsert_ms" -> meanD("addBatch", t4),
        "fetch_us" -> Stats.median(fetchUs.toSeq),
        "store_entries" -> entries.toDouble)
    }

    Result(
      attempted = attempted,
      failed = failed,
      correct = failed == 0,
      coldS = coldS,
      opMs = Stats.median(smallOps.map(_.ms).toSeq),
      itemsPerS = largeRows / (largeOps.map(_.ms).sum / 1e3),
      layer = layer,
      diag = Map(
        "latency_samples" -> smallOps.size,
        "small_chunk_ms" -> smallOps.map(_.ms).toSeq,
        "large_chunk_ms" -> largeOps.map(_.ms).toSeq,
        "latency_p90_ms" -> Stats.quantile(smallOps.map(_.ms).toSeq, 0.9),
        "large_chunks" -> largeOps.size,
        "late_events" -> ref.dropped,
        "small_phase_late_share" -> lateShare,
        "alerts" -> ref.alerts.size,
        "window_entries" -> windows.size))
  }
}

object StreamTriggers {
  val SmallRows = 1000
  val LargeRows = 50000
  val WarmChunks = 2
  val WarmSmallChunks = 4
  /** Share of the window in small chunks, and the nominal chunk times on a
    * 4-core host that size the phases. */
  val SmallShare = 0.85
  val SmallChunkSeconds = 1.15
  val LargeChunkSeconds = 1.6
  val CountedSmall = 4
  val CountedLarge = 2
  /** The range the small phase's share of watermark-dropped rows must fall
    * in: 1 % late events, plus out-of-order events whose window has closed. */
  val LateShare = (0.005, 0.03)
  val WindowMs = 60000L
  val MinAmount = 500.0
  val Threshold = 3L
  val Keys = 2000
  val HotKey = "0"
  val AlertTable = "e2ebench_alerts"

  final case class Event(key: String, orderId: Int, amount: String, t: Long) {
    def json: String =
      s"""{"order_id":$orderId,"customer_id":$key,"order_date":"${Day.format(java.time.Instant.ofEpochMilli(t))}","total_amount":"$amount"}"""
  }
  private val Day = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    .withZone(java.time.ZoneOffset.UTC)

  /** Order events: Zipf(1.1) customer keys, event time advancing 50 ms per
    * event, 5 % of events out of order by up to 30 s and 1 % late by 2 to
    * 10 min (past the grace-0 watermark whenever their window has closed);
    * 10 % of amounts reach the fraud threshold. */
  final class EventGen(seed: Long) {
    private val r = Gen.rng(seed, "stream")
    private val keys = new Zipf(Keys, 1.1)
    private var n = 0
    private val t0 = 1704067200000L // 2024-01-01T00:00:00Z

    def chunk(rows: Int): Vector[Event] = Vector.fill(rows) {
      val t = t0 + n * 50L
      val skew =
        if (r.chance(0.01)) 120000L + r.below(480000)
        else if (r.chance(0.05)) r.below(30000).toLong
        else 0L
      val cents = if (r.chance(0.1)) 50000 + r.below(150000) else 500 + r.below(49000)
      val e = Event(keys.sample(r).toString, n, f"${cents / 100}.${cents % 100}%02d", t - skew)
      n += 1
      e
    }
  }

  /** The reference, in plain Scala: T4 counts with grace-0 watermark drops, T10
    * alerts. Each chunk is one micro-batch; a row is late when its window
    * ends at or before the watermark, the highest event time of the earlier
    * chunks. */
  final class Reference {
    val windows = mutable.HashMap.empty[(String, Long), Long]
    val alerts = mutable.ArrayBuffer.empty[(String, Long, Long)]
    private val fraudCount = mutable.HashMap.empty[String, Long]
    var watermark = 0L
    var dropped = 0L

    def add(events: Vector[Event]): Unit = {
      for (e <- events) {
        val start = Math.floorDiv(e.t, WindowMs) * WindowMs
        if (start + WindowMs <= watermark) dropped += 1
        else windows((e.key, start)) = windows.getOrElse((e.key, start), 0L) + 1
      }
      for ((key, es) <- events.filter(_.amount.toDouble >= MinAmount).groupBy(_.key)) {
        var c = fraudCount.getOrElse(key, 0L)
        for (e <- es.sortBy(e => (e.t, e.orderId))) {
          c += 1
          if (c > Threshold) alerts += ((key, e.orderId.toLong, c))
        }
        fraudCount(key) = c
      }
      watermark = math.max(watermark, events.map(_.t).max)
    }

    def fetch(key: String, from: Long, to: Long): Seq[(Long, Long)] =
      windows.iterator.collect { case ((k, w), c) if k == key && w >= from && w <= to => (w, c) }
        .toSeq.sortBy(_._1)
  }
}
