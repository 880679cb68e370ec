package e2ebench

import scala.collection.mutable

import graft.apps.CorpusPrep
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Incremental corpus-store cycles on `CorpusPrep` over `BatchStore`. A
  * cycle starts on a fresh store directory and runs a fixed schedule of
  * ingests (`runIncremental`), a retraction after every second ingest and a
  * `compactStore` after the last, with a `readShards` read after every op.
  * The run's first ingest is the cold op; the rest of its cycle is timed.
  * Each batch holds new documents plus planted exact duplicates, reordered
  * near-duplicates, copies of retracted documents (accepted afresh) and
  * documents too short for the gate. A plain-Scala model of the store's
  * acceptance rule checks every op. */
final class StoreCycles(seed: Long, work: String) extends Workload {
  import StoreCycles._

  private var first: Vector[Vector[Doc]] = _

  def prepare(spark: SparkSession, seconds: Int): Unit = first = batches(0)

  /** The batches of cycle `c`; doc ids are unique across cycles. */
  private def batches(c: Int): Vector[Vector[Doc]] = {
    val r = Gen.rng(seed, s"store-$c")
    var next = c * 1000000L
    val seen = mutable.ArrayBuffer.empty[String]
    Vector.fill(Ingests) {
      Vector.fill(BatchDocs) {
        next += 1
        val text =
          if (seen.nonEmpty && r.chance(0.10)) seen(r.below(seen.size))
          else if (seen.nonEmpty && r.chance(0.07)) Gen.reorder(r, seen(r.below(seen.size)))
          else if (r.chance(0.03)) Gen.text(r, 1, 4)
          else Gen.text(r, 8, 40)
        seen += text
        Doc(next, text)
      }
    }
  }

  def run(spark: SparkSession, seconds: Int): Result = {
    import spark.implicits._
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempted, failed = 0
    var ingested = 0L
    val storeStats = mutable.ArrayBuffer.empty[Map[String, Double]]

    /** Runs one cycle and returns its ops. The run's first ingest is the
      * cold op: not timed, but counted with its cycle. */
    def cycle(c: Int, docs: Vector[Vector[Doc]], counted: Boolean): Seq[Op] = {
      val dir = s"$work/store/c$c"
      fs.delete(new Path(dir), true)
      val model = new Model
      val r = Gen.rng(seed, s"retract-$c")
      val ops = mutable.ArrayBuffer.empty[Op]
      def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
      def op(kind: String)(body: => Boolean): Unit = {
        val (ok, o) = Trace.op(kind)(body)
        o.timed = c > 0 || ops.nonEmpty
        o.counted = counted
        ops += o
        check(ok)
      }
      def read(): Unit = op("read") {
        val ids = Trace.span("CorpusPrep.readShards", "store") {
          CorpusPrep.readShards(spark, dir).select("doc_id").as[Long].collect()
        }
        ids.length == model.live.size && ids.toSet == model.live
      }
      for ((batch, i) <- docs.zipWithIndex) {
        op("ingest") {
          val df = batch.map(d => (d.id, d.text)).toDF("doc_id", "text")
          val rep = Trace.span("CorpusPrep.runIncremental", "store")(CorpusPrep.runIncremental(spark, df, dir))
          val accepted = model.ingest(batch)
          rep.accepted == accepted && rep.totalStored == model.positions
        }
        if (ops.last.timed) ingested += batch.size
        read()
        if (i % RetractEvery == RetractEvery - 1) {
          val ids = r.shuffle(model.live.toSeq.sorted).take(model.live.size / 10)
          op("retract") {
            val ok = Trace.span("CorpusPrep.retract", "store")(CorpusPrep.retract(spark, dir, ids.toDF("doc_id")))
            model.retract(ids)
            ok
          }
          read()
        }
      }
      op("compact") {
        Trace.span("CorpusPrep.compactStore", "store")(CorpusPrep.compactStore(spark, dir)) == docs.size
      }
      read()
      if (counted) storeStats += stats(spark, dir, model)
      fs.delete(new Path(dir), true)
      ops.toSeq
    }

    // a fixed number of whole cycles, so every run times the same ops
    val cycles = Window.count(seconds, CycleSeconds)
    val all = (0 until cycles).flatMap(c => cycle(c, if (c == 0) first else batches(c), counted = c == 0))
    val timedOps = all.filter(_.timed)
    val wall = timedOps.map(_.ms).sum
    val ingests = timedOps.filter(_.kind == "ingest")
    val s = storeStats.head
    Result(
      attempted = attempted,
      failed = failed,
      correct = failed == 0,
      coldS = all.head.ms / 1e3,
      opMs = Stats.median(ingests.map(_.ms).toSeq),
      itemsPerS = ingested / (wall / 1e3),
      layer = () => s + ("bytes_written_per_doc" -> bytesWritten / (Ingests * BatchDocs)),
      diag = Map(
        "cycles" -> cycles,
        "ingest_samples" -> ingests.size,
        "op_ms_by_kind" -> timedOps.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms).toSeq },
        "read_p50_ms" -> Stats.median(timedOps.filter(_.kind == "read").map(_.ms).toSeq),
        "bytes_per_doc" -> s("bytes_per_doc")))
  }

  /** Output bytes of the first cycle's writing ops, as the traced run's
    * listener attributed them. */
  private def bytesWritten: Double =
    Trace.allOps.filter(o => o.counted && o.kind != "read").map(_.counts("bytes_written")).sum

  /** Store-side figures at the end of a cycle: committed batches, files and
    * bytes on disk, and accepted share over the cycle. */
  private def stats(spark: SparkSession, dir: String, model: Model): Map[String, Double] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(new Path(dir), true)
    var n, bytes = 0L
    while (files.hasNext) { val f = files.next(); n += 1; bytes += f.getLen }
    Map(
      "committed_batches" -> graft.sources.BatchStore.committedDirs(spark, dir).size.toDouble,
      "store_files" -> n.toDouble,
      "bytes_per_doc" -> bytes.toDouble / math.max(1, model.live.size),
      "accepted_share" -> model.positions.toDouble / (Ingests * BatchDocs))
  }
}

object StoreCycles {
  val Ingests = 4
  /** Nominal time of one cycle on a 4-core host. */
  val CycleSeconds = 14.0
  val BatchDocs = 150
  val RetractEvery = 2
  val MinTokens = 5

  final case class Doc(id: Long, text: String)

  /** The store's acceptance rule, restated: a document passes the token
    * gate, and is accepted unless a live stored document or a lower id in
    * its batch has the same bag of tokens (the exact fingerprint and the
    * simhash both key on it for these documents). Retraction removes ids
    * and releases their claims. */
  final class Model {
    val live = mutable.Set.empty[Long]
    private val claims = mutable.HashMap.empty[String, Long]
    var positions = 0L

    def ingest(batch: Vector[Doc]): Long = {
      var accepted = 0L
      for (d <- batch.sortBy(_.id)) {
        val toks = d.text.split(" ")
        val bag = toks.sorted.mkString(" ")
        if (toks.length >= MinTokens && !claims.contains(bag)) {
          claims(bag) = d.id
          live += d.id
          accepted += 1
        }
      }
      positions += accepted
      accepted
    }

    def retract(ids: Seq[Long]): Unit = {
      live --= ids
      val gone = ids.toSet
      claims.filterInPlace { case (_, id) => !gone(id) }
    }
  }
}
