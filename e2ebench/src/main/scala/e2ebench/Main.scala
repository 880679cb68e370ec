package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload reports. `opMs` and `itemsPerS` are the workload's
  * typical op time and throughput (see README.md for each definition).
  * `layer` gives the workload's own per-layer metrics of a traced run; it is
  * called after the listener events have been drained and attributed. */
final case class Result(
    attempted: Int,
    failed: Int,
    correct: Boolean,
    coldS: Double,
    opMs: Double,
    itemsPerS: Double,
    layer: () => Map[String, Double],
    diag: Map[String, Any])

trait Workload {
  /** Generates this run's inputs; runs once per set-up, in a fresh session. */
  def prepare(spark: SparkSession, seconds: Int): Unit

  /** The cold op, the warm-up and the timed window. */
  def run(spark: SparkSession, seconds: Int): Result
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cpus <n>`
  *
  * Prints one JSON line with the result, the end-to-end metrics (or, with
  * tracing, the per-layer metrics) and diagnostics; `run.py` turns it into
  * the benchmark's output. */
object Main {
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("emit")) return BatchQueries.emit(opt("work"), opt("emit"), opt.getOrElse("cpus", "4"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cpus = opt.getOrElse("cpus", "4")
    val workload: Workload = opt("workload") match {
      case "stream_triggers" => new StreamTriggers(seed, work)
      case "batch_queries" => new BatchQueries(seed, work)
      case "store_cycles" => new StoreCycles(seed, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up: JVM (first round only), session, function registration and
    // input generation, repeated so its median is steady.
    val processStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val setUps = mutable.ArrayBuffer.empty[Double]
    var sessionMs, registerMs = 0.0
    var spark: SparkSession = null
    for (i <- 0 until SetUps) {
      val n0 = System.nanoTime()
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = graft.Sessions.local(cpus)
      sessionMs = (System.nanoTime() - s0) / 1e6
      val r0 = System.nanoTime()
      graft.functions.Native.register(spark)
      registerMs = (System.nanoTime() - r0) / 1e6
      workload.prepare(spark, seconds)
      setUps +=
        (if (i == 0) (System.currentTimeMillis() - processStart) / 1e3
        else (System.nanoTime() - n0) / 1e9)
    }

    if (trace) Trace.install(spark)
    val ran = System.currentTimeMillis()
    val r = workload.run(spark, seconds)
    val done = System.currentTimeMillis()

    val metrics: Map[String, (Double, String)] =
      if (!trace) Map(
        "setup_s" -> (Stats.median(setUps.toSeq), "s"),
        "cold_s" -> (r.coldS, "s"),
        "op_ms" -> (r.opMs, "ms"),
        "items_per_s" -> (r.itemsPerS, "1/s"))
      else {
        Trace.drain()
        Trace.attribute()
        Layers.report(r.layer() ++ Map("session_ms" -> sessionMs, "register_ms" -> registerMs,
          "traced_op_ms" -> r.opMs, "traced_items_per_s" -> r.itemsPerS), cpus.toInt)
      }
    spark.stop()

    val diag = r.diag ++ Map("seed" -> seed, "seconds" -> seconds,
      "setup_s_each" -> setUps.toSeq, "cpus" -> cpus.toInt,
      "phase_s" -> Map("set_ups" -> (ran - processStart) / 1e3, "run" -> (done - ran) / 1e3,
        "report_and_stop" -> (System.currentTimeMillis() - done) / 1e3))
    println(Json.obj(Seq(
      "correct" -> r.correct,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "diagnostics" -> diag)))
  }
}

/** Each workload times a fixed amount of work per run, sized from
  * `--seconds` and the nominal time of its unit of work, so every run of a
  * workload times the same ops whatever the host's pace. */
object Window {
  def count(seconds: Int, unitSeconds: Double): Int =
    math.max(1, math.round(seconds / unitSeconds).toInt)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the result line. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ": " + value(v) }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite value in result")
      d.toString
    case s: String => quote(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
