package e2ebench

import java.sql.Timestamp
import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Passes over a fixed cohort of `SparkEntry.queries`, each run to a `noop`
  * sink. The seed permutes the cohort in every pass. Every execution carries
  * an order-independent digest of its result (an `observe` on the output),
  * checked against the digest committed in `digests.tsv`. */
final class BatchQueries(seed: Long, work: String) extends Workload {
  import BatchQueries._

  private val dir = s"$work/tables"

  def prepare(spark: SparkSession, seconds: Int): Unit = BatchTables.write(spark, dir)

  def run(spark: SparkSession, seconds: Int): Result = {
    val expected = Digests.load()
    val order = Gen.rng(seed, "batch-order")
    var attempted, failed = 0
    val buildMs = mutable.ArrayBuffer.empty[Double]

    def query(name: String): Op = {
      val ob = Observation(name)
      val (_, o) = Trace.op(name) {
        val b0 = System.nanoTime()
        val df = Trace.span("SparkEntry.build", "build")(SparkEntry.queries(name)(spark, dir))
        buildMs += (System.nanoTime() - b0) / 1e6
        Trace.span("noop write", "exec")(observed(df, ob).write.format("noop").mode("overwrite").save())
      }
      attempted += 1
      if (!expected.get(name).contains(digest(ob))) failed += 1
      o
    }
    def pass(): Seq[String] = order.shuffle(Cohort)

    val t0 = System.nanoTime()
    val cold = pass().map(n => n -> query(n).ms)
    val coldS = (System.nanoTime() - t0) / 1e9

    // a fixed number of whole passes, so every run times the same queries
    buildMs.clear()
    val passes = Window.count(seconds, PassSeconds)
    val timed = (0 until passes).flatMap { p =>
      pass().map { n => val o = query(n); o.timed = true; o.counted = p == 0; o }
    }
    val wall = timed.map(_.ms).sum
    val perQuery = timed.groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.ms).toSeq) }

    Result(
      attempted = attempted,
      failed = failed,
      correct = failed == 0,
      coldS = coldS,
      opMs = Stats.geomean(perQuery.values.toSeq),
      itemsPerS = timed.size / (wall / 1e3),
      layer = () => Map("build_ms" -> buildMs.sum / buildMs.size),
      diag = Map(
        "passes" -> passes,
        "cold_pass_ms" -> cold.toMap,
        "query_median_ms" -> perQuery,
        "query_ms" -> timed.map(o => s"${o.kind}=${o.ms.round}").toSeq))
  }
}

object BatchQueries {
  /** Construction-heavy codec near-dup queries beside execution-heavy text,
    * JSON, windowing and vector queries. No store, incremental or retraction
    * query: those belong to store_cycles. */
  /** Nominal time of one warm pass on a 4-core host. */
  val PassSeconds = 4.0

  val Cohort: Seq[String] = Seq(
    "t4_tumbling_count_user", "json_rekey_count", "text_gopher_repetition",
    "sim_topk_ivf", "dedup_image_png")

  /** Doubles are rounded before hashing, so the digest does not depend on
    * the order a distributed sum added its terms in. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case _ => c
  }

  /** Row count and the wrapping sum of each row's xxhash64. */
  def observed(df: DataFrame, ob: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    df.observe(ob, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("hash"))
  }

  /** Writes the tables and each cohort query's result under `out`, with the
    * cohort's oracle SQL, and prints each result's digest: the input of
    * `oracle_check.py`, which checks the results in DuckDB and commits the
    * digests. */
  def emit(work: String, out: String, cpus: String): Unit = {
    val spark = graft.Sessions.local(cpus)
    val dir = s"$work/tables"
    BatchTables.write(spark, dir)
    val oracle = Cohort.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"), Json.value(oracle))
    for (name <- Cohort) {
      val ob = Observation(name)
      val df = SparkEntry.queries(name)(spark, dir)
      observed(df, ob).write.mode("overwrite").parquet(s"$out/$name")
      println(s"$name\t${digest(ob)}")
    }
    spark.stop()
  }

  def digest(ob: Observation): String = {
    val m = ob.get
    val h = Option(m("hash")).map(_.asInstanceOf[java.math.BigDecimal].toBigInteger.longValue).getOrElse(0L)
    f"${m("rows")}:$h%016x"
  }
}

/** The committed digests, one `name<TAB>rows:hash` line per query. */
object Digests {
  def load(): Map[String, String] = {
    val in = getClass.getResourceAsStream("/e2ebench/digests.tsv")
    require(in != null, "digests.tsv missing from the benchmark's resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally in.close()
  }
}

/** The four tables the cohort reads, with the testdata schemas, generated
  * in plain Scala from a fixed seed (not the workload seed: the committed
  * digests pin these exact tables), at about the sf0.01 row counts. */
object BatchTables {
  val Events = 10000
  val Orders = 15000
  val Documents = 500
  val Embeddings = 300

  /** The sf testdata's document vocabulary. */
  private val Vocab = Vector("a", "agg", "batch", "big", "column", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window", "index", "shard")

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new Rng(42)
    def pick(xs: Seq[String]) = xs(r.below(xs.size))
    def table(name: String, schema: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(schema))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z

    table("events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING", (0 until Events).map { i =>
      Row(i.toLong, new Timestamp(t0 + i * 864L + r.below(864)), r.below(1000).toLong,
        pick(Seq("view", "click", "purchase", "error", "login")), r.below(20000) / 100.0,
        s"""{"k": ${r.below(100)}}""")
    })
    table("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING", (0 until Orders).map { i =>
      Row(i.toLong, r.below(7500).toLong, pick(Seq("O", "F", "P")), 900.0 + r.below(50000000) / 100.0,
        new Timestamp(694224000000L + r.below(2400) * 86400000L),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    })
    table("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      (0 until Documents).map { i =>
        val text = Seq.fill(5 + r.below(55))(Vocab(r.below(Vocab.size))).mkString(" ")
        Row(i.toLong, text, pick(Seq("en", "zh", "de", "fr", "es")), s"src${r.below(8)}",
          text.length.toLong)
      })
    table("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT", (0 until Embeddings).map { i =>
      val label = r.below(4)
      Row(i.toLong, Seq.tabulate(64)(d =>
        ((r.below(20001) - 10000) / 40000.0 + (if (d % 4 == label) 0.3 else 0.0)).toFloat), label)
    })
  }
}
