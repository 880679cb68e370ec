package e2ebench

/** Per-layer metrics of a traced run, from the ops the tracer recorded.
  * Times are means per timed op; counts are means per op over the counted
  * prefix of the window, so they repeat exactly for a seed. A metric of a
  * layer the workload does not reach reads 0. */
object Layers {
  val Names: Seq[String] = Seq(
    "session_ms", "register_ms",
    "build_ms", "build_jobs", "codegen_compiles",
    "analysis_ms", "optimize_ms", "plan_ms",
    "exec_ms", "jobs", "stages", "tasks", "task_cpu_ms", "gc_ms", "heap_used_mb",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "slot_busy_share",
    "triggers_per_chunk", "trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
    "commit_offsets_ms", "state_commit_ms", "state_rows_total", "state_memory_bytes",
    "rows_dropped_by_watermark",
    "upsert_ms", "fetch_us", "store_entries",
    "ingest_ms", "ingest_jobs", "read_ms", "read_jobs", "retract_ms", "retract_jobs",
    "compact_ms", "compact_jobs", "committed_batches", "store_files", "bytes_written_per_doc",
    "bytes_per_doc", "accepted_share",
    "self_bench_ms", "self_build_ms", "self_catalyst_ms", "self_stream_ms",
    "self_store_ms", "trace_coverage_share", "spans_per_op",
    "traced_op_ms", "traced_items_per_s")

  val Units: Map[String, String] = Names.map { n =>
    n -> (
      if (n.endsWith("_us")) "us"
      else if (n.endsWith("_ms")) "ms"
      else if (n.endsWith("_bytes") || n.startsWith("bytes_")) "bytes"
      else if (n.endsWith("_share")) "share"
      else if (n.endsWith("_mb")) "MB"
      else if (n.endsWith("_per_s")) "1/s"
      else "count")
  }.toMap

  def report(workloadLayer: Map[String, Double], cpus: Int): Map[String, (Double, String)] = {
    val timed = Trace.allOps.filter(_.timed)
    val counted = timed.filter(_.counted)
    require(timed.nonEmpty && counted.nonEmpty, "traced run timed no ops")
    def mean(ops: Seq[Op], k: String): Double =
      if (ops.isEmpty) 0.0 else ops.map(_.counts(k)).sum / ops.size
    val self = timed.map(Trace.selfTimes)
    def selfMean(layer: String): Double = self.map(_.getOrElse(layer, 0.0)).sum / timed.size
    val wall = timed.map(_.ms).sum
    val generic = Map(
      "jobs" -> mean(counted, "jobs"),
      "stages" -> mean(counted, "stages"),
      "tasks" -> mean(counted, "tasks"),
      "build_jobs" -> mean(counted, "build_jobs"),
      "codegen_compiles" -> mean(counted, "codegen_compiles"),
      "shuffle_read_bytes" -> mean(counted, "shuffle_read_bytes"),
      "shuffle_write_bytes" -> mean(counted, "shuffle_write_bytes"),
      "spill_bytes" -> mean(counted, "spill_bytes"),
      "analysis_ms" -> mean(timed, "analysis_ms"),
      "optimize_ms" -> mean(timed, "optimization_ms"),
      "plan_ms" -> mean(timed, "planning_ms"),
      "task_cpu_ms" -> mean(timed, "task_cpu_ms"),
      "gc_ms" -> mean(timed, "gc_ms"),
      "heap_used_mb" -> Stats.median(timed.map(_.counts("heap_used_mb"))),
      "slot_busy_share" -> timed.map(_.counts("task_run_ms")).sum / (cpus * wall),
      // the execution layer's self time: the blocking-path share of Spark jobs
      "exec_ms" -> selfMean("exec"),
      "self_bench_ms" -> selfMean("bench"),
      "self_build_ms" -> selfMean("build"),
      "self_catalyst_ms" -> selfMean("catalyst"),
      "self_stream_ms" -> selfMean("stream"),
      "self_store_ms" -> selfMean("store"),
      "trace_coverage_share" -> (1.0 - self.map(_.getOrElse("bench", 0.0)).sum / wall),
      "spans_per_op" -> counted.map(_.spans.size).sum.toDouble / counted.size)
    val perKind = Seq("ingest", "read", "retract", "compact").flatMap { k =>
      val t = timed.filter(_.kind == k)
      val c = counted.filter(_.kind == k)
      Seq(s"${k}_ms" -> (if (t.isEmpty) 0.0 else Stats.median(t.map(_.ms))),
        s"${k}_jobs" -> mean(c, "jobs"))
    }.toMap
    val all = generic ++ perKind ++ workloadLayer
    Names.map(n => n -> (all.getOrElse(n, 0.0), Units(n))).toMap
  }
}
