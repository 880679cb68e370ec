package graft


/** Dev harness: time one named query (default 3 reps, cache cleared
  * between reps — [[Bench]]'s measurement discipline without the full
  * sweep). `runMain graft.TimeQuery <query> [reps]`; sf dir from
  * SPARK_GRAFT_SF_DIR. For single-query plan iteration; the recorded
  * numbers of note stay [[Bench]]'s. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: TimeQuery <queryName> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // dev-only conf overrides for A/B plan experiments:
    //   SPARK_GRAFT_SET="key=value;key=value"
    sys.env.get("SPARK_GRAFT_SET").foreach(_.split(";").map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k.trim, v.trim)
          case _ => sys.error(s"SPARK_GRAFT_SET: segment without '=': '$kv'")
        }
      })
    // opt-in per-job timing: job wall time, stage names and task counts,
    // so a slow query decomposes from the log
    if (sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, (System.nanoTime(),
            j.stageInfos.map(s => s.name.takeWhile(_ != '(') + "x" + s.numTasks)
              .mkString("+")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val v = starts.remove(j.jobId)
          if (v != null) println(
            f"[job] ${j.jobId}%4d ${(System.nanoTime() - v._1) / 1e9}%7.3f s  ${v._2}")
        }
      })
      // Catalyst phase attribution (parsing/analysis/optimization/planning
      // wall ms per executed query) — the planning-overhead view the job
      // listener can't see
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit = {
          val ph = qe.tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" ")
          println(f"[phases] ${ns / 1e9}%7.3f s total  $ph")
        }
        override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    }
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    val buildOnly = sys.env.get("SPARK_GRAFT_BUILD_ONLY").contains("1")
    (1 to reps).foreach { i =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      if (!buildOnly) df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[time] $name rep $i: ${(t2 - t0) / 1e9}%.3f s" +
        f" (build ${(t1 - t0) / 1e9}%.3f, run ${(t2 - t1) / 1e9}%.3f)")
    }
    spark.stop()
  }
}
