package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(Sessions.localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Native.register(s)
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}
