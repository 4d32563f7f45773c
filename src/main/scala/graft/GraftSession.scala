package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory of the runnable mains and the test
  * suites: `local[cpus]` with as many shuffle partitions, UTC session
  * time, the UI off, a registry-sized codegen class cache and WARN
  * logging. `extraConf` pairs add to (or override) those settings. */
object GraftSession {
  def local(cpus: String, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The default whole-stage-codegen class cache holds 100 entries;
      // a 300-query suite compiles thousands of distinct codegen units,
      // so every bench pass was re-paying Janino compilation for every
      // stage (measured: catalog_stats_sketch 15.3s -> 10.4s from this
      // alone). Size the cache to the workload, not to local[32] — any
      // deployment running this whole registry wants it.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
