package graft.streaming

import org.apache.spark.sql.functions._

import graft.Tables

/** Runnable streaming job: file-source over the events parquet →
  * watermarked windowed throughput → console-free memory sink, drained
  * with Trigger.AvailableNow (one bounded run). Usage:
  *   runMain graft.streaming.StreamRun <sfDir>
  */
object StreamRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession.local(cpus,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    // The file source streams a *directory* of arriving files — stage the
    // events file into one (this is the real drop-dir deployment shape).
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stageDir.resolve("events.parquet"))

    // file streaming source needs an explicit schema: reuse the batch one
    val schema = Tables.table(spark, sfDir, "events").schema
    val raw = spark.readStream.schema(schema)
      .parquet(stageDir.toString)
    // mirror Tables.events' dual handling: ts arrives as ns-long under
    // nanosAsLong, or as a native timestamp otherwise
    val tsCol =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts")
    val events = raw.select(
      tsCol.as("ts"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"))

    val q = CdcStream.windowedThroughput(events)
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("stream_out")
    val rows = out.count()
    // sum over zero windows is null — that's the "empty poll" case, and
    // it must flow into backoffMs as 0 events (full backoff), not NPE
    val events_total = out.agg(coalesce(sum("n"), lit(0L)))
      .collect().head.getLong(0)
    // Adaptive poll backoff (DataPoller semantics): the drained batch
    // size decides how long the NEXT trigger waits. A long-running
    // deployment would restart the query with this ProcessingTime
    // trigger; the bounded AvailableNow demo reports it.
    val sysCfg =
      graft.config.SyncConfigs.parse(graft.config.SyncConfigs.DemoYaml).sys
    val nextWaitMs = CdcStream.backoffMs(events_total, sysCfg.batch.toLong,
      sysCfg.maxPollWait.toLong)
    println(s"""{"stream":"windowed_throughput","windows":$rows,"events":$events_total,"next_poll_wait_ms":$nextWaitMs}""")
    spark.stop()
  }
}
