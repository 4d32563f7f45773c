package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CdcMerge, ChangeLog}
import graft.streaming.CdcStream
import graft.streaming.CdcStream.Change

/** Streaming/batch parity: feeding the sf0.001 changelog through the
  * streaming last-writer-wins state in two micro-batches must converge
  * to exactly the batch cdc_merge result.
  */
class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming latestState converges to the batch last-writer-wins merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    val changes = cl.select("user_id", "event_id", "ems", "op", "value_cents")
      .as[Change].collect().sortBy(c => (c.ems, c.event_id))

    val stream = MemoryStream[Change]
    val query = CdcStream.runToMemory(spark, stream.toDS(), "lww_state")
    try {
      val (first, second) = changes.splitAt(changes.length / 2)
      stream.addData(first.toSeq)
      query.processAllAvailable()
      stream.addData(second.toSeq)
      query.processAllAvailable()

      // memory sink in Update mode appends updated rows per batch →
      // take the last row per key.
      val finalState = spark.table("lww_state")
        .groupBy("user_id")
        .agg(max(struct(col("last_ems"), col("last_event_id"),
          col("last_op"), col("last_value_cents"))).as("s"))
        .select(col("user_id"), col("s.last_event_id"), col("s.last_op"),
          col("s.last_value_cents"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
        .toMap

      val batch = CdcMerge.lastPerKey(cl).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("event_id"), r.getAs[String]("op"),
            r.getAs[Long]("value_cents")))
        .toMap

      assert(finalState === batch)
    } finally query.stop()
  }

  test("mergeParity equals the batch cdc_merge on the sf0.001 changelog") {
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))
    val got = CdcStream.mergeParity(spark, cl).collect().map(key).toSet
    val want = CdcMerge.merge(cl).collect().map(key).toSet
    assert(got === want)
  }

  test("mergeParity folds stale cross-batch deliveries (a key's LATEST " +
    "change arrives in an earlier micro-batch than its stale history)") {
    import spark.implicits._
    // event_id % 3 is the batch split: key 1's true latest (id 3, ems
    // 400) lands in batch 0, its stale history trickles in over
    // batches 1-2 and must not regress the state; key 2's latest is a
    // delete delivered before an older update — it must stay deleted.
    val cl = Seq(
      (1L, 3L, 400L, "U", 40L),
      (1L, 1L, 100L, "I", 10L),
      (1L, 4L, 200L, "U", 20L),
      (1L, 5L, 300L, "U", 30L),
      (2L, 6L, 500L, "D", 0L),
      (2L, 7L, 400L, "U", 70L)
    ).toDF("user_id", "event_id", "ems", "op", "value_cents")
    val got = CdcStream.mergeParity(spark, cl).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("user_id") === 1L)
    assert(r.getAs[Long]("last_event_id") === 3L)
    assert(r.getAs[Long]("last_epoch_s") === 0L)
    assert(r.getAs[Long]("last_value_cents") === 40L)
  }

  test("sessionizeParity equals the batch sessionize on the sf0.001 " +
    "changelog") {
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val got = CdcStream.sessionizeParity(spark, cl).collect().map(key).toMap
    val want = graft.operators.Temporal.sessionize(cl)
      .select("user_id", "session_id", "n_events", "start_ms", "end_ms",
        "duration_ms")
      .collect().map(key).toMap
    assert(got === want)
  }

  test("windowParity equals the batch hourly aggregate on the sf0.001 " +
    "events") {
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))
    val got = CdcStream.windowParity(spark, ev).collect().map(key).toMap
    val want = ev
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .select(unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n"), col("sum_cents"))
      .collect().map(key).toMap
    assert(got === want)
  }

  test("lateParity: drops exactly the stragglers behind the watermark, " +
    "keeps the rest (batch replay twin, sf0.001 events)") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableHash
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))
    val got = CdcStream.lateParity(spark, ev).collect().map(key).toMap
    // batch twin of the replay model: batch = event-time range (+1 for
    // hash stragglers), wm(b) = max prior-batch ems - delay, keep iff
    // the 5-minute window end is still ahead of wm
    val src = ev.select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"),
      unix_millis(col("ts")).as("ems"))
    val b0 = src.agg(min("ems"), max("ems")).collect()(0)
    val lo = b0.getLong(0); val hi = b0.getLong(1); val span = hi - lo + 1
    val n = 4
    val rangeIdx = (1 until n).foldLeft(lit(0)) { (acc, i) =>
      when(col("ems") >= lit(lo + span * i / n), lit(i)).otherwise(acc)
    }
    val straggles = pmod(PortableHash.phash(
      concat(lit("late:"), col("event_id").cast("string"))),
      lit(CdcStream.LateStragglerMod)) === 0L
    val withB = src.withColumn("b",
      rangeIdx + when(straggles, lit(1)).otherwise(lit(0)))
    val wm = withB.groupBy("b").agg(max("ems").as("bm"))
      .withColumn("w", max("bm").over(Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)) -
        CdcStream.LateDelayMs)
    val want = withB.join(wm.select("b", "w"), "b")
      .where(col("w").isNull ||
        expr("(ems div 300000 + 1) * 300000") > col("w"))
      .groupBy(expr("(ems div 300000) * 300").as("win_s"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .collect().map(key).toMap
    assert(got === want)
    // non-vacuous: the model must exercise BOTH paths
    val total = src.count()
    val kept = got.values.map(_._1).sum
    val nStragglers = src.where(straggles).count()
    assert(kept < total, "no late event was dropped")
    assert(total - kept < nStragglers, "no straggler survived")
  }

  test("attributionParity equals the batch last-touch attribution, " +
    "including cross-batch state carry") {
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getLong(2))
    val got = CdcStream.attributionParity(spark, ev).collect()
      .map(key).toMap
    val want = graft.operators.Analytics.attributionLastTouch(ev)
      .collect().map(key).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("attributionParity holds on same-user-same-MILLISECOND collisions " +
    "where ms-level ordering would flip the credited touch") {
    import spark.implicits._
    // user 1's two touches share one millisecond; event_id order is the
    // OPPOSITE of ts_ns order, so any lane that sorts by (ms, event_id)
    // instead of (ts_ns, event_id) credits 'click' — the ns order says
    // the later-within-the-ms 'view' is the last touch. The purchase
    // shares the same ms too (300 µs after the view).
    val baseUs = 1704067200L * 1000000L // 2024-01-01T00:00:00Z in µs
    val tiny = Seq(
      // (event_id, user_id, type, value, ts_ns)
      (2L, 1L, "click", 0.0, (baseUs + 200L) * 1000L),
      (1L, 1L, "view", 0.0, (baseUs + 700L) * 1000L),
      (3L, 1L, "purchase", 50.0, (baseUs + 900L) * 1000L),
      // a second user whose collision-free journey keeps the rollup
      // from collapsing to one row
      (4L, 2L, "click", 0.0, (baseUs + 5000000L) * 1000L),
      (5L, 2L, "purchase", 10.0, (baseUs + 6000000L) * 1000L)
    ).toDF("event_id", "user_id", "event_type", "value", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> (r.getLong(1), r.getLong(2))
    val got = CdcStream.attributionParity(spark, tiny, nBatches = 2)
      .collect().map(key).toMap
    val want = graft.operators.Analytics.attributionLastTouch(tiny)
      .collect().map(key).toMap
    assert(got === want)
    // pin the ns semantics absolutely, not just lane agreement: the
    // within-ms LATER view carries user 1's credit
    assert(got === Map("view" -> (1L, 5000L), "click" -> (1L, 1000L)))
  }

  test("transitionsParity equals the batch transition matrix, including " +
    "pairs spanning micro-batch boundaries and sentinel-driven ends") {
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))
    val got = CdcStream.transitionsParity(spark, ev).collect()
      .map(key).toMap
    val want = graft.operators.Analytics.eventTransitions(ev)
      .select("from_type", "to_type", "n", "p_ppm")
      .collect().map(key).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // the end-sink rows exist and came from the sentinel batch
    assert(got.keys.exists(_._2 == "end"))
  }

  test("tierParity equals the batch gaps-and-islands tier history, " +
    "including periods spanning micro-batch boundaries") {
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(2)) -> // (user, valid_from)
        (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getLong(4), r.getLong(5), r.getString(6))
    val got = CdcStream.tierParity(spark, cl).collect().map(key).toMap
    val want = graft.operators.Temporal.tierHistory(cl)
      .select("user_id", "tier", "valid_from_ms", "valid_to_ms",
        "n_changes", "last_event_id", "is_current")
      .collect().map(key).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("dedupParity: two at-least-once delivery passes survive as each " +
    "event exactly once") {
    val ev = Tables.events(spark, TestSpark.Sf).select("event_id", "ts")
    val got = CdcStream.dedupParity(spark, ev).collect()
      .map(_.getLong(0)).sorted
    val want = ev.select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.length === want.length) // no leaked duplicate
    assert(got.sameElements(want))     // no dropped delivery
  }

  test("latestState with a TTL configured starts and merges (bounded wait)") {
    // NOTE: with ProcessingTimeTimeout configured, the engine keeps
    // scheduling timeout-check batches, so processAllAvailable() never
    // drains — poll the sink with a deadline instead.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Change]
    val query = CdcStream.latestState(spark, stream.toDS(),
        stateTtl = Some(java.time.Duration.ofHours(1)))
      .writeStream.format("memory").queryName("lww_ttl")
      .outputMode("update").start()
    try {
      stream.addData(Change(1L, 10L, 100L, "I", 5L), Change(1L, 11L, 200L, "U", 6L))
      val deadline = System.currentTimeMillis() + 60000
      var rows = Array.empty[org.apache.spark.sql.Row]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = spark.table("lww_ttl").collect()
      }
      assert(rows.nonEmpty, "TTL-configured stream produced no output in 60s")
      val latest = rows.maxBy(_.getAs[Long]("last_event_id"))
      assert(latest.getAs[Long]("last_event_id") === 11L)
      assert(latest.getAs[Long]("last_value_cents") === 6L)
    } finally query.stop()
  }

  test("changedStates emits only keys that actually advanced per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Change]
    val query = CdcStream.changedStates(spark, stream.toDS())
      .writeStream.format("memory").queryName("delta_feed")
      .outputMode("append").start()
    try {
      stream.addData(Change(1L, 10L, 100L, "I", 5L), Change(2L, 11L, 100L, "I", 6L))
      query.processAllAvailable()
      assert(spark.table("delta_feed").count() === 2)
      // re-deliver key 1's old change (stale) + a real advance for key 2
      stream.addData(Change(1L, 10L, 100L, "I", 5L), Change(2L, 12L, 200L, "U", 7L))
      query.processAllAvailable()
      val rows = spark.table("delta_feed").collect()
      assert(rows.length === 3) // key 1 emitted once only
      val k2 = rows.filter(_.getAs[Long]("user_id") == 2L)
        .map(_.getAs[Long]("last_event_id")).sorted
      assert(k2.sameElements(Array(11L, 12L)))
    } finally query.stop()
  }

  test("dedupDeliveries drops redundant deliveries of the same change id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"), col("ts")).limit(100)
      .as[(Long, java.sql.Timestamp)].collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = CdcStream.dedupDeliveries(
      stream.toDS().toDF("event_id", "ts"))
    val query = deduped.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try {
      // deliver everything twice (at-least-once source semantics)
      stream.addData(base.toSeq)
      stream.addData(base.toSeq)
      query.processAllAvailable()
      val got = spark.table("dedup_stream").select("event_id").collect()
        .map(_.getLong(0))
      assert(got.length === base.length)
      assert(got.toSet === base.map(_._1).toSet)
    } finally query.stop()
  }

  test("ingestDocuments gates quality and dedups by fingerprint in-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val good = ("the quick brown fox jumps over the lazy dog again and " +
      "again with plenty of tokens to clear the quality gate easily")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = Seq(
      (t0, 1L, good),
      (t0, 2L, good.toUpperCase),       // same normalized content → dup
      (t0, 3L, "too short"),            // fails the length gate
      (t0, 4L, good + " but genuinely different content this time yes"))
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val out = CdcStream.ingestDocuments(
      stream.toDS().toDF("ts", "doc_id", "text"))
    val query = out.writeStream.format("memory")
      .queryName("ingest_stream").outputMode("append").start()
    try {
      stream.addData(docs)
      query.processAllAvailable()
      // a redelivery of the same content in a LATER micro-batch (still
      // inside the watermark) must also be dropped — the dedup state
      // spans batches
      stream.addData(Seq((t0, 9L, good)))
      query.processAllAvailable()
      val kept = spark.table("ingest_stream").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(!kept.contains(9L))
      // doc 3 gated out; docs 1/2 collapse to one survivor; 4 kept
      assert(kept.size === 2)
      assert(kept.contains(4L))
      assert(kept.intersect(Set(1L, 2L)).size === 1)
      assert(!kept.contains(3L))
      // the in-stream verdicts agree with the batch quality gate
      val batchKeep = graft.operators.TextAnalysis
        .qualityFilter(docs.toDF("ts", "doc_id", "text"))
        .where(col("keep") === "true").count()
      assert(batchKeep === 3) // 1, 2, 4 pass; dedup is the stream's add-on
    } finally query.stop()
  }

  test("windowed throughput on a bounded stream equals the batch window agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ev = Tables.events(spark, TestSpark.Sf)
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
    val rows = ev.as[(java.sql.Timestamp, String, Long)].collect()

    val stream = MemoryStream[(java.sql.Timestamp, String, Long)]
    val streamed = CdcStream.windowedThroughput(
      stream.toDS().toDF("ts", "event_type", "value_cents"))
    val query = streamed.writeStream.format("memory")
      .queryName("win_agg").outputMode("complete").start()
    try {
      stream.addData(rows.toSeq)
      query.processAllAvailable()
      val got = spark.table("win_agg").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val expected = ev
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
        .select(unix_timestamp(col("window.start")).as("hour_s"),
          col("event_type"), col("n"), col("sum_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got === expected)
    } finally query.stop()
  }

  test("streaming sessionization closes exactly the batch sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CdcStream.ChangeTs

    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
    val changes = cl.select("user_id", "event_id", "ems", "op", "value_cents")
      .withColumn("ts", timestamp_millis(col("ems")))
      .as[ChangeTs].collect().sortBy(c => (c.ems, c.event_id))
    // sentinel far past every real session: starts a throwaway session
    // per key AND advances the watermark so all real sessions close
    val sentinelMs = changes.map(_.ems).max + 10L * 24 * 3600 * 1000
    val sentinels = changes.map(_.user_id).distinct.map(u =>
      ChangeTs(u, 9999999L, sentinelMs, "U", 0L,
        new java.sql.Timestamp(sentinelMs)))

    val stream = MemoryStream[ChangeTs]
    val query = graft.streaming.CdcStream
      .sessionizeStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val (first, second) = changes.splitAt(changes.length / 2)
      stream.addData(first.toSeq)
      query.processAllAvailable()
      stream.addData(second.toSeq)
      query.processAllAvailable()
      stream.addData(sentinels.toSeq)
      query.processAllAvailable()
      // one more empty pass so the post-sentinel watermark fires timeouts
      stream.addData(Seq.empty[ChangeTs])
      query.processAllAvailable()

      val got = spark.table("sessions")
        .where(col("start_ms") < sentinelMs)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"),
            r.getAs[Long]("end_ms"), r.getAs[Long]("duration_ms")))
        .toMap
      val expected = graft.operators.Temporal.sessionize(cl).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"),
            r.getAs[Long]("end_ms"), r.getAs[Long]("duration_ms")))
        .toMap
      val onlyStream = got.toSet -- expected.toSet
      val onlyBatch = expected.toSet -- got.toSet
      assert(got === expected,
        s"only-stream=${onlyStream.take(5)} only-batch=${onlyBatch.take(5)}")
    } finally query.stop()
  }

  test("sessionizeStream marker TTL: a key returning before the TTL keeps " +
    "its session numbering; one idle past it is evicted and renumbers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CdcStream.ChangeTs
    def ch(uid: Long, eid: Long, ems: Long) =
      ChangeTs(uid, eid, ems, "U", 0L, new java.sql.Timestamp(ems))
    val gap = graft.operators.Temporal.SessionGapMs
    val hour = 3600L * 1000
    val day = 24 * hour
    val t0 = 1700000000000L

    val stream = MemoryStream[ChangeTs]
    val query = graft.streaming.CdcStream
      .sessionizeStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("marker_ttl_sessions")
      .outputMode("append").start()
    try {
      // keys 1 and 4 open sessions; key 9 is the watermark driver
      stream.addData(Seq(ch(1L, 1L, t0), ch(4L, 1L, t0)))
      query.processAllAvailable()
      stream.addData(Seq(ch(9L, 1L, t0 + gap + 3 * hour)))
      query.processAllAvailable()
      stream.addData(Seq.empty[ChangeTs]) // fire: close sessions, arm markers
      query.processAllAvailable()
      // key 4 returns well BEFORE the marker TTL → must continue as
      // session 2; key 1 stays idle
      stream.addData(Seq(ch(4L, 2L, t0 + gap + 4 * hour)))
      query.processAllAvailable()
      // watermark sails past both the open session AND the markers'
      // 7-day TTL → key 1's marker is evicted on its second firing
      stream.addData(Seq(ch(9L, 2L, t0 + 10 * day)))
      query.processAllAvailable()
      stream.addData(Seq.empty[ChangeTs])
      query.processAllAvailable()
      // key 1 returns AFTER eviction → numbering restarts at 1
      stream.addData(Seq(ch(1L, 2L, t0 + 10 * day + hour)))
      query.processAllAvailable()
      stream.addData(Seq(ch(9L, 3L, t0 + 30 * day)))
      query.processAllAvailable()
      stream.addData(Seq.empty[ChangeTs])
      query.processAllAvailable()

      def sessions(uid: Long) = spark.table("marker_ttl_sessions")
        .where(col("user_id") === uid)
        .collect().map(r =>
          (r.getAs[Long]("session_id"), r.getAs[Long]("start_ms"))).sorted
      assert(sessions(4L).map(_._1).toSeq === Seq(1L, 2L))
      val k1 = sessions(1L)
      assert(k1.map(_._2).toSeq ===
        Seq(t0, t0 + 10 * day + hour)) // both sessions closed
      assert(k1.map(_._1).toSeq === Seq(1L, 1L),
        "key 1 must renumber from 1 after marker eviction, got " +
          k1.map(_._1).mkString(","))
    } finally query.stop()
  }

  test("sessionizeStream survives a watermark jump landing a timeout in " +
    "the past (clamped, not thrown)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CdcStream.ChangeTs
    def ch(uid: Long, eid: Long, ems: Long) =
      ChangeTs(uid, eid, ems, "U", 0L, new java.sql.Timestamp(ems))
    val t0 = 1700000000000L
    val jump = t0 + 10L * 24 * 3600 * 1000 // +10 days

    val stream = MemoryStream[ChangeTs]
    val query = graft.streaming.CdcStream
      .sessionizeStream(spark, stream.toDS())
      .writeStream.format("memory").queryName("wm_jump_sessions")
      .outputMode("append").start()
    try {
      stream.addData(Seq(ch(1L, 1L, t0)))
      query.processAllAvailable()
      // one batch advances the watermark ~10 days via key 2 AND
      // delivers a still-admissible event for key 1 whose honest
      // timeout (ems+gap) is far below the post-jump watermark — the
      // un-clamped setTimeoutTimestamp path kills the query here
      stream.addData(Seq(ch(2L, 2L, jump), ch(1L, 2L, t0 + 20L * 60 * 1000)))
      query.processAllAvailable()
      stream.addData(Seq.empty[ChangeTs])
      query.processAllAvailable()
      assert(query.isActive || query.exception.isEmpty)
      val u1 = spark.table("wm_jump_sessions")
        .where(col("user_id") === 1L).collect()
      assert(u1.length === 1)
      assert(u1.head.getAs[Long]("n_events") === 2L)
      assert(u1.head.getAs[Long]("start_ms") === t0)
    } finally query.stop()
  }

  test("balanceParity: streamed running balances equal the batch " +
    "balance_audit rollup, across batch counts") {
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("db"), r.getAs[Long]("n_users"),
        r.getAs[Long]("n_overdrawn"),
        r.getAs[Long]("min_balance_cents"), r.getAs[Long]("n_dips"),
        r.getAs[Long]("end_balance_sum_cents"))
    val want = graft.operators.Ledger.balanceAudit(chl).collect()
      .map(key).sortBy(_._1)
    for (n <- Seq(1, 3)) {
      val got = CdcStream.balanceParity(spark, chl, nBatches = n)
        .collect().map(key).sortBy(_._1)
      assert(got.toSeq === want.toSeq, s"nBatches=$n")
    }
  }

  test("gapParity: streamed per-bucket continuity equals the batch " +
    "sequence_gap_audit verbatim, and an injected hole reads GAPPED") {
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("bucket"), r.getAs[Long]("n_events"),
        r.getAs[Long]("id_lo"), r.getAs[Long]("id_hi"),
        r.getAs[Long]("missing_inside"), r.getAs[Long]("gap_before"),
        r.getAs[String]("verdict"))
    val want = graft.operators.Ledger.sequenceGapAudit(chl).collect()
      .map(key).sortBy(_._1)
    for (n <- Seq(1, 3)) {
      val got = CdcStream.gapParity(spark, chl, nBatches = n)
        .collect().map(key).sortBy(_._1)
      assert(got.toSeq === want.toSeq, s"nBatches=$n")
    }
    // drop one id mid-bucket: that bucket (and only new gaps) flip
    val holed = chl.where(col("event_id") =!= 100L)
    val g = CdcStream.gapParity(spark, holed).collect()
      .map(key).sortBy(_._1)
    val wantHoled = graft.operators.Ledger.sequenceGapAudit(holed)
      .collect().map(key).sortBy(_._1)
    assert(g.toSeq === wantHoled.toSeq)
    assert(g.find(_._1 === 100L / graft.operators.Ledger.SeqBucket)
      .exists(_._7 === "GAPPED"))
  }

  test("linearParity: streamed journey credits equal the batch " +
    "linear-attribution rollup, across batch counts") {
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("touch_type"), r.getAs[Long]("n_journeys"),
        r.getAs[Long]("n_touches"), r.getAs[Long]("credit_milli_cents"))
    val want = graft.operators.Analytics.attributionLinear(ev)
      .collect().map(key).sortBy(_._1)
    for (n <- Seq(1, 3)) {
      val got = CdcStream.linearParity(spark, ev, nBatches = n)
        .collect().map(key).sortBy(_._1)
      assert(got.toSeq === want.toSeq, s"nBatches=$n")
    }
  }

  test("positionParity: streamed U-shape journey credits equal the " +
    "batch position-attribution rollup, across batch counts") {
    val ev = Tables.events(spark, TestSpark.Sf)
    def key(r: org.apache.spark.sql.Row) =
      ((r.getAs[String]("touch_type"), r.getAs[String]("role")),
        (r.getAs[Long]("n_credits"), r.getAs[Long]("credit_milli_cents")))
    val want = graft.operators.Analytics.attributionPosition(ev)
      .collect().map(key).toMap
    assert(want.nonEmpty)
    for (n <- Seq(1, 3)) {
      val got = CdcStream.positionParity(spark, ev, nBatches = n)
        .collect().map(key).toMap
      assert(got === want, s"nBatches=$n")
    }
  }

  test("compactionParity: streamed file-inventory binning equals the " +
    "batch compaction_plan verbatim, across batch counts") {
    val chl = graft.operators.ChangeLog.normalize(
      Tables.events(spark, TestSpark.Sf))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("db"), r.getAs[Long]("bin"),
        r.getAs[Long]("n_files"), r.getAs[Long]("bin_rows"),
        r.getAs[Long]("first_win"), r.getAs[Long]("last_win"),
        r.getAs[Long]("fill_ppm"), r.getAs[String]("verdict"))
    val want = graft.operators.Ledger.compactionPlan(chl).collect()
      .map(key).sortBy(k => (k._1, k._2))
    for (n <- Seq(1, 3)) {
      val got = CdcStream.compactionParity(spark, chl, nBatches = n)
        .collect().map(key).sortBy(k => (k._1, k._2))
      assert(got.toSeq === want.toSeq, s"nBatches=$n")
    }
  }

  test("ivfIngestMonitor: per-batch trigger history; the final report " +
    "equals the batch ivf_incremental oracle verbatim") {
    val emb = Tables.embeddings(spark, TestSpark.Sf)
    val rep = CdcStream.ivfIngestMonitor(spark, emb, nBatches = 3)
      .collect()
    val lastId = rep.map(_.getAs[Long]("batch_id")).max
    assert(lastId === 2L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("centroid_id"), r.getAs[Long]("n_base"),
        r.getAs[Long]("n_new"), r.getAs[Long]("mean_sim_base_e6"),
        r.getAs[Long]("mean_sim_new_e6"), r.getAs[Long]("growth_ppm"),
        r.getAs[String]("rebalance"))
    val fin = rep.filter(_.getAs[Long]("batch_id") == lastId)
      .map(key).sortBy(_._1)
    val want = graft.operators.Similarity.ivfIncremental(emb)
      .collect().map(key).sortBy(_._1)
    assert(fin.toSeq === want.toSeq)
    // arrivals only accumulate: per centroid, n_new is non-decreasing
    // across batches and n_base is constant (the fast path never
    // reassigns the base)
    rep.groupBy(_.getAs[Long]("centroid_id")).foreach { case (_, rs) =>
      val byBatch = rs.sortBy(_.getAs[Long]("batch_id"))
      val news = byBatch.map(_.getAs[Long]("n_new"))
      assert(news.zip(news.tail).forall { case (a, b) => a <= b },
        s"n_new regressed: ${news.toSeq}")
    }
  }

  test("every harness replays an empty feed to its batch twin's rows " +
    "on the same empty input") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Analytics, Ledger, Similarity, Temporal}
    val ev = Tables.events(spark, TestSpark.Sf).limit(0)
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf)).limit(0)
    val emb = Tables.embeddings(spark, TestSpark.Sf).limit(0)
    val hourly = ev.select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .select(unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n"), col("sum_cents"))
    val pairs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("merge", CdcStream.mergeParity(spark, cl), CdcMerge.merge(cl)),
      ("sessionize", CdcStream.sessionizeParity(spark, cl),
        Temporal.sessionize(cl)),
      ("tier", CdcStream.tierParity(spark, cl), Temporal.tierHistory(cl)),
      ("queue", CdcStream.queueParity(spark, cl),
        Temporal.queueWaitAudit(cl)),
      ("balance", CdcStream.balanceParity(spark, cl),
        Ledger.balanceAudit(cl)),
      ("gap", CdcStream.gapParity(spark, cl), Ledger.sequenceGapAudit(cl)),
      ("compaction", CdcStream.compactionParity(spark, cl),
        Ledger.compactionPlan(cl)),
      ("attribution", CdcStream.attributionParity(spark, ev),
        Analytics.attributionLastTouch(ev)),
      ("transitions", CdcStream.transitionsParity(spark, ev),
        Analytics.eventTransitions(ev)),
      ("funnel", CdcStream.funnelParity(spark, ev),
        Analytics.funnelConversion(ev)),
      ("linear", CdcStream.linearParity(spark, ev),
        Analytics.attributionLinear(ev)),
      ("position", CdcStream.positionParity(spark, ev),
        Analytics.attributionPosition(ev)),
      ("window", CdcStream.windowParity(spark, ev), hourly),
      ("late", CdcStream.lateParity(spark, ev),
        hourly.withColumnRenamed("hour_s", "win_s")),
      ("dedup", CdcStream.dedupParity(spark, ev), ev.select("event_id")),
      ("ivf", CdcStream.ivfIngestMonitor(spark, emb).drop("batch_id"),
        Similarity.ivfIncremental(emb)))
    pairs.foreach { case (name, stream, twin) =>
      def rows(df: DataFrame) =
        df.select(stream.columns.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(rows(stream) === rows(twin), name)
    }
  }

  test("a replay restores the session conf it scopes, also when the " +
    "piped function throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.codegen.wholeStage",
      "spark.sql.streaming.checkpointFileManagerClass")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def snapshot() = keys.map(k => k -> spark.conf.getOption(k))
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
      .limit(200)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
      val before = snapshot()
      assert(CdcStream.mergeParity(spark, cl).count() > 0L)
      assert(snapshot() === before)
      // a value_cents Change cannot up-cast makes the piped function
      // throw inside the replay
      val bad = cl.withColumn("value_cents", col("value_cents").cast("string"))
      intercept[org.apache.spark.sql.AnalysisException](
        CdcStream.mergeParity(spark, bad))
      assert(snapshot() === before)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
