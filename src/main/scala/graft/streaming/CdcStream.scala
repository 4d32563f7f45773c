package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.TimestampType

/** Structured-Streaming form of the CDC pipeline: the reference's
  * poll-loop (`sync/DataPoller.scala:47-80`) becomes a continuous
  * source; per-key ordered apply (`sync/DataSyncer.scala`) becomes
  * keyed state with last-writer-wins; throughput accounting becomes a
  * watermarked windowed aggregation.
  *
  * At scale: state is hash-partitioned by the sync key across
  * executors (same shuffle key as the batch path); state growth is
  * bounded by the optional per-key TTL on latestState (expired keys
  * emit their final state and are evicted — a change arriving after
  * its key expired starts fresh, the usual TTL trade); checkpointing
  * gives exactly-once sinks.
  */
object CdcStream {
  // time units of the parity harnesses' sentinels (declared first: the
  // sentinel vals below read them at object initialization)
  private val HourMs = 3600L * 1000
  private val TenDaysMs = 10L * 24 * HourMs
  private val NsPerMs = 1000000L

  /** One normalized change (streaming twin of ChangeLog.normalize). */
  case class Change(user_id: Long, event_id: Long, ems: Long,
                    op: String, value_cents: Long)

  /** Materialized per-key state after last-writer-wins. */
  case class KeyState(user_id: Long, last_event_id: Long, last_ems: Long,
                      last_op: String, last_value_cents: Long)

  /** LWW change order, the ONE definition every path shares
    * (matches CdcMerge.lastPerKey's struct ordering): (ems, event_id). */
  private def later(aE: Long, aI: Long, bE: Long, bI: Long): Boolean =
    aE > bE || (aE == bE && aI > bI)

  /** Latest change of a micro-batch slice. */
  private def latestOf(batch: Iterator[Change]): Option[Change] =
    batch.reduceOption { (a, b) =>
      if (later(b.ems, b.event_id, a.ems, a.event_id)) b else a
    }

  /** Fold one batch's latest change into the stored state; None when
    * nothing advanced. */
  private def advance(uid: Long, stored: Option[KeyState],
                      incoming: Option[Change]): Option[KeyState] =
    incoming.collect {
      case c if stored.forall(s => later(c.ems, c.event_id, s.last_ems, s.last_event_id)) =>
        KeyState(uid, c.event_id, c.ems, c.op, c.value_cents)
    }

  /** Continuous last-writer-wins: mapGroupsWithState keyed on the sync
    * key; each micro-batch folds its changes into the running maximum
    * by (ems, event_id). Emits the (possibly unchanged) state per key
    * per batch. `stateTtl` evicts keys idle longer than the duration
    * (processing time) — the state-bound for unbounded key spaces.
    */
  def latestState(spark: SparkSession, changes: Dataset[Change],
                  stateTtl: Option[java.time.Duration] = None): Dataset[KeyState] = {
    import spark.implicits._
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    changes
      .groupByKey(_.user_id)
      .mapGroupsWithState[KeyState, KeyState](timeoutConf) {
        (uid: Long, batch: Iterator[Change], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // evict; final state flows out once more
            last
          } else {
            val merged = advance(uid, state.getOption, latestOf(batch))
              .orElse(state.getOption)
              .getOrElse(KeyState(uid, -1L, -1L, "?", 0L)) // unreachable: group has rows
            state.update(merged)
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            merged
          }
      }
  }

  /** Watermarked tumbling-window throughput (streaming twin of the
    * batch `stream_window_agg` query — same hour_s/event_type/n/
    * sum_cents schema). */
  def windowedThroughput(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .select(unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n"), col("sum_cents"))

  /** Change-feed variant: flatMapGroupsWithState emitting a key's state
    * ONLY in micro-batches where it actually advanced — downstream
    * consumers see a delta stream, not a state dump. Same keyed-state
    * shuffle as latestState. */
  def changedStates(spark: SparkSession, changes: Dataset[Change]): Dataset[KeyState] = {
    import spark.implicits._
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Change], state: GroupState[KeyState]) =>
          advance(uid, state.getOption, latestOf(batch)) match {
            case Some(ns) =>
              state.update(ns)
              Iterator.single(ns)
            case None => Iterator.empty // stale or duplicate delivery
          }
      }
  }

  /** Exactly-once ingestion guard: drop redundant deliveries of the
    * same change id within the watermark horizon (the streaming analog
    * of the reference's sync_polled dedup table —
    * `dbopt/PgOperation.scala:27-46`). State is bounded by the
    * watermark; the dedup key is the shuffle key. */
  def dedupDeliveries(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming training-data ingestion — the arrival path of the
    * LLM-pipeline operators run continuously: quality-gate each
    * arriving document (same rules as TextAnalysis.qualityFilter),
    * then drop exact duplicates by normalized content fingerprint
    * within the watermark horizon (dedup state is bounded — an
    * always-growing fingerprint set would OOM a year-long stream; the
    * batch dedup_exact backstops beyond the horizon). The fingerprint
    * is the dedup/shuffle key. Expects (ts, doc_id, text). */
  def ingestDocuments(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .where(TextAnalysis.keepCol)
      .select(col("ts"), col("doc_id"),
        md5(TextAnalysis.normCol.cast("binary")).as("fp"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming vector ingest → index-maintenance trigger — closes the
    * loop between the streaming lane and the vector index. The
    * embeddings table splits by the SAME deterministic delta rule as
    * the batch report (Similarity.isDeltaCol): the non-delta majority
    * plus the coarse-quantizer seeds are the BASE the index was built
    * on; the delta vectors replay as `nBatches` vec_id-contiguous
    * micro-batches through a real file-source stream. The replay's
    * sink lands each arriving batch append-only (the production fast
    * path — assignment needs no retrain); after each batch the monitor
    * emits the [[graft.operators.Similarity.ivfIncremental]] report over
    * base∪arrived: its `rebalance` flags are the retrain trigger, and
    * the per-batch report rows (tagged `batch_id`) are the trigger
    * HISTORY an operator inspects. After the final batch the corpus is
    * exactly the full embeddings table, so the last report equals the
    * batch `ivf_incremental` oracle verbatim — the anchor
    * CdcStreamSpec pins. */
  def ivfIngestMonitor(spark: SparkSession, embeddings: DataFrame,
                       nBatches: Int = 3): DataFrame = {
    import graft.operators.Similarity
    require(nBatches >= 1, s"nBatches must be >= 1 (got $nBatches)")
    val seedHi = Similarity.CentroidLo + Similarity.NumCentroids - 1
    val isSeed = col("vec_id").between(Similarity.CentroidLo, seedHi)
    val base = embeddings.where(!Similarity.isDeltaCol || isSeed)
    val deltas = embeddings.where(Similarity.isDeltaCol && !isSeed)
    // the sink lands the arrivals append-only: after batch i it holds
    // every delta of batches 0..i
    val reports = Seq.newBuilder[DataFrame]
    replay(spark, deltas, ranges("vec_id", nBatches),
      drainEach = Some { (i, arrived) =>
        reports += Similarity.ivfIncremental(base.unionByName(arrived))
          .withColumn("batch_id", lit(i.toLong))
          .localCheckpoint()
      })((df, _) => df)
    reports.result().reduce(_ unionByName _)
  }

  /** A change carrying its event-time column (watermarkable twin of
    * [[Change]] — ts = timestamp_millis(ems)). */
  case class ChangeTs(user_id: Long, event_id: Long, ems: Long,
                      op: String, value_cents: Long,
                      ts: java.sql.Timestamp)

  /** One closed session — matches Temporal.sessionize's row shape. */
  case class Session(user_id: Long, session_id: Long, n_events: Long,
                     start_ms: Long, end_ms: Long, duration_ms: Long)

  /** Open-session state: 1-based session counter + the open window. */
  case class SessionState(seq: Long, n: Long, startMs: Long, endMs: Long)

  /** Event-time TTL on the closed-session (n=0) counter marker: a key
    * idle this long past its last session close is fully evicted, so
    * state stays bounded by ACTIVE key cardinality, not lifetime key
    * cardinality. A key returning after eviction restarts session
    * numbering at 1 — the documented trade for bounded state. */
  val MarkerTtlMs: Long = 7L * 24 * 3600 * 1000

  /** Streaming sessionization — the continuous twin of
    * Temporal.sessionize (same gap rule, same 1-based session ids):
    * flatMapGroupsWithState keyed on the sync key holds ONE open
    * session per key; a session closes when a later event arrives past
    * the gap, or when the event-time WATERMARK passes end+gap (the
    * EventTimeTimeout — so sessions of idle keys still close, bounded
    * by event time, not wall clock). Closed sessions stream out
    * append-only; state per key is four longs regardless of history.
    * Disorder contract: in-batch disorder is fully absorbed (each
    * micro-batch slice sorts on the LWW order before folding); a
    * CROSS-batch late event still inside the watermark merges into
    * the key's open session with correct min/max bounds, but a split
    * the batch operator would have placed between it and the open
    * session is not revisited — exact split parity holds for feeds
    * ordered across batches per key (the spec's replay); beyond the
    * watermark, events are dropped by the watermark contract. */
  def sessionizeStream(spark: SparkSession,
                       changes: Dataset[ChangeTs]): Dataset[Session] = {
    import spark.implicits._
    val gap = graft.operators.Temporal.SessionGapMs
    changes
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[ChangeTs], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.n == 0) {
              // second firing: the n=0 counter marker's TTL expired —
              // evict. The key's next event restarts numbering at 1.
              state.remove()
              Iterator.empty
            } else {
              // close the open session but keep the counter in an n=0
              // "no open session" marker (removing it here would
              // restart numbering for a promptly-returning key); the
              // marker itself is TTL'd so long-idle keys don't leak
              state.update(s.copy(n = 0))
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + MarkerTtlMs)
              Iterator.single(
                Session(uid, s.seq, s.n, s.startMs, s.endMs, s.endMs - s.startMs))
            }
          } else {
            val evs = batch.toSeq.sortBy(c => (c.ems, c.event_id))
            val closed = scala.collection.mutable.ListBuffer.empty[Session]
            var st = state.getOption
            evs.foreach { e =>
              st = st match {
                case Some(s) if s.n > 0 && e.ems - s.endMs <= gap =>
                  // a cross-batch late arrival (negative delta inside
                  // the watermark) extends the bounds downward too
                  Some(s.copy(n = s.n + 1,
                    startMs = math.min(s.startMs, e.ems),
                    endMs = math.max(s.endMs, e.ems)))
                case Some(s) =>
                  if (s.n > 0)
                    closed += Session(uid, s.seq, s.n, s.startMs, s.endMs,
                      s.endMs - s.startMs)
                  Some(SessionState(s.seq + 1, 1, e.ems, e.ems))
                case None =>
                  Some(SessionState(1, 1, e.ems, e.ems))
              }
            }
            st.foreach { s =>
              state.update(s)
              // clamp to just past the CURRENT watermark: Spark admits
              // rows against the previous batch's watermark but
              // validates timeout timestamps against the new one, so
              // after a large watermark jump an honest endMs+gap can
              // land in the past and would throw, killing the query —
              // the clamped session simply times out next batch
              if (s.n > 0)
                state.setTimeoutTimestamp(
                  math.max(s.endMs + gap, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** One closed (or final open) tier period — matches
    * Temporal.tierHistory's row shape. */
  case class TierPeriod(user_id: Long, tier: Long, valid_from_ms: Long,
                        valid_to_ms: Option[Long], n_changes: Long,
                        last_event_id: Long, is_current: String)

  /** Open tier-period state; tier = -1 after the close marker. */
  case class TierState(tier: Long, from: Long, n: Long, lastId: Long)

  /** Continuous gaps-and-islands — the streaming twin of
    * Temporal.tierHistory: per-key state holds the OPEN tier period;
    * an arriving change in a different tier closes it (valid_to = the
    * new period's start, exactly the batch LEAD), a same-tier change
    * extends it. A close marker (op == "Z") flushes the final period
    * as is_current. State is one 4-field struct per key regardless of
    * history length. Feed must be per-key ordered across batches (the
    * parity harness replays contiguous event-time slices); within a
    * batch the group's slice is sorted by (ems, event_id). */
  def tierStream(spark: SparkSession,
                 changes: Dataset[ChangeTs]): Dataset[TierPeriod] = {
    import spark.implicits._
    def tierOf(vc: Long): Long =
      if (vc > 0) 64L - java.lang.Long.numberOfLeadingZeros(vc) else 0L
    changes
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TierState, TierPeriod](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ChangeTs],
         state: GroupState[TierState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[TierPeriod]
          var st = state.getOption
          batch.toSeq.sortBy(e => (e.ems, e.event_id)).foreach { e =>
            if (e.op == "Z") { // close marker: flush the open period
              st.filter(_.tier >= 0).foreach { s =>
                out += TierPeriod(uid, s.tier, s.from, None, s.n,
                  s.lastId, "true")
              }
              st = Some(TierState(-1L, e.ems, 0L, e.event_id))
            } else {
              val t = tierOf(e.value_cents)
              st = st match {
                case Some(s) if s.tier == t =>
                  Some(s.copy(n = s.n + 1,
                    lastId = math.max(s.lastId, e.event_id)))
                case Some(s) =>
                  if (s.tier >= 0)
                    out += TierPeriod(uid, s.tier, s.from, Some(e.ems),
                      s.n, s.lastId, "false")
                  Some(TierState(t, e.ems, 1L, e.event_id))
                case None => Some(TierState(t, e.ems, 1L, e.event_id))
              }
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming↔batch gaps-and-islands parity: the non-delete changelog
    * replays as contiguous event-time micro-batches through
    * [[tierStream]], then one close-marker batch per key flushes the
    * open periods — the result must hash-equal the batch tier_history
    * oracle verbatim. */
  def tierParity(spark: SparkSession, changelog: DataFrame,
                 nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val src = changelog.where(col("op") =!= "D")
      .select(col("user_id"), col("event_id"), col("ems"), col("op"),
        col("value_cents"), timestamp_millis(col("ems")).as("ts"))
    replay(spark, src, ranges("ems", nBatches),
      sentinel = Some(Sentinel(Seq("user_id"), "op" -> "Z", TenDaysMs)))(
      (df, _) => tierStream(spark, df.as[ChangeTs]).toDF())
  }

  /** A raw product event (attribution input; ts = event time, ts_ns =
    * the exact ns-since-epoch the batch operator and oracle order by —
    * events carry sub-millisecond timestamps, so ms ordering would
    * diverge on same-user-same-ms collisions). */
  case class RawEvent(user_id: Long, event_id: Long, ts_ns: Long,
                      event_type: String, value_cents: Long,
                      ts: java.sql.Timestamp)

  /** One attributed purchase. */
  case class Attribution(user_id: Long, event_id: Long,
                         touch_type: String, value_cents: Long)

  /** Per-key attribution state: the last non-purchase event type. */
  case class TouchState(touch: String)

  /** Continuous last-touch attribution — the streaming twin of
    * Analytics.attributionLastTouch: per-key state holds the last
    * non-purchase event type; each arriving purchase is emitted
    * credited to it ('none' before any touch). State is ONE string per
    * key regardless of history length — the streaming-friendly shape
    * of the batch window. Within a micro-batch the group's slice is
    * sorted by (ts_ns, event_id) — the SAME total order as the batch
    * operator and the shared oracle; cross-batch order is the feed's
    * responsibility (the parity harness replays contiguous event-time
    * slices, which preserve per-key order). */
  def attributionStream(spark: SparkSession,
                        evs: Dataset[RawEvent]): Dataset[Attribution] = {
    import spark.implicits._
    evs
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[RawEvent],
         state: GroupState[TouchState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[Attribution]
          var touch = state.getOption.map(_.touch)
          batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            if (e.event_type == "purchase")
              out += Attribution(uid, e.event_id,
                touch.getOrElse("none"), e.value_cents)
            else touch = Some(e.event_type)
          }
          touch.foreach(t => state.update(TouchState(t)))
          out.iterator
      }
  }

  /** Streaming↔batch attribution parity: replay the raw events as
    * contiguous event-time micro-batches through
    * [[attributionStream]]; the rolled-up credit per touch type must
    * hash-equal the batch attribution_last_touch oracle. */
  def attributionParity(spark: SparkSession, events: DataFrame,
                        nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    // slice and sort by the exact ns timestamp — the batch operator and
    // the shared oracle order by ts_ns, and events carry sub-ms
    // precision, so ms-level replay order could flip last-touch credit
    // on same-user-same-ms collisions
    val src = rawEvents(events, round(col("value") * 100).cast("long"))
    replay(spark, src, ranges("ts_ns", nBatches))(
        (df, _) => attributionStream(spark, df.as[RawEvent]).toDF())
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        sum("value_cents").as("revenue_cents"))
  }

  /** The [[RawEvent]] projection of the events table. */
  private def rawEvents(events: DataFrame, valueCents: Column): DataFrame =
    events.select(col("user_id"), col("event_id"), col("ts_ns"),
      col("event_type"), valueCents.as("value_cents"), col("ts"))

  /** The 'end' batch that flushes every user's last state, an hour
    * past the feed (these feeds slice on ns). */
  private val EndOfEvents =
    Sentinel(Seq("user_id"), "event_type" -> "end", HourMs, perMs = NsPerMs)

  /** One emitted next-event transition. */
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Continuous next-event transition extraction — the streaming twin
    * of Analytics.eventTransitions: per-key state holds the previous
    * event type (ONE string per key regardless of history length);
    * each arriving event emits the (prev → current) pair. The batch
    * operator's 'end' sink rows come from the parity harness's final
    * sentinel batch, which drives this same code path (prev →
    * sentinel type), so the stream and the batch matrix carry
    * identical mass. Within a micro-batch the group's slice is sorted
    * by (ts_ns, event_id) — the batch/oracle total order. */
  def transitionsStream(spark: SparkSession,
                        evs: Dataset[RawEvent]): Dataset[Transition] = {
    import spark.implicits._
    evs
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[RawEvent],
         state: GroupState[TouchState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[Transition]
          var prev = state.getOption.map(_.touch)
          batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            prev.foreach(p => out += Transition(uid, p, e.event_type))
            prev = Some(e.event_type)
          }
          prev.foreach(p => state.update(TouchState(p)))
          out.iterator
      }
  }

  /** Streaming↔batch transition-matrix parity: replay the raw events
    * as contiguous event-time micro-batches through
    * [[transitionsStream]], then one 'end'-sentinel batch per user
    * flushes the final transitions; the rolled-up (from, to) matrix
    * with its ppm normalization must hash-equal the batch
    * event_transitions oracle verbatim. */
  def transitionsParity(spark: SparkSession, events: DataFrame,
                        nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val gridW = org.apache.spark.sql.expressions.Window
      .partitionBy("from_type")
    replay(spark, rawEvents(events, lit(0L)), ranges("ts_ns", nBatches),
        sentinel = Some(EndOfEvents))(
        (df, _) => transitionsStream(spark, df.as[RawEvent]).toDF())
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(gridW))
      .withColumn("p_ppm", expr("n * 1000000 div tot"))
      .drop("tot")
  }

  /** Per-user funnel state: first-ever ns timestamp of each stage
    * (0 = not seen; real ts_ns are always positive). O(1) per key. */
  case class FunnelState(ts: Long, tc: Long, tp: Long)
  case class FunnelUser(user_id: Long, t_signup: Long, t_click: Long,
                        t_purchase: Long)

  /** Streaming strict-funnel state: each arriving event lowers its
    * stage's first-ever timestamp; the 'end' sentinel flushes the
    * user's (t_signup, t_click, t_purchase) triple. Stage COMPARISON
    * happens at rollup, exactly like the batch operator — the state
    * is three longs however long the stream runs. */
  def funnelStream(spark: SparkSession,
                   evs: Dataset[RawEvent]): Dataset[FunnelUser] = {
    import spark.implicits._
    evs
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUser](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[RawEvent],
         state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[FunnelUser]
          def low(cur: Long, t: Long): Long =
            if (cur == 0L || t < cur) t else cur
          batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            e.event_type match {
              case "signup"   => s = s.copy(ts = low(s.ts, e.ts_ns))
              case "click"    => s = s.copy(tc = low(s.tc, e.ts_ns))
              case "purchase" => s = s.copy(tp = low(s.tp, e.ts_ns))
              case "end"      => out += FunnelUser(uid, s.ts, s.tc, s.tp)
              case _          => ()
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming↔batch funnel parity: replay the raw events as
    * contiguous event-time micro-batches through [[funnelStream]],
    * flush per-user stage triples with the 'end' sentinel batch, and
    * roll up the strict-funnel counts — must hash-equal the batch
    * funnel_conversion oracle verbatim. */
  def funnelParity(spark: SparkSession, events: DataFrame,
                   nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    replay(spark, rawEvents(events, lit(0L)), ranges("ts_ns", nBatches),
        sentinel = Some(EndOfEvents))(
        (df, _) => funnelStream(spark, df.as[RawEvent]).toDF())
      .agg(
        count(when(col("t_signup") > 0L, 1)).as("n_signup"),
        count(when(col("t_click") > col("t_signup")
          && col("t_signup") > 0L, 1)).as("n_signup_click"),
        count(when(col("t_purchase") > col("t_click")
          && col("t_click") > col("t_signup")
          && col("t_signup") > 0L, 1)).as("n_full_funnel"))
  }

  /** One partition-worker change for the queue-wait replay. */
  case class PartChange(part: Long, event_id: Long, ems: Long,
                        op: String, ts: java.sql.Timestamp)
  /** O(1) Lindley state per partition: last arrival, last service,
    * current wait, and the running report moments. */
  case class QueueState(lastEms: Long, lastSvc: Long, curWait: Long,
                        n: Long, sumWait: Long, maxWait: Long,
                        nWaited: Long, busy: Long, minEms: Long,
                        maxEms: Long)
  case class QueueReport(part: Long, n_events: Long, max_wait_ms: Long,
                         mean_wait_ms: Long, waited_ppm: Long,
                         utilization_ppm: Long)

  /** Continuous queueing-delay monitor — the streaming twin of
    * Temporal.queueWaitAudit, and the shape that shows WHY the batch
    * operator computes the recursion in closed form: online, Lindley
    * is just `w = max(0, w + s_prev − a)` with TEN longs of state per
    * partition worker however long the stream runs. The 'Z' sentinel
    * flushes the per-part report; it must hash-equal the batch oracle
    * verbatim. */
  def queueStream(spark: SparkSession,
                  cs: Dataset[PartChange]): Dataset[QueueReport] = {
    import spark.implicits._
    import graft.operators.Temporal.{ServiceMsD, ServiceMsI, ServiceMsU}
    cs.withWatermark("ts", "2 hours")
      .groupByKey(_.part)
      .flatMapGroupsWithState[QueueState, QueueReport](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (part: Long, batch: Iterator[PartChange],
         state: GroupState[QueueState]) =>
          var s = state.getOption.getOrElse(
            QueueState(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[QueueReport]
          batch.toSeq.sortBy(c => (c.ems, c.event_id)).foreach { c =>
            if (c.op == "Z") {
              if (s.n > 0)
                out += QueueReport(part, s.n, s.maxWait,
                  s.sumWait / s.n,
                  s.nWaited * 1000000L / s.n,
                  s.busy * 1000000L / math.max(s.maxEms - s.minEms, 1L))
            } else {
              val svc = c.op match {
                case "I" => ServiceMsI
                case "U" => ServiceMsU
                case _   => ServiceMsD
              }
              val w = if (s.n == 0L) 0L
                else math.max(0L, s.curWait + s.lastSvc - (c.ems - s.lastEms))
              s = QueueState(c.ems, svc, w, s.n + 1L, s.sumWait + w,
                math.max(s.maxWait, w),
                s.nWaited + (if (w > 0L) 1L else 0L),
                s.busy + svc,
                if (s.n == 0L) c.ems else s.minEms, c.ems)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming↔batch queue-wait parity: contiguous event-time replay
    * of the changelog through [[queueStream]], per-part reports
    * flushed by the 'Z' sentinel batch, pinned verbatim to the batch
    * queue_wait_audit oracle. */
  def queueParity(spark: SparkSession, changelog: DataFrame,
                  nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val src = changelog.select(col("part").cast("long").as("part"),
      col("event_id"), col("ems"), col("op"),
      timestamp_millis(col("ems")).as("ts"))
    replay(spark, src, ranges("ems", nBatches),
      sentinel = Some(closeAll("part")))(
      (df, _) => queueStream(spark, df.as[PartChange]).toDF())
  }

  /** The 'Z' batch that flushes every `keys` group, an hour past the
    * feed. */
  private def closeAll(keys: String*): Sentinel =
    Sentinel(keys, "op" -> "Z", HourMs)

  /** One change for the id-continuity replay (bucket precomputed so
    * the sentinel can target a bucket without owning an id in it). */
  case class GapChange(bucket: Long, event_id: Long, ems: Long,
                       op: String, ts: java.sql.Timestamp)
  /** O(1) continuity state per id bucket. */
  case class GapState(n: Long, lo: Long, hi: Long)
  case class GapBucket(bucket: Long, n_events: Long, id_lo: Long,
                       id_hi: Long)

  /** Continuous per-bucket id-continuity tracking — the streaming twin
    * of Ledger.sequenceGapAudit's aggregation stage: online, each
    * 1024-wide id bucket is THREE longs of state (count, min id, max
    * id) however long the stream runs. The 'Z' sentinel flushes each
    * bucket; the cross-bucket lag classification happens batch-side on
    * the flushed BUCKET GRID (grid-sized, so post-processing cost is
    * id-space-bounded, not stream-bounded). */
  def gapStream(spark: SparkSession,
                cs: Dataset[GapChange]): Dataset[GapBucket] = {
    import spark.implicits._
    cs.withWatermark("ts", "2 hours")
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[GapState, GapBucket](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (bucket: Long, batch: Iterator[GapChange],
         state: GroupState[GapState]) =>
          var s = state.getOption.getOrElse(GapState(0L, Long.MaxValue,
            Long.MinValue))
          val out = scala.collection.mutable.ListBuffer.empty[GapBucket]
          batch.foreach { c =>
            if (c.op == "Z") {
              if (s.n > 0L) out += GapBucket(bucket, s.n, s.lo, s.hi)
            } else {
              s = GapState(s.n + 1L, math.min(s.lo, c.event_id),
                math.max(s.hi, c.event_id))
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming↔batch id-continuity parity: contiguous event-time
    * replay through [[gapStream]], per-bucket triples flushed by the
    * 'Z' sentinel batch, then the SAME super-bucket-partitioned
    * classification as the batch operator over the flushed grid —
    * pinned verbatim to the sequence_gap_audit oracle. */
  def gapParity(spark: SparkSession, changelog: DataFrame,
                nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val bucketWidth = graft.operators.Ledger.SeqBucket
    val src = changelog.select(
      expr(s"event_id div $bucketWidth").as("bucket"),
      col("event_id"), col("ems"), col("op"),
      timestamp_millis(col("ems")).as("ts"))
    // the SAME fully-partitioned super-bucket classification as the
    // batch operator (Ledger.gapClassifyFrom) — no global lag window
    graft.operators.Ledger.gapClassifyFrom(
      replay(spark, src, ranges("ems", nBatches),
        sentinel = Some(closeAll("bucket")))(
        (df, _) => gapStream(spark, df.as[GapChange]).toDF()))
  }

  /** One product event for the linear-attribution replay. */
  case class LinEvent(user_id: Long, event_id: Long, ts_ns: Long,
                      ems: Long, event_type: String, value_cents: Long,
                      ts: java.sql.Timestamp)
  /** Per-user journey state: touch-type counts since the last
    * purchase (parallel seqs — O(|event types|) per user). */
  case class LinState(types: Seq[String], counts: Seq[Long])
  case class LinCredit(touch_type: String, n_touches_row: Long,
                       credit_milli: Long)

  /** Continuous linear multi-touch attribution — the streaming twin
    * of Analytics.attributionLinear: per user the open journey is a
    * handful of (touch type, count) pairs of state; each purchase
    * closes the journey, emits one credit row per touched type with
    * the SAME truncating milli-cent split as the batch window form,
    * and resets. Touchless purchases credit 'none'; trailing touches
    * after the last purchase die with the stream exactly as the batch
    * join drops them. */
  def linearStream(spark: SparkSession,
                   es: Dataset[LinEvent]): Dataset[LinCredit] = {
    import spark.implicits._
    es.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LinState, LinCredit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[LinEvent],
         state: GroupState[LinState]) =>
          val s = state.getOption.getOrElse(LinState(Nil, Nil))
          val counts = scala.collection.mutable.LinkedHashMap(
            s.types.zip(s.counts): _*)
          val out = scala.collection.mutable.ListBuffer.empty[LinCredit]
          batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              val total = counts.values.sum
              if (total == 0L)
                out += LinCredit("none", 1L, e.value_cents * 1000L)
              else {
                val per = e.value_cents * 1000L / total
                counts.foreach { case (t, n) =>
                  out += LinCredit(t, n, per * n)
                }
              }
              counts.clear()
            } else {
              counts(e.event_type) =
                counts.getOrElse(e.event_type, 0L) + 1L
            }
          }
          state.update(LinState(counts.keys.toSeq,
            counts.values.toSeq))
          out.iterator
      }
  }

  /** Streaming↔batch linear-attribution parity: contiguous event-time
    * replay through [[linearStream]]; the per-purchase credit rows
    * roll up per touch type and must hash-equal the batch
    * attribution_linear oracle verbatim. */
  def linearParity(spark: SparkSession, events: DataFrame,
                   nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    replay(spark, linEvents(events), ranges("ems", nBatches))(
        (df, _) => linearStream(spark, df.as[LinEvent]).toDF())
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_journeys"),
        sum("n_touches_row").as("n_touches"),
        sum("credit_milli").as("credit_milli_cents"))
  }

  /** The [[LinEvent]] projection of the events table. */
  private def linEvents(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"),
      col("ts_ns"), expr("ts_ns div 1000000").as("ems"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"),
      timestamp_millis(expr("ts_ns div 1000000")).as("ts"))

  /** Per-user U-shape journey state: the first and most recent touch
    * types plus per-type counts since the last purchase — O(|event
    * types|) per user however long the stream runs (the closed-journey
    * history is never re-read). */
  case class PosState(firstType: String, lastType: String,
                      types: Seq[String], counts: Seq[Long])
  case class PosCredit(touch_type: String, role: String, n_rows: Long,
                       credit_milli: Long)

  /** Pure U-shape credit computation for ONE closed journey — shared
    * by [[positionStream]] and the ScalaCheck conservation property,
    * so the streaming state machine and the tested arithmetic cannot
    * drift. `counts` is the journey's per-type touch census;
    * first/last are its endpoint touch types. Same role conventions
    * and truncating-div order as the batch window form and the
    * DuckDB oracle. */
  private[graft] def posCredits(firstType: String, lastType: String,
                                counts: Seq[(String, Long)],
                                valueCents: Long): Seq[PosCredit] = {
    import graft.operators.Analytics.{PosDen, PosEndNum}
    val total = counts.map(_._2).sum
    val m = valueCents * 1000L
    if (total == 0L) Seq(PosCredit("none", "none", 1L, m))
    else if (total == 1L) Seq(PosCredit(firstType, "solo", 1L, m))
    else if (total == 2L)
      Seq(PosCredit(firstType, "first", 1L, m / 2L),
        PosCredit(lastType, "last", 1L, m / 2L))
    else {
      val end = m * PosEndNum / PosDen
      val each = m / PosDen / (total - 2L)
      Seq(PosCredit(firstType, "first", 1L, end),
        PosCredit(lastType, "last", 1L, end)) ++
        counts.flatMap { case (t, n) =>
          val mid = n - (if (t == firstType) 1L else 0L) -
            (if (t == lastType) 1L else 0L)
          if (mid > 0L) Some(PosCredit(t, "mid", mid, each * mid))
          else None
        }
    }
  }

  /** Continuous position-based (U-shaped) attribution — the streaming
    * twin of Analytics.attributionPosition: the open journey is the
    * (first, last, per-type counts) triple of state; each purchase
    * closes it with the SAME role conventions and truncating
    * milli-cent splits as the batch window form (solo / first+last
    * halves / PosEndNum-PosDen endpoints with the pool div applied
    * BEFORE the per-touch div) and resets. Touchless purchases credit
    * 'none'; trailing touches after the last purchase die with the
    * stream exactly as the batch join drops them. */
  def positionStream(spark: SparkSession,
                     es: Dataset[LinEvent]): Dataset[PosCredit] = {
    import spark.implicits._
    es.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PosState, PosCredit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[LinEvent],
         state: GroupState[PosState]) =>
          var s = state.getOption.getOrElse(PosState("", "", Nil, Nil))
          val counts = scala.collection.mutable.LinkedHashMap(
            s.types.zip(s.counts): _*)
          val out = scala.collection.mutable.ListBuffer.empty[PosCredit]
          batch.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              out ++= posCredits(s.firstType, s.lastType, counts.toSeq,
                e.value_cents)
              counts.clear()
              s = PosState("", "", Nil, Nil)
            } else {
              val first =
                if (counts.values.sum == 0L) e.event_type else s.firstType
              s = PosState(first, e.event_type, Nil, Nil)
              counts(e.event_type) =
                counts.getOrElse(e.event_type, 0L) + 1L
            }
          }
          state.update(PosState(s.firstType, s.lastType,
            counts.keys.toSeq, counts.values.toSeq))
          out.iterator
      }
  }

  /** Streaming↔batch U-shape attribution parity: contiguous event-time
    * replay through [[positionStream]]; the per-purchase credit rows
    * roll up per (touch type, role) and must hash-equal the batch
    * attribution_position oracle verbatim. */
  def positionParity(spark: SparkSession, events: DataFrame,
                     nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    replay(spark, linEvents(events), ranges("ems", nBatches))(
        (df, _) => positionStream(spark, df.as[LinEvent]).toDF())
      .groupBy("touch_type", "role")
      .agg(sum("n_rows").as("n_credits"),
        sum("credit_milli").as("credit_milli_cents"))
  }

  /** One change for the micro-batch file-inventory replay. */
  case class FileChange(db: String, win: Long, ems: Long, op: String,
                        ts: java.sql.Timestamp)
  case class FileCount(db: String, win: Long, n_rows: Long)

  /** Continuous per-(db, ingest-window) row counting — the streaming
    * twin of compaction_plan's file-inventory stage: online, each
    * landed micro-batch file is ONE long of state (its row count).
    * The 'Z' sentinel flushes the inventory; the cumulative binning
    * runs batch-side on the flushed FILE GRID via the same
    * Ledger.compactionBinsFrom the batch operator uses — one code
    * path, one oracle. */
  def compactionStream(spark: SparkSession,
                       cs: Dataset[FileChange]): Dataset[FileCount] = {
    import spark.implicits._
    cs.withWatermark("ts", "2 hours")
      .groupByKey(c => (c.db, c.win))
      .flatMapGroupsWithState[Long, FileCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: (String, Long), batch: Iterator[FileChange],
         state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ListBuffer.empty[FileCount]
          batch.foreach { c =>
            if (c.op == "Z") { if (n > 0L) out += FileCount(k._1, k._2, n) }
            else n += 1L
          }
          state.update(n)
          out.iterator
      }
  }

  /** Streaming↔batch compaction parity: contiguous event-time replay
    * through [[compactionStream]], per-file counts flushed by the 'Z'
    * sentinel batch, binned by the batch operator's own
    * compactionBinsFrom — pinned verbatim to the compaction_plan
    * oracle. */
  def compactionParity(spark: SparkSession, changelog: DataFrame,
                       nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val winMs = graft.operators.Ledger.CompactWinMs
    val src = changelog.select(
      graft.operators.Ledger.dbCol.as("db"),
      expr(s"ems div $winMs").as("win"),
      col("ems"), col("op"),
      timestamp_millis(col("ems")).as("ts"))
    graft.operators.Ledger.compactionBinsFrom(
      replay(spark, src, ranges("ems", nBatches),
        sentinel = Some(closeAll("db", "win")))(
        (df, _) => compactionStream(spark, df.as[FileChange]).toDF()))
  }

  /** One user's change for the balance replay. */
  case class BalChange(user_id: Long, event_id: Long, ems: Long,
                       op: String, value_cents: Long,
                       ts: java.sql.Timestamp)
  /** O(1) balance state per user: running balance, its minimum, the
    * count of above-zero → below-zero crossings, and a seen flag. */
  case class BalState(bal: Long, minBal: Long, dips: Long, seen: Long)
  case class BalUser(user_id: Long, min_bal: Long, dips: Long,
                     end_bal: Long)

  /** Continuous per-user running balance — the streaming twin of
    * Ledger.balanceAudit, and the shape that shows why the batch
    * operator's ROWS-framed window is the right closed form: online,
    * the balance is FOUR longs of state per user however long the
    * stream runs (the ledger never re-reads history). The 'Z' sentinel
    * flushes each user's (min_bal, dips, end_bal) triple; rolled up
    * per db it must hash-equal the batch oracle verbatim. */
  def balanceStream(spark: SparkSession,
                    cs: Dataset[BalChange]): Dataset[BalUser] = {
    import spark.implicits._
    cs.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BalState, BalUser](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[BalChange],
         state: GroupState[BalState]) =>
          var s = state.getOption.getOrElse(BalState(0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[BalUser]
          batch.toSeq.sortBy(c => (c.ems, c.event_id)).foreach { c =>
            if (c.op == "Z") {
              if (s.seen > 0L) out += BalUser(uid, s.minBal, s.dips, s.bal)
            } else {
              val delta = c.op match {
                case "I" => c.value_cents
                case "U" => -c.value_cents
                case _   => 0L
              }
              val bal = s.bal + delta
              s = BalState(bal,
                if (s.seen == 0L) bal else math.min(s.minBal, bal),
                s.dips + (if (bal < 0L && s.bal >= 0L) 1L else 0L),
                s.seen + 1L)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming↔batch balance parity: contiguous event-time replay of
    * the changelog through [[balanceStream]], per-user triples flushed
    * by the 'Z' sentinel batch, rolled up per db and pinned verbatim
    * to the batch balance_audit oracle. */
  def balanceParity(spark: SparkSession, changelog: DataFrame,
                    nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val src = changelog.select(col("user_id"), col("event_id"),
      col("ems"), col("op"), col("value_cents"),
      timestamp_millis(col("ems")).as("ts"))
    replay(spark, src, ranges("ems", nBatches),
        sentinel = Some(closeAll("user_id")))(
        (df, _) => balanceStream(spark, df.as[BalChange]).toDF())
      .groupBy(concat(lit("db"),
        pmod(col("user_id"), lit(3L)).cast("string")).as("db"))
      .agg(count(lit(1)).as("n_users"),
        sum((col("min_bal") < 0L).cast("long")).as("n_overdrawn"),
        min("min_bal").as("min_balance_cents"),
        sum("dips").as("n_dips"),
        sum("end_bal").as("end_balance_sum_cents"))
  }

  /** Adaptive poll backoff — the exact wait-time policy of
    * `/root/reference/.../sync/DataPoller.scala:60-74`: sleep
    * `(batch - polled)/batch · maxPollWait` ms after each poll (full
    * batch ⇒ 0, poll again immediately; empty poll ⇒ full backoff).
    * Integer arithmetic so the streaming trigger, the Ledger
    * poll_backoff query and the DuckDB oracle agree bit-for-bit. */
  def backoffMs(polled: Long, batch: Long, maxPollWaitMs: Long): Long = {
    require(batch > 0, "batch must be > 0")
    (batch - math.min(polled, batch)) * maxPollWaitMs / batch
  }

  /** Wire a changes stream through latestState into an in-memory sink
    * (used by tests; a production run would writeStream to a table with
    * a checkpoint location). */
  def runToMemory(spark: SparkSession, changes: Dataset[Change],
                  queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    latestState(spark, changes).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()

  private val parityRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** What a replay reads off its feed before staging, in ONE aggregate:
    * the slicing column's [lo, hi] and the largest event id (0 for a
    * feed without one). */
  private case class Bounds(lo: Long, hi: Long, maxId: Long)

  /** How a replay cuts its feed into `n` micro-batches: `index` gives
    * each row its batch number (null: the row is not replayed). A split
    * that slices `on` a column reads the feed's [[Bounds]] first, and an
    * empty feed then replays as one empty batch; the other splits see
    * zero bounds. */
  private case class Split(n: Int, index: Bounds => Column,
                           on: Option[String] = None)

  /** `n` contiguous ranges of the long column `c` over the feed's
    * [lo, hi]: range i is [lo+span·i/n, lo+span·(i+1)/n), the last one
    * closed at hi — batch edges computed from the bounds aggregate,
    * never from collected rows. */
  private def ranges(c: String, n: Int): Split =
    Split(n, b => rangeIndex(col(c), b, n), Some(c))

  private def rangeIndex(c: Column, b: Bounds, n: Int): Column = {
    val span = b.hi - b.lo + 1
    (0 until n).foldLeft(lit(null).cast("int")) { (acc, i) =>
      when(c >= b.lo + span * i / n, i).otherwise(acc)
    }
  }

  /** The flush batch a harness appends after its data: one row per
    * distinct `keys` value (a single row when `keys` is empty), set
    * `afterMs` past the feed's last instant, with an event id one past
    * the feed's largest and `marker` = (column, value); the feed's
    * other columns read zero. `perMs` is the slicing column's units
    * per millisecond. */
  private case class Sentinel(keys: Seq[String], marker: (String, String),
                              afterMs: Long, perMs: Long = 1L) {
    def rows(src: DataFrame, on: String, b: Bounds): DataFrame = {
      val at = b.hi + afterMs * perMs
      val cols = src.schema.map { f =>
        (f.name match {
          case k if keys.contains(k) => col(k)
          case m if m == marker._1 => lit(marker._2)
          case "event_id" => lit(b.maxId + 1L)
          case c if c == on => lit(at)
          case _ if f.dataType == TimestampType =>
            timestamp_millis(lit(at / perMs))
          case _ => lit(0L)
        }).as(f.name)
      }
      val perKey =
        if (keys.isEmpty) src.sparkSession.range(1).toDF()
        else src.select(keys.map(col): _*).distinct()
      perKey.select(cols: _*)
    }
  }

  /** The one replay runner behind every parity harness (the contract
    * they check: a stream's result on the whole feed equals the batch
    * query's). It splits `src` into micro-batches by `split`, appends
    * the `sentinel` flush batch, stages each batch to its own parquet
    * file and feeds them IN ORDER through the file-stream source (the
    * same lane the production StreamRun uses) into `pipe` and a
    * uniquely-named memory sink, then returns the sink contents eagerly
    * checkpointed (so they outlive the dropped temp view). `pipe` also
    * sees the feed's bounds, for guards on the sentinel's output.
    *
    * The batches stay DataFrames end to end — splitting, staging and
    * the piped computation all run distributed; nothing but the bounds
    * aggregate is collected, so the verification lane scales with the
    * corpus like the operators it checks. `maxFilesPerTrigger=1` pins
    * the one-file-per-micro-batch replay order. `drainEach` moves the
    * files one at a time and drains after each, handing it the batch
    * number and the sink so far. */
  private def replay(spark: SparkSession, src: DataFrame, split: Split,
      mode: OutputMode = OutputMode.Append(),
      sentinel: Option[Sentinel] = None,
      drainEach: Option[(Int, DataFrame) => Unit] = None)
      (pipe: (DataFrame, Bounds) => DataFrame): DataFrame = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val agg = split.on.map { c =>
      val maxId =
        if (src.columns.contains("event_id")) max("event_id") else lit(0L)
      src.agg(min(c), max(c), maxId).collect()(0)
    }
    val empty = agg.exists(_.isNullAt(0))
    val b = agg.filterNot(_.isNullAt(0)).fold(Bounds(0L, 0L, 0L))(r =>
      Bounds(r.getLong(0), r.getLong(1), r.getAs[Long](2)))
    val (feed, n) =
      if (empty) (src.withColumn("__b", lit(0)), 1) // one empty batch
      else {
        val data = src.withColumn("__b", split.index(b))
        sentinel.fold((data, split.n)) { s =>
          (data.unionByName(s.rows(src, split.on.get, b)
            .withColumn("__b", lit(split.n))), split.n + 1)
        }
      }
    val name = s"parity_${parityRuns.incrementAndGet()}"
    // RAM-backed scratch when available: the replay's staging files,
    // offset/commit logs and state-store deltas are all throwaway
    // verification artifacts, and their fsyncs dominate the fixed
    // per-micro-batch cost on a disk-backed /tmp. The PRODUCTION lane
    // (StreamRun) keeps its checkpoint wherever the deployment puts
    // it — this shortcut applies only to the parity harness scratch.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, s"graft_$name")
      else Files.createTempDirectory(s"graft_$name")
    val inDir = Files.createDirectories(root.resolve("in"))
    // Stage every micro-batch in ONE pass: hash-repartition the feed on
    // its batch index (all rows of one batch land in exactly one task)
    // and write partitionBy — one scan + one write job instead of a
    // sequential coalesce(1) job per batch. Only intra-file row order
    // is free, which no parity pipe observes (the state shuffles
    // re-order within a micro-batch anyway). An empty batch writes no
    // partition dir — staged separately below (rare).
    val stageAll = root.resolve("stage")
    feed.where(col("__b").isNotNull)
      .repartition(n, col("__b"))
      .write.partitionBy("__b").mode("overwrite").parquet(stageAll.toString)
    val rows = feed.drop("__b")
    val staged: Seq[Path] = (0 until n).map { i =>
      val d = stageAll.resolve(s"__b=$i")
      if (!Files.isDirectory(d))
        rows.limit(0).coalesce(1).write.mode("overwrite").parquet(d.toString)
      Files.list(d).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no staged part file under $d"))
    }
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    // Session conf scoped to the replay and restored after it, even
    // when the pipe or the query fails:
    // - few state partitions: every micro-batch commits one state-store
    //   file PER shuffle partition PER stateful stage, and the parity
    //   state is key-count-sized (thousands of keys at verify scale),
    //   so 32 partitions buy nothing but file churn — measured ~2x wall
    //   on the 13-harness family. The checkpoint is fresh per replay
    //   (partition count is free to differ between runs), and results
    //   are partition-count-invariant. A production deployment sizes
    //   this to its key cardinality.
    // - interpreted execution: each distinct harness plan pays ~1s of
    //   Janino whole-stage compilation in its FIRST micro-batch, while
    //   a replay's rows are only thousands — interpreted row processing
    //   is microseconds here and results are bit-identical (same plan,
    //   same operators; codegen is an execution strategy, not a
    //   semantics). perfbench's traced registry_mix run measures the
    //   per-batch phases (stream.add_batch_ms, stream.wal_commit_ms, …)
    //   from the query progress. The production lane (StreamRun) keeps
    //   codegen, which wins as soon as rows dominate compile time.
    // - the nio checkpoint manager: the default local manager's
    //   ChecksumFileSystem writes cost ~105ms of every ~300ms
    //   micro-batch across the offsets/commits/state logs even on a RAM
    //   disk; the nio manager keeps the atomic-rename contract and cuts
    //   that to ~1ms. The production lane keeps the default for
    //   fault-tolerant storage.
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[NioCheckpointFileManager].getName)
    val outer = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    val result = try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      val query = pipe(stream, b).writeStream.format("memory")
        .option("checkpointLocation", root.resolve("chk").toString)
        .queryName(name).outputMode(mode).start()
      try drainEach match {
        case Some(f) =>
          staged.zipWithIndex.foreach { case (part, i) =>
            Files.move(part, inDir.resolve(f"batch_$i%05d.parquet"))
            query.processAllAvailable()
            f(i, spark.table(name))
          }
        case None =>
          // Place every staged file up front with strictly increasing
          // mtimes — the file source admits oldest-first, one per
          // micro-batch (fileSortOrder is mtime ascending), so ONE
          // processAllAvailable replays the whole feed in order, minus
          // a scheduler round-trip per batch (~0.5s/harness across the
          // family). Caveat, measured: without the interleaved no-data
          // batches, the LATE-EVENT filter watermark (which Spark holds
          // one batch BEHIND the eviction watermark) lags one data
          // batch further, so any harness whose CONTRACT is the
          // per-batch late-drop cadence must drain each file
          // (lateParity, whose oracle replays the per-batch watermark
          // recurrence).
          staged.zipWithIndex.foreach { case (part, i) =>
            // stamp the mtime BEFORE the move: the query is already
            // polling, and a file listed between move and stamp would
            // be admitted with its REAL mtime — pushing SeenFilesMap's
            // maxFileAge purge threshold to ~now-7d, silently dropping
            // every later epoch-stamped file. Rename on one filesystem
            // preserves the pre-set mtime, so no such window exists.
            Files.setLastModifiedTime(part,
              java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
            Files.move(part, inDir.resolve(f"batch_$i%05d.parquet"))
          }
          query.processAllAvailable()
      } finally query.stop()
      spark.table(name).localCheckpoint()
    } finally outer.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.catalog.dropTempView(name)
    // best-effort cleanup of the staged inputs
    Files.walk(root).iterator().asScala.toSeq.reverse
      .foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
    result
  }

  /** Streaming↔batch sessionization parity harness — [[mergeParity]]'s
    * twin for [[sessionizeStream]]: replays the changelog as `nBatches`
    * CONTIGUOUS event-time chunks (the sessionizer's cross-batch
    * contract is exact parity for per-key-ordered feeds), then a
    * far-future sentinel event per key — the sentinel's arrival closes
    * every key's open real session through the DATA path in that same
    * batch (no timeout needed); the sentinel's own 1-event session
    * never closes (its timeout sits past the final watermark) so only
    * real sessions reach the sink, with the start_ms filter as an
    * explicit guard. Emits exactly the batch `sessionize` row shape,
    * pinned by the same oracle SQL. */
  def sessionizeParity(spark: SparkSession, changelog: DataFrame,
                       nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val src = changelog
      .select(col("user_id"), col("event_id"), col("ems"), col("op"),
        col("value_cents"), timestamp_millis(col("ems")).as("ts"))
    replay(spark, src, ranges("ems", nBatches),
      sentinel = Some(Sentinel(Seq("user_id"), "op" -> "U", TenDaysMs)))(
      (df, b) => sessionizeStream(spark, df.as[ChangeTs]).toDF()
        .where(col("start_ms") < b.hi + TenDaysMs)) // guard: sentinel sessions
  }

  /** Exactly-once parity harness for [[dedupDeliveries]]: every event
    * is delivered TWICE (two full at-least-once passes in separate
    * micro-batches); the surviving stream must be each event exactly
    * once — second copies inside the watermark horizon are deduped by
    * state, those behind the watermark are dropped as late, and either
    * way the output hash-equals the oracle's plain `SELECT event_id`.
    * Catches both failure modes (a dropped first delivery or a leaked
    * duplicate) cross-engine. */
  def dedupParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val twice = Split(2, _ => explode(array(lit(0), lit(1))))
    replay(spark, events.select(col("event_id"), col("ts")), twice)(
        (df, _) => dedupDeliveries(df))
      .select(col("event_id"))
  }

  /** Streaming↔batch windowed-aggregation parity harness: replays the
    * events through [[windowedThroughput]] as `nBatches` arbitrary
    * micro-batches in Complete output mode (state is never evicted, so
    * late chunks still land in their window) — the final sink table IS
    * the full windowed aggregate and must hash-equal the batch
    * `stream_window_agg` oracle. */
  def windowParity(spark: SparkSession, events: DataFrame,
                   nBatches: Int = 3): DataFrame = {
    val src = events.select(col("ts"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"),
      unix_millis(col("ts")).as("ems"))
    replay(spark, src, ranges("ems", nBatches), OutputMode.Complete())(
      (df, _) => windowedThroughput(df))
  }

  /** Allowed lateness, window width and straggler share (1-in-10 by
    * portable hash) for [[lateParity]]. The 5-minute window bounds the
    * sentinel flush (span/5min windows, not span/1min) without losing
    * either semantic path — stragglers jump a whole range, so nearly
    * all still land behind the watermark. */
  val LateDelayMs = 5000L
  val LateWindowMs = 300000L
  val LateStragglerMod = 10L

  /** Batch count of the late-parity replay — shared with the DuckDB
    * oracle, which generates its range-assignment CASE chain from this
    * same constant (a divergent count would silently desynchronize the
    * two watermark replays). */
  val LateBatches = 4

  /** Streaming↔batch WATERMARK parity harness — pins Spark's
    * late-data-drop semantics cross-engine, the one streaming behavior
    * the batch late_data_audit sizes but cannot itself verify. The
    * events table arrives ts-ordered, so lateness is modeled
    * explicitly: the corpus replays as `nBatches` contiguous
    * event-time ranges, but a deterministic 1-in-10 of events
    * (portable hash, never rand()) STRAGGLE — they arrive one
    * micro-batch after their range. The watermarked 5-minute windowed
    * aggregate in Append mode must then drop exactly the stragglers
    * whose window closed before their arrival watermark (wm = max
    * event time seen in prior batches − [[LateDelayMs]]) and keep the
    * rest — both the drop and the keep path are exercised. A
    * far-future sentinel event closes every real window (its own
    * window is filtered by start time). The DuckDB oracle replays the
    * same batch assignment + watermark recurrence in SQL and must
    * hash-match the surviving aggregate exactly. */
  def lateParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val src = events.select(col("ts"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"),
      col("event_id"), unix_millis(col("ts")).as("ems"))
    val straggles = pmod(graft.functions.PortableHash.phash(
      concat(lit("late:"), col("event_id").cast("string"))),
      lit(LateStragglerMod)) === 0L
    // ranges 0..LateBatches-1, plus the batch the last range's
    // stragglers arrive in
    val split = Split(LateBatches + 1, b =>
      rangeIndex(col("ems"), b, LateBatches) +
        when(straggles, lit(1)).otherwise(lit(0)), Some("ems"))
    replay(spark, src, split,
      sentinel = Some(Sentinel(Nil, "event_type" -> "zz_sentinel", TenDaysMs)),
      drainEach = Some((_, _) => ())) { (df, b) =>
      df.withWatermark("ts", s"${LateDelayMs / 1000} seconds")
        .groupBy(window(col("ts"), s"${LateWindowMs / 1000} seconds"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
        .select(unix_timestamp(col("window.start")).as("win_s"),
          col("event_type"), col("n"), col("sum_cents"))
        .where(col("win_s") * 1000 <= b.hi)
    }
  }

  /** Streaming↔batch LWW parity harness (batch-facing): replays the
    * normalized changelog through [[latestState]] as `nBatches`
    * micro-batches split on `event_id % nBatches` — an interleave, so
    * nearly every key's history straddles batch boundaries — and
    * returns the final keyed state through EXACTLY the cdc_merge
    * projection (deletes dropped, epoch_s = ems div 1000), so the
    * batch query's DuckDB oracle pins the continuous path cross-engine.
    *
    * This is a harness, not a pipeline operator — but it scales like
    * one: batches are DataFrame slices staged to parquet and consumed
    * through the file-stream source (StreamRun's lane); the state fold
    * runs distributed, keyed on user_id like the batch merge's
    * shuffle, and nothing collects the relation to the driver. */
  def mergeParity(spark: SparkSession, changelog: DataFrame,
                  nBatches: Int = 3): DataFrame = {
    import spark.implicits._
    val src = changelog
      .select("user_id", "event_id", "ems", "op", "value_cents")
    val interleave =
      Split(nBatches, _ => pmod(col("event_id"), lit(nBatches.toLong)))
    // Update-mode memory sink appends each batch's emissions — the
    // final state per key is the LWW max, same struct order as batch
    replay(spark, src, interleave, OutputMode.Update())(
        (df, _) => latestState(spark, df.as[Change]).toDF())
      .groupBy("user_id")
      .agg(max(struct(col("last_ems"), col("last_event_id"),
        col("last_op"), col("last_value_cents"))).as("s"))
      .where(col("s.last_op") =!= "D")
      .select(col("user_id"),
        col("s.last_event_id").as("last_event_id"),
        col("s.last_op").as("last_op"),
        expr("s.last_ems div 1000").as("last_epoch_s"),
        col("s.last_value_cents").as("last_value_cents"))
  }
}
