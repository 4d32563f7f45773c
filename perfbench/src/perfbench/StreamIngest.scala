package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.Tables
import graft.operators.ChangeLog
import graft.streaming.CdcStream

/** `stream_ingest`: the StreamRun lane as an open loop. A parquet file
  * source over a drop dir feeds ChangeLog.normalize and
  * CdcStream.changedStates (keyed LWW state) into a memory sink, with
  * the checkpoint on local disk (default checkpoint manager).
  *
  * A timer thread moves one pre-built file of `Rows` changes into the
  * drop dir every `PacedMs` ms whether or not the engine keeps up; each
  * file's latency runs from its due time to the commit of the
  * micro-batch that consumed it. Files are admitted in order with
  * `Rows` rows each, so the cumulative numInputRows of the progress
  * events tells which file each batch consumed. Then `Bursts` times,
  * `BurstFiles` files are dropped at once and the drain rate is
  * measured. The sink's final per-key state is checked against the
  * generator's expected state.
  */
final class StreamIngest extends Workload {
  import StreamIngest._

  private var files: Vector[(Path, Vector[Change])] = Vector.empty
  private var schemaDir: Path = _
  private var nPaced = 0
  private var query: StreamingQuery = _
  private var dropDir: Path = _
  private var sink = ""
  private var progress: Progress = _
  /** Indices of the files dropped for the current query. */
  private val consumed = mutable.ArrayBuffer[Int]()

  def fixtures(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.seed, Keys, Gen.ZipfS, Gen.InsertShare, Gen.DeleteShare)
    nPaced = math.ceil(ctx.seconds * PacedShare * 1000 / PacedMs).toInt
    val dir = ctx.dir("stream/files")
    files = (0 until WarmDrops * DropFiles + nPaced + Bursts * BurstFiles)
      .map(i => dir.resolve(f"f$i%05d.parquet") -> gen.next(Rows)).toVector
    // written in parallel: the changes are already drawn in order
    files.par.foreach { case (f, cs) => EventsFile.write(f, cs) }
    schemaDir = ctx.dir("stream/schema")
    Files.copy(files.head._1, schemaDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Makes files visible in the drop dir: each is copied to a hidden
    * name first, then all are renamed into place, so a micro-batch
    * never sees part of a drop. */
  private def drop(is: Seq[Int]): Unit = {
    val staged = is.map { i =>
      val src = files(i)._1
      val tmp = dropDir.resolve("." + src.getFileName)
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      tmp -> dropDir.resolve(src.getFileName)
    }
    staged.foreach { case (tmp, dst) => Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE) }
    consumed ++= is
  }

  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    import spark.implicits._
    dropDir = ctx.dir(s"stream/drop$round")
    sink = s"perfbench_sink$round"
    progress = new Progress
    spark.streams.addListener(progress)
    val schema = Tables.table(spark, schemaDir.toString, "events").schema
    val raw = spark.readStream.schema(schema).parquet(dropDir.toString)
    val changes = ChangeLog.normalize(raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L))
      .select("user_id", "event_id", "ems", "op", "value_cents").as[CdcStream.Change]
    query = CdcStream.changedStates(spark, changes).writeStream
      .format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ctx.work.resolve(s"stream/ckpt$round").toString)
      .start()
    consumed.clear()
    // round 1 also brings codegen and the JIT to steady state over
    // several micro-batches; later rounds warm only the new query
    (0 until (if (round == 1) WarmDrops else 2)).foreach { d =>
      drop(d * DropFiles until (d + 1) * DropFiles)
      progress.await(consumed.size.toLong * Rows)
    }
  }

  def teardown(): Unit = if (query != null) {
    query.stop()
    query.sparkSession.streams.removeListener(progress)
    query = null
  }

  def measure(spark: SparkSession, tracer: Tracer, ctx: Ctx): RunResult = {
    val base = consumed.size.toLong * Rows
    val firstFile = WarmDrops * DropFiles
    val firstBatch = progress.all.size
    // paced phase: the timer thread drops file i at t0 + i * PacedMs
    val due = new Array[Long](nPaced)
    val late = new Array[Double](nPaced)
    val t0 = System.nanoTime()
    val t0Wall = System.currentTimeMillis()
    val timer = new Thread(() => {
      (0 until nPaced).foreach { i =>
        val at = t0 + i * PacedMs * 1000000L
        while (System.nanoTime() < at) LockSupport.parkNanos(at - System.nanoTime())
        late(i) = (System.nanoTime() - at) / 1e9
        due(i) = t0Wall + i * PacedMs
        drop(Seq(firstFile + i))
      }
    }, "perfbench-timer")
    timer.start()
    // a traced run traces the second half of the paced phase only, so
    // the first half gives the untraced latency it is compared with
    val half = nPaced / 2
    if (ctx.trace) {
      val at = t0 + half * PacedMs * 1000000L
      while (System.nanoTime() < at) LockSupport.parkNanos(at - System.nanoTime())
      tracer.set(true)
    }
    timer.join()
    System.err.println(f"[perfbench] gen.late_s.max=${late.max}%.6f paced_s=${PacedMs / 1e3}%.3f")
    progress.await(base + nPaced.toLong * Rows)
    tracer.set(false)
    val pacedBatches = progress.all.drop(firstBatch)
    val latency = (0 until nPaced).map { i =>
      val need = base + (i + 1L) * Rows
      val b = pacedBatches.find(_.cumRows >= need).get
      (b.commitMs - due(i)) / 1e3
    }

    // burst phase: BurstFiles at once, drain rate from drop to commit
    val drains = (0 until Bursts).map { b =>
      val first = firstFile + nPaced + b * BurstFiles
      val start = System.currentTimeMillis()
      drop(first until first + BurstFiles)
      val need = consumed.size.toLong * Rows
      progress.await(need)
      val commit = progress.all.find(_.cumRows >= need).get.commitMs
      BurstFiles.toLong * Rows / ((commit - start) / 1e3)
    }

    val problems = mutable.ArrayBuffer[String]()
    val want = mutable.Map[Long, KeyRow]()
    Gen.fold(want, consumed.flatMap(i => files(i)._2), dropDeletes = false)
    var got = sinkState(spark)
    if (ctx.corrupt.contains("sink")) got = SyncApply.corruptOne(got)
    if (Gen.streamView(want) != got) {
      val d = Gen.diff(Gen.streamView(want), got)
      problems += s"stream sink state differs from the expected state on ${d.size} keys (e.g. ${d.take(3).mkString(",")})"
    }

    val measured = progress.all.drop(firstBatch).filter(_.rows > 0)
    val untraced = if (ctx.trace) latency.take(half) else latency
    // p90 needs 10 samples beyond it: a traced run takes it over every file
    val e2e = Map("latency_s.p50" -> Stats.median(untraced),
      "throughput_per_s" -> Stats.median(drains))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val backlog = measured.map { b =>
        due.count(d => d > 0 && d <= b.startMs) - (b.cumRows - b.rows - base) / Rows
      }
      val tracedFiles = math.max(1, nPaced - half).toDouble
      tracer.execMetrics(tracer.jobsOf(_.layer == "stream"), tracedFiles) ++
        batchMetrics(measured) ++ Map(
        "stream.latency_s.p50" -> Stats.median(latency),
        "stream.latency_s.p90" -> Stats.quantile(latency, 0.9),
        "stream.drain_changes_per_s" -> Stats.median(drains),
        "stream.batches" -> measured.size.toDouble,
        "stream.backlog_files.max" -> backlog.max.toDouble,
        "gen.late_s.max" -> late.max,
        "tables.loads" -> 1.0,
        "trace.overhead_frac" ->
          (Stats.median(latency.drop(half)) / Stats.median(latency.take(half)) - 1.0))
    }
    RunResult(nPaced + Bursts * BurstFiles, 0, problems.isEmpty, e2e, layers, problems.toSeq)
  }

  /** The sink's final state per key: its latest emitted KeyState. */
  private def sinkState(spark: SparkSession): Map[Long, Product] =
    spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1).map { case (k, rs) =>
        val (_, eid, ems, op, cents) = rs.maxBy(r => (r._3, r._2))
        k -> (eid, op, ems, cents)
      }
}

object StreamIngest {
  /** Traffic dimensions (see perfbench/README.md). */
  val Keys = 20000
  val Rows = 1000
  val PacedMs = 50L
  val PacedShare = 0.7
  val BurstFiles = 30
  val Bursts = 3
  /** Warm-up drops of DropFiles files each: all in round 1, two later. */
  val WarmDrops = 8
  val DropFiles = 3
  val AwaitS = 60

  /** The stream.* per-batch metrics over the given micro-batches. */
  def batchMetrics(bs: Seq[Batch]): Map[String, Double] =
    if (bs.isEmpty) Map.empty
    else {
      def mean(f: Batch => Double) = bs.map(f).sum / bs.size
      Map(
        "stream.rows_per_batch" -> mean(_.rows.toDouble),
        "stream.batch_ms.p50" -> Stats.median(bs.map(_.ms("triggerExecution"))),
        "stream.add_batch_ms" -> mean(_.ms("addBatch")),
        "stream.wal_commit_ms" -> mean(_.ms("walCommit")),
        "stream.commit_offsets_ms" -> mean(_.ms("commitOffsets")),
        "stream.query_planning_ms" -> mean(_.ms("queryPlanning")),
        "stream.latest_offset_ms" -> mean(_.ms("latestOffset")),
        "stream.state_rows" -> bs.last.stateRows.toDouble,
        "stream.state_mem_bytes" -> bs.last.stateMem.toDouble,
        "stream.state_commit_ms" -> mean(_.stateCommitMs.toDouble))
    }

  /** One micro-batch's progress, as the benchmark uses it. */
  final case class Batch(startMs: Long, commitMs: Long, rows: Long, cumRows: Long,
                         durations: Map[String, Long], stateRows: Long,
                         stateMem: Long, stateCommitMs: Long) {
    def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
  }

  /** Collects every progress event of the session's queries. */
  final class Progress extends StreamingQueryListener {
    private val batches = mutable.ArrayBuffer[Batch]()
    private var cum = 0L
    def rows: Long = synchronized(cum)
    def all: Vector[Batch] = synchronized(batches.toVector)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p: StreamingQueryProgress = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        cum += p.numInputRows
        val st = p.stateOperators.headOption
        batches += Batch(start, start + d.getOrElse("triggerExecution", 0L),
          p.numInputRows, cum, d, st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
      }

    /** Blocks until `target` input rows have been committed. */
    def await(target: Long): Unit = {
      val deadline = System.nanoTime() + AwaitS * 1000000000L
      while (rows < target) {
        require(System.nanoTime() < deadline,
          s"stream consumed $rows of $target rows within ${AwaitS}s")
        Thread.sleep(2)
      }
    }
  }
}
