package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.config.SyncConfig
import graft.monitor.StatusServer
import graft.operators.{CdcMerge, ChangeLog, Endpoints, Ledger}
import graft.sources.JdbcSync

/** `sync_apply`: the reference's own job as a closed loop. Each cycle
  * polls one new sf-shaped dir of `Batch` changes and runs
  *   1. Tables.events + ChangeLog.normalize
  *   2. JdbcSync.writeUpsertPortable(CdcMerge.merge(cl))
  *   3. JdbcSync.writeDelete of the keys whose latest op is D
  *   4. Ledger.batchAck(cl), collected
  *   5. StatusServer.refresh(Endpoints.statusJson(spark, cl)) and one
  *      GET /status/sync
  * against an in-memory Derby target pre-loaded with every key. The
  * acks and the status body are checked per cycle, the Derby read-back
  * once at the end, all against the generator's expected state.
  */
final class SyncApply extends Workload {
  import SyncApply._

  private var gen: Gen = _
  private var warm: Seq[(Path, Vector[Change])] = Nil
  private val cycles = mutable.ArrayBuffer[(Path, Vector[Change])]()
  private var work: Ctx = _
  /** Changes applied to the current round's target before measuring. */
  private var applied: Seq[Change] = Nil
  private var server: StatusServer = _
  private val db = "memory:perfbench_sync"

  private val sync = SyncConfig(sourceDb = "db0", targetDb = "tdb0",
    sourceSchema = "app", sourceTable = "user_state", sourceKeys = "user_id")

  private def cycleDir(name: String): (Path, Vector[Change]) = {
    val changes = gen.next(Batch)
    val dir = work.dir(s"sync/$name")
    EventsFile.write(dir.resolve("events.parquet"), changes)
    dir -> changes
  }

  /** The warm-up cycles' dirs; measured cycles' dirs are written just
    * before each cycle, outside its timing. */
  def fixtures(ctx: Ctx): Unit = {
    work = ctx
    gen = new Gen(ctx.seed, Keys, Gen.ZipfS, Gen.InsertShare, Gen.DeleteShare)
    warm = (1 to WarmCycles).map(i => cycleDir(s"warm$i"))
  }

  /** Each round re-creates the target's contents (every key
    * pre-loaded) in the one in-memory database, so Derby's compiled
    * statements stay warm across rounds like a long-lived target's,
    * then runs the same `WarmCycles` cycles on it. */
  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = conn.createStatement()
      if (round == 1)
        st.execute("""CREATE TABLE app.user_state (user_id BIGINT PRIMARY KEY,
          |last_event_id BIGINT, last_op VARCHAR(8), last_epoch_s BIGINT,
          |last_value_cents BIGINT)""".stripMargin)
      else st.execute("DELETE FROM app.user_state")
      st.close()
      conn.setAutoCommit(false)
      val ins = conn.prepareStatement("INSERT INTO app.user_state VALUES (?, ?, ?, ?, ?)")
      (0L until Keys.toLong).grouped(JdbcSync.UpsertBatchSize).foreach { ks =>
        ks.foreach { k =>
          val r = Gen.preloadRow(k)
          ins.setLong(1, k); ins.setLong(2, r.eventId); ins.setString(3, r.op)
          ins.setLong(4, r.epochS); ins.setLong(5, r.cents)
          ins.addBatch()
        }
        ins.executeBatch()
        conn.commit()
      }
      ins.close()
    } finally conn.close()
    server = new StatusServer().start()
    // every round runs the warm cycles, so the JIT has run 3 x
    // WarmCycles cycles before the first measured one
    applied = warm.flatMap(_._2)
    val tracer = new Tracer(spark)
    warm.foreach { case (dir, _) => cycle(spark, tracer, dir) }
  }

  def teardown(): Unit = {
    if (server != null) server.stop()
    server = null
  }

  /** One poll -> apply -> ack -> status cycle; returns (acks, status body). */
  private def cycle(spark: SparkSession, tr: Tracer, dir: Path)
  : (Set[(Long, String, Long, Long, Long)], String) = {
    val url = if (tr.isOn) s"${CountingJdbc.Prefix}derby:$db" else s"jdbc:derby:$db"
    tr.op("sync.cycle") {
      val cl = tr.span("sync", "sync.poll") {
        ChangeLog.normalize(tr.span("tables", "tables.events") {
          Tables.events(spark, dir.toString)
        })
      }
      tr.span("sync", "sync.upsert") {
        val merged = CdcMerge.merge(cl)
        tr.span("jdbc", "jdbc.upsert") { JdbcSync.writeUpsertPortable(merged, url, sync) }
      }
      tr.span("sync", "sync.delete") {
        val deleted = CdcMerge.lastPerKey(cl).where(col("op") === "D").select("user_id")
        tr.span("jdbc", "jdbc.delete") { JdbcSync.writeDelete(deleted, url, sync) }
      }
      val acks = tr.span("sync", "sync.ack") {
        Ledger.batchAck(cl).collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      }
      tr.span("status", "status.refresh") { server.refresh(Endpoints.statusJson(spark, cl)) }
      val body = tr.span("status", "status.get") { httpGet(server.boundPort, "/status/sync") }
      (acks, body)
    }
  }

  def measure(spark: SparkSession, tracer: Tracer, ctx: Ctx): RunResult = {
    CountingJdbc.register
    val before = CountingJdbc.snapshot()
    val problems = mutable.ArrayBuffer[String]()
    var failed = 0L
    val ops = Loop.closed(tracer, ctx.seconds, ctx.trace, minOps = 2,
        before = i => cycles += cycleDir(s"cycle${i + 1}")) { i =>
      val (dir, changes) = cycles(i)
      val (acks, body) = cycle(spark, tracer, dir)
      val bad = Seq(
        Option.when(acks != expectedAcks(changes))(s"cycle ${i + 1}: batchAck differs"),
        Option.when(body != expectedStatus(changes))(s"cycle ${i + 1}: /status/sync differs"))
        .flatten
      if (bad.nonEmpty) { failed += 1; problems ++= bad }
    }
    val done = ops.size

    // final read-back against the independent LWW state
    val want = mutable.Map[Long, KeyRow]()
    (0L until Keys.toLong).foreach(k => want(k) = Gen.preloadRow(k))
    Gen.fold(want, applied ++ cycles.take(done).flatMap(_._2), dropDeletes = true)
    var got = readBack()
    if (ctx.corrupt.contains("readback")) got = corruptOne(got)
    val stateOk = Gen.syncView(want) == got
    if (!stateOk) {
      val d = Gen.diff(Gen.syncView(want), got)
      problems += s"Derby read-back differs from the expected state on ${d.size} keys (e.g. ${d.take(3).mkString(",")})"
    }

    val plain = Loop.plain(ops)
    val changesPerS = plain.size * Batch / plain.sum
    val e2e = Map("latency_s.p50" -> Stats.median(plain), "throughput_per_s" -> changesPerS)
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val n = Loop.tracedOps(ops)
      val after = CountingJdbc.snapshot()
      def d(k: String) = (after(k) - before(k)).toDouble
      def mean(name: String) = tracer.spansNamed(name).map(_.s).sum / n
      val jobs = tracer.jobsOf(_ => true)
      val statusSpans = tracer.spansNamed("status.refresh").map(_.id).toSet
      val tablesSpans = tracer.spansNamed("tables.events").map(_.id).toSet
      tracer.execMetrics(jobs, n) ++ tracer.selfTimesPerOp(n) ++ Map(
        "sync.cycle_s.p50" -> Stats.median(plain),
        "sync.changes_per_s" -> changesPerS,
        "status.refresh_s.p50" -> Stats.median(tracer.spansNamed("status.refresh").map(_.s)),
        "status.get_ms.p50" -> 1e3 * Stats.median(tracer.spansNamed("status.get").map(_.s)),
        "status.refresh_jobs" -> jobs.count(j => statusSpans(j.span)) / n,
        "tables.load_s" -> mean("tables.events"),
        "tables.loads" -> tracer.spansNamed("tables.events").size / n,
        "tables.load_jobs" -> jobs.count(j => tablesSpans(j.span)) / n,
        "sync.poll_s" -> mean("sync.poll"),
        "sync.upsert_s" -> mean("sync.upsert"),
        "sync.delete_s" -> mean("sync.delete"),
        "sync.ack_s" -> mean("sync.ack"),
        "sync.rows_upserted" -> d("UPDATE") / n,
        "sync.rows_deleted" -> d("DELETE") / n,
        "sync.keys_per_change" -> (d("UPDATE") + d("DELETE")) / (n * Batch),
        "jdbc.batches" -> d("batches") / n,
        "jdbc.connections" -> d("connections") / n,
        "jdbc.rows_per_s" -> (d("UPDATE") + d("INSERT") + d("DELETE")) / (d("batch_ns") / 1e9),
        "catalyst.analysis_ms" -> tracer.phasesMs("analysis") / n,
        "catalyst.optimization_ms" -> tracer.phasesMs("optimization") / n,
        "catalyst.planning_ms" -> tracer.phasesMs("planning") / n,
        "trace.overhead_frac" -> Loop.overhead(ops))
    }
    RunResult(done, failed, problems.isEmpty, e2e, layers, problems.toSeq)
  }

  private def readBack(): Map[Long, Product] = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT user_id, last_event_id, last_op, last_epoch_s, last_value_cents FROM app.user_state")
      val out = Map.newBuilder[Long, Product]
      while (rs.next())
        out += rs.getLong(1) -> (rs.getLong(2), rs.getString(3), rs.getLong(4), rs.getLong(5))
      out.result()
    } finally conn.close()
  }
}

object SyncApply {
  /** Traffic dimensions (see perfbench/README.md); the op mix and key
    * skew are Gen's, measured on the sf0.01 events. */
  val Keys = 20000
  val Batch = 3000
  val WarmCycles = 4

  /** Expected Ledger.batchAck rows of one cycle: (part, status, n,
    * sum_retry, max_retry), from the op/status/retry rules in plain Scala. */
  def expectedAcks(cs: Seq[Change]): Set[(Long, String, Long, Long, Long)] =
    cs.groupBy(c => (Math.floorMod(c.userId, 16L), status(c))).map {
      case ((part, st), g) =>
        val retries = g.map(c => if (st == "ERR") Math.floorMod(c.eventId, 5L) else 0L)
        (part, st, g.size.toLong, retries.sum, retries.max)
    }.toSet

  private def status(c: Change): String =
    if (c.op == "D") "ERR"
    else if (c.op == "U" && Math.floorMod(c.userId, 10L) == 0) "BLK"
    else "OK"

  /** Expected GET /status/sync body of one cycle. */
  def expectedStatus(cs: Seq[Change]): String =
    cs.groupBy(c => s"db${Math.floorMod(c.userId, 3L)}").toSeq.sortBy(_._1).map {
      case (db, g) =>
        val (polled, pending) = g.partition(_.eventId % 7 == 0)
        def n(s: String) = polled.count(c => status(c) == s)
        s"""{"name":"$db","pending":${pending.size},"blocked":${n("BLK")},""" +
          s""""error":${n("ERR")},"success":${n("OK")},"others":0}"""
    }.mkString("[", ",", "]")

  /** Changes one value of one key (for the corrupted-read-back check). */
  def corruptOne(m: Map[Long, Product]): Map[Long, Product] = {
    val (k, v) = m.minBy(_._1)
    val t = v.asInstanceOf[(Long, String, Long, Long)]
    m.updated(k, t.copy(_4 = t._4 + 1))
  }

  def httpGet(port: Int, path: String): String = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try new String(c.getInputStream.readAllBytes(), "UTF-8")
    finally c.disconnect()
  }
}
