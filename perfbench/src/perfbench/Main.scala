package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of a workload reports. `e2e` holds the end-to-end
  * metrics (the untraced figures); `layers` the per-layer metrics a
  * traced run adds. */
final case class RunResult(attempted: Long, failed: Long, correct: Boolean,
                           e2e: Map[String, Double], layers: Map[String, Double],
                           problems: Seq[String])

/** Settings shared by every workload of one run. */
final case class Ctx(seed: Long, seconds: Double, trace: Boolean,
                     work: Path, corrupt: Option[String]) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One workload: fixtures are built once, before the session starts;
  * set-up runs once per set-up round on the run's one session,
  * including the round's warm-up ops, and `measure` runs after the last
  * round. */
trait Workload {
  def fixtures(ctx: Ctx): Unit
  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit
  def teardown(): Unit
  def measure(spark: SparkSession, tracer: Tracer, ctx: Ctx): RunResult
  /** Extra set-up metrics (per-layer), e.g. staged materialization. */
  def setupLayers: Map[String, Double] = Map.empty
}

/** Benchmark entry point:
  *   Main --workload <sync_apply|stream_ingest|registry_mix> --seed <n>
  *        --seconds <s> --trace <0|1> [--work <dir>] [--corrupt <what>]
  * Prints one JSON line last: correct, attempted, failed, metrics.
  * Exits 1 when an output check fails.
  */
object Main {
  val SetupRounds = 3

  /** Same settings as graft.Bench; local/warehouse/tmp dirs are placed
    * under the run's work dir so the run writes nowhere else. */
  def session(work: Path): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Workloads: Map[String, () => Workload] = Map(
    "sync_apply" -> (() => new SyncApply),
    "stream_ingest" -> (() => new StreamIngest),
    "registry_mix" -> (() => new RegistryMix))

  /** JVM heap in use, in MB, after a full collection. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("selftest")) { SelfTest.run(); return }
    val name = opts.getOrElse("workload", "")
    val mk = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'"))
    val work = Paths.get(opts.getOrElse("work", "perfbench/.work")).toAbsolutePath
    val ctx = Ctx(opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
      Files.createDirectories(work), opts.get("corrupt"))
    if (opts.contains("record-refs")) { RegistryMix.recordRefs(ctx); return }
    val w = mk()

    w.fixtures(ctx)

    val t0 = System.nanoTime()
    val spark = session(ctx.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val rounds = (1 to SetupRounds).map { r =>
      if (r > 1) w.teardown()
      val t = System.nanoTime()
      w.setup(spark, ctx, r)
      (System.nanoTime() - t) / 1e9
    }
    System.err.println(f"[perfbench] session start $sessionS%.3f s, set-up rounds (s): " +
      rounds.map(r => f"$r%.3f").mkString(" "))
    val tracer = new Tracer(spark)
    val res = w.measure(spark, tracer, ctx)
    // once, after measuring: a full collection between set-up and the
    // measured ops would shrink the heap those ops start with
    val heap = heapAfterGcMb()
    w.teardown()

    val e2e = res.e2e ++ Map(
      "setup_s" -> (sessionS + Stats.median(rounds)),
      "heap.after_gc_mb.max" -> heap)
    val layers = res.layers ++ w.setupLayers ++ Map("gen.fixture_s" -> EventsFile.spentS)
    if (ctx.trace) {
      val dir = Files.createDirectories(Paths.get(opts.getOrElse("traces", work.toString)))
      val out = dir.resolve(s"trace-$name-${ctx.seed}.json")
      Files.writeString(out, tracer.toJson(name, ctx.seed, layers ++ e2e))
      System.err.println(s"[perfbench] trace written to $out")
    }
    spark.stop()
    res.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val metrics = if (ctx.trace) Catalog.layerMetrics(layers) else Catalog.e2eMetrics(e2e)
    println(s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":$metrics}""")
    if (!res.correct) sys.exit(1)
  }
}

/** The metric names and units the benchmark reports (BENCHMARK.json
  * lists the same ones). A traced run reports every per-layer metric;
  * a layer a workload does not run reads 0. */
object Catalog {
  val E2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_s.p50" -> "s", "throughput_per_s" -> "1/s",
    "heap.after_gc_mb.max" -> "MB")

  val Layers: Seq[(String, String)] = Seq(
    "sync.cycle_s.p50" -> "s", "sync.changes_per_s" -> "1/s",
    "status.refresh_s.p50" -> "s",
    "stream.latency_s.p50" -> "s", "stream.latency_s.p90" -> "s",
    "stream.drain_changes_per_s" -> "1/s",
    "registry.pass_s" -> "s", "registry.query_s.p50" -> "s",
    "tables.load_s" -> "s", "tables.load_jobs" -> "count", "tables.loads" -> "count",
    "build.s" -> "s", "build.jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.sched_delay_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_records" -> "count", "exec.spill_bytes" -> "B",
    "exec.max_task_input_records" -> "count", "exec.stage_skew" -> "ratio",
    "staged.materialize_s.tokens" -> "s", "staged.cached_bytes" -> "B",
    "sync.poll_s" -> "s", "sync.upsert_s" -> "s", "sync.delete_s" -> "s",
    "sync.ack_s" -> "s", "sync.rows_upserted" -> "count",
    "sync.rows_deleted" -> "count", "sync.keys_per_change" -> "ratio",
    "jdbc.batches" -> "count", "jdbc.connections" -> "count",
    "jdbc.rows_per_s" -> "1/s",
    "status.get_ms.p50" -> "ms", "status.refresh_jobs" -> "count",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
    "stream.batch_ms.p50" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "B",
    "stream.state_commit_ms" -> "ms", "stream.backlog_files.max" -> "count",
    "gen.late_s.max" -> "s", "gen.fixture_s" -> "s",
    "self_s.op" -> "s", "self_s.tables" -> "s", "self_s.build" -> "s",
    "self_s.exec" -> "s", "self_s.sync" -> "s", "self_s.jdbc" -> "s",
    "self_s.status" -> "s",
    "trace.overhead_frac" -> "ratio")

  private def render(names: Seq[(String, String)], m: Map[String, Double]): String =
    names.map { case (n, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(m.getOrElse(n, 0.0))},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")

  def e2eMetrics(m: Map[String, Double]): String = render(E2e, m)
  def layerMetrics(m: Map[String, Double]): String = render(Layers, m)
}

/** Counters for reading a slow run, logged per op by `Loop.closed`:
  * an op that took longer without using more CPU waited for the host;
  * one whose extra CPU went to the JIT ran before the JVM was warm. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** This process's CPU seconds so far, every thread. */
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  /** JIT compiler seconds so far. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Janino compilations of Spark's generated code so far. */
  def codegens(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** GC seconds so far, every collector. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }
}

/** Closed-loop timing helpers shared by the workloads. */
object Loop {
  /** Runs `op` until `seconds` of op time have been spent (at least
    * `minOps` times), alternating tracing on and off when `traced`:
    * returns (traced?, seconds) per op. `before` runs untimed ahead of
    * each op. */
  def closed(tracer: Tracer, seconds: Double, traced: Boolean, minOps: Int = 1,
             before: Int => Unit = _ => ())(op: Int => Unit): Seq[(Boolean, Double)] = {
    val out = mutable.ArrayBuffer[(Boolean, Double)]()
    val cpu, jit, gc, cg = mutable.ArrayBuffer[Double]()
    var spent = 0.0
    var i = 0
    while (spent < seconds || i < minOps) {
      val on = traced && i % 2 == 1
      before(i)
      tracer.set(on)
      val c0 = Host.processCpuS()
      val j0 = Host.jitS()
      val g0 = Host.gcS()
      val k0 = Host.codegens()
      val t0 = System.nanoTime()
      op(i)
      val s = (System.nanoTime() - t0) / 1e9
      cpu += Host.processCpuS() - c0
      jit += Host.jitS() - j0
      gc += Host.gcS() - g0
      cg += (Host.codegens() - k0).toDouble
      if (on) tracer.drain()
      out += on -> s
      spent += s
      i += 1
    }
    tracer.set(false)
    System.err.println(s"[perfbench] op times (s): ${out.map(o => f"${o._2}%.3f").mkString(" ")}")
    def line(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    System.err.println(s"[perfbench] op cpu (s): ${line(cpu.toSeq)}; jit: ${line(jit.toSeq)}; gc: ${line(gc.toSeq)}; codegen: ${cg.map(_.toInt).mkString(" ")}")
    out.toSeq
  }

  /** (traced − untraced) ÷ untraced on the op-time medians. */
  def overhead(ops: Seq[(Boolean, Double)]): Double = {
    val (on, off) = ops.partition(_._1)
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1.0
  }

  /** The untraced op times: every op of an untraced run, every other
    * op of a traced one. Timing metrics are computed from these. */
  def plain(ops: Seq[(Boolean, Double)]): Seq[Double] = ops.filterNot(_._1).map(_._2)

  /** How many ops ran traced (the divisor of per-op layer counters). */
  def tracedOps(ops: Seq[(Boolean, Double)]): Double = math.max(1, ops.count(_._1)).toDouble
}
