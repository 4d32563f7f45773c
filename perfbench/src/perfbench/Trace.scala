package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a layer boundary crossed by the benchmark's code. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startNs: Long, endNs: Long) {
  def s: Double = (endNs - startNs) / 1e9
}

/** Spark counters of one job, attributed to the span whose job group
  * launched it (or to the stream layer for micro-batch jobs). */
final class JobRec(val id: Int, val span: Long, val layer: String,
                   val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecords = 0L
  var spill = 0L
  var maxInputRecords = 0L
  var maxSkew = 0.0
}

/** Spans and Spark counters of a traced run, kept in memory and written
  * out when the run ends. Off (the default), `span` only runs its body:
  * end-to-end metrics are measured that way, and a traced run toggles
  * it per op to measure its own overhead.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var enabled = false
  private var nextId = 1L
  private var opId = 0L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  /** Catalyst phase totals (ms) of every action traced. */
  val phasesMs = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val stageJob = mutable.Map[Int, JobRec]()
  private val stageRuns = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val spanLayer = mutable.Map[Long, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      val group = Option(p.getProperty("spark.jobGroup.id"))
        .filter(_.startsWith("span-")).map(_.drop(5).toLong).getOrElse(0L)
      val layer =
        if (p.getProperty("sql.streaming.queryId") != null) "stream"
        else spanLayer.getOrElse(group, "untraced")
      // a job's call site is its result stage's name, e.g.
      // "parquet at Tables.scala:14"
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val j = new JobRec(e.jobId, group, layer, site, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.maxInputRecords = math.max(j.maxInputRecords, m.inputMetrics.recordsRead)
        stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        for (j <- stageJob.get(id)) {
          j.stages += 1
          stageRuns.remove(id).filter(_.size >= 2).foreach { rs =>
            val med = Stats.quantile(rs.map(_.toDouble).toSeq, 0.5)
            if (med > 0) j.maxSkew = math.max(j.maxSkew, rs.max / med)
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        qe.tracker.phases.foreach { case (k, v) => phasesMs(k) += v.durationMs }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def isOn: Boolean = enabled

  /** Turn tracing on or off between ops; waits until every event of
    * the previous op reached the listeners. */
  def set(on: Boolean): Unit = if (on != enabled) {
    PerfbenchBridge.drain(sc)
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    enabled = on
  }

  /** Blocks until the listeners saw every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drain(sc)

  /** Runs `f` as one op: the root span every later span nests under. */
  def op[A](name: String)(f: => A): A = {
    opId += 1
    span("op", name)(f)
  }

  /** Runs `f` inside a span of `layer`; jobs it launches carry the
    * span's job group. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val id = synchronized { val i = nextId; nextId += 1; spanLayer(i) = layer; i }
      val open = Span(id, parent.map(_.id).getOrElse(0L), opId, layer, name,
        System.nanoTime(), 0L)
      stack.push(open)
      sc.setJobGroup(s"span-$id", name)
      try f
      finally {
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
        synchronized { spans += open.copy(endNs = System.nanoTime()) }
      }
    }

  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** `self_s.<layer>`: each layer's spans minus their child spans,
    * in seconds per op over `n` ops. */
  def selfTimesPerOp(n: Double): Map[String, Double] = synchronized {
    val childS = spans.groupBy(_.parent).view.mapValues(_.map(_.s).sum).toMap
    spans.groupBy(_.layer).map { case (layer, ss) =>
      s"self_s.$layer" -> ss.map(sp => sp.s - childS.getOrElse(sp.id, 0.0)).sum / n
    }
  }

  def addPhase(phase: String, ms: Double): Unit = synchronized { phasesMs(phase) += ms }

  def jobsOf(p: JobRec => Boolean): Seq[JobRec] = synchronized(jobs.values.filter(p).toSeq)

  /** The exec.* counters over the given jobs, divided by `per`. */
  def execMetrics(js: Seq[JobRec], per: Double): Map[String, Double] = {
    def sum(f: JobRec => Double) = js.map(f).sum / per
    Map(
      "exec.s" -> sum(j => (j.endMs - j.startMs) / 1e3),
      "exec.jobs" -> sum(_ => 1.0),
      "exec.stages" -> sum(_.stages.toDouble),
      "exec.tasks" -> sum(_.tasks.toDouble),
      "exec.task_run_s" -> sum(_.runMs / 1e3),
      "exec.task_cpu_s" -> sum(_.cpuNs / 1e9),
      "exec.sched_delay_s" -> sum(_.schedMs / 1e3),
      "exec.gc_s" -> sum(_.gcMs / 1e3),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "exec.shuffle_records" -> sum(_.shuffleRecords.toDouble),
      "exec.spill_bytes" -> sum(_.spill.toDouble),
      "exec.max_task_input_records" ->
        js.map(_.maxInputRecords.toDouble).maxOption.getOrElse(0.0),
      "exec.stage_skew" -> js.map(_.maxSkew).maxOption.getOrElse(0.0))
  }

  /** The trace artifact: every span and job, as one JSON document. */
  def toJson(workload: String, seed: Long, extra: Map[String, Double]): String =
    synchronized {
      import Json.{num, str}
      val sp = spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${str(s.layer)},""" +
          s""""name":${str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      val jb = jobs.values.map(j =>
        s"""{"id":${j.id},"span":${j.span},"layer":${str(j.layer)},""" +
          s""""call_site":${str(j.callSite)},"start_ms":${j.startMs},""" +
          s""""end_ms":${j.endMs},"stages":${j.stages},"tasks":${j.tasks},""" +
          s""""task_run_ms":${j.runMs},"shuffle_write_bytes":${j.shuffleWrite}}""")
      val ex = extra.toSeq.sorted.map { case (k, v) => s"${str(k)}:${num(v)}" }
      s"""{"workload":${str(workload)},"seed":$seed,""" +
        s""""metrics":{${ex.mkString(",")}},""" +
        s""""spans":[${sp.mkString(",\n")}],"jobs":[${jb.mkString(",\n")}]}"""
    }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

