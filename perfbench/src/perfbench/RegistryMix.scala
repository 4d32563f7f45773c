package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SparkEntry, Staged}

/** `registry_mix`: the analyst/curation closed loop. One client runs a
  * fixed subset of `SparkEntry.queries` over the read-only sf0.01 test
  * data, each pass in a seeded order; each op is the query's build plus
  * `.write.format("noop")`, as graft.Bench does. Every op's row count
  * and an order-insensitive checksum are taken with Dataset.observe
  * (no extra job) and compared with references recorded from the seed
  * commit (registry_ref.json); a mismatch counts the op as failed.
  */
final class RegistryMix extends Workload {
  import RegistryMix._

  private var refs: Map[String, Ref] = Map.empty
  private val stagedS = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var cachedBytes = 0.0

  def fixtures(ctx: Ctx): Unit = {
    require(Files.isDirectory(Paths.get(SfDir)), s"test data missing: $SfDir")
    refs = loadRefs()
  }

  def setup(spark: SparkSession, ctx: Ctx, round: Int): Unit = {
    // drop the previous round's staged blocks now rather than whenever
    // the context cleaner reaches them, so every round, and the heap
    // measured after the run, starts from the same state
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Staged.invalidate()
    stage(spark).foreach { case (rel, s) => stagedS.getOrElseUpdate(rel, mutable.ArrayBuffer()) += s }
    // block-manager bytes held after staging
    cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum
    // every round runs one untimed pass, so the JIT has run three
    // passes before the first measured one
    val untraced = new Tracer(spark)
    Subset.foreach(q => runQuery(spark, q, ctx, untraced))
  }

  def teardown(): Unit = Staged.invalidate()

  override def setupLayers: Map[String, Double] =
    stagedS.map { case (rel, s) => s"staged.materialize_s.$rel" -> Stats.median(s.toSeq) }.toMap ++
      Map("staged.cached_bytes" -> cachedBytes)

  /** Runs one query with its output check; returns None when it passed,
    * else the reason. */
  private def runQuery(spark: SparkSession, name: String, ctx: Ctx,
                       t: Tracer): Option[String] = {
    try {
      val got = observedRun(spark, name, t)
      val want0 = refs.get(name)
      val want = if (ctx.corrupt.contains("ref")) want0.map(r => r.copy(rows = r.rows + 1)) else want0
      want match {
        case None => Some(s"$name: no reference recorded")
        case Some(w) if w.rows != got.rows => Some(s"$name: ${got.rows} rows, reference ${w.rows}")
        case Some(w) if w.checksum.exists(c => !got.checksum.contains(c)) =>
          Some(s"$name: checksum ${got.checksum.getOrElse("null")}, reference ${w.checksum.get}")
        case _ => None
      }
    } catch {
      case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  def measure(spark: SparkSession, tracer: Tracer, ctx: Ctx): RunResult = {
    val problems = mutable.ArrayBuffer[String]()
    val queryS = mutable.ArrayBuffer[(Boolean, Double)]()
    // micro-batches of the stream_*_parity replays, in traced passes
    val replays = new StreamIngest.Progress
    // one op is one whole pass, each in its own seeded order; a traced
    // run traces every other pass, so the tracing overhead compares
    // passes over the same queries
    val passes = Loop.closed(tracer, ctx.seconds, ctx.trace, minOps = MinPasses) { pass =>
      val on = tracer.isOn
      if (on) spark.streams.addListener(replays)
      new scala.util.Random(ctx.seed * 1000 + pass).shuffle(Subset).foreach { q =>
        val t0 = System.nanoTime()
        tracer.op(q) { runQuery(spark, q, ctx, tracer) }.foreach(problems += _)
        queryS += on -> (System.nanoTime() - t0) / 1e9
      }
      if (on) {
        tracer.drain()
        spark.streams.removeListener(replays)
      }
    }
    val plain = Loop.plain(queryS.toSeq)
    val plainPasses = Loop.plain(passes)
    val e2e = Map("latency_s.p50" -> Stats.median(plain),
      "throughput_per_s" -> Subset.size / Stats.median(plainPasses))
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val n = Loop.tracedOps(queryS.toSeq)
      val jobs = tracer.jobsOf(_ => true)
      val buildSpans = tracer.spansNamed("build").map(_.id).toSet
      // the query functions call graft.Tables themselves, out of the
      // benchmark's sight: their jobs are found by call site, the calls
      // are not counted (tables.loads is a sync_apply figure)
      val tablesJobs = jobs.filter(_.callSite.contains("Tables.scala"))
      val batches = replays.all.filter(_.rows > 0)
      tracer.execMetrics(jobs, n) ++ tracer.selfTimesPerOp(n) ++
        StreamIngest.batchMetrics(batches) ++ Map(
        "stream.batches" -> batches.size / n,
        "registry.pass_s" -> Stats.median(plainPasses),
        "registry.query_s.p50" -> Stats.median(plain),
        "build.s" -> tracer.spansNamed("build").map(_.s).sum / n,
        "build.jobs" -> jobs.count(j => buildSpans(j.span)) / n,
        "tables.load_s" -> tablesJobs.map(j => (j.endMs - j.startMs) / 1e3).sum / n,
        "tables.load_jobs" -> tablesJobs.size / n,
        "catalyst.analysis_ms" -> tracer.phasesMs("analysis") / n,
        "catalyst.optimization_ms" -> tracer.phasesMs("optimization") / n,
        "catalyst.planning_ms" -> tracer.phasesMs("planning") / n,
        "trace.overhead_frac" -> Loop.overhead(passes))
    }
    RunResult(queryS.size, problems.size, problems.isEmpty, e2e, layers, problems.toSeq)
  }
}

object RegistryMix {
  /** The read-only sf0.01 test data (TESTDATA.md): testdata/sf0.01
    * under the home directory. */
  val SfDir: String =
    Paths.get(sys.props("user.home"), "testdata", "sf0.01").toString
  /** At least three measured passes, so the pass median is a middle
    * pass even when a slow host fits only two into the time. */
  val MinPasses = 3
  val RefFile = "perfbench/registry_ref.json"

  /** The fixed subset: one or two members of every query family of
    * five or more except knn (olap, stream, pq, dedup, ivf, ann,
    * quality, sync) plus the sync singletons cdc_merge and batch_ack.
    * Every knn query reads Staged.ann, whose Lloyd chain costs more
    * set-up per round than the run can afford; see perfbench/README.md. */
  val Subset: Vector[String] = Vector(
    "olap_q6_discount", "stream_window_agg", "stream_merge_parity",
    "pq_encode", "dedup_exact", "ivf_train", "ann_lsh",
    "quality_gopher", "sync_state", "cdc_merge", "batch_ack")

  final case class Ref(rows: Long, checksum: Option[String])

  /** Builds query `name` and writes it to the noop sink with its check
    * observed, as one op; returns the row count and checksum it saw. */
  def observedRun(spark: SparkSession, name: String, t: Tracer): Ref = {
    val df = t.span("build", "build") { SparkEntry.queries(name)(spark, SfDir) }
    // the built DataFrame's own (eager) analysis; actions report theirs
    // through the tracer's QueryExecutionListener
    if (t.isOn) df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => t.addPhase("analysis", p.durationMs))
    val obs = Observation(s"check_$name")
    t.span("exec", "action") {
      observed(df, obs).write.format("noop").mode("overwrite").save()
    }
    Ref(obs.get("rows").asInstanceOf[Long], Option(obs.get("chk")).map(_.toString))
  }

  /** Observes the row count and an order-insensitive checksum: the sum
    * of a per-row xxhash64 (rows-only for map-typed outputs, which
    * cannot be hashed). */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val chk =
      if (df.schema.fields.exists(f => hasMap(f.dataType))) lit(null).cast("decimal(38,0)")
      else sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("decimal(38,0)"))
    df.observe(obs, count(lit(1)).as("rows"), chk.as("chk"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Materializes the staged relations the subset reads (the
    * token-family gopher verdicts of quality_gopher); seconds per
    * Staged family. */
  def stage(spark: SparkSession): Seq[(String, Double)] = {
    def timed(rel: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      df.count()
      rel -> (System.nanoTime() - t0) / 1e9
    }
    Seq(timed("tokens")(Staged.tokens(spark, SfDir).gopher))
  }

  def loadRefs(): Map[String, Ref] = {
    val p = Paths.get(RefFile)
    require(Files.exists(p), s"missing $RefFile")
    val Line = """\s*"([^"]+)":\s*\{"rows":\s*(\d+),\s*"checksum":\s*(null|"[^"]*"),.*""".r
    Files.readAllLines(p).toArray(Array.empty[String]).collect {
      case Line(n, r, c) => n -> Ref(r.toLong, Option.when(c != "null")(c.stripPrefix("\"").stripSuffix("\"")))
    }.toMap
  }

  /** Records the references: the subset run in two passes on one
    * session; a checksum that differs between the passes is recorded
    * as null (rows-only). */
  def recordRefs(ctx: Ctx): Unit = {
    val names = Subset
    val spark = Main.session(ctx.work)
    val staged = stage(spark)
    System.err.println(s"[perfbench] staged: $staged")
    val untraced = new Tracer(spark)
    val passes = (1 to 2).map { _ =>
      names.map { n =>
        val t0 = System.nanoTime()
        val r = try Some(observedRun(spark, n, untraced))
        catch { case e: Exception => System.err.println(s"[perfbench] $n: $e"); None }
        n -> (r, (System.nanoTime() - t0) / 1e9)
      }.toMap
    }
    val lines = names.flatMap { n =>
      val (a, s1) = passes(0)(n)
      val (b, s2) = passes(1)(n)
      for (x <- a; y <- b if x.rows == y.rows) yield {
        val c = if (x.checksum == y.checksum) x.checksum.map(Json.str).getOrElse("null") else "null"
        f"""  ${Json.str(n)}: {"rows": ${x.rows}, "checksum": $c, "s": [$s1%.3f, $s2%.3f]}"""
      }
    }
    Files.writeString(Paths.get(RefFile), lines.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
