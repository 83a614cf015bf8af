package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One execution of one operation. `startMs`/`endMs` are wall-clock
  * positions, on the clock Spark stamps its events with, so jobs and
  * Catalyst phases can be placed inside the operation; `wallMs` and
  * `planMs` are durations from the monotonic clock. (The two clocks
  * drift apart measurably over a run on a slewed host clock.) */
final case class OpRun(op: Op, pass: Int, index: Int,
                       startMs: Double, endMs: Double, wallMs: Double, planMs: Double,
                       error: Option[String]) {
  def planGroup: String = s"pb|$pass|$index|plan"
  def execGroup: String = s"pb|$pass|$index|exec"
}

final case class PassRun(pass: Int, traced: Boolean, wallMs: Double,
                         gcMs: Long, jitMs: Long, runs: Seq[OpRun])

/** Runs one workload in this JVM and writes every measurement to a
  * result file:
  *
  * `Harness --workload W --data DIR --work DIR --seed N --passes P
  *          --trace 0|1 --out FILE`
  *
  * Set-up is session build, the artifact chains the workload's queries
  * read (`Workloads.chains`) and two untimed warm passes (the first also
  * writes each query result for the correctness check). Then exactly P
  * timed passes run, one operation at a time in a seeded order. With
  * `--trace 1` half the timed passes are traced (at least four passes),
  * so the result carries both the traced and the untraced pass times. */
object Harness {
  private val SetupGroup = "pb|setup|artifacts"
  private val WarmPasses = 2
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    // the JVM's processor count follows the process's affinity mask
    val cores = Runtime.getRuntime.availableProcessors
    val passCount = opt("passes").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val nowMs: () => Double = () => System.currentTimeMillis().toDouble
    def monoMs(): Double = System.nanoTime() / 1e6
    val tracer = new Tracer(nowMs)
    tracer.enabled = trace
    val jvm = new JvmProbe
    val listener = new LayerListener
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val resultsDir = work.resolve("results")
    val outputsDir = work.resolve("outputs")

    var spark: SparkSession = null
    var warm: PassRun = null
    var setupEndMs = 0.0
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val ops = Workloads.ops(workload)
    // every pass runs the operations in its own seeded order
    val order = new scala.util.Random(seed)

    def cleanup(): Unit = {
      // release what one operation persisted, as graft.Bench does
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    def runOp(op: Op, pass: Int, index: Int, verify: Boolean): OpRun = {
      val sc = spark.sparkContext
      val run0 = OpRun(op, pass, index, 0, 0, 0, 0, None)
      val t0 = nowMs()
      val m0 = monoMs()
      var planEnd = m0
      val error = try {
        tracer.span("operation", op.name, t0) {
          op match {
            case QueryOp(q, _) =>
              sc.setJobGroup(run0.planGroup, op.name, interruptOnCancel = false)
              val df = tracer.span("plan", op.name)(q.fn(spark, data))
              planEnd = monoMs()
              sc.setJobGroup(run0.execGroup, op.name, interruptOnCancel = false)
              tracer.span("execute", op.name) {
                if (verify) df.write.mode("overwrite").parquet(resultsDir.resolve(op.name).toString)
                else df.write.format("noop").mode("overwrite").save()
              }
            case JobOp(name, run) =>
              sc.setJobGroup(run0.execGroup, name, interruptOnCancel = false)
              tracer.span("execute", name) {
                run(spark, Paths.get(data, "input").toString, outputsDir.resolve(name).toString)
              }
          }
        }
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
      }
      val run = run0.copy(startMs = t0, endMs = nowMs(), wallMs = monoMs() - m0,
        planMs = planEnd - m0, error = error)
      sc.clearJobGroup()
      cleanup()
      run
    }

    // in a traced run every pass gets a span; only the operations of
    // traced passes (and of the warm pass) get spans below it
    def runPass(pass: Int, traced: Boolean, verify: Boolean): PassRun = {
      val gc0 = jvm.gcMs
      val jit0 = jvm.jitMs
      val m0 = monoMs()
      val name = if (pass <= 0) s"warm${-pass}" else s"${if (traced) "traced" else "untraced"}-$pass"
      val runs = tracer.span("pass", name) {
        tracer.enabled = trace && traced
        try order.shuffle(ops).zipWithIndex.map { case (op, i) => runOp(op, pass, i, verify) }
        finally tracer.enabled = trace
      }
      PassRun(pass, traced, monoMs() - m0, jvm.gcMs - gc0, jvm.jitMs - jit0, runs)
    }

    tracer.span("run", workload, jvmStartMs) {
      tracer.span("setup", workload, jvmStartMs) {
        val s0 = monoMs()
        spark = tracer.span("session", "Session.build") {
          graft.Session.build(s"local[$cores]", cores, "perfbench")
        }
        layers("session.build_ms") = monoMs() - s0
        spark.sparkContext.setLogLevel("WARN")
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener.queryListener)

        val a0 = monoMs()
        val built0 = graft.Artifacts.buildCount.get()
        tracer.span("artifacts", workload) {
          spark.sparkContext.setJobGroup(SetupGroup, "artifact chains", interruptOnCancel = false)
          Workloads.chains(workload).foreach(build => build(spark, data))
          spark.sparkContext.clearJobGroup()
          cleanup()
        }
        layers("artifacts.build_s") = (monoMs() - a0) / 1000
        warm = runPass(0, traced = true, verify = true)
        // a further untimed pass moves the timed passes along the JIT warm-up curve
        (1 until WarmPasses).foreach(i => runPass(-i, traced = false, verify = false))
        layers("artifacts.built") = (graft.Artifacts.buildCount.get() - built0).toDouble
        layers("setup.warm_pass_s") = warm.wallMs / 1000
        layers("jvm.jit_ms") = jvm.jitMs.toDouble
      }
      setupEndMs = nowMs()
      // host window in which the timed passes run (outside set-up time)
      layers("host.memcalib_ms") = Stats.median((1 to 7).map(_ => graft.Bench.memProbeMs()))

      // A fixed pass count (not a deadline) keeps every run at the same
      // point of the JIT's warm-up curve. Traced runs alternate untraced
      // (A) and traced (B) passes as ABBA..., so warm-up drift cancels out
      // of the overhead estimate.
      val count = if (trace) passCount.max(4) else passCount
      (1 to count).foreach { p =>
        passes += runPass(p, traced = trace && (p % 4 == 2 || p % 4 == 3), verify = false)
      }
    }
    PerfbenchBus.drain(spark.sparkContext)

    // ---- end-to-end metrics (untraced timed passes) ----------------------
    val plain = passes.filterNot(_.traced).toSeq
    // an operation's latency is its median over the timed passes, which
    // keeps one slow execution from moving the percentiles
    val perOp = opMedians(plain)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (setupEndMs - jvmStartMs) / 1000,
      "latency_p50_ms" -> Stats.percentile(perOp.values.toSeq, 0.50),
      "latency_p95_ms" -> Stats.percentile(perOp.values.toSeq, 0.95),
      "pass_s" -> Stats.median(plain.map(_.wallMs)) / 1000,
      "heap_peak_mb" -> jvm.heapPeakMb)

    // ---- per-layer metrics: medians over all timed passes ----------------
    val perPass = passes.map(p => passLayers(p, listener, cores))
    perPass.flatMap(_.keys).distinct.foreach { k =>
      layers(k) = Stats.median(perPass.map(_.getOrElse(k, 0.0)).toSeq)
    }
    layers("error_rate") = 0.0 // filled in after the correctness check
    layers("latency.samples") = plain.map(_.runs.size).sum.toDouble
    val artifactBytes = dirBytes(sys.env.get("SPARK_GRAFT_ARTIFACT_DIR").map(Paths.get(_)))
    layers("artifacts.bytes_per_input_byte") = artifactBytes / dirBytes(Some(Paths.get(data))).max(1.0)
    if (trace) traceLayers(tracer, listener, passes.toSeq, warm, layers, e2e, plain, work)

    val allRuns = (warm +: passes.toSeq).flatMap(_.runs)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "passes" -> passes.size,
      "pass_walls_s" -> passes.map(_.wallMs / 1000), "pass_jit_ms" -> passes.map(_.jitMs),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "host" -> Map("memcalib_ms" -> layers("host.memcalib_ms"),
        "spincalib_ms" -> Stats.median((1 to 7).map(_ => graft.Bench.spinProbeMs())),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version),
      "attempted" -> allRuns.size,
      "failed" -> allRuns.count(_.error.isDefined),
      "e2e" -> e2e, "layers" -> layers,
      "ops" -> ops.map { op =>
        val rs = allRuns.filter(_.op.name == op.name)
        mutable.LinkedHashMap[String, Any]("name" -> op.name, "module" -> op.module,
          "wall_ms" -> perOp.getOrElse(op.name, Double.NaN), "runs" -> rs.size,
          "errors" -> rs.count(_.error.isDefined), "error" -> rs.flatMap(_.error).headOption)
      },
      "verify" -> Map(
        "queries" -> ops.collect { case QueryOp(q, _) =>
          q.name -> Map("dir" -> resultsDir.resolve(q.name).toString, "oracle" -> q.oracle) }.toMap,
        "jobs" -> ops.collect { case j: JobOp => j.name -> outputsDir.resolve(j.name).toString }.toMap,
        "grep" -> Workloads.GrepWord, "reducers" -> Workloads.Reducers))
    spark.stop()
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result) + "\n")
  }

  /** Each operation's median wall time (ms) over the given passes. */
  private def opMedians(ps: Seq[PassRun]): Map[String, Double] =
    ps.flatMap(_.runs).groupBy(_.op.name).map { case (n, rs) => n -> Stats.median(rs.map(_.wallMs)) }

  /** Layer counters of one timed pass, summed over its operations. */
  private def passLayers(p: PassRun, l: LayerListener, cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v
    p.runs.foreach { r =>
      val plan = l.stats(r.planGroup)
      val exec = l.stats(r.execGroup)
      val both = Seq(plan, exec)
      val jobIntervals = (l.jobsOf(r.planGroup) ++ l.jobsOf(r.execGroup))
        .map(j => (j.startMs.toDouble.max(r.startMs), (if (j.endMs < 0) r.endMs else j.endMs.toDouble).min(r.endMs)))
        .filter { case (a, b) => b > a }
      add("plan.build_ms", if (r.op.isInstanceOf[QueryOp]) r.planMs else 0.0)
      add("plan.eager_jobs", plan.jobs)
      val phases = l.phasesIn(r.startMs.toLong, r.endMs.toLong)
      add("catalyst.analysis_ms", phases.map(_.analysisMs).sum.toDouble)
      add("catalyst.optimization_ms", phases.map(_.optimizationMs).sum.toDouble)
      add("catalyst.planning_ms", phases.map(_.planningMs).sum.toDouble)
      add("catalyst.executions", phases.size)
      add("sched.jobs", both.map(_.jobs).sum)
      add("sched.stages", both.map(_.stages).sum)
      add("sched.stages_skipped", both.map(_.stagesSkipped).sum)
      add("sched.tasks", both.map(_.tasks).sum)
      add("sched.driver_gap_ms", r.endMs - r.startMs - Tracer.unionMs(jobIntervals))
      add("sched.task_queue_ms", both.map(_.taskQueueMs).sum.toDouble)
      add("exec.task_run_s", both.map(_.taskRunMs).sum / 1000.0)
      add("exec.task_cpu_s", both.map(_.taskCpuNs).sum / 1e9)
      add("exec.gc_ms", both.map(_.taskGcMs).sum.toDouble)
      m("exec.stage_skew_max") = (m("exec.stage_skew_max") +: both.map(_.stageSkewMax)).max
      add("shuffle.write_mb", both.map(_.shuffleWriteBytes).sum / 1048576.0)
      add("shuffle.read_mb", both.map(_.shuffleReadBytes).sum / 1048576.0)
      add("shuffle.fetch_wait_ms", both.map(_.fetchWaitMs).sum.toDouble)
      add("shuffle.spill_mb", both.map(_.spillBytes).sum / 1048576.0)
      r.op match {
        case QueryOp(q, module) =>
          add(s"operators.$module.wall_s", r.wallMs / 1000)
          if (Workloads.corpus.contains(q.name)) add(s"corpus.${q.name}.wall_s", r.wallMs / 1000)
        case JobOp(name, _) =>
          val lastJobEnd = l.jobsOf(r.execGroup).map(_.endMs).filter(_ > 0).maxOption
          add(s"mr.$name.wall_s", r.wallMs / 1000)
          add(s"mr.$name.publish_ms", lastJobEnd.map(e => r.endMs - e).getOrElse(0.0))
      }
    }
    m("exec.utilization") = m("exec.task_run_s") * 1000 / (p.wallMs * cores)
    m("jvm.gc_pause_ms") = p.gcMs.toDouble
    m("jvm.jit_pass_ms") = p.jitMs.toDouble
    // every per-layer name is present on every workload (0 where the
    // layer is not exercised), so result files always line up
    Workloads.modules.foreach { case (mod, _) => add(s"operators.$mod.wall_s", 0) }
    Workloads.corpus.foreach(q => add(s"corpus.$q.wall_s", 0))
    Workloads.jobs.foreach { j => add(s"mr.${j.name}.wall_s", 0); add(s"mr.${j.name}.publish_ms", 0) }
    m.toMap
  }

  /** Adds job and stage spans from the listener, writes the trace file
    * and reports each layer's self time per traced pass and the tracing
    * overhead (traced vs untraced pass time and p50 latency). */
  private def traceLayers(tracer: Tracer, l: LayerListener, passes: Seq[PassRun], warm: PassRun,
                          layers: mutable.Map[String, Double], e2e: mutable.Map[String, Double],
                          plain: Seq[PassRun], work: Path): Unit = {
    val benchSpans = tracer.all
    // plan/execute spans of each traced operation, keyed by job group
    val byGroup = mutable.HashMap.empty[String, Int]
    val opSpans = benchSpans.filter(_.layer == "operation")
    (warm +: passes).filter(p => p.pass == 0 || p.traced).flatMap(_.runs).foreach { r =>
      opSpans.find(s => s.name == r.op.name && s.startMs == r.startMs).foreach { op =>
        benchSpans.filter(_.parent == op.id).foreach { c =>
          byGroup(if (c.layer == "plan") r.planGroup else r.execGroup) = c.id
        }
      }
    }
    benchSpans.find(_.layer == "artifacts").foreach(a => byGroup(SetupGroup) = a.id)
    l.jobs.values.foreach { j =>
      byGroup.get(j.group).foreach { parent =>
        val end = if (j.endMs < 0) j.startMs else j.endMs
        val jobSpan = tracer.add(parent, "job", s"job-${j.id}", j.startMs.toDouble, end.toDouble)
        l.stagesOf(j.id).foreach { s =>
          val sEnd = if (s.completeMs < 0) end else s.completeMs
          tracer.add(jobSpan, "stage", s"stage-${s.id}.${s.attempt}", s.submitMs.toDouble, sEnd.toDouble)
        }
      }
    }
    val spans = tracer.all
    val self = tracer.selfMs()
    val byId = spans.map(s => s.id -> s).toMap
    def passOf(s: Span): Option[Span] =
      if (s.layer == "pass") Some(s) else byId.get(s.parent).flatMap(passOf)
    val tracedPasses = spans.count(s => s.layer == "pass" && s.name.startsWith("traced"))
    val perPassLayers = Seq("pass", "operation", "plan", "execute", "job", "stage")
    val setupLayers = Seq("run", "setup", "session", "artifacts")
    perPassLayers.foreach { layer =>
      val total = spans.filter(s => s.layer == layer && passOf(s).exists(_.name.startsWith("traced")))
        .map(s => self(s.id)).sum
      layers(s"trace.$layer.self_s") = total / 1000 / tracedPasses.max(1)
    }
    setupLayers.foreach { layer =>
      layers(s"trace.$layer.self_s") = spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1000
    }
    layers("trace.spans") = spans.size.toDouble
    val traced = passes.filter(_.traced)
    val tracedPass = Stats.median(traced.map(_.wallMs))
    val plainPass = Stats.median(plain.map(_.wallMs))
    layers("trace.overhead_pass_pct") = 100 * (tracedPass / plainPass - 1)
    val tracedP50 = Stats.percentile(opMedians(traced).values.toSeq, 0.5)
    layers("trace.overhead_p50_pct") = 100 * (tracedP50 / e2e("latency_p50_ms") - 1)
    val out = json.writeValueAsString(Map(
      "self_s" -> layers.filter(_._1.startsWith("trace.")),
      "spans" -> spans.map(s => mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id))))) + "\n"
    Files.writeString(work.resolve("trace.json"), out)
  }

  private def dirBytes(dir: Option[Path]): Double = dir.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
    } finally s.close()
  }.getOrElse(0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolation percentile (numpy's default); NaN when empty. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
