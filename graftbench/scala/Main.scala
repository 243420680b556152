package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, IO}

/** Benchmark JVM: one workload, one seed, a closed loop of timed passes
  * over the workload's calls with one caller, and the output checks
  * before or after them. Writes its run record as JSON to `--out`;
  * `graftbench/run.py` turns it into the result line.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> --nproc <n>. */
object Main {
  import Layers.{covered, median}

  private val setupRounds = 3

  final case class CallRec(id: String, ok: Boolean, err: String, startMs: Double,
      buildEndMs: Double, endMs: Double, wallS: Double, cpuS: Double, buildS: Double,
      execS: Double, spanId: Int)

  final case class PassRec(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      jitS: Double, codegen: Long, stealS: Double, loadStart: Double, loadEnd: Double,
      loadMax: Double, calls: Seq[CallRec], layers: Map[String, Double], perCall: Map[String, Map[String, Double]])

  def loadAvg(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+")(0).toDouble finally s.close()
    } catch { case _: Throwable => -1.0 }

  /** CPU time stolen from this machine by the host (all CPUs, seconds):
    * a draw taken while co-tenants compete for the cores shows it. */
  def stealS(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/stat")
      try s.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally s.close()
    } catch { case _: Throwable => 0.0 }

  /** CPU seconds of the whole process: driver, executor task threads,
    * Spark's service threads, the JIT compilers and the GC workers. */
  def procCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Seconds the JIT compilers have spent compiling so far. */
  def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled (Janino) so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).map(
        _.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally s.close()
    } catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = o("seed").toLong
    val work = o("work")
    val nproc = o("nproc").toInt
    val spark = GraftSession.withEngineDefaults(SparkSession.builder()
        .master(s"local[$nproc]")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, o, jvmStartMs, seed, work, nproc)
    finally spark.stop()
  }

  private def run(spark: SparkSession, o: Map[String, String], jvmStartMs: Long,
      seed: Long, work: String, nproc: Int): Unit = {
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl = Workload(o("workload"), spark, seed, work)

    // ── set-up: repeated rounds, median reported ───────────────────────
    val rounds = (1 to setupRounds).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    def runChecks(): (Map[String, String], Double) = {
      val t0 = System.nanoTime()
      val fails = try wl.check()
        catch { case e: Throwable => wl.calls.map(_.id -> s"check threw: $e").toMap }
      (fails, (System.nanoTime() - t0) / 1e9)
    }
    val early = if (wl.checksFirst) Some(runChecks()) else None
    val setupS = sessionReadyS + median(rounds) + early.map(_._2).getOrElse(0.0)
    val input = wl.inputRecord

    // ── timed passes ───────────────────────────────────────────────────
    val tracer = new Tracer
    val lis = new LayerListener
    spark.sparkContext.addSparkListener(lis)
    spark.listenerManager.register(lis)
    val calls = wl.calls
    val errors = mutable.Map.empty[String, String]

    def runPass(index: Int, traced: Boolean): PassRec = {
      if (traced) { lis.clear(); lis.active = true; tracer.enabled = true }
      val loads = mutable.ArrayBuffer(loadAvg())
      val c0 = procCpuS(); val j0 = jitS(); val g0 = codegenCompiles(); val st0 = stealS()
      val t0 = System.nanoTime()
      val recs = calls.map { c =>
        val cc0 = procCpuS(); val ct0 = System.nanoTime()
        val s0 = tracer.nowMs
        var bEnd = s0; var bS = 0.0; var eS = 0.0
        var ok = true; var err = ""
        tracer.span("call", c.id) {
          try {
            val df = tracer.span("plan.build", c.id)(c.build())
            bS = (System.nanoTime() - ct0) / 1e9; bEnd = tracer.nowMs
            val et0 = System.nanoTime()
            tracer.span("execute", c.id)(c.run(df))
            eS = (System.nanoTime() - et0) / 1e9
          } catch {
            case e: Throwable =>
              ok = false; err = e.toString.take(300); errors(c.id) = err
          }
        }
        val wall = (System.nanoTime() - ct0) / 1e9
        loads += loadAvg()
        CallRec(c.id, ok, err, s0, bEnd, tracer.nowMs, wall, procCpuS() - cc0, bS,
          eS, if (traced) tracer.all.lastIndexWhere(s =>
            s.name == "call" && s.leg == c.id) else -1)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = procCpuS() - c0
      val jit = jitS() - j0
      val codegen = codegenCompiles() - g0
      val (layers, perCall) =
        if (traced) {
          lis.drain(); lis.active = false
          val (l, pc) = attribute(recs, lis, tracer); tracer.enabled = false
          (l ++ Map("jvm.jit_s" -> jit, "codegen.compiles" -> codegen.toDouble), pc)
        } else (Map.empty[String, Double], Map.empty[String, Map[String, Double]])
      PassRec(index, traced, wall, cpu, jit, codegen, stealS() - st0, loads.head, loads.last,
        loads.max, recs, layers, perCall)
    }

    // Passes are timed while the next one, taking as long as the last,
    // would end within --seconds; at least one. A traced run alternates
    // untraced and traced passes, at least four, so that the traced
    // passes 1 and 3 bracket the untraced pass 2 for the overhead.
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 4 else 1
    while (passes.size < minPasses ||
        System.nanoTime() + (passes.last.wallS * 1e9).toLong <= deadline) {
      val k = passes.size
      passes += runPass(k, traced = trace && k % 2 == 1)
    }
    val peakRss = peakRssMb()
    val (checkFails, checkS) = early.getOrElse(runChecks())

    // ── trace-only probes: scan reads and direct kernel calls ─────────
    val probe = mutable.Map.empty[String, Double]
    if (trace) {
      tracer.enabled = true
      val draws = 3
      val perTable = wl.scanInputs.map { case (dir, t) =>
        (1 to draws).map { _ =>
          lis.clear(); lis.active = true
          val t0 = System.nanoTime()
          tracer.span("core.scan", t) {
            IO.table(spark, dir, t).write.format("noop").mode("overwrite").save()
          }
          val s = (System.nanoTime() - t0) / 1e9
          lis.drain(); lis.active = false
          val ts = lis.taskList
          (s, ts.map(_.inputBytes).sum / 1e6, ts.count(_.inputBytes > 0).toDouble)
        }
      }
      probe("core.scan_first_s") = perTable.map(_.head._1).sum
      probe("core.scan_s") = perTable.map(d => median(d.map(_._1))).sum
      probe("core.input_mb") = perTable.map(d => median(d.map(_._2))).sum
      probe("core.scan_tasks") = perTable.map(d => median(d.map(_._3))).sum
      tracer.span("kernels.direct", "kernels")(wl.directKernels()).foreach {
        case (cpuS, legs) =>
          val legCpu = legs.map(l => median(passes.filter(_.traced).map(p =>
            p.perCall.get(l).map(_("exec.cpu_s")).getOrElse(0.0)))).sum
          probe("kernels.direct_cpu_s") = cpuS
          probe("kernels.useful_frac") = if (legCpu > 0) cpuS / legCpu else 0.0
      }
      tracer.enabled = false
    }

    val untraced = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val keys = traced.flatMap(_.layers.keys).distinct
      val layer = keys.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap
      val ops = calls.map(_.id).flatMap { l =>
        val sel = untraced.flatMap(_.calls.find(c => c.id == l && c.ok))
        Seq(s"ops.$l.wall_s" -> median(sel.map(_.wallS)),
          s"ops.$l.cpu_s" -> median(sel.map(_.cpuS)))
      }
      // the first pass is the JVM's coldest: not a fair reference
      layer ++ probe ++ ops ++ Map(
        "trace.overhead_frac" ->
          (median(traced.map(_.wallS)) / median(untraced.drop(1).map(_.wallS)) - 1.0))
    }

    val record = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_s" -> setupS, "peak_rss_mb" -> peakRss,
      "setup" -> Map("jvm_to_session_s" -> sessionReadyS, "rounds_s" -> rounds,
        "checks_s" -> checkS),
      "input" -> input,
      "calls" -> calls.map(_.id),
      "passes" -> passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "jit_s" -> p.jitS,
        "codegen_compiles" -> p.codegen,
        "steal_s" -> p.stealS, "load_start" -> p.loadStart,
        "load_end" -> p.loadEnd, "load_max" -> p.loadMax,
        "calls" -> p.calls.map(c => Map("id" -> c.id, "ok" -> c.ok, "wall_s" -> c.wallS,
          "cpu_s" -> c.cpuS, "build_s" -> c.buildS, "exec_s" -> c.execS)),
        "layers" -> p.layers, "per_call" -> p.perCall)),
      "errors" -> errors, "check_failures" -> checkFails,
      "check_facts" -> wl.checkFacts,
      "per_layer" -> perLayer,
      "spans" -> tracer.all.map(s => Seq(s.id, s.name, s.leg, s.parent,
        s.startMs, s.endMs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), Json.write(record))
  }

  /** Attribute the listener's jobs, tasks and planning phases of one traced
    * pass to its calls by time, and derive the per-layer figures. */
  private def attribute(recs: Seq[CallRec], lis: LayerListener,
      tracer: Tracer): (Map[String, Double], Map[String, Map[String, Double]]) = {
    val jobs = lis.jobList
    val tasks = lis.taskList
    val phases = lis.phaseList
    val sqls = lis.sqlList
    def within(t: Long, c: CallRec) = t.toDouble >= c.startMs - 1 && t.toDouble <= c.endMs + 1
    val perCall = recs.map { c =>
      val cj = jobs.filter(j => within(j.startMs, c))
      val stages = cj.flatMap(_.stages).toSet
      val ct = tasks.filter(t => stages.contains(t.stageId))
      val cp = phases.filter(p => within(p.startMs, c))
      val cs = sqls.filter(q => within(q.startMs, c))
      val sqlIv = cs.map(q => (q.startMs.toDouble,
        (if (q.endMs > 0) q.endMs else c.endMs.toLong).toDouble))
      val jobIv = cj.map(j => (j.startMs.toDouble,
        (if (j.endMs > 0) j.endMs else c.endMs.toLong).toDouble))
      val wallMs = c.endMs - c.startMs
      val jobMs = covered(jobIv, c.startMs, c.endMs)
      // what no layer span explains: not inside the build call, a planning
      // phase, a SQL execution or a running job
      val layerMs = covered(jobIv ++ sqlIv ++
        cp.map(p => (p.startMs.toDouble, p.endMs.toDouble)) :+ ((c.startMs, c.buildEndMs)),
        c.startMs, c.endMs)
      if (c.spanId >= 0) {
        cp.foreach(p => tracer.derived(s"plan.${p.phase}", c.id, c.spanId,
          p.startMs.toDouble, p.endMs.toDouble))
        cj.foreach(j => tracer.derived("job", c.id, c.spanId, j.startMs.toDouble,
          if (j.endMs > 0) j.endMs.toDouble else c.endMs))
        sqlIv.foreach { case (a, b) => tracer.derived("sql.execution", c.id, c.spanId, a, b) }
      }
      val ph = (n: String) => cp.filter(_.phase == n).map(p => p.endMs - p.startMs).sum / 1e3
      c.id -> (Layers.taskMetrics(ct) ++ Map(
        "wall_s" -> wallMs / 1e3,
        "plan.build_s" -> c.buildS,
        "plan.build_jobs" -> cj.count(j => j.startMs <= c.buildEndMs + 1).toDouble,
        "plan.analysis_s" -> ph("analysis"),
        "plan.optimization_s" -> ph("optimization"),
        "plan.planning_s" -> ph("planning"),
        "jobs_s" -> jobMs / 1e3,
        "driver.s" -> (wallMs - jobMs) / 1e3,
        "driver.jobs" -> cj.size.toDouble,
        "unattributed_s" -> (wallMs - layerMs) / 1e3))
    }.toMap
    val sumOf = (k: String) => perCall.values.map(_.getOrElse(k, 0.0)).sum
    val passTasks = {
      val stages = recs.flatMap(c => jobs.filter(j => within(j.startMs, c))).flatMap(_.stages).toSet
      tasks.filter(t => stages.contains(t.stageId))
    }
    val wall = sumOf("wall_s")
    val layers = Layers.taskMetrics(passTasks) ++ Seq("plan.build_s", "plan.build_jobs",
      "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "driver.s",
      "driver.jobs").map(k => k -> sumOf(k)) ++ Map(
      "trace.unattributed_frac" -> (if (wall > 0) sumOf("unattributed_s") / wall else 0.0))
    (layers, perCall)
  }
}
