package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a round. */
final case class OpRecord(name: String, round: Int, traced: Boolean,
                          startMs: Long, endMs: Long, seconds: Double,
                          cpuSeconds: Double, jitSeconds: Double,
                          gcSeconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** CPU time of the whole process: every thread, including those that end
  * between two readings (the driver, Spark's task threads, GC and VM
  * threads), less the CPU of HotSpot's JIT compiler threads. The JIT's
  * work follows when the compiler happens to run rather than the work
  * measured, so it is read apart, per compiler thread, from
  * /proc/self/task. HotSpot starts and ends compiler threads as the
  * compile queue grows and drains, so a sampler reads them every 25 ms
  * and keeps the last reading of each thread that ended: at most 25 ms of
  * an ended compiler thread's CPU stays in the figure. The GC threads'
  * share is read the same way and kept in the artifact. */
object Cpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Linux reports per-thread CPU in USER_HZ ticks. */
  private val TicksPerSecond = 100.0
  private val SampleMs = 25L

  /** Process CPU (ns) and the CPU ticks of all JIT and GC threads so far,
    * those that ended included. */
  final case class Reading(processNs: Long, jitTicks: Long, gcTicks: Long)

  private def kindOf(comm: String): String =
    if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) "jit"
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
    else ""

  /** (kind, CPU ticks) of a live thread. */
  private def stat(tid: String): Option[(String, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile(s"/proc/self/task/$tid/stat")
    val st = try src.mkString finally src.close()
    // the fields after the comm start at field 3 (state); utime and stime
    // are fields 14 and 15
    val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
    (kindOf(st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))),
     f(11).toLong + f(12).toLong)
  }.toOption

  private val kinds = mutable.Map.empty[String, String]
  private val last = mutable.Map.empty[String, Long]
  private val ended = mutable.Map("jit" -> 0L, "gc" -> 0L)

  private def retire(tid: String): Unit = {
    last.remove(tid).foreach(t => ended(kinds(tid)) += t)
    kinds.remove(tid)
  }

  private def sample(): Unit = synchronized {
    val live = Option(new File("/proc/self/task").list()).toSeq.flatten.toSet
    (kinds.keySet -- live).toList.foreach(retire)
    live.foreach { tid =>
      if (!kinds.contains(tid)) stat(tid).foreach { case (k, t) =>
        kinds(tid) = k
        if (k.nonEmpty) last(tid) = t
      } else if (kinds(tid).nonEmpty) stat(tid) match {
        // a thread id reused by another thread: start it afresh
        case Some((k, t)) if k != kinds(tid) || t < last(tid) =>
          retire(tid); kinds(tid) = k; if (k.nonEmpty) last(tid) = t
        case Some((_, t)) => last(tid) = t
        case None => retire(tid)
      }
    }
  }

  private lazy val sampler: Thread = {
    val t = new Thread(() => while (true) { sample(); Thread.sleep(SampleMs) },
                       "perfbench-cpu-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  def read(): Reading = {
    sampler
    synchronized {
      sample()
      def total(k: String) =
        ended(k) + last.collect { case (tid, t) if kinds(tid) == k => t }.sum
      Reading(os.getProcessCpuTime, total("jit"), total("gc"))
    }
  }

  /** (CPU seconds less the JIT's, JIT seconds, GC seconds) since `r0`. */
  def since(r0: Reading): (Double, Double, Double) = {
    val r1 = read()
    val jit = (r1.jitTicks - r0.jitTicks) / TicksPerSecond
    ((r1.processNs - r0.processNs) / 1e9 - jit, jit,
     (r1.gcTicks - r0.gcTicks) / TicksPerSecond)
  }

  /** (wall seconds, CPU seconds less the JIT's) of `body`. */
  def timed(body: => Unit): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = read()
    body
    ((System.nanoTime() - t0) / 1e9, since(c0)._1)
  }
}

/** The run artifact as JSON, rendered by json4s; non-finite doubles
  * become null. */
object Json {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.{compact, render}

  def apply(v: Any): String = compact(render(value(v)))

  private def value(v: Any): JValue = v match {
    case null | None => JNull
    case Some(x) => value(x)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case i: Int => JLong(i)
    case l: Long => JLong(l)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, x) => k.toString -> value(x) })
    case a: Array[_] => JArray(a.toList.map(value))
    case s: Iterable[_] => JArray(s.toList.map(value))
    case p: Product => JArray(p.productIterator.toList.map(value))
    case other => JString(other.toString)
  }
}

/** Runs a workload's operations one at a time (closed loop, one client),
  * each under its own job group, and records their times. */
final class Ops(spark: SparkSession) {
  val records: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  /** Layer times the harness measures itself (sketch calls). */
  val layer = new LayerTotals
  var round = -1
  var traced = false
  /** false during set-up and warm-up: nothing is recorded then. */
  var recording = false

  /** The tracer of a traced run, attached during traced rounds. */
  var tracer: Option[Tracer] = None

  /** Runs an op that enters no figure (the probe): outside the tracer,
    * and recorded as untraced. */
  def runUntimed(name: String)(body: => Unit): Unit = {
    val wasTraced = traced
    if (wasTraced) tracer.foreach(_.detach())
    traced = false
    try run(name)(body) finally {
      traced = wasTraced
      if (wasTraced) tracer.foreach(_.attach())
    }
  }

  def run(name: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$round:$name", name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val cpu0 = Cpu.read()
    val t0 = System.nanoTime()
    val error = try { body; None } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $name (round $round) failed: $e")
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    } finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    val (cpu, jit, gc) = Cpu.since(cpu0)
    System.err.println(f"[perfbench] round $round%d $name%s $secs%.3f s " +
                       f"(cpu $cpu%.2f s, of it gc $gc%.2f s; jit $jit%.2f s)")
    if (recording)
      records += OpRecord(name, round, traced, ms0,
                          System.currentTimeMillis(), secs, cpu, jit, gc,
                          error)
  }

  def timedLayer(key: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    if (recording && traced) layer.add(key, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] jvm ${(System.nanoTime() - t0) / 1e9}%6.1f $what")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }


  /** The JVM's high-water resident set size, MiB (Linux VmHWM). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN) finally src.close()
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.print(text) finally w.close()
  }

  /** Union of the job intervals that fall inside [s, e], in ms. */
  private def covered(s: Long, e: Long, jobs: Seq[JobSpan]): Long = {
    val iv = jobs.map(j => (math.max(s, j.startMs), math.min(e, j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = a("data")
    val outDir = a("out")
    val cpus = a("cpus")
    val setupRepeats = 3

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      // the Spark settings of the program's own bench and test runs
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
              "org.apache.spark.sql.catalyst.optimizer." +
                "EliminateWindowPartitions")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    phase("session up")
    if (trace) CodegenCounters.install()

    val workload: Workload = workloadName match {
      case "batch_fit" => new BatchFit(spark, dataDir)
      case "score_monitor" => new ScoreMonitor(spark, dataDir, outDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ops = new Ops(spark)

    workload.prepare()
    phase("prepared")
    // the first set-up runs on a cold JIT and enters no figure; setup_s
    // is the median of the three after it
    workload.setup()
    val setups = (1 to setupRepeats).map(_ => Cpu.timed(workload.setup()))
    phase("set-up done")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    ops.tracer = tracer
    val fingerprints = mutable.ArrayBuffer.empty[String]
    val tracedTimings = mutable.ArrayBuffer.empty[Map[String, Double]]
    ops.recording = true
    // round 0 warms the JIT and the codegen cache and enters no metric
    // but cold_round_s; with tracing, the later rounds alternate traced
    // (odd) / untraced (even)
    val minRounds = if (trace) 3 else 2
    val loop0 = System.nanoTime()
    var r = 0
    while (r < minRounds || (System.nanoTime() - loop0) / 1e9 < seconds) {
      ops.round = r
      ops.traced = trace && r % 2 == 1
      tracer.foreach(t => if (ops.traced) t.attach() else t.detach())
      workload.round(ops)
      fingerprints += scala.util.Try(workload.fingerprint())
        .getOrElse("unavailable")
      if (ops.traced) tracedTimings ++= workload.fitTimings()
      r += 1
    }
    tracer.foreach(_.detach())
    phase("rounds done")
    val rounds = r
    val measuredS = (System.nanoTime() - loop0) / 1e9

    // end-to-end: per measured round, the summed time of the metric's ops
    def perRound(ops0: Seq[String], traced: Boolean,
                 time: OpRecord => Double = _.seconds): Seq[Double] =
      (1 until rounds).flatMap { i =>
        val recs = ops.records.filter(x => x.round == i && ops0.contains(x.name))
        if (recs.nonEmpty && recs.forall(_.ok) && recs.head.traced == traced)
          Some(recs.map(time).sum)
        else None
      }
    val allOps = workload.metrics.flatMap(_._2)
    def figures(traced: Boolean): Map[String, Double] =
      (workload.metrics ++ Seq("round_s" -> allOps,
                               "fit_s" -> workload.fitOps))
        .map { case (m, names) => m -> median(perRound(names, traced)) }
        .toMap +
        ("cpu_s" -> median(perRound(allOps, traced, _.cpuSeconds))) +
        ("jit_s" -> median(perRound(allOps, traced, _.jitSeconds))) +
        ("gc_cpu_s" -> median(perRound(allOps, traced, _.gcSeconds)))
    val untraced = figures(traced = false)
    val traced = figures(traced = true)
    val coldRoundS = ops.records.filter(_.round == 0).map(_.seconds).sum

    val layers: Map[String, Double] = tracer.map { t =>
      val nT = (0 until rounds).count(_ % 2 == 1).toDouble
      val tracedOps = ops.records.filter(_.traced)
      val outside = tracedOps.map { o =>
        val jobs = t.jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs)
        o.seconds - covered(o.startMs, o.endMs, jobs.toSeq) / 1e3
      }.sum
      def fitSum(k: String) = tracedTimings.map(_.getOrElse(k, 0.0)).sum
      val keys = Seq("planning.analysis_s", "planning.optimization_s",
        "planning.physical_s", "planning.executions", "exec.jobs",
        "exec.stages", "exec.tasks", "exec.job_wall_s", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.scan_bytes",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.spill_bytes", "exec.result_bytes", "write.s", "write.files",
        "write.bytes", "write.rows")
      val perRoundLayers = keys.map(k => k -> t.totals.get(k) / nT) ++
        Seq("streaming.sketch_add_s", "streaming.sketch_solve_s")
          .map(k => k -> ops.layer.get(k) / nT) ++
        Seq("core.solver_s" -> fitSum("solver") / nT,
            "core.postprocessing_s" -> fitSum("postprocessing") / nT,
            "core.fits" -> tracedTimings.count(_.nonEmpty) / nT,
            "driver.outside_jobs_s" -> outside / nT)
      val cg = CodegenCounters
      (perRoundLayers ++ Seq(
        "codegen.compile_s" -> cg.compileMs.sum.sum() / 1e3,
        "codegen.classes" -> cg.classBytes.n.sum().toDouble,
        "codegen.max_method_bytes" -> cg.methodBytes.maxSeen.get().toDouble,
        "codegen.methods_over_8k" -> cg.methodBytes.over.sum().toDouble)).toMap
    }.getOrElse(Map.empty)

    // spans: one per op, its jobs (traced rounds only) as children
    val spans = ops.records.map { o =>
      val jobs = tracer.toSeq.flatMap(_.jobs)
        .filter(j => o.traced && j.startMs >= o.startMs && j.startMs <= o.endMs)
      Json(Map("op" -> o.name, "round" -> o.round, "traced" -> o.traced,
               "start_ms" -> o.startMs, "end_ms" -> o.endMs,
               "seconds" -> o.seconds, "cpu_seconds" -> o.cpuSeconds,
               "error" -> o.error,
               "jobs" -> jobs.map(j => Map(
                 "id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
                 "end_ms" -> j.endMs, "stages" -> j.stages, "ok" -> j.ok)))) }
    if (trace) write(s"$outDir/spans.jsonl", spans.mkString("", "\n", "\n"))

    val outputs = scala.util.Try(workload.outputs()) match {
      case scala.util.Success(o) => o
      case scala.util.Failure(e) => Map("error" -> e.toString)
    }
    val result = Map(
      "workload" -> workloadName, "cpus" -> cpus, "trace" -> trace,
      "session_s" -> sessionS, "setup_s" -> setups.map(_._1),
      "setup_cpu_s" -> setups.map(_._2),
      "rounds" -> rounds, "measured_s" -> measuredS,
      "attempted" -> ops.records.length,
      "failed" -> ops.records.count(!_.ok),
      "errors" -> ops.records.flatMap(_.error).distinct,
      "ops" -> ops.records.map(o => Map("op" -> o.name, "round" -> o.round,
        "traced" -> o.traced, "seconds" -> o.seconds,
        "cpu_seconds" -> o.cpuSeconds, "jit_seconds" -> o.jitSeconds,
        "gc_seconds" -> o.gcSeconds, "ok" -> o.ok)),
      "cold_round_s" -> coldRoundS,
      "e2e_untraced" -> untraced, "e2e_traced" -> traced,
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb(),
      "fingerprints_equal" -> (fingerprints.distinct.size == 1 &&
                               fingerprints.head != "unavailable"),
      "outputs" -> outputs)
    write(s"$outDir/result.json", Json(result))
    phase("outputs written")
    spark.stop()
    phase("session stopped")
  }
}
