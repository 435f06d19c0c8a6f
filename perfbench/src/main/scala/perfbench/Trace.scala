package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job, as the listener saw it. */
final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long,
                         stages: Int, ok: Boolean)

/** Additive per-layer counters. All sums are over the traced rounds. */
final class LayerTotals {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = synchronized {
    v(k) = v.getOrElse(k, 0.0) + x
  }
  def get(k: String): Double = synchronized(v.getOrElse(k, 0.0))
}

/** Counts every codegen compile exactly: Spark's CodegenMetrics are
  * sampling histograms (a decaying reservoir), so their snapshots give
  * neither an exact sum nor an exact maximum. This reservoir forwards to
  * the original and keeps the exact count, sum, maximum and number of
  * values over a threshold. */
final class CountingReservoir(val inner: Reservoir, threshold: Long)
    extends Reservoir {
  val n = new LongAdder
  val sum = new LongAdder
  val over = new LongAdder
  val maxSeen = new AtomicLong(0L)
  override def size(): Int = inner.size()
  override def update(value: Long): Unit = {
    inner.update(value)
    n.increment(); sum.add(value)
    if (value > threshold) over.increment()
    maxSeen.accumulateAndGet(value, (a, b) => math.max(a, b))
  }
  override def getSnapshot(): Snapshot = inner.getSnapshot()
}

object CodegenCounters {
  /** HotSpot does not JIT-compile methods above 8,000 bytes of bytecode
    * (-XX:-DontCompileHugeMethods is off by default). */
  val HugeMethodBytes = 8000L

  private def swap(h: Histogram, threshold: Long): CountingReservoir = {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case c: CountingReservoir => c
      case r: Reservoir =>
        val c = new CountingReservoir(r, threshold)
        f.set(h, c)
        c
    }
  }

  lazy val compileMs: CountingReservoir =
    swap(CodegenMetrics.METRIC_COMPILATION_TIME, Long.MaxValue)
  lazy val classBytes: CountingReservoir =
    swap(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE, Long.MaxValue)
  lazy val methodBytes: CountingReservoir =
    swap(CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE, HugeMethodBytes)

  def install(): Unit = { compileMs; classBytes; methodBytes }
}

/** Spark, SQL-execution and codegen listeners for the traced rounds.
  * `attach` and `detach` bracket a traced round; the bus is drained at
  * both ends so that a round's events land in that round only. */
final class Tracer(spark: SparkSession) {
  val totals = new LayerTotals
  val jobs: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty
  private val jobStart = mutable.Map.empty[Int, (Long, String, Int)]
  private var attached = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, group, e.stageIds.length)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, g, ns) =>
        val ok = e.jobResult == JobSucceeded
        jobs += JobSpan(e.jobId, g, t0, e.time, ns, ok)
        totals.add("exec.jobs", 1)
        totals.add("exec.job_wall_s", (e.time - t0) / 1e3)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      totals.add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      totals.add("exec.tasks", 1)
      if (m != null) {
        totals.add("exec.task_run_s", m.executorRunTime / 1e3)
        totals.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        totals.add("exec.gc_s", m.jvmGCTime / 1e3)
        totals.add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        totals.add("exec.shuffle_write_bytes",
                   m.shuffleWriteMetrics.bytesWritten.toDouble)
        totals.add("exec.shuffle_read_bytes",
                   m.shuffleReadMetrics.totalBytesRead.toDouble)
        totals.add("exec.spill_bytes",
                   (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        totals.add("exec.result_bytes", m.resultSize.toDouble)
      }
    }
  }

  private def writeNodes(p: SparkPlan): Seq[DataWritingCommandExec] = {
    val here = p match {
      case w: DataWritingCommandExec => Seq(w)
      case _ => Nil
    }
    val nested = p match {
      case c: CommandResultExec => writeNodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => writeNodes(a.executedPlan)
      case _ => Nil
    }
    here ++ nested ++ p.children.flatMap(writeNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      totals.add("planning.executions", 1)
      val ph = qe.tracker.phases
      def phase(n: String): Double =
        ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      totals.add("planning.analysis_s", phase("analysis"))
      totals.add("planning.optimization_s", phase("optimization"))
      totals.add("planning.physical_s", phase("planning"))
      val writes = try writeNodes(qe.executedPlan) catch {
        case _: Throwable => Nil
      }
      if (writes.nonEmpty) {
        totals.add("write.s", durationNs / 1e9)
        writes.foreach { w =>
          def m(k: String): Double =
            w.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          totals.add("write.files", m("numFiles"))
          totals.add("write.bytes", m("numOutputBytes"))
          totals.add("write.rows", m("numOutputRows"))
        }
      }
    }
  }

  private def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

  def attach(): Unit = if (!attached) {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }
}
