package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer trace of a benchmark run.
  *
  * The harness wraps each call into an engine layer in `span(layer)`.
  * Spans are flat and sequential on the driver thread, so a span's wall
  * time is its self time. Spark's own records are attributed to the span
  * whose interval contains them: a job (and its stages and tasks) by its
  * start time, a query execution's planning phases by their start time.
  * Codegen counts are sampled at span boundaries. Nothing here re-runs or
  * re-scans data; the listeners are detached while untraced work runs. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[(Int, StageInfo)]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, planMs)
  private var attached = false

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.synchronized {
        plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def span[A](layer: String)(body: => A): A = {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally spans += Span(layer, startMs, startMs + (System.nanoTime() - t0) / 1000000L,
      (System.nanoTime() - t0) / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      (CodeGenerator.compileTime - compileNs0) / 1e9)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageSpan(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += ((e.stageInfo.stageId, e.stageInfo))
  }

  /** Sum of every measure per layer, over the spans recorded so far. */
  def layers(): Map[String, Measures] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      def owner(ms: Long): Option[Span] =
        spans.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption
      val out = mutable.LinkedHashMap.empty[String, Measures]
      def of(s: Span) = out.getOrElseUpdate(s.layer, new Measures)
      for (s <- spans) {
        val m = of(s)
        m.wall += s.wallS
        m.compiles += s.compiles
        m.compileS += s.compileS
        val busy = jobs.values.filter(j => owner(j.startMs).contains(s))
          .map(j => (j.startMs max s.startMs, (if (j.endMs < 0) s.endMs else j.endMs) min s.endMs))
          .toSeq.sortBy(_._1)
        m.driver += (s.wallS - union(busy) / 1e3) max 0.0
      }
      for (j <- jobs.values; s <- owner(j.startMs)) of(s).jobs += 1
      for ((id, info) <- stages; j <- stageSpan.get(id); s <- owner(j.startMs)) {
        val m = of(s)
        val tm = info.taskMetrics
        m.stages += 1
        m.tasks += info.numTasks
        if (tm != null) {
          m.runS += tm.executorRunTime / 1e3
          m.cpuS += tm.executorCpuTime / 1e9
          m.gcS += tm.jvmGCTime / 1e3
          m.inputBytes += tm.inputMetrics.bytesRead
          m.outputBytes += tm.outputMetrics.bytesWritten
          m.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
      plans.synchronized {
        for ((start, ms) <- plans; s <- owner(start)) of(s).planS += ms / 1e3
      }
      out.toMap
    }
  }

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  final case class Span(layer: String, startMs: Long, endMs: Long, wallS: Double,
      compiles: Long, compileS: Double)
  final case class Job(startMs: Long) { var endMs: Long = -1L }

  final class Measures {
    var wall, driver, runS, cpuS, gcS, compileS, planS = 0.0
    var jobs, stages, tasks, inputBytes, outputBytes, shuffleBytes, spillBytes,
      compiles = 0L
    def toMap(layer: String): Seq[(String, Double)] = Seq(
      "wall_s" -> wall, "driver_s" -> driver, "jobs" -> jobs.toDouble,
      "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "executor_run_s" -> runS, "executor_cpu_s" -> cpuS, "gc_s" -> gcS,
      "input_bytes" -> inputBytes.toDouble, "output_bytes" -> outputBytes.toDouble,
      "shuffle_bytes" -> shuffleBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
      "codegen_compiles" -> compiles.toDouble)
      .map { case (k, v) => s"$layer.$k" -> v }
  }
}
