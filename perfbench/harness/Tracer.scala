package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Engine-layer counters for the traced run, fed by a listener that the
  * benchmark attaches through configuration only (`spark.extraListeners`),
  * so the program runs unchanged. The package sits under
  * `org.apache.spark.sql` for two reads Spark keeps package-private: the [[QueryExecution]] riding on each SQL
  * execution-end event (its planning tracker holds the Catalyst phase times,
  * for batch actions and streaming micro-batches alike) and the listener
  * bus drain that makes a snapshot see every event posted before it. */
object Trace {
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var activeJobs = 0
  private var busySince = 0L
  private val jobStarts = mutable.Map[Int, Long]()
  private val execStarts = mutable.Map[Long, Long]()
  /** Epoch-ms intervals of finished jobs, SQL executions and Catalyst
    * phases, for the busy-time union of a phase window. */
  private val spans = mutable.ArrayBuffer[(Long, Long)]()
  private val trackers = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  def add(key: String, v: Double): Unit = synchronized { sums(key) += v }

  private[perfbench] def jobStart(id: Int, time: Long): Unit = synchronized {
    if (activeJobs == 0) busySince = time
    activeJobs += 1
    jobStarts(id) = time
    sums("jobs") += 1
  }

  private[perfbench] def jobEnd(id: Int, time: Long): Unit = synchronized {
    activeJobs = math.max(0, activeJobs - 1)
    if (activeJobs == 0) sums("job_wall_s") += (time - busySince) / 1000.0
    jobStarts.remove(id).foreach(t => spans += ((t, time)))
  }

  private[perfbench] def execStart(id: Long, time: Long): Unit = synchronized {
    execStarts(id) = time
  }

  private[perfbench] def execEnd(id: Long, time: Long,
      qe: org.apache.spark.sql.execution.QueryExecution): Unit = synchronized {
    execStarts.remove(id).foreach(t => spans += ((t, time)))
    if (qe != null) {
      val t = qe.tracker
      if (trackers.add(t)) for ((phase, key) <- Seq("analysis" -> "analysis_s",
          "optimization" -> "optimization_s", "planning" -> "planning_s"))
        t.phases.get(phase).foreach { p =>
          sums(key) += p.durationMs / 1000.0
          spans += ((p.startTimeMs, p.endTimeMs))
        }
    }
  }

  /** Cumulative counters after every event posted so far has been
    * delivered, plus the codegen compile totals of this JVM. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    sc.listenerBus.waitUntilEmpty()
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps every sample until its 1028-slot reservoir fills,
    // far above the compilations of one run
    val compileMs = compile.getSnapshot.getValues.map(_.toDouble).sum
    synchronized {
      sums.toMap ++ Map("codegen_compile_s" -> compileMs / 1000.0,
        "codegen_classes" -> compile.getCount.toDouble)
    }
  }

  /** Seconds of [from, to) (epoch ms) covered by at least one job, SQL
    * execution or Catalyst phase that ended by the last snapshot. */
  def busySeconds(from: Long, to: Long): Double = {
    val clipped = synchronized(spans.toVector)
      .map { case (a, b) => (a max from, b min to) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var end = from
    for ((a, b) <- clipped if b > end) {
      covered += b - (a max end)
      end = b
    }
    covered / 1000.0
  }
}

/** Jobs, stages, tasks and their executor metrics. */
class Tracer extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("exec_run_s", m.executorRunTime / 1000.0)
      Trace.add("exec_cpu_s", m.executorCpuTime / 1e9)
      Trace.add("gc_s", m.jvmGCTime / 1000.0)
      Trace.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Trace.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      Trace.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => Trace.execStart(start.executionId, start.time)
    case end: SparkListenerSQLExecutionEnd => Trace.execEnd(end.executionId, end.time, end.qe)
    case _ =>
  }
}
