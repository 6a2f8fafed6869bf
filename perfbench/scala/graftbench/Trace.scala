package graftbench

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark cost of one job, summed over its tasks. Times are epoch ms on the
  * scheduler's clock, the same clock [[Tracer]] spans are placed on. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  var rowsWritten = 0L

  def toMap: Map[String, Any] = Map("id" -> id, "start_ms" -> startMs, "end_ms" -> endMs,
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "peak_task_mem" -> peakTaskMem, "rows_written" -> rowsWritten)
}

/** Records every job and folds each task-end event into its job. It reads
  * only what Spark already posts to the listener bus, so the engine runs
  * unchanged; jobs are matched to the benchmark's spans afterwards, by
  * time. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.peakTaskMem = math.max(j.peakTaskMem, m.peakExecutionMemory)
        j.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** One benchmark span: a workload, a pass, or a call into a layer. */
final class Span(val id: Int, val parent: Int, val trace: String, val name: String,
    val kind: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "trace" -> trace,
    "name" -> name, "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** In-memory span recorder. Spans are kept only while `recording` is on;
  * each call span also carries the codegen compile time and compile count
  * that elapsed inside it (CodeGenerator's exact nanosecond sum and
  * CodegenMetrics' compile histogram count). */
final class Tracer {
  private val epochBase = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Span]
  var recording = false
  var trace = "setup"

  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def begin(name: String, kind: String): Option[Span] =
    if (!recording) None
    else {
      val s = new Span(recorded.length, open.lastOption.map(_.id).getOrElse(-1),
        trace, name, kind, nowMs)
      s.attrs("codegen_ns") = CodeGenerator.compileTime.toDouble
      s.attrs("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
      recorded += s
      open += s
      Some(s)
    }

  def end(span: Option[Span]): Unit = span.foreach { s =>
    s.attrs("codegen_ns") = CodeGenerator.compileTime - s.attrs("codegen_ns")
    s.attrs("codegen_compiles") =
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - s.attrs("codegen_compiles")
    s.endMs = nowMs
    open -= s
  }

  def span[T](name: String, kind: String)(body: => T): T = {
    val s = begin(name, kind)
    try body finally end(s)
  }

  /** Sets an attribute on the innermost open span, if one is recorded. */
  def attr(key: String, value: Double): Unit =
    if (recording) open.lastOption.foreach(_.attrs(key) = value)

  def spans: Seq[Span] = recorded.toSeq
}
