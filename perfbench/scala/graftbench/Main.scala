package graftbench

import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession

/** Benchmark process: set up one workload, run timed passes until the
  * time budget is spent, check every pass's outputs, and write the raw
  * measurements (pass walls, set-up parts, per-job Spark cost, spans) as
  * one JSON file for `perfbench/run.py` to reduce into metrics.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <workDir> <outFile>
  */
object Main {

  /** Input builds per run; set-up time reports their median. */
  val InputBuilds = 3

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: Main <workload> <seed> <seconds> <trace> <cores> <workDir> <out>")
    val Array(name, seedS, secondsS, traceS, coresS, workDir, outFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traceMode = traceS == "1"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(coresS.toInt, workDir)
    val recorder = new JobRecorder
    spark.sparkContext.addSparkListener(recorder)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer
    val ops = new Ops
    val w = Workloads(name, spark, seed, workDir, coresS.toInt)
    tracer.recording = traceMode
    val root = tracer.begin(name, "workload")

    val inputS = (1 to InputBuilds).map { _ =>
      val t = System.nanoTime()
      tracer.span("synth.inputs", "setup")(w.prepare())
      (System.nanoTime() - t) / 1e9
    }

    // passes: (index, warm-up, traced, start_ms, end_ms, wall_s); warm-up
    // passes are timed as set-up and checked like every other pass
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Boolean, Double, Double, Double)]
    var error: Option[String] = None
    def onePass(i: Int, warmup: Boolean, traced: Boolean): Double = {
      val p = new Pass(i, tracer, ops)
      tracer.recording = traced
      tracer.trace = if (warmup) s"warmup$i" else s"pass$i"
      val startMs = tracer.nowMs
      val t = System.nanoTime()
      tracer.span("pass", "pass")(w.run(p))
      val wall = (System.nanoTime() - t) / 1e9
      passes += ((i, warmup, traced, startMs, tracer.nowMs, wall))
      tracer.recording = false
      w.check(p)
      tracer.recording = traceMode
      wall
    }

    var i = 0
    var warmupS = 0.0
    while (i < w.warmupPasses && error.isEmpty) {
      try warmupS += onePass(i, warmup = true, traced = traceMode)
      catch { case e: Throwable => error = Some(e.toString) }
      i += 1
    }
    val setupS = sessionS + median(inputS) + warmupS

    // timed passes: stop before a pass that would overrun the budget; a
    // traced run alternates traced and untraced passes so their walls
    // give the tracing overhead
    val minPasses = if (traceMode) 2 else 1
    val budgetStart = System.nanoTime()
    val cycle = scala.collection.mutable.ArrayBuffer.empty[Double]
    var more = error.isEmpty
    while (more) {
      val t = System.nanoTime()
      try onePass(i, warmup = false, traced = traceMode && cycle.length % 2 == 0)
      catch { case e: Throwable => error = Some(e.toString); more = false }
      cycle += (System.nanoTime() - t) / 1e9
      val spent = (System.nanoTime() - budgetStart) / 1e9
      i += 1
      if (more && cycle.length >= minPasses && spent + median(cycle.toSeq) > seconds) more = false
    }
    tracer.end(root)

    ListenerBusAccess.drain(spark.sparkContext)
    val jobs = recorder.snapshot()
    error.foreach(e => ops.failures += s"aborted: $e")
    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> traceMode, "rows" -> w.rows,
      "session_s" -> sessionS, "input_s" -> inputS, "warmup_s" -> warmupS, "setup_s" -> setupS,
      "passes" -> passes.map { case (idx, warmup, traced, s, e, wall) =>
        Map("index" -> idx, "warmup" -> warmup, "traced" -> traced,
          "start_ms" -> s, "end_ms" -> e, "wall_s" -> wall)
      },
      "attempted" -> ops.attempted,
      "failed" -> math.max(ops.failed, if (error.isDefined) 1L else 0L),
      "failures" -> ops.failures, "info" -> w.info,
      "spans" -> tracer.spans.map(_.toMap), "jobs" -> jobs.map(_.toMap))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(outFile), result)
    w.release()
    spark.stop()
  }
}
