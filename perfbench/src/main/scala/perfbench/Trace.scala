package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** A timed interval: one op (the root), a harness-side step inside it, or a
  * Spark job of that op. Times are epoch milliseconds plus a nanosecond
  * fraction, so harness spans and listener job times share one clock. */
final case class Span(op: Int, name: String, startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Task-metric sums for one op, collected from the listener by job group. */
final class TaskSums {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRows = 0L
}

/** Per-layer instrumentation from outside the engine: spans recorded around
  * the harness's calls into each layer, and a [[SparkListener]] that files
  * every job, stage and task under the op whose job group launched it.
  * Spans stay in memory until [[dump]] writes them when the run ends. */
final class Tracer(spark: SparkSession) {
  private val Group = "spark.jobGroup.id"
  private val Prefix = "perfbench-op-"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobOp = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val sums = mutable.HashMap.empty[Int, TaskSums]
  private var openJobs = 0

  private def sumsOf(op: Int): TaskSums = sums.getOrElseUpdate(op, new TaskSums)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(Group)))
      g.filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt).foreach { op =>
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageOp(s) = op)
        sumsOf(op).jobs += 1
        openJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOp.get(e.jobId).foreach { op =>
        spans += Span(op, "job", jobStart(e.jobId).toDouble, e.time.toDouble)
        openJobs -= 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageOp.get(e.stageInfo.stageId).foreach(op => sumsOf(op).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = sumsOf(op)
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  // catalyst phase seconds, codegen compile seconds and classes, per op
  private val phases = mutable.HashMap.empty[(Int, String), Double]
  private var codegen0 = (0L, 0L)

  private val epochMs0 = System.currentTimeMillis()
  private val nanos0 = System.nanoTime()

  /** Epoch milliseconds at nanosecond resolution, on the listener's clock. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  /** Tags every job the calling thread (and threads it starts) launches
    * during `op` with that op's job group. */
  def beginOp(op: Int): Unit = {
    spark.sparkContext.setJobGroup(Prefix + op, s"perfbench op $op")
    codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def endOp(op: Int): Unit = {
    spark.sparkContext.clearJobGroup()
    addPhase(op, "codegen.compile_s", (CodeGenerator.compileTime - codegen0._1) / 1e9)
    addPhase(op, "codegen.classes",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble)
  }

  def addPhase(op: Int, key: String, v: Double): Unit = synchronized {
    phases((op, key)) = phases.getOrElse((op, key), 0.0) + v
  }

  /** Catalyst analysis / optimization / planning seconds of one executed
    * query, read from its [[org.apache.spark.sql.execution.QueryExecution]]
    * tracker. */
  def catalyst(op: Int, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    for ((k, p) <- qe.tracker.phases if k != "parsing")
      addPhase(op, s"catalyst.${k}_s", (p.endTimeMs - p.startTimeMs) / 1000.0)

  def phase(op: Int, key: String): Double = synchronized(phases.getOrElse((op, key), 0.0))

  def span[T](op: Int, name: String)(f: => T): T = {
    val t0 = nowMs
    try f finally synchronized { spans += Span(op, name, t0, nowMs) }
  }

  /** Listener events arrive asynchronously; wait (bounded) until every job
    * that started has ended, then give the bus a moment to deliver the
    * trailing task events. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (synchronized(openJobs) > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def sumsFor(op: Int): TaskSums = synchronized(sums.getOrElse(op, new TaskSums))
  def spansFor(op: Int): Seq[Span] = synchronized(spans.filter(_.op == op).toSeq)

  def dump(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.sortBy(s => (s.op, s.startMs)).map(s =>
      f"""{"op":${s.op},"span":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Length of the part of [lo, hi] covered by the union of `ivs`. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = lo
    for ((a, b) <- ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
           .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > reach) { total += b - math.max(a, reach); reach = b }
    }
    total
  }

  /** Self time of each span of one op: its duration minus the part of it
    * covered by its children. The root `op` span's children are the
    * harness steps; a step's children are the jobs that ran inside it; a
    * job is a leaf. Returns seconds summed per span name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val jobs = spans.filter(_.name == "job")
    val steps = spans.filter(s => s.name != "job" && s.name != "op")
    val roots = spans.filter(_.name == "op")
    def self(s: Span, kids: Seq[Span]) =
      (s.endMs - s.startMs - covered(s.startMs, s.endMs, kids.map(k => (k.startMs, k.endMs)))) / 1000.0
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    roots.foreach(r => out("op") += self(r, steps))
    steps.foreach(s => out(s.name) += self(s, jobs))
    jobs.foreach(j => out("job") += j.durS)
    out.toMap
  }
}
