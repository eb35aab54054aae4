package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listeners saw between two [[Recorder.take]]s. */
final case class Window(
    jobs: Seq[(Long, Long)], stages: Long, oneTaskStages: Long, tasks: Long,
    taskMs: Long, cpuNs: Long, gcMs: Long, scanBytes: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    analysisMs: Long, optimizeMs: Long, planMs: Long)

/** Accumulates scheduler, task-metric and query-planning events. Spark
  * delivers them on its listener bus, after the fact: drain the bus
  * before [[take]] so an operation's window holds all of its events.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private var w = empty

  private def empty = Window(Vector.empty, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  def take(): Window = synchronized { val r = w; w = empty; r }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStart(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    w = w.copy(jobs = w.jobs :+ (start -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      w = w.copy(stages = w.stages + 1,
        oneTaskStages = w.oneTaskStages + (if (e.stageInfo.numTasks == 1) 1 else 0))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    w = w.copy(tasks = w.tasks + 1, taskMs = w.taskMs + e.taskInfo.duration)
    if (m != null) w = w.copy(
      cpuNs = w.cpuNs + m.executorCpuTime, gcMs = w.gcMs + m.jvmGCTime,
      scanBytes = w.scanBytes + m.inputMetrics.bytesRead,
      shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = w.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    w = w.copy(analysisMs = w.analysisMs + ms("analysis"),
      optimizeMs = w.optimizeMs + ms("optimization"),
      planMs = w.planMs + ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = phases(qe)
}

/** One finished span: run → workload → operation → layer call. Times are
  * nanoseconds since the run started; every span of an operation carries
  * that operation's id.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long,
                      counts: Map[String, Double] = Map.empty)

/** One timed operation: its wall, whether it ran traced, and (traced)
  * the per-layer numbers of its interval.
  */
final case class OpRec(name: String, wall: Double, traced: Boolean,
                       error: Option[String],
                       layers: Map[String, Double])

/** Times operations and their layer calls. Traced operations also
  * attach [[Recorder]] and attribute its events to the operation and,
  * by event time, to its layer calls. Spans stay in memory until
  * [[spans]] is written out at the end of the run.
  */
final class Tracer {
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 3 // 1 = run, 2 = workload
  private var recorder: Option[(SparkSession, Recorder)] = None
  val ops = mutable.ArrayBuffer.empty[OpRec]

  def now: Long = System.nanoTime() - t0
  def spans: Seq[Span] = done.toSeq

  def close(workload: String): Unit = {
    val end = now
    done += Span(2, 1, 0, workload, 0, end)
    done += Span(1, 0, 0, "run", 0, end)
  }

  /** Attach (or detach) the listeners; switching drains the bus first so
    * no event crosses from an untraced operation into a traced one.
    */
  def setTraced(spark: SparkSession, on: Boolean): Unit = if (on != recorder.isDefined) {
    BenchAccess.drainListenerBus(spark.sparkContext)
    recorder.foreach { case (s, r) =>
      s.sparkContext.removeSparkListener(r)
      s.listenerManager.unregister(r)
    }
    recorder = None
    if (on) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      recorder = Some(spark -> r)
    }
  }

  final class Op(val id: Int) {
    private[Tracer] val layers = mutable.ArrayBuffer.empty[Span]

    /** Time one call into a layer; repeated names add up. */
    def layer[T](name: String)(f: => T): T = {
      val s = now
      try f finally {
        layers += Span(nextId, id, id, name, s, now)
        nextId += 1
      }
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Run one operation; a throw is recorded as a failed operation. */
  def op(name: String)(body: Op => Unit): OpRec = {
    val o = new Op(nextId)
    nextId += 1
    val traced = recorder.isDefined
    val compN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compNs0 = CodeGenerator.compileTime
    val gc0 = gcMs
    val s = now
    val error =
      try { body(o); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val e = now
    val wall = (e - s) / 1e9
    val layerSums = o.layers.groupMapReduce(l => key(l.name, "s"))(
      l => (l.end - l.start) / 1e9)(_ + _)
    var counts = layerSums ++ Map(
      "bench.op_self_s" -> (wall - layerSums.values.sum),
      "codegen.compile_n" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compN0).toDouble,
      "codegen.compile_s" -> (CodeGenerator.compileTime - compNs0) / 1e9,
      "jvm.gc_s" -> (gcMs - gc0) / 1e3)
    val layerSpans = recorder match {
      case Some((spark, r)) =>
        BenchAccess.drainListenerBus(spark.sparkContext)
        val w = r.take()
        counts ++= windowCounts(w, s, e)
        val spans = o.layers.map { l =>
          l.copy(counts = Map("sched.jobs" -> jobsStartedIn(w, l.start, l.end)))
        }
        counts ++= spans.groupMapReduce(l => key(l.name, "jobs"))(
          _.counts("sched.jobs"))(_ + _)
        spans
      case None => o.layers
    }
    done ++= layerSpans
    done += Span(o.id, 2, o.id, name, s, e, if (traced) counts else Map.empty)
    val rec = OpRec(name, wall, traced, error, if (traced) counts else layerSums)
    ops += rec
    rec
  }

  /** Metric name of a layer's figure: `construct.s`, `etl.merge_s`. */
  private def key(layer: String, what: String): String =
    if (layer.contains('.')) s"${layer}_$what" else s"$layer.$what"

  private def ms(ns: Long): Long = wall0 + ns / 1000000L

  private def jobsStartedIn(w: Window, s: Long, e: Long): Double =
    w.jobs.count { case (js, _) => js >= ms(s) && js <= ms(e) }.toDouble

  /** Totals of one operation's window, plus the share of its wall during
    * which no job ran.
    */
  private def windowCounts(w: Window, s: Long, e: Long): Map[String, Double] = {
    val (lo, hi) = (ms(s), ms(e))
    val covered = w.jobs.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, lo)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - a.max(reach), b)
      }._1
    Map(
      "sched.jobs" -> w.jobs.size.toDouble,
      "sched.stages" -> w.stages.toDouble,
      "sched.tasks" -> w.tasks.toDouble,
      "sched.one_task_stages" -> w.oneTaskStages.toDouble,
      "sched.driver_gap_s" -> ((hi - lo) - covered).max(0L) / 1e3,
      "exec.task_s" -> w.taskMs / 1e3,
      "exec.cpu_s" -> w.cpuNs / 1e9,
      "exec.gc_s" -> w.gcMs / 1e3,
      "exec.scan_bytes" -> w.scanBytes.toDouble,
      "exec.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
      "exec.shuffle_read_bytes" -> w.shuffleRead.toDouble,
      "exec.spill_bytes" -> w.spill.toDouble,
      "catalyst.analysis_s" -> w.analysisMs / 1e3,
      "catalyst.optimize_s" -> w.optimizeMs / 1e3,
      "catalyst.plan_s" -> w.planMs / 1e3)
  }
}
