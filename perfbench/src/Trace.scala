package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
 * events that happen inside them. Spans stay in memory; events are
 * attributed to a span by time (the benchmark is one closed-loop client,
 * so at any instant exactly one chain of spans is open — this also
 * catches jobs that library code launches from pool threads). */
final class Trace(spark: SparkSession) {
  import Trace._

  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val jobs = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val plans = new ConcurrentLinkedQueue[PlanEv]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val at = ph.values.map(_.endTimeMs).foldLeft(0L)((a, b) => math.max(a, b))
      plans.add(PlanEv(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.BusFlush(spark.sparkContext)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def jobsIn(s: Span): Int = jobs.asScala.count(s.covers)
  def tasksIn(s: Span): Seq[TaskEv] = tasks.asScala.filter(t => s.covers(t.launchMs)).toSeq
  def plansIn(s: Span): Seq[PlanEv] = plans.asScala.filter(p => s.covers(p.atMs)).toSeq

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** max / median task time of the busiest stage in the span. */
  def taskSkew(s: Span): Double = {
    val byStage = tasksIn(s).groupBy(_.stageId).values.filter(_.size > 1)
    if (byStage.isEmpty) 0.0
    else {
      val busiest = byStage.maxBy(_.map(t => t.finishMs - t.launchMs).sum)
      val d = busiest.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) d.last else d.last / med
    }
  }

  /** Spark-side metrics of a span (normally the traced pass). */
  def sparkMetrics(s: Span, cores: Int, codegenNs: Long): Seq[(String, Double)] = {
    val ts = tasksIn(s)
    val ps = plansIn(s)
    val wallMs = math.max(1L, s.endMs - s.startMs)
    // wall time with no task running: the union of task intervals, clipped
    val iv = ts.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    iv.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    Seq(
      "spark.analysis_s" -> ps.map(_.analysis).sum,
      "spark.optimization_s" -> ps.map(_.optimization).sum,
      "spark.planning_s" -> ps.map(_.planning).sum,
      "spark.jobs" -> jobsIn(s).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.shuffle_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.codegen_compile_s" -> codegenNs / 1e9,
      "spark.busy_frac" -> ts.map(t => t.finishMs - t.launchMs).sum.toDouble / (wallMs * cores),
      "spark.driver_only_s" -> (wallMs - covered) / 1e3)
  }

  def spanRecords: Seq[Seq[(String, Any)]] = spans.toSeq.map(s => Seq(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds, "self_s" -> selfSeconds(s),
    "jobs" -> jobsIn(s)))
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, startMs: Long) {
    var endNs: Long = 0L
    var endMs: Long = 0L
    def seconds: Double = (endNs - startNs) / 1e9
    def covers(tMs: Long): Boolean = startMs <= tMs && tMs <= endMs
  }
  final case class TaskEv(stageId: Int, launchMs: Long, finishMs: Long, inBytes: Long,
                          inRecords: Long, shuffleWrite: Long, spill: Long)
  final case class PlanEv(atMs: Long, analysis: Double, optimization: Double, planning: Double)

  /** Janino compile time so far, all threads (nanoseconds). */
  def codegenNs: Long = CodeGenerator.compileTime
}
