package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: name, wall interval, and the span that
  * caused it (`parent` = -1 for a run's root span). */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans recorded from the benchmark's own code, around calls into the
  * engine's public layer functions. Spans of one traced run nest strictly
  * and run one at a time (a single client), so an engine event is
  * attributed to the innermost span whose interval contains its time. */
final class Tracer {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]

  def span[A](name: String)(body: => A): A = {
    val id = spans.size + stack.size
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.currentTimeMillis()) :: stack
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      spans += Span(id, name, parent, start, System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = spans.sortBy(_.id).toSeq
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum
}

/** Engine counters gathered by a [[SparkListener]] and a
  * [[QueryExecutionListener]] the benchmark registers on its own session:
  * planning phase time per executed query, and job/stage/task counts with
  * the task metrics Spark reports. Events are kept with their timestamps
  * and summed over a time window afterwards. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  import EngineListener.{Query, Task}

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val queries = new ConcurrentLinkedQueue[Query]()
  private val lastJobEnd = new AtomicLong(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd.set(e.jobId)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stages.add(at)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planning = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    queries.add(Query(start, planning,
      qe.logical.toString.contains(EngineListener.MarkerCol)))
  }

  /** Block until every event posted before this call has been delivered:
    * run a marker query and wait for both listeners to see it. */
  def drain(spark: SparkSession): Unit = {
    val before = lastJobEnd.get()
    spark.range(0, 1, 1, 1).selectExpr(s"id AS ${EngineListener.MarkerCol}")
      .collect()
    val deadline = System.currentTimeMillis() + 10000
    def markerSeen = queries.asScala.exists(_.marker)
    while ((lastJobEnd.get() == before || !markerSeen) &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    queries.removeIf(_.marker)
  }

  /** Engine metrics over [fromMs, toMs) with `cores` task slots. */
  def window(fromMs: Long, toMs: Long, cores: Int): Map[String, Double] = {
    def in(t: Long) = t >= fromMs && t < toMs
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val qs = queries.asScala.filter(q => in(q.atMs) && !q.marker).toSeq
    val busyMs = ts.map(t => (math.min(t.finishMs, toMs) - t.launchMs).max(0L)).sum
    val wallMs = math.max(1L, toMs - fromMs)
    Map(
      "engine.planning_s" -> qs.map(_.planningMs).sum / 1000.0,
      "engine.queries" -> qs.size.toDouble,
      "engine.jobs" -> jobs.asScala.count(t => in(t)).toDouble,
      "engine.stages" -> stages.asScala.count(t => in(t)).toDouble,
      "engine.tasks" -> ts.size.toDouble,
      "engine.core_idle_ratio" ->
        math.max(0.0, 1.0 - busyMs.toDouble / (cores.toLong * wallMs)),
      "engine.task_run_s" -> ts.map(_.runMs).sum / 1000.0,
      "engine.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "engine.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "engine.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "engine.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "engine.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "engine.input_bytes" -> ts.map(_.input).sum.toDouble,
      "engine.output_bytes" -> ts.map(_.output).sum.toDouble)
  }
}

object EngineListener {
  val MarkerCol = "graftbench_drain_marker"

  final case class Task(launchMs: Long, finishMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, input: Long,
                        output: Long)
  final case class Query(atMs: Long, planningMs: Long, marker: Boolean)

  def register(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
