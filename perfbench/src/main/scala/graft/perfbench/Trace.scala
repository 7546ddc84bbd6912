package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced run's recorder, attached from outside the program.
  *
  *  - A span is one call into a layer's public function, timed around the
  *    call by the benchmark ([[span]]).
  *  - A `SparkListener` records every job (interval, SQL execution id,
  *    summed stage metrics) and every SQL execution (interval, root).
  *  - The query each SQL execution ran, taken from its end event, gives
  *    its write target and whether it is a one-row aggregate. (A
  *    `QueryExecutionListener` sees the same query but not the execution
  *    id its jobs carry, so it cannot split a span's jobs.)
  *
  * Nothing is attributed here: the raw records go to the result file and
  * the layer split is computed by `perfbench/analysis.py`. The listener is
  * attached only around traced ops, so untraced ops pay nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Job]
  private val execs = new ConcurrentHashMap[Long, Exec]
  private val infos = new ConcurrentHashMap[Long, Info]
  private val spans = new ConcurrentLinkedQueue[Span]
  @volatile private var on = false
  @volatile private var openSpan = -1
  @volatile private var op = -1
  private var nextSpan = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val j = new Job(e.jobId, e.time, exec)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (j <- Option(stageJob.get(si.stageId)); m <- Option(si.taskMetrics))
        j.synchronized {
          j.tasks += si.numTasks
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId,
          Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.end = s.time)
        PerfbenchAccess.query(s).foreach(qe => infos.put(s.executionId, describe(qe)))
      case _ =>
    }
  }

  private def describe(qe: QueryExecution): Info = Info(
    target = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.getOrElse(""),
    oneRowAgg = qe.analyzed.exists {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _ => false
    })

  /** Attach the listener; `opIndex` tags the spans that follow. */
  def attach(opIndex: Int): Unit = {
    op = opIndex
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  /** Deliver the events already posted, then detach the listener. */
  def detach(): Unit = {
    on = false
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Time `body` as one call into `layer` (`name` is the function). Spans
    * nest across threads: a streaming writer span opened on the stream's
    * thread is a child of the trigger span the driver thread holds open.
    */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val (id, parent) = synchronized {
        val id = nextSpan; nextSpan += 1
        val parent = openSpan; openSpan = id
        (id, parent)
      }
      val start = System.currentTimeMillis()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, op, start, System.currentTimeMillis()))
        synchronized { openSpan = parent }
      }
    }

  def json: Json.Obj = Json.Obj(
    "spans" -> Json.Arr(spans.asScala.toSeq.sortBy(_.id).map(s => Json.Obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "op" -> s.op, "start" -> s.start, "end" -> s.end))),
    "jobs" -> Json.Arr(jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
      Json.Obj("id" -> j.id, "exec" -> j.exec, "start" -> j.start, "end" -> j.end,
        "tasks" -> j.tasks, "exec_run_s" -> j.runMs / 1e3,
        "exec_cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "input_bytes" -> j.input)
    })),
    "execs" -> Json.Arr(execs.values.asScala.toSeq.sortBy(_.id).map { x =>
      val info = Option(infos.get(x.id))
      Json.Obj("id" -> x.id, "root" -> x.root, "start" -> x.start, "end" -> x.end,
        "target" -> info.fold("")(_.target),
        "one_row_agg" -> info.exists(_.oneRowAgg))
    }))
}

object Tracer {
  final class Job(val id: Int, val start: Long, val exec: Long) {
    @volatile var end = -1L
    var tasks, runMs, gcMs = 0L
    var cpuNs, shuffleWrite, spill, input = 0L
  }
  final case class Exec(id: Long, root: Long, start: Long) {
    @volatile var end = -1L
  }
  final case class Info(target: String, oneRowAgg: Boolean)
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      op: Int, start: Long, end: Long)
}
