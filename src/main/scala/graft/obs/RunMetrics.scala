package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The engine's one run-metrics listener: [[measure]] runs a body and
  * returns one [[RunMetrics.Record]] of the Spark jobs that body ran.
  *
  * Attribution works like [[graft.core.Cuts.scoped]], by owner, not by
  * time window. `measure` tags the calling thread with a local property;
  * Spark copies it into every job the thread submits, and threads started
  * inside the body inherit it (a streaming query's thread; Spark's
  * broadcast and subquery pools copy local properties explicitly). The
  * listener keeps only jobs whose tag belongs to a measure still open, so
  * two measures on two threads never see each other's jobs, and a stale
  * tag a pool thread inherited once is ignored.
  *
  * After the body returns, `measure` drains the listener bus
  * ([[GraftShim.drainListenerBus]]): a job posts its end events before its
  * action returns, so the record is complete without a sleep.
  *
  * The listener is installed once per `SparkContext`, on the first
  * `measure`; a session that never measures runs no listener. Measures do
  * not nest: a measure inside an open one on the same thread throws.
  */
object RunMetrics {

  /** One completed stage attempt. `writerRunMs` are the run times of the
    * tasks that wrote shuffle records (a skew read: max over median). */
  final case class Stage(id: Int, name: String, wallMs: Long,
      tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inputRecords: Long, inputBytes: Long,
      shuffleReadRecords: Long, shuffleReadBytes: Long,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long, spillBytes: Long,
      maxTaskShuffleReadRecords: Long, maxTaskShuffleWriteRecords: Long,
      writerRunMs: Seq[Long])

  /** One job: its interval, the SQL execution it ran under (-1 for none),
    * its description and the stages it completed (skipped stages absent). */
  final case class Job(id: Int, startMs: Long, endMs: Long, executionId: Long,
      description: String, stages: Seq[Stage])

  /** One SQL execution: its analysis, optimization and physical planning
    * times, as its `QueryExecution.tracker` recorded them. */
  final case class Execution(id: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  /** Every job one [[measure]] ran, in start order, every SQL execution
    * those jobs ran under that ended inside the body, in end order, and
    * the body's interval. */
  final case class Record(startMs: Long, endMs: Long, jobs: Seq[Job],
      executions: Seq[Execution]) {
    def wallS: Double = (endMs - startMs) / 1e3
    def stages: Seq[Stage] = jobs.flatMap(_.stages)
    def total(f: Stage => Long): Long = stages.iterator.map(f).sum

    /** Time between the first job's start and the last job's end with no
      * job running: the driver's analysis, planning and orchestration
      * between jobs. */
    def driverGapMs: Long = {
      var prevEnd = -1L
      var gap = 0L
      jobs.foreach { j =>
        if (prevEnd >= 0) gap += math.max(0L, j.startMs - prevEnd)
        prevEnd = math.max(prevEnd, j.endMs)
      }
      gap
    }
  }

  private val Tag = "graft.obs.run"
  private val Description = "spark.job.description"
  private val nextTag = new AtomicLong

  private final class OpenJob(val id: Int, val startMs: Long,
      val executionId: Long, val description: String) {
    @volatile var endMs = -1L
    val stages = mutable.ArrayBuffer.empty[Stage]
  }

  private final class OpenRun {
    val jobs = mutable.ArrayBuffer.empty[OpenJob]
    val executions = mutable.ArrayBuffer.empty[Execution]
  }

  private final class TaskMaxima {
    var read = 0L
    var write = 0L
    val writerRunMs = mutable.ArrayBuffer.empty[Long]
  }

  /** Callbacks run on the bus's one dispatch thread; the open runs are
    * read by measuring threads, under the run's lock. */
  private final class Listener extends SparkListener {
    val open = new ConcurrentHashMap[String, OpenRun]
    private val live = mutable.HashMap.empty[Int, (OpenJob, Seq[Int])]
    private val executionRun = mutable.HashMap.empty[Long, OpenRun]
    private val stageJob = mutable.HashMap.empty[Int, OpenJob]
    private val tasks = mutable.HashMap.empty[(Int, Int), TaskMaxima]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (p <- Option(e.properties); tag <- Option(p.getProperty(Tag));
           run <- Option(open.get(tag))) {
        val j = new OpenJob(e.jobId, e.time,
          Option(p.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong),
          Option(p.getProperty(Description)).getOrElse(""))
        run.synchronized(run.jobs += j)
        if (j.executionId >= 0) executionRun(j.executionId) = run
        live(e.jobId) = (j, e.stageIds)
        // a stage shared with a job still running stays with that job
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, j))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      live.remove(e.jobId).foreach { case (j, ids) =>
        j.endMs = e.time
        ids.foreach(s => if (stageJob.get(s).contains(j)) stageJob.remove(s))
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        for (run <- executionRun.remove(end.executionId); x <- GraftShim.phases(end))
          run.synchronized(run.executions += x)
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (m <- Option(e.taskMetrics) if stageJob.contains(e.stageId)) {
        val t = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskMaxima)
        t.read = math.max(t.read, m.shuffleReadMetrics.recordsRead)
        val written = m.shuffleWriteMetrics.recordsWritten
        t.write = math.max(t.write, written)
        if (written > 0) t.writerRunMs += m.executorRunTime
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val t = tasks.remove((si.stageId, si.attemptNumber())).getOrElse(new TaskMaxima)
      for (j <- stageJob.get(si.stageId); m <- Option(si.taskMetrics)) {
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(0L)
        j.synchronized(j.stages += Stage(si.stageId, si.name,
          wall, si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          t.read, t.write, t.writerRunMs.toSeq))
      }
    }
  }

  private var installed: Option[(SparkContext, Listener)] = None

  private def listenerOf(sc: SparkContext): Listener = synchronized {
    installed match {
      case Some((c, l)) if c eq sc => l
      case _ =>
        val l = new Listener
        sc.addSparkListener(l)
        installed = Some((sc, l))
        l
    }
  }

  /** Run `body` and return its result with the record of every job it
    * (and every thread it started) ran. Throws if a measure is already
    * open on this thread. */
  def measure[A](spark: SparkSession)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val l = listenerOf(sc)
    val outer = sc.getLocalProperty(Tag)
    if (outer != null && l.open.containsKey(outer))
      throw new IllegalStateException("RunMetrics.measure does not nest")
    val tag = s"run-${nextTag.incrementAndGet()}"
    val run = new OpenRun
    l.open.put(tag, run)
    sc.setLocalProperty(Tag, tag)
    try {
      val start = System.currentTimeMillis()
      val a = body
      val end = System.currentTimeMillis()
      GraftShim.drainListenerBus(sc)
      val (open, executions) = run.synchronized((run.jobs.toSeq, run.executions.toSeq))
      val jobs = open.sortBy(_.startMs).map { j =>
        Job(j.id, j.startMs, j.endMs, j.executionId, j.description,
          j.synchronized(j.stages.toSeq))
      }
      (a, Record(start, end, jobs, executions))
    } finally {
      sc.setLocalProperty(Tag, outer)
      l.open.remove(tag)
    }
  }

  /** Run `body` with `name` as the [[Job.description]] of every job it
    * submits, then restore the previous description. The description is
    * a local property, so AQE's stage threads and
    * [[GraftShim.onPoolThread]] threads carry it like the measure tag: a
    * record names the cut or sink each job served, not the pool's
    * `CompletableFuture` call site. */
  def described[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Description)
    sc.setLocalProperty(Description, name)
    try body finally sc.setLocalProperty(Description, outer)
  }
}
