package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev probe — job/stage/driver-gap decomposition of one query's wall
  * (not engine API). For fold-shaped queries whose stage work is tiny,
  * the wall hides in (a) driver time BETWEEN jobs (analysis/planning/
  * checkpoint orchestration) and (b) per-stage scheduling latency
  * (stage wall − executor run/parallelism). This prints both:
  *
  *   runMain graft.tools.ProbeJobs q116_curation_pipeline_incr
  *
  * Output: per-job rows (wall, #stages, #tasks, Σ executor-run), the
  * inter-job driver gaps, and totals — so "wall 14.7 s, exec 42 s/32
  * cores = 1.3 s" decomposes into job wall vs driver gap vs scheduling.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    final case class JobRow(id: Int, start: Long, desc: String,
      var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var execMs: Long = 0L,
      var stageWallMs: Long = 0L, var stageGapMs: Long = 0L,
      var stageNames: List[String] = Nil)
    val jobs = new ConcurrentLinkedQueue[JobRow]
    val live = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]
    @volatile var listen = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (listen) {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val r = JobRow(e.jobId, e.time, d)
        live.put(e.jobId, r); jobs.add(r)
        e.stageIds.foreach(sid => stageToJob.put(sid, r))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (listen) {
        Option(live.remove(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (listen) {
          val si = e.stageInfo
          Option(stageToJob.get(si.stageId)).foreach { r =>
            r.stages += 1
            r.tasks += si.numTasks
            Option(si.taskMetrics).foreach(m => r.execMs += m.executorRunTime)
            r.stageNames ::= si.name.take(70)
            for (a <- si.completionTime; b <- si.submissionTime)
              r.stageWallMs += a - b
          }
        }
    })

    val names = args.filterNot(_.startsWith("-"))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm pass (JIT + fixture memo), then the listened pass
      graft.core.Cuts.scoped(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      jobs.clear(); live.clear(); stageToJob.clear()
      listen = true
      val wall = graft.core.Cuts.scoped {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      listen = false
      Thread.sleep(300) // drain async listener events
      import scala.jdk.CollectionConverters._
      val rows = jobs.asScala.toSeq.sortBy(_.start)
      var prevEnd = -1L
      var gapTotal = 0L
      println(f"[jobs] $n wall=$wall%.2f s, ${rows.size} jobs")
      rows.foreach { r =>
        val gap = if (prevEnd < 0) 0L else math.max(0L, r.start - prevEnd)
        gapTotal += gap
        prevEnd = math.max(prevEnd, r.end)
        val w = (r.end - r.start) / 1e3
        println(f"[job] id=${r.id}%-4d wall=$w%6.2f gapBefore=${gap / 1e3}%5.2f " +
          f"stages=${r.stages}%3d tasks=${r.tasks}%5d " +
          f"exec=${r.execMs / 1e3}%6.1f stageWall=${r.stageWallMs / 1e3}%6.1f " +
          s"${r.desc.take(40)} | ${r.stageNames.headOption.getOrElse("")}")
      }
      val jobWall = rows.map(r => r.end - r.start).sum / 1e3
      val exec = rows.map(_.execMs).sum / 1e3
      val stages = rows.map(_.stages).sum
      val tasks = rows.map(_.tasks).sum
      val stageWall = rows.map(_.stageWallMs).sum / 1e3
      println(f"[sum] jobs=${rows.size} stages=$stages tasks=$tasks " +
        f"jobWall=$jobWall%.2f driverGaps=${gapTotal / 1e3}%.2f " +
        f"exec=$exec%.1f stageWall=$stageWall%.1f wall=$wall%.2f")
    }
    spark.stop()
  }
}
