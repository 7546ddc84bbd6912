package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Dev probe — stage-level diff of the real q116 vs q119 plans (not
  * engine API). Runs each query twice (warm JVM), prints every stage of
  * the second run with wall/exec/tasks/name so the two folds' stage
  * lists can be diffed directly.
  */
object ProbeDecontam {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var tag = ""
    val execTotal = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (tag.nonEmpty) {
            val si = sc.stageInfo
            val wall = (for {a <- si.completionTime; b <- si.submissionTime}
              yield (a - b) / 1e3).getOrElse(-1.0)
            val exec = Option(si.taskMetrics)
              .map(_.executorRunTime / 1e3).getOrElse(-1.0)
            execTotal.addAndGet((exec * 1000).toLong)
            if (wall > 0.10)
              println(f"[$tag] wall=$wall%5.2f exec=$exec%6.1f tasks=${si.numTasks}%3d ${si.name.take(110)}")
          }
      })
    Seq("q116_curation_pipeline_incr", "q119_curation_decontam_incr")
      .foreach { q =>
        val fn = graft.SparkEntry.queries(q)
        (1 to 2).foreach { rep =>
          tag = if (rep == 2) q.take(4) else ""
          execTotal.set(0)
          val (n, wall) = graft.core.Cuts.scoped {
            val t0 = System.nanoTime()
            val n = fn(spark, dir).collect().length
            (n, (System.nanoTime() - t0) / 1e9)
          }
          println(f"[total] $q rep$rep wall=$wall%.2f execSum=${execTotal.get / 1e3}%.1f rows=$n")
        }
      }
    spark.stop()
  }
}
