package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.core.Cuts
import graft.obs.RunMetrics

/** Single-query probe — `runMain graft.tools.ProbeQuery <query>...`
  * (not engine API).
  *
  * Mirrors Bench's session: `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  * `SPARK_GRAFT_CPUS` (default 4). For each query it runs one warm-up at
  * sf0.001, then three samples, each in its own [[Cuts.scoped]] and one
  * [[RunMetrics.measure]] around building the frame and running it, and
  * prints:
  *  - the three walls and their min;
  *  - the min-wall sample's jobs with their stages, and its totals
  *    (`[sum]`: jobs, stages, tasks, driver gaps, executor run/CPU/GC,
  *    input, shuffle and spill). The host stalls in waves under sustained
  *    load, so the last sample can be the most throttled one;
  *  - that sample's executed-plan skeleton (joins, exchanges, windows,
  *    scans, aggregates), walked through AQE query stages and cached
  *    plans, each shuffle with the bytes it wrote.
  *
  * A sample runs the frame's OWN physical plan to the end inside one SQL
  * execution, counting the rows and discarding them, so the plan printed
  * is the plan that ran. (`df.write` plans a fresh copy and leaves `df`'s
  * plan unexecuted; `df.count()` lets Catalyst prune columns and even
  * whole joins, and measures a shadow of the query.)
  */
object ProbeQuery {

  private final case class Sample(df: DataFrame, rows: Long, rec: RunMetrics.Record)

  private def run(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("probe"))(qe.toRdd.count())
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.ProbeQuery <query>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query $n"))
      Cuts.scoped(run(fn(spark, "/root/testdata/sf0.001")))
      val samples = (1 to 3).map { _ =>
        Cuts.scoped {
          val ((df, rows), rec) = RunMetrics.measure(spark) {
            val df = fn(spark, sfDir)
            (df, run(df))
          }
          Sample(df, rows, rec)
        }
      }
      report(n, samples)
    }
    spark.stop()
  }

  private def report(n: String, samples: Seq[Sample]): Unit = {
    val best = samples.minBy(_.rec.wallS)
    val r = best.rec
    println(f"[probe] $n ${samples.map(s => f"${s.rec.wallS}%.3f").mkString(" ")} " +
      f"min=${r.wallS}%.3f rows=${best.rows} (tables from the min-wall sample)")
    r.jobs.foreach { j =>
      println(f"[job] id=${j.id}%-5d wall=${(j.endMs - j.startMs) / 1e3}%6.2f " +
        f"sql=${j.executionId}%-5d stages=${j.stages.size}%3d " +
        f"tasks=${j.stages.map(_.tasks).sum}%5d ${j.description.take(60)}")
      j.stages.foreach { s =>
        println(f"[stage]   id=${s.id}%-5d wall=${s.wallMs / 1e3}%6.2f " +
          f"tasks=${s.tasks}%5d run=${s.runMs / 1e3}%7.2f cpu=${s.cpuNs / 1e9}%7.2f " +
          f"in=${s.inputRecords}%9d shufW=${s.shuffleWriteBytes / 1e6}%8.2fMB " +
          f"spill=${s.spillBytes / 1e6}%.1fMB ${s.name.take(70)}")
      }
    }
    val jobWall = r.jobs.map(j => j.endMs - j.startMs).sum / 1e3
    println(f"[sum] jobs=${r.jobs.size} stages=${r.stages.size} tasks=${r.total(_.tasks)} " +
      f"wall=${r.wallS}%.3f jobWall=$jobWall%.2f driverGaps=${r.driverGapMs / 1e3}%.2f " +
      f"exec=${r.total(_.runMs) / 1e3}%.1f cpu=${r.total(_.cpuNs) / 1e9}%.1f " +
      f"gc=${r.total(_.gcMs) / 1e3}%.1f inRecords=${r.total(_.inputRecords)} " +
      f"inBytes=${r.total(_.inputBytes)} shufR=${r.total(_.shuffleReadBytes)} " +
      f"shufW=${r.total(_.shuffleWriteBytes)} spill=${r.total(_.spillBytes)}")
    printSkeleton(best.df.queryExecution.executedPlan)
  }

  private val skeleton = Seq("Join", "Exchange", "Window", "Scan",
    "HashAggregate", "Expand", "Generate", "Reused", "QueryStage")

  private def printSkeleton(root: SparkPlan): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan, depth: Int): Unit = if (seen.add(p)) {
      val shown = skeleton.exists(p.nodeName.contains)
      if (shown) {
        val wrote = p match {
          case e: ShuffleExchangeExec => e.metrics.get("shuffleBytesWritten")
            .fold("")(m => f" wrote=${m.value / 1e6}%.2fMB")
          case _ => ""
        }
        println(s"[plan] ${"  " * depth}${p.simpleString(4).take(150)}$wrote")
      }
      val d = if (shown) depth + 1 else depth
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, d)
        case q: QueryStageExec => walk(q.plan, d)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan, d)
        case o => o.children.foreach(walk(_, d))
      }
    }
    walk(root, 0)
  }
}
