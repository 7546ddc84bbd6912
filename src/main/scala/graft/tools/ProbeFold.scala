package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe — per-phase timing of the q108 4-wave fold (not engine API). */
object ProbeFold {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    @volatile var listen = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (listen) {
            val si = sc.stageInfo
            val wall = (for {a <- si.completionTime; b <- si.submissionTime}
              yield (a - b) / 1e3).getOrElse(-1.0)
            val exec = Option(si.taskMetrics)
              .map(_.executorRunTime / 1e3).getOrElse(-1.0)
            if (wall > 0.15)
              println(f"[stage] wall=$wall%.2f exec=$exec%.1f tasks=${si.numTasks} ${si.name.take(90)}")
          }
      })
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    (1 to 2).foreach { rep => graft.core.Cuts.scoped {
      println(s"[probe] ===== rep $rep =====")
      listen = rep == 2
      import graft.dedup.Dedup
      val docs = graft.core.Tables.documents(s, dir)
      val none = docs.filter(lit(false))
      var bands = Dedup.MinHashLsh.bandsForApprox(none, "text", "doc_id", portable = true)
      var sigs = Dedup.MinHashLsh.sigsFor(none, "text", "doc_id", portable = true)
      var labels = s.range(0).select(col("id"), col("id").as("label"))
      var merges = s.range(0).select(col("id").as("old_label"), col("id").as("new_label"))
      val cache: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        graft.core.Cuts.persist
      var old: Seq[org.apache.spark.sql.DataFrame] = Nil
      (0 until 4).foreach { w =>
        val sk = t(s"w$w sketch+cache") {
          val x = cache(Dedup.MinHashLsh.sigsFor(
            docs.filter(pmod(col("doc_id"), lit(4)) === w),
            "text", "doc_id", portable = true))
          x.count(); x
        }
        val edges = t(s"w$w edge-kernel build") {
          cache(Dedup.MinHashLsh.approxVerifiedPairs(
            sk, bands, sigs, 0.35, cache, None))
        }
        t(s"w$w edge-kernel count") { println(s"[probe]   edges=${edges.count()}") }
        val (lr, mr) = t(s"w$w foldEdgeFrame") {
          graft.dedup.IncrementalClusters.foldEdgeFrame(
            sk, edges, labels, merges)
        }
        t(s"w$w ckpt labels") { labels = labels.unionByName(lr).localCheckpoint() }
        t(s"w$w ckpt merges") { merges = merges.unionByName(mr).localCheckpoint() }
        bands = bands.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(sk))
        sigs = sigs.unionByName(sk)
        old.foreach(_.unpersist(false))
        old = Seq(labels, merges)
      }
      t("clusters+collect") {
        graft.dedup.IncrementalClusters.clusters(labels, merges)
          .orderBy("doc_id").write.format("noop").mode("overwrite").save()
      }
    }}
    spark.stop()
  }
}
