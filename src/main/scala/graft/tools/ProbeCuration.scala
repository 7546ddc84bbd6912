package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe — phase decomposition of the q116 curation fold (not engine
  * API): times each wave's checkpoints separately from the final verdict
  * write, then re-writes the SAME frame a second time. A cheap second
  * write proves the fold's persisted cuts serve the final plan;
  * an expensive one means the final action recomputes kernels.
  */
object ProbeCuration {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark
    val exec = new java.util.concurrent.atomic.AtomicLong
    val cpu = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          Option(sc.stageInfo.taskMetrics).foreach { m =>
            exec.addAndGet(m.executorRunTime)
            cpu.addAndGet(m.executorCpuTime / 1000000L)
            if (m.executorCpuTime / 1000000L > 500)
              println(f"[stage] cpu=${m.executorCpuTime / 1e9}%5.1f " +
                f"run=${m.executorRunTime / 1e3}%5.1f " +
                f"tasks=${sc.stageInfo.numTasks} ${sc.stageInfo.name.take(80)} " +
                sc.stageInfo.details.linesIterator.filter(_.contains("graft"))
                  .take(3).mkString(" <- "))
          }
      })
    def t[A](tag: String)(f: => A): A = {
      Thread.sleep(200); val e0 = exec.get(); val c0 = cpu.get()
      val t0 = System.nanoTime(); val r = f
      Thread.sleep(200)
      println(f"[phase] $tag%-24s wall=${(System.nanoTime() - t0) / 1e9}%6.2f " +
        f"exec=${(exec.get() - e0) / 1e3}%6.1f cpu=${(cpu.get() - c0) / 1e3}%6.1f")
      r
    }

    import graft.dedup.Dedup
    import graft.text.TextFunctions
    val cache: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame = graft.core.Cuts.persist
    val docs = cache(graft.core.Tables.documents(s, dir).select("doc_id", "text"))
    val nDocs = t("count")(docs.count())
    val none = docs.filter(lit(false))
    var fpLedger = none.select(TextFunctions.fingerprint(col("text")).as("fp"))
    var bands = Dedup.MinHashLsh.bandsForApprox(none, "text", "doc_id", portable = true)
    var sigs = Dedup.MinHashLsh.sigsFor(none, "text", "doc_id", portable = true)
    var out: org.apache.spark.sql.DataFrame = null
    (0 until 4).foreach { w =>
      val wave = docs.filter(pmod(col("doc_id"), lit(4)) === w)
      val scored = cache(wave.select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality")))
      val qp = scored.filter(col("quality") >= 0.7)
      val exactNew = cache(qp
        .select(col("doc_id"), col("text"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .join(fpLedger, Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn"))
      val sk = t(s"w$w sigsFor-ckpt")(Dedup.MinHashLsh.sigsFor(
        exactNew, "text", "doc_id", portable = true).localCheckpoint())
      val verdict = t(s"w$w verdict-build")(
        Dedup.MinHashLsh.nearDupAdmitApproxSketched(
          sk, bands, sigs, threshold = 0.35,
          knownRows = Some(nDocs)))
      val cpW = t(s"w$w cpW ckpt")(scored.select(col("doc_id"), col("quality"),
          (col("quality") >= 0.7).as("q_pass"))
        .join(exactNew.select(col("doc_id"), col("fp"),
          lit(true).as("en")), Seq("doc_id"), "left")
        .join(sk.select(col("id").as("doc_id"), col("sig")),
          Seq("doc_id"), "left")
        .join(verdict.select(col("doc_id"),
          col("admitted").as("adm"), col("first_match")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"),
          col("first_match"), col("fp"),
          when(coalesce(col("adm"), lit(false)), col("sig")).as("sig"))
        .localCheckpoint())
      val waveOut = cpW.select(col("doc_id"), col("quality"),
        col("q_pass"), col("exact_new"), col("admitted"),
        col("first_match"))
      out = if (out == null) waveOut else out.unionByName(waveOut)
      fpLedger = fpLedger.unionByName(
        cpW.filter(col("exact_new")).select("fp"))
      val admittedSk = cpW.filter(col("admitted"))
        .select(col("doc_id").as("id"), col("sig"))
      bands = bands.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
      sigs = sigs.unionByName(admittedSk.select("id", "sig"))
    }
    val res = out.orderBy("doc_id")
    t("final write 1")(res.write.format("noop").mode("overwrite").save())
    t("final write 2")(res.write.format("noop").mode("overwrite").save())
    t("final write 3")(res.write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}
