package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.RunMetrics

/** The contract of the engine's one run-metrics listener
  * ([[RunMetrics]]): a measure's record holds exactly the jobs its body
  * ran — read without a sleep, never mixed with a concurrent measure's
  * jobs, including the jobs of a stream the body started — with the
  * planning phases of their SQL executions, and a failed body leaves the
  * next measure working. The guard pins that no other `src/main` code
  * installs a listener of its own.
  */
class RunMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Run `f` with AQE off, so a plan's jobs, stages and tasks are fixed. */
  private def aqeOff[A](f: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, was)
  }

  // 3 range partitions → partial aggregate (7 keys each) → 4 shuffle
  // partitions: one job, two stages, 3 + 4 tasks, 21 shuffle records
  private def grouped(): Array[org.apache.spark.sql.Row] =
    spark.range(0, 1000, 1, 3).groupBy((col("id") % 7).as("k")).count().collect()

  // 5 range partitions → a global aggregate: one job, two stages, 5 + 1 tasks
  private def summed(): Array[org.apache.spark.sql.Row] =
    spark.range(0, 500, 1, 5).agg(sum("id")).collect()

  private def shape(r: RunMetrics.Record) =
    (r.jobs.size, r.stages.size, r.total(_.tasks))

  test("a fixed plan reports its known job, stage and task counts") {
    val (rows, rec) = aqeOff(RunMetrics.measure(spark)(grouped()))
    assert(rows.length == 7)
    assert(shape(rec) == ((1, 2, 7L)), rec)
    assert(rec.total(_.shuffleWriteRecords) == 21, rec)
    assert(rec.stages.map(_.maxTaskShuffleReadRecords).max <= 21, rec)
    assert(rec.jobs.head.executionId >= 0, "a SQL action's job carries its execution id")
    assert(rec.startMs <= rec.jobs.head.startMs && rec.jobs.head.endMs <= rec.endMs, rec)
  }

  test("20 back-to-back measures read the same counts with no sleep") {
    val shapes = aqeOff((1 to 20).map(_ => shape(RunMetrics.measure(spark)(grouped())._2)))
    assert(shapes.distinct == Seq((1, 2, 7L)), shapes)
  }

  test("two threads measuring concurrently each see only their own jobs") {
    val go = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    def measuring(plan: () => Any): (Thread, collection.mutable.ArrayBuffer[RunMetrics.Record]) = {
      val recs = collection.mutable.ArrayBuffer.empty[RunMetrics.Record]
      val t = new Thread(() =>
        try {
          assert(go.await(60, TimeUnit.SECONDS))
          (1 to 10).foreach(_ => recs += RunMetrics.measure(spark)(plan())._2)
        } catch { case e: Throwable => failure = Some(e) })
      (t, recs)
    }
    aqeOff {
      val (a, aRecs) = measuring(() => grouped())
      val (b, bRecs) = measuring(() => summed())
      a.start(); b.start(); go.countDown(); a.join(); b.join()
      failure.foreach(throw _)
      assert(aRecs.map(shape).distinct == Seq((1, 2, 7L)), aRecs.map(shape))
      assert(bRecs.map(shape).distinct == Seq((1, 2, 6L)), bRecs.map(shape))
      assert(aRecs.exists(x => bRecs.exists(y => x.startMs < y.endMs && y.startMs < x.endMs)),
        "the two threads' measures never overlapped; the case tested nothing")
    }
  }

  test("a wave's concurrent ledger commits count in its measure, and not in a concurrent one") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-runmetrics-wave").toString
    // the write executions under the two ledger dirs, by execution id
    val ledgerWrites = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val writes = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
                Seq("bands", "sigs").exists(k => s.physicalPlanDescription.contains(s"$root/$k/")) =>
            ledgerWrites.add(s.executionId)
          case _ => ()
        }
    }
    val w = graft.streaming.NearDupStream.approxWriter(s"$root/out",
      s"$root/bands", s"$root/sigs", "text", "doc_id")
    val wave = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val solo = shape(RunMetrics.measure(spark)(grouped())._2)
    spark.sparkContext.addSparkListener(writes)
    try {
      val done = new CountDownLatch(1)
      @volatile var failure: Option[Throwable] = None
      val others = collection.mutable.ArrayBuffer.empty[RunMetrics.Record]
      val other = new Thread(() =>
        try while (done.getCount > 0 || others.isEmpty)
          others += RunMetrics.measure(spark)(grouped())._2
        catch { case e: Throwable => failure = Some(e) })
      other.start()
      val (_, rec) =
        try RunMetrics.measure(spark)(w(wave, 0L))
        finally { done.countDown(); other.join() }
      failure.foreach(throw _)
      org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
      val commits = ledgerWrites.toArray.map(_.asInstanceOf[Long]).toSet
      assert(commits.size == 2, s"one write per ledger: $commits")
      assert(commits.subsetOf(rec.jobs.map(_.executionId).toSet),
        s"the commit threads' jobs are missing from the wave's record: $commits")
      assert(others.forall(r => r.jobs.forall(j => !commits(j.executionId))),
        "a concurrent measure saw the wave's commit jobs")
      assert(others.map(shape).distinct == Seq(solo), others.map(shape))
    } finally {
      spark.sparkContext.removeSparkListener(writes)
      FileUtils.deleteQuietly(new File(root))
    }
  }

  test("every job of a wave's leaves and commits names the cut or sink it served") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-runmetrics-names").toString
    val sinks = Seq("out", "bands", "sigs").map(d => s"$root/$d")
    val w = graft.streaming.NearDupStream.approxWriter(sinks(0), sinks(1),
      sinks(2), "text", "doc_id")
    val wave = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    try {
      val (_, rec) = RunMetrics.measure(spark)(w(wave, 0L))
      val names = rec.jobs.map(_.description)
      // a leaf's jobs carry the `File.scala:line` that cut it, a commit's
      // (AQE stage jobs and commitAll's pool threads included) its sink dir
      val site = """[A-Za-z]+\.scala:\d+""".r
      val unnamed = names.filterNot(d => sinks.contains(d) || site.matches(d))
      assert(unnamed.isEmpty, s"jobs naming no cut or sink: $unnamed of $names")
      assert(sinks.forall(names.contains), s"a commit is missing: $names")
      assert(names.exists(_.startsWith("NearDupStream.scala:")) &&
        names.exists(_.startsWith("Dedup.scala:")),
        s"the wave's sketch leaf or the kernel's leaves are missing: $names")
    } finally FileUtils.deleteQuietly(new File(root))
  }

  test("an AvailableNow stream started inside a measure is counted") {
    val root = Files.createTempDirectory("graft-runmetrics-stream").toString
    import spark.implicits._
    (0 until 100).map(_.toLong).toDF("id").repartition(2).write.parquet(s"$root/in")
    val (_, rec) = RunMetrics.measure(spark) {
      val q = spark.readStream.schema("id long").parquet(s"$root/in")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }
        .start()
      assert(q.awaitTermination(120000))
      assert(q.exception.isEmpty, q.exception)
    }
    assert(rec.jobs.nonEmpty, "the stream thread's jobs must carry the measure's tag")
    assert(rec.total(_.inputRecords) == 100, rec)
    FileUtils.deleteQuietly(new File(root))
  }

  test("a transform's record holds its 2 SQL executions with their planning phases") {
    val root = Files.createTempDirectory("graft-runmetrics-phases").toString
    val t0 = java.time.Instant.parse("2025-11-20T10:00:00Z")
    (0 until 3).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      graft.jobs.Jobs.ingest(spark, s"$root/raw", at, graft.ingest.SyntheticArrivals.transport(at))
    }
    val (_, rec) = RunMetrics.measure(spark)(
      graft.jobs.Jobs.transform(spark, s"$root/raw", s"$root/silver"))
    assert(rec.executions.map(_.id).sorted == rec.jobs.map(_.executionId).distinct.sorted, rec)
    assert(rec.executions.size == 2, rec.executions)
    assert(rec.executions.forall(e =>
      e.analysisMs >= 0 && e.optimizationMs >= 0 && e.planningMs >= 0), rec.executions)
    FileUtils.deleteQuietly(new File(root))
  }

  test("after a body throws, the next measure still works") {
    intercept[Exception](RunMetrics.measure(spark)(
      spark.range(0, 4, 1, 2).selectExpr("assert_true(id < 2)").collect()))
    intercept[IllegalArgumentException](RunMetrics.measure(spark)(
      throw new IllegalArgumentException("boom")))
    assert(shape(aqeOff(RunMetrics.measure(spark)(grouped())._2)) == ((1, 2, 7L)))
  }

  test("a nested measure throws") {
    val e = intercept[IllegalStateException](
      RunMetrics.measure(spark)(RunMetrics.measure(spark)(1)))
    assert(e.getMessage.contains("nest"))
    assert(RunMetrics.measure(spark)(2)._1 == 2)
  }

  test("guard: no src/main code installs a listener outside RunMetrics") {
    val raw = ("""extends\s+SparkListener\b|new\s+(org\.apache\.spark\.scheduler\.)?""" +
      """SparkListener\b|addSparkListener\(|extends\s+QueryExecutionListener\b|""" +
      """new\s+QueryExecutionListener\b|listenerManager\.register\(""").r
    // (path suffix, code line) -> why it may listen on its own
    val exempt = Map(
      ("graft/lineage/Lineage.scala", "extends QueryExecutionListener {") ->
        ("LineageListener turns finished queries into OpenLineage run " +
          "events for an external lineage sink; it records no metrics"))
    val root = new File("src/main/scala")
    val files = FileUtils.listFiles(root, Array("scala"), true).toArray
      .map(_.asInstanceOf[File]).toSeq
    assert(files.exists(_.getName == "RunMetrics.scala"), s"no sources under $root")
    val hits = for {
      f <- files
      path = f.getPath.replace('\\', '/')
      if !path.endsWith("graft/obs/RunMetrics.scala")
      (line, n) <- FileUtils.readFileToString(f, "UTF-8").split("\n").zipWithIndex
      code = line.replaceAll("//.*$", "").trim
      if !code.startsWith("*") && !code.startsWith("/**")
      if raw.findFirstIn(code).isDefined
      if !exempt.exists { case ((suffix, text), _) => path.endsWith(suffix) && code == text }
    } yield s"$path:${n + 1}: $code"
    assert(hits.isEmpty, "listeners outside graft.obs.RunMetrics:\n" + hits.mkString("\n"))
  }
}
