package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{Http, SyntheticArrivals}
import graft.jobs.Jobs
import graft.obs.RunMetrics
import graft.quality.Expectations
import graft.quality.Expectations.{Between, NotNull, Warning}
import graft.streaming.HeadwaysStream

/** End-to-end pipeline tests: ingest → raw zone → transform → silver →
  * quality gate, the align CLI job, the streaming variant, and the HTTP
  * retry policy — all offline via the synthetic transport.
  */
class JobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = Instant.parse("2025-11-20T10:00:00Z")

  test("ingest appends hive-date-partitioned snapshots; transform builds silver; checks pass") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val raw = s"$root/raw"
    // three 2-minute polls, like the reference's cron
    val n = (0 until 3).map { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }.sum
    assert(n > 0)
    val files = new java.io.File(s"$raw/date=2025-11-20").listFiles()
    assert(files != null && files.count(_.getName.endsWith(".parquet")) >= 1)

    val results = Jobs.transform(spark, raw, s"$root/silver")
    assert(results.size == 11, "9 dbt not_null + 2 GX checks")
    // dirty synthetic data nulls some event_ts upstream, but staged/mart
    // key columns must hold
    val fct = spark.read.parquet(s"$root/silver/fct_headways")
    assert(fct.count() > 0)
    assert(fct.columns.toSeq == Seq("line_id", "stop_id", "hour",
      "avg_headway_s", "p50_headway_s", "p90_headway_s"))
    assert(results.filter(_.name.startsWith("not_null_p")).forall(_.passed))
  }

  /** 33 polls into one date directory: one path past Spark's 32-path
    * parallel-listing threshold, were the snapshot files globbed one by one.
    */
  private lazy val raw33: String = {
    val raw = s"${Files.createTempDirectory("graft-raw33")}/raw"
    (0 until 33).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    raw
  }

  private def snapshotIn(dateDir: String) =
    new java.io.File(dateDir).listFiles().map(_.toPath)
      .find(_.getFileName.toString.startsWith("arrivals_")).get

  test("transform past the 32-path listing threshold runs only SQL-execution jobs") {
    val silver = s"${Files.createTempDirectory("graft-jobs")}/silver"
    val outside = new ConcurrentLinkedQueue[Int]
    val seenMarker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("graft.test.marker") != null)) seenMarker.countDown()
        else if (props.forall(_.getProperty("spark.sql.execution.id") == null))
          outside.add(j.jobId)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val results = try {
      val r = Jobs.transform(spark, raw33, silver)
      // events reach a listener in order: once the marker job's start
      // arrives, every job the transform ran has been seen
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(seenMarker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      r
    } finally sc.removeSparkListener(listener)
    assert(outside.isEmpty,
      s"listing or schema-inference jobs outside any SQL execution: $outside")
    assert(results.size == 11, "9 dbt not_null + 2 GX checks")
  }

  test("transform runs 3 jobs in 2 SQL executions: the two writes, no check pass") {
    val raw = raw33 // ingested outside the measure
    val silver = s"${Files.createTempDirectory("graft-jobs3")}/silver"
    val (results, rec) = RunMetrics.measure(spark)(Jobs.transform(spark, raw, silver))
    assert(results.size == 11)
    val executions = rec.jobs.map(_.executionId)
    assert(!executions.contains(-1L), s"jobs outside any SQL execution: ${rec.jobs}")
    assert((rec.jobs.size, executions.distinct.size) == ((3, 2)), rec.jobs)
  }

  test("observed dbt counts equal Expectations.run over the written tables") {
    val silver = s"${Files.createTempDirectory("graft-parity")}/silver"
    val observed = Jobs.transform(spark, raw33, silver)
    val stgBack = spark.read.parquet(s"$silver/stg_arrivals")
    val fctBack = spark.read.parquet(s"$silver/fct_headways")
    val recomputed =
      Expectations.run(stgBack, Seq(NotNull("line_id"), NotNull("stop_id"), NotNull("event_ts"))) ++
        Expectations.run(fctBack, Seq(NotNull("line_id"), NotNull("stop_id"), NotNull("hour"),
          NotNull("avg_headway_s"), NotNull("p50_headway_s"), NotNull("p90_headway_s"))) ++
        // the GX pair over the whole written staging table
        Expectations.run(stgBack, Seq(Between("time_to_station_s", 0, 3600, Warning),
          NotNull("line_id", Warning)))
    assert(observed == recomputed)
    // the dirty synthetic data must exercise a non-zero count
    assert(observed.find(_.name == "not_null_event_ts").get.failures > 0, s"$observed")
  }

  test("the GX bounds check counts every staged row, not a 10k-row sample") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-gx").toString
    // one snapshot of 12,000 rows in file order; only rows past the
    // 10,000th are out of [0, 3600] (-1 and 3601 alternately)
    val rows = 12000
    val tmp = s"$root/tmp"
    spark.range(0, rows, 1, 1).select(
      lit("940GZZLUOXC").as("stopId"), lit("central").as("lineId"),
      lit("Westbound - Platform 1").as("platformName"),
      lit("Ealing Broadway").as("destinationName"),
      when($"id" < 10000, $"id" % 3601).when($"id" % 2 === 0, -1L).otherwise(3601L)
        .as("timeToStation"),
      lit("2025-11-20T10:00:00Z").as("timestamp"))
      .write.parquet(tmp)
    val dateDir = Paths.get(s"$root/raw/date=2025-11-20")
    Files.createDirectories(dateDir)
    val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
    Files.move(part.toPath, dateDir.resolve("arrivals_20251120_100000.parquet"))
    val results = Jobs.transform(spark, s"$root/raw", s"$root/silver")
    assert(results.map(r => (r.name, r.failures)).takeRight(2) ==
      Seq(("between_time_to_station_s_0.0_3600.0", 2000L), ("not_null_line_id", 0L)),
      results)
  }

  test("empty raw zone: 11 zero-failure checks, no wait on the observation") {
    val root = Files.createTempDirectory("graft-empty").toString
    // a date directory whose only file is a stray part- file (an ingest
    // that crashed before its rename) holds no snapshot either
    val strayOnly = s"$root/stray/date=2025-11-20"
    Files.createDirectories(Paths.get(strayOnly))
    Files.copy(snapshotIn(s"$raw33/date=2025-11-20"),
      Paths.get(s"$strayOnly/part-00000-crashed.snappy.parquet"))
    Seq(s"$root/missing", s"$root/stray").foreach { raw =>
      val results = Await.result(
        Future(Jobs.transform(spark, raw, s"$root/silver")), 120.seconds)
      assert(results.size == 11, raw)
      assert(results.forall(r => r.failures == 0 && r.passed), s"$raw: $results")
    }
  }

  test("a stray part- file beside a snapshot is not staged") {
    val root = Files.createTempDirectory("graft-stray").toString
    val raw = s"$root/raw"
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val dateDir = Paths.get(s"$raw/date=2025-11-20")
    val snapshot = snapshotIn(dateDir.toString)
    val rows = spark.read.parquet(snapshot.toString).count()
    Files.copy(snapshot, dateDir.resolve("part-00000-crashed.snappy.parquet"))
    assert(graft.etl.StgArrivals(spark, raw).count() == rows)
    Jobs.transform(spark, raw, s"$root/silver")
    assert(spark.read.parquet(s"$root/silver/stg_arrivals").count() == rows)
    Jobs.transformIncremental(spark, raw, s"$root/silver", "2025-11-20")
    assert(spark.read.parquet(s"$root/silver/stg_arrivals_by_date/date=2025-11-20")
      .count() == rows)
  }

  test("align writes one flat snapshot for the requested line, enriched via broadcast lookup") {
    val root = Files.createTempDirectory("graft-align").toString
    val df = Jobs.align(spark, "central", root, t0, SyntheticArrivals.transport(t0),
      stops = SyntheticArrivals.Stops.map(s => s -> s"Station $s"))
    assert(df.filter(col("line_id") =!= "central").count() == 0)
    // output schema IS the documented CLI-bronze contract
    assert(df.schema.fieldNames.toSeq ==
      graft.core.Schemas.alignedArrivals.fieldNames.toSeq)
    // J1 enrichment: stop metadata joined in, with coalesce fallback
    assert(df.filter(col("stationName").startsWith("Station ")).count() > 0)
    // tz-aware ts derives from expectedArrival
    assert(df.filter(col("expectedArrival_ts").isNull).count() <
      df.count(), "expectedArrival parses for most rows")
    // raw column is valid JSON round-trippable to the payload fields
    val raw = df.select("raw").head().getString(0)
    assert(raw.contains("\"lineId\":\"central\"") && raw.contains("\"vehicleId\""))
  }

  test("streaming AvailableNow recompute matches the batch transform") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"
    (0 until 2).foreach { i =>
      val at = t0.plusSeconds(i * 120L)
      Jobs.ingest(spark, raw, at, SyntheticArrivals.transport(at))
    }
    val q = HeadwaysStream.start(spark, raw, s"$root/silver", s"$root/ckpt")
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
    val streamed = spark.read
      .option("basePath", s"$root/silver/fct_headways_by_date")
      .parquet(s"$root/silver/fct_headways_by_date/date=*")
      .drop("date")
    Jobs.transform(spark, raw, s"$root/silver_batch")
    val batch = spark.read.parquet(s"$root/silver_batch/fct_headways")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("ingest is idempotent under replay: same poll instant writes once") {
    val root = Files.createTempDirectory("graft-replay").toString
    val raw = s"$root/raw"
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val rowsAfterFirst = graft.etl.StgArrivals(spark, raw).count()
    // scheduler retry / operator re-run of the same poll
    Jobs.ingest(spark, raw, t0, SyntheticArrivals.transport(t0))
    val files = new java.io.File(s"$raw/date=2025-11-20").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"replay must not append a duplicate snapshot: ${files.toSeq}")
    assert(graft.etl.StgArrivals(spark, raw).count() == rowsAfterFirst)
  }

  test("http retry: retryable statuses retried with backoff, fatal not") {
    var calls = 0
    val flaky: Http.Transport = { _ =>
      calls += 1
      if (calls < 3) Http.Response(503, "") else Http.Response(200, "ok")
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val policy = Http.Policy(retries = 3, backoffMillis = 100, sleeper = sleeps += _)
    assert(Http.fetch("u", flaky, policy).get == "ok")
    assert(sleeps.toSeq == Seq(100L, 200L), "exponential backoff")

    calls = 0
    val fatal: Http.Transport = { _ => calls += 1; Http.Response(404, "") }
    assert(Http.fetch("u", fatal, policy).isFailure)
    assert(calls == 1, "non-retryable status fails fast")
  }

  test("fetchMany isolates per-element failures") {
    val t: Http.Transport = { u =>
      if (u.contains("bad")) throw new RuntimeException("boom")
      else Http.Response(200, "ok")
    }
    val p = Http.Policy(retries = 1, backoffMillis = 0, sleeper = _ => ())
    val r = Http.fetchMany(Seq("good1", "bad", "good2"), t, p)
    assert(r.count(_._2.isSuccess) == 2)
    assert(r.count(_._2.isFailure) == 1)
  }

  test("fetchMany keys: distinct per query variant, credentials masked") {
    val t: Http.Transport = { u => Http.Response(200, u.takeRight(1)) }
    val p = Http.Policy(retries = 0, backoffMillis = 0, sleeper = _ => ())
    val urls = Seq(
      "https://x/api?page=1&app_id=ID&app_key=SECRET",
      "https://x/api?page=2&app_id=ID&app_key=SECRET")
    val r = Http.fetchMany(urls, t, p)
    // pagination variants stay distinguishable, but the key itself is
    // structurally log-safe — no caller can leak credentials via it
    assert(r.map(_._1) == Seq(
      "https://x/api?page=1&app_id=***&app_key=***",
      "https://x/api?page=2&app_id=***&app_key=***"))
    assert(r.map(_._2.get) == Seq("T", "T")) // transport saw the REAL url
    assert(Http.redact(urls.head) == "https://x/api?<redacted>")
  }
}
