package graft.jobs

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.core.{GraftSession, Schemas}
import graft.etl.{FctHeadways, StgArrivals}
import graft.ingest.{Config, Http, SyntheticArrivals}
import graft.quality.Expectations
import graft.quality.Expectations.{Between, NotNull, Warning}

/** The reference's three entry points (SURVEY §3), re-expressed Spark-first.
  * Scheduling stays external, exactly as in the reference (Airflow cron →
  * here: anything that can invoke a main).
  */
object Jobs {

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val fileFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  /** The TfL arrival payload schema the ingest decodes (FIXTURES.md §1). */
  private val payloadSchema: DataType = DataType.fromDDL(
    "array<struct<naptanId:string,stationName:string,lineId:string," +
      "lineName:string,platformName:string,destinationName:string," +
      "timeToStation:bigint,timestamp:string,expectedArrival:string," +
      "vehicleId:string>>")

  /** Fetch (retry + per-stop error isolation) and decode to the raw-zone
    * column contract — shared by [[ingest]] and [[align]]. JSON decoding
    * runs through the engine's own `from_json` path with the DECLARED
    * schema (S5): unknown fields dropped, missing fields null (P9).
    */
  def fetchArrivals(spark: SparkSession, transport: Http.Transport,
      stops: Seq[String] = Config.stopIds()): DataFrame = {
    import spark.implicits._
    // credentials ride as query params, like the reference's authenticated
    // calls (env-only; never logged)
    val auth = Config.credentials()
      .map { case (id, key) => s"?app_id=$id&app_key=$key" }.getOrElse("")
    val urls = stops.map(s => s"https://api.tfl.gov.uk/StopPoint/$s/Arrivals$auth")
    val bodies = Http.fetchMany(urls, transport).collect {
      case (_, scala.util.Success(body)) => body
    }
    spark.createDataset(bodies)
      .select(explode(from_json(col("value"), payloadSchema)).as("a"))
      .select(
        // coalescing projection (P2): naptanId, falling back to stationName
        coalesce(col("a.naptanId"), col("a.stationName")).as("stopId"),
        col("a.naptanId").as("naptanId"),
        col("a.lineId").as("lineId"),
        col("a.lineName").as("lineName"),
        col("a.platformName").as("platformName"),
        col("a.destinationName").as("destinationName"),
        col("a.timeToStation").as("timeToStation"),
        col("a.timestamp").as("timestamp"),
        col("a.expectedArrival").as("expectedArrival"),
        col("a.vehicleId").as("vehicleId"))
  }

  /** E1 — realtime ingest: append ONE parquet snapshot into the
    * hive-date-partitioned raw zone `raw/date=YYYY-MM-DD/` (reference
    * `tfl_ingest_dag.py`). Zero rows → warn and skip the write. Returns
    * the row count.
    */
  def ingest(spark: SparkSession, rawDir: String, asOf: Instant,
      transport: Http.Transport): Long = {
    GraftSession.tune(spark)
    // the raw zone keeps the reference's exact 6-column contract
    // (tfl_ingest_dag.py:70-79); the richer CLI fields stay align-only
    val parsed = fetchArrivals(spark, transport).select(
      Schemas.rawArrivals.fieldNames.map(col).toSeq: _*)
    val n = parsed.count()
    // idempotence: the snapshot filename (poll instant) IS the dedup key —
    // the reference writes one arrivals_<ts>.parquet per poll, so a
    // replayed/retried poll for the same asOf must not append a duplicate
    // snapshot (every arrivals_* glob downstream would double-count)
    val snapshotPath = new Path(
      s"$rawDir/date=${dateFmt.format(asOf)}/arrivals_${fileFmt.format(asOf)}.parquet")
    val fsCheck = FileSystem.get(snapshotPath.toUri, spark.sparkContext.hadoopConfiguration)
    if (n == 0) {
      System.err.println("[ingest] no arrivals fetched; skipping write")
    } else if (fsCheck.exists(snapshotPath)) {
      System.err.println(s"[ingest] snapshot $snapshotPath already exists; " +
        "skipping write (replayed poll)")
    } else {
      parsed
        .withColumn("date", lit(dateFmt.format(asOf)))
        .coalesce(1) // one snapshot file per poll, like the reference
        .write.mode(SaveMode.Append).partitionBy("date")
        .parquet(rawDir)
      // restore the reference's file-naming contract
      // (`arrivals_YYYYmmdd_HHMMSS.parquet`, tfl_ingest_dag.py:49): the
      // staging glob and the streaming pathGlobFilter key on it, and it is
      // what makes each poll an identifiable, replayable snapshot. Spark
      // controls part-file names, so rename the fresh part file post-write
      // (exactly one: the write coalesces to a single snapshot file; the
      // `_i` fallback covers a caller overriding that). Fail loudly if the
      // filesystem rejects a rename — a part- file left behind would be
      // invisible to every arrivals_* glob downstream.
      val partDir = new Path(s"$rawDir/date=${dateFmt.format(asOf)}")
      val fs = FileSystem.get(partDir.toUri, spark.sparkContext.hadoopConfiguration)
      fs.listStatus(partDir).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .foreach { p =>
          val base = s"arrivals_${fileFmt.format(asOf)}"
          val target = Iterator.from(0)
            .map(i => new Path(partDir, if (i == 0) s"$base.parquet" else s"${base}_$i.parquet"))
            .find(t => !fs.exists(t)).get
          require(fs.rename(p, target), s"rename $p -> $target failed")
        }
    }
    n
  }

  /** E2 — transform: raw zone → staging → headway mart (both fully
    * recomputed — the reference's `+materialized: table` semantics) →
    * quality gate. Returns the check results (the 9 dbt not_null tests,
    * then the 2 GX checks); callers decide error-vs-warn.
    *
    * The dbt tests ride the writes as observed metrics
    * ([[graft.quality.Expectations.observe]]): the 3 staging tests on the
    * `stg_arrivals` write, the 6 mart tests on the `fct_headways` write,
    * so each counts exactly the rows written in the write's own pass. The
    * GX checks keep their own job over the reference's 10k-row `limit`
    * sample of the written staging table (`tfl_transform_dag.py:15`).
    * Every read has a declared schema, so no listing or schema-inference
    * job runs besides these.
    *
    * `lineage` (default off) emits an OpenLineage-shaped START/COMPLETE
    * run-event pair with the job's dataset URIs — the counterpart of the
    * reference's OpenLineage wiring on its transform DAG
    * (`tfl_transform_dag.py:93-96`).
    */
  def transform(spark: SparkSession, rawDir: String, silverDir: String,
      lineage: graft.lineage.LineageSink = graft.lineage.Lineage.NoopSink):
      Seq[Expectations.Result] =
    graft.lineage.Lineage.tracked(lineage, "graft.transform",
      inputs = Seq(rawDir),
      outputs = Seq(s"$silverDir/stg_arrivals", s"$silverDir/fct_headways")) {
      GraftSession.tune(spark)
      val (stg, stgChecks) = Expectations.observe(StgArrivals(spark, rawDir),
        Seq(NotNull("line_id"), NotNull("stop_id"), NotNull("event_ts")))
      stg.write.mode(SaveMode.Overwrite).parquet(s"$silverDir/stg_arrivals")
      val stgBack = spark.read.schema(Schemas.stgArrivals)
        .parquet(s"$silverDir/stg_arrivals")
      val (fct, fctChecks) = Expectations.observe(FctHeadways(stgBack), Seq(
        NotNull("line_id"), NotNull("stop_id"), NotNull("hour"),
        NotNull("avg_headway_s"), NotNull("p50_headway_s"), NotNull("p90_headway_s")))
      fct.write.mode(SaveMode.Overwrite).parquet(s"$silverDir/fct_headways")
      val gxChecks = Expectations.run(stgBack, Seq(
        Between("time_to_station_s", 0, 3600, Warning),
        NotNull("line_id", Warning)), sample = Some(10000))
      stgChecks() ++ fctChecks() ++ gxChecks
    }

  /** E2-incremental — maintain a DATE-PARTITIONED silver layout for one
    * newly-landed raw date: stage only that date's raw partition and
    * rewrite only that date's mart partition
    * ([[graft.etl.IncrementalHeadways]] — exact, not approximate, under
    * the append-only raw-zone contract). Outputs live beside (not inside)
    * [[transform]]'s flat tables because the two materialization
    * strategies are different contracts:
    * `<silver>/stg_arrivals_by_date/date=<d>/`,
    * `<silver>/fct_headways_by_date/date=<d>/`.
    *
    * A staged partition holds the arrivals its polls PREDICT, so a late
    * poll's partition also holds arrivals of the next date (a poll
    * predicts less than a day ahead). The mart of `date` therefore reads
    * its events from every staged partition up to `date`, not from its
    * own partition alone.
    *
    * `lookbackDays`: bound the boundary scan to the last N date
    * partitions. None = exact over all history; only consulted on the
    * fallback path — once a LAST-ARRIVAL STATE TABLE exists
    * (`<silver>/state_last_arrival/date=<d>`: each key's latest arrival
    * dated `d` or earlier, maintained here), the boundary reads that
    * instead, plus the staged partitions from the state's date on:
    * O(active keys) rows regardless of history depth, the extreme-scale
    * shape. The state is a per-key max, so re-running a date is
    * idempotent.
    */
  def transformIncremental(spark: SparkSession, rawDir: String,
      silverDir: String, date: String, lookbackDays: Option[Int] = None,
      lineage: graft.lineage.LineageSink = graft.lineage.Lineage.NoopSink): Unit =
    graft.lineage.Lineage.tracked(lineage, "graft.transform_incremental",
      inputs = Seq(s"$rawDir/date=$date"),
      outputs = Seq(s"$silverDir/stg_arrivals_by_date/date=$date",
        s"$silverDir/fct_headways_by_date/date=$date")) {
      GraftSession.tune(spark)
      val stgRoot = s"$silverDir/stg_arrivals_by_date"
      val stateRoot = s"$silverDir/state_last_arrival"
      val events = Seq("line_id", "stop_id", "event_ts")
      StgArrivals(spark, rawDir, date)
        .write.mode(SaveMode.Overwrite).parquet(s"$stgRoot/date=$date")
      // staged partitions from `from` (inclusive) through `date`
      def staged(from: String) = {
        val dirs = listPartitionDates(spark, stgRoot)
          .filter(d => d >= from && d <= date).map(d => s"$stgRoot/date=$d")
        spark.read.schema(Schemas.stgArrivals).parquet(dirs: _*)
          .select(events.map(col): _*)
      }
      // history: everything up to `date` that can hold a key's latest
      // arrival before `date` or an arrival of `date` — the latest state
      // before `date` UNIONED with the staged partitions from the state's
      // own date on (the state's date may hold next-date arrivals; a crash
      // between the mart and state writes, or a date staged but never
      // transformed, leaves later partitions the state has not absorbed),
      // else every staged partition
      val stateDate = listPartitionDates(spark, stateRoot).filter(_ < date)
        .maxOption
      val history = stateDate match {
        case Some(d) => spark.read.schema(Schemas.stgArrivals)
          .parquet(s"$stateRoot/date=$d").select(events.map(col): _*)
          .unionByName(staged(d))
        case None => staged("")
      }
      // the mart may apply the caller's explicitly-accepted lookback on
      // the fallback path; the state never does — it is persistent, and a
      // truncated first build would corrupt every later date
      val martInput = (stateDate, lookbackDays) match {
        case (None, Some(n)) =>
          staged(java.time.LocalDate.parse(date).minusDays(n).toString)
        case _ => history
      }
      graft.etl.IncrementalHeadways.forDate(martInput, martInput, date)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$silverDir/fct_headways_by_date/date=$date")
      graft.etl.IncrementalHeadways.lastArrivalState(
          history.filter(to_date(col("event_ts")) <= to_date(lit(date))))
        .write.mode(SaveMode.Overwrite).parquet(s"$stateRoot/date=$date")
    }

  /** Partition dates (`date=<d>` dir names) under a root; empty if the
    * root does not exist. Driver-side listing of O(dates) names.
    */
  private def listPartitionDates(spark: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("date=") => n.stripPrefix("date=") }
  }

  /** E3 — line alignment: fan-out per-stop fetches, filter to the line,
    * enrich with stop metadata via a BROADCAST lookup join + coalesce
    * fallback (SURVEY J1 — the reference's nested-loop stop lookup with
    * `commonName` fallback, `tfl_align.py:147,158-166`, re-expressed as the
    * scalable join form), add the raw JSON column and the parsed arrival
    * ts, write one flat snapshot parquet (reference `tfl_align.py`).
    */
  def align(spark: SparkSession, line: String, outDir: String, asOf: Instant,
      transport: Http.Transport,
      stops: Seq[(String, String)] = Seq.empty): DataFrame = {
    GraftSession.tune(spark)
    import spark.implicits._
    // `stops` scopes the fetch AND supplies the (naptanId, commonName)
    // lookup, mirroring the reference CLI where /Line/{id}/StopPoints
    // drives both (tfl_align.py:104-109,135)
    val stopPairs =
      if (stops.nonEmpty) stops
      else Config.stopIds().map(id => id -> s"Stop $id")
    val stopMeta = stopPairs.toDF("naptanId", "commonName")
    val df = fetchArrivals(spark, transport, stopPairs.map(_._1))
      .filter(col("lineId") === line)
      .join(broadcast(stopMeta.withColumnRenamed("naptanId", "meta_naptanId")),
        col("stopId") === col("meta_naptanId"), "left")
      .withColumn("stationName", coalesce(col("commonName"), col("stopId")))
      .withColumn("snapshot_ts", lit(fileFmt.format(asOf)))
      .withColumn("raw", to_json(struct(col("stopId"), col("lineId"),
        col("lineName"), col("platformName"), col("destinationName"),
        col("timeToStation"), col("timestamp"), col("expectedArrival"),
        col("vehicleId"))))
      // tz-aware arrival time derives from expectedArrival, as in the
      // reference (tfl_align.py:180-184), not the snapshot timestamp
      .withColumn("expectedArrival_ts", expr("try_cast(expectedArrival as timestamp)"))
      .withColumn("line_id", col("lineId"))
      .select(Schemas.alignedArrivals.fieldNames.map(col).toSeq: _*)
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/arrivals_${line}_${fileFmt.format(asOf)}.parquet")
    df
  }
}
