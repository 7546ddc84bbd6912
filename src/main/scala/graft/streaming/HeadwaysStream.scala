package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.{GraftSession, Schemas}
import graft.etl.{FctHeadways, StgArrivals}

/** Structured-Streaming variant of the transform (SURVEY §7 step 9,
  * §2.9): a file-source stream over the raw zone with the reference's
  * exact semantics — every trigger fully recomputes staging + mart over
  * ALL raw snapshot files seen so far (`foreachBatch` recompute; the
  * reference's dbt models are `+materialized: table`, recomputed per run,
  * and its replay story is "rerun over the append-only raw zone",
  * `README.md:184`).
  *
  * Why not incremental `flatMapGroupsWithState`: a watermarked stateful
  * variant drops late rows that the reference's batch recompute would
  * include — a semantic divergence. Full recompute per micro-batch is
  * exactly reference-equivalent and, at the reference's data rate
  * (hundreds of rows / 2 min), far below Spark's batch floor. The state
  * is the raw zone itself; the stream is just the scheduler.
  *
  * Scale note: at real scale the incremental path is
  * `withWatermark("event_ts", ...)` + `flatMapGroupsWithState` keyed by
  * (line_id, stop_id) holding the last arrival — O(keys) state, no
  * recompute. Kept out per the divergence above; the mart recompute
  * itself is one-shuffle (see [[graft.etl.FctHeadways]]).
  */
object HeadwaysStream {

  /** Start the stream: raw files in → silver parquet out, one full
    * recompute per trigger. `Trigger.AvailableNow` processes everything
    * present and stops — the scheduled-batch cadence of the reference.
    */
  def start(spark: SparkSession, rawDir: String, silverDir: String,
      checkpointDir: String, availableNow: Boolean = true): StreamingQuery = {
    GraftSession.tune(spark)
    val raw = StgArrivals.streamRaw(spark, rawDir)
    val trigger =
      if (availableNow) Trigger.AvailableNow()
      else Trigger.ProcessingTime("2 minutes") // the reference's cron cadence
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        // The micro-batch frame is only the NEW files; the reference
        // recomputes over the full history, so we re-read the whole raw
        // zone (batch read) and overwrite silver — replay-equivalent.
        val stg = StgArrivals(spark, rawDir)
        stg.write.mode(SaveMode.Overwrite).parquet(s"$silverDir/stg_arrivals")
        val stgBack = spark.read.schema(Schemas.stgArrivals)
          .parquet(s"$silverDir/stg_arrivals")
        FctHeadways(stgBack).write.mode(SaveMode.Overwrite)
          .parquet(s"$silverDir/fct_headways")
        ()
      }
      .start()
  }

  // --- true-incremental variant (beyond the reference) ----------------------

  case class ArrivalEvent(line_id: String, stop_id: String, event_ts: Timestamp)
  case class HeadwayGap(line_id: String, stop_id: String, event_ts: Timestamp,
      headway_s: Double)
  case class LastSeen(lastTs: Long) // epoch MICROS of the newest event seen

  /** Per-(line, stop) gap emission with `flatMapGroupsWithState`: the state
    * is just the last arrival timestamp per key — O(keys), no recompute.
    *
    * Semantics beyond the reference (documented divergence, SURVEY §7.9b):
    * out-of-order arrivals WITHIN a micro-batch are sorted before state
    * update; an arrival older than the stored state (late ACROSS batches)
    * is DROPPED — a watermark-style policy that keeps every emitted gap
    * non-negative. The batch recompute would instead re-order full
    * history; for reference-identical results use [[start]]. This path
    * exists for the scale regime where recomputing history per trigger is
    * impossible — state stays at 16 bytes per (line, stop).
    */
  /** Exact epoch MICROSECONDS of a timestamp — `Timestamp.getTime` alone
    * is millisecond-resolution, which silently truncated every gap to ms
    * precision (and blurred the late-drop comparison for events inside
    * the same millisecond); caught by the sf1 tier run's byte-equality
    * gate against the `unix_micros` batch recompute, invisible to
    * whole-second spec fixtures. `getNanos` carries the full sub-second;
    * `getTime`'s ms include its first three digits, so only the sub-ms
    * remainder is added back.
    */
  private def epochMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  def incrementalGaps(spark: SparkSession, arrivals: Dataset[ArrivalEvent]):
      Dataset[HeadwayGap] = {
    import spark.implicits._
    arrivals
      .groupByKey(a => (a.line_id, a.stop_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(
        (key: (String, String), rows: Iterator[ArrivalEvent],
         state: GroupState[LastSeen]) => {
          val sorted = rows.toSeq.sortBy(a => epochMicros(a.event_ts))
          var last = state.getOption.map(_.lastTs)
          val gaps = sorted.flatMap { a =>
            val ts = epochMicros(a.event_ts)
            if (last.exists(ts < _)) None // late across batches → drop
            else {
              val gap = last.map(l => HeadwayGap(key._1, key._2, a.event_ts,
                (ts - l).toDouble / 1e6))
              last = Some(ts)
              gap
            }
          }
          last.foreach(l => state.update(LastSeen(l)))
          gaps.iterator
        })
  }

  /** Watermarked tumbling-window arrival counts — the canonical Structured
    * Streaming aggregation shape (SURVEY §2.9 "Windows"/"Watermark" rows):
    * event-time 1-hour tumbling windows per line, tolerating `lateness` of
    * out-of-order data before state for a window is finalized and dropped.
    * The reference gets the same tolerance by full recomputation; this is
    * the bounded-state form. Append mode → a window row is emitted exactly
    * once, when the watermark passes it.
    */
  def windowedArrivalCounts(spark: SparkSession, rawDir: String,
      lateness: String = "10 minutes"): DataFrame = {
    GraftSession.tune(spark)
    StgArrivals.fromRaw(StgArrivals.streamRaw(spark, rawDir))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", lateness)
      .groupBy(window(col("event_ts"), "1 hour"), col("line_id"))
      .agg(count(lit(1)).as("n_arrivals"),
        approx_count_distinct("stop_id").as("n_stops"))
      .select(col("window.start").as("hour"), col("line_id"),
        col("n_arrivals"), col("n_stops"))
  }

  /** Start the incremental stream: raw files → per-gap rows, append mode. */
  def startIncremental(spark: SparkSession, rawDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    GraftSession.tune(spark)
    import spark.implicits._
    val arrivals = StgArrivals.fromRaw(StgArrivals.streamRaw(spark, rawDir))
      .filter(col("event_ts").isNotNull)
      .select(col("line_id"), col("stop_id"), col("event_ts"))
      .as[ArrivalEvent]
    incrementalGaps(spark, arrivals)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  /** The COMPOSED end-to-end streaming mart: raw file stream →
    * O(keys)-state incremental gaps ([[incrementalGaps]]) → exactly-once
    * [[IdempotentSink]]. This is the full 100 TB streaming shape in one
    * entry point: bounded state (16 bytes per key), no per-trigger
    * recompute, and a sink whose `batch=<id>` partitions survive
    * at-least-once `foreachBatch` replay and object-store non-atomic
    * renames (marker-gated visibility — read the result via
    * [[IdempotentSink.readCommitted]]).
    *
    * Restart contract: kill the query at any point, restart with the same
    * `checkpointDir` — replayed batch ids are skipped by the sink's
    * marker, fresh ids process new files only. The composition is gated
    * end-to-end in StreamingSinkSpec: 3 ingest waves across 3
    * kill-and-restart cycles plus a forced checkpoint-commit replay must
    * equal the batch recompute's gaps byte-for-byte.
    */
  def startIncrementalMart(spark: SparkSession, rawDir: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    GraftSession.tune(spark)
    import spark.implicits._
    val arrivals = StgArrivals.fromRaw(StgArrivals.streamRaw(spark, rawDir))
      .filter(col("event_ts").isNotNull)
      .select(col("line_id"), col("stop_id"), col("event_ts"))
      .as[ArrivalEvent]
    val sink = WaveCommit.writer()(wave => wave.commit(outDir, wave.batch))
    incrementalGaps(spark, arrivals)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[HeadwayGap], id: Long) =>
        sink(batch.toDF(), id)
      }
      .start()
  }
}
