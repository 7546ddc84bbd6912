package graft.streaming

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.StgArrivals
import graft.jobs.Jobs

/** The streaming headway mart (SURVEY §7 step 9, §2.9): a file-source
  * stream over the raw zone that schedules the exact per-date transform,
  * [[graft.jobs.Jobs.transformIncremental]], and computes nothing of its
  * own. Its output is the `*_by_date` silver layout the poll path writes,
  * and the union of its `fct_headways_by_date/date=*` partitions equals
  * [[graft.jobs.Jobs.transform]]'s mart over the raw zone it has seen —
  * late and backfilled snapshots included, as the reference's
  * recompute-per-run includes them.
  *
  * Each micro-batch reads the raw `date=` directories of its new files and
  * re-runs the per-date transform, in ascending order, for every date from
  * the earliest one it touched through one day past the latest raw date:
  *  - one day past: a late poll predicts arrivals of the next date, and
  *    those belong to that date's mart;
  *  - from the earliest touched date on: a snapshot backfilled into an
  *    older date moves the lag boundary of every later date
  *    ([[graft.etl.IncrementalHeadways]]' contract), so every later date
  *    is recomputed too.
  *
  * Replay is idempotent without a sink marker: each date's write
  * overwrites that date's partition, and the last-arrival state is a
  * per-key max recomputed from the staged history. A replayed micro-batch
  * rewrites the same partitions with the same rows.
  */
object HeadwaysStream {

  /** Start the stream: raw files in → date-partitioned silver out.
    * `Trigger.AvailableNow` processes every file present and stops;
    * scheduling stays external, as the reference's cron is.
    */
  def start(spark: SparkSession, rawDir: String, silverDir: String,
      checkpointDir: String): StreamingQuery =
    StgArrivals.streamRaw(spark, rawDir)
      .select(regexp_extract(col("_metadata.file_path"), "/date=([^/]+)/", 1)
        .as("date"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (files: DataFrame, _: Long) =>
        val touched = files.distinct().collect().map(_.getString(0))
        if (touched.nonEmpty) {
          val last = LocalDate.parse(Jobs.partitionDates(spark, rawDir).max)
            .plusDays(1)
          Iterator.iterate(LocalDate.parse(touched.min))(_.plusDays(1))
            .takeWhile(!_.isAfter(last))
            .foreach(d => Jobs.transformIncremental(spark, rawDir, silverDir,
              d.toString))
        }
      }
      .start()
}
