package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Schemas}

/** Typed staging model — the engine's `stg_arrivals`
  * (reference `dbt_project/models/staging/stg_arrivals.sql:18-40`).
  *
  * Raw hive-partitioned snapshots (`date=.../arrivals_&#42;.parquet`) → 7
  * typed columns:
  *  - explicit casts to the declared types (P3)
  *  - fault-tolerant timestamp parse: malformed → NULL, never an error
  *    (P4/F5, DuckDB `try_cast`)
  *  - `ingested_at = current_timestamp()` (F3 — nondeterministic by design;
  *    excluded from golden-hash comparisons per SURVEY H5)
  *  - zero-files fallback to an empty typed relation (S9/P6/H6: the
  *    reference's Jinja glob-count guard, reproduced as a runtime FS check
  *    because Catalyst cannot plan a nonexistent path)
  *
  * Scale notes: raw reads (batch [[apply]] and [[streamRaw]]) declare
  * `Schemas.rawArrivals`, so no schema-inference job runs, and name the
  * `date=` directories as root paths with a `pathGlobFilter` for the
  * snapshot files. Spark lists one path per date directory on the
  * driver; its parallel listing job only appears beyond 32 date
  * directories (`spark.sql.sources.parallelPartitionDiscovery.threshold`;
  * a glob over the snapshot files themselves crosses it at a day's 33rd
  * poll). The select is a pure projection over the scan — Catalyst
  * pushes column pruning into parquet — and one date is read by naming
  * its directory.
  */
object StgArrivals {

  /** True if the glob matches at least one path (reference
    * `stg_arrivals.sql:5-14`, compile-time `glob()` count).
    */
  def globNonEmpty(spark: SparkSession, pattern: String): Boolean = {
    val path = new Path(pattern)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val matches = fs.globStatus(path)
    matches != null && matches.nonEmpty
  }

  /** The snapshot files `Jobs.ingest` names each poll: a `part-` file a
    * crashed ingest left before its rename is not a snapshot.
    */
  private val snapshotFiles = "arrivals_*.parquet"

  private def dateDirs(rawDir: String, date: String) = s"$rawDir/date=$date"

  /** Build the staging frame from a raw zone directory
    * (`{raw}/date=YYYY-MM-DD/arrivals_*.parquet`), over every date or over
    * the one `date` given.
    */
  def apply(spark: SparkSession, rawDir: String, date: String = "*"): DataFrame = {
    GraftSession.tune(spark)
    val dirs = dateDirs(rawDir, date)
    if (!globNonEmpty(spark, dirs)) Schemas.emptyRelation(spark, Schemas.stgArrivals)
    else fromRaw(spark.read.schema(Schemas.rawArrivals)
      .option("pathGlobFilter", snapshotFiles).parquet(dirs))
  }

  /** The raw zone as a file-source stream (untyped raw columns). */
  def streamRaw(spark: SparkSession, rawDir: String): DataFrame =
    spark.readStream.schema(Schemas.rawArrivals)
      .option("pathGlobFilter", snapshotFiles).parquet(dateDirs(rawDir, "*"))

  /** The typed projection itself, reusable over any frame with the raw
    * arrival columns (reference `stg_arrivals.sql:18-25`).
    */
  def fromRaw(raw: DataFrame): DataFrame =
    raw.select(
      col("lineId").cast("string").as("line_id"),
      col("stopId").cast("string").as("stop_id"),
      col("platformName").as("platform_name"),
      col("destinationName").as("destination_name"),
      col("timeToStation").cast("int").as("time_to_station_s"),
      expr("try_cast(timestamp as timestamp)").as("event_ts"),
      current_timestamp().as("ingested_at"))
}
