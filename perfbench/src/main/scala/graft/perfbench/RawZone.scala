package graft.perfbench

import java.io.File
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession

import graft.core.Schemas
import graft.core.Schemas.Arrival
import graft.ingest.SyntheticArrivals

/** Seeded bulk writer of the raw zone that `Jobs.ingest` builds one poll at
  * a time: `date=YYYY-MM-DD/arrivals_YYYYmmdd_HHMMSS.parquet`, the 6-column
  * raw schema, one file per 2-minute poll. The rows of a poll are exactly
  * what the synthetic transport serves for that instant, so a file written
  * here reads back row-identical to the one `Jobs.ingest` would write
  * ([[selfCheck]] proves it for one instant per run). The files are written
  * from the driver without Spark; calling `Jobs.ingest` once per poll would
  * cost a few Spark jobs per file.
  */
object RawZone {

  val PollSeconds = 120L

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val fileFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  def date(t: Instant): String = dateFmt.format(t)

  /** The poll instants from `start` (inclusive), every two minutes. */
  def polls(start: Instant, count: Int): Seq[Instant] =
    (0 until count).map(i => start.plusSeconds(i * PollSeconds))

  /** Rows of one poll as the raw zone holds them: the transport serves
    * arrivals per stop, so a snapshot row without a stop id never reaches
    * the zone.
    */
  def rows(t: Instant, seed: Long): Seq[Arrival] =
    SyntheticArrivals.snapshot(t, seed).filter(_.stopId.isDefined)

  /** The raw zone's file schema (`Schemas.rawArrivals` as parquet). */
  private val fileSchema =
    """message spark_schema {
      |  optional binary stopId (STRING);
      |  optional binary lineId (STRING);
      |  optional binary platformName (STRING);
      |  optional binary destinationName (STRING);
      |  optional int64 timeToStation;
      |  optional binary timestamp (STRING);
      |}""".stripMargin

  /** Write every poll in `instants` under `rawDir`, one parquet file each,
    * straight from the driver. Returns the row count.
    */
  def write(rawDir: String, instants: Seq[Instant], seed: Long): Long =
    instants.map { t =>
      val rs = rows(t, seed)
      val file = new File(rawDir, s"date=${date(t)}/arrivals_${fileFmt.format(t)}.parquet")
      Fs.writeParquet(file, fileSchema, rs) { (g, a) =>
        a.stopId.foreach(g.add("stopId", _))
        a.lineId.foreach(g.add("lineId", _))
        a.platformName.foreach(g.add("platformName", _))
        a.destinationName.foreach(g.add("destinationName", _))
        a.timeToStation.foreach(g.add("timeToStation", _))
        a.timestamp.foreach(g.add("timestamp", _))
      }
      rs.size.toLong
    }.sum

  /** One poll written by `Jobs.ingest` must read back as the same rows as
    * the file this generator writes for that instant.
    */
  def selfCheck(spark: SparkSession, dir: String, t: Instant, seed: Long): Unit = {
    val viaIngest = s"$dir/ingest"
    val viaBulk = s"$dir/bulk"
    graft.jobs.Jobs.ingest(spark, viaIngest, t, SyntheticArrivals.transport(t, seed))
    write(viaBulk, Seq(t), seed)
    val name = s"date=${date(t)}/arrivals_${fileFmt.format(t)}.parquet"
    def read(root: String) = spark.read.schema(Schemas.rawArrivals)
      .parquet(s"$root/$name").collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val a = read(viaIngest)
    val b = read(viaBulk)
    require(a.nonEmpty && a == b,
      s"raw-zone generator differs from Jobs.ingest at $t: ${a.size} vs ${b.size} rows")
    Fs.deleteTree(new File(dir))
  }
}
