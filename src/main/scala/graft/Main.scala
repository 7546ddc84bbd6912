package graft

import java.time.Instant

import graft.core.GraftSession
import graft.ingest.SyntheticArrivals
import graft.jobs.Jobs
import graft.quality.Expectations
import graft.streaming.HeadwaysStream

/** CLI dispatcher — the engine's operational entry points, mirroring the
  * reference's runnables (ingest DAG, transform DAG, `tfl_align.py` CLI):
  *
  * {{{
  * graft.Main ingest    <rawDir> [isoInstant]
  * graft.Main transform <rawDir> <silverDir>
  * graft.Main align     <line> <outDir> [isoInstant]
  * graft.Main stream    <rawDir> <silverDir> <checkpointDir>
  * graft.Main compact   <parquetDir> [targetMiB]
  * graft.Main curate    <documentsParquet> <outDir>
  * }}}
  *
  * `stream` runs [[graft.streaming.HeadwaysStream]] once over the raw
  * files its checkpoint has not seen and maintains the date-partitioned
  * silver layout the poll path writes: `<silverDir>/stg_arrivals_by_date/`,
  * `<silverDir>/fct_headways_by_date/` and `<silverDir>/state_last_arrival/`,
  * each partitioned by `date=<d>`.
  *
  * Scheduling stays external, as in the reference (its Airflow cron ↔ any
  * scheduler invoking these mains). The synthetic transport stands in for
  * the TfL API in this zero-egress environment; production swaps it for a
  * real HTTP transport behind the same [[graft.ingest.Http.Transport]]
  * interface.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft")
    try args.toList match {
      case "ingest" :: rawDir :: rest =>
        val asOf = rest.headOption.map(Instant.parse).getOrElse(Instant.now())
        val n = Jobs.ingest(spark, rawDir, asOf, SyntheticArrivals.transport(asOf))
        println(s"[ingest] wrote $n arrivals to $rawDir")
      case "transform" :: rawDir :: silverDir :: Nil =>
        val results = Jobs.transform(spark, rawDir, silverDir)
        results.foreach { r =>
          val status = if (r.passed) "PASS" else "FAIL"
          println(f"[check] $status%-4s ${r.name}%-40s failures=${r.failures}")
        }
        val hardFailures = results.filter(r => !r.passed && r.severity == Expectations.Error)
        if (hardFailures.nonEmpty) sys.exit(1)
      case "align" :: line :: outDir :: rest =>
        val asOf = rest.headOption.map(Instant.parse).getOrElse(Instant.now())
        val df = Jobs.align(spark, line, outDir, asOf, SyntheticArrivals.transport(asOf))
        df.show(5, truncate = false)
      case "stream" :: rawDir :: silverDir :: ckpt :: Nil =>
        val q = HeadwaysStream.start(spark, rawDir, silverDir, ckpt)
        q.awaitTermination()
      case "compact" :: dir :: rest if rest.length <= 1 =>
        val targetBytes = rest.headOption match {
          case None => 128L * 1024 * 1024
          case Some(mib) => mib.toLongOption.filter(_ > 0) match {
            case Some(m) => m * 1024 * 1024
            case None =>
              System.err.println(s"compact: targetMiB must be a positive integer, got '$mib'")
              sys.exit(2)
          }
        }
        val n = graft.core.Layout.compact(spark, dir, targetBytes)
        println(s"[compact] rewrote $dir into $n file(s)")
      case "curate" :: docs :: outDir :: Nil =>
        graft.pipeline.CorpusFilter(spark.read.parquet(docs))
          .write.mode("overwrite").parquet(outDir)
        // count from the materialized output — re-counting the pipeline
        // frame would re-run the fingerprint shuffle twice more
        val written = spark.read.parquet(outDir)
        val kept = written.filter(written("keep")).count()
        println(s"[curate] $kept kept of ${written.count()} → $outDir")
      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println("usage: ingest <rawDir> [t] | transform <rawDir> <silverDir> | " +
          "align <line> <outDir> [t] | stream <rawDir> <silverDir> <ckpt> | " +
          "compact <dir> [targetMiB] | curate <docsParquet> <outDir>")
        sys.exit(2)
    } finally spark.stop()
  }
}
