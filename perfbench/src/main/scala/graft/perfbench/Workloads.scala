package graft.perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup.MinHashLsh
import graft.ingest.{Http, SyntheticArrivals}
import graft.jobs.Jobs
import graft.streaming.CurationStream
import graft.text.TextFunctions

/** What one op of a workload did: input rows (or documents) it processed
  * and per-op counters measured at the layer boundary.
  */
final case class OpResult(rows: Long, counters: Map[String, Double] = Map.empty)

/** One closed-loop workload. The benchmark calls [[generate]] several times
  * (each into a fresh directory, to time set-up), [[open]] on one of the
  * copies, then [[op]] back to back, then [[gate]] outside the timed region.
  */
trait Workload {
  /** Write the seeded inputs under `dir`. */
  def generate(dir: String): Unit
  /** Use the inputs generated under `dir`; one-time set-up beyond them. */
  def open(dir: String): Unit
  def op(i: Int): OpResult
  /** Mismatches between the program's outputs and the reference; empty when correct. */
  def gate(): Seq[String]
  /** Untimed ops run at the end of set-up, until the JIT has settled. */
  def warmupOps: Int = 1
  /** Timed ops a run makes even past its budget: a sample of one says
    * little when single ops vary much. */
  def minOps: Int = 1
  /** At most this many ops exist (a finite input), or unbounded. */
  def maxOps: Int = Int.MaxValue
  /** Ops that run ledger compaction (reported apart as a per-layer metric). */
  def isCompaction(i: Int): Boolean = false
  /** Directories whose file count is the checkpoint footprint after an op. */
  def checkpointDirs: Seq[String] = Nil
}

object Workloads {

  val Names: Seq[String] = Seq("lakehouse_transform", "lakehouse_poll", "curation_stream")

  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload =
    name match {
      case "lakehouse_transform" => new LakehouseTransform(spark, tracer, seed)
      case "lakehouse_poll" => new LakehousePoll(spark, tracer, seed)
      case "curation_stream" => new CurationStreamWaves(spark, tracer, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (one of ${Names.mkString(", ")})")
    }

  /** The service day the seed selects: midnight UTC of a day in 2026. */
  def day(seed: Long): Instant =
    Instant.parse("2026-01-01T00:00:00Z").plusSeconds(86400L * Math.floorMod(seed, 365L))

  /** Rows of `a` missing from `b` and of `b` missing from `a`. */
  def diff(a: DataFrame, b: DataFrame): (Long, Long) = {
    val cols = a.columns.sorted.map(col).toSeq
    val x = a.select(cols: _*)
    val y = b.select(cols: _*)
    (x.exceptAll(y).count(), y.exceptAll(x).count())
  }
}

/** One full `Jobs.transform` per op over a seeded raw zone of 2-minute
  * polls: small-file listing and scanning, the mart's window/quantile
  * shuffle and the 11 checks. The mart is compared against the DuckDB
  * oracle and the check counts against the generated rows by `run.py`,
  * from the files [[gate]] leaves in the silver directory.
  */
final class LakehouseTransform(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  val Polls = 180
  override def warmupOps: Int = 3
  override def minOps: Int = 5
  private val start = Workloads.day(seed)
  private var raw, silver = ""
  private var rows = 0L
  private var checks: Seq[graft.quality.Expectations.Result] = Nil

  def generate(dir: String): Unit =
    rows = RawZone.write(s"$dir/raw", RawZone.polls(start, Polls), seed)

  def open(dir: String): Unit = {
    raw = s"$dir/raw"
    silver = s"$dir/silver"
  }

  def op(i: Int): OpResult = {
    checks = tracer.span("Jobs.transform", "etl.mart")(Jobs.transform(spark, raw, silver))
    OpResult(rows, Map("quality.checks" -> checks.size.toDouble))
  }

  def gate(): Seq[String] = {
    val lines = checks.map(r => s"${r.name}\t${r.failures}")
    java.nio.file.Files.write(new File(s"$silver/checks.tsv").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (checks.size == 11) Nil else Seq(s"expected 11 check results, got ${checks.size}")
  }
}

/** The poll-to-fresh-mart path: each op is one `Jobs.ingest` poll followed
  * by `Jobs.transformIncremental` for the poll's date, over a raw zone
  * holding one full prior day plus the current day up to noon.
  */
final class LakehousePoll(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  private val today = Workloads.day(seed)
  private val yesterday = today.minusSeconds(86400)
  private val noon = today.plusSeconds(43200)
  private var raw, silver, work = ""

  def generate(dir: String): Unit =
    RawZone.write(s"$dir/raw", RawZone.polls(yesterday, 720 + 360), seed)

  def open(dir: String): Unit = {
    work = dir
    raw = s"$dir/raw"
    silver = s"$dir/silver"
    RawZone.selfCheck(spark, s"$dir/selfcheck", noon, seed)
    Seq(yesterday, today).foreach(d =>
      Jobs.transformIncremental(spark, raw, silver, RawZone.date(d)))
  }

  def op(i: Int): OpResult = {
    val at = noon.plusSeconds(i * RawZone.PollSeconds)
    var fetches = 0
    var fetchNs = 0L
    val inner = SyntheticArrivals.transport(at, seed)
    val counted: Http.Transport = url => {
      val t0 = System.nanoTime()
      try inner(url)
      finally { fetches += 1; fetchNs += System.nanoTime() - t0 }
    }
    val n = tracer.span("Jobs.ingest", "ingest")(Jobs.ingest(spark, raw, at, counted))
    tracer.span("Jobs.transformIncremental", "etl.incremental")(
      Jobs.transformIncremental(spark, raw, silver, RawZone.date(at)))
    OpResult(n, Map("ingest.fetches" -> fetches.toDouble, "ingest.fetch_s" -> fetchNs / 1e9))
  }

  /** IncrementalHeadways' exactness contract: the union of the per-date
    * marts equals a full `Jobs.transform` of the final raw zone.
    */
  def gate(): Seq[String] = {
    Jobs.transform(spark, raw, s"$work/gate_full")
    val full = spark.read.parquet(s"$work/gate_full/fct_headways")
    val inc = spark.read.option("basePath", s"$silver/fct_headways_by_date")
      .parquet(s"$silver/fct_headways_by_date/date=*").drop("date")
    val (extra, missing) = Workloads.diff(inc, full)
    if (extra == 0 && missing == 0) Nil
    else {
      val hours = inc.exceptAll(full).unionByName(full.exceptAll(inc))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm")).distinct()
        .collect().map(_.getString(0)).sorted
      Seq(s"per-date marts differ from the full transform: $extra rows only in " +
        s"the per-date marts, $missing only in the full mart (hours " +
        s"${hours.take(6).mkString(", ")}${if (hours.size > 6) ", ..." else ""})")
    }
  }
}

/** The composed curation stream (`CurationStream.writer`, compaction every
  * 4 waves) over a seeded corpus: each op is one `AvailableNow` trigger
  * that consumes the next wave of documents. The 5000 documents are cut
  * into 12 waves of ~420, the wave size the stream was first measured at,
  * and a run times at least one full compaction cycle (batches 0–3, the
  * last one compacting). Set-up computes the reference verdicts of those
  * waves, which also warms the JIT for the stream's kernels; the warm-up
  * waves then run through a stream of their own, on waves taken from the
  * end of the corpus, so the timed stream starts at batch 0.
  */
final class CurationStreamWaves(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  val Documents = 5000
  val Waves = 12
  val CompactEvery = 4
  private val docs = Docs.generate(Documents, Waves, seed)
  private val waveSize = docs.groupBy(_.wave).map { case (w, ds) => w -> ds.size.toLong }
  private val reference = new BatchSequential
  private var dir = ""
  private var waves = 0

  override def warmupOps: Int = 1
  override def minOps: Int = CompactEvery
  override def maxOps: Int = Waves
  override def isCompaction(i: Int): Boolean =
    i >= warmupOps && (i - warmupOps) % CompactEvery == CompactEvery - 1
  override def checkpointDirs: Seq[String] = Seq(s"$dir/timed/ckpt")

  def generate(dir: String): Unit =
    docs.groupBy(_.wave).foreach { case (w, ds) =>
      Docs.write(new File(s"$dir/waves/w$w/part-0.parquet"), ds)
    }

  def open(dir: String): Unit = {
    this.dir = dir
    (0 until minOps).foreach(w => reference.add(spark.read.parquet(s"$dir/waves/w$w")))
  }

  def op(i: Int): OpResult = {
    val (stream, wave) =
      if (i < warmupOps) (s"$dir/warmup", Waves - 1 - i)
      else { waves = i - warmupOps + 1; (s"$dir/timed", i - warmupOps) }
    new File(s"$stream/in").mkdirs()
    require(new File(s"$dir/waves/w$wave").renameTo(new File(s"$stream/in/w$wave")),
      s"wave $wave is missing")
    val w = CurationStream.writer(s"$stream/out", s"$stream/fps", s"$stream/bands",
      s"$stream/sigs", "text", "doc_id", compactEvery = CompactEvery)
    tracer.span("trigger", "streaming.trigger") {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$stream/in/*")
        .writeStream
        .option("checkpointLocation", s"$stream/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch((df: DataFrame, id: Long) =>
          tracer.span("CurationStream.writer", "streaming.writer")(w(df, id)))
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    OpResult(waveSize.getOrElse(wave, 0L))
  }

  /** The timed stream's verdicts equal the batch-sequential recompute of
    * the same stage composition over the waves it consumed, as
    * `BenchStreamCuration` gates it.
    */
  def gate(): Seq[String] = {
    (reference.waves until waves).foreach(w =>
      reference.add(spark.read.parquet(s"$dir/timed/in/w$w")))
    val streamed = CurationStream.verdicts(spark, s"$dir/timed/out")
      .select("doc_id", "quality", "q_pass", "exact_new", "admitted", "first_match")
    val (extra, missing) = Workloads.diff(streamed, reference.out)
    if (extra == 0 && missing == 0) Nil
    else Seq(s"stream verdicts differ from the batch-sequential recompute: " +
      s"$extra rows only in the stream, $missing only in the recompute")
  }

  /** The curation stages folded over waves in memory, one wave at a time:
    * the verdicts a correct stream commits for the same waves. Every ledger
    * is checkpointed after each wave, so a wave's files may move once it
    * was added.
    */
  private final class BatchSequential {
    private var fps, bands, sigs: DataFrame = _
    var out: DataFrame = _
    var waves = 0

    def add(wave: DataFrame): Unit = {
      val w = wave.select("doc_id", "text")
      if (out == null) {
        val none = w.filter(lit(false))
        fps = none.select(TextFunctions.fingerprint(col("text")).as("fp"))
        bands = MinHashLsh.bandsForApprox(none, "text", "doc_id")
        sigs = MinHashLsh.sigsFor(none, "text", "doc_id")
      }
      val scored = w.select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val exactNew = scored.filter(col("quality") >= 0.7)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .join(fps, Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1).drop("rn")
        .persist()
      val sk = MinHashLsh.sigsFor(exactNew, "text", "doc_id").persist()
      val verdict = MinHashLsh.nearDupAdmitApproxSketched(sk, bands, sigs, 0.5).persist()
      val waveOut = scored.select(col("doc_id"), col("quality"),
          (col("quality") >= 0.7).as("q_pass"))
        .join(exactNew.select(col("doc_id"), lit(true).as("en")), Seq("doc_id"), "left")
        .join(verdict.select(col("doc_id"), col("admitted").as("adm"),
          col("first_match")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"), col("q_pass"),
          coalesce(col("en"), lit(false)).as("exact_new"),
          coalesce(col("adm"), lit(false)).as("admitted"), col("first_match"))
      out = (if (out == null) waveOut else out.unionByName(waveOut)).localCheckpoint()
      fps = fps.unionByName(exactNew.select("fp")).localCheckpoint()
      val admitted = sk.join(verdict.filter(col("admitted"))
        .select(col("doc_id").as("id")), Seq("id"))
      bands = bands.unionByName(MinHashLsh.bandRowsOfSigs(admitted)).localCheckpoint()
      sigs = sigs.unionByName(admitted.select("id", "sig")).localCheckpoint()
      verdict.unpersist(); sk.unpersist(); exactNew.unpersist()
      waves += 1
    }
  }
}
