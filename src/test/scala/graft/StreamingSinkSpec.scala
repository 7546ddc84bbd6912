package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.IdempotentSink

/** Exactly-once contract of the idempotent foreachBatch sink: replayed
  * batchIds never duplicate rows, a crash before the commit rename leaves
  * no visible data, and the end-to-end stream restart adds nothing. And
  * the headway stream's per-date marts equal the batch transform across
  * kill-and-restart, a forced replay, late and cross-midnight polls and a
  * backfilled date.
  */
class StreamingSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String) = Files.createTempDirectory(tag).toString

  test("replayed batchId is skipped — no duplicates, first write wins") {
    val out = freshDir("graft-sink")
    val w = IdempotentSink.writer(out)
    w(Seq(1, 2, 3).toDF("x"), 7L)
    // the replay after a post-commit failure re-sends the SAME batch data;
    // a different frame here just proves the skip is on batchId, not data
    w(Seq(4, 5, 6, 7).toDF("x"), 7L)
    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    assert(got.select(sum($"x")).head().getLong(0) == 6L)
  }

  test("crash before rename leaves nothing visible; retry completes cleanly") {
    val out = freshDir("graft-sink")
    // simulate attempt 1 dying after the scratch write, before the rename
    Seq(9, 9).toDF("x").write.parquet(s"$out/.inflight-3")
    // nothing visible: no committed batch=* dir exists yet (dot-dirs are
    // invisible to Spark's file index by default)
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("batch=")))
    IdempotentSink.writer(out)(Seq(1, 2).toDF("x"), 3L)
    val got = spark.read.parquet(out)
    assert(got.count() == 2, "retry must overwrite the dead scratch dir")
    assert(new java.io.File(s"$out/.inflight-3").exists() == false)
  }

  test("dest dir without commit marker is rebuilt — object-store partial-rename case") {
    val out = freshDir("graft-sink")
    // simulate a crash mid-"rename" on an object store: batch=5 exists,
    // half-populated, but the marker (written last) never landed
    Seq(9).toDF("x").write.parquet(s"$out/batch=5")
    assert(IdempotentSink.committedBatches(spark, out).isEmpty)
    IdempotentSink.writer(out)(Seq(1, 2, 3).toDF("x"), 5L)
    assert(IdempotentSink.committedBatches(spark, out) == Seq(5L))
    val got = spark.read.parquet(out)
    assert(got.count() == 3, "unmarked partial dest must be replaced, not trusted")
    // and now that the marker exists, a replay is a no-op
    IdempotentSink.writer(out)(Seq(7, 8).toDF("x"), 5L)
    assert(spark.read.parquet(out).count() == 3)
    assert(IdempotentSink.readCommitted(spark, out).count() == 3)
  }

  test("stream restart over the same checkpoint appends nothing") {
    val root = freshDir("graft-sink-e2e")
    Seq(1, 2, 3).toDF("x").write.parquet(s"$root/in/a")
    Seq(4, 5).toDF("x").write.parquet(s"$root/in/b")
    def run(): Unit = {
      val q = spark.readStream.schema("x int").parquet(s"$root/in/*")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(IdempotentSink.writer(s"$root/out"))
        .start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    run()
    val first = spark.read.parquet(s"$root/out").count()
    assert(first == 5)
    run() // restart: no new files → no new batches → no new rows
    assert(spark.read.parquet(s"$root/out").count() == first)
    // batch is a discoverable partition column for downstream pruning
    assert(spark.read.parquet(s"$root/out").columns.contains("batch"))
  }

  /** The union of the stream's per-date marts. */
  private def byDateMart(silver: String) =
    spark.read.option("basePath", s"$silver/fct_headways_by_date")
      .parquet(s"$silver/fct_headways_by_date/date=*").drop("date")

  /** The stream's per-date marts equal `Jobs.transform`'s mart over the
    * raw zone as it stands: same row count, same rows, exact values. */
  private def assertBatchMart(raw: String, silver: String, tag: String): Unit = {
    val batchSilver = freshDir("graft-mart-batch")
    graft.jobs.Jobs.transform(spark, raw, batchSilver)
    val batch = spark.read.parquet(s"$batchSilver/fct_headways")
    val streamed = byDateMart(silver)
    assert(streamed.count() == batch.count(), tag)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"$tag: streamed mart must equal the batch transform byte-for-byte")
  }

  /** One AvailableNow run of the headway stream: a kill-and-restart cycle
    * over the checkpoint. */
  private def runHeadways(raw: String, silver: String, ckpt: String,
      tag: String): Unit = {
    val q = graft.streaming.HeadwaysStream.start(spark, raw, silver, ckpt)
    try {
      assert(q.awaitTermination(120000), s"$tag: query did not terminate")
      assert(q.exception.isEmpty, s"$tag failed: ${q.exception}")
    } finally if (q.isActive) q.stop()
  }

  /** One raw snapshot of `(stopId, lineId, timestamp)` arrivals, placed as
    * the raw-zone contract requires: a single arrivals_*.parquet FILE under
    * its date= directory (the streaming pathGlobFilter keys on the leaf
    * file name). */
  private def snapshot(raw: String, date: String, name: String,
      rows: Seq[(String, String, String)]): Unit = {
    val tmp = s"${freshDir("graft-snapshot")}/s"
    rows.map { case (stop, line, ts) => (stop, line, "p1", "d", 30L, ts) }
      .toDF("stopId", "lineId", "platformName", "destinationName",
        "timeToStation", "timestamp")
      .coalesce(1).write.parquet(tmp)
    val dateDir = new java.io.File(s"$raw/date=$date"); dateDir.mkdirs()
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    assert(part.renameTo(new java.io.File(dateDir, s"arrivals_$name.parquet")))
  }

  private def poll(raw: String, start: String, n: Int): Unit =
    (0 until n).foreach { i =>
      val at = java.time.Instant.parse(start).plusSeconds(i * 120L)
      graft.jobs.Jobs.ingest(spark, raw, at, graft.ingest.SyntheticArrivals.transport(at))
    }

  test("composed streaming mart: 3 waves, kill-and-restart, forced replay — equals the batch mart") {
    import java.time.Instant
    val root = freshDir("graft-mart-e2e")
    val raw = s"$root/raw"; val silver = s"$root/silver"; val ckpt = s"$root/ckpt"
    val t0 = Instant.parse("2025-11-20T10:00:00Z")
    // wave 1's snapshots predate wave 0's: a late arrival across
    // micro-batches, which the reference's recompute includes
    val waveOffset = Seq(2, 0, 1)
    def ingestWave(wave: Int): Unit = (0 until 2).foreach { i =>
      val ts = t0.plusSeconds((waveOffset(wave) * 2 + i) * 120L).toString
      snapshot(raw, "2025-11-20", s"w${wave}_$i",
        Seq(("940GZZLUOXC", "central", ts), ("940GZZLUVIC", "victoria", ts)))
    }
    // 3 ingest waves; a FRESH AvailableNow query per wave is a
    // kill-and-restart cycle over the same checkpoint
    (0 until 3).foreach { wave =>
      ingestWave(wave)
      runHeadways(raw, silver, ckpt, s"wave $wave")
      assertBatchMart(raw, silver, s"wave $wave")
    }
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    assert(commits.length >= 3, s"expected ≥3 committed batches, got ${commits.toSeq}")

    // force an at-least-once replay: drop the newest STREAMING commit so
    // the restart reprocesses the final batch under the same batchId —
    // its per-date overwrites must reproduce the same mart
    val before = byDateMart(silver).collect().toSeq
    val replayed = commits.max
    assert(new java.io.File(s"$ckpt/commits/$replayed").delete(),
      "streaming checkpoint commit must exist to be dropped")
    // also drop the Hadoop checksum sidecar, or the replay's commit
    // rename fails on the stale .crc
    new java.io.File(s"$ckpt/commits/.$replayed.crc").delete()
    runHeadways(raw, silver, ckpt, "forced replay")
    assert(new java.io.File(s"$ckpt/commits/$replayed").exists(),
      "the replay must re-commit the dropped batch")
    val after = byDateMart(silver).collect().toSeq
    assert(after.size == before.size && after.diff(before).isEmpty,
      "a replayed batch must leave the mart row-identical")
    assertBatchMart(raw, silver, "forced replay")
  }

  test("headway stream: a late poll's cross-midnight predictions reach the next date's mart") {
    val root = freshDir("graft-mart-midnight")
    val raw = s"$root/raw"; val silver = s"$root/silver"; val ckpt = s"$root/ckpt"
    val (d1, d2) = ("2025-11-20", "2025-11-21")
    // polls 23:40–23:58 on d1, one cycle, then 00:00–00:20 on d2
    poll(raw, s"${d1}T23:40:00Z", 10)
    assert(graft.etl.StgArrivals(spark, raw, d1)
      .filter(to_date(col("event_ts")) === to_date(lit(d2))).count() > 0,
      "the fixture must hold next-date arrivals in the late polls")
    runHeadways(raw, silver, ckpt, "d1 polls")
    // no raw d2 directory exists yet, but d2's mart already holds the gaps
    // of the d1 polls' predictions for d2
    assert(spark.read.parquet(s"$silver/fct_headways_by_date/date=$d2").count() > 0)
    assertBatchMart(raw, silver, "d1 polls")
    poll(raw, s"${d2}T00:00:00Z", 11)
    runHeadways(raw, silver, ckpt, "d2 polls")
    assertBatchMart(raw, silver, "d2 polls")
  }

  test("headway stream: a snapshot backfilled into an earlier date recomputes every later date") {
    val root = freshDir("graft-mart-backfill")
    val raw = s"$root/raw"; val silver = s"$root/silver"; val ckpt = s"$root/ckpt"
    val days = Seq("2025-11-20", "2025-11-21", "2025-11-22")
    // a key of its own that arrives on the first and third dates only, so
    // the third date's lag boundary reaches back into the first
    val rare = (d: String, hhmm: String) =>
      Seq(("940GZZLUBST", "bakerloo", s"${d}T$hhmm:00Z"))
    snapshot(raw, days(0), "rare_0", rare(days(0), "08:00"))
    snapshot(raw, days(2), "rare_2", rare(days(2), "09:00"))
    days.foreach { d =>
      poll(raw, s"${d}T10:00:00Z", 3)
      runHeadways(raw, silver, ckpt, d)
    }
    assertBatchMart(raw, silver, "in order")
    val martOf = (d: String) =>
      spark.read.parquet(s"$silver/fct_headways_by_date/date=$d").collect().toSet
    val before = days.tail.map(martOf)
    // late snapshots of the first date land after the later dates were
    // processed: late polls whose predictions cross into the second date,
    // and a later arrival of the rare key that moves its gap on the third
    poll(raw, s"${days(0)}T23:44:00Z", 3)
    snapshot(raw, days(0), "rare_late", rare(days(0), "20:00"))
    runHeadways(raw, silver, ckpt, "backfill")
    days.tail.zip(before).foreach { case (d, b) =>
      assert(martOf(d) != b, s"the backfill must change the mart of $d")
    }
    assertBatchMart(raw, silver, "backfill")
  }
}
