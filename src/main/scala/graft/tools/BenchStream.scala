package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DedupStream, HeadwaysStream, IdempotentSink, NearDupStream}
import graft.tools.BenchKit.{arr, dirBytes, timed}

/** Scale-tier driver for three streaming paths — the committed evidence
  * behind BENCH_STREAM.json: `runMain graft.tools.BenchStream [sfDir] [outJson]`.
  *
  * The kill/restart and exactly-once proofs live in StreamingDedupSpec /
  * StreamingSinkSpec at spec scale; this runs the SAME protocols at a
  * real tier (default sf1: 50k documents / 1M events) and records walls,
  * state sizes, and their byte-equality gates:
  *
  *  A. [[DedupStream]]: 8 id-range waves of `documents`, one fresh
  *     AvailableNow query per wave (= a kill-and-restart cycle over one
  *     checkpoint), a mid-run ledger compaction, a forced at-least-once
  *     replay (newest checkpoint commit deleted), a second compaction
  *     generation, the exchange-free-anti-join plan check, and
  *     streamed-survivors ≡ batch `Dedup.exact` recompute. Waves are
  *     id-RANGE splits so each fingerprint's global-min id lives in the
  *     first wave that sees the fingerprint — the precondition for exact
  *     keep_id equality with the batch path.
  *  B. [[HeadwaysStream]]: `events` mapped onto the raw-arrival
  *     contract, 6 time-range waves, each wave's rows under the `date=`
  *     directory of their timestamps, per-wave restart cycles, a forced
  *     replay that must leave the mart row-identical, and the per-date
  *     marts ≡ [[graft.jobs.Jobs.transform]]'s mart.
  */
object BenchStream {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-stream").toString

    // ---- A: streaming exact dedup ---------------------------------------
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    val in = s"$root/in"; val out = s"$root/out"
    val ledger = s"$root/ledger"; val ckpt = s"$root/ckpt"
    val nWaves = 8
    def runCycle(tag: String): Double = timed {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(DedupStream.writer(out, ledger, "text", "doc_id"))
        .start()
      require(q.awaitTermination(600000), s"$tag: query did not terminate")
      require(q.exception.isEmpty, s"$tag failed: ${q.exception}")
    }
    var compact1 = 0.0
    val waveWalls = (0 until nWaves).map { b =>
      docs.filter(col("doc_id") >= b * maxId / nWaves &&
          col("doc_id") < (b + 1) * maxId / nWaves)
        .coalesce(4).write.parquet(s"$in/w$b")
      val w = runCycle(s"wave $b")
      // ledger compaction generation 1 midway — BETWEEN cycles, per the
      // single-writer/between-micro-batches contract; waves 4-7 then
      // dedup against table ∪ fresh batch dirs, and the post-replay
      // compaction below builds a genuine second generation
      if (b == 3)
        compact1 = timed { require(DedupStream.compactLedger(spark, ledger).isDefined) }
      w
    }
    // forced at-least-once replay of the newest batch: the sink's marker
    // must swallow it, committing nothing new
    val idsBefore = IdempotentSink.committedBatches(spark, out)
    val newest = new java.io.File(s"$ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    require(new java.io.File(s"$ckpt/commits/$newest").delete(),
      "streaming commit to replay must exist")
    new java.io.File(s"$ckpt/commits/.$newest.crc").delete()
    val replayWall = runCycle("forced replay")
    require(IdempotentSink.committedBatches(spark, out) == idsBefore,
      "replay must commit no new batch")
    // second compaction generation over the replay-era ledger state
    val compact2 = timed { require(DedupStream.compactLedger(spark, ledger).isDefined) }
    // 100 TB plan gate: post-compaction, the anti-join's ledger side is
    // the bucketed table alone — no ShuffleExchange above its scan
    val probe = graft.dedup.Dedup.exactIncremental(
      docs.limit(1000), "text", "doc_id", DedupStream.ledgerFps(spark, ledger))
    probe.write.format("noop").mode("overwrite").save()
    val ledgerShuffled = probe.queryExecution.executedPlan.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.toString.contains("graft_ledger_")
          case _ => false
        }
      case _ => false
    }
    // byte-equality gate: streamed survivors ≡ batch recompute (fp and
    // keep_id; n_dups is per-admitting-batch by contract, so not compared)
    val streamed = IdempotentSink.readCommitted(spark, out)
      .select("fp", "keep_id")
    val batch = graft.dedup.Dedup.exact(docs, "text", "doc_id")
      .select("fp", "keep_id")
    val dedupEqual = streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty
    val ledgerFps = DedupStream.ledgerFps(spark, ledger).count()
    val survivorCount = streamed.count()

    // ---- B: streaming headway mart --------------------------------------
    val rawB = s"$root/rawB"; val silverB = s"$root/silverB"; val ckptB = s"$root/ckptB"
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("ts").isNotNull)
      .select(
        concat(lit("s"), pmod(col("user_id"), lit(500))).as("stopId"),
        col("event_type").as("lineId"),
        lit("p").as("platformName"), lit("d").as("destinationName"),
        (col("value") * 100).cast("long").as("timeToStation"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("timestamp"),
        date_format(col("ts"), "yyyy-MM-dd").as("date"),
        // events.ts is TIMESTAMP_NTZ at this tier — unix_micros wants TIMESTAMP
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val (lo, hi) = {
      val r = ev.agg(min("us"), max("us")).head(); (r.getLong(0), r.getLong(1) + 1)
    }
    val nEvents = ev.count()
    val martWaves = 6
    def runMart(tag: String): Double = timed {
      val q = HeadwaysStream.start(spark, rawB, silverB, ckptB)
      require(q.awaitTermination(600000), s"$tag: query did not terminate")
      require(q.exception.isEmpty, s"$tag failed: ${q.exception}")
    }
    val martWalls = (0 until martWaves).map { i =>
      val b0 = lo + i * (hi - lo) / martWaves
      val b1 = lo + (i + 1) * (hi - lo) / martWaves
      val tmp = s"$root/tmpB_$i"
      ev.filter(col("us") >= b0 && col("us") < b1).drop("us")
        .coalesce(1).write.partitionBy("date").parquet(tmp)
      // raw-zone contract: one arrivals_* snapshot file per date the wave
      // touches, under that date's directory
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith("date=")).foreach { d =>
        val dateDir = new java.io.File(rawB, d.getName); dateDir.mkdirs()
        val part = d.listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        require(part.renameTo(new java.io.File(dateDir, s"arrivals_w$i.parquet")))
      }
      runMart(s"mart wave $i")
    }
    def mart = spark.read.option("basePath", s"$silverB/fct_headways_by_date")
      .parquet(s"$silverB/fct_headways_by_date/date=*").drop("date")
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    mart.write.parquet(s"$root/martB_before_replay")
    val martNewest = new java.io.File(s"$ckptB/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    require(new java.io.File(s"$ckptB/commits/$martNewest").delete())
    new java.io.File(s"$ckptB/commits/.$martNewest.crc").delete()
    val martReplay = runMart("mart forced replay")
    val replayEqual = same(mart, spark.read.parquet(s"$root/martB_before_replay"))
    graft.jobs.Jobs.transform(spark, rawB, s"$root/silverB_full")
    val martEqual = same(mart, spark.read.parquet(s"$root/silverB_full/fct_headways"))
    val martRows = mart.count()

    // ---- C: streaming near-dup admission --------------------------------
    // same wave protocol as A over the near-dup operator: per-wave
    // kill/restart cycles, a forced replay, and streamed verdicts ≡ the
    // batch-sequential ledger recompute (the determinism gate — any drift
    // in sketching, banding, or commit ordering breaks row equality)
    val inC = s"$root/inC"; val outC = s"$root/outC"; val ckptC = s"$root/ckptC"
    val bandsC = s"$root/bandsC"; val setsC = s"$root/setsC"
    def runNearDup(tag: String): Double = timed {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$inC/*")
        .writeStream
        .option("checkpointLocation", ckptC)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.writer(outC, bandsC, setsC,
          "text", "doc_id", threshold = 0.5))
        .start()
      require(q.awaitTermination(600000), s"$tag: query did not terminate")
      require(q.exception.isEmpty, s"$tag failed: ${q.exception}")
    }
    val ndWaves = 6
    var ndCompact1 = 0.0
    val ndWalls = (0 until ndWaves).map { b =>
      docs.filter(col("doc_id") >= b * maxId / ndWaves &&
          col("doc_id") < (b + 1) * maxId / ndWaves)
        .coalesce(4).write.parquet(s"$inC/w$b")
      val w = runNearDup(s"neardup wave $b")
      // band+sset ledger compaction generation 1 midway (between cycles,
      // same cadence contract as section A): waves 4-6 then admit
      // against the bucketed tables ∪ fresh batch dirs, and the verdict
      // byte-equality gate below proves the generation switch changed
      // nothing
      if (b == 2) ndCompact1 = timed {
        val (tb, ts) = NearDupStream.compactLedgers(spark, bandsC, setsC)
        require(tb.isDefined && ts.isDefined)
      }
      w
    }
    val ndIdsBefore = IdempotentSink.committedBatches(spark, outC)
    val ndNewest = new java.io.File(s"$ckptC/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    require(new java.io.File(s"$ckptC/commits/$ndNewest").delete())
    new java.io.File(s"$ckptC/commits/.$ndNewest.crc").delete()
    val ndReplay = runNearDup("neardup forced replay")
    require(IdempotentSink.committedBatches(spark, outC) == ndIdsBefore,
      "neardup replay must commit no new batch")
    // second compaction generation, then the 100 TB plan gate: with both
    // ledgers fully absorbed, a probe admission's candidate join (bands
    // bucketed on (band, bkey)) and sset verification join (bucketed on
    // id) plan with no ShuffleExchange above either ledger scan
    val ndCompact2 = timed {
      val (tb, ts) = NearDupStream.compactLedgers(spark, bandsC, setsC)
      require(tb.isDefined && ts.isDefined)
    }
    val ndProbe = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger(
      docs.limit(1000), "text", "doc_id",
      NearDupStream.ledgerBands(spark, bandsC),
      NearDupStream.ledgerSets(spark, setsC), threshold = 0.5)
    ndProbe.write.format("noop").mode("overwrite").save()
    val ndLedgerShuffled = ndProbe.queryExecution.executedPlan.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.toString.contains("graft_ledger_")
          case _ => false
        }
      case _ => false
    }
    // batch-sequential recompute over accumulating ledgers. The ledgers
    // accumulate THROUGH PARQUET per wave, exactly like the stream's own
    // ledgers — chaining unionByName of six full sketch-pipeline plans
    // instead grows one enormous plan tree whose cache canonicalization
    // alone OOMs the driver (measured: heap death inside cacheQuery's
    // plan-string builder)
    import graft.dedup.Dedup.MinHashLsh
    val accBandsDir = s"$root/accBands"; val accSetsDir = s"$root/accSets"
    NearDupStream.ledgerBands(spark, s"$root/_empty_bands")
      .write.parquet(accBandsDir)
    NearDupStream.ledgerSets(spark, s"$root/_empty_sets")
      .write.parquet(accSetsDir)
    val batchVerdicts = (0 until ndWaves).map { b =>
      val wave = docs.filter(col("doc_id") >= b * maxId / ndWaves &&
        col("doc_id") < (b + 1) * maxId / ndWaves)
      // each wave's verdict MATERIALIZES TO PARQUET before the ledger
      // appends: a persist() is not enough — appending to a path a
      // cached plan reads triggers CacheManager.recacheByPath, which
      // re-executes the verdict against the fully-grown ledgers and
      // every doc then "rejects" against itself (measured: exactly that
      // false-negative wave)
      val vDir = s"$root/probeV_$b"
      MinHashLsh.nearDupIncrementalLedger(
        wave, "text", "doc_id",
        spark.read.parquet(accBandsDir), spark.read.parquet(accSetsDir),
        threshold = 0.5).write.parquet(vDir)
      val v = spark.read.parquet(vDir)
      val admitted = wave.join(
        v.filter(col("admitted")).select(col("doc_id")), Seq("doc_id"))
      MinHashLsh.bandsFor(admitted, "text", "doc_id")
        .write.mode("append").parquet(accBandsDir)
      MinHashLsh.setsFor(admitted, "text", "doc_id")
        .write.mode("append").parquet(accSetsDir)
      v
    }.reduce(_ unionByName _)
    val streamedVerdicts = NearDupStream.verdicts(spark, outC)
      .select("doc_id", "admitted", "first_match")
    val ndEqual = streamedVerdicts.exceptAll(batchVerdicts).isEmpty &&
      batchVerdicts.exceptAll(streamedVerdicts).isEmpty
    val ndAdmitted = streamedVerdicts.filter(col("admitted")).count()
    val ndTotal = streamedVerdicts.count()

    val line =
      s"""{"sf":"$sfDir","docs":$nDocs,"events":$nEvents,""" +
      s""""dedup":{"wave_walls":${arr(waveWalls)},"compact1_s":${f"$compact1%.3f"},""" +
      s""""replay_s":${f"$replayWall%.3f"},"compact2_s":${f"$compact2%.3f"},""" +
      s""""ledger_fps":$ledgerFps,"survivors":$survivorCount,""" +
      s""""batch_equal":$dedupEqual,"ledger_exchange_free":${!ledgerShuffled},""" +
      s""""ledger_bytes":${dirBytes(ledger)}},""" +
      s""""mart":{"wave_walls":${arr(martWalls)},"replay_s":${f"$martReplay%.3f"},""" +
      s""""rows":$martRows,"batch_equal":$martEqual,"replay_equal":$replayEqual,""" +
      s""""state_last_arrival_bytes":${dirBytes(s"$silverB/state_last_arrival")}},""" +
      s""""neardup":{"wave_walls":${arr(ndWalls)},"replay_s":${f"$ndReplay%.3f"},""" +
      s""""compact1_s":${f"$ndCompact1%.3f"},"compact2_s":${f"$ndCompact2%.3f"},""" +
      s""""verdicts":$ndTotal,"admitted":$ndAdmitted,"batch_equal":$ndEqual,""" +
      s""""ledgers_exchange_free":${!ndLedgerShuffled},""" +
      s""""bands_bytes":${dirBytes(bandsC)},"sets_bytes":${dirBytes(setsC)}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(dedupEqual && martEqual && replayEqual && ndEqual && !ledgerShuffled &&
      !ndLedgerShuffled,
      "scale-tier streaming gates must hold")
    spark.stop()
  }
}
