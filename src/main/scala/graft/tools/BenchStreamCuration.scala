package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CurationStream, NearDupStream}
import graft.tools.BenchKit.{arr, ledgerBytes, timed}

/** The composed streaming curation pipeline (quality → exact dedup →
  * approx near-dup admission, q116's streaming form) at the sf10 tier —
  * the committed evidence behind BENCH_STREAM_CURATION.json:
  * `runMain graft.tools.BenchStreamCuration [sfDir] [outJson] [waves]`.
  *
  * The claim: the end-to-end ingest path sustains wave-sized per-wave
  * cost (per-cycle walls plateau across compaction cycles — the
  * BENCH_STREAM_CLUSTERS lesson folded in: compaction every 4 waves, so
  * steady state is measured PAST the cadence, compaction-inclusive walls
  * marked), with stage-attributed verdicts and 256 B/doc admission
  * state. Gates (required): the stream's final verdicts are
  * ROW-IDENTICAL to the batch-sequential recompute of the same stage
  * composition (the relation q116 gates hash-exact against its DuckDB
  * oracle at sf0.01/sf0.1).
  */
object BenchStreamCuration {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf10")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_CURATION.json"
    val nWaves = if (args.length > 2) args(2).toInt else 24
    // mode "decontam" streams q119's composition instead of q116's:
    // every 29th doc becomes the eval set (gram ledger built ONCE at
    // setup — writeBenchGrams), the rest stream through decontamWriter,
    // and the equality gate recomputes the flags stage too
    val mode = if (args.length > 3) args(3) else "plain"
    val isDecon = mode == "decontam"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-curation").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"
    val fps = s"$root/fps"; val bands = s"$root/bands"; val sigs = s"$root/sigs"

    val allDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs = if (isDecon)
      allDocs.filter(pmod(col("doc_id"), lit(29)) =!= 0) else allDocs
    if (isDecon) CurationStream.writeBenchGrams(
      allDocs.filter(pmod(col("doc_id"), lit(29)) === 0),
      "text", "doc_id", s"$root/bg")
    val nDocs = docs.count()
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1

    def cycle(i: Int): Double = timed {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(if (isDecon)
          CurationStream.decontamWriter(out, fps, bands, sigs, s"$root/bg",
            "text", "doc_id", compactEvery = 4)
        else CurationStream.writer(out, fps, bands, sigs,
          "text", "doc_id", compactEvery = 4))
        .start()
      require(q.awaitTermination(600000), s"wave $i: no termination")
      require(q.exception.isEmpty, s"wave $i failed: ${q.exception}")
    }

    // wall AND executor-CPU per wave (one RunMetrics record per cycle): a
    // HOST STALL (page-zeroing, a co-tenant burning the cores, thermal
    // throttle) inflates a wave's wall but leaves its CPU in the band of
    // its neighbors; an engine regression moves both
    val waveStats = (0 until nWaves).map { b =>
      docs.filter(col("doc_id") >= b * maxId / nWaves &&
          col("doc_id") < (b + 1) * maxId / nWaves)
        .coalesce(4).write.parquet(s"$in/w$b")
      val (w, rec) = graft.obs.RunMetrics.measure(spark)(cycle(b))
      (w, rec.total(_.cpuNs) / 1e9)
    }
    val waveWalls = waveStats.map(_._1)
    val waveCpus = waveStats.map(_._2)

    // stage-attributed reject counts from the durable verdicts
    val v = (if (isDecon) CurationStream.verdictsDecontam(spark, out)
      else CurationStream.verdicts(spark, out)).persist()
    val exactGate = if (isDecon) col("clean") else col("q_pass")
    val stages = v.agg(
      count(lit(1)).as("docs"),
      sum(when(!col("q_pass"), 1L).otherwise(0L)).as("q_reject"),
      (if (isDecon) sum(when(col("q_pass") && !col("clean"), 1L)
        .otherwise(0L)) else sum(lit(0L))).as("decontam_reject"),
      sum(when(exactGate && !col("exact_new"), 1L).otherwise(0L))
        .as("exact_reject"),
      sum(when(col("exact_new") && !col("admitted"), 1L).otherwise(0L))
        .as("neardup_reject"),
      sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted")).head()

    // EQUALITY GATE: batch-sequential recompute of the same composition
    // (the CurationStreamSpec reference at tier scale) — in-memory
    // ledgers, one fold per wave, localCheckpoint truncation per wave
    val seqWall = timed {
      val bgRef = if (isDecon) spark.read.parquet(s"$root/bg") else null
      val none = docs.filter(lit(false))
      var seqFps = none.select(
        graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
      var seqBands = graft.dedup.Dedup.MinHashLsh.bandsForApprox(
        none, "text", "doc_id")
      var seqSigs = graft.dedup.Dedup.MinHashLsh.sigsFor(
        none, "text", "doc_id")
      var seqOut: DataFrame = null
      (0 until nWaves).foreach { b =>
        val w = docs.filter(col("doc_id") >= b * maxId / nWaves &&
          col("doc_id") < (b + 1) * maxId / nWaves)
        val scored = w.select(col("doc_id"), col("text"),
          graft.text.TextFunctions.qualityScore(col("text")).as("quality"))
        val qp = scored.filter(col("quality") >= 0.7)
        val flags = if (isDecon)
          graft.pipeline.Curation.contaminationFlags(
            qp.select("doc_id", "text"), bgRef, "text", "doc_id").persist()
          else null
        val pre = if (isDecon) qp.join(
          flags.filter(!col("contaminated")).select("doc_id"), Seq("doc_id"))
          else qp
        val exactNew = pre
          .withColumn("fp", graft.text.TextFunctions.fingerprint(col("text")))
          .join(seqFps, Seq("fp"), "left_anti")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("fp").orderBy("doc_id")))
          .filter(col("rn") === 1).drop("rn")
          .persist()
        val sk = graft.dedup.Dedup.MinHashLsh.sigsFor(
          exactNew, "text", "doc_id").persist()
        val verdict = graft.dedup.Dedup.MinHashLsh.nearDupAdmitApproxSketched(
          sk, seqBands, seqSigs, 0.5).persist()
        val base = scored.select(col("doc_id"), col("quality"),
          (col("quality") >= 0.7).as("q_pass"))
        val attributed = if (isDecon) base
          .join(flags.select(col("doc_id"), col("n_shared_grams"),
            (!col("contaminated")).as("cl")), Seq("doc_id"), "left")
          .withColumn("clean", coalesce(col("cl"), lit(false))).drop("cl")
          else base
        val waveOut = attributed
          .join(exactNew.select(col("doc_id"), lit(true).as("en")),
            Seq("doc_id"), "left")
          .join(verdict.select(col("doc_id"), col("admitted").as("adm"),
            col("first_match")), Seq("doc_id"), "left")
          .withColumn("exact_new", coalesce(col("en"), lit(false)))
          .withColumn("admitted", coalesce(col("adm"), lit(false)))
          .drop("en", "adm")
        seqOut = (if (seqOut == null) waveOut
          else seqOut.unionByName(waveOut)).localCheckpoint()
        seqFps = seqFps.unionByName(exactNew.select("fp")).localCheckpoint()
        val admittedSk = sk.join(
          verdict.filter(col("admitted")).select(col("doc_id").as("id")),
          Seq("id"))
        seqBands = seqBands.unionByName(
          graft.dedup.Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
          .localCheckpoint()
        seqSigs = seqSigs.unionByName(admittedSk.select("id", "sig"))
          .localCheckpoint()
        verdict.unpersist(); sk.unpersist(); exactNew.unpersist()
        if (flags != null) flags.unpersist()
      }
      val cols = (Seq("doc_id", "quality", "q_pass") ++
        (if (isDecon) Seq("n_shared_grams", "clean") else Nil) ++
        Seq("exact_new", "admitted", "first_match")).map(col)
      val sv = v.select(cols: _*)
      val diff = sv.exceptAll(seqOut.select(cols: _*)).count() +
        seqOut.select(cols: _*).exceptAll(sv).count()
      require(diff == 0,
        s"stream verdicts must equal the batch-sequential recompute: $diff")
    }

    val compactWaves = (0 until nWaves).filter(b => b % 4 == 3).map(_ + 1)
    val plain = waveWalls.zipWithIndex.filter { case (_, b) => b % 4 != 3 }
    val cycleMeans = plain.groupBy(_._2 / 4).toSeq.sortBy(_._1)
      .map { case (_, ws) => ws.map(_._1).sum / ws.size }
    val early = plain.filter { case (_, b) => b / 4 == 1 }.map(_._1)
    val lastMid = compactWaves.filter(_ < nWaves).lastOption.getOrElse(0)
    val post = plain.filter(_._2 >= lastMid).map(_._1)
    val earlyMean = if (early.nonEmpty) early.sum / early.size else -1.0
    val postMean = if (post.nonEmpty) post.sum / post.size else -1.0
    val line =
      s"""{"sf":"$sfDir","mode":"$mode","docs":$nDocs,"waves":$nWaves,""" +
      s""""wave_walls":${arr(waveWalls)},""" +
      s""""wave_cpu_s":${arr(waveCpus)},""" +
      s""""compact_waves":${compactWaves.mkString("[", ",", "]")},""" +
      s""""cycle_means":${arr(cycleMeans)},""" +
      s""""early_mean":${f"$earlyMean%.3f"},""" +
      s""""post_compaction_mean":${f"$postMean%.3f"},""" +
      s""""post_over_early":${f"${postMean / earlyMean}%.3f"},""" +
      s""""stages":{"docs":${stages.getLong(0)},""" +
      s""""q_reject":${stages.getLong(1)},""" +
      s""""decontam_reject":${stages.getLong(2)},""" +
      s""""exact_reject":${stages.getLong(3)},""" +
      s""""neardup_reject":${stages.getLong(4)},""" +
      s""""admitted":${stages.getLong(5)}},""" +
      s""""state_bytes":{"fps":${ledgerBytes(spark, fps)},""" +
      s""""bands":${ledgerBytes(spark, bands)},"sigs":${ledgerBytes(spark, sigs)}},""" +
      s""""seq_recompute_wall_s":${f"$seqWall%.3f"},"diff_rows":0}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    v.unpersist()
    spark.stop()
  }
}
