package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.NearDupStream
import graft.tools.BenchKit.{arr, ledgerBytes, timed}

/** Incremental cluster maintenance vs from-scratch recompute — the
  * committed evidence behind BENCH_STREAM_CLUSTERS.json:
  * `runMain graft.tools.BenchStreamClusters [sfDir] [outJson] [waves]`.
  *
  * The claim this artifact pins: [[NearDupStream.clusterWriter]] keeps
  * q107-shaped cluster assignments current per wave at a cost that stays
  * FLAT in corpus size (the wave fold sketches only the wave; its
  * corpus-dependent terms are slim ledger scans), while the from-scratch
  * alternative — re-running the q105 estimator pair plan + closure over
  * everything ingested so far, which is what a batch-only cluster
  * consumer must do per refresh — GROWS with the corpus (it re-sketches
  * every document every time).
  *
  * Protocol: `waves` id-range waves of `documents` streamed through
  * [[NearDupStream.clusterWriter]] (fresh AvailableNow query per wave =
  * kill-and-restart, built-in compaction cadence every 4 waves). After
  * selected waves the FROM-SCRATCH clusters over the corpus-so-far are
  * timed (cold cuts per sample, like the sweep bench). Gates
  * (required): the final ledger-maintained assignments are ROW-IDENTICAL
  * to the from-scratch closure over the full corpus, and the per-wave
  * ledger probe joins run exchange-free once compacted.
  */
object BenchStreamClusters {

  private def scratchClusters(docs: DataFrame): DataFrame = {
    val pairs = graft.dedup.Dedup.MinHashLsh.nearDupPairsApprox(
      docs, "text", "doc_id", threshold = 0.5)
    val cc = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
    cc.withColumn("csize", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("comp"), col("csize"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_CLUSTERS.json"
    val nWaves = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-sclusters").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val bands = s"$root/bands"; val sigs = s"$root/sigs"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1

    def cycle(i: Int): Double = timed {
      val q = spark.readStream.schema("doc_id long, text string")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(NearDupStream.clusterWriter(labels, merges, bands,
          sigs, "text", "doc_id", threshold = 0.5, compactEvery = 4))
        .start()
      require(q.awaitTermination(600000), s"wave $i: no termination")
      require(q.exception.isEmpty, s"wave $i failed: ${q.exception}")
    }

    // from-scratch refresh cost over the corpus-so-far, sampled at ~1/4,
    // ~5/8, and full corpus — the series that GROWS while waves stay flat
    val scratchAt = Set(nWaves / 4, (5 * nWaves) / 8, nWaves).map(_ - 1)
    val scratchWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // wall AND executor-CPU per wave (one RunMetrics record per cycle): a
    // HOST STALL (page-zeroing, a co-tenant burning the cores, thermal
    // throttle) inflates a wave's wall but leaves its CPU in the band of
    // its neighbors; an engine regression moves both
    val waveStats = (0 until nWaves).map { b =>
      docs.filter(col("doc_id") >= b * maxId / nWaves &&
          col("doc_id") < (b + 1) * maxId / nWaves)
        .coalesce(4).write.parquet(s"$in/w$b")
      val (w, rec) = graft.obs.RunMetrics.measure(spark)(cycle(b))
      val c = rec.total(_.cpuNs) / 1e9
      if (scratchAt.contains(b)) {
        val sofar = docs.filter(col("doc_id") < (b + 1) * maxId / nWaves)
        val s = timed(graft.core.Cuts.scoped {
          scratchClusters(sofar).write.format("noop").mode("overwrite").save()
        })
        scratchWalls += ((b + 1, s))
      }
      (w, c)
    }
    val waveWalls = waveStats.map(_._1)
    val waveCpus = waveStats.map(_._2)

    // equality gate: ledger-maintained assignments ≡ from-scratch closure
    val ledgerC = NearDupStream.clusterAssignments(spark, labels, merges)
    val (nLedger, nScratch, diff) = graft.core.Cuts.scoped {
      val scratchC = graft.core.Cuts.persist(scratchClusters(docs))
      (ledgerC.count(), scratchC.count(),
        ledgerC.exceptAll(scratchC).count() +
          scratchC.exceptAll(ledgerC).count())
    }

    // state at rest (bytes): the whole cluster deployment's four ledgers
    val tail = waveWalls.drop(nWaves / 2)
    // STEADY-STATE FLATNESS: compaction-inclusive walls spike by design
    // (the wave that fires compaction pays the ledger rewrite), so the
    // flatness claim is over the NON-compaction walls — early band =
    // non-compaction waves 2..¼ (wave 1 carries JVM warmup), post band =
    // non-compaction waves AFTER the last mid-run compaction. A healthy
    // steady state has post_mean ≤ ~1.2× early_mean: each compaction
    // resets the label/merge resolution reads the fold pays, so walls
    // return to the early band instead of growing with the ledger dirs.
    val compactWaves = (0 until nWaves).filter(b => b % 4 == 3).map(_ + 1)
    val plain = waveWalls.zipWithIndex.filter { case (_, b) => b % 4 != 3 }
    // per-COMPACTION-CYCLE means of the non-compaction walls: the series
    // that must plateau. The early band is the SECOND cycle — the first
    // rides JVM warmup and a near-empty ledger, neither of which is the
    // steady state the flatness claim is about.
    val cycleMeans = plain.groupBy(_._2 / 4).toSeq.sortBy(_._1)
      .map { case (_, ws) => ws.map(_._1).sum / ws.size }
    val early = plain.filter { case (_, b) => b / 4 == 1 }.map(_._1)
    val lastMidCompact = compactWaves.filter(_ < nWaves).lastOption.getOrElse(0)
    val post = plain.filter(_._2 >= lastMidCompact).map(_._1)
    val earlyMean = if (early.nonEmpty) early.sum / early.size else -1.0
    val postMean = if (post.nonEmpty) post.sum / post.size else -1.0
    val line =
      s"""{"sf":"$sfDir","docs":$nDocs,"waves":$nWaves,""" +
      s""""wave_walls":${arr(waveWalls)},""" +
      s""""wave_cpu_s":${arr(waveCpus)},""" +
      s""""compact_waves":${compactWaves.mkString("[", ",", "]")},""" +
      s""""cycle_means":${arr(cycleMeans)},""" +
      s""""early_mean":${f"$earlyMean%.3f"},""" +
      s""""post_compaction_mean":${f"$postMean%.3f"},""" +
      s""""post_over_early":${f"${postMean / earlyMean}%.3f"},""" +
      s""""wave_wall_tail_mean":${f"${tail.sum / tail.size}%.3f"},""" +
      s""""scratch_walls":${scratchWalls.map { case (w, s) =>
        s"""{"after_wave":$w,"s":${f"$s%.3f"}}""" }.mkString("[", ",", "]")},""" +
      s""""state_bytes":{"labels":${ledgerBytes(spark, labels)},""" +
      s""""merges":${ledgerBytes(spark, merges)},"bands":${ledgerBytes(spark, bands)},""" +
      s""""sigs":${ledgerBytes(spark, sigs)}},""" +
      s""""clusters":{"ledger_rows":$nLedger,"scratch_rows":$nScratch,""" +
      s""""diff_rows":$diff}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(diff == 0 && nLedger == nScratch,
      s"ledger-maintained clusters must equal the from-scratch closure " +
        s"($nLedger vs $nScratch rows, $diff differing)")
    spark.stop()
  }
}
