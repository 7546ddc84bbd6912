package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.SemanticDedup
import graft.similarity.Ann
import graft.streaming.SemanticStream
import graft.tools.BenchKit.{arr, ledgerBytes, timed}

/** Incremental SEMANTIC dedup maintenance vs from-scratch SemDeDup — the
  * committed evidence behind BENCH_STREAM_SEMANTIC.json:
  * `runMain graft.tools.BenchStreamSemantic [sfDir] [outJson] [waves]`.
  *
  * The claim this artifact pins: [[SemanticStream.writer]] keeps
  * q91-shaped semantic-dedup output current per wave at a cost that grows
  * only with the wave's NEW distinct vectors times within-cell ledger
  * density (identical arrivals exit through the fingerprint ledger
  * without any pairwise), while the from-scratch alternative — re-running
  * SemDeDup over everything ingested so far, which is what a batch-only
  * consumer must do per refresh — re-assigns and re-pairs the ENTIRE
  * corpus each time (within-cell pair volume ~n²/cells, so the refresh
  * series grows quadratically while the per-wave series grows ~linearly).
  *
  * Protocol: `waves` id-range waves of `embeddings` streamed through
  * [[SemanticStream.writer]] against FROZEN stride centroids (persisted
  * once — the frozen-coordinate-system deployment shape; both paths use
  * the same frame, so the equality gate is exact). Fresh AvailableNow
  * query per wave = kill-and-restart; built-in compaction cadence every
  * 4 waves. After selected waves the from-scratch SemDeDup over the
  * corpus-so-far is timed (cold cuts per sample). Gate
  * (required): the final ledger-derived (vec_id, cluster, centroid_sim,
  * keep) rows are ROW-IDENTICAL to the from-scratch run over the full
  * corpus.
  */
object BenchStreamSemantic {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf10")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_SEMANTIC.json"
    val nWaves = if (args.length > 2) args(2).toInt else 8
    val threshold = 0.4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-semantic").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val members = s"$root/members"; val reps = s"$root/reps"
    val fps = s"$root/fps"

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val nVecs = emb.count()
    val maxId = emb.agg(max("vec_id")).head().getLong(0) + 1
    // the frozen coordinate system, persisted once: every wave's argmax
    // kernel collects it, and a deployment trains/draws centroids ONCE
    val cent = Ann.strideCentroids(emb).persist()
    cent.count()

    def scratch(sofar: DataFrame): DataFrame =
      SemanticDedup.fromIndex(
        Ann.indexWithCentroids(sofar, cent), threshold)

    def cycle(i: Int): Double = timed {
      val q = spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(SemanticStream.writer(labels, merges, members, reps,
          fps, "embedding", "vec_id", cent, threshold, compactEvery = 4))
        .start()
      require(q.awaitTermination(600000), s"wave $i: no termination")
      require(q.exception.isEmpty, s"wave $i failed: ${q.exception}")
    }

    // from-scratch refresh cost over the corpus-so-far, sampled at ~1/4,
    // ~5/8, and full corpus — the series that grows ~quadratically while
    // per-wave folds grow ~linearly
    val scratchAt = Set(nWaves / 4, (5 * nWaves) / 8, nWaves).map(_ - 1)
    val scratchWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val waveWalls = (0 until nWaves).map { b =>
      emb.filter(col("vec_id") >= b * maxId / nWaves &&
          col("vec_id") < (b + 1) * maxId / nWaves)
        .coalesce(4).write.parquet(s"$in/w$b")
      val w = cycle(b)
      if (scratchAt.contains(b)) {
        val sofar = emb.filter(col("vec_id") < (b + 1) * maxId / nWaves)
        val s = timed(graft.core.Cuts.scoped {
          scratch(sofar).write.format("noop").mode("overwrite").save()
        })
        scratchWalls += ((b + 1, s))
      }
      w
    }

    // equality gate: ledger-derived output ≡ from-scratch SemDeDup
    val ledgerC = SemanticStream.semanticAssignments(
      spark, members, labels, merges)
    val (nLedger, nScratch, diff) = graft.core.Cuts.scoped {
      val scratchC = graft.core.Cuts.persist(scratch(emb))
      (ledgerC.count(), scratchC.count(),
        ledgerC.exceptAll(scratchC).count() +
          scratchC.exceptAll(ledgerC).count())
    }

    // state at rest (bytes): the five-ledger semantic deployment
    val line =
      s"""{"sf":"$sfDir","vecs":$nVecs,"waves":$nWaves,""" +
      s""""threshold":$threshold,""" +
      s""""wave_walls":${arr(waveWalls)},""" +
      s""""scratch_walls":${scratchWalls.map { case (w, s) =>
        s"""{"after_wave":$w,"s":${f"$s%.3f"}}""" }.mkString("[", ",", "]")},""" +
      s""""state_bytes":{"labels":${ledgerBytes(spark, labels)},""" +
      s""""merges":${ledgerBytes(spark, merges)},"members":${ledgerBytes(spark, members)},""" +
      s""""reps":${ledgerBytes(spark, reps)},"fps":${ledgerBytes(spark, fps)}},""" +
      s""""output":{"ledger_rows":$nLedger,"scratch_rows":$nScratch,""" +
      s""""diff_rows":$diff}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(diff == 0 && nLedger == nScratch,
      s"ledger-derived semantic output must equal the from-scratch run " +
        s"($nLedger vs $nScratch rows, $diff differing)")
    spark.stop()
  }
}
