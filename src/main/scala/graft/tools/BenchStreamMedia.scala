package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.streaming.{IdempotentSink, MediaDedupStream, NearDupStream}
import graft.tools.BenchKit.{arr, dirBytes, timed}

/** Streaming multimodal (fingerprint) admission + cluster maintenance at
  * scale — the committed evidence behind BENCH_STREAM_MEDIA.json:
  * `runMain graft.tools.BenchStreamMedia [sfDir] [outJson] [waves]`.
  *
  * Claims pinned: per-wave admission walls flat while the (chunk, ckey)
  * ledger grows (waves-1)× under constant-size waves; streamed verdicts
  * byte-equal the batch-sequential [[Dedup.fingerprintAdmit]] fold
  * (exactly-once across kill/restart per wave + one checkpoint-commit
  * delete replay); ledger compaction preserves verdicts and the final
  * admission plan never reshuffles the compacted ledger; the CLUSTER
  * writer's ledger-maintained assignments equal the from-scratch
  * [[Dedup.hammingClusterEdges]] + CC closure over everything streamed.
  *
  * Fingerprints (real ImageIO dHash over the synthetic PNG fixtures) are
  * computed ONCE up front and streamed as (doc_id, dhash) waves — the
  * writer's documented contract (decode is a stateless upstream map;
  * [[MediaDedupStream.imageWriter]]'s inline-decode path is spec-covered;
  * this artifact measures the admission machinery, not ImageIO).
  */
object BenchStreamMedia {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf10")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_MEDIA.json"
    val nWaves = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-media").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val out = s"$root/out"; val chunks = s"$root/chunks"
    val labels = s"$root/labels"; val merges = s"$root/merges"
    val cchunks = s"$root/cchunks"

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fps = Multimodal.dHashTable(spark,
      Multimodal.syntheticPngTable(spark, docs)).persist()
    val nDocs = fps.count()
    val maxId = fps.agg(max("doc_id")).head().getLong(0) + 1

    def waveOf(b: Int): DataFrame =
      fps.filter(col("doc_id") >= b * maxId / nWaves &&
        col("doc_id") < (b + 1) * maxId / nWaves)

    def cycle(i: Int): Double = timed {
      val q = spark.readStream.schema("doc_id long, dhash long")
        .parquet(s"$in/*")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(MediaDedupStream.writer(out, chunks,
          "doc_id", "dhash", compactEvery = 4))
        .start()
      require(q.awaitTermination(600000), s"wave $i: no termination")
      require(q.exception.isEmpty, s"wave $i failed: ${q.exception}")
      // back-to-back AvailableNow cycles race the old query's
      // deregistration (SparkConcurrentModificationException on the
      // shared checkpoint commit log) — drain the active list before
      // returning
      while (spark.streams.active.nonEmpty) Thread.sleep(50)
    }

    val waveWalls = (0 until nWaves).map { b =>
      waveOf(b).coalesce(4).write.parquet(s"$in/w$b")
      val w = cycle(b) // fresh AvailableNow query per wave = kill-and-restart
      System.err.println(f"[media] wave $b done $w%.2f s")
      w
    }

    // checkpoint-commit delete replay: the newest batch re-runs; markers
    // make it a no-op
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    require(new java.io.File(s"$ckpt/commits/${commits.max}").delete())
    // the CRC sidecar must go with it: a stale checksum makes the
    // replayed commit read back "differently", which Spark 4 reports as
    // a concurrent writer on the commit log
    new java.io.File(s"$ckpt/commits/.${commits.max}.crc").delete()
    val idsBefore = IdempotentSink.committedBatches(spark, out)
    val replayS = timed(cycle(nWaves))
    require(IdempotentSink.committedBatches(spark, out) == idsBefore,
      "replay appended data")

    // batch-sequential parity gate
    val streamed = MediaDedupStream.verdicts(spark, out)
      .select("doc_id", "admitted", "first_match")
    val (diff, nStream, nSeq, admitted) = graft.core.Cuts.scoped {
      var ledger = Dedup.fingerprintChunkRows(
        fps.filter(lit(false)), "doc_id", "dhash")
      var seq: DataFrame = null
      (0 until nWaves).foreach { b =>
        val w = waveOf(b)
        val v = graft.core.Cuts.persist(
          Dedup.fingerprintAdmit(w, "doc_id", "dhash", ledger))
        seq = if (seq == null) v else seq.unionByName(v)
        ledger = ledger.unionByName(Dedup.fingerprintChunkRows(
          w.join(v.filter(col("admitted")).select("doc_id"), Seq("doc_id")),
          "doc_id", "dhash")).localCheckpoint()
      }
      (streamed.exceptAll(seq).count() + seq.exceptAll(streamed).count(),
        streamed.count(), seq.count(), streamed.filter(col("admitted")).count())
    }

    // final compaction + the never-reshuffles plan gate
    val compactS = timed {
      require(MediaDedupStream.compactLedger(spark, chunks).isDefined) }
    val probe = Dedup.fingerprintAdmit(waveOf(0), "doc_id", "dhash",
      MediaDedupStream.ledgerChunks(spark, chunks))
    probe.write.format("noop").mode("overwrite").save()
    import org.apache.spark.sql.execution._
    def isLedgerRows(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec => f.toString.contains("graft_ledger_")
      case _: ProjectExec | _: FilterExec | _: UnionExec |
           _: ColumnarToRowExec | _: InputAdapter |
           _: WholeStageCodegenExec => p.children.exists(isLedgerRows)
      case _ => false
    }
    def anyReshuffle(p: SparkPlan): Boolean =
      p.exists {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          isLedgerRows(e.child)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          anyReshuffle(q.plan)
        case _ => false
      }
    val ledgerReshuffled = anyReshuffle(probe.queryExecution.executedPlan)

    // cluster writer: ledger-maintained assignments ≡ from-scratch closure
    val cw = MediaDedupStream.clusterWriter(labels, merges, cchunks,
      "doc_id", "dhash", compactEvery = 4)
    val clusterWalls = (0 until nWaves).map { b =>
      timed(cw(waveOf(b), b.toLong)) }
    val ledgerClusters = NearDupStream
      .clusterAssignments(spark, labels, merges)
    val scratch = {
      val pairs = Dedup.hammingClusterEdges(fps, "doc_id", "dhash",
        maxHamming = 3)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .toDF("doc_id", "comp")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
      cc.withColumn("csize", count(lit(1)).over(w))
        .select("doc_id", "comp", "csize")
    }
    val cDiff = ledgerClusters.exceptAll(scratch).count() +
      scratch.exceptAll(ledgerClusters).count()
    val nLedgerC = ledgerClusters.count(); val nScratchC = scratch.count()

    val line =
      s"""{"sf":"$sfDir","docs":$nDocs,"waves":$nWaves,""" +
      s""""admission":{"wave_walls":${arr(waveWalls)},""" +
      s""""replay_s":${f"$replayS%.3f"},"compact_s":${f"$compactS%.3f"},""" +
      s""""verdicts":$nStream,"admitted":$admitted,""" +
      s""""batch_equal":${diff == 0 && nStream == nSeq},""" +
      s""""ledger_reshuffled":$ledgerReshuffled,""" +
      s""""chunks_bytes":${dirBytes(chunks)}},""" +
      s""""clusters":{"wave_walls":${arr(clusterWalls)},""" +
      s""""ledger_rows":$nLedgerC,"scratch_rows":$nScratchC,""" +
      s""""diff_rows":$cDiff}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(diff == 0 && nStream == nSeq,
      "streamed verdicts must equal the batch-sequential fold")
    require(!ledgerReshuffled, "compacted chunk ledger must never reshuffle")
    require(cDiff == 0 && nLedgerC == nScratchC,
      "ledger clusters must equal the from-scratch closure")
    spark.stop()
  }
}
