package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Bm25Stream
import graft.text.Retrieval
import graft.tools.BenchKit.{arr, ledgerBytes, timed}

/** Streaming BM25 index maintenance vs from-scratch retrieval — the
  * committed evidence behind BENCH_STREAM_BM25.json:
  * `runMain graft.tools.BenchStreamRetrieval [sfDir] [outJson] [waves]`.
  *
  * The claims this artifact pins:
  *  1. per-wave INDEX cost ([[Bm25Stream.writer]]: tokenize + wave-sized
  *     groupBy + three ledger appends) is flat in corpus size — wave N
  *     costs what wave 1 did;
  *  2. per-wave QUERY cost against the maintained index
  *     ([[Bm25Stream.score]]: the query terms' postings + the slim stats
  *     join + the tiny totals ledger) stays flat while the from-scratch
  *     alternative ([[Retrieval.bm25]], which must re-tokenize and re-scan
  *     the ENTIRE corpus per query — the only shape a batch-only engine
  *     offers) grows linearly with everything ingested so far.
  *
  * Protocol: `waves` id-range waves of `documents` streamed through the
  * writer (fresh AvailableNow query per wave = kill-and-restart; built-in
  * compaction cadence every 4 waves). After EVERY wave the ledger query is
  * timed; after selected waves the from-scratch query over the
  * corpus-so-far is timed (cold cuts per sample). Gate
  * (required): final ledger scores ROW-IDENTICAL to from-scratch over the
  * full corpus — same doubles, same order.
  */
object BenchStreamRetrieval {

  /** min-of-2 for the QUERY samples: the host stalls in multi-second
    * waves under sustained load (see Bench's noise-gate rationale) and a
    * single inflated sample mis-tells the flat-vs-growing story this
    * artifact exists to pin; two samples with a min discards one stall. */
  private def timed2(f: => Unit): Double = math.min(timed(f), timed(f))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_BM25.json"
    val nWaves = if (args.length > 2) args(2).toInt else 8
    val terms = Seq("spark", "merge", "stream")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-bm25").toString
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    val p = s"$root/postings"; val st = s"$root/stats"; val t = s"$root/totals"

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
        .foreachBatch(Bm25Stream.writer(p, st, t, "text", "doc_id",
          compactEvery = 4))
        .start()
      require(q.awaitTermination(600000), s"wave $i: no termination")
      require(q.exception.isEmpty, s"wave $i failed: ${q.exception}")
    }

    def ledgerQuery(ts: Seq[String]): Unit =
      Bm25Stream.score(spark, p, st, t, ts)
        .write.format("noop").mode("overwrite").save()

    // two query profiles: the q92-parity terms hit ~96% of the synthetic
    // corpus (both paths then pay the same output-sized scoring — the
    // index saves only the corpus tokenize), while the SELECTIVE term
    // ('dup', ~0.4% of docs) is the inverted index's actual use case: the
    // ledger read is one bucket-pruned posting list, the from-scratch
    // path still tokenizes and scans everything ingested so far
    val selTerms = Seq("dup")
    val scratchAt = Set(nWaves / 4, (5 * nWaves) / 8, nWaves).map(_ - 1)
    val scratchWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val selScratchWalls =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val waveWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val queryWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val selQueryWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until nWaves).foreach { b =>
      docs.filter(col("doc_id") >= b * maxId / nWaves &&
          col("doc_id") < (b + 1) * maxId / nWaves)
        .coalesce(4).write.parquet(s"$in/w$b")
      waveWalls += cycle(b)
      queryWalls += timed2(ledgerQuery(terms))
      selQueryWalls += timed2(ledgerQuery(selTerms))
      if (scratchAt.contains(b)) {
        val sofar = docs.filter(col("doc_id") < (b + 1) * maxId / nWaves)
        def scratch(ts: Seq[String]): Double =
          timed2(graft.core.Cuts.scoped {
            Retrieval.bm25(sofar, "text", "doc_id", ts)
              .write.format("noop").mode("overwrite").save()
          })
        scratchWalls += ((b + 1, scratch(terms)))
        selScratchWalls += ((b + 1, scratch(selTerms)))
      }
    }

    // equality gate: ledger scores ≡ from-scratch over the full corpus
    val ledgerRows = Bm25Stream.score(spark, p, st, t, terms)
      .collect().toSeq.map(_.toSeq)
    val scratchRows = Retrieval.bm25(docs, "text", "doc_id", terms)
      .collect().toSeq.map(_.toSeq)

    val line =
      s"""{"sf":"$sfDir","docs":$nDocs,"waves":$nWaves,""" +
      s""""terms":${terms.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""wave_walls":${arr(waveWalls.toSeq)},""" +
      s""""ledger_query_walls":${arr(queryWalls.toSeq)},""" +
      s""""scratch_query_walls":${scratchWalls.map { case (w, s) =>
        s"""{"after_wave":$w,"s":${f"$s%.3f"}}""" }.mkString("[", ",", "]")},""" +
      s""""sel_terms":${selTerms.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sel_ledger_query_walls":${arr(selQueryWalls.toSeq)},""" +
      s""""sel_scratch_query_walls":${selScratchWalls.map { case (w, s) =>
        s"""{"after_wave":$w,"s":${f"$s%.3f"}}""" }.mkString("[", ",", "]")},""" +
      s""""state_bytes":{"postings":${ledgerBytes(spark, p)},""" +
      s""""stats":${ledgerBytes(spark, st)},"totals":${ledgerBytes(spark, t)}},""" +
      s""""output":{"ledger_rows":${ledgerRows.length},""" +
      s""""scratch_rows":${scratchRows.length},""" +
      s""""identical":${ledgerRows == scratchRows}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(ledgerRows == scratchRows,
      s"ledger scores must equal the from-scratch run " +
        s"(${ledgerRows.length} vs ${scratchRows.length} rows)")
    spark.stop()
  }
}
