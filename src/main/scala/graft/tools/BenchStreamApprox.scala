package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IdempotentSink, NearDupStream}
import graft.tools.BenchKit.{arr, ledgerBytes, timed}

/** Exact-vs-approximate streaming near-dup admission on the SAME waves —
  * the committed evidence behind BENCH_STREAM_APPROX.json:
  * `runMain graft.tools.BenchStreamApprox [sfDir] [outJson]`.
  *
  * The claim this artifact pins: [[NearDupStream.approxWriter]]'s
  * signature-only mode removes the one state component of exact-verify
  * admission that scales with corpus TOKENS — the shingle-set ledger —
  * at equal wave protocol. Both modes stream the identical 6 id-range
  * waves of `documents` (fresh AvailableNow query per wave = a
  * kill-and-restart cycle), compact mid-run and at the end, and report:
  *
  *  - per-wave walls (approx runs FIRST, so one-time JVM/codegen warmup
  *    lands on the approx side — any approx win is understated);
  *  - total at-rest ledger bytes per mode, batch dirs PLUS the active
  *    compacted generation's table directory (band ledger vs band
  *    ledger, and the exact mode's sset ledger vs the approx mode's
  *    256 B/doc sig ledger — the headline comparison);
  *  - verdict agreement between the modes (the estimator is
  *    approximate BY CONTRACT — banding recall < 1 and agreement/32
  *    estimates jaccard — so this is reported, not gated).
  *
  * Gates (required): both modes' ledgers join exchange-free once
  * compacted, and each mode's verdict count covers every doc exactly
  * once.
  */
object BenchStreamApprox {

  private def ledgerExchangeFree(df: DataFrame): Boolean = {
    df.write.format("noop").mode("overwrite").save()
    !df.queryExecution.executedPlan.exists {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.exists {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.toString.contains("graft_ledger_")
          case _ => false
        }
      case _ => false
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_APPROX.json"
    // optional 3rd arg: concatenate groups of N fixture docs into one
    // long document each (same corpus tokens, N× the tokens per doc) —
    // the sf fixtures' ~300-token docs UNDERSTATE the sset-vs-sig state
    // gap, which is linear in document length (signatures are fixed
    // 256 B; shingle sets are O(tokens)); real training corpora run
    // 1k-100k tokens/doc
    val groupN = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-sapprox").toString

    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs =
      if (groupN <= 1) raw
      else raw.groupBy((col("doc_id") / groupN).cast("long").as("doc_id"))
        .agg(concat_ws(" ", sort_array(collect_list(
          struct(col("doc_id").as("o"), col("text").as("t"))))
          .getField("t")).as("text"))
    val nDocs = docs.count()
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    val nWaves = 6

    /** One mode's full run: the BenchStream section-C protocol — waves
      * land incrementally under one glob-watched input dir (identical
      * id-range splits per mode, so identical bytes stream through both
      * modes), one fresh AvailableNow query per wave (= a
      * kill-and-restart cycle over a shared checkpoint), mid-run + final
      * compactions. Returns (waveWalls, compact walls). */
    def runMode(tag: String, in: String, ckpt: String,
        writerFn: (DataFrame, Long) => Unit,
        compactFn: () => Unit): (Seq[Double], Double, Double) = {
      def cycle(i: Int): Double = timed {
        val q = spark.readStream.schema("doc_id long, text string")
          .parquet(s"$in/*")
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(writerFn)
          .start()
        require(q.awaitTermination(600000), s"$tag wave $i: no termination")
        require(q.exception.isEmpty, s"$tag wave $i failed: ${q.exception}")
      }
      var c1 = 0.0
      val walls = (0 until nWaves).map { b =>
        docs.filter(col("doc_id") >= b * maxId / nWaves &&
            col("doc_id") < (b + 1) * maxId / nWaves)
          .coalesce(4).write.parquet(s"$in/w$b")
        val w = cycle(b)
        if (b == 2) c1 = timed(compactFn())
        w
      }
      val c2 = timed(compactFn())
      (walls, c1, c2)
    }

    // ---- approx (signature-only) first: warmup lands here ----------------
    val outA = s"$root/outA"; val bandsA = s"$root/bandsA"
    val sigsA = s"$root/sigsA"
    val (approxWalls, ac1, ac2) = runMode("approx", s"$root/inA", s"$root/ckptA",
      NearDupStream.approxWriter(outA, bandsA, sigsA, "text", "doc_id",
        threshold = 0.5),
      () => {
        val (tb, ts) = NearDupStream.compactLedgersApprox(spark, bandsA, sigsA)
        require(tb.isDefined && ts.isDefined, "approx compaction must land")
      })

    // ---- exact (sset-verified) on the identical waves ---------------------
    val outE = s"$root/outE"; val bandsE = s"$root/bandsE"
    val setsE = s"$root/setsE"
    val (exactWalls, ec1, ec2) = runMode("exact", s"$root/inE", s"$root/ckptE",
      NearDupStream.writer(outE, bandsE, setsE, "text", "doc_id",
        threshold = 0.5),
      () => {
        val (tb, ts) = NearDupStream.compactLedgers(spark, bandsE, setsE)
        require(tb.isDefined && ts.isDefined, "exact compaction must land")
      })

    // ---- state + verdict comparison ---------------------------------------
    val aBands = ledgerBytes(spark, bandsA); val aSigs = ledgerBytes(spark, sigsA)
    val eBands = ledgerBytes(spark, bandsE); val eSets = ledgerBytes(spark, setsE)
    val vA = NearDupStream.verdicts(spark, outA)
      .select(col("doc_id"), col("admitted").as("adm_a"))
    val vE = NearDupStream.verdicts(spark, outE)
      .select(col("doc_id"), col("admitted").as("adm_e"))
    val nA = vA.count(); val nE = vE.count()
    require(nA == nDocs && nE == nDocs,
      s"every doc needs exactly one verdict per mode: $nA/$nE vs $nDocs")
    val joined = vA.join(vE, Seq("doc_id"))
    val agree = joined.filter(col("adm_a") === col("adm_e")).count()
    val admittedA = vA.filter(col("adm_a")).count()
    val admittedE = vE.filter(col("adm_e")).count()
    // plan gates: both modes' compacted ledgers join exchange-free
    val probeA = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedgerApprox(
      docs.limit(1000), "text", "doc_id",
      NearDupStream.ledgerBandsApprox(spark, bandsA),
      NearDupStream.ledgerSigs(spark, sigsA), threshold = 0.5)
    val probeE = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger(
      docs.limit(1000), "text", "doc_id",
      NearDupStream.ledgerBands(spark, bandsE),
      NearDupStream.ledgerSets(spark, setsE), threshold = 0.5)
    val xfA = ledgerExchangeFree(probeA)
    val xfE = ledgerExchangeFree(probeE)

    // ---- estimator-agreement threshold sweep (batch A/B) ------------------
    // Quantifies the approx mode's verify-stage contract across thresholds
    // so a deployment can budget it: both modes run the one-batch
    // admission shape (even ids = corpus, odd = batch) at each t, and the
    // disagreements split into their two classes. BOTH MODES SHARE THE
    // BANDING (identical signatures → identical candidate pairs), so a
    // disagreement is NEVER a band miss — it is always the estimator
    // disagreeing with exact Jaccard on a shared-band candidate:
    //   false_reject (approx rejects, exact admits) = estimator
    //     OVER-estimated some candidate past t;
    //   false_admit (approx admits, exact rejects) = estimator
    //     UNDER-estimated every ≥-t candidate.
    // (DedupSpec pins the class structure per disagreement doc.)
    // (skipped on grouped/long-doc runs — the contract is per-verdict,
    // doc length doesn't change it; the base artifact carries the table)
    val sweep = (if (groupN > 1) Seq.empty[Double]
      else Seq(0.5, 0.7, 0.8, 0.9)).map { t =>
      graft.core.Cuts.scoped {
        val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val ve = graft.dedup.Dedup.MinHashLsh.nearDupIncremental(
          batch, corpus, "text", "doc_id", t)
          .select(col("doc_id"), col("admitted").as("adm_e"))
        val va = graft.dedup.Dedup.MinHashLsh.nearDupIncrementalApprox(
          batch, corpus, "text", "doc_id", t)
          .select(col("doc_id"), col("admitted").as("adm_a"))
        val j = ve.join(va, Seq("doc_id"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("adm_a") === col("adm_e"), 1).otherwise(0)).as("agree"),
            sum(when(col("adm_a") && !col("adm_e"), 1).otherwise(0)).as("fa"),
            sum(when(!col("adm_a") && col("adm_e"), 1).otherwise(0)).as("fr"))
          .head()
        val n = j.getAs[Long]("n").toDouble
        s"""{"t":$t,"docs":${j.getAs[Long]("n")},""" +
          s""""agreement":${f"${j.getAs[Long]("agree") / n}%.6f"},""" +
          s""""false_admit":${j.getAs[Long]("fa")},""" +
          s""""false_reject":${j.getAs[Long]("fr")}}"""
      }
    }.mkString("[", ",", "]")

    val line =
      s"""{"sf":"$sfDir","docs":$nDocs,"doc_group":$groupN,"waves":$nWaves,""" +
      s""""approx":{"wave_walls":${arr(approxWalls)},""" +
      s""""compact1_s":${f"$ac1%.3f"},"compact2_s":${f"$ac2%.3f"},""" +
      s""""bands_bytes":$aBands,"sigs_bytes":$aSigs,""" +
      s""""state_bytes":${aBands + aSigs},"admitted":$admittedA,""" +
      s""""ledgers_exchange_free":$xfA},""" +
      s""""exact":{"wave_walls":${arr(exactWalls)},""" +
      s""""compact1_s":${f"$ec1%.3f"},"compact2_s":${f"$ec2%.3f"},""" +
      s""""bands_bytes":$eBands,"sets_bytes":$eSets,""" +
      s""""state_bytes":${eBands + eSets},"admitted":$admittedE,""" +
      s""""ledgers_exchange_free":$xfE},""" +
      s""""verdict_agreement":${f"${agree.toDouble / nDocs}%.6f"},""" +
      s""""verify_state_ratio":${f"${eSets.toDouble / math.max(aSigs, 1)}%.3f"},""" +
      s""""threshold_sweep":$sweep}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(xfA && xfE, "compacted ledgers must join exchange-free")
    spark.stop()
  }
}
