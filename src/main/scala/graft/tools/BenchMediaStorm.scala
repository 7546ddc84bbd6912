package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.streaming.{IdempotentSink, MediaDedupStream}

/** Adversarial MEDIA chunk-ledger dup-storm at sf10 scale — the committed
  * evidence behind BENCH_MEDIA_STORM.json:
  * `runMain graft.tools.BenchMediaStorm [outJson]`.
  *
  * The exposure (the media twin of BENCH_BAND_STORM's): admitted
  * fingerprints are pairwise > maxHamming OVERALL, but one 16-bit CHUNK
  * value can legally coincide across any number of them — an adversary
  * fixes chunk 0's bits and randomizes the other 48 (pairwise hamming
  * ~24, every doc admitted) and the (chunk, ckey)-bucketed ledger piles
  * 50k rows into ONE bucket. The plain bucketed candidate join then
  * hamming-verifies that bucket's occupancy × probes-on-key pairs in ONE
  * task. Two-level sub-chunk keys (the batch simhash path's saturation
  * move) would NOT close this — the adversary fixes the composite
  * 28 bits instead and is still admitted on the free 36 — so the
  * mitigation is the same occupancy-gated salted join as the band
  * ledgers ([[graft.dedup.Dedup.guardedCorpusCandidates]]), which the
  * streaming media writers enable at hotChunkCap = 4096.
  *
  * Protocol: 450k benign + 50k storm fps → chunk ledger (compacted,
  * bucketed); a 5k probe wave with 500 storm-keyed docs and 100 genuine
  * hamming-2 dups of one storm doc (must reject, first_match = that
  * doc). Measured guard OFF (cap 0) vs ON (4096): admission wall,
  * verdict identity (required), and — because the inline hamming verify
  * hides the blowup from output rows and partial aggregation hides it
  * from shuffle-write metrics (verify-skill gotcha) — the DETERMINISTIC
  * per-partition row distribution of the guarded candidate join itself,
  * verify-off, exactly the frame whose layout the guard changes.
  */
object BenchMediaStorm {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("BENCH_MEDIA_STORM.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val nBenign = 450000L; val nStorm = 50000L
    val stormBase = 500000L; val probeBase = 600000L
    def stormFpOf(id: Column, salt: String): Column =
      lit(0xBEEFL).bitwiseOR(shiftleft(
        xxhash64(id, lit(salt)).bitwiseAND(lit(0xFFFFFFFFFFFFL)), 16))
    val corpusFps = spark.range(nBenign)
        .select(col("id"), xxhash64(col("id"), lit("benign")).as("fp"))
      .unionByName(spark.range(stormBase, stormBase + nStorm)
        .select(col("id"), stormFpOf(col("id"), "c").as("fp")))

    val root = Files.createTempDirectory("graft-media-storm").toString
    val chunksDir = s"$root/chunks"
    IdempotentSink.writer(chunksDir, onReplay = _ => ())(
      Dedup.fingerprintChunkRows(corpusFps, "id", "fp"), 0L)
    MediaDedupStream.compactLedger(spark, chunksDir)
    val chunks = MediaDedupStream.ledgerChunks(spark, chunksDir)

    val occ = chunks.groupBy("chunk", "ckey").agg(count(lit(1)).as("cnt"))
      .persist()
    val occRow = occ.agg(count(lit(1)), max("cnt"), avg("cnt")).head()
    occ.unpersist()

    // probe wave: 4400 benign + 100 genuine hamming-2 dups of storm doc
    // `stormBase` + 500 storm-chunked-but-distant fps
    val probe = spark.range(probeBase, probeBase + 4400)
        .select(col("id"), xxhash64(col("id"), lit("pben")).as("fp"))
      .unionByName(spark.range(probeBase + 10000, probeBase + 10100)
        .select(col("id"),
          stormFpOf(lit(stormBase), "c").bitwiseXOR(lit(3L << 30)).as("fp")))
      .unionByName(spark.range(probeBase + 20000, probeBase + 20500)
        .select(col("id"), stormFpOf(col("id"), "p").as("fp")))
      .persist()
    val probeRows = probe.count()

    def run(cap: Int): (Double, Array[(Long, Boolean, Any)]) = graft.core.Cuts.scoped {
      spark.conf.set("spark.graft.dedup.hotBandCap", cap.toString)
      val t0 = System.nanoTime()
      val v = Dedup.fingerprintAdmit(probe, "id", "fp", chunks,
          maxHamming = 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
          r.get(r.fieldIndex("first_match"))))
      ((System.nanoTime() - t0) / 1e9, v)
    }
    // the deterministic partition-layout evidence: the candidate join's
    // per-partition rows, verify-off (the blowup the wall numbers pay)
    def candPartitions(cap: Int): Seq[Long] = graft.core.Cuts.scoped {
      spark.conf.set("spark.graft.dedup.hotBandCap", cap.toString)
      val bb = Dedup.fingerprintChunkRows(probe, "id", "fp")
      val cand = Dedup.guardedCorpusCandidates(
        bb.select(col("chunk"), col("ckey"), col("id").as("bid")),
        chunks.select(col("chunk"), col("ckey"), col("id").as("mid")),
        lit(true), hotBandCap = 0, fits = true, Seq("chunk", "ckey"))
      cand.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    }

    val (wOff, vOff) = run(0)
    val (wOn, vOn) = run(4096)
    val pOff = candPartitions(0); val pOn = candPartitions(4096)
    val identical = vOff.sameElements(vOn)
    val rejected = vOn.count(!_._2)

    val line =
      s"""{"ledger_docs":${nBenign + nStorm},"storm_docs":$nStorm,""" +
      s""""probe_docs":$probeRows,""" +
      s""""occupancy":{"keys":${occRow.getLong(0)},""" +
      s""""max":${occRow.getLong(1)},""" +
      s""""mean":${f"${occRow.getDouble(2)}%.2f"}},""" +
      s""""guard_off":{"wall_s":${f"$wOff%.3f"},""" +
      s""""cand_rows":${pOff.sum},"max_partition_rows":${pOff.max}},""" +
      s""""guard_on":{"wall_s":${f"$wOn%.3f"},""" +
      s""""cand_rows":${pOn.sum},"max_partition_rows":${pOn.max}},""" +
      s""""verdicts_identical":$identical,"rejected":$rejected}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(identical, "guard must not change a single verdict")
    require(rejected >= 100, s"the planted dups must reject: $rejected")
    require(pOn.sum == pOff.sum,
      s"key-disjoint split must not change the candidate relation: " +
        s"${pOff.sum} vs ${pOn.sum}")
    require(pOn.max * 4 <= pOff.max,
      s"guard must spread the hot bucket: ${pOff.max} -> ${pOn.max}")
    spark.stop()
  }
}
