package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.obs.RunMetrics
import graft.streaming.{IdempotentSink, NearDupStream}

/** Adversarial band-ledger dup-storm at sf10 scale — the committed
  * evidence behind BENCH_BAND_STORM.json:
  * `runMain graft.tools.BenchBandStorm [outJson]`.
  *
  * The exposure this artifact measures: unlike the media family's
  * admitted-fingerprint ledger (pairwise > maxHamming by construction →
  * identical keys structurally impossible), ADMITTED text docs can
  * legally share a minhash band key while estimating below the
  * admission threshold — an adversary plants near-identical-but-distinct
  * docs (one full band of 4 shared minima, everything else distinct →
  * agreement 4/32, all admitted) and the band ledger piles them into ONE
  * (band, bkey) bucket. The plain bucketed candidate join then emits
  * that bucket's candidates (occupancy × probes-on-key) from ONE task.
  *
  * Protocol: 450k benign sigs + 50k storm sigs sharing band 0 → ledger
  * (compacted, bucketed); a 5k probe wave with 500 storm-keyed docs (100
  * of them genuine near-dups that must reject). Admission runs once with
  * `spark.graft.dedup.hotBandCap=0` (guard OFF — the naked exposure) and
  * once at the default cap (guard ON — hot keys leave the bucketed join
  * for the salted spread). Gates (required): identical verdicts, and the
  * guard cuts the worst per-task candidate emission by ≥ 4×.
  */
object BenchBandStorm {

  /** (maxTaskShuffleRecords, straggler ratio of the CANDIDATE stage):
    * the stage writing the most shuffle records is the candidate
    * emission; its straggler ratio is max/median duration over the
    * tasks that actually wrote records (empty partitions would make any
    * median meaningless). */
  def skew(rec: RunMetrics.Record): (Long, Double) = {
    val stages = rec.stages
    val maxRecs = if (stages.isEmpty) 0L else stages.map(_.maxTaskShuffleWriteRecords).max
    val ratio = stages.sortBy(-_.shuffleWriteRecords).headOption.map { s =>
      val busy = s.writerRunMs.map(_.toDouble).sorted
      if (busy.length < 2) 1.0
      else busy.last / math.max(1.0, busy(busy.length / 2))
    }.getOrElse(1.0)
    (maxRecs, ratio)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("BENCH_BAND_STORM.json")
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
    // one shared band (4 minima) → every storm pair agrees 4/32 = 0.125 <
    // 0.5 → all ADMITTED, all sharing one (band=0, bkey)
    def stormHead(i: Column): Column = xxhash64(lit("storm"), i)
    def sig(salt: String, head: Option[Column => Column] = None,
        mid20From: Option[Long] = None): Column =
      transform(sequence(lit(1), lit(32)), i =>
        head.map(h => when(i <= 4, h(i))).getOrElse(when(lit(false), lit(0L)))
          .otherwise(mid20From match {
            case Some(src) => when(i <= 20, xxhash64(lit(src), i, lit("s")))
              .otherwise(xxhash64(col("id"), i, lit(salt)))
            case None => xxhash64(col("id"), i, lit(salt))
          }))
    val benign = spark.range(nBenign)
      .select(col("id"), sig("n").as("sig"))
    val storm = spark.range(stormBase, stormBase + nStorm)
      .select(col("id"), sig("s", Some(stormHead)).as("sig"))
    val corpusSk = benign.unionByName(storm)

    // ledger: one committed batch, then compaction → (band,bkey)-bucketed
    val root = Files.createTempDirectory("graft-band-storm").toString
    val bandsDir = s"$root/bands"; val sigsDir = s"$root/sigs"
    IdempotentSink.writer(bandsDir, onReplay = _ => ())(
      Dedup.MinHashLsh.bandRowsOfSigs(
        corpusSk.select(col("id"), col("sig"))), 0L)
    IdempotentSink.writer(sigsDir, onReplay = _ => ())(
      corpusSk.select("id", "sig"), 0L)
    NearDupStream.compactLedgersApprox(spark, bandsDir, sigsDir)
    val bands = NearDupStream.ledgerBandsApprox(spark, bandsDir)
    val sigs = NearDupStream.ledgerSigs(spark, sigsDir)

    // band-key occupancy histogram of the ledger at rest
    val occ = bands.groupBy("band", "bkey").agg(count(lit(1)).as("cnt"))
      .persist()
    val occRow = occ.agg(count(lit(1)), max("cnt"), avg("cnt")).head()
    val top10 = occ.orderBy(col("cnt").desc).limit(10)
      .select("cnt").collect().map(_.getLong(0)).toSeq
    occ.unpersist()

    // probe wave: 4400 benign + 100 genuine near-dups of storm doc
    // `stormBase` (20/32 shared → must reject, first_match = stormBase)
    // + 500 storm-keyed-but-distinct docs (4/32 → admitted, but their
    // band-0 key probes the 50k-row hot bucket)
    val probe = spark.range(probeBase, probeBase + 4400)
        .select(col("id"), sig("p").as("sig"))
      .unionByName(spark.range(probeBase + 10000, probeBase + 10100)
        .select(col("id"),
          sig("p", Some(stormHead), Some(stormBase)).as("sig")))
      .unionByName(spark.range(probeBase + 20000, probeBase + 20500)
        .select(col("id"), sig("p", Some(stormHead)).as("sig")))
      .persist()
    val probeRows = probe.count()

    def run(cap: Int): (Double, Long, Double, Array[(Long, Boolean, Any)]) = graft.core.Cuts.scoped {
      spark.conf.set("spark.graft.dedup.hotBandCap", cap.toString)
      val (v, rec) = RunMetrics.measure(spark) {
        Dedup.MinHashLsh.nearDupAdmitApproxSketched(
            probe, bands, sigs, threshold = 0.5)
          .orderBy("doc_id")
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
            r.get(r.fieldIndex("first_match"))))
      }
      val (maxRecs, ratio) = skew(rec)
      (rec.wallS, maxRecs, ratio, v)
    }

    val (wOff, recsOff, ratioOff, vOff) = run(0)
    val (wOn, recsOn, ratioOn, vOn) = run(4096)
    val identical = vOff.sameElements(vOn)
    val rejected = vOn.count(!_._2)

    // --- EXACT path: same storm, same guard, Jaccard-verified ledgers ---
    // (admitted docs share the band key below the JACCARD threshold just
    // as legally: the storm's 4 shared minima imply nothing about set
    // overlap, so the exact band ledger piles up the same hot bucket —
    // the exposure NearDupStream.writer/clusterWriterExact guard at 4096)
    // 40-element shingle sets: per-doc distinct except the 100 genuine
    // near-dup probes, which copy 30 of storm doc `stormBase`'s elements
    // (jaccard 30/50 = 0.6 ≥ 0.5 → must reject, first_match = stormBase)
    def sset(salt: String, sharedWithStorm0: Int = 0): Column =
      array_sort(transform(sequence(lit(1), lit(40)), j =>
        when(j <= sharedWithStorm0, xxhash64(lit(stormBase), j, lit("cset")))
          .otherwise(xxhash64(col("id"), j, lit(salt + "set")))))
    val corpusSkE = spark.range(nBenign)
        .select(col("id"), sig("n").as("sig"), sset("c").as("sset"))
      .unionByName(spark.range(stormBase, stormBase + nStorm)
        .select(col("id"), sig("s", Some(stormHead)).as("sig"),
          sset("c").as("sset")))
      .withColumn("sz", size(col("sset")))
    val bandsDirE = s"$root/bandsE"; val setsDirE = s"$root/setsE"
    IdempotentSink.writer(bandsDirE, onReplay = _ => ())(
      Dedup.MinHashLsh.bandRowsOf(corpusSkE.select("id", "sig", "sz")), 0L)
    IdempotentSink.writer(setsDirE, onReplay = _ => ())(
      corpusSkE.select("id", "sset"), 0L)
    NearDupStream.compactLedgers(spark, bandsDirE, setsDirE)
    val bandsE = NearDupStream.ledgerBands(spark, bandsDirE)
    val setsE = NearDupStream.ledgerSets(spark, setsDirE)
    val probeE = spark.range(probeBase, probeBase + 4400)
        .select(col("id"), sig("p").as("sig"), sset("p").as("sset"))
      .unionByName(spark.range(probeBase + 10000, probeBase + 10100)
        .select(col("id"), sig("p", Some(stormHead)).as("sig"),
          sset("p", sharedWithStorm0 = 30).as("sset")))
      .unionByName(spark.range(probeBase + 20000, probeBase + 20500)
        .select(col("id"), sig("p", Some(stormHead)).as("sig"),
          sset("p").as("sset")))
      .withColumn("sz", size(col("sset")))
      .persist()
    probeE.count()

    def runExact(cap: Int): (Double, Long, Double, Array[(Long, Boolean, Any)]) = graft.core.Cuts.scoped {
      spark.conf.set("spark.graft.dedup.hotBandCap", cap.toString)
      val (v, rec) = RunMetrics.measure(spark) {
        Dedup.MinHashLsh.nearDupAdmitSketched(
            probeE, probeE, bandsE, setsE, threshold = 0.5)
          .orderBy("doc_id")
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
            r.get(r.fieldIndex("first_match"))))
      }
      val (maxRecs, ratio) = skew(rec)
      (rec.wallS, maxRecs, ratio, v)
    }

    val (wOffE, recsOffE, ratioOffE, vOffE) = runExact(0)
    val (wOnE, recsOnE, ratioOnE, vOnE) = runExact(4096)
    val identicalE = vOffE.sameElements(vOnE)
    val rejectedE = vOnE.count(!_._2)

    val line =
      s"""{"ledger_docs":${nBenign + nStorm},"storm_docs":$nStorm,""" +
      s""""probe_docs":$probeRows,""" +
      s""""occupancy":{"keys":${occRow.getLong(0)},""" +
      s""""max":${occRow.getLong(1)},""" +
      s""""mean":${f"${occRow.getDouble(2)}%.2f"},""" +
      s""""top10":${top10.mkString("[", ",", "]")}},""" +
      s""""guard_off":{"wall_s":${f"$wOff%.3f"},""" +
      s""""max_task_cand_rows":$recsOff,""" +
      s""""worst_stage_skew":${f"$ratioOff%.1f"}},""" +
      s""""guard_on":{"wall_s":${f"$wOn%.3f"},""" +
      s""""max_task_cand_rows":$recsOn,""" +
      s""""worst_stage_skew":${f"$ratioOn%.1f"}},""" +
      s""""verdicts_identical":$identical,"rejected":$rejected,""" +
      s""""exact":{""" +
      s""""guard_off":{"wall_s":${f"$wOffE%.3f"},""" +
      s""""max_task_cand_rows":$recsOffE,""" +
      s""""worst_stage_skew":${f"$ratioOffE%.1f"}},""" +
      s""""guard_on":{"wall_s":${f"$wOnE%.3f"},""" +
      s""""max_task_cand_rows":$recsOnE,""" +
      s""""worst_stage_skew":${f"$ratioOnE%.1f"}},""" +
      s""""verdicts_identical":$identicalE,"rejected":$rejectedE}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(identical, "guard must not change a single verdict")
    require(rejected >= 100, s"the planted near-dups must reject: $rejected")
    require(recsOn * 4 <= recsOff,
      s"guard must spread the hot bucket's emission: $recsOff -> $recsOn")
    require(identicalE, "exact: guard must not change a single verdict")
    require(rejectedE >= 100,
      s"exact: the planted near-dups must reject: $rejectedE")
    require(recsOnE * 4 <= recsOffE,
      s"exact: guard must spread the hot bucket's emission: " +
        s"$recsOffE -> $recsOnE")
    spark.stop()
  }
}
