package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** The band ledger's adversarial dup-storm exposure and its hot-key guard
  * (`spark.graft.dedup.hotBandCap`): admitted docs sharing one minhash
  * band while estimating below threshold pile into ONE (band, bkey)
  * bucket, and the plain bucketed candidate join emits that bucket's
  * (occupancy × probes) candidates from one task. The guard routes keys
  * past the cap through a salted shuffled join. Pinned here: the guard
  * changes NOT ONE verdict (key-disjoint split, identical per-row
  * filters), and it spreads the hot bucket's candidate emission across
  * partitions instead of one straggler task — the structural form of
  * "the storm completes without a straggler task far beyond the median"
  * (BENCH_BAND_STORM.json carries the wall/duration evidence at sf10).
  */
class BandStormSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one shared band (sig positions 1-4), everything else distinct: every
  // storm pair agrees 4/32 = 0.125 < 0.5 → all admitted, all in one
  // (band=0, bkey) ledger bucket
  private def sig(base: String, shared: Boolean) =
    transform(sequence(lit(1), lit(32)), i =>
      when(lit(shared) && i <= 4, xxhash64(lit("storm"), i))
        .otherwise(xxhash64(col("id"), i, lit(base))))

  private lazy val ledgerSk =
    spark.range(2000).select(col("id"), sig("c", true).as("sig"))
  // (band, bkey)-clustered like the COMPACTED ledger at rest — the layout
  // that concentrates a hot key's rows in one partition (an in-memory
  // range-partitioned frame would accidentally spread them and hide the
  // exposure this spec exists to pin)
  private lazy val ledgerBands = Dedup.MinHashLsh.bandRowsOfSigs(ledgerSk)
    .repartition(8, col("band"), col("bkey"))
  // 40 storm-keyed probes (admitted — agreement stays 4/32) + one genuine
  // near-dup of ledger doc 0 (shares positions 1-24 → 0.75 ≥ 0.5, must
  // reject with first_match = 0) + 10 benign
  private lazy val probe = spark.range(10000, 10040)
      .select(col("id"), sig("p", true).as("sig"))
    .unionByName(spark.range(9000, 9001).select(col("id"),
      transform(sequence(lit(1), lit(32)), i =>
        when(i <= 4, xxhash64(lit("storm"), i))
          .when(i <= 24, xxhash64(lit(0L), i, lit("c")))
          .otherwise(xxhash64(col("id"), i, lit("p")))).as("sig")))
    .unionByName(spark.range(11000, 11010)
      .select(col("id"), sig("p", false).as("sig")))

  private def withCap[A](cap: Int)(f: => A): A = {
    spark.conf.set("spark.graft.dedup.hotBandCap", cap.toString)
    try graft.core.Cuts.scoped(f)
    finally spark.conf.unset("spark.graft.dedup.hotBandCap")
  }

  /** Each salt owns one partition: the hot bucket's candidates fill all
    * defaultParallelism of them, each with at least half an even share
    * (hashing the salts would put two of four in one partition). */
  private def assertFillsSalts(on: Seq[Long]): Unit = {
    val par = spark.sparkContext.defaultParallelism
    assert(on.count(_ * 2 * par >= on.sum) >= par,
      s"the guard's emission must fill all $par salt partitions: $on")
  }

  test("planted storm: the guard changes not one verdict") {
    def verdicts(cap: Int) = withCap(cap) {
      Dedup.MinHashLsh.nearDupAdmitApproxSketched(
          probe, ledgerBands, ledgerSk.select("id", "sig"), threshold = 0.5)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
          r.get(r.fieldIndex("first_match")))).toSeq
    }
    val off = verdicts(0); val on = verdicts(64)
    assert(off == on, "the guard must not change a single verdict")
    val v = on.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(v(9000L) == ((false, 0L)), s"planted near-dup must reject: $v")
    assert(v(10000L)._1, "storm-keyed-but-distinct doc admits")
    assert(v(11000L)._1, "benign doc admits")
    assert(on.size == 51)
  }

  test("planted storm: hot-bucket candidate emission spreads across " +
      "partitions under the guard") {
    // the candidate relation itself, per-partition — deterministic, no
    // listener, no timing: with the guard OFF the hot (band 0, storm-key)
    // bucket's 2000×41 candidates sit in the partitions the bucketed/
    // broadcast join emitted them from; with the guard ON the salted join
    // spreads them over the salt space (defaultParallelism = 4 here)
    def partitionRows(cap: Int): Seq[Long] = withCap(cap) {
      val cand = Dedup.MinHashLsh.approxCandidates(
        Dedup.MinHashLsh.bandRowsOfSigs(probe), ledgerBands, fits = true)
      cand.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE's small-partition coalescing would re-merge the salted
      // partitions at this fixture's size (verify-skill gotcha); the
      // sf10 artifact runs with AQE on
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = partitionRows(0)
      val on = partitionRows(64)
      val total = off.sum
      assert(total >= 80000 && on.sum == total,
        s"fixture must emit the hot bucket either way: $total vs ${on.sum}")
      // exposure: guard-off concentrates ≥ 90% of all candidates in one
      // partition; guard: no partition holds more than half of them
      assert(off.max * 10 >= total * 9,
        s"guard-off must concentrate emission (the exposure): $off")
      assert(on.max * 2 <= total,
        s"guard must spread the hot bucket: $on")
      // straggler bound, structurally: max ≤ 4× mean over the non-empty
      // salt partitions (the verdict's "no task > 4× median" at the row
      // level, where it is deterministic)
      val busy = on.filter(_ > 0)
      assert(on.max <= 4 * (busy.sum / busy.size),
        s"no partition may carry a >4x-mean share under the guard: $on")
      assertFillsSalts(on)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // --- EXACT path: the same exposure, the same guard ----------------------
  // Admitted docs can legally share a band key below the JACCARD
  // threshold exactly as below the estimator threshold: one full band of
  // 4 shared minima says nothing about set overlap. The exact streaming
  // writers (NearDupStream.writer / clusterWriterExact) pass
  // hotBandCap = 4096 through exactVerifiedPairs for exactly this storm.

  // 40-element shingle sets: `sharedWith0` elements copied from ledger
  // doc 0's set (jaccard vs doc 0 = shared / (80 - shared)), the rest
  // per-doc distinct — storm docs share the BAND but ~nothing of the SET
  private def sset(base: String, sharedWith0: Int = 0) =
    array_sort(transform(sequence(lit(1), lit(40)), j =>
      when(j <= sharedWith0 && lit(base) =!= lit("c"),
          xxhash64(lit(0L), j, lit("cs")))
        .otherwise(xxhash64(col("id"), j, lit(base + "s")))))

  private def sketched(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("sz", size(col("sset")))

  private lazy val ledgerSkExact = sketched(spark.range(2000)
    .select(col("id"), sig("c", true).as("sig"), sset("c").as("sset")))
  private lazy val ledgerBandsExact = Dedup.MinHashLsh
    .bandRowsOf(ledgerSkExact.select("id", "sig", "sz"))
    .repartition(8, col("band"), col("bkey"))
  private lazy val ledgerSetsExact = ledgerSkExact.select("id", "sset")
  // 40 storm-keyed probes (band shared, sets disjoint → jaccard ≈ 0 →
  // admitted) + one genuine near-dup of ledger doc 0 (storm band AND 30
  // of 40 set elements shared → jaccard 30/50 = 0.6 ≥ 0.5, must reject
  // with first_match = 0) + 10 benign
  private lazy val probeExact = sketched(
    spark.range(10000, 10040)
      .select(col("id"), sig("p", true).as("sig"), sset("p").as("sset"))
    .unionByName(spark.range(9000, 9001).select(col("id"),
      sig("p", true).as("sig"), sset("p", sharedWith0 = 30).as("sset")))
    .unionByName(spark.range(11000, 11010)
      .select(col("id"), sig("p", false).as("sig"), sset("p").as("sset"))))

  test("planted storm, exact path: the guard changes not one verdict") {
    def verdicts(cap: Int) = withCap(cap) {
      Dedup.MinHashLsh.nearDupAdmitSketched(
          probeExact, probeExact, ledgerBandsExact, ledgerSetsExact,
          threshold = 0.5)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
          r.get(r.fieldIndex("first_match")))).toSeq
    }
    val off = verdicts(0); val on = verdicts(64)
    assert(off == on, "the guard must not change a single verdict")
    val v = on.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(v(9000L) == ((false, 0L)), s"planted near-dup must reject: $v")
    assert(v(10000L)._1, "storm-keyed-but-set-disjoint doc admits")
    assert(v(11000L)._1, "benign doc admits")
    assert(on.size == 51)
  }

  test("planted storm, exact path: hot-bucket candidate emission spreads " +
      "across partitions under the guard") {
    def partitionRows(cap: Int): Seq[Long] = withCap(cap) {
      val cand = Dedup.MinHashLsh.exactCandidates(probeExact,
        ledgerBandsExact, threshold = 0.5, fits = true)
      cand.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = partitionRows(0)
      val on = partitionRows(64)
      val total = off.sum
      assert(total >= 80000 && on.sum == total,
        s"fixture must emit the hot bucket either way: $total vs ${on.sum}")
      assert(off.max * 10 >= total * 9,
        s"guard-off must concentrate emission (the exposure): $off")
      assert(on.max * 2 <= total,
        s"guard must spread the hot bucket: $on")
      val busy = on.filter(_ > 0)
      assert(on.max <= 4 * (busy.sum / busy.size),
        s"no partition may carry a >4x-mean share under the guard: $on")
      assertFillsSalts(on)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // --- MEDIA chunk ledger: the same exposure through 16-bit chunks --------
  // Admitted fingerprints are pairwise > maxHamming OVERALL, but one
  // 16-bit CHUNK value can coincide across any number of them: a storm
  // fixes chunk 0's bits and randomizes the other 48 (pairwise hamming
  // ~24 → every doc admitted) and the (chunk, ckey)-bucketed ledger
  // piles them into one bucket. MediaDedupStream's writers pass
  // hotChunkCap = 4096 through fingerprintAdmit/fingerprintVerifiedPairs.

  // fp = fixed 16 bits (chunk 0, the LOW 16) + 48 per-doc pseudo-random
  // bits; the planted dup copies ledger doc 0's fp with 2 bits flipped
  private def stormFpOf(id: org.apache.spark.sql.Column,
      salt: String): org.apache.spark.sql.Column =
    lit(0xBEEFL) // shared chunk-0 bits
      .bitwiseOR(shiftleft(
        xxhash64(id, lit(salt)).bitwiseAND(lit(0xFFFFFFFFFFFFL)), 16))
  private def stormFp(salt: String): org.apache.spark.sql.Column =
    stormFpOf(col("id"), salt)

  private lazy val ledgerFps =
    spark.range(2000).select(col("id"), stormFp("c").as("fp"))
  private lazy val ledgerChunkRows = graft.dedup.Dedup
    .fingerprintChunkRows(ledgerFps, "id", "fp")
    .repartition(8, col("chunk"), col("ckey"))
  private lazy val dup0Fp = // hamming 2 from ledger doc 0: must reject
    stormFpOf(lit(0L), "c").bitwiseXOR(lit(3L << 30))
  private lazy val probeFps =
    spark.range(10000, 10040).select(col("id"), stormFp("p").as("fp"))
      .unionByName(spark.range(1).select(lit(9000L).as("id"),
        dup0Fp.as("fp")))
      .unionByName(spark.range(11000, 11010)
        .select(col("id"), xxhash64(col("id"), lit("benign")).as("fp")))

  test("planted chunk storm, media path: the guard changes not one " +
      "verdict") {
    def verdicts(cap: Int) = withCap(cap) {
      graft.dedup.Dedup.fingerprintAdmit(probeFps, "id", "fp",
          ledgerChunkRows, maxHamming = 3)
        .orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("admitted"),
          r.get(r.fieldIndex("first_match")))).toSeq
    }
    val off = verdicts(0); val on = verdicts(64)
    assert(off == on, "the guard must not change a single verdict")
    val v = on.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(v(9000L) == ((false, 0L)),
      s"planted hamming-2 dup must reject: $v")
    assert(v(10000L)._1, "storm-chunked-but-distant fp admits")
    assert(v(11000L)._1, "benign fp admits")
    assert(on.size == 51)
  }

  test("planted chunk storm, media path: hot-bucket candidate emission " +
      "spreads across partitions under the guard") {
    // fingerprintMatches fuses the hamming verify into the join, so the
    // storm's blowup never reaches its OUTPUT rows — measure the guarded
    // candidate join itself (verify-off rowFilter), exactly the frame
    // whose partition layout the guard exists to change
    def partitionRows(cap: Int): Seq[Long] = withCap(cap) {
      val bb = graft.dedup.Dedup
        .fingerprintChunkRows(probeFps, "id", "fp")
      val probe = bb.select(col("chunk"), col("ckey"),
        col("id").as("bid"), col("fp").as("fp_b"))
      val cbm = ledgerChunkRows.select(col("chunk"), col("ckey"),
        col("id").as("mid"), col("fp").as("fp_m"))
      val cand = graft.dedup.Dedup.guardedCorpusCandidates(probe, cbm,
        lit(true), hotBandCap = 0, fits = true, Seq("chunk", "ckey"))
      cand.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val off = partitionRows(0)
      val on = partitionRows(64)
      val total = off.sum
      assert(total >= 80000 && on.sum == total,
        s"fixture must emit the hot bucket either way: $total vs ${on.sum}")
      assert(off.max * 10 >= total * 9,
        s"guard-off must concentrate emission (the exposure): $off")
      assert(on.max * 2 <= total,
        s"guard must spread the hot bucket: $on")
      val busy = on.filter(_ > 0)
      assert(on.max <= 4 * (busy.sum / busy.size),
        s"no partition may carry a >4x-mean share under the guard: $on")
      assertFillsSalts(on)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
