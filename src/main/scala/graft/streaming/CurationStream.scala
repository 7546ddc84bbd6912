package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
  StructField, StructType}

import graft.dedup.Dedup

/** END-TO-END streaming curation: quality gate → exact dedup against the
  * fingerprint ledger of every SEEN survivor → approximate near-dup
  * admission against the sig/band ledgers of every ADMITTED doc — the
  * full training-data ingest path as ONE exactly-once `foreachBatch`
  * pipeline (the streaming form of q116, which gates the composed stage
  * semantics hash-exact against a four-wave unrolled DuckDB oracle).
  *
  * Stage choices, and why these ledgers hold what they hold:
  *  - the FP ledger records every exact-stage survivor (SEEN, not just
  *    admitted): an identical copy of a doc that later failed near-dup
  *    admission is rejected at the cheap fingerprint anti-join instead of
  *    re-running banding + estimator verify for the same inevitable
  *    verdict;
  *  - the band/sig ledgers hold ADMITTED docs only — the admission
  *    contract ([[NearDupStream]]): "near-dup of anything admitted",
  *    256 B/doc state, no token-sized ledger anywhere in the pipeline.
  *
  * Verdict rows carry STAGE ATTRIBUTION — (doc_id, quality, q_pass,
  * exact_new, admitted, first_match) — so downstream consumers can split
  * rejects by cause without re-deriving anything.
  *
  * Exactly-once by [[WaveCommit]]'s protocol: the verdict commits first,
  * then the fps → bands → sigs ledgers, derived from the durable verdict.
  */
object CurationStream {

  val VerdictSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("quality", DoubleType),
    StructField("q_pass", BooleanType),
    StructField("exact_new", BooleanType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))

  /** [[VerdictSchema]] plus the decontamination stage's attribution:
    * shared-gram count and the clean flag (non-NULL/true only for
    * quality passers — the stage's input). */
  val VerdictSchemaDecontam: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("quality", DoubleType),
    StructField("q_pass", BooleanType),
    StructField("n_shared_grams", LongType),
    StructField("clean", BooleanType),
    StructField("exact_new", BooleanType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))

  /** Committed per-doc verdicts across all batches. */
  def verdicts(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir, Some(VerdictSchema))

  /** Committed per-doc verdicts of a [[decontamWriter]] pipeline. */
  def verdictsDecontam(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir,
      Some(VerdictSchemaDecontam))

  /** Build the benchmark gram ledger a [[decontamWriter]] probes — the
    * distinct hashed n-grams of the eval set, written ONCE at pipeline
    * setup (a benchmark is fixed data; the stream never re-grams it).
    */
  def writeBenchGrams(benchmark: DataFrame, textCol: String, idCol: String,
      dir: String, n: Int = 5): Unit =
    graft.pipeline.Curation.benchGramSet(benchmark, textCol, idCol, n)
      .write.mode("overwrite").parquet(dir)

  /** Compact all three ledgers on the usual maintenance cadence: fps
    * fp-bucketed ([[DedupStream.compactLedger]]), bands/sigs via
    * [[NearDupStream.compactLedgersApprox]]. */
  def compactLedgers(spark: SparkSession, fpsDir: String, bandsDir: String,
      sigsDir: String, buckets: Int = 8): Unit = {
    DedupStream.compactLedger(spark, fpsDir, buckets)
    NearDupStream.compactLedgersApprox(spark, bandsDir, sigsDir, buckets)
    ()
  }

  /** The `foreachBatch` function:
    * {{{
    * docs.writeStream.foreachBatch(CurationStream.writer(
    *   out, fps, bands, sigs, "text", "doc_id"))
    * }}}
    */
  def writer(verdictDir: String, fpsDir: String, bandsDir: String,
      sigsDir: String, textCol: String, idCol: String,
      qualityThreshold: Double = 0.7, simThreshold: Double = 0.5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    curate(verdictDir, fpsDir, bandsDir, sigsDir, None, textCol, idCol,
      qualityThreshold, simThreshold, portable, compactEvery)

  /** [[writer]] with the remaining production stage composed in: quality
    * gate → BENCHMARK DECONTAMINATION against the gram ledger
    * [[writeBenchGrams]] built at setup → exact dedup → approx near-dup
    * admission (the streaming form of q119, which gates the composed
    * semantics hash-exact against a four-wave unrolled DuckDB oracle).
    *
    * Decontamination runs BEFORE the dedup ledgers on purpose: a
    * contaminated doc never enters the fp/band/sig ledgers, so eval-set
    * text can never become the retained survivor that knocks out a CLEAN
    * near-copy. The stage is ledger-FREE on the stream side — the gram
    * set is fixed at-rest state probed via broadcast — so the per-wave
    * cost over [[writer]] is one map-side gram pass on that wave's
    * quality survivors, and the exactly-once argument is unchanged (the
    * verdict stays a pure function of (batch, committed ledgers, static
    * gram set)).
    */
  def decontamWriter(verdictDir: String, fpsDir: String, bandsDir: String,
      sigsDir: String, benchGramsDir: String, textCol: String,
      idCol: String, qualityThreshold: Double = 0.7,
      simThreshold: Double = 0.5, gramN: Int = 5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    curate(verdictDir, fpsDir, bandsDir, sigsDir, Some((benchGramsDir, gramN)),
      textCol, idCol, qualityThreshold, simThreshold, portable, compactEvery)

  /** The one curation wave; `benchGrams` (gram dir, n) inserts the
    * decontamination stage between the quality gate and exact dedup. */
  private def curate(verdictDir: String, fpsDir: String, bandsDir: String,
      sigsDir: String, benchGrams: Option[(String, Int)], textCol: String,
      idCol: String, qualityThreshold: Double, simThreshold: Double,
      portable: Boolean, compactEvery: Int): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery,
        compactLedgers(_, fpsDir, bandsDir, sigsDir)) { wave =>
      // quality + fingerprint in one pass over the batch source; every
      // downstream frame reads this cache (lineage = batch source only,
      // safe from the ledger appends' recacheByPath invalidation)
      val scored = wave.persist(wave.batch.select(
        col(idCol).as("id"), col(textCol).as("text"),
        graft.text.TextFunctions.qualityScore(col(textCol)).as("quality"),
        graft.text.TextFunctions.fingerprint(col(textCol)).as("fp")))
      val qp = scored.filter(col("quality") >= qualityThreshold)
      // a leaf, not a persist: the gram/broadcast subtree would otherwise
      // be re-ANALYZED by each of the wave's commit actions (persist
      // substitutes the cache only after analysis) — measured +17 s/wave
      // at sf0.1 with CPU flat. The gram set is static at-rest state,
      // never appended by this pipeline.
      val flags = benchGrams.map { case (dir, n) =>
        wave.leaf(graft.pipeline.Curation.contaminationFlags(
          qp.select("id", "text"), wave.spark.read.parquet(dir), "text",
          "id", n))
      }
      val cleanDocs = flags.fold(qp)(f =>
        qp.join(f.filter(!col("contaminated")).select("id"), Seq("id")))
      // ONE eager leaf: the exact-new survivors with their minhash sketch.
      // The verdict commit reads it from several subtrees (the exact_new
      // flag, the kernel's batch bands, candidates and verify), and the
      // band/sig commits read it again; a lazy persist would be raced by
      // the verdict's own consumers (WaveCommit's SCOPE)
      val toks = graft.text.TextFunctions.tokens(col("text"))
      val sk = wave.leaf(cleanDocs
        .join(wave.ledger(fpsDir, DedupStream.FpSchema).select("fp").distinct(),
          Seq("fp"), "left_anti")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("fp").orderBy("id")))
        .filter(col("rn") === 1)
        .select(col("id"),
          (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
           else graft.functions.Sketches.minhashTokens(toks)).as("sig")))
      // the kernel's band rows, hot keys and candidates feed this one
      // commit: leaves too (the gate's count of sk reads stored blocks)
      val admission = Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, wave.ledger(bandsDir, NearDupStream.ApproxBandsSchema),
        wave.ledger(sigsDir, NearDupStream.SigsSchema), simThreshold,
        wave.leaf, hotBandCap = 4096)
      val scoredVerdict = scored.select(col("id").as("doc_id"), col("quality"),
        (col("quality") >= qualityThreshold).as("q_pass"))
      val verdict = flags.fold(scoredVerdict)(f =>
          scoredVerdict.join(f.select(col("id").as("doc_id"),
            col("n_shared_grams"), col("contaminated")), Seq("doc_id"), "left"))
        .join(sk.select(col("id").as("doc_id"),
          lit(true).as("en")), Seq("doc_id"), "left")
        .join(admission.select(col("doc_id"),
          col("admitted").as("adm"), col("first_match")),
          Seq("doc_id"), "left")
        .select(Seq(col("doc_id"), col("quality"), col("q_pass")) ++
          flags.map(_ => Seq(col("n_shared_grams"),
            // flags rows exist iff q_pass — already (q_pass AND clean)
            coalesce(!col("contaminated"), lit(false)).as("clean")))
            .getOrElse(Nil) ++
          Seq(coalesce(col("en"), lit(false)).as("exact_new"),
            coalesce(col("adm"), lit(false)).as("admitted"),
            col("first_match")): _*)
      wave.commit(verdictDir, verdict)
      // ledger rows from the durable verdict; the joins read the scored
      // cache and the sketch leaf — batch-sized work, no stage re-runs
      val durable = wave.committed(verdictDir)
      wave.commit(fpsDir, scored.join(durable.filter(col("exact_new"))
        .select(col("doc_id").as("id")), Seq("id")).select("fp"))
      val admittedSk = sk.join(durable.filter(col("admitted"))
        .select(col("doc_id").as("id")), Seq("id"))
      wave.commit(bandsDir, Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
      wave.commit(sigsDir, admittedSk.select("id", "sig"))
    }
}
