package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, count, lit, max}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType,
  IntegerType, LongType, StructField, StructType}

import graft.dedup.{IncrementalClusters, SemanticDedup}

/** Streaming SEMANTIC duplicate clusters — the SemDeDup mirror of
  * [[NearDupStream.clusterWriter]], completing the streaming story for the
  * dedup ladder's third rung (exact: [[DedupStream]], near:
  * [[NearDupStream]], semantic: here). Each micro-batch of embeddings is
  * assigned against FROZEN centroids (the caller's persisted IVF
  * coordinate system — [[graft.similarity.Ann.addToIvfIndex]]'s
  * maintenance contract: centroids drift with the distribution, the
  * remedy is periodic rebuild, not per-batch retraining), folded into the
  * persisted cluster ledgers by [[SemanticDedup.foldWaveSemantic]], and
  * committed exactly-once.
  *
  * State = five ledgers on the sink filesystem ([[IdempotentSink]] /
  * [[LedgerCompaction]] contracts), all O(corpus rows) or
  * O(distinct vectors):
  *
  *  - labels/merges: [[IncrementalClusters]]' cluster state, identical to
  *    the minhash cluster writers';
  *  - `membersDir` (id, cell, centroid_sim): per-vector output metadata
  *    for the exemplar pick, id-bucketed at rest;
  *  - `repsDir` (cell, rep, ce, cn2): one row per DISTINCT vector — the
  *    within-cell pairwise side, cell-bucketed so the wave-vs-corpus
  *    cosine join ships nothing at rest;
  *  - `fpsDir` (cefp, rep): 16 B/row fingerprint → rep membership,
  *    cefp-bucketed — an arriving duplicate of a known vector star-edges
  *    to its rep without entering the pairwise at all.
  *
  * Exactly-once across crash/replay by [[NearDupStream.clusterWriter]]'s
  * argument with the semantic commit order labels → merges → members →
  * reps → fps ([[SemanticDedup.foldWaveSemantic]] derives why reps must
  * precede fps: new-rep detection probes `fps`, and the reverse order
  * would let a crash window silently drop the wave's vectors from the
  * pairwise state on every replay).
  */
object SemanticStream {

  private[streaming] val MembersSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cell", IntegerType),
    // null for zero vectors (cosine with them is undefined) — exactly the
    // batch path's value
    StructField("centroid_sim", DoubleType, nullable = true)))
  private[streaming] val RepsSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("rep", LongType),
    StructField("ce", ArrayType(FloatType)),
    StructField("cn2", DoubleType)))
  private[streaming] val FpsSchema = StructType(Seq(
    StructField("cefp", LongType),
    StructField("rep", LongType)))

  /** Committed member-metadata ledger (typed-empty on cold start);
    * id-bucketed at rest after [[compactSemanticLedgers]]. */
  def ledgerMembers(spark: SparkSession, membersDir: String): DataFrame =
    LedgerCompaction.read(spark, membersDir, MembersSchema)

  /** Committed distinct-vector rep ledger (typed-empty on cold start);
    * cell-bucketed at rest after [[compactSemanticLedgers]]. */
  def ledgerReps(spark: SparkSession, repsDir: String): DataFrame =
    LedgerCompaction.read(spark, repsDir, RepsSchema)

  /** Committed fingerprint→rep ledger (typed-empty on cold start);
    * cefp-bucketed at rest after [[compactSemanticLedgers]]. */
  def ledgerFps(spark: SparkSession, fpsDir: String): DataFrame =
    LedgerCompaction.read(spark, fpsDir, FpsSchema)

  /** Current semantic-dedup output from the ledger state — q91's exact
    * shape ((vec_id, cluster, centroid_sim, keep), every member, exactly
    * one keeper per cluster), equal to running
    * [[SemanticDedup.fromIndex]] from scratch over everything the stream
    * absorbed (spec-pinned parity; q111 gates the batch fold against the
    * same oracle). */
  def semanticAssignments(spark: SparkSession, membersDir: String,
      labelsDir: String, mergesDir: String): DataFrame =
    SemanticDedup.clustersFromLedgers(
      ledgerMembers(spark, membersDir),
      NearDupStream.ledgerLabels(spark, labelsDir),
      NearDupStream.ledgerMerges(spark, mergesDir))

  /** The `foreachBatch` function. `batch` needs `idCol` (long) and
    * `vecCol` (array<float>); `centroids` is the frozen (cell, cvec)
    * coordinate system, collected per batch (√n rows — the argmax kernel
    * embeds it as a literal). `compactEvery` defaults ON every 16 waves
    * for [[NearDupStream.clusterWriter]]'s chain-depth reason.
    */
  def writer(labelsDir: String, mergesDir: String, membersDir: String,
      repsDir: String, fpsDir: String, vecCol: String, idCol: String,
      centroids: DataFrame, threshold: Double = 0.97,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery, compactSemanticLedgers(_, labelsDir,
        mergesDir, membersDir, repsDir, fpsDir)) { wave =>
      val asg = wave.persist(SemanticDedup.assignWithSim(
        wave.batch.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        centroids))
      // the fold is EAGER (edge counts + the wave-local CC run inside), so
      // the wave-scoped mid-frames (the fps probe the rep/fp deltas
      // project from) are materialized BEFORE any ledger dir is appended —
      // the later sinks read cached blocks, never a re-derivation against
      // ledgers already containing this batch
      val (labelRows, mergeRows, memberRows, repRows, fpRows) =
        SemanticDedup.foldWaveSemantic(asg,
          wave.ledger(repsDir, RepsSchema), wave.ledger(fpsDir, FpsSchema),
          wave.ledger(labelsDir, NearDupStream.LabelsSchema),
          wave.ledger(mergesDir, NearDupStream.MergesSchema),
          threshold, wave.persist)
      wave.adopt(repRows) // the fold cuts the rep and fp deltas to one leaf
      wave.commit(labelsDir, labelRows)
      wave.commit(mergesDir, mergeRows)
      wave.commit(membersDir, memberRows)
      wave.commit(repsDir, repRows)
      wave.commit(fpsDir, fpRows)
    }

  // ==== streaming semantic ADMISSION (with the eval-exclusion gate) =========

  private[streaming] val AdmitVerdictSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("admitted", org.apache.spark.sql.types.BooleanType),
    StructField("first_match", LongType, nullable = true),
    StructField("contaminated", org.apache.spark.sql.types.BooleanType),
    StructField("eval_match", LongType, nullable = true)))

  /** Committed admission verdicts across all batches. */
  def admitVerdicts(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir, Some(AdmitVerdictSchema))

  /** Streaming SEMANTIC admission with the eval-exclusion gate — the
    * exactly-once form of [[SemanticDedup.semanticAdmitDecontam]]
    * (q124), completing the streaming story for the decontamination
    * ladder's semantic rung exactly as
    * [[CurationStream.decontamWriter]] did for the n-gram rung:
    *
    *  1. the wave probes the FIXED eval set (a benchmark is fixed data —
    *     q119's setup-time-ledger argument; the caller loads/persists it
    *     once) through [[SemanticDedup.semanticDecontaminate]]'s
    *     broadcast kernel — wave-sized × eval-sized, no corpus term;
    *  2. contaminated vectors are rejected and EXCLUDED from the
    *     admission comparison set and the reps ledger — eval-adjacent
    *     text can neither become the retained survivor that shields a
    *     clean near-copy nor count as "already seen" against a later
    *     clean arrival;
    *  3. the clean remainder runs one-pass semantic admission against
    *     the reps ledger via [[SemanticDedup.admitVsReps]] — the
    *     at-rest corpus side is already assigned and cell-bucketed, so
    *     the probe never re-runs the O(corpus) argmax;
    *  4. the verdict commits before the reps delta, which derives from
    *     the committed verdict ([[WaveCommit]]'s protocol).
    *
    * State = ONE ledger: `repsDir` (cell, rep, ce, cn2), one row per
    * admitted distinct nonzero vector, cell-bucketed by
    * [[compactAdmitLedger]]. Identical later arrivals are rejected by
    * the cosine-1 probe itself, so the ledger stays distinct without an
    * fps side-ledger. Zero vectors admit (undefined cosine) but never
    * enter the ledger — the batch path's repsOf filter.
    *
    * An EMPTY `evalSet` disables the gate (pure streaming admission).
    * Pass frozen `centroids` per the [[writer]] maintenance contract.
    */
  def admitWriter(verdictDir: String, repsDir: String, vecCol: String,
      idCol: String, centroids: DataFrame, evalSet: DataFrame,
      dupThreshold: Double = 0.97, decontamThreshold: Double = 0.97,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery, compactAdmitLedger(_, repsDir)) { wave =>
      import org.apache.spark.sql.functions.{coalesce, when}
      // leaves: the verdict commit reads the batch and its contamination
      // flags from several subtrees each (WaveCommit's SCOPE)
      val b = wave.leaf(wave.batch.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding")))
      val contam = wave.leaf(SemanticDedup.semanticDecontaminate(
        b, evalSet, decontamThreshold))
      val clean = b.join(
        contam.filter(col("contaminated")).select("vec_id"),
        Seq("vec_id"), "left_anti")
      val admit = SemanticDedup.admitVsReps(clean,
          wave.ledger(repsDir, RepsSchema)
            .select(col("rep"), col("cell"), col("ce"), col("cn2")),
          dupThreshold, centroids, wave.leaf)
        .withColumnRenamed("admitted", "clean_admitted")
        .withColumnRenamed("first_match", "dup_match")
      wave.commit(verdictDir, contam
        .select(col("vec_id"), col("contaminated"),
          when(col("contaminated"), col("first_match")).as("eval_match"))
        .join(admit, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("clean_admitted"), lit(false)).as("admitted"),
          col("dup_match").as("first_match"),
          col("contaminated"), col("eval_match")))
      val admitted = wave.committed(verdictDir)
        .filter(col("admitted")).select("vec_id")
      wave.commit(repsDir, graft.similarity.Ann.indexWithCentroids(
          b.join(admitted, Seq("vec_id")), centroids).assigned
        .filter(col("cn2") > 0)
        .select(col("cell"), col("nid").as("rep"), col("ce"), col("cn2")))
    }

  /** Compact the admission reps ledger into one cell-bucketed table —
    * the at-rest layout [[SemanticDedup.admitVsReps]]' cell equi-join
    * prunes on. */
  def compactAdmitLedger(spark: SparkSession, repsDir: String,
      buckets: Int = 8): Option[String] =
    LedgerCompaction.compact(spark, repsDir, RepsSchema, Seq("cell"), buckets)

  // ==== centroid drift maintenance ==========================================

  /** Highest committed centroid VERSION and its (cell, cvec) table, or
    * None before the first retrain. Versions are [[IdempotentSink]]
    * batches under `centroidsDir` — commit-marker-gated, so a half-written
    * retrain is invisible. The deployment shape: seed version 0 with the
    * initial coordinate system via
    * `IdempotentSink.writer(centroidsDir)(initial, 0L)`, pass
    * `currentCentroids(...)._2` to [[writer]] per ingest cycle, and run
    * [[retrainAndRemap]] on the drift-maintenance cadence. */
  def currentCentroids(spark: SparkSession,
      centroidsDir: String): Option[(Long, DataFrame)] =
    IdempotentSink.committedBatches(spark, centroidsDir).lastOption
      .map(v => (v, spark.read.parquet(s"$centroidsDir/batch=$v")
        .select("cell", "cvec")))

  /** CENTROID-DRIFT maintenance for the streaming semantic deployment —
    * the operational form of [[SemanticDedup.retrainRemap]]:
    *
    *  1. retrain centroids from the committed reps ledger
    *     ([[graft.similarity.Ann.retrainCentroids]]);
    *  2. commit them as version N+1 under `centroidsDir` (idempotent: the
    *     retrain is DETERMINISTIC in the reps state, so a crash-replay
    *     re-derives the identical table and the version marker absorbs
    *     the rewrite);
    *  3. remap the reps ledger through the COMMITTED new table, riding
    *     [[LedgerCompaction.compact]]'s transform hook — the rewrite
    *     inherits compaction's single-writer lease and crash contract,
    *     and leaves the ledger (cell)-bucketed under the NEW cells so
    *     the next wave's pairwise join ships nothing at rest.
    *
    * Run QUIESCED (between micro-batches, like any compaction cadence):
    * step 3's transform is a pure idempotent function (rows already in
    * new cells map to themselves), so the crash windows are safe — a
    * death between 2 and 3 leaves old cells under a committed version,
    * healed by re-running: the retrain is deterministic in the (unchanged)
    * reps state, the re-derived table is detected CONTENT-EQUAL to the
    * last committed one, and the heal reuses that version — no N+2 with
    * identical bytes — while the remap proceeds. A death inside 3 is
    * compaction's own contract. Returns the (new or healed) version id.
    * The same content check makes a no-op cadence (reps unchanged since
    * the last retrain) version-stable instead of version-inflating.
    *
    * Past members/labels/merges are deliberately not rewritten — see
    * [[SemanticDedup.retrainRemap]]'s contract on what retraining
    * touches. */
  def retrainAndRemap(spark: SparkSession, centroidsDir: String,
      repsDir: String, refineIters: Int = 1, buckets: Int = 8): Long = {
    val reps = ledgerReps(spark, repsDir).persist()
    try {
      val cent = graft.similarity.Ann.retrainCentroids(
        reps.select(col("rep").as("vec_id"), col("ce").as("embedding")),
        refineIters).select("cell", "cvec").persist()
      // CRASH-HEAL BY CONTENT: a death between the version commit and the
      // remap is re-run with the reps unchanged, so the deterministic
      // retrain re-derives byte-identical centroids — detect that against
      // the LAST COMMITTED table (√n rows, one tiny join) and reuse its
      // version instead of minting N+2 with the same bytes. A genuine new
      // cadence over drifted reps derives a different table and commits
      // fresh. (Also makes a no-op cadence version-stable.)
      val last = currentCentroids(spark, centroidsDir)
      val healedVersion = last.filter { case (_, lt) =>
        val n = cent.count()
        lt.count() == n && lt.as("a").join(cent.as("b"),
          col("a.cell") === col("b.cell") &&
            col("a.cvec") === col("b.cvec")).count() == n
      }.map(_._1)
      val v = healedVersion.getOrElse(last.map(_._1 + 1).getOrElse(0L))
      if (healedVersion.isEmpty)
        IdempotentSink.writer(centroidsDir)(cent, v)
      cent.unpersist()
      // remap against the COMMITTED table (not the in-memory derivation):
      // every replay of step 3 then remaps through the same bytes
      val committed = currentCentroids(spark, centroidsDir).get._2
      LedgerCompaction.compact(spark, repsDir, RepsSchema, Seq("cell"),
        buckets, SemanticDedup.remapRepsTo(_, committed))
      v
    } finally reps.unpersist()
  }

  /** The cheap drift monitor an operator runs on the maintenance cadence:
    * (cells, max occupancy, mean occupancy) of the reps ledger — ONE
    * aggregate over the (cell)-bucketed table, no pairwise work, no
    * vector reads (column pruning drops `ce` at the scan). Centroid
    * drift shows up as exactly this skew: arriving vectors concentrate
    * in cells the frozen draw never anticipated, and a hot cell is the
    * distinct²-per-cell exposure of the within-cell pairwise operators
    * (BENCH_IVF_RETRAIN's planted cone: max/mean 52,620/191 before the
    * retrain, 2,217/190 after). */
  def cellOccupancy(spark: SparkSession,
      repsDir: String): (Long, Long, Double) = {
    val r = ledgerReps(spark, repsDir)
      .groupBy("cell").agg(count(lit(1)).as("occ"))
      .agg(count(lit(1)), max("occ"), avg("occ")).head()
    if (r.isNullAt(1)) (0L, 0L, 0.0)
    else (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  /** DRIFT-TRIGGERED retrain policy: fire [[retrainAndRemap]] when the
    * reps ledger's max/mean cell occupancy exceeds `maxOverMean`, else do
    * nothing. Run it on the compaction cadence — the monitor costs one
    * bucketed aggregate, so the steady-state (undrifted) cost of the
    * policy is that aggregate and nothing else.
    *
    * The knob: occupancy ratio, not absolute size, because the ledger
    * grows legitimately — a uniform corpus at any scale keeps max/mean
    * small (balls-in-bins over ~√n cells; the sf10 uniform fixture sits
    * under 2), while a drift arc concentrates arrivals into few cells
    * and the ratio grows WITH the drift, unboundedly. Default 8 fires on
    * any real concentration while never firing on uniform noise;
    * deployments tune it against their own post-retrain baseline (a
    * ratio that stays high right AFTER a retrain means the data is
    * genuinely clustered tighter than √n cells — raise the knob or
    * accept the cadence). Returns the new centroid version when fired. */
  def retrainIfDrifted(spark: SparkSession, centroidsDir: String,
      repsDir: String, maxOverMean: Double = 8.0, refineIters: Int = 1,
      buckets: Int = 8): Option[Long] = {
    val (cells, maxOcc, meanOcc) = cellOccupancy(spark, repsDir)
    if (cells == 0 || meanOcc == 0.0 || maxOcc / meanOcc <= maxOverMean) None
    else Some(retrainAndRemap(spark, centroidsDir, repsDir, refineIters,
      buckets))
  }

  /** [[NearDupStream.compactClusterLedgers]] for the semantic deployment's
    * five ledgers: labels id-bucketed with stored labels rewritten through
    * the shared merge closure, merges old_label-bucketed in depth-1
    * closure form, members on id, reps on cell, fps on cefp. The five
    * compact INDEPENDENTLY (rows, not generations, carry the semantics);
    * a crash between any two resumes idempotently. */
  def compactSemanticLedgers(spark: SparkSession, labelsDir: String,
      mergesDir: String, membersDir: String, repsDir: String,
      fpsDir: String, buckets: Int = 8): (Option[String], Option[String],
        Option[String], Option[String], Option[String]) = {
    lazy val closure = IncrementalClusters
      .mergeClosure(NearDupStream.ledgerMerges(spark, mergesDir))
    (LedgerCompaction.compact(spark, labelsDir, NearDupStream.LabelsSchema,
        Seq("id"), buckets, NearDupStream.resolveLabelRows(closure)),
      LedgerCompaction.compact(spark, mergesDir, NearDupStream.MergesSchema,
        Seq("old_label"), buckets, NearDupStream.closureFormOf(closure)),
      LedgerCompaction.compact(spark, membersDir, MembersSchema,
        Seq("id"), buckets),
      LedgerCompaction.compact(spark, repsDir, RepsSchema,
        Seq("cell"), buckets),
      LedgerCompaction.compact(spark, fpsDir, FpsSchema,
        Seq("cefp"), buckets))
  }
}
