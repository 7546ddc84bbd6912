package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType, StructField, StructType}

import graft.dedup.Dedup

/** Streaming near-dup ADMISSION: the streaming form of
  * [[graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedger]] (q104), as
  * [[DedupStream]] is of exact incremental dedup (q100) — each
  * micro-batch's documents are admitted unless they verify
  * `jaccard >= threshold` against anything ALREADY ADMITTED or a
  * smaller id in the same batch, with exactly-once output.
  *
  * Note the semantics are STRONGER than q104's one-pass batch rule
  * against a raw corpus: the persisted ledgers hold only ADMITTED
  * documents, so the cross-batch check is the true "near-dup of anything
  * admitted" — only the within-batch tie-break keeps the order-free
  * smaller-id rule (documented in `nearDupIncrementalLedger`).
  *
  * State = two persisted ledgers on the sink filesystem, not a state
  * store (the [[DedupStream]] argument — unbounded sketch state cannot
  * live in executor checkpoints at corpus scale):
  *
  *  - `bandsDir`: (band, bkey, id, kpfx, sz) rows of admitted docs — the
  *    LSH candidate index plus the first-shared-band prefix and
  *    shingle-set size the q31-shape candidate join prunes with;
  *    [[compactLedgers]] absorbs the per-batch dirs into ONE table
  *    bucketed on (band, bkey), so the per-batch candidate join's ledger
  *    side plans with zero Exchange (spec-pinned), and backfills kpfx/sz
  *    for rows persisted before those columns existed;
  *  - `setsDir`:  (id, sset) rows — exact-verification shingle sets,
  *    consulted only for verified-candidate ids; compacted to an
  *    id-bucketed table the verification join reads exchange-free.
  *
  * [[approxWriter]] is the SIGNATURE-ONLY mode: the sset ledger — the
  * one state component above that scales with corpus TOKENS rather than
  * corpus rows — is replaced by a 256 B/doc signature ledger, and
  * verification by the `sig_agreement / 32` estimator (banding recall
  * < 1 by design; this writer's `jaccard` is exact). Same exactly-once
  * protocol, same compaction contract, ~O(corpus rows) total state.
  *
  * Run [[compactLedgers]] on the same maintenance cadence as
  * [[DedupStream.compactLedger]] (it shares [[LedgerCompaction]]'s
  * crash-safety and deferred-cleanup contract): without it a long-running
  * stream accumulates one `batch=` dir per micro-batch and every batch
  * re-lists and re-reads all of them — per-batch cost growing with
  * stream age, the exact small-file pathology compaction kills.
  *
  * Exactly-once across crash/replay: admission is a pure function of
  * (batch data, COMMITTED ledgers), committed by [[WaveCommit]]'s
  * protocol (verdict first, ledgers last, ledger rows re-derived from
  * the durable verdict).
  */
object NearDupStream {

  private[streaming] val BandsSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("bkey", LongType),
    StructField("id", LongType),
    // the two columns nearDupIncrementalLedger's q31-shape candidate join
    // needs on the LEDGER side (see Dedup.MinHashLsh.bandsFor): nullable,
    // because rows persisted before the columns existed read as null
    // (LedgerCompaction scans batch dirs WITH this schema, null-filling
    // per pre-upgrade file) until [[compactLedgers]]' backfill rebuilds
    // them — without them every micro-batch runs the admission join's
    // null fallback: per-shared-band duplicated candidates and no size
    // prefilter, strictly more verify work per batch forever
    StructField("kpfx", ArrayType(LongType), nullable = true),
    StructField("sz", org.apache.spark.sql.types.IntegerType, nullable = true)))
  private[streaming] val SetsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sset", ArrayType(LongType, containsNull = false))))
  // the APPROXIMATE (signature-only) mode's ledgers: band rows without
  // `sz` (no shingle-set size exists — the estimator verify needs none)
  // and a 256 B/doc signature ledger in place of the O(tokens) sset one
  private[streaming] val ApproxBandsSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("bkey", LongType),
    StructField("id", LongType),
    StructField("kpfx", ArrayType(LongType), nullable = true)))
  private[streaming] val SigsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false))))
  private val VerdictSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("admitted", BooleanType),
    StructField("first_match", LongType)))
  // the incremental CLUSTER ledgers ([[clusterWriter]]): one label row per
  // doc, written in its own wave, plus append-only merge redirects — see
  // [[graft.dedup.IncrementalClusters]] for the state model
  private[streaming] val LabelsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("label", LongType)))
  private[streaming] val MergesSchema = StructType(Seq(
    StructField("old_label", LongType),
    StructField("new_label", LongType)))

  /** Committed band ledger (typed-empty on cold start): the (band,bkey)-
    * bucketed compacted table unioned with dirs committed since — the
    * table alone, partitioning intact, once fully compacted. */
  def ledgerBands(spark: SparkSession, bandsDir: String): DataFrame =
    LedgerCompaction.read(spark, bandsDir, BandsSchema)

  /** Committed shingle-set ledger (typed-empty on cold start); id-bucketed
    * at rest after [[compactLedgers]]. */
  def ledgerSets(spark: SparkSession, setsDir: String): DataFrame =
    LedgerCompaction.read(spark, setsDir, SetsSchema)

  /** Committed APPROX band ledger (typed-empty on cold start); (band,
    * bkey)-bucketed at rest after [[compactLedgersApprox]]. */
  def ledgerBandsApprox(spark: SparkSession, bandsDir: String): DataFrame =
    LedgerCompaction.read(spark, bandsDir, ApproxBandsSchema)

  /** Committed signature ledger (typed-empty on cold start); id-bucketed
    * at rest after [[compactLedgersApprox]] — 256 B per admitted doc,
    * the approx mode's ENTIRE verification state. */
  def ledgerSigs(spark: SparkSession, sigsDir: String): DataFrame =
    LedgerCompaction.read(spark, sigsDir, SigsSchema)

  /** Absorb both ledgers' `batch=` dirs into their bucketed tables —
    * bands on (band, bkey) (the candidate join's exact key), ssets on id
    * (the verification join's key) — via [[LedgerCompaction.compact]],
    * whose marker discipline makes each ledger's switch individually
    * atomic to readers. The two ledgers compact INDEPENDENTLY: admission
    * only needs each read to be complete for its committed batches, and a
    * crash between the two calls just leaves one ledger compacted and the
    * other absorbed on the next invocation (rows, not generations, carry
    * the semantics). Returns the active (bands, sets) table names.
    *
    * Band rows persisted BEFORE the kpfx/sz columns existed are BACKFILLED
    * here (see [[backfillBands]]), so one compaction upgrades a
    * pre-upgrade ledger in place and the admission join's null fallback
    * (per-shared-band duplicate candidates, no size prefilter) stops
    * firing for absorbed history. The bands compaction reads the sset
    * ledger's CURRENT committed rows for sz — safe, because a doc's sset
    * row commits in the same batch as its band rows ([[writer]]) and
    * compaction never removes rows.
    */
  def compactLedgers(spark: SparkSession, bandsDir: String, setsDir: String,
      buckets: Int = 8): (Option[String], Option[String]) =
    (LedgerCompaction.compact(spark, bandsDir, BandsSchema,
        Seq("band", "bkey"), buckets,
        backfillBands(ledgerSets(spark, setsDir))),
      LedgerCompaction.compact(spark, setsDir, SetsSchema,
        Seq("id"), buckets))

  /** [[compactLedgers]] for the APPROX mode's ledgers — bands bucketed on
    * (band, bkey) with the same kpfx backfill (minus `sz`, which this
    * mode's schema doesn't carry), signatures bucketed on id (the
    * estimator verify's join key, so a compacted sig ledger ships
    * nothing per batch). The two compact independently, as in the exact
    * mode: rows, not generations, carry the semantics.
    */
  def compactLedgersApprox(spark: SparkSession, bandsDir: String,
      sigsDir: String, buckets: Int = 8): (Option[String], Option[String]) =
    (LedgerCompaction.compact(spark, bandsDir, ApproxBandsSchema,
        Seq("band", "bkey"), buckets, backfillKpfx),
      LedgerCompaction.compact(spark, sigsDir, SigsSchema,
        Seq("id"), buckets))

  /** Rebuild kpfx/sz for band rows written before the columns existed
    * (read as null through [[BandsSchema]]): a doc's `kpfx` at band b is
    * the slice of its full band-key array below b, and the ledger holds
    * ALL of the doc's (band, bkey) rows — written atomically in one batch
    * — so the array reconstructs exactly from the doc's own rows, sorted
    * by band; `sz` is the doc's shingle-set size, joined from the sset
    * ledger (left join: a row whose sset is unreachable keeps sz null,
    * which every consumer treats as "prefilter passes"). Pure and
    * deterministic, as [[LedgerCompaction.compact]]'s transform contract
    * requires. Rows that already carry the columns pass through untouched;
    * a doc can never hold a MIX of pre- and post-upgrade rows (its 8 band
    * rows commit in one batch with one writer binary), so the group-by
    * always sees the doc's complete band set.
    */
  private def backfillBands(sets: DataFrame)(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val legacy = bands.filter(col("kpfx").isNull)
    val ok = bands.filter(col("kpfx").isNotNull)
    val rebuilt = rebuildKpfx(legacy)
      .join(sets.select(col("id"), size(col("sset")).as("sz")).distinct(),
        Seq("id"), "left")
      .select("band", "bkey", "id", "kpfx", "sz")
    ok.unionByName(rebuilt)
  }

  /** [[backfillBands]] for the APPROX band ledger: kpfx-only (this
    * schema carries no `sz`). Null-kpfx rows exist only when a foreign
    * producer appended bare (band, bkey, id) rows — the same rebuild
    * restores the admission join's first-shared-band pruning for them.
    */
  private def backfillKpfx(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    bands.filter(col("kpfx").isNotNull)
      .unionByName(rebuildKpfx(bands.filter(col("kpfx").isNull)))
  }

  /** Reconstruct (band, bkey, id, kpfx) from bare (band, bkey, id) rows:
    * a doc's `kpfx` at band b is the slice of its full band-key array
    * below b, and the ledger holds ALL of the doc's band rows (written
    * atomically in one batch), so the array rebuilds exactly from the
    * doc's own rows sorted by band. Pure and deterministic, as
    * [[LedgerCompaction.compact]]'s transform contract requires.
    */
  private def rebuildKpfx(legacy: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    legacy.select("band", "bkey", "id")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("band"), col("bkey")))).as("bb"))
      .select(col("id"),
        transform(col("bb"), e => e.getField("bkey")).as("bkeys"),
        explode(col("bb")).as("e"))
      .select(col("e.band").as("band"), col("e.bkey").as("bkey"), col("id"),
        slice(col("bkeys"), lit(1), col("e.band")).as("kpfx"))
  }

  /** Committed verdicts across all batches. */
  def verdicts(spark: SparkSession, verdictDir: String): DataFrame =
    IdempotentSink.readCommitted(spark, verdictDir, Some(VerdictSchema))

  /** Committed per-doc label ledger (typed-empty on cold start);
    * id-bucketed at rest after [[compactClusterLedgers]]. */
  def ledgerLabels(spark: SparkSession, labelsDir: String): DataFrame =
    LedgerCompaction.read(spark, labelsDir, LabelsSchema)

  /** Committed merge-redirect ledger (typed-empty on cold start);
    * old_label-bucketed and rewritten to depth-1 closure form by
    * [[compactClusterLedgers]]. */
  def ledgerMerges(spark: SparkSession, mergesDir: String): DataFrame =
    LedgerCompaction.read(spark, mergesDir, MergesSchema)

  /** Current cluster assignments from the ledger state — q107's output
    * shape ((doc_id, comp, csize), clusters of ≥ 2 only), equal to the
    * from-scratch pair plan + closure over everything the stream absorbed
    * (spec-pinned parity; q108 gates the batch fold against the same
    * oracle). */
  def clusterAssignments(spark: SparkSession, labelsDir: String,
      mergesDir: String): DataFrame =
    graft.dedup.IncrementalClusters.clusters(
      ledgerLabels(spark, labelsDir), ledgerMerges(spark, mergesDir))

  /** The `foreachBatch` function:
    * {{{
    * stream.writeStream.foreachBatch(
    *   NearDupStream.writer(out, bands, sets, "text", "doc_id", 0.5))
    * }}}
    * Emits one (doc_id, admitted, first_match) verdict row per batch doc
    * under `verdictDir/batch=<id>`, and the band/sset rows of ADMITTED
    * docs under the two ledger dirs.
    *
    * `compactEvery` runs [[compactLedgers]] on [[WaveCommit]]'s cadence.
    */
  def writer(verdictDir: String, bandsDir: String, setsDir: String,
      textCol: String, idCol: String, threshold: Double = 0.5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery,
        compactLedgers(_, bandsDir, setsDir)) { wave =>
      // ONE sketch leaf for the whole batch: sig and sset come from a
      // single shingle traversal (graft.functions.MinHashSigSet, sz = set
      // length), and admission plus BOTH ledger writes read its blocks,
      // so the shingle-hashing pass (the sketch stage's dominant cost)
      // runs once per wave. A leaf, not a persist: the verdict commit
      // reads it from several subtrees (WaveCommit's SCOPE).
      val toks = graft.text.TextFunctions.tokens(col(textCol))
      val sk = wave.leaf(wave.batch
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashSigSetPortable(toks)
           else graft.functions.Sketches.minhashSigSet(toks)).as("ms"))
        .select(col("id"), col("ms.sig").as("sig"), col("ms.sset").as("sset"))
        .withColumn("sz", org.apache.spark.sql.functions.size(col("sset"))))
      // hotBandCap = 4096: the long-lived at-rest band ledger is exactly
      // the hot-bucket-guard exposure (see Dedup.guardedCorpusCandidates)
      // — on the EXACT path identically to the approx one
      wave.commit(verdictDir, Dedup.MinHashLsh.nearDupAdmitSketched(
        sk, wave.batch,
        wave.ledger(bandsDir, BandsSchema), wave.ledger(setsDir, SetsSchema),
        threshold, wave.leaf, hotBandCap = 4096))
      val admittedSk = sk.join(wave.committed(verdictDir)
        .filter(col("admitted")).select(col("doc_id").as("id")), Seq("id"))
      wave.commit(bandsDir,
        Dedup.MinHashLsh.bandRowsOf(admittedSk.select("id", "sig", "sz")))
      wave.commit(setsDir, admittedSk.select("id", "sset"))
    }

  /** APPROXIMATE (signature-only) streaming admission — [[writer]] with
    * [[graft.dedup.Dedup.MinHashLsh.nearDupIncrementalLedgerApprox]]'s
    * estimator contract: a batch doc is rejected iff it shares ≥ 1
    * signature band with an ADMITTED doc or a smaller-id batch doc AND
    * the estimated similarity (signature agreement / 32) is ≥
    * `threshold`. Banding recall < 1 by design — the standard
    * LSH-approximate contract; [[writer]] remains the exact-verified
    * mode.
    *
    * The 100 TB payoff is the STATE: per admitted doc this mode persists
    * 8 band rows plus one 256 B signature — constant in document length —
    * where the exact mode's sset ledger re-encodes the corpus' tokens
    * (already 2× the band ledger's bytes at sf1, and at 100 TB it IS the
    * corpus). Per-wave compute drops too: ONE minhash kernel pass per
    * batch, no shingle-set materialization, no per-pair array
    * intersections — the verify stage is a codegen `sig_agreement` over
    * two 32-long arrays.
    *
    * Same [[WaveCommit]] protocol as [[writer]]; `compactEvery` runs
    * [[compactLedgersApprox]].
    */
  def approxWriter(verdictDir: String, bandsDir: String, sigsDir: String,
      textCol: String, idCol: String, threshold: Double = 0.5,
      portable: Boolean = false,
      compactEvery: Int = 0): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery,
        compactLedgersApprox(_, bandsDir, sigsDir)) { wave =>
      val toks = graft.text.TextFunctions.tokens(col(textCol))
      // ONE (id, sig) leaf per wave: admission (its verify-broadcast gate
      // counts it too) and both ledger writes read its blocks
      val sk = wave.leaf(wave.batch
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
           else graft.functions.Sketches.minhashTokens(toks)).as("sig")))
      wave.commit(verdictDir, Dedup.MinHashLsh.nearDupAdmitApproxSketched(
        sk, wave.ledger(bandsDir, ApproxBandsSchema),
        wave.ledger(sigsDir, SigsSchema),
        threshold, wave.leaf, hotBandCap = 4096))
      val admittedSk = sk.join(wave.committed(verdictDir)
        .filter(col("admitted")).select(col("doc_id").as("id")), Seq("id"))
      wave.commit(bandsDir, Dedup.MinHashLsh.bandRowsOfSigs(admittedSk))
      wave.commit(sigsDir, admittedSk.select("id", "sig"))
    }

  /** Incrementally-maintained APPROX duplicate CLUSTERS — the streaming
    * consumer the admission writers don't cover: every arriving doc (no
    * admission filter — clustering tracks the full corpus, as q107 does)
    * is folded into persisted per-doc cluster labels, so
    * [[clusterAssignments]] is current after every wave without re-running
    * the corpus-wide pair plan + closure. State model and per-wave
    * algorithm: [[graft.dedup.IncrementalClusters]]; the wave's edges come
    * from the same banded-candidate + estimator-verify kernel as
    * [[approxWriter]] (signature-only — no shingle set anywhere).
    *
    * Exactly-once across crash/replay by [[WaveCommit]]'s protocol, with
    * the commit order labels → merges → bands → sigs: the fold reads the
    * ledgers as committed before the wave, so a replay re-emits the first
    * attempt's rows. No durable re-read is needed: the fold is eager, and
    * the later sinks' frames read only the wave sketch (batch-source
    * lineage) and the CC result (driver- or checkpoint-backed, lineage
    * severed from the ledgers).
    *
    * `compactEvery` runs [[compactClusterLedgers]]. Unlike the admission
    * writers it DEFAULTS ON (every 16 waves): uncompacted merge chains
    * grow one level per merging wave, and while
    * [[graft.dedup.IncrementalClusters.resolveThrough]] now degrades
    * gracefully past depth 64 (full-closure fallback, never a wedge), a
    * cluster deployment that never compacts pays ledger-sized resolution
    * every wave — the cadence keeps steady-state chains shallow. Pass 0
    * to manage maintenance externally.
    */
  def clusterWriter(labelsDir: String, mergesDir: String, bandsDir: String,
      sigsDir: String, textCol: String, idCol: String,
      threshold: Double = 0.5, portable: Boolean = false,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery, compactClusterLedgers(_, labelsDir,
        mergesDir, bandsDir, sigsDir)) { wave =>
      val toks = graft.text.TextFunctions.tokens(col(textCol))
      val sk = wave.persist(wave.batch
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
           else graft.functions.Sketches.minhashTokens(toks)).as("sig")))
      // one count materializes the wave persist AND threads the verify-
      // broadcast gate (knownRows) — no second driver job inside the fold
      val waveRows = sk.count()
      val (labelRows, mergeRows) = graft.dedup.IncrementalClusters.foldWave(
        sk, wave.ledger(bandsDir, ApproxBandsSchema),
        wave.ledger(sigsDir, SigsSchema), wave.ledger(labelsDir, LabelsSchema),
        wave.ledger(mergesDir, MergesSchema),
        threshold, wave.persist, knownRows = Some(waveRows),
        hotBandCap = 4096)
      wave.commit(labelsDir, labelRows)
      wave.commit(mergesDir, mergeRows)
      wave.commit(bandsDir, Dedup.MinHashLsh.bandRowsOfSigs(sk))
      wave.commit(sigsDir, sk.select("id", "sig"))
    }

  /** [[clusterWriter]] under the EXACT-Jaccard contract: the wave's edges
    * come from [[graft.dedup.Dedup.MinHashLsh.exactVerifiedPairs]] (band
    * candidates verified on shingle sets), and the corpus state is the
    * exact admission mode's band + SSET ledgers — O(corpus tokens) at
    * rest, the price of exact semantics ([[clusterWriter]] is the
    * signature-only scale mode). Same labels → merges → bands → sets
    * commit order and replay argument; the fold's label/merge outputs are
    * driver-built frames with no ledger lineage at all. Gated end-to-end
    * by q110 (the batch fold against q109's from-scratch-closure oracle)
    * and the StreamingNearDupSpec exact-cluster case. `compactEvery` runs
    * [[compactClusterLedgersExact]], defaulting ON every 16 waves for
    * [[clusterWriter]]'s chain-depth reason.
    */
  def clusterWriterExact(labelsDir: String, mergesDir: String,
      bandsDir: String, setsDir: String, textCol: String, idCol: String,
      threshold: Double = 0.5, portable: Boolean = false,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery, compactClusterLedgersExact(_, labelsDir,
        mergesDir, bandsDir, setsDir)) { wave =>
      val toks = graft.text.TextFunctions.tokens(col(textCol))
      val sk = wave.persist(wave.batch
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashSigSetPortable(toks)
           else graft.functions.Sketches.minhashSigSet(toks)).as("ms"))
        .select(col("id"), col("ms.sig").as("sig"), col("ms.sset").as("sset"))
        .withColumn("sz", org.apache.spark.sql.functions.size(col("sset"))))
      val (labelRows, mergeRows) =
        graft.dedup.IncrementalClusters.foldWaveExact(
          sk, wave.batch, wave.ledger(bandsDir, BandsSchema),
          wave.ledger(setsDir, SetsSchema), wave.ledger(labelsDir, LabelsSchema),
          wave.ledger(mergesDir, MergesSchema), threshold, wave.persist,
          hotBandCap = 4096)
      wave.commit(labelsDir, labelRows)
      wave.commit(mergesDir, mergeRows)
      wave.commit(bandsDir,
        Dedup.MinHashLsh.bandRowsOf(sk.select("id", "sig", "sz")))
      wave.commit(setsDir, sk.select("id", "sset"))
    }

  /** [[compactClusterLedgers]] for the exact-mode cluster deployment:
    * labels/merges as there; bands under the EXACT schema with the
    * kpfx/sz backfill reading the sset ledger ([[compactLedgers]]' hook);
    * ssets id-bucketed. */
  def compactClusterLedgersExact(spark: SparkSession, labelsDir: String,
      mergesDir: String, bandsDir: String, setsDir: String,
      buckets: Int = 8): (Option[String], Option[String], Option[String],
        Option[String]) = {
    lazy val closure = graft.dedup.IncrementalClusters
      .mergeClosure(ledgerMerges(spark, mergesDir))
    (LedgerCompaction.compact(spark, labelsDir, LabelsSchema, Seq("id"),
        buckets, resolveLabelRows(closure)),
      LedgerCompaction.compact(spark, mergesDir, MergesSchema,
        Seq("old_label"), buckets, closureFormOf(closure)),
      LedgerCompaction.compact(spark, bandsDir, BandsSchema,
        Seq("band", "bkey"), buckets,
        backfillBands(ledgerSets(spark, setsDir))),
      LedgerCompaction.compact(spark, setsDir, SetsSchema,
        Seq("id"), buckets))
  }

  /** [[compactLedgersApprox]] extended to the cluster deployment's four
    * ledgers. Labels compact id-bucketed with their stored labels
    * REWRITTEN through the current merge closure (read from the merges
    * ledger's committed rows at compact time — safe for the same reason
    * [[compactLedgers]]' sz backfill reads the sset ledger: rows are only
    * ever added, and applying a merge redirect twice is a no-op). Merges
    * compact old_label-bucketed and rewritten to DEPTH-1 CLOSURE FORM
    * (old_label → final root): rows are never dropped — labels batch dirs
    * committed after the labels compaction still carry stale labels that
    * must keep resolving — but every chain collapses, so per-wave
    * resolution is one join until chains regrow. Bands/sigs compact as in
    * [[compactLedgersApprox]]. The four compact INDEPENDENTLY (rows, not
    * generations, carry the semantics); a crash between any two resumes
    * idempotently.
    */
  def compactClusterLedgers(spark: SparkSession, labelsDir: String,
      mergesDir: String, bandsDir: String, sigsDir: String,
      buckets: Int = 8): (Option[String], Option[String], Option[String],
        Option[String]) = {
    lazy val closure = graft.dedup.IncrementalClusters
      .mergeClosure(ledgerMerges(spark, mergesDir))
    (LedgerCompaction.compact(spark, labelsDir, LabelsSchema, Seq("id"),
        buckets, resolveLabelRows(closure)),
      LedgerCompaction.compact(spark, mergesDir, MergesSchema,
        Seq("old_label"), buckets, closureFormOf(closure)),
      LedgerCompaction.compact(spark, bandsDir, ApproxBandsSchema,
        Seq("band", "bkey"), buckets, backfillKpfx),
      LedgerCompaction.compact(spark, sigsDir, SigsSchema,
        Seq("id"), buckets))
  }

  /** Labels-compaction transform: redirect every stored label through the
    * merge closure. Pure and schema-preserving; no-op on already-resolved
    * rows. The closure frame is SHARED with the merges transform of the
    * same maintenance call (one closure computation per call, not two —
    * the closure's driver union-find recurs on every read-path use, so
    * sharing halves the maintenance cadence's recurring cost); under the
    * driver gate it is a parallelized local result, free to reuse. */
  private[streaming] def resolveLabelRows(closure: => DataFrame)(labels: DataFrame): DataFrame =
    labels
      .join(closure.withColumnRenamed("old_label", "label"),
        Seq("label"), "left")
      .select(col("id"),
        org.apache.spark.sql.functions.coalesce(
          col("root"), col("label")).as("label"))

  /** Merges-compaction transform: rewrite each redirect to its transitive
    * root (depth-1 closure form), keeping every old_label. The shared
    * closure is computed from the LEDGER's committed rows at apply time —
    * the same row SET as the transform's own input (batch dirs at or
    * below the generation version duplicate generation rows, and the
    * closure is duplicate-insensitive), so the rewrite stays pure. */
  private[streaming] def closureFormOf(closure: => DataFrame)(merges: DataFrame): DataFrame =
    closure
      .filter(col("old_label") =!= col("root"))
      .select(col("old_label"), col("root").as("new_label"))
}
