package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.similarity.VectorFunctions
import graft.text.TextFunctions

/** Deduplication operator family for training-data pipelines:
  *
  *  - [[exact]] — hash-groupBy on a normalized fingerprint. One shuffle on
  *    the 128-bit key; survivor = min id (deterministic).
  *  - [[MinHashLsh]] — near-dup via shingle→minhash→band→bucket-join. The
  *    LSH bands turn the O(n²) pair space into a shuffle join on band keys;
  *    candidates are then verified with EXACT Jaccard, so false positives
  *    never escape (false negatives bounded by the band/row parameters).
  *  - [[simhash]] — 64-bit charge-accumulation sketch; near-dups = small
  *    Hamming distance, candidate-blocked on 16-bit chunks (any pair within
  *    Hamming ≤ 3 shares at least one of 4 chunks — pigeonhole).
  *  - [[ngramJaccardPairs]] — exact n-gram Jaccard within a blocking key
  *    (the oracle-verifiable reference implementation of near-dup).
  *  - [[embeddingNearDup]] — semantic near-dup: cosine over embeddings.
  *
  * All sketches use deterministic seeds → replayable at any parallelism.
  */
object Dedup {

  /** Compute-once persist for an expensive SKETCH frame consumed by
    * several subtrees of one plan (candidate generation + verification +
    * duplicate stars): Spark shares work across subtrees only through
    * ReusedExchange, and per-branch column pruning makes the branches'
    * exchanges canonicalize unequal, so without the cache every branch
    * re-runs the sketch kernel — the dominant CPU of every near-dup
    * operator (measured at the 100× tier: 3× the minhash+shingle pass in
    * q31, ~90 s of ~310 s executor time). MEMORY_AND_DISK (the Dataset
    * default) spills instead of OOM; the CacheManager's semantic-equality
    * lookup makes the persist idempotent across repeated builds in one
    * session, and cached entries die with the session. At cluster scale
    * this is the "materialize the sketch table before pairwise analysis"
    * pattern — the cached bytes are O(corpus sketch), strictly smaller
    * than the O(branches · corpus) kernel work they replace.
    *
    * LIFECYCLE CONTRACT for long-lived callers: these persists are
    * registry-scoped, not query-scoped — release them between queries
    * via [[graft.core.TransientCache.clear]] (or wrap each query in
    * [[graft.core.TransientCache.scoped]]); an application invoking
    * dedup operators repeatedly without clearing accumulates cache
    * entries without bound. The streaming writers scope their own
    * per-wave persists and leaves ([[graft.streaming.WaveCommit]]) and
    * never register here.
    */
  private[dedup] def cachedSketch(df: DataFrame): DataFrame =
    graft.core.TransientCache.persist(df)

  /** Exact dedup: survivors + duplicate counts per normalized fingerprint. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Quality-aware exact dedup: per normalized fingerprint keep the row the
    * training pipeline most wants to keep — highest `scoreCol`, ties to the
    * smallest id (deterministic). One shuffle on the fingerprint (window
    * partition key); survivors carry the duplicate count.
    */
  def exactBest(df: DataFrame, textCol: String, idCol: String,
      scoreCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("score").desc, col(idCol))
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"),
        scoreCol.as("score"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("rn") === 1)
      .select(col("fp"), col(idCol).as("keep_id"), col("score").as("keep_score"),
        col("n_dups"))
  }

  /** Incremental exact dedup: dedupe a NEW batch against a persisted
    * fingerprint ledger (all fingerprints ever admitted) — the production
    * shape for continuously-ingested corpora, where re-deduping the full
    * corpus per batch would cost O(corpus) for an O(batch) question.
    * Returns the batch's survivors: one row per fingerprint that is new
    * within the batch (min id wins, with the batch duplicate count) AND
    * absent from the ledger. Appending the survivors' fingerprints to the
    * ledger afterwards is the caller's one-line state update.
    *
    * Scale shape: one shuffle of the BATCH on its fingerprint (group-by),
    * then a left-anti join against the ledger on the same key — the
    * batch side arrives already hash-partitioned on fp, so only the
    * ledger pays an exchange; a ledger bucketed on fp at rest (
    * [[graft.core.Layout.writeBucketed]]-style) joins with no shuffle at
    * all. Nothing scales with corpus × batch.
    */
  def exactIncremental(newDocs: DataFrame, textCol: String, idCol: String,
      seenFps: DataFrame): DataFrame =
    exact(newDocs, textCol, idCol)
      .join(seenFps.select(col("fp")).distinct(), Seq("fp"), "left_anti")

  // --- MinHash + LSH --------------------------------------------------------

  object MinHashLsh {
    val NumHashes = 32
    val Bands = 8
    val RowsPerBand: Int = NumHashes / Bands

    /** Upper bound (bytes, plan-time estimate) under which a verification
      * side table is broadcast instead of shuffled, settable per session
      * via `spark.graft.dedup.verifyBroadcastMaxBytes`. Plan-time parquet
      * estimates understate in-memory size (fileCompressionFactor
      * defaults to 1.0), so the 256 MB default leaves several-fold
      * headroom before a broadcast relation would pressure a modest
      * executor heap; deployments with fat executors can raise it.
      */
    def verifyBroadcastMaxBytes(spark: org.apache.spark.sql.SparkSession): BigInt = {
      val key = "spark.graft.dedup.verifyBroadcastMaxBytes"
      spark.conf.getOption(key).map { v =>
        val n =
          try v.trim.toLong
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"$key must be a plain byte count (got '$v'); size suffixes " +
                "like '256m' are not supported — write 268435456")
          }
        require(n > 0,
          s"$key must be positive (got $n); to disable broadcasting set it to 1")
        BigInt(n)
      }.getOrElse(BigInt(256L << 20))
    }

    /** The doc's [[Bands]] LSH band keys from its 32-long signature: per
      * band, xxhash64 of the band's [[RowsPerBand]] signature minima
      * joined with '_', plus the band index. Key identity only routes
      * shuffles and bucket joins — outputs carry signature VALUES, and
      * equal signature strings hash equal on any engine run, so the
      * portable oracles mirror the joined STRING, never the hash.
      */
    private[graft] def bandKeys(sig: Column): Column =
      array((0 until Bands).map { b =>
        xxhash64(concat_ws("_",
          (0 until RowsPerBand).map(r =>
            element_at(sig, b * RowsPerBand + r + 1)): _*), lit(b))
      }: _*)

    /** ~bytes per signature row when broadcast for estimator verification:
      * 32 longs (256 B) + id + UnsafeRow/array headers. Used by the
      * honest broadcast gate of the APPROX paths — their broadcast
      * payload is this fixed-width row, not the O(token) shingle sets
      * the exact paths ship, so gating on the input frame's plan-time
      * text-bytes estimate (the exact paths' honest bound) would be
      * conservative by the text-bytes / 300 B ratio and forfeit the
      * broadcast on exactly the large corpora the estimator targets.
      */
    private val SigRowBytes = 300L

    private def sigTableFits(rows: Long,
        spark: org.apache.spark.sql.SparkSession): Boolean =
      BigInt(rows) * SigRowBytes <= verifyBroadcastMaxBytes(spark)

    /** Near-dup EDGES from banded signatures, verified with exact Jaccard
      * over distinct shingle sets. Contract: the CONNECTED COMPONENTS of
      * the returned edge set equal the connected components of the full
      * `jaccard >= threshold` pair relation — cluster-level consumers
      * ([[Dedup.connectedComponents]], q76) lose nothing. The edge LIST
      * itself is neither the exhaustive pair list (within-group pairs are
      * star-collapsed) nor is its transitive closure the pair relation:
      * chaining two verified rep-level edges through a shared
      * representative can connect a pair whose direct jaccard is below
      * threshold. Consumers of the raw pair list (per-pair jaccard
      * analytics, pair counts) should verify pairs directly instead.
      *
      * Documents with IDENTICAL shingle sets collapse to a min-id
      * representative BEFORE banding (the same collapse
      * [[embeddingNearDupLsh]] and [[hammingClusterEdges]] apply): exact
      * duplicates share every band key — identical sets give identical
      * signatures — so a dup-heavy corpus (the actual dedup workload)
      * otherwise pays Σ|group|² candidate pairs in ALL bands before the
      * `distinct()` (measured: 149 s and superlinear at a 100× tier
      * through the full-pair path; collapsed, the tier is ~linear).
      * Collapsed groups come back as (rep, member, 1.0) star edges —
      * exact for identical sets — and closure is preserved: within-group
      * members chain through the star; a member's near-dups outside the
      * group have the member's exact jaccard to the REPRESENTATIVE
      * (identical sets ⇒ identical jaccard to every third set), so
      * rep-level verified edges carry them. The group key is
      * `xxhash64(sset)` — one long through the shuffle instead of the
      * full hashed-shingle array.
      *
      * Shuffle hygiene: only (band, key, id) rows — plus the doc's 8-long
      * band-key vector and set size, which pay for themselves below —
      * enter the banded self-join; a pair is emitted from its FIRST
      * shared band only (exact, no global distinct needed) and a lossless
      * size-ratio prefilter drops banding false positives before any
      * array moves. Verification then joins the candidate-pruned set
      * table back on id, broadcast when the input's plan-time size
      * estimate says it safely fits (measured 5.3× total-shuffle cut at
      * the 100× tier — the shuffled form ships one shingle array per
      * PAIR, which dup-dense corpora make output-sized), and shuffled —
      * the honest per-pair cost, never a memory cap — beyond that.
      */
    def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
        threshold: Double = 0.5, portable: Boolean = false): DataFrame = {
      // signature/shingle hashing is 10-100x the input bytes in CPU —
      // guard against a degenerate single-split scan serializing it
      val src = graft.core.Parallelism.ensure(
        df.select(col(idCol), col(textCol)))
      val toks = TextFunctions.tokens(col(textCol))
      // ONE shingle traversal computes both the candidate sketch (minhash
      // signature) and the verification set (sorted hashed shingles) —
      // graft.functions.MinHashSigSet. As two expressions this stage paid
      // the shingle-HASHING pass (md5 ~3×/token in portable mode, the
      // sketch stage's dominant cost) twice per document. The two-step
      // select keeps the struct in its own Project; CollapseProject
      // leaves it there (non-cheap expression referenced twice), so the
      // kernel runs once per row. The signature is a pure function of the
      // shingle SET, so identical sets stay interchangeable for both
      // banding and verification.
      // `portable = true` swaps the shingle hash for the md5-derived
      // 60-bit Sketches.hashTokenPortable — every downstream value
      // (signature minima, band membership, exact jaccard) is then
      // reproducible in DuckDB SQL and the whole query oracle-hash-gated;
      // band/group KEYS stay xxhash64 (key identity only routes the
      // shuffle — outputs carry values, and equal strings hash equal on
      // any engine run)
      val base = src.select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashSigSetPortable(toks)
           else graft.functions.Sketches.minhashSigSet(toks)).as("ms"))
        .select(col("id"), col("ms.sig").as("sig"), col("ms.sset").as("sset"))
      // PERSIST a SLIM sketch frame — signature + metadata, the shingle
      // set itself deliberately left OUT. Banding, the identical-set
      // stars, and the collapse agg are separate subtrees of the final
      // plan, and Spark shares work across subtrees only through
      // ReusedExchange — which per-branch column pruning defeats here
      // (measured at the 100× tier: the same full-array collapse
      // exchange executed SIX times, ~40 s of executor time each). The
      // slim cache kills those re-evaluations at ~160 B/doc; caching the
      // sset arrays too was measured STRICTLY WORSE — columnar-
      // serializing the O(corpus-token) arrays costs more than the one
      // extra kernel pass the verify branch pays below, and the entries
      // pressure every later query in the session. MEMORY_AND_DISK
      // spills instead of OOM; the CacheManager's semantic-equality
      // lookup makes the persist idempotent across repeated builds.
      val slim = cachedSketch(base.select(col("id"), col("sig"),
        size(col("sset")).as("sz"), xxhash64(col("sset")).as("sfp")))
      // identical-set collapse via AGGREGATION, not a window: sig is a
      // pure function of the shingle set and sfp fingerprints the set,
      // so first() per sfp group is exact — and partial (map-side)
      // aggregation collapses duplicate-set groups BEFORE the exchange.
      // Cached: the collapsed frame feeds banding AND the stars join.
      val reps = cachedSketch(slim.groupBy("sfp")
        .agg(min(col("id")).as("id"),
          first(col("sig")).as("sig"), first(col("sz")).as("sz")))
      // duplicate-set members point at their set's min id; the reps side
      // of this join is pruned to (sfp, rep) — two longs per distinct set
      val stars = slim.select(col("sfp"), col("id"))
        .join(reps.select(col("sfp"), col("id").as("rep")), Seq("sfp"))
        .filter(col("id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("jaccard"))
      // each banded row carries the doc's FULL band-key vector, not just
      // the exploded (band, bkey): similarity families make candidate
      // pairs collide in MANY of their 8 bands, and emitting the pair per
      // shared band multiplied the pair exchange by up to Bands before
      // the old distinct() could collapse it (measured at the 100× tier:
      // 4.5 GB of the suite-max 5.9 GB total was that one pre-distinct
      // exchange). With the vectors on both join sides, a pair is emitted
      // ONLY from its first shared band — an exact membership test, not a
      // heuristic: bkey equality IS bucket co-membership — so the emitted
      // pair list is globally duplicate-free and the global distinct()
      // disappears entirely. Cost: +8 longs per banded row through the
      // self-join exchange, O(corpus·Bands); saved: O(pairs·shared-bands)
      // — the side that explodes quadratically on dup-heavy corpora.
      val keyed = reps.select(col("id"), col("sz"),
        bandKeys(col("sig")).as("bkeys"))
      // ship only the PREFIX of the key vector the first-shared-band test
      // can inspect (bands strictly below this row's): avg Bands/2 longs
      // instead of Bands through the self-join exchange
      val banded = keyed
        .select(col("id"), col("sz"), col("bkeys"),
          posexplode(col("bkeys")).as(Seq("band", "bkey")))
        .select(col("id"), col("sz"), col("band"), col("bkey"),
          slice(col("bkeys"), lit(1), col("band")).as("kpfx"))
      val l = banded.select(col("band"), col("bkey"), col("id").as("id_a"),
        col("kpfx").as("keys_a"), col("sz").as("sz_a"))
      val r = banded.select(col("band"), col("bkey"), col("id").as("id_b"),
        col("kpfx").as("keys_b"), col("sz").as("sz_b"))
      val sharesEarlierBand = exists(
        zip_with(col("keys_a"), col("keys_b"), (ka, kb) => ka === kb),
        b => b)
      // lossless size prefilter (the q33 trick): |∩| ≤ min ⇒
      // jaccard ≤ min(|A|,|B|) / max(|A|,|B|) — a banding false positive
      // whose set sizes are too lopsided can never verify, so drop it
      // BEFORE its arrays ship (sizes ride the banded rows as one int)
      val sizesCompatible =
        col("sz_a") * lit(1.0) >= lit(threshold) * col("sz_b") &&
          col("sz_b") * lit(1.0) >= lit(threshold) * col("sz_a")
      // persisted: the pair list (two longs per candidate) is consumed by
      // the verify stream AND the set-pruning id list — without the cache
      // the banded self-join subtree re-evaluates per consumer
      val candidates = cachedSketch(l.join(r, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b") && !sharesEarlierBand &&
          sizesCompatible)
        .select("id_a", "id_b"))
      // exact verification over sorted hashed shingle sets: merge-scan
      // intersection, |∪| = |A|+|B|−|∩| — no per-pair hash sets or arrays.
      // The set table comes from ONE dedicated kernel pass over the raw
      // frame, NOT from the cache (ssets are deliberately not cached —
      // see `slim`) and NOT from a collapse agg: a rep's id is a member
      // id and identical-set members share their sset verbatim, so the
      // rep's own row in the uncollapsed sketch frame carries the
      // group's set — the semi-join below prunes to candidate ids before
      // any array enters an exchange either way
      val sets = base.select(col("id").as("sid"), col("sset"))
      // prune the set table to ids that SURVIVED BANDING before any array
      // enters an exchange: candidates are a small fraction of the corpus
      // (only dense-bucket members), while the unpruned join shipped every
      // rep's shingle array through both verification exchanges — measured
      // at the 100× tier this was the suite's largest shuffle (5.8 GB;
      // pruned: the array bytes track the candidate set instead). The
      // semi-join's id list is candidate-bounded, so AQE broadcasts it at
      // moderate tiers (map-side prune, arrays never shuffle for the semi)
      // and degrades to a shuffled semi-join — never worse than unpruned —
      // when candidates outgrow the broadcast threshold at 100 TB. The
      // candidate subplan appears in both the id list and the verify join
      // and is read from its persist above, so banding evaluates once.
      val candIds = candidates
        .select(explode(array(col("id_a"), col("id_b"))).as("sid")).distinct()
      val prunedSets = sets.join(candIds, Seq("sid"), "left_semi")
      val inter = graft.functions.Sketches
        .sortedIntersectBounded(col("set_a"), col("set_b"), threshold)
        .cast("double")
      // Verification join strategy. Dup-dense corpora (the actual dedup
      // workload) verify nearly every candidate, so the pair list is
      // output-sized and a shuffled verify join ships one shingle array
      // PER PAIR through its exchange — measured at the 100× tier that
      // single exchange was 4.5 GB of the suite-max 5.9 GB total, ~12M
      // pairs × ~370 B, and it scales with the pair count, not the
      // corpus. Broadcasting the (candidate-pruned) set table instead
      // ships each array once per executor and the pair stream never
      // re-partitions: measured 5.75 GB → 1.09 GB total shuffle,
      // identical output. The gate is the optimizer's plan-time size
      // estimate of the INPUT (no extra action; the semi-join output's
      // own estimate is no better — computed array columns get default
      // per-type widths, fiction either way — while input bytes bound
      // total sset bytes honestly: ~8 B of shingle hash per input word).
      // Past the gate the plan degrades to the shuffled pair-payload
      // join — the honest per-pair cost of exact verification — never a
      // driver OOM. The default (256 MB on-disk estimate,
      // `spark.graft.dedup.verifyBroadcastMaxBytes`) keeps the worst-case
      // in-memory relation ~1 GB even at several-fold parquet
      // decompression, and BOTH verify sides reference ONE un-projected
      // broadcast relation through aliases, so the exchanges canonicalize
      // equal and Spark plans a single BroadcastExchange + ReusedExchange
      // — half the former two-renamed-copies footprint.
      val setsBroadcastable =
        df.queryExecution.optimizedPlan.stats.sizeInBytes <=
          verifyBroadcastMaxBytes(df.sparkSession)
      val vs = if (setsBroadcastable) broadcast(prunedSets) else prunedSets
      candidates
        .join(vs.as("va"), col("id_a") === col("va.sid"))
        .join(vs.as("vb"), col("id_b") === col("vb.sid"))
        .withColumn("set_a", col("va.sset"))
        .withColumn("set_b", col("vb.sset"))
        .select(col("id_a"), col("id_b"),
          (inter / (size(col("set_a")) + size(col("set_b")) - inter))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .unionByName(stars)
    }

    /** APPROXIMATE near-dup pairs — the 100 TB fast path when exact
      * Jaccard is not required: similarity is ESTIMATED as the fraction
      * of agreeing MinHash signature components (the unbiased estimator
      * E[agreement] = jaccard), so the shingle SETS are never
      * materialized, cached, or shipped — per-doc state is the 32-long
      * signature (256 B) instead of the O(tokens) sorted shingle array,
      * and the verify stage's array joins/broadcasts disappear entirely.
      *
      * Contract (deliberately the standard LSH-approximate one, and what
      * the q105 oracle restates): the output is the pairs that (a) share
      * at least one of the 8 signature bands AND (b) have estimated
      * similarity ≥ `threshold`; identical-signature groups collapse to
      * rep-star edges with est = 1.0 (agreement of equal signatures is
      * 1.0 by definition). Banding recall is < 1 by design — a pair can
      * sit above the threshold yet collide in no band; callers needing
      * the exact thresholded relation use [[nearDupPairs]]. `est` is
      * matches/32 — a dyadic rational, exactly representable in a
      * double, so thresholding and oracle hashing are FP-safe.
      *
      * EAGER construction: building the returned frame runs the rep
      * count that drives the verify-broadcast gate (one cached aggregate
      * on the persisted rep sketch — the same cache every action reads),
      * so the sketch materializes even if the caller never executes the
      * frame, and the gate decision is frozen at construction time. The
      * one-shot query/bench callers this batch API serves always execute
      * it; latency-sensitive callers should construct it where they run it.
      */
    def nearDupPairsApprox(df: DataFrame, textCol: String, idCol: String,
        threshold: Double = 0.5, portable: Boolean = false): DataFrame = {
      require(threshold > 0 && threshold <= 1,
        s"similarity threshold must lie in (0, 1], got $threshold")
      val src = graft.core.Parallelism.ensure(
        df.select(col(idCol), col(textCol)))
      val toks = TextFunctions.tokens(col(textCol))
      // metadata-width sketch cache (id + 32-long signature): the collapse
      // agg, stars, and banding all read it — same cache-altitude rule as
      // [[nearDupPairs]], with nothing fat to leave out this time
      val slim = cachedSketch(src.select(col(idCol).as("id"),
        (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
         else graft.functions.Sketches.minhashTokens(toks)).as("sig")))
      // identical-SIGNATURE collapse (the approx analog of the exact
      // path's identical-set collapse): grouping key is the signature
      // array itself — 256 B, still metadata-width
      val reps = cachedSketch(slim.groupBy("sig")
        .agg(min(col("id")).as("id")))
      val stars = slim.select(col("sig"), col("id"))
        .join(reps.select(col("sig"), col("id").as("rep")), Seq("sig"))
        .filter(col("id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("id").as("id_b"),
          lit(1.0).as("est"))
      // banding + first-shared-band emission, verbatim from
      // [[nearDupPairs]] (no size prefilter — there is no set size)
      val keyed = reps.select(col("id"), bandKeys(col("sig")).as("bkeys"))
      val banded = keyed
        .select(col("id"), col("bkeys"),
          posexplode(col("bkeys")).as(Seq("band", "bkey")))
        .select(col("id"), col("band"), col("bkey"),
          slice(col("bkeys"), lit(1), col("band")).as("kpfx"))
      val l = banded.select(col("band"), col("bkey"), col("id").as("id_a"),
        col("kpfx").as("keys_a"))
      val r = banded.select(col("band"), col("bkey"), col("id").as("id_b"),
        col("kpfx").as("keys_b"))
      val sharesEarlierBand = exists(
        zip_with(col("keys_a"), col("keys_b"), (ka, kb) => ka === kb),
        b => b)
      val candidates = cachedSketch(l.join(r, Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b") && !sharesEarlierBand)
        .select("id_a", "id_b"))
      // estimate = positional agreement over the two signatures; the
      // signature table is candidate-pruned then broadcast under the same
      // configurable byte cap as the exact path's set table — but gated
      // on the SIGNATURE table's own honest estimate (rep count ×
      // SigRowBytes), not the input frame's plan-time size: the input's
      // stats include the fat text column, which overstated the 256 B/row
      // broadcast relation by orders of magnitude and forfeited the
      // broadcast join on exactly the large corpora this estimator path
      // exists for. The count() runs on the already-persisted reps frame,
      // so the action materializes the cache the query reads anyway —
      // one cached aggregate, no duplicated sketch work. Rep count bounds
      // the pruned table from above (pruning only removes rows), so the
      // gate never admits a relation larger than its estimate.
      val candIds = candidates
        .select(explode(array(col("id_a"), col("id_b"))).as("sid")).distinct()
      val sigs = reps.select(col("id").as("sid"), col("sig"))
        .join(candIds, Seq("sid"), "left_semi")
      val vs = if (sigTableFits(reps.count(), df.sparkSession)) broadcast(sigs)
        else sigs
      val matches =
        graft.functions.Sketches.sigAgreement(col("va.sig"), col("vb.sig"))
      candidates
        .join(vs.as("va"), col("id_a") === col("va.sid"))
        .join(vs.as("vb"), col("id_b") === col("vb.sid"))
        .select(col("id_a"), col("id_b"),
          (matches.cast("double") / lit(NumHashes.toDouble)).as("est"))
        .filter(col("est") >= threshold)
        .unionByName(stars)
    }

    /** Incremental near-dup ADMISSION — the near-dup analog of
      * [[Dedup.exactIncremental]], closing the production gap between
      * "exact dedup scales incrementally" (q100) and "near-dup runs as a
      * batch job" (q31): a continuously-ingested corpus must answer "is
      * this arriving document a near-duplicate of anything already
      * admitted?" without re-banding the corpus per batch.
      *
      * Semantics (one-pass, order-free, SQL-expressible): a batch doc is
      * REJECTED iff it verifies `jaccard >= threshold` against ANY corpus
      * doc or ANY smaller-id batch doc — not only against admitted ones
      * (the greedy admit-in-order alternative chains decisions through the
      * whole batch and is inherently sequential; this one-pass rule is
      * deterministic, parallelizes, and over-rejects only docs whose match
      * was itself rejected — conservative in the right direction for a
      * training corpus). Output: one row per batch doc with its verdict
      * and the smallest matching id.
      *
      * Scale shape: candidates come from the banded LSH join — the batch
      * side bands are O(batch); the corpus side bands are the SAME
      * (band, bkey, id) rows [[nearDupPairs]] produces, so production
      * persists them once, bucketed on (band, bkey), and each arriving
      * batch pays one bucket-pruned join against them plus the batch's
      * internal self-join — nothing re-scales with corpus × batch. The
      * shingle-set ledger joins in only for the verified-candidate ids.
      * Here both sides derive from the fixture split (even ids = admitted
      * corpus, odd = batch), mirroring q100's shape.
      */
    def nearDupIncremental(batch: DataFrame, corpus: DataFrame,
        textCol: String, idCol: String, threshold: Double = 0.5,
        portable: Boolean = false,
        scope: DataFrame => DataFrame = cachedSketch): DataFrame =
      nearDupIncrementalLedger(batch, textCol, idCol,
        bandsFor(corpus, textCol, idCol, portable),
        setsFor(corpus, textCol, idCol, portable), threshold, portable,
        scope)

    /** The (band, bkey, id, kpfx, sz) rows of a document frame — what
      * production PERSISTS (bucketed on (band, bkey)) as the near-dup
      * band ledger. Besides the banding triple, each row carries the two
      * columns [[nearDupIncrementalLedger]]'s q31-shape candidate join
      * needs on BOTH sides:
      *
      *  - `kpfx`: the doc's band keys for bands strictly below this
      *    row's — the first-shared-band test's inspection window (avg
      *    Bands/2 longs per row; it deletes the pair exchange's per-
      *    shared-band duplication AND the global distinct, the side that
      *    explodes on dup-dense corpora);
      *  - `sz`: the doc's shingle-SET size, one int — the lossless
      *    size-ratio prefilter's input, dropping banding false positives
      *    before any sset array moves.
      *
      * Cost of `sz` at write time: near zero — sig and sz come from ONE
      * shingle traversal ([[graft.functions.MinHashSigSize]]; a distinct
      * count over the already-hashed shingles rides the minhash pass).
      * sset VALUES still live only in the [[setsFor]] ledger; this table
      * stays band-key-shaped.
      *
      * Ledgers written before these columns existed read with them null —
      * [[graft.streaming.LedgerCompaction.read]] scans batch dirs WITH the
      * declared schema (parquet null-fills per pre-upgrade file) and
      * conforms old generation tables with typed nulls — and every
      * consumer below is null-safe (the prefilter passes unknown sizes;
      * the first-band test falls back to per-band emission, which
      * admission's count/min aggregate tolerates). The fallback is
      * TRANSIENT: [[graft.streaming.NearDupStream.compactLedgers]]
      * backfills kpfx from the doc's own band rows and sz from the sset
      * ledger at the next compaction.
      */
    def bandsFor(df: DataFrame, textCol: String, idCol: String,
        portable: Boolean = false): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      // sig and sz from ONE shingle traversal (MinHashSigSize): computing
      // them as two expressions paid the shingle-hashing pass twice per
      // doc — measured 2× on q104/NearDupStream waves when sz was first
      // added. The two-step select keeps the struct in its own Project;
      // CollapseProject leaves it there (non-cheap expression referenced
      // twice), so the kernel runs once per row.
      val base = graft.core.Parallelism.ensure(
          df.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashSigSizePortable(toks)
           else graft.functions.Sketches.minhashSigSize(toks)).as("ms"))
        .select(col("id"), col("ms.sig").as("sig"), col("ms.sz").as("sz"))
      bandRowsOf(base)
    }

    /** Band rows from an ALREADY-SKETCHED (id, sig, sz) frame — the
      * banding tail of [[bandsFor]], exposed so a caller that computed the
      * sketch once for several products (e.g.
      * [[graft.streaming.NearDupStream.writer]], which derives BOTH ledger
      * writes from one persisted sig+sset frame) doesn't re-tokenize and
      * re-hash per product. Same output contract as [[bandsFor]].
      */
    private[graft] def bandRowsOf(sk: DataFrame): DataFrame =
      sk.select(col("id"), col("sz"), bandKeys(col("sig")).as("bkeys"))
        .select(col("id"), col("bkeys"), col("sz"),
          posexplode(col("bkeys")).as(Seq("band", "bkey")))
        .select(col("band"), col("bkey"), col("id"),
          slice(col("bkeys"), lit(1), col("band")).as("kpfx"), col("sz"))

    /** The (id, sset) verification rows — the shingle-set ledger. */
    def setsFor(df: DataFrame, textCol: String, idCol: String,
        portable: Boolean = false): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      graft.core.Parallelism.ensure(df.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.shingleSetPortable(toks)
           else graft.functions.Sketches.shingleSet(toks)).as("sset"))
    }

    /** [[nearDupIncremental]] against PERSISTED ledgers: `corpusBands` =
      * (band, bkey, id) rows and `corpusSets` = (id, sset) rows of the
      * already-admitted corpus (what [[bandsFor]]/[[setsFor]] produce and
      * [[graft.streaming.NearDupStream]] maintains per micro-batch) — the
      * corpus is never re-tokenized, re-hashed, or re-banded; per-batch
      * cost is the batch's own sketching plus a bucket-prunable join
      * against the band ledger, with the sset ledger consulted only for
      * verified-candidate ids.
      */
    def nearDupIncrementalLedger(batch: DataFrame, textCol: String,
        idCol: String, corpusBands: DataFrame, corpusSets: DataFrame,
        threshold: Double = 0.5, portable: Boolean = false,
        scope: DataFrame => DataFrame = cachedSketch): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      // one-pass batch sketch (sig + sset in one shingle traversal, sz =
      // set length); the banding and verification branches below each
      // evaluate it lazily — a caller that PERSISTS the sketch first
      // ([[graft.streaming.NearDupStream.writer]]) pays the traversal
      // once for admission and both ledger writes together
      val sk = graft.core.Parallelism.ensure(
          batch.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashSigSetPortable(toks)
           else graft.functions.Sketches.minhashSigSet(toks)).as("ms"))
        .select(col("id"), col("ms.sig").as("sig"), col("ms.sset").as("sset"))
        .withColumn("sz", size(col("sset")))
      // batch-sized scope (cache or eager leaf — the caller's choice):
      // the banding and verification subtrees below would otherwise each
      // re-run the kernel over the batch
      nearDupAdmitSketched(scope(sk), batch, corpusBands, corpusSets,
        threshold, scope)
    }

    /** [[nearDupIncrementalLedger]] over an ALREADY-SKETCHED batch:
      * `sk` = (id, sig, sset, sz) rows (what the wrapper above derives via
      * [[graft.functions.MinHashSigSet]] — persist it to evaluate the
      * sketch once across admission and the ledger writes). `sizeHint` is
      * the RAW batch frame, used only for the verify-broadcast gate: its
      * plan-time input-size estimate bounds total sset bytes honestly
      * (~8 B of shingle hash per input word), where the sketch frame's
      * computed array columns get default per-type width fiction.
      */
    private[graft] def nearDupAdmitSketched(sk: DataFrame,
        sizeHint: DataFrame, corpusBands: DataFrame, corpusSets: DataFrame,
        threshold: Double,
        scope: DataFrame => DataFrame = cachedSketch,
        hotBandCap: Int = 0): DataFrame = {
      val verified = exactVerifiedPairs(sk, sizeHint, corpusBands,
        corpusSets, threshold, scope, hotBandCap)
      sk.select(col("id").as("doc_id"))
        .join(verified.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg((count(col("mid")) === 0).as("admitted"),
          min(col("mid")).as("first_match"))
    }

    /** The exact-Jaccard-VERIFIED (bid, mid) pairs of a sketched batch
      * against the exact-mode ledgers — the shared kernel of
      * [[nearDupAdmitSketched]] (verdict collapse) and
      * [[IncrementalClusters.foldWaveExact]] (cluster-ledger folding):
      * `bid` is a batch doc, `mid` a corpus doc or a smaller-id batch
      * doc, the pair shares ≥ 1 signature band and verifies
      * `jaccard ≥ threshold` on the shingle sets. With every doc's
      * band/sset rows appended per wave, the union over waves is exactly
      * [[nearDupPairs]]'s thresholded relation over the full corpus
      * (uncollapsed: identical-set stars are ordinary verified pairs) —
      * the identity q110 gates hash-exact against q109's oracle. Same
      * multiplicity caveat as [[approxVerifiedPairs]] (null-kpfx rows
      * emit per shared band; consumers absorb duplicates).
      */
    private[graft] def exactVerifiedPairs(sk: DataFrame,
        sizeHint: DataFrame, corpusBands: DataFrame, corpusSets: DataFrame,
        threshold: Double,
        scope: DataFrame => DataFrame = cachedSketch,
        hotBandCap: Int = 0): DataFrame = {
      // `scope` = compute-once persist for the batch-bounded mid-frames
      // several subtrees consume (the banded batch rows feed the corpus
      // probe and both sides of the within-batch self-join; the candidate
      // pair list feeds set pruning and both verify joins). Measured at
      // the 100× tier WITHOUT it: the same 110 MB banded-batch exchange
      // executed 11× (~17-25 s of executor time each) because the
      // differently-aliased consumer subtrees never canonicalize equal.
      // The default session-lifetime persist suits the one-shot batch
      // query; the STREAMING writer passes a wave-scoped eager leaf
      // released at wave end, so per-wave entries cannot accumulate
      // across an unbounded stream (graft.streaming.NearDupStream.writer).
      val spark = sk.sparkSession
      // verify-broadcast gate (the micro-batch is the small side by
      // construction; past the gate the plan degrades to the honest
      // shuffled per-pair join, never a driver OOM). Computed ONCE here
      // from the RAW batch frame's plan-time estimate — it honestly
      // bounds total sset bytes (~8 B of shingle hash per input word)
      // where the sketch frame's computed array columns get default
      // per-type width fiction — and shared with [[exactCandidates]]'
      // guard probe-key broadcast. Same configurable gate as
      // [[nearDupPairs]].
      val batchBroadcastable =
        sizeHint.queryExecution.optimizedPlan.stats.sizeInBytes <=
          verifyBroadcastMaxBytes(spark)
      val cand = exactCandidates(sk, corpusBands, threshold, scope,
        batchBroadcastable, hotBandCap)
      val batchSets = sk.select(col("id"), col("sset"))
      val inter = graft.functions.Sketches
        .sortedIntersectBounded(col("set_a"), col("set_b"), threshold)
        .cast("double")
      // The batch's own sset table appears on BOTH verify sides (set_a
      // for every candidate bid; set_b for within-batch mids). Pruned to
      // candidate-involved ids and broadcast — ONE relation, so the two
      // broadcast exchanges canonicalize equal and Spark evaluates it
      // once (ReusedExchange) — the candidate stream never re-partitions
      // after its corpus join: the old plan's per-PAIR sset shipping
      // through the bid exchange (measured at the 100× tier: q104's
      // 3.17 GB suite-max shuffle, paid again by every NearDupStream
      // micro-batch) collapses to one batch-bounded broadcast.
      val candIds = cand
        .select(explode(array(col("bid"), col("mid"))).as("id")).distinct()
      val prunedBatchSets = batchSets.join(candIds, Seq("id"), "left_semi")
      val bs = if (batchBroadcastable) broadcast(prunedBatchSets)
        else prunedBatchSets
      // attach the match side's sset PER SOURCE, not through a batch∪corpus
      // union: a union node discards the corpus ledger's output
      // partitioning, forcing a full exchange of every corpus sset array
      // on every micro-batch. Joined directly, a ledger compacted to an
      // id-bucketed table ([[graft.streaming.NearDupStream.compactLedgers]])
      // ships NOTHING — only the candidate side (batch-bounded) exchanges
      // (spec-pinned in StreamingNearDupSpec). A mid resolves on exactly
      // one side (ledger ids and batch ids are disjoint — a doc is either
      // admitted history or arriving), so the union of the two inner joins
      // is the same relation as the joined union.
      // both bs joins reference the SAME un-projected relation through
      // aliases (not per-side renames): the two broadcast exchanges then
      // canonicalize equal and plan as one BroadcastExchange + a
      // ReusedExchange, evaluating the batch re-sketch once
      val withB = cand
        .join(corpusSets.select(col("id").as("mid"), col("sset").as("set_b")),
          Seq("mid"))
        .unionByName(cand
          .join(bs.as("vbm"), col("mid") === col("vbm.id"))
          .select(col("bid"), col("mid"), col("vbm.sset").as("set_b")))
      withB
        .join(bs.as("vba"), col("bid") === col("vba.id"))
        .withColumn("set_a", col("vba.sset"))
        .filter(
          (inter / (size(col("set_a")) + size(col("set_b")) - inter))
            >= threshold)
        .select("bid", "mid")
    }

    /** Candidate (bid, mid) emission of [[exactVerifiedPairs]] — the
      * band-ledger probe plus within-batch self-join, split out (exactly
      * as [[approxCandidates]] is for the approx family) so BandStormSpec
      * can pin the hot-bucket guard's per-partition row distribution on
      * the exact path too. Returns the SCOPED candidate frame. */
    private[graft] def exactCandidates(sk: DataFrame,
        corpusBands: DataFrame, threshold: Double,
        scope: DataFrame => DataFrame, fits: Boolean,
        hotBandCap: Int = 0): DataFrame = {
      // DELIBERATELY cached unpartitioned: each consumer join re-exchanges
      // the ~110 MB banded batch (3× at the 100× tier — measured), but the
      // alternative — repartition(band, bkey) BEFORE the persist so the
      // cache carries the join partitioning — measured −220 MB shuffle
      // yet +2 s wall (≈ +18%) at that tier, A/B'd in one host window:
      // the repartition is a barrier that serializes cache
      // materialization ahead of every consumer, and it FREEZES the
      // (band, bkey) skew of dup-heavy buckets into all downstream
      // stages, where the per-join exchanges let AQE re-split hot
      // partitions adaptively per consumer.
      val bb = scope(bandRowsOf(sk.select("id", "sig", "sz")))
      // ledgers written before bandsFor carried kpfx/sz (schema
      // evolution) arrive without the columns; conform with nulls — every
      // predicate below is null-safe, and a Project on the bucketed table
      // scan preserves its (band, bkey) output partitioning
      val cb = Seq("kpfx" -> "array<bigint>", "sz" -> "int")
        .foldLeft(corpusBands) { case (d, (c, t)) =>
          if (d.columns.contains(c)) d
          else d.withColumn(c, lit(null).cast(t))
        }
      // candidate (batch id, match id): shared band vs corpus, or vs a
      // smaller batch id — a pair can only appear in one class (a doc id
      // is either in the ledger or in this batch). Plan shape ported from
      // [[nearDupPairs]] (measured there: 5.75 → 1.09 GB total shuffle at
      // the 100× tier, identical output):
      //  - a pair is emitted from its FIRST shared band only (exact —
      //    bkey equality IS bucket co-membership), so the per-shared-band
      //    duplication and the global distinct() both disappear;
      //  - the lossless size-ratio prefilter (|∩| ≤ min ⇒ jaccard ≤
      //    min/max) drops banding false positives before any sset array
      //    is ever fetched for them.
      // Null fallbacks for pre-upgrade ledger rows: an unknown size
      // passes the prefilter; an unknown key prefix emits the pair from
      // EVERY shared band — duplicate candidates, which the admission
      // aggregate (count/min) absorbs exactly, costing only duplicate
      // verify work until the next compaction rebuilds the columns
      // ([[graft.streaming.NearDupStream.compactLedgers]]).
      val sharesEarlierBand = exists(
        zip_with(col("kpfx_b"), col("kpfx_m"), (kb, km) => kb === km),
        x => x)
      val firstSharedOnly =
        col("kpfx_m").isNull || col("kpfx_b").isNull || !sharesEarlierBand
      val sizesCompatible = col("sz_m").isNull || col("sz_b").isNull ||
        (col("sz_b") * lit(1.0) >= lit(threshold) * col("sz_m") &&
          col("sz_m") * lit(1.0) >= lit(threshold) * col("sz_b"))
      val probe = bb.select(col("band"), col("bkey"), col("id").as("bid"),
        col("kpfx").as("kpfx_b"), col("sz").as("sz_b"))
      // corpus probe through the shared hot-bucket guard — see
      // [[guardedCorpusCandidates]]: the exact band ledger has the SAME
      // adversarial dup-storm exposure as the approx one (admitted docs
      // can legally share a band key below the JACCARD threshold exactly
      // as below the estimator threshold), so the exact streaming
      // writers ([[graft.streaming.NearDupStream.writer]] /
      // clusterWriterExact) pass hotBandCap = 4096 and the batch folds
      // keep 0, the scoping measured for the approx family.
      val candCorpus = guardedCorpusCandidates(probe,
        cb.select(col("band"), col("bkey"), col("id").as("mid"),
          col("kpfx").as("kpfx_m"), col("sz").as("sz_m")),
        firstSharedOnly && sizesCompatible, hotBandCap, fits, scope)
      val candBatch = probe
        .join(bb.select(col("band"), col("bkey"), col("id").as("mid"),
          col("kpfx").as("kpfx_m"), col("sz").as("sz_m")),
          Seq("band", "bkey"))
        .filter(col("mid") < col("bid") && firstSharedOnly && sizesCompatible)
        .select("bid", "mid")
      scope(candCorpus.unionByName(candBatch))
    }

    // --- APPROXIMATE (signature-only) admission ---------------------------

    /** The (id, sig) rows of a document frame — what production PERSISTS
      * (bucketed on id) as the APPROXIMATE near-dup signature ledger.
      * 256 B per document, NO shingle sets: the exact path's sset ledger
      * is O(corpus tokens) at rest (it IS the corpus, re-encoded as
      * hashed shingles — measured 2× the band ledger's bytes already at
      * sf1), while this ledger is a constant 32 longs per admitted doc
      * regardless of document length. The estimator admission below
      * verifies against THESE rows, so signature-only is a complete
      * admission mode, not just a pair query.
      */
    def sigsFor(df: DataFrame, textCol: String, idCol: String,
        portable: Boolean = false): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      graft.core.Parallelism.ensure(df.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
           else graft.functions.Sketches.minhashTokens(toks)).as("sig"))
    }

    /** The (band, bkey, id, kpfx) rows of a document frame — the
      * APPROXIMATE band ledger: [[bandsFor]] minus `sz` (the estimator
      * path has no shingle-set size and no size prefilter; `kpfx` — the
      * first-shared-band test's inspection window — survives unchanged,
      * it prunes candidate duplication identically in both modes).
      */
    def bandsForApprox(df: DataFrame, textCol: String, idCol: String,
        portable: Boolean = false): DataFrame =
      bandRowsOfSigs(sigsFor(df, textCol, idCol, portable))

    /** Banding tail of [[bandsForApprox]] over an ALREADY-SKETCHED
      * (id, sig) frame — the approx analog of [[bandRowsOf]], exposed so
      * [[graft.streaming.NearDupStream.approxWriter]] derives the band
      * ledger rows from its one persisted per-wave sketch.
      */
    private[graft] def bandRowsOfSigs(sk: DataFrame): DataFrame =
      sk.select(col("id"), bandKeys(col("sig")).as("bkeys"))
        .select(col("id"), col("bkeys"),
          posexplode(col("bkeys")).as(Seq("band", "bkey")))
        .select(col("band"), col("bkey"), col("id"),
          slice(col("bkeys"), lit(1), col("band")).as("kpfx"))

    /** APPROXIMATE incremental near-dup admission — [[nearDupIncremental]]
      * with [[nearDupPairsApprox]]'s estimator contract in place of exact
      * Jaccard verification: a batch doc is REJECTED iff it shares ≥ 1
      * signature band with a corpus doc or a smaller-id batch doc AND the
      * estimated similarity (`sig_agreement / 32`, E[agreement] =
      * jaccard) is ≥ `threshold`. Banding recall < 1 by design; callers
      * needing the exact thresholded admission use [[nearDupIncremental]].
      * The payoff is per-doc persisted state: 256 B of signature instead
      * of the O(tokens) shingle set — at 100 TB the exact mode's sset
      * ledger is corpus-sized, this one is row-count-sized.
      */
    def nearDupIncrementalApprox(batch: DataFrame, corpus: DataFrame,
        textCol: String, idCol: String, threshold: Double = 0.5,
        portable: Boolean = false,
        scope: DataFrame => DataFrame = cachedSketch): DataFrame =
      nearDupIncrementalLedgerApprox(batch, textCol, idCol,
        bandsForApprox(corpus, textCol, idCol, portable),
        sigsFor(corpus, textCol, idCol, portable), threshold, portable,
        scope)

    /** [[nearDupIncrementalApprox]] against PERSISTED ledgers:
      * `corpusBands` = (band, bkey, id, kpfx) rows and `corpusSigs` =
      * (id, sig) rows of the already-admitted corpus (what
      * [[bandsForApprox]]/[[sigsFor]] produce and
      * [[graft.streaming.NearDupStream.approxWriter]] maintains per
      * micro-batch). Per-batch cost is ONE minhash pass over the batch
      * (no shingle-set materialization at all) plus a bucket-prunable
      * join against the band ledger; the signature ledger is consulted
      * only for candidate mids.
      */
    def nearDupIncrementalLedgerApprox(batch: DataFrame, textCol: String,
        idCol: String, corpusBands: DataFrame, corpusSigs: DataFrame,
        threshold: Double = 0.5, portable: Boolean = false,
        scope: DataFrame => DataFrame = cachedSketch): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      val sk = graft.core.Parallelism.ensure(
          batch.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          (if (portable) graft.functions.Sketches.minhashTokensPortable(toks)
           else graft.functions.Sketches.minhashTokens(toks)).as("sig"))
      nearDupAdmitApproxSketched(scope(sk), corpusBands, corpusSigs,
        threshold, scope)
    }

    /** [[nearDupIncrementalLedgerApprox]] over an ALREADY-SKETCHED
      * (id, sig) batch. Same one-pass verdict protocol and plan shape as
      * [[nearDupAdmitSketched]] — first-shared-band candidate emission
      * (null-safe: a ledger row without `kpfx`, e.g. one written by a
      * foreign producer, falls back to per-shared-band emission, which
      * the count/min verdict aggregate absorbs exactly), per-source sig
      * joins so a bucketed ledger ships nothing, verdict-per-batch-doc —
      * with the estimator verify in place of the sset machinery: no
      * shingle sets are computed, cached, or shipped anywhere in this
      * plan. The batch sig table is candidate-pruned and broadcast under
      * the honest rows × [[SigRowBytes]] gate (the batch is the small
      * side by construction; past the cap the plan degrades to the
      * shuffled sig join, never a driver OOM).
      */
    private[graft] def nearDupAdmitApproxSketched(sk: DataFrame,
        corpusBands: DataFrame, corpusSigs: DataFrame, threshold: Double,
        scope: DataFrame => DataFrame = cachedSketch,
        knownRows: Option[Long] = None, hotBandCap: Int = 0): DataFrame = {
      val verified = approxVerifiedPairs(sk, corpusBands, corpusSigs,
        threshold, scope, knownRows, hotBandCap)
      sk.select(col("id").as("doc_id"))
        .join(verified.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left")
        .groupBy("doc_id")
        .agg((count(col("mid")) === 0).as("admitted"),
          min(col("mid")).as("first_match"))
    }

    /** The estimator-VERIFIED (bid, mid) pairs of a sketched batch against
      * the approx ledgers — the shared kernel of [[nearDupAdmitApproxSketched]]
      * (which collapses it to per-doc verdicts) and
      * [[IncrementalClusters.foldWave]] (which folds it into persisted
      * cluster labels): `bid` is a batch doc, `mid` a corpus doc or a
      * smaller-id batch doc, and the pair shares ≥ 1 signature band with
      * `sig_agreement / 32 ≥ threshold`. With every doc's bands appended
      * to the ledger each wave, the union of these pair sets over waves is
      * EXACTLY [[nearDupPairsApprox]]'s thresholded relation over the full
      * corpus (each unordered pair surfaces once, in the later endpoint's
      * wave) — the identity q108 gates hash-exact against q107's oracle.
      *
      * Multiplicity caveat: with `kpfx` present a pair is emitted from its
      * first shared band only (exactly once); a null-kpfx ledger row falls
      * back to per-shared-band emission — duplicate rows the admission
      * aggregate absorbs and cluster folding tolerates (CC is idempotent
      * under duplicate edges).
      *
      * `knownRows` threads an already-materialized batch count into the
      * broadcast gate (the streaming cluster writer counts its persisted
      * wave sketch once anyway) so constructing the plan schedules no
      * extra driver job; without it the gate counts `sk` itself — eager
      * construction, same caveat as [[nearDupPairsApprox]].
      */
    private[graft] def approxVerifiedPairs(sk: DataFrame,
        corpusBands: DataFrame, corpusSigs: DataFrame, threshold: Double,
        scope: DataFrame => DataFrame = cachedSketch,
        knownRows: Option[Long] = None, hotBandCap: Int = 0): DataFrame = {
      require(threshold > 0 && threshold <= 1,
        s"similarity threshold must lie in (0, 1], got $threshold")
      val spark = sk.sparkSession
      // honest gate reused for every wave-sized broadcast below; count
      // from the caller when it already materialized the wave sketch
      val batchRows = knownRows.getOrElse(sk.count())
      val fits = sigTableFits(batchRows, spark)
      val cand = approxCandidates(sk, corpusBands, scope, fits, hotBandCap)
      verifyApproxCandidates(sk, cand, corpusSigs, threshold, fits)
    }

    /** Candidate (bid, mid) emission of [[approxVerifiedPairs]] — split
      * out so BandStormSpec can pin the per-partition row distribution of
      * the hot-key guard directly. Returns the SCOPED candidate frame. */
    private[graft] def approxCandidates(sk: DataFrame,
        corpusBands: DataFrame, scope: DataFrame => DataFrame,
        fits: Boolean, hotBandCap: Int = 0): DataFrame = {
      // batch band rows — consumed by the corpus probe and both sides of
      // the within-batch self-join (same scoped-persist rationale as
      // [[nearDupAdmitSketched]]: differently-aliased consumer subtrees
      // never canonicalize equal, so unscoped each re-runs the kernel)
      val bb = scope(bandRowsOfSigs(sk))
      val cb =
        if (corpusBands.columns.contains("kpfx")) corpusBands
        else corpusBands.withColumn("kpfx", lit(null).cast("array<bigint>"))
      val sharesEarlierBand = exists(
        zip_with(col("kpfx_b"), col("kpfx_m"), (kb, km) => kb === km),
        x => x)
      val firstSharedOnly =
        col("kpfx_m").isNull || col("kpfx_b").isNull || !sharesEarlierBand
      val probe = bb.select(col("band"), col("bkey"), col("id").as("bid"),
        col("kpfx").as("kpfx_b"))
      val cbm = cb.select(col("band"), col("bkey"), col("id").as("mid"),
        col("kpfx").as("kpfx_m"))
      // corpus probe through the shared hot-bucket guard — see
      // [[guardedCorpusCandidates]] for the exposure and the cost
      // contract (streaming writers pass hotBandCap = 4096; batch folds
      // keep 0 — measured: always-on cost q108 8.2 → 19.1 s at sf0.1
      // for zero exposure).
      val candCorpus = guardedCorpusCandidates(probe, cbm,
        firstSharedOnly, hotBandCap, fits, scope)
      val candBatch = probe
        .join(bb.select(col("band"), col("bkey"), col("id").as("mid"),
          col("kpfx").as("kpfx_m")), Seq("band", "bkey"))
        .filter(col("mid") < col("bid") && firstSharedOnly)
        .select("bid", "mid")
      scope(candCorpus.unionByName(candBatch))
    }

    /** Estimator-verify tail of [[approxVerifiedPairs]] over an emitted
      * candidate frame. */
    private def verifyApproxCandidates(sk: DataFrame, cand: DataFrame,
        corpusSigs: DataFrame, threshold: Double, fits: Boolean): DataFrame = {
      // batch sigs pruned to candidate-involved ids, ONE broadcast
      // relation referenced through aliases on both verify sides
      // (BroadcastExchange + ReusedExchange, as in the exact path)
      val candIds = cand
        .select(explode(array(col("bid"), col("mid"))).as("id")).distinct()
      val prunedBatchSigs = sk.select(col("id"), col("sig"))
        .join(candIds, Seq("id"), "left_semi")
      // honest gate: batch rows × SigRowBytes; the candidate-pruned
      // relation is a subset, so the estimate bounds it from above (the
      // shared `fits` from the caller)
      val bs = if (fits) broadcast(prunedBatchSigs)
        else prunedBatchSigs
      // match-side sig attached PER SOURCE, never through a batch∪corpus
      // union (which would discard the compacted sig ledger's id-bucketed
      // output partitioning and re-exchange the ledger every micro-batch;
      // a mid resolves on exactly one side — ledger and batch ids are
      // disjoint)
      val withM = cand
        .join(corpusSigs.select(col("id").as("mid"), col("sig").as("sig_m")),
          Seq("mid"))
        .unionByName(cand
          .join(bs.as("vbm"), col("mid") === col("vbm.id"))
          .select(col("bid"), col("mid"), col("vbm.sig").as("sig_m")))
      val est = graft.functions.Sketches
        .sigAgreement(col("vba.sig"), col("sig_m"))
        .cast("double") / lit(NumHashes.toDouble)
      withM
        .join(bs.as("vba"), col("bid") === col("vba.id"))
        .filter(est >= threshold)
        .select("bid", "mid")
    }
  }

  /** HOT-BUCKET GUARD over the corpus-probe candidate join — the ONE
    * kernel shared by the exact ([[exactCandidates]]) and approximate
    * ([[approxCandidates]]) admission families, which have the SAME
    * band-ledger dup-storm exposure: unlike the media family's
    * admitted fingerprints (pairwise > maxHamming by construction, so
    * identical ledger keys are structurally impossible), ADMITTED docs
    * can legally share a band key while scoring below threshold —
    * below the signature-agreement estimate on the approx path and
    * below exact Jaccard on the exact path, identically (one full
    * band of shared minima is 4/32 agreement AND can be ≤ 4/60
    * Jaccard). An adversarial storm of near-identical-but-distinct
    * docs plants exactly that, every such ledger row lands in ONE
    * (band, bkey) bucket, and the plain bucketed equi-join emits that
    * bucket's candidates from ONE task (occupancy × probes-on-key
    * rows — the straggler BENCH_BAND_STORM.json measures on both
    * paths).
    *
    * Guard: per-key ledger occupancy over the WAVE'S OWN keys (one
    * extra band-ledger probe per wave, wave-key-pruned — never a
    * corpus-wide aggregate); keys past the cap leave the bucketed
    * join for a SALTED shuffled join — ledger rows salt by mid, probe
    * rows replicate per salt — spreading each hot key over
    * defaultParallelism tasks. Key-disjoint split + the caller's
    * per-row filter applied identically on both branches ⇒ the
    * emitted pair relation is IDENTICAL (the oracles gate
    * q105/q106/q31/q109/q110 either way); only the plan changes.
    *
    * COST CONTRACT: one ledger-frame probe + two broadcast-filtered
    * branches per wave, which only pays for itself where the exposure
    * exists — a LONG-LIVED AT-REST ledger whose (band, bkey)
    * bucketing co-locates a hot key in one partition. The STREAMING
    * writers (approxWriter, CurationStream, clusterWriter, and the
    * exact-mode writer/clusterWriterExact) pass hotBandCap = 4096;
    * the batch fold queries over in-memory wave unions keep the
    * default 0 (hot rows there are spread by upstream partitioning
    * anyway — measured: always-on cost q108 8.2 → 19.1 s at sf0.1 for
    * zero exposure). `spark.graft.dedup.hotBandCap` overrides per
    * session either way.
    *
    * SCOPE: the guard covers ONLY this corpus-probe join. The
    * within-batch self-join (candBatch in both callers) is
    * deliberately unguarded — a wave is bounded by the micro-batch
    * trigger, so its worst within-wave emission is wave-sized², a
    * bounded constant per wave, where the at-rest ledger's occupancy
    * grows without bound as the storm keeps arriving. A deployment
    * whose SOURCE can deliver adversarially large single waves bounds
    * them upstream (maxFilesPerTrigger / maxOffsetsPerTrigger), which
    * is the streaming-native control for exactly that.
    *
    * `probe` carries (keys…, bid, …), `cbm` (keys…, mid, …); `keys` is
    * the blocking-key column pair — (band, bkey) for the minhash band
    * ledgers, (chunk, ckey) for the media fingerprint chunk ledger
    * ([[fingerprintMatches]], which shares this guard for the same
    * storm); `rowFilter` is the caller's pair predicate over those
    * columns (first-shared-band on the approx path, + the size-ratio
    * prefilter on the exact path, the inline hamming verify on the
    * media path); `fits` gates the probe-key broadcast (the wave is the
    * small side by construction).
    */
  private[graft] def guardedCorpusCandidates(probe: DataFrame,
      cbm: DataFrame, rowFilter: Column, hotBandCap: Int, fits: Boolean,
      scope: DataFrame => DataFrame,
      keys: Seq[String] = Seq("band", "bkey")): DataFrame = {
    val keyCols = keys.map(col)
    val spark = probe.sparkSession
    val hotCap = spark.conf.getOption("spark.graft.dedup.hotBandCap")
      .map(_.toInt).getOrElse(hotBandCap)
    if (hotCap <= 0) probe
      .join(cbm, keys)
      .filter(rowFilter)
      .select("bid", "mid")
    else {
      val par = spark.sparkContext.defaultParallelism
      val probeKeys0 = probe.select(keyCols: _*).distinct()
      val probeKeys = if (fits) broadcast(probeKeys0) else probeKeys0
      val hotKeys = scope(cbm
        .join(probeKeys, keys, "left_semi")
        .groupBy(keyCols: _*).agg(count(lit(1)).as("occ"))
        .filter(col("occ") > hotCap)
        .select(keyCols: _*))
      val cold = probe
        .join(cbm.join(broadcast(hotKeys), keys, "left_anti"), keys)
        .filter(rowFilter)
        .select("bid", "mid")
      val hotLedger = cbm
        .join(broadcast(hotKeys), keys, "left_semi")
        .withColumn("salt", pmod(xxhash64(col("mid")), lit(par.toLong)))
        // the EXPLICIT spread: when the (small) replicated probe side
        // broadcasts, the join output inherits THIS partitioning — and
        // without it that is the bucketed layout with the whole hot key
        // in one partition, i.e. the straggler the guard exists to kill.
        // O(hot ledger rows) exchange, linear in occupancy.
        .repartition(par, col("salt"))
      val hotProbe = probe
        .join(broadcast(hotKeys), keys, "left_semi")
        .withColumn("salt",
          explode(sequence(lit(0L), lit(par.toLong - 1))))
      val hot = hotProbe
        .join(hotLedger, keys :+ "salt")
        .filter(rowFilter)
        .select("bid", "mid")
      cold.unionByName(hot)
    }
  }

  // --- SimHash --------------------------------------------------------------

  /** 64-bit simhash of the token array: bit b is set iff at least half the
    * token hashes have bit b set (charge accumulation with majority sign).
    * Native [[graft.functions.SimHash64]] expression — the declarative form
    * (64 `filter` passes per row) is interpreted and measured ~10× slower.
    */
  def simhash(toks: Column): Column = graft.functions.Sketches.simhash(toks)

  /** Near-dup pairs by simhash Hamming distance. Blocking: split the 64-bit
    * sketch into 4 16-bit chunks; by pigeonhole any pair with Hamming ≤ 3
    * agrees on ≥ 1 chunk, so the chunk join is lossless at maxHamming ≤ 3.
    * (8-bit chunks would extend the guarantee to Hamming ≤ 7 but measured
    * 2× slower here: smaller keys → denser buckets → more candidate pairs.)
    *
    * The identical-sketch collapse tier switches on by OCCUPANCY, the same
    * auto-sizing philosophy as [[graft.similarity.Ann.lshTopK]]'s banded
    * tables: the 4×16-bit chunk space holds 2¹⁶ buckets, so once the corpus
    * exceeds ~2·2¹⁶ sketches the buckets saturate and identical-sketch
    * groups start paying |group|² inside every chunk bucket — exactly when
    * the collapse's three reconstruction joins amortize. Measured at HEAD
    * (TimeQ min-of-3, local[32]): collapse OFF 0.59 / 1.03 / 9.3 s vs ON
    * 1.34 / 3.75 / 5.74 s at sf0.1 / sf1 / sf10 (6k / 50k / 500k docs) —
    * the crossover sits between 50k and 500k, consistent with the 131k
    * saturation gate. The `count()` that drives the gate is a
    * parquet-metadata read, not a data scan.
    *
    * The same gate turns on two-level sub-chunk blocking (`subSplit` —
    * composite (chunk, sub-chunk) keys, still lossless; see
    * [[hammingPairs]]): past saturation the 2¹⁶-bucket space can't get
    * sparser by re-chunking a fixed 64 bits — 4×16 is the optimum of the
    * single-level family, since pigeonhole needs ≥ maxHamming+1 chunks
    * and fewer/wider chunks are strictly sparser — so the adaptive move
    * is a second pigeonhole level, not a different width. Measured at
    * the 100× tier (same host, back-to-back): single-level 12.1 s /
    * 325 MB shuffle vs two-level 10.4 s / 653 MB (16 keys per sketch buy
    * a 2¹²-fold finer bucket space). The residual wall ratio vs the 10×
    * tier (~10×) is OUTPUT-driven, not a blocking defect: the fixture's
    * duplication density makes the exact hamming ≤ 3 pair relation grow
    * 9.5 k → 13.1 M rows (1374×) across that same step — per output row
    * the 100× tier is ~100× cheaper.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, portable: Boolean = false): DataFrame = {
    val src = graft.core.Parallelism.ensure(
      df.select(col(idCol), col(textCol)))
    // portable = md5-hashed 60-bit sketch (oracle-reproducible; see
    // SimHash64). Blocking is candidates-only machinery — the output is
    // the EXACT hamming-≤k pair set either way (pigeonhole lossless), so
    // an oracle needs to reproduce only the sketch, not the chunking.
    val sketch =
      if (portable) graft.functions.Sketches.simhashPortable _
      else simhash _
    // NOTE deliberately totalBits = 64 even for the 60-bit portable
    // sketch: chunking the live width (4×15) looked strictly better on
    // paper (equal bucket spaces), but measured WORSE at sf10 (Σ
    // occupancy² 1.51·10⁹ vs 1.20·10⁹, wall +40%) — simhash bits are
    // correlated, so which bits share a chunk dominates occupancy, not
    // the chunk's key-space size, and the 4×16 boundaries happen to
    // split the hot correlated groups better on text sketches.
    val saturated = df.count() > 2L * 65536
    // the (id, sh) frame is read by several blocking subtrees (group
    // collapse, chunk-join sides, member expansion) — cache it so the
    // md5-heavy sketch kernel runs once, not once per branch; 16 B/row
    hammingPairs(
      cachedSketch(src.select(col(idCol).as("id"),
        sketch(TextFunctions.tokens(col(textCol))).as("sh"))),
      "id", "sh", maxHamming,
      collapseIdentical = saturated, subSplit = saturated)
  }

  /** Near-dup pairs over ANY precomputed 64-bit sketch column (simhash,
    * image dHash, audio fingerprint …) by Hamming distance — the shared
    * blocking engine behind [[simhashPairs]] and
    * [[graft.multimodal.Multimodal]] image dedup.
    *
    * The sketch splits into `nChunks` equal bit chunks; by pigeonhole any
    * pair within Hamming ≤ nChunks−1 agrees on ≥ 1 chunk, so the chunk
    * equi-join is LOSSLESS for `maxHamming < nChunks` (enforced). More
    * chunks admit larger distances but shrink keys → denser buckets → more
    * candidate pairs (4×16-bit measured 2× faster than 8×8-bit on text
    * sketches); callers needing Hamming > 3 pay that knowingly via
    * `nChunks = 8`.
    *
    * `collapseIdentical` (default OFF) runs the blocking over DISTINCT
    * sketch values and reconstructs the exact full pair list afterwards —
    * the escape hatch for dup-heavy corpora, where identical-sketch
    * groups otherwise flood every chunk bucket quadratically. Measured on
    * the q32 fixture (500k docs / 322k distinct sketches, 100× tier):
    * candidates 1.98·10⁹ → 6.2·10⁸, but wall only 10.4 s → 8.9 s — the
    * codegen XOR/bit_count verify is cheap, so wall is output-bound
    * there — while at the 10× tier the collapse machinery's fixed stage
    * cost REGRESSES 1.2 s → 4.4 s. Flip it on when identical-group sizes
    * are large (exact-dup-heavy media/web corpora), where the quadratic
    * term dominates and the reconstruction is output-bound; for
    * cluster-level consumers [[hammingClusterEdges]] builds the collapse
    * in without any reconstruction cost.
    */
  def hammingPairs(sketches: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, nChunks: Int = 4,
      collapseIdentical: Boolean = false, totalBits: Int = 64,
      subSplit: Boolean = false): DataFrame = {
    // `totalBits` bounds the bit range the chunks cover (pigeonhole is
    // width-agnostic: hamming < nChunks ⇒ ≥ 1 chunk agrees, whatever the
    // chunk widths) — the knob exists for narrower sketches (e.g. 32-bit
    // fingerprints, where 4×16 would waste two chunks on constant zero
    // bits and halve the effective blocking). Counter-intuitively it is
    // NOT worth "fixing" the 60-bit portable simhash to 4×15: measured
    // at sf10, live-width chunking was ~25% MORE candidate volume —
    // sketch bits are correlated, so which bits share a chunk dominates
    // bucket occupancy, not each chunk's key-space size (see
    // [[simhashPairs]]).
    require(totalBits % nChunks == 0,
      s"nChunks must divide totalBits=$totalBits, got $nChunks")
    require(maxHamming < nChunks,
      s"pigeonhole blocking is lossy for maxHamming=$maxHamming at " +
        s"$nChunks chunks — need maxHamming < nChunks")
    require(!subSplit || (totalBits - totalBits / nChunks) % nChunks == 0,
      s"subSplit needs nChunks=$nChunks to divide the remaining " +
        s"${totalBits - totalBits / nChunks} bits evenly")
    val bits = totalBits / nChunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sh = sketches.select(col(idCol).as("id"), col(hashCol).as("sh"))
    // one blocking key per chunk — or, with `subSplit`, per (chunk,
    // sub-chunk): for each candidate clean chunk c the REMAINING bits are
    // repacked into one word and pigeonholed AGAIN into nChunks
    // sub-chunks. Lossless by the same argument applied twice: a pair
    // within maxHamming has a clean chunk c (≤ maxHamming < nChunks
    // diffs over nChunks chunks), and its remaining diffs — all of them,
    // since c is clean — leave one of the nChunks sub-chunks of the
    // repacked word clean, so the pair shares the composite key
    // (c, chunk value, j, sub value). nChunks² keys per sketch instead
    // of nChunks, but the effective bucket key grows from `bits` to
    // `bits + subBits` bits — the occupancy move that turns a saturated
    // bucket space back into a sparse one (see [[simhashPairs]] for the
    // measured crossover and gate).
    val subBits = (totalBits - bits) / nChunks
    val subMask = (1L << subBits) - 1
    def keysFor: Column =
      if (!subSplit)
        array((0 until nChunks).map(c => struct(
          lit(c).as("k"),
          shiftright(col("sh"), c * bits).bitwiseAND(lit(mask)).as("v"))): _*)
      else array((for { c <- 0 until nChunks; j <- 0 until nChunks } yield {
        // remaining word: bits above chunk c shifted down over the bits
        // below it — position-consistent for both pair members
        val lowMask = if (c == 0) 0L else (1L << (c * bits)) - 1
        val rem = shiftleft(shiftright(col("sh"), (c + 1) * bits), c * bits)
          .bitwiseOR(col("sh").bitwiseAND(lit(lowMask)))
        val ckey = shiftright(col("sh"), c * bits).bitwiseAND(lit(mask))
        val skey = shiftright(rem, j * subBits).bitwiseAND(lit(subMask))
        struct(lit(c * nChunks + j).as("k"),
          shiftleft(ckey, subBits).bitwiseOR(skey).as("v"))
      }): _*)
    def blocked(src: DataFrame, aCol: String, bCol: String,
        carry: Seq[String] = Nil): DataFrame = {
      val chunked = src.select(Seq(col("id"), col("sh")) ++ carry.map(col) ++
        Seq(explode(keysFor).as("kv")): _*)
        .select(Seq(col("id"), col("sh"), col("kv.k").as("chunk"),
          col("kv.v").as("ckey")) ++ carry.map(col): _*)
      def side(tag: String, idAs: String) = chunked.select(
        Seq(col("chunk"), col("ckey"), col("id").as(idAs),
          col("sh").as(s"sh_$tag")) ++
          carry.map(c => col(c).as(s"${c}_$tag")): _*)
      // filter BEFORE dedup: hamming is a pure function of the pair, so
      // duplicates across chunk meetings agree — dedup then shuffles only
      // the surviving near-dups, not every candidate pair
      side("a", aCol).join(side("b", bCol), Seq("chunk", "ckey"))
        .filter(col(aCol) < col(bCol))
        .withColumn("hamming",
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates(aCol, bCol)
        .drop("chunk", "ckey")
    }
    if (!collapseIdentical)
      blocked(sh, "id_a", "id_b").select("id_a", "id_b", "hamming")
    else {
      // IDENTICAL-sketch collapse before blocking, EXACT expansion after:
      // the chunk buckets see DISTINCT sketches only, so candidate volume
      // scales with distinct² instead of corpus² (measured q32 sf10:
      // 1.98·10⁹ candidate pairs raw vs 6.2·10⁸ collapsed — sketches are
      // low-entropy by design, identical-sketch groups flood every
      // bucket), and the full pair list is reconstructed exactly:
      // within-group pairs are hamming-0 by definition; a verified rep
      // pair expands by its two member lists. The expansion is tiered so
      // a mostly-unique corpus pays ~nothing: pairs whose BOTH sketch
      // groups are singletons (the bulk) pass through join-free, and only
      // pairs touching a multi-member group meet the (dup members only)
      // expansion joins — a left join whose null side falls back to the
      // representative itself. Every pair appears exactly once (within ⊓
      // cross = ∅ — same vs different sketch; the direct/expanded split
      // partitions rep pairs), so no output-sized dedup shuffle either.
      // See the docstring for when this pays; on already-distinct input
      // (e.g. [[hammingClusterEdges]]' representatives) it is pure
      // overhead — keep the flag off there.
      val groups = sh.groupBy("sh").agg(
        min("id").as("id"), count(lit(1)).as("m"))
      val repPairs = blocked(groups, "rep_a", "rep_b", carry = Seq("m"))
      val direct = repPairs.filter(col("m_a") === 1 && col("m_b") === 1)
        .select(col("rep_a").as("id_a"), col("rep_b").as("id_b"),
          col("hamming"))
      val dupSh = groups.filter(col("m") > 1).select("sh")
      val dupMembers = sh.join(dupSh, "sh")
      val within = dupMembers.select(col("sh"), col("id").as("id_a"))
        .join(dupMembers.select(col("sh"), col("id").as("id_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          lit(0).cast("integer").as("hamming"))
      val needExp = repPairs.filter(col("m_a") > 1 || col("m_b") > 1)
      val cross = needExp
        .join(dupMembers.select(col("sh").as("sh_a"), col("id").as("ia")),
          Seq("sh_a"), "left")
        .join(dupMembers.select(col("sh").as("sh_b"), col("id").as("ib")),
          Seq("sh_b"), "left")
        .select(
          least(coalesce(col("ia"), col("rep_a")),
            coalesce(col("ib"), col("rep_b"))).as("id_a"),
          greatest(coalesce(col("ia"), col("rep_a")),
            coalesce(col("ib"), col("rep_b"))).as("id_b"),
          col("hamming"))
      direct.unionByName(within).unionByName(cross)
    }
  }

  /** Near-dup EDGES sufficient for connected-component clustering over a
    * 64-bit sketch — NOT the full pair list. Rows with IDENTICAL sketches
    * collapse into one representative (star edges member→group-min
    * connect them), and Hamming blocking runs over DISTINCT sketch values
    * only. The component closure is provably identical to
    * [[hammingPairs]] + CC — within-group members chain through the star,
    * cross-group near-dups chain through their representatives — but pair
    * volume scales with distinct-sketch count², not corpus²: perceptual
    * hashes (image dHash) are low-entropy by design, so exact-duplicate
    * media otherwise flood every chunk bucket (measured: 100× shuffle
    * growth at a 10× tier through the full-pair path; distinct-collapsed,
    * the same tier is ~linear). Use [[hammingPairs]] when the pairs
    * themselves (with distances) are the product.
    */
  def hammingClusterEdges(sketches: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, nChunks: Int = 4): DataFrame = {
    val sh = sketches.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val groups = sh.groupBy("sh").agg(min("id").as("rep"))
    val stars = sh.join(groups, "sh").filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val repPairs = hammingPairs(
        groups.select(col("rep").as("id"), col("sh")),
        "id", "sh", maxHamming, nChunks, collapseIdentical = false)
      .select("id_a", "id_b")
    stars.unionByName(repPairs)
  }

  // --- fingerprint admission (multimodal near-dup, incremental) -------------

  /** Pigeonhole chunk-key rows (chunk, ckey, id, fp) of a 64-bit
    * fingerprint table — the persistable blocking index for INCREMENTAL
    * fingerprint admission ([[fingerprintAdmit]]): `nChunks` rows per
    * fingerprint, key derivation identical to [[hammingPairs]]' single-
    * level blocking so the same losslessness argument applies (hamming ≤
    * maxHamming < nChunks ⇒ ≥ 1 chunk agrees). The fingerprint itself
    * rides IN the row: at 8 bytes it is cheaper to denormalize than the
    * second (id-keyed) ledger join the text path needs for its 240 B
    * signatures — verification happens right on the candidate join's
    * output, no sig/sset lookaside ledger at all.
    */
  def fingerprintChunkRows(fps: DataFrame, idCol: String, fpCol: String,
      nChunks: Int = 4, totalBits: Int = 64): DataFrame = {
    require(totalBits % nChunks == 0,
      s"nChunks must divide totalBits=$totalBits, got $nChunks")
    val bits = totalBits / nChunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val keys = array((0 until nChunks).map(c => struct(
      lit(c).as("k"),
      shiftright(col("fp"), c * bits).bitwiseAND(lit(mask)).as("v"))): _*)
    fps.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .select(col("id"), col("fp"), explode(keys).as("kv"))
      .select(col("kv.k").as("chunk"), col("kv.v").as("ckey"),
        col("id"), col("fp"))
  }

  /** Incremental near-dup ADMISSION on 64-bit perceptual fingerprints
    * (image dHash, audio fingerprint, any [[hammingPairs]]-compatible
    * sketch): a batch doc is rejected iff its fingerprint lies within
    * `maxHamming` of a LEDGERED fingerprint or of a smaller-id doc in the
    * same batch — the one-pass verdict protocol of
    * [[MinHashLsh.nearDupIncrementalLedger]] (q104) transplanted to the
    * hamming metric, giving the multimodal family the same incremental/
    * streaming admission the text family has.
    *
    * Returns one (doc_id, admitted, first_match) row per batch doc
    * (first_match = min matching id, null when admitted). EXACT within
    * the hamming contract: the chunk blocking is lossless for
    * maxHamming < nChunks (pigeonhole), verification is a codegen
    * `bit_count(xor)` on the candidate row itself — the 8-byte
    * fingerprints ride in the chunk rows, so admission is ONE candidate
    * equi-join + an aggregate: no second ledger, no array kernels, no
    * broadcast gate to size.
    *
    * Scale shape: per-batch cost is the wave's chunk rows probing the
    * (chunk, ckey)-bucketed ledger (exchange-free on the ledger side once
    * compacted — [[graft.streaming.MediaDedupStream]]) plus a wave-sized
    * self-join; candidate volume is bounded by bucket occupancy, and the
    * admitted ledger can never develop identical-fingerprint hot buckets:
    * admitted docs are pairwise > maxHamming apart BY CONSTRUCTION, so
    * the dup-storm collapse the batch pair plans need
    * ([[hammingClusterEdges]]) is structurally unnecessary here.
    */
  def fingerprintAdmit(batch: DataFrame, idCol: String, fpCol: String,
      ledgerChunks: DataFrame, maxHamming: Int = 3, nChunks: Int = 4,
      totalBits: Int = 64,
      scope: DataFrame => DataFrame = cachedSketch,
      hotChunkCap: Int = 0): DataFrame = {
    val sh = batch.select(col(idCol).as("id"), col(fpCol).as("fp"))
    // a pair meeting in several chunks duplicates — min() absorbs it
    val matches =
      fingerprintMatches(sh, ledgerChunks, maxHamming, nChunks, totalBits,
        scope, hotChunkCap)
      .groupBy(col("bid").as("doc_id"))
      .agg(min(col("mid")).as("first_match"))
    sh.select(col("id").as("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("first_match").isNull.as("admitted"),
        col("first_match"))
  }

  /** MEDIA DECONTAMINATION: flag every corpus fingerprint within
    * `maxHamming` of a BENCHMARK (eval-set) fingerprint — the multimodal
    * sibling of [[graft.pipeline.Curation.decontaminate]]'s n-gram rule
    * (an eval image leaks into training as a resave/recompress, which
    * perceptual fingerprints map within a few bits of the original, not
    * byte-identical — hence hamming, not equality).
    *
    * Returns one (idCol, n_matched, first_match, contaminated) row per
    * corpus doc: n_matched = DISTINCT benchmark fingerprints within
    * range (chunk-meeting duplicates collapsed), first_match = min
    * matching benchmark id, null when clean.
    *
    * Scale shape mirrors the text gate: a benchmark is a FIXED eval
    * set, orders of magnitude smaller than the corpus, so its chunk
    * rows (≤ nChunks per image) ride a BROADCAST and the corpus side
    * never exchanges — the probe is a map-side equi-join on
    * (chunk, ckey) with the `bit_count(xor)` verify inline on the join
    * output (lossless for maxHamming < nChunks by pigeonhole); only
    * the match rows (output-sized) shuffle into the per-doc aggregate,
    * and the join-back rides the aggregate's broadcast. NO corpus
    * self-join: corpus-internal duplicates are [[fingerprintAdmit]]'s
    * business, not contamination's.
    */
  def fingerprintDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int = 3, nChunks: Int = 4,
      totalBits: Int = 64): DataFrame = {
    require(maxHamming < nChunks,
      s"pigeonhole blocking is lossy for maxHamming=$maxHamming at " +
        s"$nChunks chunks — need maxHamming < nChunks")
    val sh = corpus.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val probe = fingerprintChunkRows(sh, "id", "fp", nChunks, totalBits)
      .select(col("chunk"), col("ckey"),
        col("id").as("bid"), col("fp").as("fp_b"))
    val bench = fingerprintChunkRows(
      benchmark.select(col(idCol).as("id"), col(fpCol).as("fp")),
      "id", "fp", nChunks, totalBits)
      .select(col("chunk"), col("ckey"),
        col("id").as("mid"), col("fp").as("fp_m"))
    val matches = probe.join(broadcast(bench), Seq("chunk", "ckey"))
      .filter(bit_count(col("fp_b").bitwiseXOR(col("fp_m"))) <= maxHamming)
      .select("bid", "mid").dropDuplicates("bid", "mid")
      .groupBy(col("bid").as("id"))
      .agg(count(lit(1)).as("n_matched"), min(col("mid")).as("first_match"))
    sh.select(col("id"))
      .join(matches, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        col("first_match"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-wave verified fingerprint PAIRS — the edge kernel the incremental
    * media CLUSTER fold consumes ([[IncrementalClusters.foldEdgeFrame]] is
    * edge-source-agnostic): every hamming-≤-`maxHamming` pair whose LATER
    * endpoint is in the wave, against a chunk ledger of ALL prior docs
    * (not just admitted ones — clusters are over the full corpus, the
    * q108/q110 fixture shape) plus smaller ids within the wave. The union
    * over waves is exactly [[hammingPairs]]' relation over the full
    * corpus, so folding each wave's edges maintains
    * [[hammingClusterEdges]]-identical components incrementally (gated
    * hash-exact by q115 against q85's brute-force closure oracle).
    */
  def fingerprintVerifiedPairs(wave: DataFrame, idCol: String, fpCol: String,
      corpusChunks: DataFrame, maxHamming: Int = 3, nChunks: Int = 4,
      totalBits: Int = 64,
      scope: DataFrame => DataFrame = cachedSketch,
      hotChunkCap: Int = 0): DataFrame =
    fingerprintMatches(
      wave.select(col(idCol).as("id"), col(fpCol).as("fp")),
      corpusChunks, maxHamming, nChunks, totalBits, scope, hotChunkCap)
      .dropDuplicates("bid", "mid")

  /** Shared candidate+verify kernel of [[fingerprintAdmit]] /
    * [[fingerprintVerifiedPairs]]: (bid, mid) rows with possible
    * chunk-meeting duplicates (callers min-aggregate or dedup — both
    * wave-sized). ONE equi-join against the ledger + one within-wave
    * self-join; verification inline on the join output (fingerprints ride
    * in the chunk rows). */
  private[graft] def fingerprintMatches(sh: DataFrame,
      ledgerChunks: DataFrame, maxHamming: Int, nChunks: Int, totalBits: Int,
      scope: DataFrame => DataFrame, hotChunkCap: Int = 0): DataFrame = {
    require(maxHamming < nChunks,
      s"pigeonhole blocking is lossy for maxHamming=$maxHamming at " +
        s"$nChunks chunks — need maxHamming < nChunks")
    val bb = scope(fingerprintChunkRows(sh, "id", "fp", nChunks, totalBits))
    val probe = bb.select(col("chunk"), col("ckey"),
      col("id").as("bid"), col("fp").as("fp_b"))
    def matchSide(src: DataFrame) = src.select(col("chunk"), col("ckey"),
      col("id").as("mid"), col("fp").as("fp_m"))
    val hamOk = bit_count(col("fp_b").bitwiseXOR(col("fp_m"))) <= maxHamming
    // Ledger probe through the SAME hot-bucket guard as the band ledgers
    // ([[guardedCorpusCandidates]]): the chunk ledger's admitted
    // fingerprints are pairwise > maxHamming OVERALL, but a 16-bit CHUNK
    // value can legally coincide across any number of them — an
    // adversarial storm fixes one chunk's bits and randomizes the rest
    // (every doc admitted, hamming ~(totalBits−16)/2 apart) and the
    // (chunk, ckey)-bucketed ledger piles them into ONE bucket. Note the
    // alternative mitigation — two-level sub-chunk keys, the batch
    // simhash path's saturation move (`subSplit`) — does NOT close this:
    // the adversary fixes the composite (chunk+sub-chunk) bits instead
    // and still gets admitted at 64−28 free bits; occupancy-gated salting
    // is shape-independent. Streaming writers pass hotChunkCap = 4096,
    // batch folds keep 0 (same scoping rationale, and q85/q114/q115 gate
    // the relation identical either way). `fits = true`: the probe keys
    // are ≤ nChunks rows per batch doc and the guard is only enabled
    // from micro-batch-bounded streaming writers.
    val candLedger = guardedCorpusCandidates(probe, matchSide(ledgerChunks),
      hamOk, hotChunkCap, fits = true, scope, Seq("chunk", "ckey"))
    candLedger
      .unionByName(probe.join(matchSide(bb), Seq("chunk", "ckey"))
        .filter(col("mid") < col("bid") && hamOk)
        .select("bid", "mid"))
  }

  // --- exact n-gram Jaccard (oracle-verifiable reference path) --------------

  /** Exact token-set Jaccard for all pairs within a blocking column, made
    * scale-safe by LOSSLESS CANDIDATE FILTERING: a filter proposes a
    * candidate pair superset from an equi-join on content-derived keys
    * (never a block-wide cross product), and an exact verify computes
    * true Jaccard over the full sets.
    *
    * Why: the original (block, size-band) blocking left per-key pair
    * volume at O(|block|²). A 5-language corpus puts ~40% of every tier
    * in the `en` block — at the 100× tier that is ~10¹⁰ candidate pairs,
    * and the operator measurably did not complete.
    *
    * TWO filters, switched on the threshold (see [[HighThreshold]]):
    *  - t < 0.9 → [[prefixCandidates]] (AllPairs/PPJoin rare-token
    *    prefixes);
    *  - t ≥ 0.9 → [[deletionKeyCandidates]] (whole-set XOR keys with
    *    single-token deletions) UNIONED with [[prefixCandidates]] over
    *    only the documents of ≥ ⌈2t/(1−t)⌉ tokens — the proven-complete
    *    split: any qualifying pair the deletion scheme can miss has ≥ 2
    *    unmatched tokens on one side, which at threshold t forces both
    *    sizes ≥ 2t/(1−t), putting both endpoints in the prefix pool.
    *    Measured at the 100× tier: prefix-only candidates ≈ 4.4·10⁹
    *    (duplicate-heavy corpora share even their rarest tokens across
    *    tens of thousands of near-template docs), hybrid ≈ 3.7·10⁷.
    *
    * Verify (exact, so the filter can only admit extras that are then
    * exactly rejected — never lose a pair):
    *  - |∪| is derived as |A|+|B|−|A∩B| — no union array is built;
    *  - the intersection merge-scans PRE-HASHED sorted token sets
    *    (xxhash64 longs, computed once per row) — long equality beats
    *    repeated UTF8 hashing; a 64-bit collision inside one document
    *    pair is vanishingly improbable, and the result is oracle-checked;
    *  - the size-ratio prefilter (j ≤ min/max size) rides in every
    *    candidate join condition, and candidates are deduplicated before
    *    the verify joins.
    *
    * All joins are left to Catalyst: under the auto-broadcast threshold
    * it broadcasts on its own; above it, shuffle joins on their keys —
    * forcing a corpus-side broadcast would cap the operator at executor
    * memory, the exact cliff the MinHash path already avoids.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"jaccard threshold must lie in (0, 1], got $threshold")
    // deliberately NOT cached: the hashed-sorted token sets feed the
    // deletion-key and prefix candidate branches and the verify set
    // table, but the kernel here is tokenize+hash+sort — cheap enough
    // that re-running it per branch beats columnar-serializing the
    // O(corpus-token) tset arrays into a cache (measured at the 100×
    // tier: the cached variant was ~2× slower end-to-end on q76, the
    // cache write dominating)
    val base = graft.core.Parallelism.ensure(
        df.select(col(blockCol), col(idCol), col(textCol)))
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        array_sort(transform(array_distinct(TextFunctions.tokens(col(textCol))),
          t => xxhash64(t))).as("tset"))
      .withColumn("ts_n", size(col("tset")).cast("double"))
    val cands =
      if (threshold >= HighThreshold) {
        val p = math.ceil(2 * threshold / (1 - threshold))
        deletionKeyCandidates(base, threshold)
          .unionByName(prefixCandidates(
            base.filter(col("ts_n") >= lit(p)), threshold))
          .distinct()
      } else prefixCandidates(base, threshold).distinct()
    val sets = base.select(col("id"), col("tset"), col("ts_n"))
    val inter = graft.functions.Sketches
      .sortedIntersectBounded(col("set_a"), col("set_b"), threshold)
      .cast("double")
    cands
      .join(sets.select(col("id").as("id_a"), col("tset").as("set_a"),
        col("ts_n").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("tset").as("set_b"),
        col("ts_n").as("n_b")), "id_b")
      .select(col("block"), col("id_a"), col("id_b"),
        (inter / (col("n_a") + col("n_b") - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate-scheme switch point: at thresholds this high the deletion
    * scheme's per-side-difference bound (≤ 1 token) holds for every
    * document under 2t/(1−t) ≥ 18 tokens, which is where prefix buckets
    * on duplicate-heavy corpora stop being selective. Below it, prefix
    * lengths grow past what deletion keys could ever cover and the prefix
    * scheme is the right (and standard) tool.
    */
  private val HighThreshold = 0.9

  /** Single-token PREFIX-FILTER candidates (AllPairs/PPJoin family —
    * Bayardo et al. WWW'07, Xiao et al. WWW'08, reimplemented from the
    * published math): order every document's token set by GLOBAL document
    * frequency (rarest first; ties by hash — any shared total order is
    * correct, rare-first minimizes bucket sizes), emit only the first
    * p = |s| − ⌈t·|s|⌉ + 1 tokens as candidate keys, and equi-join on
    * (block, token). Lossless: j(A,B) ≥ t with the size filter
    * |B| ≥ t·|A| forces overlap o ≥ t·(|A|+|B|)/(1+t) ≥ ⌈t·|A|⌉ (and
    * symmetrically ≥ ⌈t·|B|⌉); the prefix lemma then guarantees two sets
    * with overlap ≥ α collide inside their (|s|−α+1)-prefixes, and p is
    * exactly that length at the minimum admissible overlap.
    *
    * Scale shape: token-df histogram (one partial-agg shuffle), df
    * join-back + per-doc prefix sort (token- then id-keyed shuffles, AQE
    * handles hot tokens), then the candidate equi-join on
    * (block, prefix-token) — everything linear in tokens plus the
    * candidate count the data actually admits.
    */
  private def prefixCandidates(base: DataFrame,
      threshold: Double): DataFrame = {
    val tok = base.select(col("id"), explode(col("tset")).as("t"))
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val plen = greatest(lit(1),
      (size(col("ord")) - ceil(lit(threshold) * size(col("ord"))) + 1)
        .cast("int"))
    val prefixes = tok.join(dfreq, "t")
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("t")))),
        s => s.getField("t")).as("ord"))
      .select(col("id"), slice(col("ord"), lit(1), plen).as("prefix"))
    // inner join: a zero-token document has no prefix rows and can never
    // reach threshold anyway (0/0 is null-jaccard, filtered before)
    val withP = base.join(prefixes, "id")
    val l = withP.select(col("block"), col("id").as("id_a"),
      col("ts_n").as("n_a"), explode(col("prefix")).as("pt"))
    val r = withP.select(col("block"), col("id").as("id_b"),
      col("ts_n").as("n_b"), explode(col("prefix")).as("pt"))
    l.join(r, Seq("block", "pt"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select(col("block"), col("id_a"), col("id_b"))
  }

  /** DELETION-KEY candidates for high thresholds: every document emits an
    * order-independent XOR hash of its full token set plus one key per
    * single-token deletion (n+1 keys); candidates are pairs sharing any
    * key within a block. Two sets with at most ONE unmatched token on
    * EACH side reach a common key (each deletes its extra), so the scheme
    * is lossless for |A∖B| ≤ 1 ∧ |B∖A| ≤ 1 — and at threshold t the
    * pairs it can miss (≥ 2 unmatched on some side) force BOTH sizes
    * ≥ 2t/(1−t) (from o ≥ t(m+n)/(1+t) and the size-ratio bound), which
    * is exactly the population [[ngramJaccardPairs]] routes through the
    * prefix pool as well.
    *
    * Why it exists: on duplicate-heavy low-vocabulary corpora (the dedup
    * workload), prefix buckets degenerate — the "rarest" token of a
    * document is still shared by tens of thousands of near-template
    * documents, and measured candidate volume at the 100× tier was ~10⁹⁺
    * for single-token AND token-pair prefixes alike. Deletion keys bucket
    * by (almost) the WHOLE set, so bucket size equals the actual
    * duplicate-group size: measured 37M candidates at the same tier —
    * linear in the corpus. XOR (not sum) keeps the combine safe under
    * ANSI long-overflow semantics; hash collisions only ADD candidates,
    * which the exact verify rejects.
    */
  private def deletionKeyCandidates(base: DataFrame,
      threshold: Double): DataFrame = {
    val fullKey = aggregate(col("tset"), lit(0L), (acc, x) => acc.bitwiseXOR(x))
    val emit = base.select(col("block"), col("id"), col("ts_n"),
      explode(array_union(array(fullKey),
        transform(col("tset"), x => fullKey.bitwiseXOR(x)))).as("dk"))
    val l = emit.select(col("block"), col("id").as("id_a"),
      col("ts_n").as("n_a"), col("dk"))
    val r = emit.select(col("block"), col("id").as("id_b"),
      col("ts_n").as("n_b"), col("dk"))
    l.join(r, Seq("block", "dk"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= lit(threshold) * greatest(col("n_a"), col("n_b")))
      .select(col("block"), col("id_a"), col("id_b"))
  }

  // --- embedding cosine near-dup --------------------------------------------

  /** Semantic near-dup: all pairs with cosine ≥ threshold. All-pairs here
    * (fixture-sized corpus); [[embeddingNearDupLsh]] is the blocked scale
    * path.
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.functions.FloatVecDot.norm2(col(vecCol)).as("n2"))
    // repartition the stream side: a small-file corpus is one parquet split,
    // and the O(n²) broadcast pair loop must not run on a single task
    val l = base.repartition(par)
      .select(col("id").as("id_a"), col("v").as("v_a"), col("n2").as("n2_a"))
    val r = base.select(col("id").as("id_b"), col("v").as("v_b"), col("n2").as("n2_b"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosinePrenormed(
          graft.functions.FloatVecDot.dot(col("v_a"), col("v_b")),
          col("n2_a"), col("n2_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // --- duplicate-cluster connected components ------------------------------

  /** Connected components over an undirected pair list — turns near-dup
    * PAIRS (any of the pair operators above) into CLUSTER assignments, the
    * form a dedup pipeline actually consumes (keep one survivor per
    * component, not per pair).
    *
    * Algorithm: min-label propagation with pointer jumping. Every node
    * starts labeled with its own id; each round a node adopts the minimum
    * of (its label, its neighbors' labels, its label's label). The last
    * term — `comp(comp(u))`, a self-join of the label table — is the
    * pointer-jumping step: it doubles the effective propagation distance
    * per round, so convergence needs O(log diameter) rounds instead of
    * O(diameter) (measured on the sf0.1 near-dup graph: 8 rounds → 3).
    * Labels only decrease, so the global label sum is strictly decreasing
    * until fixpoint — convergence is detected from that single scalar
    * aggregate (no per-row change join, no driver-side data). At fixpoint
    * labels are constant per component and idempotent, hence the component
    * minimum. `maxIter` rounds cover graphs of diameter ~2^maxIter.
    *
    * Scale shape: each round is one shuffle join (edges ⋈ labels on node
    * id) plus one partial-agg shuffle (min per node) — both on the same
    * key, both skew-handled by AQE. `labels` feeds into itself TWICE per
    * round (union + join), so without lineage truncation the analyzed plan
    * doubles every iteration — exponential. Each round is therefore
    * checkpointed: reliably if the session has a checkpoint dir (the
    * cluster setting — survives executor loss), else `localCheckpoint`
    * (executor-block-backed; right for local mode and short jobs). Ids
    * must be numeric (min ordering); doc ids here are int64.
    *
    * Checkpoint hygiene: superseded rounds are RELEASED as the loop
    * advances (reliable checkpoint files deleted, local-checkpoint blocks
    * unpersisted — GraphFrames-style), and the edge checkpoint is released
    * on exit, so a long-running session accumulates nothing. The RETURNED
    * frame stays backed by the final round's checkpoint — one round's
    * labels, the irreducible storage of the result; a caller that persists
    * the assignment elsewhere may drop it via the session checkpoint dir.
    */
  /** Directed-edge-row gate for the driver union-find fast path in
    * [[connectedComponents]]. Edges are streamed off the checkpointed
    * edge blocks as per-partition PACKED long arrays in one parallel
    * job (16 B per directed edge, ≤ 384 MB at the gate, released right
    * after the union-find pass; `toLocalIterator` was tried first and
    * its one-sequential-job-per-partition fetch cost ~5 s of q91's wall
    * alone). Durable driver state is per-NODE, all primitive arrays —
    * ids + parent + component-min + an open-addressed long→index table
    * (no boxed values) — ~55 B/node typical, ≤ ~90 B/node right after a
    * resize doubles the backing arrays. The degenerate worst case
    * (2 fresh nodes per directed edge, all 24M edges) is therefore a few
    * GB — sized for a standard multi-GB driver heap, never silently
    * beyond it — while real dedup graphs (dense near-dup cliques, nodes
    * ≪ edges) sit orders of magnitude below: the q91 graph's 19M
    * directed rows carry ~1M nodes ≈ 55 MB, closing in ~2 s of driver
    * union-find vs ~10 s of 8 pointer-jump rounds. The gate is the
    * caller's knob for thin-graph workloads on small drivers —
    * deployment-tunable via `spark.graft.dedup.ccDriverMaxEdges`
    * (directed-edge count): a 100 GB driver comfortably closes a
    * 100M-edge graph (1.6 GB transient blocks) in seconds where the
    * distributed loop pays log2(diameter) rounds of cluster scheduling.
    */
  private val DriverCcMaxDirectedEdges = 24L * 1000 * 1000

  private def ccDriverGate(spark: org.apache.spark.sql.SparkSession,
      fallback: Long): Long =
    spark.conf.getOption("spark.graft.dedup.ccDriverMaxEdges").map { v =>
      val n =
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.dedup.ccDriverMaxEdges must be a plain directed-" +
              s"edge count (got '$v')")
        }
      require(n >= 0,
        s"spark.graft.dedup.ccDriverMaxEdges must be >= 0 (got $n); 0 " +
          "forces the distributed pointer-jumping path")
      n
    }.getOrElse(fallback)

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      driverMaxEdges: Long = DriverCcMaxDirectedEdges): DataFrame = {
    // checkpointFresh = checkpoint + default stats + the FINAL plan's
    // hash partitioning on the new leaf. Fresh stats because the
    // pointer-jump round self-joins `labels`, so checkpoint-inherited
    // sizeInBytes estimates SQUARE each round and stats computation alone
    // becomes the driver bottleneck (million-bit BigInt products by round
    // ~14). Preserved partitioning because `edges` below is deliberately
    // repartitioned on the propagation join key — plain
    // Dataset.checkpoint under AQE records UnknownPartitioning and every
    // round's edges⋈delta join then re-exchanged the static edge list
    // (see GraftShim.checkpointFresh).
    def truncate(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftShim.checkpointFresh(df)
    // free a superseded truncated frame: the checkpointed RDD sits in the
    // plan as a LogicalRDD leaf — delete its files (reliable) or unpersist
    // its blocks (local). Safe immediately: checkpoint() is eager, so the
    // successor round was fully materialized before its parent is released.
    // the stats-reset wrapper (see truncate) puts a metrics RDD between
    // the LogicalRDD leaf and the checkpoint-backed ancestor, so walk the
    // (linear) dependency chain to the RDD that actually owns files/blocks
    @scala.annotation.tailrec
    def ckptAncestor(r: org.apache.spark.rdd.RDD[_]): Option[org.apache.spark.rdd.RDD[_]] =
      if (r.getCheckpointFile.isDefined ||
          r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Some(r)
      else r.dependencies.headOption.map(_.rdd) match {
        case Some(parent) => ckptAncestor(parent)
        case None => None
      }
    def release(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.flatMap(ckptAncestor).foreach { r =>
        r.getCheckpointFile match {
          case Some(f) =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          case None => r.unpersist(false)
        }
      }
    val half = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // directed edges via explode, NOT half.union(half.reversed): a union
    // references the ENTIRE upstream pair plan twice, and the two branches
    // race to materialize the same partitions concurrently inside one job
    // (task-level caching cannot dedup in-flight computation), so the
    // whole edge-producing plan — banding, verification, stars — executed
    // 2× per action (measured at the 100× tier: q76's every exchange
    // doubled, 2.3 GB total). One scan emitting both directions per row
    // costs the same bytes and evaluates the upstream exactly once.
    val directed = half.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // no dedup on the edge list: min-aggregation is idempotent, duplicate
    // edges change nothing downstream — a distinct() here would buy one
    // full shuffle of the edge list for zero semantic effect. Instead the
    // one shuffle we do pay hash-partitions edges by the propagation join
    // key, so every round's edges⋈labels join and the init groupBy reuse
    // that layout instead of re-exchanging the (static) edge list
    val edges = truncate(directed.repartition(col("src")))
    // Small-graph fast path: pointer-jumping pays O(log d) ROUNDS of
    // cluster scheduling — joins, aggregates, checkpoint materializations,
    // convergence actions — which on a small edge list is pure overhead
    // (measured at the 100× tier, q91: 8 rounds ≈ 12 s of ~30-task stages
    // over a few MB of labels). Below the gate the materialized edge list
    // is STREAMED to the driver (toLocalIterator over the stored blocks —
    // edges are never resident; only per-node primitive arrays are) and
    // closed with union-find + path compression: the exact same labels —
    // every node keyed to its component's MIN id — in one driver pass.
    // Above the gate nothing changes: the distributed loop is the only
    // shape that works when the edge list itself is big, and there the
    // real per-round work dwarfs the scheduling.
    val nDirected = edges.count()
    if (nDirected > 0 &&
        nDirected <= ccDriverGate(pairs.sparkSession, driverMaxEdges)) {
      // open-addressed long→index table over primitive arrays: a
      // LongMap[Int] boxes every value, tripling resident bytes per node
      // at gate-max graphs; this stays at 13 B/slot (≤ 26 B/node at the
      // ≤ 50% load-factor resize point)
      var cap = 1 << 11
      var tblKey = new Array[Long](cap)
      var tblVal = new Array[Int](cap)
      var tblUsed = new Array[Boolean](cap)
      var ids = new Array[Long](1024)
      var parent = new Array[Int](1024)
      var n = 0
      def slotOf(id: Long, keys: Array[Long], used: Array[Boolean]): Int = {
        val mix = id * -7046029254386353131L // fibonacci hashing
        var s = ((mix ^ (mix >>> 32)).toInt) & (keys.length - 1)
        while (used(s) && keys(s) != id) s = (s + 1) & (keys.length - 1)
        s
      }
      def nodeOf(id: Long): Int = {
        var s = slotOf(id, tblKey, tblUsed)
        if (tblUsed(s)) return tblVal(s)
        if (2 * (n + 1) > cap) { // grow at 50% load; rehash in place
          cap *= 2
          val nk = new Array[Long](cap)
          val nv = new Array[Int](cap)
          val nu = new Array[Boolean](cap)
          var i = 0
          while (i < tblKey.length) {
            if (tblUsed(i)) {
              val t = slotOf(tblKey(i), nk, nu)
              nk(t) = tblKey(i); nv(t) = tblVal(i); nu(t) = true
            }
            i += 1
          }
          tblKey = nk; tblVal = nv; tblUsed = nu
          s = slotOf(id, tblKey, tblUsed)
        }
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, 2 * n)
          parent = java.util.Arrays.copyOf(parent, 2 * n)
        }
        ids(n) = id; parent(n) = n
        tblKey(s) = id; tblVal(s) = n; tblUsed(s) = true
        n += 1; n - 1
      }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      // fetch edges as per-partition PACKED long arrays in ONE job, not
      // toLocalIterator: the iterator runs a separate sequential job per
      // partition (32 scheduling round-trips — measured ~5 s of q91's
      // wall was this fetch loop, vs ~2.4 s of actual executor work).
      // Resident cost is bounded and compact: 16 B per directed edge,
      // ≤ 384 MB at the 24M-edge gate, released as soon as the
      // union-find pass below consumes it — still orders of magnitude
      // under the per-node state the docstring budgets.
      val edgeBlocks: Array[Array[Long]] = edges.rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect()
      edgeBlocks.foreach { block =>
        var k = 0
        while (k < block.length) {
          val a = find(nodeOf(block(k))); val b = find(nodeOf(block(k + 1)))
          if (a != b) parent(a) = b
          k += 2
        }
      }
      release(edges)
      val minOf = new Array[Long](n)
      java.util.Arrays.fill(minOf, 0, n, Long.MaxValue)
      (0 until n).foreach { i =>
        val r = find(i); if (ids(i) < minOf(r)) minOf(r) = ids(i)
      }
      val comp = new Array[Long](n)
      (0 until n).foreach { i => comp(i) = minOf(find(i)) }
      System.err.println(s"[cc] driver union-find edges=$nDirected nodes=$n")
      val spark = pairs.sparkSession
      // distribute via parallelize + EXPLICIT sc.broadcast of the two
      // primitive arrays, NOT Seq.toDF and not a closure capture: a
      // LocalRelation of n tuples is boxed on the driver AND serialized
      // into every downstream consumer task, and a closure capturing the
      // arrays Java-serializes them into the task binary — at the
      // degenerate gate-max (~48M nodes) that is an extra ~770 MB driver
      // copy on top of the live arrays. Broadcast ships each array once
      // (torrent blocks, off the closure path); `ids` is trimmed to n
      // first so the copyOf-doubled capacity tail never travels. The
      // per-row boxing of Row(long, long) happens on executors.
      val bIds = spark.sparkContext.broadcast(java.util.Arrays.copyOf(ids, n))
      val bComp = spark.sparkContext.broadcast(comp)
      val slices = math.max(1, math.min(
        spark.sparkContext.defaultParallelism, n / 65536 + 1))
      val rdd = spark.sparkContext.parallelize(0 until n, slices)
        .mapPartitions { it =>
          val idsF = bIds.value; val compF = bComp.value
          it.map(i => org.apache.spark.sql.Row(idsF(i), compF(i)))
        }
      return spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = false))))
    }
    // init fuses the first propagation round: label(u) = min({u} ∪ N(u))
    // straight off the grouped edge list — one aggregation, no join. For
    // the dominant near-dup shape (dense cliques) this alone is the
    // fixpoint, so the loop typically runs once to confirm convergence.
    var labels = truncate(edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("comp")))
    // decimal(38,0) sum: overflow-proof at any node count (int64 sums
    // overflow around 10^10 nodes with 10-digit ids). Empty input sums to
    // null → ZERO, so a pairless corpus converges immediately to an empty
    // assignment instead of NPE-ing.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    // per-round observability for scale runs (stderr, one line per round):
    // the loop's cost model is "rounds × (join+agg+checkpoint)" — when a
    // corpus misbehaves the first question is always which round blew up
    val t0 = System.nanoTime()
    def logRound(tag: String): Unit =
      System.err.println(f"[cc] $tag iter=$iter%d t=${(System.nanoTime() - t0) / 1e9}%.1fs")
    logRound("init")
    // sum() over zero rows is null → ZERO, so a nonzero sum proves the graph
    // is non-empty without a separate isEmpty job; the structural check only
    // runs when the sum is 0 (empty graph, or labels summing to zero — the
    // latter just takes one confirming loop round)
    var converged = prevSum.signum == 0 && labels.isEmpty
    // DELTA propagation: only labels that CHANGED last round enter the
    // edge join and the pointer jumps. The full-labels form re-propagated
    // every STABLE label through the edge-sized join every round —
    // measured on q107's 34M-directed-edge graph: 263 MB of shuffle per
    // round × 5 rounds, ~85% of it labels that had already converged.
    // Sound because `labels` is the CUMULATIVE min (the groupBy below
    // retains every previously-applied contribution) and each rule's
    // output is re-derived in the round after ANY of its inputs changes:
    //  - prop(src→dst): edges are static, so only a changed src label
    //    yields a new contribution;
    //  - jump comp(u) ← comp(comp(u)): re-derived when the POINTEE's
    //    label changes (jump1, delta on the comp side) AND when the
    //    pointer itself changes (jump2, delta on the u side) — a node
    //    acquiring a new pointer c must read comp(c) even though c's own
    //    label is old.
    // Same monotone operator, same least fixpoint, same ~log2(diameter)
    // round count — only the per-round traffic shrinks with the delta.
    var delta = labels // round 1 propagates everything (post-init state)
    while (iter < maxIter && !converged) {
      val prop = edges.join(delta.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      // pointer jump: comp(u) ← comp(comp(u)). Every comp value is itself a
      // node id (it is the min of a set of node ids), so the inner join
      // drops nothing; the jump rows only ever LOWER a node's label.
      val jump1 = labels.join(
          delta.select(col("id").as("comp"), col("comp").as("comp2")), "comp")
        .select(col("id"), col("comp2").as("comp"))
      val jump2 = delta.join(
          labels.select(col("id").as("comp"), col("comp").as("comp2")), "comp")
        .select(col("id"), col("comp2").as("comp"))
      val next = truncate(
        labels.union(prop).union(jump1).union(jump2)
          .groupBy("id").agg(min("comp").as("comp")))
      val s = labelSum(next)
      // next round's delta: ids whose label LOWERED this round (labels
      // only ever decrease, so inequality is the full change set)
      val nd = truncate(next
        .join(labels.withColumnRenamed("comp", "oldc"), "id")
        .filter(col("comp") < col("oldc"))
        .select("id", "comp"))
      if (!(delta eq labels)) release(delta)
      release(labels)
      labels = next
      delta = nd
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
      logRound("round")
    }
    if (!(delta eq labels)) release(delta)
    release(edges)
    // partially propagated labels would silently split one component into
    // several "clusters" (several dedup survivors) — refuse instead; the
    // refused frame is useless to any caller, so release it too (otherwise
    // the failure path would be the one place checkpoints accumulate)
    if (!converged) release(labels)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds: the pair " +
        "graph has a longer chain than pointer-jumping can close in " +
        s"$maxIter rounds — raise maxIter (rounds needed ~ log2(diameter))")
    labels
  }

  /** Scale path for embedding near-dup: BANDED sign-random-projection LSH.
    *
    * `nTables` independent hash tables, each keyed on `bitsPerTable` sign
    * bits of deterministic random hyperplanes (OR-of-ANDs amplification —
    * the hyperplane analogue of MinHash banding). A pair collides in one
    * table with prob (1−θ/π)^bitsPerTable, so near-identical vectors
    * (θ→0) collide almost surely in some table while random pairs
    * (θ≈π/2, bit-match prob ½) survive a table with prob 2^-bitsPerTable.
    * The previous single-table + 1-bit-multiprobe design kept a FIXED
    * 2^nPlanes bucket count, so bucket occupancy — and candidate volume —
    * grew as n²/2^nPlanes: measured 1.7 s → 390 s for a 10× step at the
    * 100× tier (≈1.4·10⁹ candidate pairs at 256 buckets over 200k
    * vectors). Banding keeps the per-table random-collision RATE constant
    * (5 tables × 12 bits: ≈5·n²/2¹³ — and those are cheap key matches,
    * verified pairs stay sparse), with recall ≥95% at cosine 0.98 by the
    * formula above. Every emitted pair is still exact-cosine-verified, so
    * false positives never escape; the parameter-bounded recall is the
    * standard trade at corpus sizes where n² is impossible.
    *
    * Identical vectors are collapsed to a representative BEFORE the table
    * join (the [[SemanticDedup]]/image-path lesson: a dup-heavy corpus —
    * the actual dedup workload — concentrates identical embeddings into
    * one bucket of every table, reintroducing |group|² exactly where the
    * corpus is most duplicated) and returned as (rep, member, 1.0) star
    * edges. The output is an edge set whose transitive closure equals the
    * full qualifying-pair relation's: identical vectors have identical
    * cosines to every third vector, so rep-level edges plus the stars
    * close over exactly the member-level pairs.
    */
  def embeddingNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nTables: Int = 5, bitsPerTable: Int = 12,
      dim: Int = 64): DataFrame = {
    import graft.similarity.Ann
    val grouped = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vfp", xxhash64(col("v")))
      .withColumn("rep", min("id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("vfp")))
    val stars = grouped.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("cosine"))
    val allPlanes = Ann.planes(nTables * bitsPerTable, dim)
    val keys = array((0 until nTables).map { t =>
      xxhash64(Ann.signature(col("v"),
        allPlanes.slice(t * bitsPerTable, (t + 1) * bitsPerTable)), lit(t))
    }: _*)
    val base = grouped.filter(col("id") === col("rep"))
      .select(col("id"), col("v"),
        graft.functions.FloatVecDot.norm2(col("v")).as("n2"))
    val l = base.select(col("id").as("id_a"), col("v").as("v_a"),
      col("n2").as("n2_a"), explode(keys).as("bkt"))
    val r = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("n2").as("n2_b"), explode(keys).as("bkt"))
    l.join(r, Seq("bkt")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosinePrenormed(
          graft.functions.FloatVecDot.dot(col("v_a"), col("v_b")),
          col("n2_a"), col("n2_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .unionByName(stars)
  }

  /** [[embeddingNearDupLsh]] with ENGINE-INDEPENDENT plane normals:
    * stride-drawn corpus vectors and integer-packed bucket keys
    * (`t·2^bits + sign bits`) instead of splitmix64 planes and xxhash64
    * table keys — the [[graft.similarity.Ann.lshTopKDataPlanes]] move
    * applied to the near-dup-pair shape, which is what lets q35 carry a
    * full DuckDB oracle: identical-vector groups, the banded candidate
    * join, the exact-cosine verify, and the star edges are all plain
    * SQL. Same output contract as [[embeddingNearDupLsh]] (rep-level
    * verified pairs + (rep, member, 1.0) stars; closure equals the full
    * qualifying-pair relation's). The identical-vector grouping keys on
    * the raw float array (via min-id window over its hash), which the
    * oracle mirrors as GROUP BY embedding — exact-bit equality on both
    * sides for the fixture's nonzero floats.
    */
  def embeddingNearDupLshPortable(df: DataFrame, vecCol: String,
      idCol: String, threshold: Double, nTables: Int = 5,
      bitsPerTable: Int = 12): DataFrame = {
    val grouped = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vfp", xxhash64(col("v")))
      .withColumn("rep", min("id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("vfp")))
    val stars = grouped.filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("cosine"))
    val n = df.count()
    val nP = nTables * bitsPerTable
    val stride = math.max(1L, n / nP)
    val planeVecs: Array[Array[Float]] = df
      .filter(col(idCol) % stride === 0)
      .orderBy(idCol).limit(nP)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).toArray)
    require(planeVecs.length == nP,
      s"plane draw came up short: ${planeVecs.length} of $nP")
    // native banded-key kernel — see graft.functions.LshBandKeys: the
    // declarative 60-wide when(float_vec_dot…) expansion fell out of
    // codegen and the interpreted key stage dominated the sf10 wall.
    // NULL-vector contract: the kernel null-propagates and the explode
    // below then DROPS the row from candidate generation — intentional
    // (a null embedding has no direction to hash; the old declarative
    // form's when(...).otherwise(0) silently banded it at key 0). The
    // bit-identical parity claim vs the expansion is for non-null rows.
    def keys(v: Column) = call_function("lsh_band_keys", v,
      typedLit(planeVecs.map(_.toSeq).toSeq), lit(bitsPerTable))
    val base = grouped.filter(col("id") === col("rep"))
      .select(col("id"), col("v"),
        graft.functions.FloatVecDot.norm2(col("v")).as("n2"))
    val l = base.select(col("id").as("id_a"), col("v").as("v_a"),
      col("n2").as("n2_a"), explode(keys(col("v"))).as("bkt"))
    val r = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("n2").as("n2_b"), explode(keys(col("v"))).as("bkt"))
    l.join(r, Seq("bkt")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosinePrenormed(
          graft.functions.FloatVecDot.dot(col("v_a"), col("v_b")),
          col("n2_a"), col("n2_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .unionByName(stars)
  }

  /** Cross-document duplicated-span accounting: for every document, how
    * many of its DISTINCT token n-grams also appear in at least one other
    * document — the corpus-level repetition signal (MassiveText-style)
    * complementing the within-document fractions of
    * [[graft.text.TextFunctions.dupNgramFrac]]. Documents whose text is
    * largely boilerplate shared across the corpus score high and are
    * dedup/downweight candidates even when no whole-document near-dup
    * fires.
    *
    * Scale shape: grams are DISTINCT per document before the explode, so
    * the gram histogram aggregates (gram → doc count) in one partial-agg
    * shuffle; the join back is gram-keyed (AQE handles hot boilerplate
    * grams), and the per-doc rollup is one more partial-agg shuffle.
    * Nothing is O(corpus²) and no driver-side state exists.
    */
  /** C4-style cross-document span dedup with document REWRITE: segment
    * each document into consecutive `spanTokens`-token spans, keep exactly
    * one occurrence of every distinct span corpus-wide (the occurrence at
    * the smallest (doc_id, position)), and re-assemble each document from
    * its surviving spans. This is the curation step that strips shared
    * boilerplate (headers, nav bars, license blocks) even when whole-doc
    * dedup never fires — C4 did it at the line level; the fixture corpus
    * has no line structure, so spans are fixed-width token windows, which
    * is also what a tokenizer-centric pipeline would use.
    *
    * Scale shape: span texts never leave their executor except for the
    * one hash shuffle that ranks occurrences per distinct span (window
    * over span — partition state is the occurrence list of ONE span, i.e.
    * the corpus duplication factor, never the corpus); the rebuild is one
    * partial-agg shuffle on doc_id collecting (position, span) pairs
    * sorted per doc. Nothing is O(corpus²); a skewed mega-duplicated span
    * costs one hot window partition of its own occurrences only.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 10): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    val toks = TextFunctions.tokens(col(textCol))
    val spans = graft.core.Parallelism.ensure(
        df.select(col(idCol), col(textCol)))
      // whitespace-only docs tokenize to [""] (split semantics) and would
      // each contribute one phantom empty-string span — all sharing ONE
      // global "" key, so every empty doc but one reports a "stripped"
      // span that never existed. They belong in the n_spans=0 branch of
      // the left join below instead.
      .filter(trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0),
            greatest(lit(0),
              ceil(size(col("toks")).cast("double") / spanTokens)
                .cast("int") - 1)),
          i => array_join(
            slice(col("toks"), i * spanTokens + 1, lit(spanTokens)), " "))))
      .toDF("doc_id", "pos", "span")
    val ranked = spans.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("span").orderBy(col("doc_id"), col("pos"))))
    val rebuilt = ranked.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      count(when(col("rn") === 1, 1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(
            when(col("rn") === 1, struct(col("pos"), col("span"))))),
          s => s.getField("span")), " ").as("text_kept"))
    df.select(col(idCol).as("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def crossDocShared(df: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    // grams travel as xxhash64 keys — 8-byte longs instead of ~8-word
    // gram texts (the gram histogram is the suite's largest single
    // shuffle; hashed keys cut its bytes ~5×). Collisions merge two
    // distinct grams' doc counts once per ~2⁶⁴ pairs — far below the
    // signal this operator feeds (a shared-fraction score), same trade
    // as the dedup fingerprints.
    //
    // The exploded gram table is computed ONCE and persisted: two
    // aggregations consume it (per-gram histogram, per-doc totals), and
    // without the cache each would re-run the tokenize→shingle→explode
    // pass — the operator's dominant CPU. MEMORY_AND_DISK spills rather
    // than evicts under pressure; the entry is released by Spark's
    // ContextCleaner once the returned plan is unreferenced (and
    // re-invocations of the same query reuse it via the CacheManager's
    // canonicalized-plan key in the meantime).
    // native shingle loop (same XXH64-seed-42 hashes as the old
    // string-gram + xxhash64 chain, one JVM pass per doc) — the
    // interpreted transform/concat_ws gram builder dominated this
    // operator's CPU at the 100× tier; short docs are filtered before
    // the loop, whose sub-width shingle would otherwise mint a phantom
    // gram for them
    val g = graft.core.Parallelism.ensure(
        df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.Sketches.shingleSetN(col("toks"), n)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Every step below is PARTIAL-AGG-SAFE — the earlier window-over-
    // gram-partition formulation buffered one gram's entire occurrence
    // list in a single task, so a boilerplate gram present in most
    // documents (license header, nav bar — exactly the signal this
    // operator measures) concentrated ~N rows in one straggling,
    // spill-bound partition. Here that gram collapses map-side: each
    // map task emits ONE (g, partial count, partial min) row, so no
    // reduce task ever sees more than #mapTasks rows for any gram.
    //
    // Grams are distinct per doc, so docs_with IS the doc count; and a
    // gram with docs_with == 1 has exactly one owner — min(doc_id) IS
    // that owner. Per-doc shared count is then total minus unique
    // (n_shared = n_grams − n_unshared), which removes the gram-keyed
    // join-back entirely: after the histogram, everything is keyed by
    // doc — small, skew-free, partial-agged.
    val perGram = g.groupBy("g").agg(
      count(lit(1)).as("docs_with"), min("doc_id").as("d0"))
    val unshared = perGram.filter(col("docs_with") === 1)
      .groupBy("d0").agg(count(lit(1)).as("n_unshared"))
    val totals = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val per = totals.join(unshared,
        totals("doc_id") === unshared("d0"), "left")
      .select(totals("doc_id"), col("n_grams"),
        (col("n_grams") - coalesce(col("n_unshared"), lit(0L)))
          .as("n_shared"))
    df.select(col(idCol).as("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_frac",
        when(col("n_grams") > 0,
          col("n_shared").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }
}
