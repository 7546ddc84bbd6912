package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cuts
import graft.functions.FloatVecDot
import graft.similarity.{Ann, VectorFunctions}

/** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space with k-means, call two
  * documents semantic duplicates when their cosine similarity exceeds a
  * high threshold WITHIN a cluster, and keep one exemplar per duplicate
  * group — the member FARTHEST from its cluster centroid (the paper's
  * rule: prefer the least prototypical member, it carries the most extra
  * information into training).
  *
  * This is the third rung of the dedup ladder the engine exposes:
  * exact (fingerprint equality), near (MinHash/SimHash token overlap),
  * SEMANTIC (paraphrases and re-renderings that share almost no tokens
  * but encode the same content — what the reference-corpus curation
  * pipelines prune before training).
  *
  * Scale shape, per the paper's own trick: pairwise cosine runs only
  * WITHIN a cell of the IVF k-means index ([[Ann.buildIvfIndex]], auto
  * √n cells), so pair volume is Σ|cell|² ≈ n·√n, not n² — and the
  * within-cell self-join is a plain equi-join on the cell id that
  * shuffles fixed-width rows. Before that pairwise, IDENTICAL embeddings
  * collapse to one representative per distinct vector ([[dupEdges]]) —
  * exact duplicates are the dominant mass in a dedup workload and would
  * otherwise pile into one cell and pay |group|² for cosine-1 pairs.
  * Cross-cell duplicate pairs are missed BY
  * DESIGN (the paper's documented approximation; raise `refineIters`
  * to tighten cells on clustered corpora). Components come from the
  * shared [[Dedup.connectedComponents]] engine — O(log d) rounds — so
  * a chain of paraphrases collapses into one group even when its ends
  * are below the pair threshold.
  *
  * Returns `(vec_id, cluster, centroid_sim, keep)` — every input row,
  * `cluster` = the duplicate-group label (singletons label themselves),
  * `keep` = the exemplar flag (exactly one true per group: the member
  * with the LOWEST centroid cosine, ties to the smaller id).
  */
object SemanticDedup {

  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.97,
      nCells: Int = 0, refineIters: Int = 1): DataFrame =
    fromIndex(Ann.buildIvfIndex(embeddings, nCells, refineIters), threshold)

  /** [[semanticDedup]] over a caller-supplied IVF index — the
    * deterministic-ingest form (same split as
    * [[graft.similarity.Ann.indexWithCentroids]] vs
    * [[graft.similarity.Ann.buildIvfIndex]]): with centroids drawn by an
    * engine-independent rule ([[graft.similarity.Ann.strideCentroids]]),
    * every step — assignment, within-cell pairwise, component closure,
    * exemplar pick — is reproducible in plain SQL, which is how q91
    * carries a full DuckDB oracle despite being an approximate operator
    * (the approximation lives in the cell blocking, not the engine).
    */
  def fromIndex(idx: Ann.IvfIndex, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"semantic-dup cosine threshold must lie in (0, 1], got $threshold")
    // centroid similarity per member — broadcast the tiny centroid table.
    // The member table feeds SIX consumers downstream (the star collapse's
    // group-by and join-back, both sides of the within-cell self-join, the
    // label join, the exemplar pick), and each would otherwise replay the
    // whole O(n·√n) assignment-kernel pipeline: measured at the 100× tier
    // the un-materialized form ran ~80 stages / 2,567 tasks with the same
    // ~140 MB assignment exchange executed once PER consumer. One eager
    // [[Cuts.leaf]] (as in [[Dedup.connectedComponents]]) computes the
    // kernel once and every
    // consumer starts from stored blocks — the standard shape for
    // iterative/multi-consumer frames, and strictly cheaper than k
    // kernel replays at any tier.
    val membersPlan = idx.assigned
      .join(broadcast(idx.centroids), Seq("cell"))
      .select(col("nid"), col("cell"), col("ce"), col("cn2"),
        VectorFunctions.cosinePrenormed(
          FloatVecDot.dot(col("ce"), col("cvec")), col("cn2"), col("cvn2"))
          .as("centroid_sim"))
    val members = org.apache.spark.sql.GraftShim.resetStats(
      Cuts.leaf(membersPlan))

    val edges = dupEdges(members, threshold)

    val clusters = Dedup.connectedComponents(edges, "id_a", "id_b")
      .toDF("nid", "cluster")

    // exemplar per group: min centroid_sim, ties to the smaller id;
    // singletons (no edge) label themselves and are always kept
    val labeled = members
      .join(clusters, Seq("nid"), "left")
      .select(col("nid").as("vec_id"),
        coalesce(col("cluster"), col("nid")).as("cluster"),
        col("centroid_sim"))
    val keeper = labeled.groupBy("cluster")
      .agg(min_by(col("vec_id"), struct(col("centroid_sim"), col("vec_id")))
        .as("keep_id"))
    labeled.join(keeper, Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("centroid_sim"),
        (col("vec_id") === col("keep_id")).as("keep"))
  }

  /** Semantic-duplicate EDGES sufficient for component closure, with
    * IDENTICAL-vector collapse before the within-cell pairwise — the same
    * representative trick the image near-dup path uses
    * ([[Dedup.hammingClusterEdges]]): a dedup-heavy corpus (the actual
    * use case) concentrates exact-duplicate embeddings in ONE k-means
    * cell, where raw pairwise pays |group|² for pairs whose cosine is 1
    * by construction. Instead every distinct vector group collapses to
    * its min-id representative (star edges rep→member connect the group —
    * cosine(v, v) = 1 ≥ threshold always, for nonzero v), and pairwise
    * cosine runs over DISTINCT vectors per cell only. The component
    * closure is provably the one raw pairwise yields: within-group
    * members chain through the star, cross-group near-dups chain through
    * representatives, and identical vectors always share a cell (same
    * assignment), so no admissible edge is lost. Pair volume scales with
    * distinct-vectors-per-cell², not members².
    *
    * Zero vectors (n2 = 0) are NEVER edged — cosine with a zero vector
    * is undefined and raw pairwise filtered those pairs out via its
    * null-propagating comparison; the star edges must not resurrect them.
    */
  /** Canonicalized vector fingerprint — the identical-vector collapse
    * key shared by the batch edge kernel, the incremental rep/fp ledgers,
    * and admission. One long through every group-by and join shuffle
    * instead of a 256-byte float-array key (measured at sf0.1: array keys
    * cost ~1.7× wall and +55% tasks on q91); a 64-bit collision between
    * two DIFFERENT vectors in the same corpus is ~n²/2⁶⁵ — negligible
    * against the operator's own parameter-bounded approximation. The
    * hash runs over a CANONICALIZED array: xxhash64 sees raw float bits,
    * so -0.0 vs 0.0 (bit-distinct, == -equal) would land one vector
    * group in two collapse keys and silently never pair them. `x + 0.0f`
    * maps -0.0 to +0.0 and re-quiets any exotic NaN payload to the JVM's
    * canonical NaN. */
  private[graft] def cefp(ce: Column): Column =
    xxhash64(transform(ce, x => x + lit(0.0f)))

  private[graft] def dupEdges(members: DataFrame,
      threshold: Double): DataFrame = {
    // Zero vectors stay excluded on BOTH sides of the
    // star join (cn2 > 0), never by luck of the hash.
    val nz = members.filter(col("cn2") > 0)
    val groups = nz.groupBy(cefp(col("ce")).as("cefp"))
      .agg(min("nid").as("rep"))
    val stars = nz.withColumn("cefp", cefp(col("ce")))
      .join(groups, Seq("cefp"))
      .filter(col("nid") =!= col("rep"))
      .select(col("rep").as("id_a"), col("nid").as("id_b"))
    val reps = members.join(groups.select(col("rep").as("nid")), Seq("nid"))
    val l = reps.select(col("cell"), col("nid").as("id_a"),
      col("ce").as("e_a"), col("cn2").as("n_a"))
    val r = reps.select(col("cell"), col("nid").as("id_b"),
      col("ce").as("e_b"), col("cn2").as("n_b"))
    val repPairs = l.join(r, Seq("cell")).filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosinePrenormed(
        FloatVecDot.dot(col("e_a"), col("e_b")), col("n_a"), col("n_b"))
        >= lit(threshold))
      .select(col("id_a"), col("id_b"))
    stars.unionByName(repPairs)
  }

  // ==== incremental / streaming semantic dedup =============================
  //
  // The semantic mirror of the minhash family's incremental close
  // (pairs → admission → clusters, q105-q110): against FROZEN centroids
  // (a persisted IVF coordinate system — the same maintenance contract as
  // [[graft.similarity.Ann.addToIvfIndex]]), the within-cell pair relation
  // decomposes over arriving waves (each unordered pair surfaces once, in
  // its later endpoint's wave), so SemDeDup clusters fold incrementally
  // into [[IncrementalClusters]]' label/merge ledgers instead of re-running
  // the corpus-wide pairwise per refresh. Persisted state, all O(corpus
  // rows) or O(distinct vectors):
  //
  //  - `reps`  (cell, rep, ce, cn2): one row per DISTINCT vector ever
  //    seen, rep = its first-seen min id — the pairwise side, bucketed on
  //    `cell` so the wave-vs-corpus cosine join ships nothing at rest;
  //  - `fps`   (cefp, rep): slim fingerprint → rep membership map (16 B a
  //    row), bucketed on `cefp` — an arriving duplicate of a known vector
  //    star-edges to its rep WITHOUT entering the pairwise at all (the
  //    dominant mass of a dedup workload: [[dupEdges]]' collapse,
  //    incrementally);
  //  - `members` (id, cell, centroid_sim): per-vector output metadata for
  //    the exemplar pick, id-bucketed;
  //  - labels/merges: [[IncrementalClusters]]' ledgers, unchanged.

  /** Wave assignment against frozen centroids, with the per-member
    * centroid cosine [[fromIndex]] computes: (nid, cell, ce, cn2,
    * centroid_sim). `wave` needs (vec_id, embedding); zero vectors get a
    * null centroid_sim (double /0 is null) and never edge, exactly as in
    * the batch path. */
  def assignWithSim(wave: DataFrame, centroids: DataFrame): DataFrame = {
    val idx = Ann.indexWithCentroids(wave, centroids)
    idx.assigned
      .join(broadcast(idx.centroids), Seq("cell"))
      .select(col("nid"), col("cell"), col("ce"), col("cn2"),
        VectorFunctions.cosinePrenormed(
          FloatVecDot.dot(col("ce"), col("cvec")), col("cn2"), col("cvn2"))
          .as("centroid_sim"))
  }

  /** One wave's semantic-duplicate edges against the persisted rep state,
    * plus the wave's NEW reps: `(edges (bid, mid), newReps (cefp, rep,
    * cell, ce, cn2))`.
    *
    * Wave vectors collapse by [[cefp]]; each group probes the `fps`
    * ledger. A KNOWN group's members star-edge to the corpus rep (no
    * pairwise — cosine is 1 by identity); an UNKNOWN group's wave-min
    * becomes its rep: star edges within the wave, and the rep enters the
    * within-cell cosine pairwise against corpus reps and the wave's other
    * new reps. Union over waves = exactly [[dupEdges]]' pair relation up
    * to component equivalence: star anchors differ (first-seen rep vs
    * global min) but identical vectors always chain to their group's
    * every rep, and rep-level cosine is a function of the VECTOR, so the
    * transitive closure — and with it every cluster label (component min)
    * — is identical to the from-scratch batch run (q111's gate).
    *
    * Replay note: `bid =!= mid` on the cross pairwise (not `<`) — a
    * replay after the reps ledger committed sees the wave's own reps on
    * the corpus side; the guard drops only the self-pair, and the extra
    * symmetric duplicates are harmless to the fold (CC is idempotent
    * under duplicate edges).
    */
  private[graft] def semanticWaveDelta(asg: DataFrame, corpusReps: DataFrame,
      corpusFps: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1,
      s"semantic-dup cosine threshold must lie in (0, 1], got $threshold")
    val nz = asg.filter(col("cn2") > 0)
    val groups = nz
      .groupBy(cefp(col("ce")).as("cefp"))
      .agg(min_by(struct(col("nid"), col("cell"), col("ce"), col("cn2")),
        col("nid")).as("g"))
      .select(col("cefp"), col("g.nid").as("wrep"), col("g.cell").as("cell"),
        col("g.ce").as("ce"), col("g.cn2").as("cn2"))
    // wave-sized probe of the cefp-bucketed fps ledger: ledger side ships
    // nothing at rest; persisted because anchors + newReps both consume it
    val probed = Cuts.persist(groups
      .join(corpusFps.select(col("cefp"), col("rep").as("crep")),
        Seq("cefp"), "left"))
    val anchors = probed
      .select(col("cefp"), coalesce(col("crep"), col("wrep")).as("anchor"))
    val stars = nz
      .select(cefp(col("ce")).as("cefp"), col("nid"))
      .join(anchors, Seq("cefp"))
      .filter(col("nid") =!= col("anchor"))
      .select(col("nid").as("bid"), col("anchor").as("mid"))
    val newReps = probed
      .filter(col("crep").isNull)
      .select(col("cefp"), col("wrep").as("rep"), col("cell"),
        col("ce"), col("cn2"))
    val cos = VectorFunctions.cosinePrenormed(
      FloatVecDot.dot(col("e_a"), col("e_b")), col("n_a"), col("n_b"))
    val l = newReps.select(col("cell"), col("rep").as("bid"),
      col("ce").as("e_a"), col("cn2").as("n_a"))
    val crossPairs = l
      .join(corpusReps.select(col("cell"), col("rep").as("mid"),
        col("ce").as("e_b"), col("cn2").as("n_b")), Seq("cell"))
      .filter(col("bid") =!= col("mid") && cos >= lit(threshold))
      .select("bid", "mid")
    val withinPairs = l
      .join(newReps.select(col("cell"), col("rep").as("mid"),
        col("ce").as("e_b"), col("cn2").as("n_b")), Seq("cell"))
      .filter(col("mid") < col("bid") && cos >= lit(threshold))
      .select("bid", "mid")
    (stars.unionByName(crossPairs).unionByName(withinPairs), newReps)
  }

  /** One wave's semantic fold: the five wave-sized ledger deltas
    * `(labelRows, mergeRows, memberRows (id, cell, centroid_sim),
    * repRows (cell, rep, ce, cn2), fpRows (cefp, rep))`, a PURE function
    * of (wave assignment, committed ledgers) — the exactly-once property
    * the streaming writer needs. Commit order for crash-replay safety:
    * labels → merges → members → reps → fps. Labels/merges first is
    * [[IncrementalClusters.foldWave]]'s argument verbatim (the fold is
    * edge-source-agnostic); members is wave-pure (identical on any
    * replay); reps BEFORE fps because new-rep detection probes `fps` — a
    * crash after fps committed but reps not would make every replay see
    * its own groups as known and never write their vectors into the
    * pairwise state, whereas the chosen order only adds replay-window
    * duplicate edges the fold tolerates.
    *
    * `asg` = [[assignWithSim]] of the wave, persisted by the caller
    * (several subtrees consume it). */
  def foldWaveSemantic(asg: DataFrame, corpusReps: DataFrame,
      corpusFps: DataFrame, labels: DataFrame, merges: DataFrame,
      threshold: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (edges, newReps) =
      semanticWaveDelta(asg, corpusReps, corpusFps, threshold)
    val (labelRows, mergeRows) = IncrementalClusters.foldEdgeFrame(
      asg.select(col("nid").as("id")), edges, labels, merges)
    // Cut the rep delta to a LEAF before projecting the two ledger
    // deltas from it: a caller folds rep/fp rows back into the ledgers
    // the NEXT wave's probe joins against, so un-cut deltas nest every
    // prior wave's assignment+probe plan into each subsequent wave's
    // edge plan — measured on the q111 fold at sf0.1 as driver gaps
    // growing to ~1 s per action by wave 3 (6.8 s of a 12 s wall in
    // Catalyst re-analysis). The checkpoint is wave-sized, reads the
    // already-scoped probe cache (the edge fold just materialized it),
    // and matches the fold contract: every returned frame leaf-shaped.
    val repDelta = Cuts.leaf(newReps
      .select(col("cefp"), col("rep"), col("cell"), col("ce"), col("cn2")))
    (labelRows, mergeRows,
      asg.select(col("nid").as("id"), col("cell"), col("centroid_sim")),
      repDelta.select(col("cell"), col("rep"), col("ce"), col("cn2")),
      repDelta.select(col("cefp"), col("rep")))
  }

  /** [[semanticDedup]]'s exact output shape from the incremental ledger
    * state: every member with its resolved cluster (component min through
    * the label/merge ledgers), centroid_sim, and the exemplar flag —
    * byte-identical to running [[fromIndex]] from scratch over the corpus
    * the ledgers absorbed (q111's gate). Read-consistency matches the
    * family's other read paths: a doc whose wave crashed between the
    * labels and members commits is absent until the wave replays. */
  def clustersFromLedgers(members: DataFrame, labels: DataFrame,
      merges: DataFrame): DataFrame = {
    val labeled = members
      // one row per doc even while a replayed-after-sweep batch
      // transiently duplicates rows (identical, so min is exact)
      .groupBy("id").agg(min(col("centroid_sim")).as("centroid_sim"))
      .join(IncrementalClusters.resolve(labels, merges)
        .withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("comp"), col("id")).as("cluster"), col("centroid_sim"))
    // exemplar via ONE window pass (min centroid_sim, ties to the smaller
    // id — only unique-vec_id rank 1, so this is exactly [[fromIndex]]'s
    // min_by rule), not a groupBy + join-back: the self-join shape
    // re-derived the whole members path once per consumer (measured at
    // sf0.1: two duplicate 128-task member scans, ~1 s of q111's wall)
    labeled.select(col("vec_id"), col("cluster"), col("centroid_sim"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
        .orderBy(col("centroid_sim"), col("vec_id"))) === 1).as("keep"))
  }

  // ==== centroid drift maintenance ==========================================

  /** Remap every rep's cell assignment through a NEW centroid table — the
    * pure kernel of the retrain-and-remap maintenance op: one
    * [[graft.functions.IvfArgmaxCell]] projection over the reps (the
    * centroids ride as a plan literal), no join, no corpus scan. Output
    * shape = the reps ledger's own (cell, rep, ce, cn2), so the remap can
    * ride [[graft.streaming.LedgerCompaction.compact]] as its transform.
    * Idempotent: rows already carrying the new cells map to themselves. */
  def remapRepsTo(reps: DataFrame, centroids: DataFrame): DataFrame =
    Ann.indexWithCentroids(
        reps.select(col("rep").as("vec_id"), col("ce").as("embedding")),
        centroids)
      .assigned
      .select(col("cell"), col("nid").as("rep"), col("ce"), col("cn2"))

  /** CENTROID-DRIFT maintenance (batch form): retrain the IVF coordinate
    * system from the distinct-vector reps ledger
    * ([[graft.similarity.Ann.retrainCentroids]] — stride draw over CURRENT
    * rep ids + `refineIters` exact-decimal Lloyd steps) and remap every
    * rep through it. Returns `(newCentroids (cell, cvec, cvn2),
    * remappedReps (cell, rep, ce, cn2))` — the remapped assignment is
    * BY CONSTRUCTION what a from-scratch [[graft.similarity.Ann
    * .indexWithCentroids]] build over the reps yields on the same draw
    * (q118 gates exactly that equivalence against a DuckDB replay of the
    * whole pipeline at refineIters = 0).
    *
    * What retraining does and does not touch: it changes the BLOCKING
    * coordinate system — which cells FUTURE waves' within-cell pairwise
    * runs in — so a drifted corpus's hot cells (the distinct²-per-cell
    * exposure) re-spread across a draw that reflects the data that
    * actually arrived. It does NOT rewrite past cluster state (labels /
    * merges: edges found under the old cells were real cosine matches
    * and remain valid) nor past members' centroid_sim (SemDeDup's
    * exemplar rule is assignment-time by the paper's own definition).
    * Approximation note, mirroring the paper's: pairs that were
    * cross-cell under the OLD draw and become co-cell under the new one
    * are found only if one endpoint arrives again; the operator's
    * documented contract is per-draw cell blocking, not exhaustive
    * pairwise. */
  def retrainRemap(reps: DataFrame, refineIters: Int = 1)
      : (DataFrame, DataFrame) = {
    val cent = Ann.retrainCentroids(
      reps.select(col("rep").as("vec_id"), col("ce").as("embedding")),
      refineIters)
    (cent, remapRepsTo(reps, cent))
  }

  /** Incremental semantic ADMISSION — SemDeDup as a one-pass filter
    * (q112), the semantic mirror of the minhash admission verdicts
    * (q104/q106): a batch vector is admitted unless some corpus vector,
    * or a SMALLER-id batch vector, shares its IVF cell with cosine ≥
    * `threshold` (the order-free rule that makes the verdict
    * SQL-expressible; zero vectors are always admitted — cosine with
    * them is undefined). Returns (vec_id, admitted, first_match).
    *
    * Scale shape: BOTH sides collapse to distinct-vector reps before the
    * within-cell pairwise — exact, including `first_match`, because a
    * rep is its group's min id and every group member's cosine to
    * anything equals its rep's (identical vectors), so the min matching
    * id over raw members is the min over matched reps. A dup-storm batch
    * therefore pays |distinct|² per cell, never |members|².
    */
  def semanticAdmit(batch: DataFrame, corpus: DataFrame, threshold: Double,
      centroids: DataFrame): DataFrame =
    admitVsReps(batch,
      repsOfAsg(Ann.indexWithCentroids(corpus, centroids).assigned),
      threshold, centroids)

  /** Distinct-vector rep collapse over an assignment frame: one
    * (rep, cell, ce, cn2) row per distinct nonzero vector, rep = min id. */
  private def repsOfAsg(asg: DataFrame): DataFrame = asg
    .filter(col("cn2") > 0)
    .groupBy(cefp(col("ce")).as("cefp"))
    .agg(min_by(struct(col("nid"), col("cell"), col("ce"), col("cn2")),
      col("nid")).as("g"))
    .select(col("g.nid").as("rep"), col("g.cell").as("cell"),
      col("g.ce").as("ce"), col("g.cn2").as("cn2"))

  /** [[semanticAdmit]] with the corpus side given as ALREADY-ASSIGNED
    * distinct-vector reps (cell, rep, ce, cn2) — the streaming form's
    * entry point: [[graft.streaming.SemanticStream]]'s reps ledger is
    * cell-bucketed at rest, so the per-wave probe must not re-run the
    * O(corpus) argmax assignment the batch path performs on a raw
    * corpus. Semantics identical to [[semanticAdmit]] by construction
    * (that method delegates here). */
  private[graft] def admitVsReps(batch: DataFrame, corpusReps: DataFrame,
      threshold: Double, centroids: DataFrame): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"semantic-dup cosine threshold must lie in (0, 1], got $threshold")
    // the verdict reads the assigned batch, its reps and the matches
    // from several subtrees each: leaves
    val ba = Cuts.leaf(Ann.indexWithCentroids(batch, centroids).assigned)
    val br = Cuts.leaf(repsOfAsg(ba))
    val cr = corpusReps
    val cos = VectorFunctions.cosinePrenormed(
      FloatVecDot.dot(col("e_a"), col("e_b")), col("n_a"), col("n_b"))
    val probe = br.select(col("cell"), col("rep").as("bid"),
      col("ce").as("e_a"), col("cn2").as("n_a"))
    val matches = probe
      .join(cr.select(col("cell"), col("rep").as("mid"), col("ce").as("e_b"),
        col("cn2").as("n_b")), Seq("cell"))
      .filter(cos >= lit(threshold))
      .select("bid", "mid")
      .unionByName(probe
        .join(br.select(col("cell"), col("rep").as("mid"), col("ce").as("e_b"),
          col("cn2").as("n_b")), Seq("cell"))
        .filter(col("mid") < col("bid") && cos >= lit(threshold))
        .select("bid", "mid"))
    // verdicts resolve per REP, then fan back to the rep's group members:
    // a non-rep member's matches are its rep's matches plus the rep
    // itself (identical vector, smaller id — so every non-rep member is
    // rejected with first_match ≤ its rep)
    val repVerdict = br.select(col("rep").as("bid"))
      .join(Cuts.leaf(matches), Seq("bid"), "left")
      .groupBy("bid")
      .agg((count(col("mid")) === 0).as("admitted"),
        min(col("mid")).as("first_match"))
    ba.select(cefp(col("ce")).as("bfp"), col("nid").as("vec_id"))
      .join(br.select(cefp(col("ce")).as("bfp"), col("rep")), Seq("bfp"), "left")
      .join(repVerdict.withColumnRenamed("bid", "rep"), Seq("rep"), "left")
      .select(col("vec_id"),
        // zero vectors (rep null) are always admitted; a non-rep member
        // is rejected by its own rep when the rep itself matched nothing
        when(col("rep").isNull, lit(true))
          .when(col("vec_id") === col("rep"), col("admitted"))
          .otherwise(lit(false)).as("admitted"),
        when(col("rep").isNull, lit(null).cast("long"))
          .when(col("vec_id") === col("rep"), col("first_match"))
          .otherwise(least(col("first_match"), col("rep"))).as("first_match"))
  }

  // ── BENCHMARK DECONTAMINATION, embedding space ───────────────────────
  //
  // The semantic rung of the engine's decontamination ladder (q79 = any
  // shared token 5-gram, q120 = media perceptual hamming): a corpus
  // vector is flagged when its cosine to ANY eval-set vector reaches the
  // threshold. This is the gap the n-gram gate is known to miss —
  // paraphrased or re-rendered benchmark text shares almost no token
  // n-grams with the original but lands next to it in embedding space,
  // which is why eval suites publish embedding-similarity contamination
  // audits alongside exact-overlap ones.

  /** Exact embedding decontamination for the common case: the eval set is
    * SMALL relative to the corpus (benchmark suites are thousands to a
    * few million rows vs a 100 TB corpus). The eval side rides a
    * BROADCAST into a nested-loop probe — the corpus never exchanges;
    * each partition streams its rows once against the in-memory eval
    * block through the codegen [[FloatVecDot]] kernel, and only
    * match-sized hit rows shuffle into the per-vector aggregate (partial
    * agg absorbs the fan-out map-side). No cell blocking → no missed
    * pairs: this is the exact gate, priced |corpus|·|eval| dot products
    * spread across every corpus partition. Zero vectors (undefined
    * cosine) never match — mirroring q120's null-fingerprint rule.
    *
    * Returns one verdict row per corpus vector:
    * `(idCol, n_matched, first_match, contaminated)` — q120's verdict
    * shape with cosine in place of hamming distance.
    */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"decontamination cosine threshold must lie in (0, 1], got $threshold")
    val c = corpus.select(col(idCol), col(vecCol).as("cv"),
      FloatVecDot.norm2(col(vecCol)).as("cvn2"))
    val b = evalSet.select(col(idCol).as("eid"), col(vecCol).as("ev"),
      FloatVecDot.norm2(col(vecCol)).as("evn2"))
    val hits = c.join(broadcast(b),
        col("cvn2") > 0 && col("evn2") > 0 &&
          VectorFunctions.cosinePrenormed(
            FloatVecDot.dot(col("cv"), col("ev")),
            col("cvn2"), col("evn2")) >= lit(threshold))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"), min(col("eid")).as("first_match"))
    verdictFrame(corpus, hits, idCol)
  }

  /** [[semanticDecontaminate]] for eval sets TOO LARGE to broadcast: both
    * sides are assigned to the IVF cells of a shared centroid draw and
    * the probe becomes a plain equi-join ON THE CELL ID — pair volume
    * drops from |corpus|·|eval| to Σ_cell |corpus_c|·|eval_c|, and each
    * side exchanges at most once, by cell (persist the eval assignment
    * cell-bucketed — the `<name>_assigned` layout of
    * [[graft.similarity.Ann.writeIvfIndex]] — and the at-rest side is
    * exchange-free). The cell blocking is the SemDeDup approximation
    * applied to decontamination: a contaminated pair straddling a cell
    * boundary is missed by design, and the mitigation under corpus drift
    * is the same retrain contract the reps family carries
    * ([[retrainRemap]]). Centroids must come from an engine-independent
    * draw ([[graft.similarity.Ann.strideCentroids]]) for the verdict to
    * be replayable in plain SQL (q123's oracle).
    */
  def semanticDecontaminateCelled(corpus: DataFrame, evalSet: DataFrame,
      centroids: DataFrame, threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"decontamination cosine threshold must lie in (0, 1], got $threshold")
    def assigned(side: DataFrame): DataFrame = Ann.indexWithCentroids(
      side.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      centroids).assigned
    val hits = assigned(corpus)
      .join(assigned(evalSet).select(col("cell"), col("nid").as("eid"),
          col("ce").as("ev"), col("cn2").as("evn2")), Seq("cell"))
      .filter(col("cn2") > 0 && col("evn2") > 0 &&
        VectorFunctions.cosinePrenormed(
          FloatVecDot.dot(col("ce"), col("ev")),
          col("cn2"), col("evn2")) >= lit(threshold))
      .groupBy(col("nid").as(idCol))
      .agg(count(lit(1)).as("n_matched"), min(col("eid")).as("first_match"))
    verdictFrame(corpus, hits, idCol)
  }

  /** Shared verdict fan-back: every corpus id, hit counts coalesced to 0,
    * `contaminated` = any hit. */
  private def verdictFrame(corpus: DataFrame, hits: DataFrame,
      idCol: String): DataFrame =
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        col("first_match"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))

  /** [[semanticAdmit]] composed with the eval-exclusion gate — q119's
    * composition rule in embedding space: batch vectors within
    * `decontamThreshold` of ANY eval vector are rejected FIRST and never
    * reach the admission comparison set, so contaminated text can
    * neither become the retained survivor that shields a clean
    * near-copy nor count as "already seen" against a later clean
    * arrival. The clean remainder runs the standard one-pass semantic
    * admission against the corpus and its own smaller-id CLEAN members.
    *
    * Scale shape: the contamination probe is [[semanticDecontaminate]]'s
    * broadcast kernel over the BATCH side only (wave-sized × eval-sized
    * dot products, no corpus term); the admission's cost model is
    * unchanged (distinct-rep collapse, within-cell pairwise).
    *
    * Verdicts — one row per batch vector:
    * `(vec_id, admitted, first_match, contaminated, eval_match)`.
    * `first_match` is the admission's match (null for contaminated rows,
    * which never entered admission); `eval_match` the smallest matching
    * eval id (null for clean rows). Zero vectors are clean (undefined
    * cosine) and always admitted, as in [[semanticAdmit]].
    */
  def semanticAdmitDecontam(batch: DataFrame, corpus: DataFrame,
      evalSet: DataFrame, dupThreshold: Double, decontamThreshold: Double,
      centroids: DataFrame): DataFrame = {
    // the clean filter and the verdict both read the flags: a leaf
    val contam = Cuts.leaf(
      semanticDecontaminate(batch, evalSet, decontamThreshold))
    val clean = batch.join(
      contam.filter(col("contaminated")).select("vec_id"),
      Seq("vec_id"), "left_anti")
    val admit = semanticAdmit(clean, corpus, dupThreshold, centroids)
      .withColumnRenamed("first_match", "dup_match")
      .withColumnRenamed("admitted", "clean_admitted")
    contam.select(col("vec_id"), col("contaminated"),
        when(col("contaminated"), col("first_match")).as("eval_match"))
      .join(admit, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("clean_admitted"), lit(false)).as("admitted"),
        col("dup_match").as("first_match"),
        col("contaminated"), col("eval_match"))
  }
}
