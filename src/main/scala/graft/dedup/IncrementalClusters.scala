package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cuts

/** Incrementally-maintained APPROXIMATE duplicate clusters — the streaming
  * close of the signature-only near-dup family (pairs: q105, admission:
  * q106, batch clusters: q107): fold each arriving wave's estimator-
  * verified edges into persisted per-doc cluster labels, so cluster
  * assignments stay current per wave instead of re-running the full q105
  * pair plan + transitive closure over the whole corpus (q107 re-sketches
  * every document per run — ~25 s at the 100× tier and growing with
  * corpus; a wave fold sketches only the wave).
  *
  * == State model ==
  * Two append-only ledgers (parquet row sets under the
  * [[graft.streaming.IdempotentSink]]/[[graft.streaming.LedgerCompaction]]
  * contracts — duplicate rows are tolerated everywhere):
  *
  *  - `labels` (id, label): ONE row per document, written in the
  *    document's own wave, carrying the min-id of its cluster AS OF that
  *    wave. Never rewritten per wave — corpus-sized state must not be
  *    rewritten by wave-sized work.
  *  - `merges` (old_label, new_label): appended when a wave's edges join
  *    two existing clusters — the affected docs' stored labels stay put
  *    and the merge row redirects them. `new_label < old_label` always
  *    (the new label is the merged component's min, which includes the
  *    old label), so merge chains strictly decrease: a forest with no
  *    cycles, each `old_label` appearing exactly once (a label that was
  *    merged away is never a resolved label again).
  *
  * A document's CURRENT label = follow its stored label through the merge
  * forest to the root. Per-wave work is wave-sized: the wave's edges (the
  * same banded-candidate + estimator-verify plan as approx admission, via
  * [[Dedup.MinHashLsh.approxVerifiedPairs]]), a wave-sized resolution
  * probe against the id-bucketed labels ledger, a wave-local connected-
  * components pass, and wave-sized appends. Nothing corpus-sized shuffles
  * or rewrites; the corpus-dependent cost is the same slim band-ledger
  * probe scan admission already pays.
  *
  * == Exactness (q108 ≡ q107) ==
  * [[Dedup.MinHashLsh.approxVerifiedPairs]] emits, per wave, every
  * thresholded pair whose LATER endpoint is in the wave — so the union
  * over waves is exactly [[Dedup.MinHashLsh.nearDupPairsApprox]]'s pair
  * relation over the full corpus, and folding each wave's edges into the
  * label/merge state computes the same connected components incrementally
  * (labels are component minima at every step; a wave merging components
  * relabels to the union's min, which is the global min of the merged
  * set). q108 gates this hash-exact against q107's recursive-CTE oracle.
  */
object IncrementalClusters {

  /** Root-resolution of a wave-sized probe's `lbl` column through the
    * merge forest: repeatedly join `lbl` against the merges ledger
    * (bucketed on old_label after compaction — the ledger side ships
    * nothing) and step to `new_label`, until a round matches no row.
    * Chain depth — and so the round count — is bounded by the number of
    * waves since the last closure-form compaction
    * ([[graft.streaming.NearDupStream.compactClusterLedgers]] rewrites
    * every chain to depth 1), so the steady-state cost is ONE wave-sized
    * join + one count per wave. Duplicate merge rows (crash replays)
    * multiply probe rows transiently; the per-round min-groupBy
    * re-collapses them (resolution is a function, so min is exact).
    *
    * A ledger whose chains run deeper than 64 (compaction disabled or
    * long-deferred) falls back to ONE join against the FULL merge
    * closure ([[mergeClosure]] — ledger-sized rather than wave-sized,
    * but always finite): slower for that wave, never wedged — a
    * long-running stream must not hard-fail, and permanently re-throw on
    * every replay, just because maintenance fell behind.
    */
  private[graft] def resolveThrough(probe: DataFrame,
      merges: DataFrame): DataFrame = {
    val m = merges.select(col("old_label"), col("new_label"))
    // each round's stepped frame is a lazy persist: its count fills the
    // cache the round's relabel then reads (sequenced actions). The
    // relabeled frame fed into the next round is a leaf: persisted
    // instead, every round nests the previous round's cached plan, and
    // AQE renders each nested cache's final AND initial plan, so the
    // explain string doubles per round (a 100-deep chain ran out of
    // heap inside explainString)
    var cur = Cuts.persist(probe) // (id, lbl)
    var rounds = 0
    var done = false
    while (!done && rounds < 64) {
      val stepped = Cuts.persist(cur
        .join(m.withColumnRenamed("old_label", "lbl"), Seq("lbl"), "left"))
      if (stepped.agg(count(col("new_label"))).head().getLong(0) == 0L) {
        done = true
      } else {
        cur = Cuts.leaf(stepped
          .select(col("id"), coalesce(col("new_label"), col("lbl")).as("lbl"))
          .groupBy("id").agg(min(col("lbl")).as("lbl")))
      }
      rounds += 1
    }
    if (!done) {
      log.warn("IncrementalClusters.resolveThrough: merge chains deeper " +
        "than 64 — resolving through the full merge closure instead " +
        "(ledger-sized work for this wave); run cluster-ledger " +
        "compaction more often to restore wave-sized resolution")
      cur = Cuts.persist(cur
        .join(mergeClosure(merges).withColumnRenamed("old_label", "lbl"),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("root"), col("lbl")).as("lbl"))
        .groupBy("id").agg(min(col("lbl")).as("lbl")))
    }
    cur
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pair-row gate under which wave-local component closures run as an
    * in-process driver union-find instead of [[Dedup.connectedComponents]].
    * The full CC machinery CHECKPOINTS its edge list before anything else
    * (necessary when the edge-producing plan is expensive and feeds
    * log(d) rounds) — but a wave fold's edges derive from frames the
    * writer already persisted, and the checkpoint + release round-trip
    * is a fixed ~1-2 s that dominated q108's wall at small SF (5 CC
    * invocations ≈ 8 s of pure orchestration on a 5,000-doc corpus).
    * 12M pairs ≈ the 24M directed-edge budget connectedComponents'
    * own driver gate documents; above it the full machinery (with its
    * deployment-tunable gate) takes over. Deployment-tunable like that
    * gate: `spark.graft.dedup.waveCcMaxPairs` (pair-row count; 0 forces
    * the distributed fold — e.g. a memory-tight driver ingesting
    * dup-storm waves).
    */
  private val DriverMaxPairsDefault = 12L * 1000 * 1000

  /** The READ-path gate ([[mergeClosure]]) is separate from — and lower
    * than — the wave-edge gate: the closure's driver collect recurs on
    * EVERY resolve/clusters call and both compaction transforms, not
    * once per wave, so its driver budget should be the cost a steady
    * read cadence can afford (4M rows ≈ 64 MB packed), not the one-off
    * wave budget. `spark.graft.dedup.mergeClosureDriverMaxRows`
    * overrides; 0 forces the distributed closure. */
  private val ClosureDriverMaxRowsDefault = 4L * 1000 * 1000

  private def confGate(spark: org.apache.spark.sql.SparkSession,
      key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      val n =
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a plain row count (got '$v')")
        }
      require(n >= 0,
        s"$key must be >= 0 (got $n); 0 forces the distributed path")
      n
    }.getOrElse(default)

  private def driverMaxPairs(spark: org.apache.spark.sql.SparkSession): Long =
    confGate(spark, "spark.graft.dedup.waveCcMaxPairs", DriverMaxPairsDefault)

  private def closureDriverMaxRows(
      spark: org.apache.spark.sql.SparkSession): Long =
    confGate(spark, "spark.graft.dedup.mergeClosureDriverMaxRows",
      ClosureDriverMaxRowsDefault)

  /** In-process min-label components over a SMALL pair list: same
    * assignment as [[Dedup.connectedComponents]] (every node → min
    * reachable id), fetched as packed per-partition long arrays in one
    * job. Caller guarantees the frame is cheap to evaluate (persisted
    * parents) and row-bounded by the wave gate. */
  private def driverComponents(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val blocks: Array[Array[Long]] = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    blocks.foreach { b =>
      var i = 0
      while (i < b.length) {
        val ra = find(b(i)); val rb = find(b(i + 1))
        if (ra != rb) parent(ra) = rb
        i += 2
      }
    }
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    val nodes = scala.collection.mutable.ArrayBuilder.make[Long]
    val seen = scala.collection.mutable.LongMap.empty[Boolean]
    blocks.foreach { b =>
      var i = 0
      while (i < b.length) {
        val id = b(i)
        if (!seen.contains(id)) { seen(id) = true; nodes += id }
        val r = find(id)
        if (id < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = id
        i += 1
      }
    }
    val rows = nodes.result().map(id =>
      org.apache.spark.sql.Row(id, minOf(find(id))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          rows.length / 65536 + 1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The merge forest's transitive ROOTS: (old_label, root) for every
    * label ever merged away. Each tree's root is its minimum label
    * (every merge row decreases), so the closure is exactly connected
    * components over the merge rows as an undirected edge list — an
    * in-process union-find for the (typical) small ledger, delegated to
    * [[Dedup.connectedComponents]] (delta pointer-jumping, its own
    * driver gate) past the wave gate. Root self-rows (root, root)
    * ride along harmlessly: resolution coalesces through them as no-ops.
    * Used by the read path ([[clusters]]) and by ledger compaction
    * (rewriting merges to depth-1 closure form); the per-wave fold
    * resolves its wave-sized probe iteratively instead
    * ([[resolveThrough]]) so a wave never closes the whole forest.
    */
  def mergeClosure(merges: DataFrame,
      knownRows: Option[Long] = None): DataFrame = {
    val m = merges.select(col("old_label"), col("new_label"))
    // knownRows spares the per-call count job when the caller already
    // materialized the ledger; the read-path gate is lower than the
    // wave-edge gate — see [[ClosureDriverMaxRowsDefault]]
    val n = knownRows.getOrElse(m.count())
    if (n <= closureDriverMaxRows(merges.sparkSession))
      driverComponents(m, "old_label", "new_label")
        .select(col("id").as("old_label"), col("comp").as("root"))
    else
      Dedup.connectedComponents(m, "old_label", "new_label")
        .select(col("id").as("old_label"), col("comp").as("root"))
  }

  /** Current per-doc labels: stored labels redirected through the merge
    * closure. One corpus-sized left join against the (small) closure —
    * the read path for "what cluster is doc X in today". */
  def resolve(labels: DataFrame, merges: DataFrame): DataFrame =
    labels
      // one row per doc even while a replayed-after-sweep batch transiently
      // duplicates rows (identical, so min is exact); the groupBy runs
      // exchange-free on the id-bucketed compacted table
      .groupBy("id").agg(min(col("label")).as("label"))
      .join(mergeClosure(merges).withColumnRenamed("old_label", "label"),
        Seq("label"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("label")).as("comp"))

  /** q107-shaped cluster assignments from the ledger state: every doc in
    * a cluster of ≥ 2, with its component (min reachable id) and cluster
    * size — byte-identical to running
    * [[Dedup.MinHashLsh.nearDupPairsApprox]] + [[Dedup.connectedComponents]]
    * from scratch over the corpus the ledgers absorbed (q108's gate).
    * Singleton docs (no thresholded pair ever) are labeled with their own
    * id in the ledger and excluded here, matching q107's output domain.
    */
  def clusters(labels: DataFrame, merges: DataFrame): DataFrame = {
    val w = Window.partitionBy("comp")
    resolve(labels, merges)
      .withColumn("csize", count(lit(1)).over(w))
      .filter(col("csize") >= 2)
      .select(col("doc_id"), col("comp"), col("csize"))
  }

  /** One wave's fold: the (labelRows, mergeRows) deltas to append, both
    * wave-sized, computed as a PURE function of (wave sketch, committed
    * ledgers) — the property the streaming writer's exactly-once argument
    * needs ([[graft.streaming.NearDupStream.clusterWriter]]).
    *
    * Steps: (1) wave edges from the shared admission kernel
    * ([[Dedup.MinHashLsh.approxVerifiedPairs]] — banded candidates vs the
    * corpus band ledger and within-wave smaller ids, estimator-verified
    * against the sig ledger); (2) resolve every edge endpoint to its
    * CURRENT label (stored label → merge roots; a doc absent from the
    * labels ledger is its own label); (3) wave-local connected components
    * over the resolved-label graph (self-loops dropped — wave-sized, so
    * the driver union-find gate almost always takes it); (4) labelRows =
    * every wave doc labeled with its component's min (its own id when
    * edgeless), mergeRows = every EXISTING label whose component min
    * changed (wave doc ids are excluded — their labelRows already carry
    * the final value; no stored row points at them).
    *
    * Replay-safe at every crash point of the writer's labels → merges →
    * bands → sigs commit order: with the wave's labels already committed,
    * endpoints resolve to their final components, the wave graph
    * degenerates toward self-loops, and the fold re-derives exactly the
    * first run's rows (lost merge rows re-emerge because the stale labels
    * they redirect still resolve to themselves); with everything
    * committed, the sinks' markers skip the writes entirely.
    *
    * The kernel's band rows count themselves for its verify-broadcast
    * gate (no extra driver job); the mid-frames several subtrees consume
    * are [[Cuts.leaf]] cuts the wave owns.
    */
  private def packedPairs(df: DataFrame, a: String,
      b: String): Array[Array[Long]] =
    df.select(col(a).cast("long"), col(b).cast("long"))
      .rdd.mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }.collect()

  private def longsOf(df: DataFrame, c: String): Array[Long] = {
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    df.select(col(c).cast("long")).rdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach(r => b += r.getLong(0))
      Iterator.single(b.result())
    }.collect().foreach(buf ++= _)
    buf.result()
  }

  private def pairFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Long)], aName: String, bName: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)),
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          rows.length / 65536 + 1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(aName,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(bName,
          org.apache.spark.sql.types.LongType, nullable = false))))

  private def longFrame(spark: org.apache.spark.sql.SparkSession,
      vals: Array[Long], name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vals.toIndexedSeq.map(org.apache.spark.sql.Row(_)),
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          vals.length / 65536 + 1))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.LongType, nullable = false))))

  /** Parallelized probe frames carry no stats, so Spark won't pick the
    * broadcast side on its own; the driver knows the exact row count, so
    * hint it whenever the probe is comfortably under the broadcast budget
    * (1M longs ≈ 8 MB) and leave the planner alone near the wave gate
    * (12M-pair waves → up to 24M endpoints, too big to force). */
  private def probeHint(df: DataFrame, rows: Int): DataFrame =
    if (rows <= 1000000) broadcast(df) else df

  /** Driver-side merge-forest resolution for the wave-gated fold path:
    * walks the redirect chains of the given (wave-bounded, already
    * collected) labels with one frontier-pruned ledger scan per chain
    * level — each round is ONE job (collect the merge rows whose
    * `old_label` is in the frontier), against [[resolveThrough]]'s
    * per-round scoped join + count + groupBy. Same chain-depth bound and
    * full-closure fallback as [[resolveThrough]]; self-rows (root, root)
    * are skipped so a closure-form ledger can't spin the walk. Returns
    * the redirect map — callers follow it to the root (chains strictly
    * decrease, so the walk terminates). */
  private def resolveLabelsOnDriver(spark: org.apache.spark.sql.SparkSession,
      lbls: Array[Long], merges: DataFrame): scala.collection.mutable.LongMap[Long] = {
    val redirect = scala.collection.mutable.LongMap.empty[Long]
    val seen = scala.collection.mutable.LongMap.empty[Boolean]
    var frontier = {
      val b = scala.collection.mutable.ArrayBuilder.make[Long]
      lbls.foreach { l => if (!seen.contains(l)) { seen(l) = true; b += l } }
      b.result()
    }
    var rounds = 0
    while (frontier.nonEmpty && rounds < 64) {
      val nxt = scala.collection.mutable.ArrayBuilder.make[Long]
      packedPairs(
        merges.join(probeHint(longFrame(spark, frontier, "old_label"),
          frontier.length), Seq("old_label"), "left_semi"),
        "old_label", "new_label")
        .foreach { blk =>
          var i = 0
          while (i < blk.length) {
            val o = blk(i); val n = blk(i + 1)
            if (n != o) {
              redirect(o) = n
              if (!seen.contains(n)) { seen(n) = true; nxt += n }
            }
            i += 2
          }
        }
      frontier = nxt.result()
      rounds += 1
    }
    if (frontier.nonEmpty) {
      log.warn("IncrementalClusters: merge chains deeper than 64 — " +
        "resolving the remainder through the full merge closure " +
        "(ledger-sized work for this wave); run cluster-ledger " +
        "compaction more often to restore wave-sized resolution")
      packedPairs(
        mergeClosure(merges).join(probeHint(
          longFrame(spark, frontier, "old_label"), frontier.length),
          Seq("old_label"), "left_semi"),
        "old_label", "root")
        .foreach { blk =>
          var i = 0
          while (i < blk.length) {
            if (blk(i + 1) != blk(i)) redirect(blk(i)) = blk(i + 1)
            i += 2
          }
        }
    }
    redirect
  }

  def foldWave(sk: DataFrame, corpusBands: DataFrame, corpusSigs: DataFrame,
      labels: DataFrame, merges: DataFrame, threshold: Double,
      hotBandCap: Int = 0): (DataFrame, DataFrame) =
    // no cut on the edge frame: foldEdgeFrame cuts it to a leaf itself,
    // and a cache on top would just hold a redundant copy
    foldEdgeFrame(sk, Dedup.MinHashLsh.approxVerifiedPairs(
      sk, corpusBands, corpusSigs, threshold, hotBandCap)._1, labels, merges)

  /** [[foldWave]] with the EXACT-Jaccard edge kernel
    * ([[Dedup.MinHashLsh.exactVerifiedPairs]] over band + shingle-set
    * ledgers) — the fold is edge-source-agnostic, so the exact admission
    * family gets incremental clusters under its own contract: the union
    * of per-wave exact edge sets equals [[Dedup.MinHashLsh.nearDupPairs]]'
    * relation over the full corpus, and q110 gates the fold hash-exact
    * against q109's from-scratch closure oracle. `sizeHint` is the RAW
    * wave frame, driving the exact path's verify-broadcast gate (its
    * plan-time estimate honestly bounds sset bytes — see
    * [[Dedup.MinHashLsh.nearDupAdmitSketched]]).
    */
  def foldWaveExact(sk: DataFrame, sizeHint: DataFrame,
      corpusBands: DataFrame, corpusSets: DataFrame,
      labels: DataFrame, merges: DataFrame, threshold: Double,
      hotBandCap: Int = 0): (DataFrame, DataFrame) =
    foldEdgeFrame(sk, Dedup.MinHashLsh.exactVerifiedPairs(
      sk, sizeHint, corpusBands, corpusSets, threshold, hotBandCap),
      labels, merges)

  /** The shared fold over an already-built (bid, mid) wave edge frame —
    * PUBLIC because the fold is genuinely edge-source-agnostic: any
    * kernel that emits, per wave, every thresholded pair whose later
    * endpoint is in the wave (minhash estimator edges in [[foldWave]],
    * exact-Jaccard edges in [[foldWaveExact]], within-IVF-cell cosine
    * edges in [[SemanticDedup.foldWaveSemantic]]) folds into the same
    * label/merge ledgers with the same union-over-waves ≡ from-scratch
    * closure guarantee.
    *
    * RETURNED FRAMES ARE LEAF-SHAPED on both paths — parallelized local
    * arrays under the driver gate, [[Cuts.leaf]] cuts past it (owned by
    * the caller's scope, like every cut the fold makes) — so callers
    * fold them into their ledgers with PLAIN unions: a per-wave
    * cumulative `union(...)` cut on top re-copies the
    * whole ledger every wave (O(waves·corpus) for the fold) and pays an
    * extra eager action+job, for lineage that is already cut.
    *
    * `sk` supplies the wave's ids (column `id`);
    * `edges` must be cheap to re-evaluate (built over the kernel's own
    * leaves or over persisted parents).
    *
    * FAILURE SEMANTICS of the lineage cuts: every eager cut in the fold
    * family is a [[Cuts.leaf]]. Without a checkpoint dir that is a
    * `localCheckpoint` — executor-local, non-replicated blocks. On
    * `local[n]` (this engine's measured tier) executor loss is process
    * death, so the risk is zero; on a real cluster, losing an executor
    * makes a truncated-lineage RDD unrecoverable and FAILS THE JOB — the
    * recovery contract is re-run-the-batch (every fold is a pure function
    * of (wave, committed ledgers), so a re-run is safe and exactly-once
    * under the streaming writers' marker protocol). With a Spark
    * checkpoint dir set every leaf is a reliable `checkpoint()` instead.
    *
    * The edge plan is the fold's ONE fat plan (band probe + verify over
    * the ledgers). Materialize it, then fetch the wave-sized edge list as
    * packed long arrays and run the graph work ON THE DRIVER over
    * primitive arrays + tiny parallelized probe frames. The previous
    * all-DataFrame shape embedded the edge plan in every downstream frame
    * (endpoints ∪, resolution probe, graph join, label rows) — at small
    * waves the repeated analysis/canonicalization of those nested plans
    * dominated the fold outright (measured at sf0.1: counting a 16-row
    * derived frame took 2.5 s; whole folds 7-18 s on a 5,000-doc corpus —
    * driver planning, not compute). Wave edges are wave-bounded by
    * construction; past the wave gate (same budget class as
    * connectedComponents' own driver gate) the distributed shape takes
    * over.
    */
  def foldEdgeFrame(sk: DataFrame, edges: DataFrame,
      labels: DataFrame, merges: DataFrame): (DataFrame, DataFrame) = {
    val spark = sk.sparkSession
    // cut the edge frame to a leaf BEFORE the fold's driver round trips:
    // the gate count, the packed collect, and (driver path) nothing else
    // reference the wave's fat admission plan — un-cut, each action
    // re-ANALYZED it (measured at sf0.1: 0.3-0.4 s of driver gap per
    // count across q108/q110's waves; q110's whole wall was 114 tiny
    // stages + 3.6 s of such gaps over 6.7 s total executor time).
    // This leaf holds the verified edges, so no action re-runs the
    // candidate emission or the verify. The distributed path gets the
    // leaf too (its five consumers then share one materialization).
    val e = Cuts.leaf(edges)
    val nPairs = e.count()
    if (nPairs > driverMaxPairs(spark)) {
      val out = foldWaveDistributed(spark, sk, e, labels, merges)
      // the returned deltas were cut eagerly inside foldWaveDistributed,
      // so nothing re-evaluates the edge leaf — release it now instead
      // of at scope close
      Cuts.release(e)
      return out
    }
    val blocks = packedPairs(e, "bid", "mid")
    // the packed collect was the leaf's last consumer on this path
    Cuts.release(e)
    // distinct endpoints
    val seenEp = scala.collection.mutable.LongMap.empty[Boolean]
    val eps = scala.collection.mutable.ArrayBuilder.make[Long]
    blocks.foreach { blk =>
      var i = 0
      while (i < blk.length) {
        if (!seenEp.contains(blk(i))) { seenEp(blk(i)) = true; eps += blk(i) }
        i += 1
      }
    }
    val epArr = eps.result()
    // resolve endpoint labels against the LEDGERS: the slim labels/merges
    // scans are the wave's only corpus-sized reads; the probe side stays a
    // broadcast-pruned semi-join filter, and everything wave-sized lives
    // on the driver (the gate already bounded it). One labels-scan job,
    // then one merges-scan job per merge-chain level — no per-round
    // persists, counts, or groupBys (the previous resolveThrough shape
    // spent 2-3 jobs per round on a ~100-row probe; measured at sf0.1 as
    // the bulk of a 1-2 s fold on a 105-edge wave). Duplicate ledger rows
    // (a batch replayed after its dir was swept lives in table AND dir
    // until the next sweep) are identical, so the driver-side min-fold is
    // exact.
    val nodeMap = scala.collection.mutable.LongMap.empty[Long]
    if (epArr.nonEmpty) {
      val storedLbl = scala.collection.mutable.LongMap.empty[Long]
      packedPairs(
        labels.join(probeHint(longFrame(spark, epArr, "id"), epArr.length),
          Seq("id"), "left_semi"),
        "id", "label")
        .foreach { blk =>
          var i = 0
          while (i < blk.length) {
            val id = blk(i); val l = blk(i + 1)
            if (l < storedLbl.getOrElse(id, Long.MaxValue)) storedLbl(id) = l
            i += 2
          }
        }
      val lbls = epArr.map(id => storedLbl.getOrElse(id, id))
      val redirect = resolveLabelsOnDriver(spark, lbls, merges)
      def root(l0: Long): Long = {
        var r = l0
        while (redirect.contains(r) && redirect(r) != r) r = redirect(r)
        r
      }
      var i = 0
      while (i < epArr.length) {
        nodeMap(epArr(i)) = root(lbls(i))
        i += 1
      }
    }
    // union-find over the node-mapped, self-loop-free edges (min label
    // per component — the connectedComponents assignment)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    val seenNode = scala.collection.mutable.LongMap.empty[Boolean]
    val graphNodes = scala.collection.mutable.ArrayBuilder.make[Long]
    blocks.foreach { blk =>
      var i = 0
      while (i < blk.length) {
        val na = nodeMap.getOrElse(blk(i), blk(i))
        val nb = nodeMap.getOrElse(blk(i + 1), blk(i + 1))
        if (na != nb) {
          if (!seenNode.contains(na)) { seenNode(na) = true; graphNodes += na }
          if (!seenNode.contains(nb)) { seenNode(nb) = true; graphNodes += nb }
          val ra = find(na); val rb = find(nb)
          if (ra != rb) parent(ra) = rb
        }
        i += 2
      }
    }
    val gArr = graphNodes.result()
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    gArr.foreach { n =>
      val r = find(n)
      if (n < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = n
    }
    def compOf(n: Long): Long =
      if (seenNode.contains(n)) minOf(find(n)) else n
    // every wave doc labeled with its resolved node's component min (its
    // own id when edgeless); merge redirects for every EXISTING label
    // whose component min changed (wave doc ids excluded — their label
    // rows already carry the final value; no stored row points at them)
    val waveIds = longsOf(sk, "id")
    val batchSet = scala.collection.mutable.LongMap.empty[Boolean]
    waveIds.foreach(id => batchSet(id) = true)
    val labelRows = waveIds.map { id =>
      val node = nodeMap.getOrElse(id, id)
      (id, compOf(node))
    }
    val mergeRows = gArr.iterator
      .filter(n => !batchSet.contains(n))
      .map(n => (n, compOf(n)))
      .filter(t => t._2 != t._1)
      .toArray
    (pairFrame(spark, labelRows, "id", "label"),
      pairFrame(spark, mergeRows, "old_label", "new_label"))
  }

  /** The all-DataFrame fold for waves past the wave gate — identical
    * semantics, graph closed by [[Dedup.connectedComponents]] (delta
    * pointer-jumping with its own deployment-tunable driver gate). */
  private def foldWaveDistributed(spark: org.apache.spark.sql.SparkSession,
      sk: DataFrame, edges: DataFrame, labels: DataFrame,
      merges: DataFrame): (DataFrame, DataFrame) = {
    val eps = edges.select(col("bid").as("id"))
      .unionByName(edges.select(col("mid").as("id")))
      .distinct()
    val stored = eps.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("lbl"))
      .groupBy("id").agg(min(col("lbl")).as("lbl"))
    val nodeOf = Cuts.persist(resolveThrough(stored, merges)
      .select(col("id"), col("lbl").as("node")))
    val g = edges
      .join(nodeOf.select(col("id").as("bid"), col("node").as("na")), Seq("bid"))
      .join(nodeOf.select(col("id").as("mid"), col("node").as("nb")), Seq("mid"))
      .filter(col("na") =!= col("nb"))
      .select("na", "nb")
    val cc = Dedup.connectedComponents(g, "na", "nb")
    val labelRows = sk.select(col("id"))
      .join(nodeOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("node"), col("id")).as("node"))
      .join(cc.select(col("id").as("node"), col("comp")), Seq("node"), "left")
      .select(col("id"), coalesce(col("comp"), col("node")).as("label"))
    val mergeRows = cc
      .join(sk.select(col("id")), Seq("id"), "left_anti")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as("old_label"), col("comp").as("new_label"))
    // truncate HERE, not in every caller: these frames embed the wave's
    // whole edge plan (band probe + verify + CC), and the fold contract
    // (see foldEdgeFrame's scaladoc) is that returned rows are
    // leaf-shaped — the driver-gated path returns parallelized local
    // arrays, so this path must hand back the same thing or the callers'
    // ledger unions re-nest the fat plan per wave. The checkpoint also
    // means a writer's two sink actions (labels, merges) share one
    // materialization instead of re-running the edge plan each.
    (Cuts.leaf(labelRows), Cuts.leaf(mergeRows))
  }
}
