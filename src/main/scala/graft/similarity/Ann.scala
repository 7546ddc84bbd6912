package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FloatVecDot

import VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the scale plan:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *    against the full corpus; one pass, no shuffle of the corpus side.
  *    Right answer at any corpus size as long as the QUERY side is small.
  *  - [[lshTopK]] — scale path: banded random-hyperplane LSH (nTables
  *    independent sign-projection keys, occupancy-targeted bit width);
  *    candidates are corpus rows sharing any table key with the query, and
  *    only candidates get exact cosine. Corpus-side cost drops from
  *    O(|corpus|·|queries|) to O(bucket volume); the bucket join is a plain
  *    shuffle join on the table keys, so it scales horizontally. Planes are
  *    deterministic (seeded splitmix64 literals) so results are replayable.
  */
object Ann {

  /** Exact top-k by cosine. `queries` must be broadcast-small. The corpus
    * side is repartitioned to the cluster's parallelism first: a small-file
    * corpus otherwise arrives as one parquet split, and the
    * broadcast-nested-loop pair evaluation — the O(|corpus|·|queries|) hot
    * loop — would run on a single task. The pair dot product runs through
    * the native [[graft.functions.FloatVecDot]] expression (allocation-free
    * codegen loop, bit-identical to the declarative fold).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.repartition(par)
      .select(col("vec_id").as("nid"), col("embedding").as("ce"),
        FloatVecDot.norm2(col("embedding")).as("cn2"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      FloatVecDot.norm2(col("embedding")).as("qn2"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(FloatVecDot.dot(col("qe"), col("ce")),
          col("qn2"), col("cn2")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Deterministic random hyperplanes: nPlanes × dim doubles in [-1, 1). */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    var x = seed
    def next(): Long = { // splitmix64 — public-domain PRNG step
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(nPlanes, dim)((next() >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0)
  }

  /** Bit i = 1 iff dot(v, plane_i) >= 0; bucket = the bits as an int. */
  private[graft] def signature(v: Column, ps: Array[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** A built IVF index: the (tiny) centroid table `(cell, cvec, cvn2)` and
    * the corpus assignment `(nid, cell, ce, cn2)` — every corpus vector in
    * exactly one cell. Build once ([[buildIvfIndex]]), persist
    * ([[writeIvfIndex]] — bucketed on `cell` so probe joins scan
    * shuffle-free), search many times ([[searchIvf]]).
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** Build the IVF index — the expensive, once-per-corpus half of
    * [[ivfTopK]]:
    *
    *  1. `nCells` centroids are drawn deterministically (smallest
    *     `xxhash64(vec_id)` — a seeded uniform sample) and then
    *     `refineIters` Lloyd iterations tighten them ([[lloydStep]]:
    *     exact-decimal cell means, so replay determinism survives);
    *  2. every corpus vector is assigned to its max-cosine centroid —
    *     one projection through the native [[graft.functions.IvfArgmaxCell]]
    *     kernel, O(n·nCells) map-side flops, zero shuffles and zero
    *     row blowup (the centroid table rides in the plan as a literal).
    *
    * At 100 TB this output is written once via [[writeIvfIndex]] and
    * reused across every query batch; recomputing the assignment per
    * query would dominate the search cost.
    *
    * `nCells = 0` sizes the cell count automatically as
    * `max(16, ceil(√n))` — the standard IVF rule that keeps the probed
    * candidate volume per query at `nProbe·√n` instead of a FIXED FRACTION
    * of the corpus: with constant nCells, search cost per query grows
    * linearly in n and the whole batch quadratically (measured 20× wall at
    * a 10× tier before this). Auto-sizing costs one `count()` at build
    * time — amortized like the rest of the build.
    */
  def buildIvfIndex(corpus: DataFrame, nCells0: Int = 16,
      refineIters: Int = 1): IvfIndex = {
    val nCells =
      if (nCells0 > 0) nCells0
      else math.max(16L, math.ceil(math.sqrt(corpus.count().toDouble)).toLong).toInt
    val init = corpus
      .select(col("embedding").as("cvec"), xxhash64(col("vec_id")).as("h"))
      .orderBy("h").limit(nCells)
      .withColumn("cell", row_number().over(Window.orderBy("h")))
      .select(col("cell"), col("cvec"), FloatVecDot.norm2(col("cvec")).as("cvn2"))
    // materialize (collect ≤ nCells rows) between iterations: the lazy
    // chain would otherwise re-execute every prior iteration's full-corpus
    // assignment ~2× per further step (the old-centroid branch can't reuse
    // the broadcast branch's exchange) — exponential in refineIters
    val cent = (1 to refineIters)
      .foldLeft(materialize(init))((c, _) => materialize(lloydStep(corpus, c)))
    IvfIndex(cent, assign(corpus, cent))
  }

  /** Assign each vector to its nearest centroid (cosine) via the native
    * [[graft.functions.IvfArgmaxCell]] kernel: the ≤ nCells centroid rows
    * are collected (they are already local after [[materialize]] — and at
    * √n cells the table is ~100 MB even at 10¹¹ vectors) and shipped as a
    * plan literal, so assignment is ONE projection — O(nCells·dim) flops
    * per row, one output row per vector, no join, no aggregate, no
    * shuffle beyond the parallelism spread. The previous
    * `join(broadcast(cent), lit(true))` + `max_by` formulation
    * materialized n×nCells wide rows (embedding duplicated per candidate
    * cell) through a hash aggregate — measured 361 s and ~quadratic at a
    * 100× tier; this is the fix. Ties break to the HIGHEST cell id
    * (the kernel's documented (sim, cell) lexicographic max — matching
    * the max_by it replaced, spec-pinned bit-identical) — deterministic
    * at any parallelism.
    */
  private[graft] def assign(corpus: DataFrame,
      cent: DataFrame): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus.repartition(par)
      .select(col("vec_id").as("nid"),
        argmaxCell(col("embedding"), cent).as("cell"),
        col("embedding").as("ce"),
        FloatVecDot.norm2(col("embedding")).as("cn2"))
  }

  /** `IvfArgmaxCell` over a collected centroid table (cell, cvec, …). */
  private def argmaxCell(vec: Column, cent: DataFrame): Column = {
    val (cells, mat) = collectCentroids(cent)
    call_function("ivf_argmax_cell", vec, cells, mat)
  }

  /** `IvfProbeCells`: the nProbe nearest cell ids, rank-ordered. */
  private def probeCells(vec: Column, cent: DataFrame, nProbe: Int): Column = {
    val (cells, mat) = collectCentroids(cent)
    call_function("ivf_probe_cells", vec, cells, mat, lit(nProbe))
  }

  /** Spec hook: (qid, pr, cell) probe triples as [[searchIvf]] ranks
    * them — rank = 1-based array position from the kernel.
    */
  private[graft] def probesForTest(idx: IvfIndex, queries: DataFrame,
      nProbe: Int): DataFrame =
    queries.select(col("vec_id").as("qid"),
        posexplode(probeCells(col("embedding"), idx.centroids, nProbe))
          .as(Seq("pos", "cell")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("pr"), col("cell"))

  private def collectCentroids(cent: DataFrame): (Column, Column) = {
    val rows = cent.select(col("cell"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    (typedLit(rows.map(_._1).toSeq), typedLit(rows.map(_._2.toSeq).toSeq))
  }

  /** Build an IVF index from USER-SUPPLIED centroids `(cell, cvec)` — no
    * sampling, no Lloyd. This is the deterministic-ingest form: centroids
    * trained offline (or drawn by any engine-independent rule) are the
    * frozen coordinate system, and the whole index build reduces to the
    * linear [[graft.functions.IvfArgmaxCell]] assignment pass. Because
    * nothing is engine-hash-seeded, the full build + add + search
    * pipeline is reproducible by an independent SQL engine — which is
    * exactly how q102's DuckDB oracle gates the assignment invariant.
    */
  def indexWithCentroids(corpus: DataFrame, centroids: DataFrame): IvfIndex = {
    val cent = centroids.select(col("cell"), col("cvec"),
      FloatVecDot.norm2(col("cvec")).as("cvn2"))
    IvfIndex(cent, assign(corpus, cent))
  }

  /** The ENGINE-INDEPENDENT centroid draw: every stride-th id, stride ≈
    * n/⌈√n⌉, so ~√n cells at any corpus size. Nothing is hash-seeded —
    * the same arithmetic runs in plain SQL, which is what lets q66, q91,
    * and q102 carry full DuckDB oracles over their IVF pipelines. One
    * bounded `count()` on the driver; the ~√n-row window sort is the
    * centroid table build, not a corpus-scale stage.
    */
  def strideCentroids(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = corpus.count().toDouble
    val stride = math.max(1L, math.floor(n / math.ceil(math.sqrt(n))).toLong)
    corpus.filter(col(idCol) % stride === 0)
      .select(row_number().over(Window.orderBy(idCol)).as("cell"),
        col(vecCol).as("cvec"))
  }

  /** Incrementally add vectors to an existing index WITHOUT retraining:
    * the new batch is assigned against the FROZEN centroids (one broadcast
    * join over the batch — cost scales with the batch, never the indexed
    * corpus) and unioned into the posting lists. This is the ANN side of
    * the incremental-ingest shape ([[graft.dedup.Dedup.exactIncremental]]
    * is the dedup side): a 100 TB corpus cannot re-run Lloyd's per arriving
    * batch. Centroids drift as the distribution shifts — cells fatten and
    * recall/latency degrade gracefully rather than break — so the
    * maintenance contract is periodic rebuild, like any IVF system.
    * For the PERSISTED form, append the assigned batch to the bucketed
    * `<name>_assigned` table; bucket pruning keeps searches shuffle-free
    * on the corpus side either way.
    */
  def addToIvfIndex(idx: IvfIndex, newVecs: DataFrame): IvfIndex =
    IvfIndex(idx.centroids, idx.assigned.unionByName(assign(newVecs, idx.centroids)))

  /** PORTABLE-HASH centroid draw: the ⌈√n⌉ ids smallest by
    * `md5(cast(id AS string))`, cells numbered by id order among the
    * drawn. This is the draw [[retrainCentroids]] uses instead of
    * [[strideCentroids]]: a stride over raw ids CORRELATES with id
    * structure — measured on the 100× tier, whose ids live at 10M-offset
    * copies, `rep % stride` (an even stride over even-structured ids)
    * drew 100% of its centroids from one id-parity class and the retrain
    * rebalanced nothing. A hash order is uniform under ANY id structure,
    * still engine-independent (md5 of the decimal string replays in
    * plain SQL — the same portability trick as the md5-60 sketches), and
    * scale-safe: orderBy+limit plans as a distributed top-k, never a
    * global sort. */
  def hashCentroids(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val n = corpus.count().toDouble
    val k = math.max(1, math.ceil(math.sqrt(n)).toInt)
    corpus.select(col(idCol).as("_id"), col(vecCol).as("cvec"),
        md5(col(idCol).cast("string")).as("_h"))
      .orderBy("_h", "_id")
      .limit(k)
      .select(row_number().over(Window.orderBy("_id")).as("cell"),
        col("cvec"))
  }

  /** The PERIODIC-REBUILD half of [[addToIvfIndex]]'s maintenance
    * contract: retrain the coordinate system from the CURRENT corpus (or
    * any representative sample of it — the semantic family passes its
    * distinct-vector reps ledger) with the engine-independent
    * [[hashCentroids]] draw plus `refineIters` exact-decimal Lloyd
    * steps. A drifted corpus concentrates in cells the original draw
    * never anticipated (hot cells are exactly the distinct²-per-cell
    * exposure of the within-cell pairwise operators); redrawing from the
    * current distribution re-spreads them — √n cells sized to the data
    * that actually arrived, not the data the first build saw.
    *
    * DETERMINISTIC in its input: the hash draw is a pure function of ids
    * and [[lloydStep]]'s means are exact decimal sums, so a crash-replay
    * over the same corpus state re-derives bit-identical centroids — the
    * property the versioned-centroid commit protocol
    * ([[graft.streaming.SemanticStream.retrainAndRemap]]) leans on.
    * `refineIters = 0` is the pure hash draw (fully SQL-replayable —
    * how q118 carries a DuckDB oracle over the retrain+remap pipeline).
    */
  def retrainCentroids(corpus: DataFrame, refineIters: Int = 1): DataFrame =
    (1 to refineIters).foldLeft(materialize(hashCentroids(corpus)))(
      (c, _) => materialize(lloydStep(corpus, c)))

  /** Persist an IVF index as two tables: `<name>_centroids` (tiny) and
    * `<name>_assigned` BUCKETED on `cell` — the probe join in [[searchIvf]]
    * then reads the corpus side pre-partitioned, so only the (small) query
    * side shuffles. This is the artifact that amortizes the index build
    * across query batches and JVM restarts.
    *
    * `buckets = 0` (default) sizes the bucket count to the session's
    * default parallelism (floor 8): a bucketed join runs AT the bucket
    * count — the probe side is exchanged into exactly that many
    * partitions — so a fixed 8 capped every search stage at 8 tasks
    * regardless of cores (measured: 51-task total, 8-task join stages on
    * 32 cores at the 100× tier). Writers on a cluster inherit its
    * parallelism; pass an explicit count to pin layouts across sessions
    * of different sizes.
    *
    * Concurrency contract: SINGLE WRITER per index name. The drop/delete/
    * recreate sequence below is not atomic, so two sessions building the
    * same `name` against a shared warehouse can race (one deletes the
    * location the other just wrote). Index builds are rare, deliberate
    * events — serialize them per name (e.g. one owner job per corpus
    * snapshot); concurrent READERS of a previously-committed index are
    * fine.
    */
  def writeIvfIndex(idx: IvfIndex, name: String, buckets: Int = 0): Unit = {
    val spark = idx.assigned.sparkSession
    val nBuckets =
      if (buckets > 0) buckets
      else math.max(8, spark.sparkContext.defaultParallelism)
    Seq(s"${name}_centroids", s"${name}_assigned").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      // without a durable metastore the catalog forgets tables across JVMs
      // while their warehouse directories persist — clear a stale location
      // or the CTAS below refuses to create (LOCATION_ALREADY_EXISTS).
      // Resolve the path through the catalog: it honors the CURRENT
      // database (<warehouse>/<db>.db/<table>), where a hand-built
      // <warehouse>/<table> would delete the wrong directory
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t.toLowerCase)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    idx.centroids.select("cell", "cvec").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${name}_centroids")
    graft.core.Layout.writeBucketed(
      idx.assigned, s"${name}_assigned", "cell", nBuckets)
  }

  /** Load an index persisted by [[writeIvfIndex]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): IvfIndex =
    IvfIndex(
      spark.table(s"${name}_centroids")
        .select(col("cell"), col("cvec"), FloatVecDot.norm2(col("cvec")).as("cvn2")),
      spark.table(s"${name}_assigned"))

  /** Search a prebuilt IVF index: a query probes its `nProbe` nearest
    * cells; candidates are the corpus vectors of those cells (equi-join on
    * the cell id — shuffle-free on the corpus side when the index is
    * bucketed), and only candidates get exact cosine. Each corpus vector
    * lives in exactly one cell, so a (query, neighbor) pair meets at most
    * once — no dedup pass, unlike multi-probe LSH.
    *
    * Expected candidate volume is nProbe/nCells of the corpus (~25% at the
    * 16/4 defaults on this uniform fixture; real clustered embeddings
    * concentrate true neighbors into far fewer probes).
    */
  def searchIvf(idx: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    // probe selection runs through the native IvfProbeCells kernel — one
    // bounded array<int> per query, exploded to nProbe rows. The prior
    // broadcast-true-join + per-query row_number window materialized and
    // SORTED |queries|×nCells wide rows just to keep nProbe of them —
    // Θ(|queries|·√n) exchange rows at auto-sized cell counts. Rank
    // semantics (psim desc, cell asc, NaN greatest) are unchanged and
    // spec-pinned against the window formulation.
    // the probe-key kernel is O(nCells·dim) flops PER QUERY ROW — at
    // auto-sized √n cells that is the CPU-dense shape Parallelism.ensure
    // exists for, and the query table otherwise arrives on its few
    // parquet splits and serializes the kernel stage
    val q = graft.core.Parallelism.ensure(
        queries.select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        FloatVecDot.norm2(col("embedding")).as("qn2"),
        explode(probeCells(col("embedding"), idx.centroids, nProbe))
          .as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    idx.assigned.join(q, Seq("cell")).filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(FloatVecDot.dot(col("qe"), col("ce")),
          col("qn2"), col("cn2")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** ANN top-k via an inverted-file index (IVF) — the second scale path
    * beside [[lshTopK]], trading LSH's stateless hashing for a data-aware
    * partition of the corpus. One-shot convenience:
    * [[buildIvfIndex]] + [[searchIvf]]; batch callers build (or
    * [[loadIvfIndex]]) once and search many times.
    *
    * Measured on the uniform sf0.01 fixture, recall@5 is flat across
    * refineIters 0/1/2 (0.60/0.56/0.62 — noise): Lloyd can only help when
    * there is cluster structure to find, which uniform random vectors lack
    * by construction; the default of one iteration is for real corpora,
    * and refineIters=0 skips the cost when the caller knows better.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 1): DataFrame =
    searchIvf(buildIvfIndex(corpus, nCells, refineIters), queries, k, nProbe)

  /** Pin a (tiny, ≤ nCells-row) centroid table as a local relation so each
    * Lloyd iteration's plan starts from collected data instead of replaying
    * the whole chain that produced it.
    */
  private[similarity] def materialize(cent: DataFrame): DataFrame = {
    val spark = cent.sparkSession
    import spark.implicits._
    cent.select(col("cell"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .toSeq.toDF("cell", "cvec")
      .select(col("cell"), col("cvec"), FloatVecDot.norm2(col("cvec")).as("cvn2"))
  }

  /** One Lloyd iteration: assign every corpus vector to its max-cosine
    * centroid, replace each centroid with its cell's mean vector. The mean
    * runs through EXACT decimal sums per dimension — a plain float/double
    * `avg` is partition-order-dependent in its last bits, which can flip
    * borderline cell assignments between runs and break the replay
    * determinism the spec pins. posexplode → (cell, dim) grid aggregate →
    * rebuild array sorted by dim; empty cells keep their old centroid
    * (standard k-means practice, keeps nCells stable).
    */
  private[similarity] def lloydStep(corpus: DataFrame, cent: DataFrame): DataFrame = {
    val assigned = corpus
      // same explicit parallelism guard as the other Ann hot loops: the
      // assignment kernel must not run at small-file split count
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("nid"), col("embedding").as("v"),
        argmaxCell(col("embedding"), cent).as("cell"))
    val means = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg((sum(col("x").cast("decimal(27,10)")) / count(lit(1)))
        .cast("float").as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        e => e.getField("m")).as("cvec"))
    cent.select(col("cell"), col("cvec").as("old_cvec"))
      .join(means, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("cvec"), col("old_cvec")).as("cvec"))
      .select(col("cell"), col("cvec"), FloatVecDot.norm2(col("cvec")).as("cvn2"))
  }

  /** ANN top-k via banded hyperplane LSH (exact cosine on candidates).
    *
    * `nTables` independent sign-projection tables of `bitsPerTable` bits
    * each; a corpus vector is a candidate for a query when they share ANY
    * table's full key (OR-of-ANDs — MinHash banding's math on
    * hyperplanes, the same construction as
    * [[graft.dedup.Dedup.embeddingNearDupLsh]]). Candidate volume per
    * query is ~nTables·n/2^bits, so `bitsPerTable = 0` (default)
    * AUTO-SIZES bits to hold expected bucket occupancy near a constant
    * (~64) as the corpus grows: the previous shape — ONE fixed 8-bit
    * table multi-probed at Hamming ≤ 2 — kept 256 buckets at every
    * corpus size, so candidates grew as n²/256 (measured: 2.6 s at a
    * 10× tier → 316 s at 100×, the exact pathology banding fixed for
    * embedding near-dup). Banding holds the per-table random-collision
    * rate constant; recall is parameter-bounded
    * (1 − (1 − p^bits)^nTables, p = 1 − θ/π per bit) and concentrates
    * sharply on the clustered embeddings real corpora have — the
    * fixture's uniform vectors are the worst case, and SimilaritySpec
    * pins its recall floor against the exact baseline.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 5, bitsPerTable: Int = 0, dim: Int = 64): DataFrame = {
    // occupancy-targeted at EVERY size (no fixed floor): a small corpus
    // gets few bits — wide buckets, near-exhaustive candidates, high
    // recall — and a large one gets just enough bits to hold ~64 rows
    // per bucket, so candidate volume per query stays ~nTables·64 flat
    // while recall decays only as the banding formula says it must
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else math.min(24, math.max(2,
        math.ceil(math.log(corpus.count().toDouble / 64.0) / math.log(2.0)).toInt))
    val allPlanes = planes(nTables * bits, dim)
    def keys = array((0 until nTables).map { t =>
      xxhash64(signature(col("embedding"),
        allPlanes.slice(t * bits, (t + 1) * bits)), lit(t))
    }: _*)
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      norm2(col("embedding")).as("cn2"), explode(keys).as("bkt"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      norm2(col("embedding")).as("qn2"), explode(keys).as("bkt"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    c.join(q, Seq("bkt")).filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(FloatVecDot.dot(col("qe"), col("ce")),
          col("qn2"), col("cn2")).as("sim"))
      .dropDuplicates("qid", "nid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** [[lshTopK]] with ENGINE-INDEPENDENT hyperplanes: instead of the
    * splitmix64-seeded random planes (whose 64-bit wraparound arithmetic
    * no SQL engine reproduces), the nTables·bits plane normals are
    * stride-drawn CORPUS VECTORS — valid random directions, since the
    * corpus is itself a sample of the embedding distribution, and on
    * clustered real corpora mildly data-adaptive (planes concentrate
    * where the data does). Everything downstream is plain arithmetic —
    * sign bits packed by integer shifts, bucket id `t·2^bits + packed`,
    * distinct candidates, exact cosine re-rank — so the whole approximate
    * pipeline carries a full DuckDB oracle (q41), the same move that
    * hash-gated the IVF paths via [[strideCentroids]].
    *
    * Occupancy targeting matches [[lshTopK]] but through an integer rule
    * both engines state identically (smallest `b` in [2,24] with
    * `2^b·64 ≥ n`) rather than floating `log2`, whose last-ulp rounding
    * could flip a `ceil` across engines. Plane collection is bounded:
    * ≤ nTables·24 rows ever reach the driver.
    */
  def lshTopKDataPlanes(corpus: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 5): DataFrame = {
    val n = corpus.count()
    val bits = (2 to 24).find(b => (1L << b) * 64 >= n).getOrElse(24)
    val nP = nTables * bits
    val stride = math.max(1L, n / nP)
    val planeVecs: Array[Array[Float]] = corpus
      .filter(col("vec_id") % stride === 0)
      .orderBy("vec_id").limit(nP)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(planeVecs.length == nP,
      s"plane draw came up short: ${planeVecs.length} of $nP — id space too " +
        "sparse for the stride rule at this corpus size")
    // bucket key for table t: t·2^bits + Σ_i [dot(v, plane_{t·bits+i}) ≥ 0]·2^i
    // — computed by the native LshBandKeys kernel (one loop per row; the
    // previous 60-wide when(float_vec_dot…) expansion dropped the stage
    // out of codegen into interpreted eval: 68 s of key computation alone
    // at the 100× tier, spec-pinned bit-identical to this kernel).
    // NULL-vector contract: the kernel null-propagates, so the explode
    // drops null embeddings from candidate generation — intentional (no
    // direction to hash; the old expansion's when(...).otherwise(0)
    // silently banded them at key 0). Parity vs the expansion is for
    // non-null rows.
    def keys(v: Column) = call_function("lsh_band_keys", v,
      typedLit(planeVecs.map(_.toSeq).toSeq), lit(bits))
    val ck = corpus.select(col("vec_id").as("nid"),
      explode(keys(col("embedding"))).as("bkt"))
    val qk = queries.select(col("vec_id").as("qid"),
      explode(keys(col("embedding"))).as("bkt"))
    val cand = qk.join(ck, Seq("bkt"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    cand
      .join(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        FloatVecDot.norm2(col("embedding")).as("qn2")), Seq("qid"))
      .join(corpus.select(col("vec_id").as("nid"), col("embedding").as("ce"),
        FloatVecDot.norm2(col("embedding")).as("cn2")), Seq("nid"))
      .select(col("qid"), col("nid"),
        cosinePrenormed(FloatVecDot.dot(col("qe"), col("ce")),
          col("qn2"), col("cn2")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}
