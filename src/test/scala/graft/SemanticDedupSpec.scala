package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SemanticDedup
import graft.core.Tables

class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("planted semantic groups cluster; exactly one keeper per group") {
    // two tight direction-groups plus an isolated vector; one cell forces
    // full pairwise so the grouping logic itself is what's under test
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.999f, 0.01f, 0.0f)),
      (2L, Array(0.998f, 0.02f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f)),
      (11L, Array(0.01f, 0.999f, 0.0f)),
      (20L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = SemanticDedup.semanticDedup(vecs, threshold = 0.97, nCells = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(3)))
    assert(r.length == 6, "every input row comes back exactly once")
    val byCluster = r.groupBy(_._2)
    assert(byCluster.keySet == Set(0L, 10L, 20L),
      "clusters labeled by min member id")
    assert(byCluster(0L).map(_._1).toSet == Set(0L, 1L, 2L))
    assert(byCluster(10L).map(_._1).toSet == Set(10L, 11L))
    assert(byCluster(20L).map(_._1).toSet == Set(20L))
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._3) == 1, s"cluster $c keeps exactly one member")
    }
    assert(r.find(_._1 == 20L).get._3, "singletons are always kept")
  }

  test("exemplar rule: keeper is the member farthest from its centroid") {
    // one group only, one cell, one Lloyd step → centroid = the group mean
    // ≈ (1, 0.1033, 0); (1, 0.3) sits ~11° off the mean while the others
    // sit within ~6° — the paper's rule keeps the least prototypical member
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.0f)),
      (2L, Array(1.0f, 0.3f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = SemanticDedup
      .semanticDedup(vecs, threshold = 0.95, nCells = 1, refineIters = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(3)))
    assert(r.map(_._2).toSet == Set(0L), "all three are one semantic group")
    assert(r.filter(_._3).map(_._1).toSeq == Seq(2L),
      "the off-axis member is the kept exemplar")
  }

  test("identical-vector collapse: edge volume is linear in the group, not quadratic") {
    // a dup-heavy corpus concentrates 1000 IDENTICAL embeddings in one
    // k-means cell — raw within-cell pairwise would emit 1000·999/2 ≈ 500k
    // edges there; the representative collapse must emit exactly 999 star
    // edges for the group (plus nothing across the orthogonal singletons)
    val members = ((0L until 1000L).map(i => (i, 0, Array(1.0f, 0.0f, 0.0f), 1.0)) ++
      Seq((2000L, 0, Array(0.0f, 1.0f, 0.0f), 1.0),
          (2001L, 0, Array(0.0f, 0.0f, 1.0f), 1.0)))
      .toDF("nid", "cell", "ce", "cn2")
    val edges = graft.dedup.SemanticDedup.dupEdges(members, 0.97)
    assert(edges.count() == 999L,
      "exactly one star edge per non-representative identical member")
    assert(edges.filter(org.apache.spark.sql.functions.col("id_a") =!= 0L).count() == 0,
      "every star edge hangs off the min-id representative")
  }

  test("identical-vector collapse: -0.0 and 0.0 components land in ONE group") {
    // xxhash64 hashes raw float bits, where -0.0f != 0.0f bitwise; the
    // collapse canonicalizes before hashing so these two ==-equal vectors
    // form one group (one star edge), as the pre-hash array-equality key
    // (NormalizeFloatingNumbers semantics) always did. (Uncollapsed they
    // would still pair through the rep-level pairwise — cosine(v,v)=1 —
    // so this pins collapse EFFECTIVENESS, which is what keeps a
    // dup-heavy ±0.0-mixed group off the pairwise path, not closure.)
    val members = Seq(
      (1L, 0, Array(1.0f, 0.0f), 1.0),
      (2L, 0, Array(1.0f, -0.0f), 1.0))
      .toDF("nid", "cell", "ce", "cn2")
    val edges = graft.dedup.SemanticDedup.dupEdges(members, 0.97)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(edges == Set((1L, 2L)),
      "bit-distinct but ==-equal vectors must collapse to one star edge")
  }

  test("identical-vector collapse: zero vectors are never edged") {
    // cosine with a zero vector is undefined; raw pairwise null-filtered
    // those pairs and the star edges must not resurrect them
    val members = Seq(
      (1L, 0, Array(0.0f, 0.0f, 0.0f), 0.0),
      (2L, 0, Array(0.0f, 0.0f, 0.0f), 0.0),
      (3L, 0, Array(1.0f, 0.0f, 0.0f), 1.0))
      .toDF("nid", "cell", "ce", "cn2")
    assert(graft.dedup.SemanticDedup.dupEdges(members, 0.5).count() == 0)
  }

  test("collapse end-to-end: planted 1k-identical cluster groups with one keeper") {
    val vecs = ((0L until 1000L).map(i => (i, Array(1.0f, 0.0f, 0.0f))) ++
      Seq((5000L, Array(0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    val r = SemanticDedup.semanticDedup(vecs, threshold = 0.97, nCells = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(3)))
    assert(r.length == 1001)
    val big = r.filter(_._2 == 0L)
    assert(big.length == 1000, "all identical vectors form one cluster")
    assert(big.count(_._3) == 1, "exactly one keeper in the collapsed cluster")
    assert(r.find(_._1 == 5000L).exists(_._3), "the singleton is kept")
  }

  test("semanticAdmit: one-pass verdict — corpus match, within-batch " +
      "smaller id, identical-vector collapse, zero vector admitted") {
    // unit-norm dim-4 fixture: vx/vy at cos 0.92 (below t=0.97), vz the
    // bridge at cos ≈ 0.9798 to both, vw/vu at cos 0.9 — all pinned
    val vx = Seq(1f, 0f, 0f, 0f)
    val vy = Seq(0.92f, 0.392f, 0f, 0f)
    val vz = Seq(0.97979f, 0.200041f, 0f, 0f)
    val vw = Seq(0f, 1f, 0f, 0f)
    val vu = Seq(0f, 0.9f, 0.43589f, 0f)
    val zero = Seq(0f, 0f, 0f, 0f)
    val cent = Seq((1, Seq(1f, 0f, 0f, 0f)), (2, Seq(0f, 1f, 0f, 0f)))
      .toDF("cell", "cvec")
    val corpus = Seq(0L -> vy, 2L -> vw).toDF("vec_id", "embedding")
    val batch = Seq(1L -> vx, 3L -> vx, 5L -> vz, 7L -> zero, 9L -> vu)
      .toDF("vec_id", "embedding")
    val got = SemanticDedup.semanticAdmit(batch, corpus, 0.97, cent)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Boolean]("admitted"), r.getAs[Any]("first_match"))).toSet
    assert(got == Set(
      (1L, true, null), // cell 1; corpus vy at 0.92 < t — novel
      (3L, false, 1L), // identical to smaller batch id 1 (fps collapse)
      (5L, false, 0L), // bridge: matches corpus 0 AND batch 1/3 — min = 0
      (7L, true, null), // zero vector: cosine undefined, always admitted
      (9L, true, null)), // cell 2; corpus vw at 0.9 < t — novel
      s"verdicts: $got")
  }

  test("q111 incremental fold ≡ q91 from-scratch SemDeDup on the " +
      "sf0.001 fixture") {
    def run(name: String) = graft.core.Cuts.scoped {
      SparkEntry.queries(name)(spark, TestSpark.sfDir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"),
          r.getAs[Any]("centroid_sim"), r.getAs[Boolean]("keep"))).toSet
    }
    assert(run("q111_semantic_dedup_incr") == run("q91_semantic_dedup"),
      "ledger-maintained semantic clusters must equal the from-scratch run")
  }

  test("retrainRemap: a drifted corpus's hot cell rebalances; retrain is " +
      "deterministic") {
    import org.apache.spark.sql.functions.{col, count, max}
    import graft.similarity.Ann
    // dim-4 arc fixture: the PRE-DRIFT corpus spreads over θ ∈ [0.5, π/2];
    // the drift lands 400 new distinct vectors in the narrow arc
    // θ ∈ [0, 0.3] the original draw never anticipated — under the v0
    // centroids they all pile into the single nearest cell (the
    // distinct²-per-cell exposure retraining exists to fix)
    def v(theta: Double) =
      Seq(math.cos(theta).toFloat, math.sin(theta).toFloat, 0f, 0f)
    val sparse = (0 until 64).map(i =>
      (i.toLong, v(0.5 + (math.Pi / 2 - 0.5) * i / 63)))
    val dense = (100 until 500).map(i =>
      (i.toLong, v(0.3 * (i - 100) / 399.0)))
    val original = sparse.toDF("vec_id", "embedding")
    val all = (sparse ++ dense).toDF("vec_id", "embedding")
    val cent0 = Ann.retrainCentroids(original, refineIters = 0)
    val reps0 = Ann.indexWithCentroids(all, cent0.select("cell", "cvec"))
      .assigned
      .select(col("cell"), col("nid").as("rep"), col("ce"), col("cn2"))
      .persist()
    def maxOcc(reps: org.apache.spark.sql.DataFrame): Long =
      reps.groupBy("cell").agg(count("*").as("n"))
        .agg(max("n")).head().getLong(0)
    try {
      val before = maxOcc(reps0)
      assert(before >= 400,
        s"drift must pile the dense arc into one v0 cell, got max $before")
      // retrain from the CURRENT reps: the stride redraw lands ~19 of 23
      // centroids inside the dense arc, Lloyd tightens them, and the hot
      // cell's mass spreads across them
      val (cent1, remapped) = SemanticDedup.retrainRemap(reps0, refineIters = 1)
      val after = maxOcc(remapped)
      assert(after <= before / 5,
        s"retrain must rebalance the hot cell: max $before -> $after")
      // deterministic in its input (the crash-replay heal property of the
      // versioned commit protocol): a second run derives bit-identical
      // centroids and assignment
      val (cent1b, remappedb) = SemanticDedup.retrainRemap(reps0, refineIters = 1)
      def centSet(c: org.apache.spark.sql.DataFrame) =
        c.select("cell", "cvec").as[(Int, Seq[Float])].collect().toSet
      assert(centSet(cent1) == centSet(cent1b), "retrain must be deterministic")
      def asgSet(r: org.apache.spark.sql.DataFrame) =
        r.select("rep", "cell").as[(Long, Int)].collect().toSet
      assert(asgSet(remapped) == asgSet(remappedb))
      // the remap is what a from-scratch build over the reps on the same
      // centroid table yields (q118 gates the refineIters = 0 form
      // against a DuckDB replay; this pins the Lloyd-refined form)
      assert(asgSet(remapped) == asgSet(
        Ann.indexWithCentroids(
            reps0.select(col("rep").as("vec_id"), col("ce").as("embedding")),
            cent1.select("cell", "cvec")).assigned
          .select(col("nid").as("rep"), col("cell"))))
    } finally reps0.unpersist()
  }

  test("fixture run: total function, one keeper per cluster, rule holds") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val n = emb.count()
    val r = SemanticDedup.semanticDedup(emb, threshold = 0.4)
      .collect().map(x =>
        (x.getLong(0), x.getLong(1), x.getDouble(2), x.getBoolean(3)))
    assert(r.length == n, "output is total: every vector labeled once")
    assert(r.map(_._1).distinct.length == n)
    r.groupBy(_._2).foreach { case (c, members) =>
      assert(members.count(_._4) == 1, s"cluster $c keeps exactly one")
      val keeper = members.filter(_._4).head
      val best = members.minBy(m => (m._3, m._1))
      assert(keeper._1 == best._1,
        s"cluster $c keeper ${keeper._1} must be argmin((centroid_sim, id))")
    }
    // determinism: the hash-seeded centroid init and exact-decimal Lloyd
    // means make replays bit-stable
    val r2 = SemanticDedup.semanticDedup(emb, threshold = 0.4)
      .collect().map(x =>
        (x.getLong(0), x.getLong(1), x.getDouble(2), x.getBoolean(3)))
    assert(r.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq)
  }

  test("semanticDecontaminate: near-eval vectors flag, orthogonal and " +
      "zero vectors never do; multi-hit counts") {
    val evalSet = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),
      (200L, Array(0.999f, 0.02f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(0.999f, 0.01f, 0.0f)),  // cos ≥ .9 to BOTH eval vectors
      (2L, Array(0.0f, 1.0f, 0.0f)),     // orthogonal — clean
      (3L, Array(0.0f, 0.0f, 0.0f)))     // zero vector — undefined cosine, clean
      .toDF("vec_id", "embedding")
    val r = SemanticDedup.semanticDecontaminate(corpus, evalSet, 0.9)
      .collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), x.getBoolean(3)))
      .sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, 2L, 100L, true),   // both eval hits counted, first_match = min id
      (2L, 0L, -1L, false),
      (3L, 0L, -1L, false)))
  }

  test("semanticDecontaminateCelled ≡ exact when the contaminated pair " +
      "shares a cell; a cross-cell pair is missed by design") {
    val cent = Seq((1, Array(1.0f, 0.0f, 0.0f)), (2, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cell", "cvec")
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")  // lands in cell 1
    val corpus = Seq(
      (1L, Array(0.999f, 0.01f, 0.0f)), // cell 1, cos ≈ 1 to eval → both gates hit
      // cos to eval ≈ 0.687 ≥ 0.65, but argmax cell = 2 (0.727 vs 0.687):
      // the exact gate flags it, the cell-blocked gate misses it
      (2L, Array(0.69f, 0.73f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))    // cell 2, clean under both
      .toDF("vec_id", "embedding")
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getBoolean(3))).sortBy(_._1).toSeq
    val exact =
      verdicts(SemanticDedup.semanticDecontaminate(corpus, evalSet, 0.65))
    val celled = verdicts(
      SemanticDedup.semanticDecontaminateCelled(corpus, evalSet, cent, 0.65))
    assert(exact == Seq((1L, true), (2L, true), (3L, false)))
    assert(celled == Seq((1L, true), (2L, false), (3L, false)),
      "the cell boundary hides the off-cell pair — the documented " +
        "SemDeDup approximation, priced in q123's comment")
  }

  test("semanticAdmitDecontam: contaminated vectors are rejected AND " +
      "excluded from the comparison set — they cannot shield a clean " +
      "near-copy; corpus dups still reject; zero vectors admit clean") {
    val cent = Seq((1, Array(0.5f, 0.5f, 0.0f))).toDF("cell", "cvec")
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((50L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, Array(0.999f, 0.01f, 0.0f)), // cos to eval ≈ 1 → contaminated
      // cos to eval ≈ 0.921 < 0.95 (clean) but cos to vec 1 ≈ 0.925 ≥ 0.9:
      // only vec 1's EXCLUSION lets this near-copy through — the pin
      (3L, Array(0.92f, 0.39f, 0.0f)),
      (5L, Array(0.01f, 0.999f, 0.0f)), // corpus dup of 50 → rejected, clean
      (7L, Array(0.0f, 0.0f, 0.0f)))    // zero vector → admitted, clean
      .toDF("vec_id", "embedding")
    val r = SemanticDedup.semanticAdmitDecontam(
        batch, corpus, evalSet,
        dupThreshold = 0.9, decontamThreshold = 0.95, cent)
      .collect()
      .map(x => (x.getLong(0), x.getBoolean(1),
        if (x.isNullAt(2)) -1L else x.getLong(2), x.getBoolean(3),
        if (x.isNullAt(4)) -1L else x.getLong(4)))
      .sortBy(_._1)
    assert(r.toSeq == Seq(
      (1L, false, -1L, true, 100L),
      (3L, true, -1L, false, -1L),
      (5L, false, 50L, false, -1L),
      (7L, true, -1L, false, -1L)))
  }
}
