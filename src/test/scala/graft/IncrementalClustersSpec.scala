package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.dedup.{Dedup, IncrementalClusters}

/** Incremental approx duplicate clusters ([[IncrementalClusters]]):
  * deterministic fold semantics on HAND-BUILT signatures (no estimator
  * randomness — agreement and band collisions are exact by construction),
  * the crash-window replay invariant, merge-chain resolution, and
  * whole-pipeline parity of the q108 fold against q107's from-scratch
  * closure on the sf0.001 fixture.
  */
class IncrementalClustersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 32-long signatures with EXACT agreement structure: A and B disjoint
  // everywhere; C carries A's first 20 components (bands 0-4 shared with
  // A, est(C,A) = 20/32 = 0.625) and B's last 12 (bands 5-7 shared with
  // B, est(C,B) = 12/32 = 0.375). At threshold 0.35: C pairs with BOTH,
  // A-B never — the minimal two-cluster merge.
  private val sigA = (0 until 32).map(i => 100L + i)
  private val sigB = (0 until 32).map(i => 200L + i)
  private val sigC = (0 until 20).map(i => 100L + i) ++
    (20 until 32).map(i => 200L + i)

  private def skOf(rows: (Long, Seq[Long])*) =
    rows.toDF("id", "sig")

  private val emptySk = skOf()
  private def emptyLabels = spark.range(0)
    .select(col("id"), col("id").as("label"))
  private def emptyMerges = spark.range(0)
    .select(col("id").as("old_label"), col("id").as("new_label"))

  private def fold(sk: org.apache.spark.sql.DataFrame,
      bands: org.apache.spark.sql.DataFrame,
      sigs: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame,
      merges: org.apache.spark.sql.DataFrame) =
    IncrementalClusters.foldWave(sk, bands, sigs, labels, merges,
      threshold = 0.35)

  private def rows2(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("three-wave fold: singleton labels, cross-cluster merge row, " +
      "resolved clusters") {
    // wave 0: A alone — edgeless, labeled with itself
    val sk0 = skOf(1L -> sigA)
    val (l0, m0) = fold(sk0, Dedup.MinHashLsh.bandRowsOfSigs(emptySk),
      emptySk, emptyLabels, emptyMerges)
    assert(rows2(l0) == Set(1L -> 1L) && m0.isEmpty)
    val bands1 = Dedup.MinHashLsh.bandRowsOfSigs(sk0)
    // wave 1: B shares no band with A — second singleton, no merge
    val sk1 = skOf(2L -> sigB)
    val (l1, m1) = fold(sk1, bands1, sk0,
      l0.select(col("id"), col("label")), emptyMerges)
    assert(rows2(l1) == Set(2L -> 2L) && m1.isEmpty)
    val bands2 = bands1.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(sk1))
    val sigs2 = sk0.unionByName(sk1)
    val labels2 = l0.unionByName(l1)
    // wave 2: C bridges both clusters — labeled with the global min, and
    // the EXISTING label 2 redirects via exactly one merge row
    val sk2 = skOf(3L -> sigC)
    val (l2, m2) = fold(sk2, bands2, sigs2, labels2, emptyMerges)
    assert(rows2(l2) == Set(3L -> 1L),
      s"bridge doc labeled with the merged component min: ${rows2(l2)}")
    assert(rows2(m2) == Set(2L -> 1L),
      s"exactly the displaced old label redirects: ${rows2(m2)}")
    // read path: one cluster of three, comp = global min
    val cl = IncrementalClusters.clusters(
      labels2.unionByName(l2), m2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cl == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)), s"$cl")
  }

  test("crash-window replay: labels committed + merges lost re-derives " +
      "identical rows") {
    val sk0 = skOf(1L -> sigA); val sk1 = skOf(2L -> sigB)
    val bands = Dedup.MinHashLsh.bandRowsOfSigs(sk0.unionByName(sk1))
    val sigs = sk0.unionByName(sk1)
    val labels = Seq(1L -> 1L, 2L -> 2L).toDF("id", "label")
    val sk2 = skOf(3L -> sigC)
    val (l2, m2) = fold(sk2, bands, sigs, labels, emptyMerges)
    // the writer's order is labels → merges → bands → sigs; a crash after
    // the labels commit replays the fold against ledgers that already
    // contain the wave's label rows but NOT its merge rows — endpoints
    // then resolve to final components, and the lost merge row must
    // re-emerge (the stale label 2 still resolves to itself)
    val (l2r, m2r) = fold(sk2, bands, sigs,
      labels.unionByName(Seq(3L -> 1L).toDF("id", "label")), emptyMerges)
    assert(rows2(l2r) == rows2(l2), "replayed label rows identical")
    assert(rows2(m2r) == rows2(m2), "lost merge row re-derived identically")
  }

  test("merge-chain resolution: depth-2 chains close through " +
      "resolveThrough and mergeClosure") {
    // chain 5 → 3 → 1 (each merge strictly decreasing, as the fold emits)
    val merges = Seq(5L -> 3L, 3L -> 1L).toDF("old_label", "new_label")
    val closure = rows2(IncrementalClusters.mergeClosure(merges)
      .filter(col("old_label") =!= col("root")))
    assert(closure == Set(5L -> 1L, 3L -> 1L), s"$closure")
    val labels = Seq(7L -> 5L, 8L -> 3L, 9L -> 9L).toDF("id", "label")
    val resolved = rows2(IncrementalClusters.resolve(labels, merges))
    assert(resolved == Set(7L -> 1L, 8L -> 1L, 9L -> 9L), s"$resolved")
    // duplicate merge rows (replay) change nothing
    val resolvedDup = rows2(IncrementalClusters.resolve(labels,
      merges.unionByName(Seq(5L -> 3L).toDF("old_label", "new_label"))))
    assert(resolvedDup == resolved)
  }

  test("merge chains deeper than 64 resolve through the full-closure " +
      "fallback instead of wedging") {
    // a 100-deep strictly-decreasing chain 101 → 100 → … → 1: what a
    // cluster stream with compaction disabled accumulates. The iterative
    // resolver caps at 64 rounds; past it the wave must fall back to one
    // join against the merge closure — a permanent throw would wedge
    // every replay of the wave until manual compaction.
    val deep = (1 to 100).map(i => (i + 1).toLong -> i.toLong)
      .toDF("old_label", "new_label")
    val probe = Seq(7L -> 101L, 8L -> 50L, 9L -> 999L).toDF("id", "lbl")
    val resolved = rows2(
      IncrementalClusters.resolveThrough(probe, deep))
    assert(resolved == Set(7L -> 1L, 8L -> 1L, 9L -> 999L), s"$resolved")
  }

  test("mergeClosureDriverMaxRows=0 forces the distributed closure; " +
      "knownRows skips nothing semantically") {
    val merges = Seq(5L -> 3L, 3L -> 1L, 9L -> 2L).toDF("old_label", "new_label")
    val driver = rows2(IncrementalClusters.mergeClosure(merges))
    val known = rows2(IncrementalClusters.mergeClosure(merges, Some(3L)))
    assert(known == driver)
    spark.conf.set("spark.graft.dedup.mergeClosureDriverMaxRows", "0")
    try {
      val dist = rows2(IncrementalClusters.mergeClosure(merges))
      assert(dist == driver,
        "distributed closure must produce the driver path's exact rows")
    } finally spark.conf.unset("spark.graft.dedup.mergeClosureDriverMaxRows")
  }

  test("waveCcMaxPairs=0 forces the distributed fold — outputs identical " +
      "to the driver-graph path") {
    val sk0 = skOf(1L -> sigA); val sk1 = skOf(2L -> sigB)
    val bands = Dedup.MinHashLsh.bandRowsOfSigs(sk0.unionByName(sk1))
    val sigs = sk0.unionByName(sk1)
    val labels = Seq(1L -> 1L, 2L -> 2L).toDF("id", "label")
    val sk2 = skOf(3L -> sigC)
    val (l, m) = fold(sk2, bands, sigs, labels, emptyMerges)
    spark.conf.set("spark.graft.dedup.waveCcMaxPairs", "0")
    try {
      val (ld, md) = fold(sk2, bands, sigs, labels, emptyMerges)
      assert(rows2(ld) == rows2(l) && rows2(md) == rows2(m),
        "distributed fold must produce the driver path's exact rows")
    } finally spark.conf.unset("spark.graft.dedup.waveCcMaxPairs")
  }

  test("q108 fold ≡ q107 from-scratch closure on the sf0.001 fixture") {
    def run(name: String) = graft.core.Cuts.scoped {
      SparkEntry.queries(name)(spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    }
    val scratch = run("q107_dup_clusters_approx")
    val folded = run("q108_dup_clusters_incremental")
    assert(scratch.nonEmpty, "fixture must contain approx duplicate clusters")
    assert(folded == scratch,
      s"incremental fold must reproduce the from-scratch closure " +
        s"(${folded.size} vs ${scratch.size} rows)")
  }
}
