package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryModule, Tables}
import graft.dedup.Dedup

/** Deduplication operator inventory over `documents`/`embeddings`.
  *
  * Every query here carries a DuckDB oracle: the exact-math variants
  * (exact dedup, blocked n-gram Jaccard, embedding cosine pairs)
  * directly, and the sketch-based variants (MinHash+LSH, SimHash,
  * incremental near-dup admission) through their PORTABLE forms — md5-60
  * token/shingle hashing plus affine permutations in exact integer
  * arithmetic, which DuckDB re-derives literally (the xxhash64-seeded
  * library forms remain the default hot path for non-gated callers).
  */
object DedupQueries extends QueryModule {

  /** Shared CTE fragments of the portable-MinHash oracles (q31, q104):
    * md5-60 shingle sets and the embedded permutation coefficients.
    */
  private[queries] lazy val coeffValues: String =
    graft.functions.MinHashSig.coefficients(32, 42L).zipWithIndex
      .map { case ((a, b), j) => s"($j, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")

  private[queries] val portableSetsSql: String =
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents
       |), sets AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(len(toks) - 2, 1) + 1),
       |    i -> ('0x' || substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])),
       |          1, 15))::BIGINT))) AS sset
       |  FROM d
       |)""".stripMargin

  /** sig+bands CTE pair over `src(key, sset)` rows — the SQL mirror of the
    * engine's 32-min signature + 8×4 banding, parameterized on the id
    * column so q31 (per-rep) and q104 (per-doc) share it verbatim.
    */
  private[queries] def sigBandsSql(src: String, key: String): String =
    s"""hs AS (
       |  SELECT $key, unnest(sset) AS h FROM $src
       |), sig AS (
       |  SELECT hs.$key, c.j,
       |    min(((c.a::HUGEINT * (hs.h % 4294967296) + c.b) % 4294967296)::BIGINT) AS mv
       |  FROM hs CROSS JOIN coeff c
       |  GROUP BY hs.$key, c.j
       |), bands AS (
       |  SELECT $key, j // 4 AS band, string_agg(mv::VARCHAR, '_' ORDER BY j) AS bkey
       |  FROM sig GROUP BY $key, j // 4
       |)""".stripMargin

  /** DuckDB mirror of the PORTABLE MinHash+LSH pipeline (q31): md5-hashed
    * 60-bit shingles, the engine's exact splitmix-derived affine
    * permutation coefficients embedded as literals (HUGEINT intermediates
    * — DuckDB BIGINT errors on multiply overflow rather than wrapping),
    * identical-set star-collapse, per-band signature keys, banded
    * candidate join, exact hashed-set Jaccard verification. Engine band/
    * group keys are xxhash64 of the same strings — equal strings group
    * equally on both sides, so only the (negligible) 64-bit collision
    * class could diverge.
    */
  /** The q31 exact-verified pair pipeline as a reusable CTE chain
    * (through `ver` and `stars`) — q31 selects the thresholded pairs
    * directly; q109/q110 close their transitive hull (the exact-mode
    * mirror of [[minhashApproxPairsCtes]]'s q105/q107/q108 sharing). */
  private lazy val minhashExactPairsCtes: String =
    s"""$portableSetsSql, grp AS (
       |  SELECT sset, min(doc_id) AS rep FROM sets GROUP BY sset
       |), stars AS (
       |  SELECT g.rep AS id_a, s.doc_id AS id_b, cast(1.0 AS double) AS jaccard
       |  FROM sets s JOIN grp g ON s.sset = g.sset
       |  WHERE s.doc_id <> g.rep
       |), coeff(j, a, b) AS (VALUES $coeffValues
       |), ${sigBandsSql("grp", "rep")}, cand AS (
       |  SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.rep < y.rep
       |), ver AS (
       |  SELECT c.id_a, c.id_b,
       |    cast(len(list_intersect(gx.sset, gy.sset)) AS double) /
       |    cast(len(gx.sset) + len(gy.sset)
       |         - len(list_intersect(gx.sset, gy.sset)) AS double) AS jaccard
       |  FROM cand c
       |  JOIN grp gx ON c.id_a = gx.rep
       |  JOIN grp gy ON c.id_b = gy.rep
       |)""".stripMargin

  private lazy val minhashOracleSql: String =
    s"""WITH $minhashExactPairsCtes
       |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.35
       |UNION ALL
       |SELECT id_a, id_b, jaccard FROM stars
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB mirror of q109 (exact-verified minhash duplicate clusters) —
    * and of q110, which must be hash-identical by construction: the q31
    * pair graph closed transitively with a recursive CTE (q107's shape
    * over the exact-mode pair CTEs). */
  private lazy val exactClustersOracleSql: String =
    s"""WITH RECURSIVE $minhashExactPairsCtes, epairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM ver WHERE jaccard >= 0.35
       |  UNION ALL
       |  SELECT id_a, id_b FROM stars
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM epairs
       |  UNION
       |  SELECT id_b, id_a FROM epairs
       |), reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comps AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS comp
       |  FROM reach GROUP BY src
       |)
       |SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS csize
       |FROM comps ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q104: per-doc portable signatures/bands (no
    * star-collapse — the admission verdict is per BATCH DOC, so every doc
    * bands for itself), candidates vs the even-id corpus and vs smaller
    * odd ids, exact-Jaccard verification, and the one-pass verdict
    * aggregate.
    */
  private lazy val incrementalNearDupOracleSql: String =
    s"""WITH $portableSetsSql, coeff(j, a, b) AS (VALUES $coeffValues
       |), ${sigBandsSql("sets", "doc_id")}, bb AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 1
       |), cb AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 0
       |), cand AS (
       |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS mid
       |  FROM bb b JOIN cb c ON b.band = c.band AND b.bkey = c.bkey
       |  UNION
       |  SELECT DISTINCT x.doc_id AS bid, y.doc_id AS mid
       |  FROM bb x JOIN bb y ON x.band = y.band AND x.bkey = y.bkey
       |    AND y.doc_id < x.doc_id
       |), ver AS (
       |  SELECT c.bid, c.mid
       |  FROM cand c
       |  JOIN sets sa ON c.bid = sa.doc_id
       |  JOIN sets sb ON c.mid = sb.doc_id
       |  WHERE cast(len(list_intersect(sa.sset, sb.sset)) AS double) /
       |        cast(len(sa.sset) + len(sb.sset)
       |             - len(list_intersect(sa.sset, sb.sset)) AS double) >= 0.35
       |)
       |SELECT b.doc_id, count(v.mid) = 0 AS admitted, min(v.mid) AS first_match
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) b
       |LEFT JOIN ver v ON b.doc_id = v.bid
       |GROUP BY b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** DuckDB mirror of q105 (APPROXIMATE minhash near-dup): per-doc
    * portable signatures, identical-SIGNATURE collapse (the approx analog
    * of the exact path's set collapse — stars carry est = 1.0, the
    * agreement of equal signatures), banded candidates, and similarity
    * estimated as the fraction of agreeing signature components —
    * matches/32 is a dyadic rational, exact in a double on both engines.
    * The contract is the standard LSH-approximate one: pairs sharing ≥ 1
    * band with estimate ≥ t (banding recall < 1 by design), restated
    * verbatim here so the hash gates the definition, not a coincidence.
    */
  /** The q105 estimator-pair pipeline as a reusable CTE chain (through
    * `est` and `stars`) — q105 selects the thresholded pairs directly;
    * q107 closes their transitive hull. */
  private lazy val minhashApproxPairsCtes: String =
    s"""$portableSetsSql, coeff(j, a, b) AS (VALUES $coeffValues
       |), ${sigBandsSql("sets", "doc_id")}, sigl AS (
       |  SELECT doc_id, list(mv ORDER BY j) AS sigv FROM sig GROUP BY doc_id
       |), grp AS (
       |  SELECT sigv, min(doc_id) AS rep FROM sigl GROUP BY sigv
       |), stars AS (
       |  SELECT g.rep AS id_a, s.doc_id AS id_b, cast(1.0 AS double) AS est
       |  FROM sigl s JOIN grp g ON s.sigv = g.sigv
       |  WHERE s.doc_id <> g.rep
       |), rb AS (
       |  SELECT b.doc_id AS rep, b.band, b.bkey
       |  FROM bands b JOIN grp g ON b.doc_id = g.rep
       |), cand AS (
       |  SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
       |  FROM rb x JOIN rb y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.rep < y.rep
       |), est AS (
       |  SELECT c.id_a, c.id_b,
       |    cast(len(list_filter(range(1, len(gx.sigv) + 1),
       |      i -> gx.sigv[i] = gy.sigv[i])) AS double) / 32.0 AS est
       |  FROM cand c
       |  JOIN grp gx ON c.id_a = gx.rep
       |  JOIN grp gy ON c.id_b = gy.rep
       |)""".stripMargin

  private lazy val minhashApproxOracleSql: String =
    s"""WITH $minhashApproxPairsCtes
       |SELECT id_a, id_b, est FROM est WHERE est >= 0.35
       |UNION ALL
       |SELECT id_a, id_b, est FROM stars
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB mirror of q107 (approx duplicate clusters): the q105
    * estimator pair graph closed transitively with a recursive CTE
    * (q76's pattern), every paired doc labeled with its min reachable id
    * and cluster size. `apairs AS MATERIALIZED`: the recursive `reach`
    * consumes the pair set per iteration, and DuckDB would otherwise
    * inline (re-run) the whole sketch pipeline per reference.
    */
  private lazy val approxClustersOracleSql: String =
    s"""WITH RECURSIVE $minhashApproxPairsCtes, apairs AS MATERIALIZED (
       |  SELECT id_a, id_b FROM est WHERE est >= 0.35
       |  UNION ALL
       |  SELECT id_a, id_b FROM stars
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM apairs
       |  UNION
       |  SELECT id_b, id_a FROM apairs
       |), reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comps AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS comp
       |  FROM reach GROUP BY src
       |)
       |SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS csize
       |FROM comps ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of q106 (APPROXIMATE incremental near-dup admission):
    * q104's one-pass verdict protocol — per-doc portable signatures and
    * bands, candidates vs the even-id corpus and vs smaller odd ids, the
    * count/min verdict aggregate — with q105's estimator verify in place
    * of exact Jaccard: a candidate rejects iff its signature-agreement
    * fraction is ≥ t. No shingle set is consulted after the signature is
    * built, mirroring the engine plan's whole point (the sset ledger
    * disappears); matches/32 is a dyadic rational, exact in a double on
    * both engines.
    */
  private lazy val incrementalNearDupApproxOracleSql: String =
    s"""WITH $portableSetsSql, coeff(j, a, b) AS (VALUES $coeffValues
       |), ${sigBandsSql("sets", "doc_id")}, sigl AS (
       |  SELECT doc_id, list(mv ORDER BY j) AS sigv FROM sig GROUP BY doc_id
       |), bb AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 1
       |), cb AS (
       |  SELECT * FROM bands WHERE doc_id % 2 = 0
       |), cand AS (
       |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS mid
       |  FROM bb b JOIN cb c ON b.band = c.band AND b.bkey = c.bkey
       |  UNION
       |  SELECT DISTINCT x.doc_id AS bid, y.doc_id AS mid
       |  FROM bb x JOIN bb y ON x.band = y.band AND x.bkey = y.bkey
       |    AND y.doc_id < x.doc_id
       |), ver AS (
       |  SELECT c.bid, c.mid
       |  FROM cand c
       |  JOIN sigl sa ON c.bid = sa.doc_id
       |  JOIN sigl sb ON c.mid = sb.doc_id
       |  WHERE cast(len(list_filter(range(1, len(sa.sigv) + 1),
       |    i -> sa.sigv[i] = sb.sigv[i])) AS double) / 32.0 >= 0.35
       |)
       |SELECT b.doc_id, count(v.mid) = 0 AS admitted, min(v.mid) AS first_match
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) b
       |LEFT JOIN ver v ON b.doc_id = v.bid
       |GROUP BY b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Shared DuckDB CTE chain of the semantic-dedup oracles (q91, q111,
    * q112): stride-drawn centroids, argmax cell assignment (cosine DESC,
    * cell DESC tie — the IvfArgmaxCell kernel's rule), per-member
    * centroid cosine. `mem` is multi-referenced downstream, so it is
    * MATERIALIZED (DuckDB inlines CTEs per reference otherwise — the
    * documented oracle-OOM class). */
  private val semanticMemCtes: String =
    """n AS (SELECT count(*) AS cnt FROM embeddings),
      |s AS (
      |  SELECT greatest(1, cast(floor(cnt / ceil(sqrt(cnt))) AS bigint)) AS stride
      |  FROM n
      |), cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) AS cell,
      |    embedding AS cvec,
      |    list_reduce(list_transform(embedding, x -> x::double * x::double), (x, y) -> x + y) AS cvn2
      |  FROM embeddings WHERE vec_id % (SELECT stride FROM s) = 0
      |), base AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(embedding, x -> x::double * x::double), (x, y) -> x + y) AS n2
      |  FROM embeddings
      |), mem AS MATERIALIZED (
      |  SELECT vec_id AS nid, embedding AS ce, n2 AS cn2, cell,
      |    (list_reduce(list_transform(range(1, len(embedding) + 1),
      |        i -> embedding[i]::double * cvec[i]::double), (x, y) -> x + y)
      |     / (sqrt(n2) * sqrt(cvn2))) AS centroid_sim
      |  FROM (
      |    SELECT b.vec_id, b.embedding, b.n2, c.cell, c.cvec, c.cvn2,
      |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
      |        (list_reduce(list_transform(range(1, len(b.embedding) + 1),
      |            i -> b.embedding[i]::double * c.cvec[i]::double), (x, y) -> x + y)
      |         / (sqrt(b.n2) * sqrt(c.cvn2))) DESC, c.cell DESC) AS arn
      |    FROM base b CROSS JOIN cent c
      |  ) WHERE arn = 1
      |)""".stripMargin

  /** The full q91 oracle — raw within-cell pairwise edges, recursive-CTE
    * component closure, farthest-from-centroid exemplar. q111 gates the
    * 4-wave incremental ledger fold against the SAME oracle: the
    * ledger-maintained output must be hash-identical to the from-scratch
    * closure. */
  private val semanticDedupOracleSql: String =
    s"""WITH RECURSIVE $semanticMemCtes, prs AS (
       |  SELECT a.nid AS id_a, b.nid AS id_b
       |  FROM mem a JOIN mem b ON a.cell = b.cell AND a.nid < b.nid
       |  WHERE a.cn2 > 0 AND b.cn2 > 0 AND
       |    (list_reduce(list_transform(range(1, len(a.ce) + 1),
       |        i -> a.ce[i]::double * b.ce[i]::double), (x, y) -> x + y)
       |     / (sqrt(a.cn2) * sqrt(b.cn2))) >= 0.4
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION
       |  SELECT id_b, id_a FROM prs
       |), reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |), comps AS (
       |  SELECT src AS nid, least(src, min(dst)) AS comp FROM reach GROUP BY src
       |), labeled AS (
       |  SELECT m.nid AS vec_id, coalesce(c.comp, m.nid) AS cluster,
       |    m.centroid_sim
       |  FROM mem m LEFT JOIN comps c ON m.nid = c.nid
       |)
       |SELECT vec_id, cluster, centroid_sim,
       |  row_number() OVER (PARTITION BY cluster
       |    ORDER BY centroid_sim, vec_id) = 1 AS keep
       |FROM labeled ORDER BY vec_id""".stripMargin

  /** q112's oracle: the one-pass semantic admission verdict over the
    * odd/even halves — a batch (odd) vector is admitted unless some
    * corpus (even) vector or a smaller-id batch vector shares its cell
    * with cosine >= 0.4; zero vectors are always admitted. Raw pairwise:
    * the engine's distinct-vector collapse must be invisible here. */
  private val semanticAdmitOracleSql: String =
    s"""WITH $semanticMemCtes, ver AS (
       |  SELECT x.nid AS bid, y.nid AS mid
       |  FROM mem x JOIN mem y ON x.cell = y.cell
       |  WHERE x.nid % 2 = 1
       |    AND (y.nid % 2 = 0 OR y.nid < x.nid)
       |    AND x.cn2 > 0 AND y.cn2 > 0
       |    AND (list_reduce(list_transform(range(1, len(x.ce) + 1),
       |        i -> x.ce[i]::double * y.ce[i]::double), (u, w) -> u + w)
       |     / (sqrt(x.cn2) * sqrt(y.cn2))) >= 0.4
       |)
       |SELECT m.nid AS vec_id, count(v.mid) = 0 AS admitted,
       |  min(v.mid) AS first_match
       |FROM (SELECT nid FROM mem WHERE nid % 2 = 1) m
       |LEFT JOIN ver v ON m.nid = v.bid
       |GROUP BY m.nid
       |ORDER BY m.nid""".stripMargin

  /** q118's oracle: a full SQL replay of the retrain-and-remap pipeline —
    * the incremental reps ledger after 4 waves (one row per distinct
    * nonzero vector, rep = first-seen min id: min id within the EARLIEST
    * wave containing the group, waves = vec_id mod 4 in ascending order),
    * the PORTABLE-HASH redraw over CURRENT rep ids (⌈√n⌉ smallest by
    * md5 of the decimal id string — uniform under any id structure,
    * where a raw-id stride measurably correlates with it; cells numbered
    * by rep order among the drawn), and the argmax remap (cosine DESC,
    * cell DESC tie — the IvfArgmaxCell rule). Gates that the remapped
    * assignment ≡ a from-scratch index build over the reps on the same
    * centroid draw. */
  private val ivfRetrainOracleSql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(embedding, x -> x::double * x::double), (x, y) -> x + y) AS n2
      |  FROM embeddings
      |), reps AS MATERIALIZED (
      |  SELECT rep, ce, cn2 FROM (
      |    SELECT vec_id AS rep, embedding AS ce, n2 AS cn2,
      |      row_number() OVER (PARTITION BY embedding
      |        ORDER BY vec_id % 4, vec_id) AS rn
      |    FROM base WHERE n2 > 0
      |  ) WHERE rn = 1
      |), nr AS (SELECT count(*) AS cnt FROM reps),
      |cent AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY rep) AS cell, ce AS cvec, cn2 AS cvn2
      |  FROM (
      |    SELECT rep, ce, cn2,
      |      row_number() OVER (ORDER BY md5(cast(rep AS varchar)), rep) AS hrn
      |    FROM reps
      |  ) WHERE hrn <= (SELECT cast(ceil(sqrt(cnt)) AS bigint) FROM nr)
      |)
      |SELECT rep, cell FROM (
      |  SELECT r.rep, c.cell,
      |    row_number() OVER (PARTITION BY r.rep ORDER BY
      |      (list_reduce(list_transform(range(1, len(r.ce) + 1),
      |          i -> r.ce[i]::double * c.cvec[i]::double), (x, y) -> x + y)
      |       / (sqrt(r.cn2) * sqrt(c.cvn2))) DESC, c.cell DESC) AS arn
      |  FROM reps r CROSS JOIN cent c
      |) WHERE arn = 1 ORDER BY rep""".stripMargin

  def queries: Map[String, QueryDef] = Map(

    // CENTROID-DRIFT maintenance, oracle-gated: the reps ledger is built
    // incrementally over 4 waves (q111's ingest protocol — per-wave
    // assignment against the frozen v0 draw, new distinct vectors probe
    // the fps ledger), then the coordinate system is RETRAINED from the
    // reps (portable md5-hash redraw over the current reps — id-structure
    // independent; refineIters = 0 keeps the
    // whole pipeline SQL-replayable — Lloyd refinement is spec-gated in
    // SemanticDedupSpec's skew-rebalance case) and every rep REMAPPED
    // through it. The v0 cells influence nothing downstream (the remap
    // reassigns from the vectors alone), which is exactly the point: the
    // oracle proves the remapped assignment equals a from-scratch build
    // over the reps on the same draw, independent of ingest history.
    "q118_ivf_retrain_remap" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cache: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = graft.core.TransientCache.persist
        val cent0 = cache(graft.similarity.Ann.strideCentroids(emb))
        var reps = s.range(0).select(col("id").cast("int").as("cell"),
          col("id").as("rep"), lit(Array.empty[Float]).as("ce"),
          lit(0.0).as("cn2"))
        var fps = s.range(0).select(col("id").as("cefp"), col("id").as("rep"))
        (0 until 4).foreach { w =>
          val asg = cache(graft.dedup.SemanticDedup.assignWithSim(
            emb.filter(pmod(col("vec_id"), lit(4)) === w), cent0))
          val (_, nr) = graft.dedup.SemanticDedup.semanticWaveDelta(
            asg, reps, fps, threshold = 0.4, cache)
          val nrc = cache(nr)
          reps = reps.unionByName(nrc.select("cell", "rep", "ce", "cn2"))
          fps = fps.unionByName(nrc.select("cefp", "rep"))
        }
        // ONE lineage cut at the fold/retrain boundary: the retrain path
        // takes several actions over the reps ledger (count + hash-draw
        // top-k + remap + final sort), and each re-ANALYZED the 4-wave
        // union of semanticWaveDelta plans — measured at sf0.1 as 4.7 s
        // of pure driver gaps on an 8.4 s wall (0.6-0.9 s per action).
        // Behind the leaf every retrain action analyzes one scan.
        val (_, remapped) = graft.dedup.SemanticDedup.retrainRemap(
          reps.localCheckpoint(), refineIters = 0)
        remapped.select(col("rep"), col("cell").cast("long").as("cell"))
          .orderBy("rep")
      },
      Some(ivfRetrainOracleSql)),

    // APPROXIMATE incremental near-dup ADMISSION: q104's one-pass verdict
    // protocol with q105's signature-agreement estimator in place of the
    // exact-Jaccard verify — per-doc persisted state drops from O(tokens)
    // of shingle set to 256 B of signature, the engine's streaming-scale
    // admission mode (NearDupStream.approxWriter). Oracle re-derives
    // bands, candidates, the estimator, and the verdict aggregate.
    "q106_incremental_neardup_approx" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // scope = EAGER leaf (r17): the admission plan's one action
        // consumed the batch sketch / banded-batch / candidate persists
        // from several AQE subtrees at once — concurrent stage
        // materialization re-computed the chains and blocked on
        // BlockInfoManager locks (see q113's identical fix). Leaves
        // compute each mid-frame once; TransientCache releases them
        // between queries exactly like the persists they replace.
        Dedup.MinHashLsh.nearDupIncrementalApprox(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            docs.filter(pmod(col("doc_id"), lit(2)) === 0),
            "text", "doc_id", threshold = 0.35, portable = true,
            scope = graft.core.TransientCache.leaf)
          .orderBy("doc_id")
      },
      Some(incrementalNearDupApproxOracleSql)),

    // APPROXIMATE minhash near-dup: similarity = signature-agreement
    // fraction (E[agreement] = jaccard), no shingle sets materialized —
    // the scale-mode companion of q31's exact-verified path.
    "q105_dedup_minhash_approx" -> QueryDef(
      (s, dir) =>
        Dedup.MinHashLsh.nearDupPairsApprox(Tables.documents(s, dir),
            "text", "doc_id", threshold = 0.35, portable = true),
      Some(minhashApproxOracleSql)),

    // APPROX duplicate clusters: connected components over the q105
    // estimator pair graph — the cluster-level consumer of the
    // signature-only family (pairs: q105; admission: q106; clusters:
    // here). At 100 TB a first-pass dedup sweep clusters from estimator
    // pairs: the pair plan never materializes a shingle set, and the CC
    // machinery is the same star-collapsed pointer-jumping path q76
    // proves against exact pairs.
    "q107_dup_clusters_approx" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.MinHashLsh.nearDupPairsApprox(
          Tables.documents(s, dir), "text", "doc_id",
          threshold = 0.35, portable = true)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
        cc.withColumn("csize", count(lit(1)).over(w))
          .select(col("id").as("doc_id"), col("comp"), col("csize"))
          .orderBy("doc_id")
      },
      Some(approxClustersOracleSql)),

    // INCREMENTALLY-MAINTAINED approx duplicate clusters: the corpus
    // arrives as 4 waves (doc_id mod 4), each folded into persisted
    // label/merge cluster state by graft.dedup.IncrementalClusters —
    // per-wave work is wave-sized (wave edges + wave-local CC + appends),
    // never the corpus-wide pair plan q107 re-runs. Gated against the
    // SAME recursive-CTE oracle as q107: the union of per-wave edge sets
    // is exactly the q105 pair relation, so the ledger-maintained labels
    // must be hash-identical to the from-scratch closure.
    "q108_dup_clusters_incremental" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val none = docs.filter(lit(false))
        var bands = Dedup.MinHashLsh.bandsForApprox(
          none, "text", "doc_id", portable = true)
        var sigs = Dedup.MinHashLsh.sigsFor(
          none, "text", "doc_id", portable = true)
        var labels = s.range(0).select(col("id"), col("id").as("label"))
        var merges = s.range(0).select(col("id").as("old_label"),
          col("id").as("new_label"))
        val cache: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = graft.core.TransientCache.persist
        // ALL FOUR ledgers stay PLAIN UNIONS: band/sig state is cheap
        // projections over TransientCache entries, and the fold's
        // label/merge returns are LEAF-SHAPED by contract (parallelized
        // driver arrays under the wave gate, localCheckpoint leaves past
        // it — see foldEdgeFrame's scaladoc), so the former per-wave
        // cumulative union+localCheckpoint re-copied the whole ledger
        // every wave and paid an eager action+job each, for lineage that
        // was already cut (measured at sf0.1: two actions/wave of pure
        // orchestration; the union of ≤4 leaves analyzes linearly).
        (0 until 4).foreach { w =>
          val sk = cache(Dedup.MinHashLsh.sigsFor(
            docs.filter(pmod(col("doc_id"), lit(4)) === w),
            "text", "doc_id", portable = true))
          val (lr, mr) = graft.dedup.IncrementalClusters.foldWave(
            sk, bands, sigs, labels, merges, threshold = 0.35, cache)
          labels = labels.unionByName(lr)
          merges = merges.unionByName(mr)
          bands = bands.unionByName(Dedup.MinHashLsh.bandRowsOfSigs(sk))
          sigs = sigs.unionByName(sk)
        }
        graft.dedup.IncrementalClusters.clusters(labels, merges)
          .orderBy("doc_id")
      },
      Some(approxClustersOracleSql)),

    // EXACT-verified minhash duplicate clusters: connected components
    // over q31's exact-Jaccard-verified pair graph — q107's consumer
    // shape under the exact contract, completing the pairs/admission/
    // clusters × exact/approx matrix on the pair side.
    "q109_dup_clusters_minhash" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.MinHashLsh.nearDupPairs(
          Tables.documents(s, dir), "text", "doc_id",
          threshold = 0.35, portable = true)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
        cc.withColumn("csize", count(lit(1)).over(w))
          .select(col("id").as("doc_id"), col("comp"), col("csize"))
          .orderBy("doc_id")
      },
      Some(exactClustersOracleSql)),

    // INCREMENTAL exact-verified clusters: q108's 4-wave ledger fold with
    // the EXACT edge kernel (exactVerifiedPairs over band + shingle-set
    // ledgers) — gated against q109's own oracle, so the hash proves the
    // fold is mode-agnostic: the union of per-wave exact edge sets is
    // q31's corpus relation, and the label/merge state closes it
    // identically.
    "q110_dup_clusters_minhash_incr" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val none = docs.filter(lit(false))
        var bands = Dedup.MinHashLsh.bandsFor(
          none, "text", "doc_id", portable = true)
        var sets = Dedup.MinHashLsh.setsFor(
          none, "text", "doc_id", portable = true)
        var labels = s.range(0).select(col("id"), col("id").as("label"))
        var merges = s.range(0).select(col("id").as("old_label"),
          col("id").as("new_label"))
        val cache: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = graft.core.TransientCache.persist
        // ledger lineage: plain unions throughout — the fold's returns
        // are leaf-shaped by contract (see q108's in-fold comment and
        // foldEdgeFrame's scaladoc)
        (0 until 4).foreach { w =>
          val wave = docs.filter(pmod(col("doc_id"), lit(4)) === w)
          val toks = graft.text.TextFunctions.tokens(col("text"))
          // one-pass sig+sset sketch, the nearDupIncrementalLedger shape
          val sk = cache(wave
            .select(col("doc_id").as("id"),
              graft.functions.Sketches.minhashSigSetPortable(toks).as("ms"))
            .select(col("id"), col("ms.sig").as("sig"),
              col("ms.sset").as("sset"))
            .withColumn("sz", size(col("sset"))))
          val (lr, mr) = graft.dedup.IncrementalClusters.foldWaveExact(
            sk, wave, bands, sets, labels, merges, threshold = 0.35, cache)
          labels = labels.unionByName(lr)
          merges = merges.unionByName(mr)
          bands = bands.unionByName(
            Dedup.MinHashLsh.bandRowsOf(sk.select("id", "sig", "sz")))
          sets = sets.unionByName(sk.select("id", "sset"))
        }
        graft.dedup.IncrementalClusters.clusters(labels, merges)
          .orderBy("doc_id")
      },
      Some(exactClustersOracleSql)),

    // Exact dedup: normalized-fingerprint groupBy; survivor = min doc_id.
    "q30_dedup_exact" -> QueryDef(
      (s, dir) =>
        Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("fp"),
      Some("""SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |  min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)),

    // Quality-aware survivor selection: per fingerprint keep the
    // highest-quality doc (n_chars as the stand-in score; ties → min id).
    "q44_dedup_best" -> QueryDef(
      (s, dir) =>
        Dedup.exactBest(Tables.documents(s, dir), "text", "doc_id",
            col("n_chars").cast("double"))
          .orderBy("fp"),
      Some("""WITH ranked AS (
             |  SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |    doc_id, cast(n_chars AS double) AS score,
             |    row_number() OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             |                       ORDER BY cast(n_chars AS double) DESC, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_dups
             |  FROM documents
             |)
             |SELECT fp, doc_id AS keep_id, score AS keep_score, n_dups
             |FROM ranked WHERE rn = 1 ORDER BY fp""".stripMargin)),

    // Incremental exact dedup: even-id docs are the already-admitted
    // corpus (their fingerprints = the persisted ledger), odd-id docs are
    // the arriving batch; survivors are batch fingerprints unseen in both
    // the ledger and the batch itself (min id wins). One batch-side
    // fingerprint shuffle + a left-anti join — the production shape for
    // continuously-ingested corpora.
    "q100_incremental_dedup" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val ledger = Dedup.exact(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id")
          .select("fp")
        Dedup.exactIncremental(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "text", "doc_id", ledger)
          .orderBy("fp")
      },
      Some("""WITH seen AS (
             |  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents WHERE doc_id % 2 = 0
             |), newb AS (
             |  SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             |    min(doc_id) AS keep_id, count(*) AS n_dups
             |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
             |)
             |SELECT fp, keep_id, n_dups FROM newb
             |WHERE fp NOT IN (SELECT fp FROM seen)
             |ORDER BY fp""".stripMargin)),

    // MinHash + LSH near-dup candidates, exact-Jaccard verified — ORACLE-
    // HASH-GATED via the PORTABLE hash form: shingles hash through md5
    // (the one hash both engines share; 60-bit = first 15 hex digits) and
    // the 32 universal-hash permutations are plain mod-2^32 affine
    // arithmetic whose exact coefficients (splitmix64 from seed 42,
    // MinHashSig.coefficients) embed below as literals. The oracle
    // re-derives the identical-set star-collapse, per-band signature
    // groups, the banded candidate join, and the exact hashed-shingle
    // Jaccard verification — so a hash PASS proves candidates AND
    // verification end to end, not just row counts.
    // no trailing orderBy: at the 100× tier the pair list is 20.5M rows
    // and a global sort of it is the single most expensive node under
    // the bench's noop sink (~4 s — range exchange + sort), while both
    // correctness gates (driver compare and dev/check.py) sort rows
    // themselves before hashing. Same decision on q32.
    "q31_dedup_minhash" -> QueryDef(
      (s, dir) =>
        Dedup.MinHashLsh.nearDupPairs(Tables.documents(s, dir),
            "text", "doc_id", threshold = 0.35, portable = true),
      Some(minhashOracleSql)),

    // Incremental near-dup ADMISSION (the near-dup analog of q100's
    // incremental exact dedup): odd-id docs are the arriving batch, even
    // ids the admitted corpus; a batch doc is rejected iff it verifies
    // jaccard >= threshold against any corpus doc or smaller batch id.
    // Portable signatures end to end — the oracle re-derives bands,
    // candidates, verification, and the verdict aggregate, so the hash
    // gates the whole admission decision, not just the pair machinery.
    "q104_incremental_neardup" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // scope = EAGER leaf — see q106's comment (same fix, exact mode)
        Dedup.MinHashLsh.nearDupIncremental(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            docs.filter(pmod(col("doc_id"), lit(2)) === 0),
            "text", "doc_id", threshold = 0.35, portable = true,
            scope = graft.core.TransientCache.leaf)
          .orderBy("doc_id")
      },
      Some(incrementalNearDupOracleSql)),

    // SimHash Hamming-distance near-dup pairs — ORACLE-HASH-GATED via the
    // portable 60-bit md5 sketch. The chunk blocking is lossless
    // (pigeonhole, maxHamming=3 < 4 chunks), so the output is the EXACT
    // hamming<=3 pair relation and the oracle can verify it brute-force:
    // same sketch, all pairs, bit_count(xor) filter.
    "q32_dedup_simhash" -> QueryDef(
      (s, dir) =>
        Dedup.simhashPairs(Tables.documents(s, dir), "text", "doc_id",
            portable = true),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM documents
             |), th AS (
             |  SELECT doc_id, len(toks) AS n,
             |    unnest(list_transform(toks,
             |      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
             |  FROM d
             |), bt AS (
             |  SELECT doc_id, bb.b AS b, any_value(n) AS n, sum((h >> bb.b) & 1) AS c
             |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bb
             |  GROUP BY doc_id, bb.b
             |), sh AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN 2 * c >= n THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
             |  FROM bt GROUP BY doc_id
             |)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  cast(bit_count(xor(a.sh, b.sh)) AS int) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sh, b.sh)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // Exact blocked n-gram Jaccard — the oracle-verifiable near-dup path.
    "q33_dedup_jaccard" -> QueryDef(
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
            blockCol = "lang", threshold = 0.95)
          .orderBy("block", "id_a", "id_b"),
      Some("""WITH base AS (
             |  SELECT lang AS block, doc_id AS id,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tset
             |  FROM documents
             |)
             |SELECT a.block AS block, a.id AS id_a, b.id AS id_b,
             |  cast(len(list_intersect(a.tset, b.tset)) AS double) /
             |  cast(len(list_distinct(list_concat(a.tset, b.tset))) AS double) AS jaccard
             |FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
             |WHERE cast(len(list_intersect(a.tset, b.tset)) AS double) /
             |      cast(len(list_distinct(list_concat(a.tset, b.tset))) AS double) >= 0.95
             |ORDER BY block, id_a, id_b""".stripMargin)),

    // Embedding-cosine near-dup pairs (exact double math, oracle-mirrored).
    "q34_dedup_embedding" -> QueryDef(
      (s, dir) =>
        Dedup.embeddingNearDup(Tables.embeddings(s, dir), "embedding",
            "vec_id", threshold = 0.4)
          .orderBy("id_a", "id_b"),
      Some("""WITH base AS (
             |  SELECT vec_id AS id, embedding AS v,
             |    list_reduce(list_transform(embedding, x -> x::double * x::double), (x, y) -> x + y) AS n2
             |  FROM embeddings
             |)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  list_reduce(list_transform(range(1, len(a.v) + 1),
             |      i -> a.v[i]::double * b.v[i]::double), (x, y) -> x + y)
             |    / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
             |FROM base a JOIN base b ON a.id < b.id
             |WHERE list_reduce(list_transform(range(1, len(a.v) + 1),
             |      i -> a.v[i]::double * b.v[i]::double), (x, y) -> x + y)
             |    / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // Embedding near-dup, LSH-blocked scale path, in the
    // ENGINE-INDEPENDENT form (stride-drawn plane normals, integer-packed
    // bucket keys — Ann.lshTopKDataPlanes' move on the pair shape), so the
    // banded candidate join, exact-cosine verify, identical-vector stars,
    // and the recall the banding formula allows are all ORACLE-HASH-GATED
    // in DuckDB. Recall stays parameter-bounded by design; DedupSpec pins
    // the planted-pair recall and the seeded-plane library path.
    "q35_dedup_embedding_lsh" -> QueryDef(
      (s, dir) =>
        Dedup.embeddingNearDupLshPortable(Tables.embeddings(s, dir),
            "embedding", "vec_id", threshold = 0.3)
          .orderBy("id_a", "id_b"),
      Some("""WITH n AS (SELECT count(*) AS cnt FROM embeddings),
             |st AS (SELECT greatest(1, cnt // 60) AS stride FROM n),
             |pl AS (
             |  SELECT pid, pvec FROM (
             |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pid,
             |      embedding AS pvec
             |    FROM embeddings WHERE vec_id % (SELECT stride FROM st) = 0
             |  ) WHERE pid < 60
             |), g AS (
             |  SELECT embedding, min(vec_id) AS rep
             |  FROM embeddings GROUP BY embedding
             |), stars AS (
             |  SELECT g.rep AS id_a, e.vec_id AS id_b, cast(1.0 AS double) AS cosine
             |  FROM embeddings e JOIN g ON e.embedding = g.embedding
             |  WHERE e.vec_id <> g.rep
             |), reps AS (
             |  SELECT rep, embedding,
             |    list_reduce(list_transform(embedding, x -> x::double * x::double), (x, y) -> x + y) AS n2
             |  FROM g
             |), keysv AS (
             |  SELECT r.rep,
             |    (p.pid // 12) * (1::BIGINT << 12) +
             |      sum(CASE WHEN list_reduce(list_transform(range(1, len(r.embedding) + 1),
             |            i -> r.embedding[i]::double * p.pvec[i]::double), (x, y) -> x + y) >= 0
             |          THEN (1::BIGINT << cast(p.pid % 12 AS int)) ELSE 0 END) AS bkt
             |  FROM reps r CROSS JOIN pl p
             |  GROUP BY r.rep, p.pid // 12
             |), cand AS (
             |  SELECT DISTINCT a.rep AS id_a, b.rep AS id_b
             |  FROM keysv a JOIN keysv b ON a.bkt = b.bkt AND a.rep < b.rep
             |), scored AS (
             |  SELECT c.id_a, c.id_b,
             |    list_reduce(list_transform(range(1, len(x.embedding) + 1),
             |        i -> x.embedding[i]::double * y.embedding[i]::double), (u, w) -> u + w)
             |      / (sqrt(x.n2) * sqrt(y.n2)) AS cosine
             |  FROM cand c
             |  JOIN reps x ON c.id_a = x.rep
             |  JOIN reps y ON c.id_b = y.rep
             |)
             |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
             |UNION ALL
             |SELECT id_a, id_b, cosine FROM stars
             |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup semantic dedup: k-means-cell-bounded pairwise cosine →
    // duplicate groups → one exemplar kept per group (the member farthest
    // from its centroid, per the paper). Centroids come from the
    // engine-independent stride draw (Ann.strideCentroids — q66/q102's
    // pattern), which makes every step reproducible in DuckDB and the
    // query ORACLE-HASH-GATED: the oracle re-derives cells, raw
    // within-cell pairwise edges, the recursive-CTE component closure
    // (q76's pattern), and the farthest-from-centroid exemplar — so a
    // hash PASS additionally proves the engine's identical-vector
    // star-collapse and pointer-jump CC return exactly the raw-pairwise
    // closure they claim to. SemanticDedupSpec keeps planted-group
    // clustering, the exactly-one-keeper invariant, and replay
    // determinism on the Lloyd (engine-seeded) path.
    "q91_semantic_dedup" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.dedup.SemanticDedup
          .fromIndex(graft.similarity.Ann.indexWithCentroids(
            emb, graft.similarity.Ann.strideCentroids(emb)), threshold = 0.4)
          .orderBy("vec_id")
      },
      Some(semanticDedupOracleSql)),

    // INCREMENTALLY-MAINTAINED semantic dedup: the corpus arrives as 4
    // waves (vec_id mod 4) against FROZEN stride centroids, each wave
    // folded into persisted rep/fingerprint/member/label/merge state by
    // SemanticDedup.foldWaveSemantic — per-wave work is the wave's
    // assignment, a fingerprint probe, and within-cell cosine for the
    // wave's NEW distinct vectors only, never q91's corpus-wide pairwise.
    // Gated against the SAME oracle as q91: the union of per-wave edge
    // sets closes to the identical components (star anchors differ from
    // the batch collapse but chain to the same groups), so the
    // ledger-derived (vec_id, cluster, centroid_sim, keep) must be
    // hash-identical to the from-scratch run.
    "q111_semantic_dedup_incr" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cache: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = graft.core.TransientCache.persist
        // the frozen coordinate system, CACHED: every per-wave assignment
        // collects it (the argmax kernel embeds it as a literal), and the
        // uncached stride draw re-runs its count + window sort per wave
        val cent = cache(graft.similarity.Ann.strideCentroids(emb))
        var reps = s.range(0).select(col("id").cast("int").as("cell"),
          col("id").as("rep"), lit(Array.empty[Float]).as("ce"),
          lit(0.0).as("cn2"))
        var fps = s.range(0).select(col("id").as("cefp"), col("id").as("rep"))
        var labels = s.range(0).select(col("id"), col("id").as("label"))
        var merges = s.range(0).select(col("id").as("old_label"),
          col("id").as("new_label"))
        var members = s.range(0).select(col("id"),
          lit(null).cast("int").as("cell"),
          lit(null).cast("double").as("centroid_sim"))
        // ledger lineage: plain unions throughout — the fold's
        // label/merge returns are leaf-shaped by contract (see
        // foldEdgeFrame's scaladoc); reps/fps/members stay plain unions
        // of projections over per-wave cached frames as before
        (0 until 4).foreach { w =>
          val asg = cache(graft.dedup.SemanticDedup.assignWithSim(
            emb.filter(pmod(col("vec_id"), lit(4)) === w), cent))
          val (lr, mr, mem, nr, nf) =
            graft.dedup.SemanticDedup.foldWaveSemantic(
              asg, reps, fps, labels, merges, threshold = 0.4, cache)
          labels = labels.unionByName(lr)
          merges = merges.unionByName(mr)
          members = members.unionByName(mem)
          reps = reps.unionByName(nr)
          fps = fps.unionByName(nf)
        }
        graft.dedup.SemanticDedup
          .clustersFromLedgers(members, labels, merges)
          .orderBy("vec_id")
      },
      Some(semanticDedupOracleSql)),

    // Incremental semantic ADMISSION: SemDeDup as a one-pass filter —
    // q104/q106's verdict protocol with within-IVF-cell cosine in place
    // of the minhash machinery. Both sides collapse to distinct-vector
    // reps before the pairwise (exact, including first_match — a rep is
    // its group's min id and cosine is a function of the vector), so a
    // dup-storm batch pays |distinct|² per cell, never |members|².
    "q112_semantic_admit_incr" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // scope = EAGER leaf — see q106's comment (the assigned batch,
        // its reps and the candidate frames feed this one action)
        graft.dedup.SemanticDedup.semanticAdmit(
            emb.filter(pmod(col("vec_id"), lit(2)) === 1),
            emb.filter(pmod(col("vec_id"), lit(2)) === 0),
            threshold = 0.4, graft.similarity.Ann.strideCentroids(emb),
            scope = graft.core.TransientCache.leaf)
          .orderBy("vec_id")
      },
      Some(semanticAdmitOracleSql)),

    // Duplicate clusters: connected components over the oracle-verified
    // exact-Jaccard pair graph (q33's pairs), assigning every paired doc
    // its cluster (min reachable id) and cluster size. The oracle closes
    // the same transitive hull with a recursive CTE.
    "q76_dup_clusters" -> QueryDef(
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
          "text", "doc_id", blockCol = "lang", threshold = 0.95)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
        cc.withColumn("csize", count(lit(1)).over(w))
          .select(col("id").as("doc_id"), col("comp"), col("csize"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT lang AS block, doc_id AS id,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tset
             |  FROM documents
             |), pairs AS (
             |  SELECT a.id AS id_a, b.id AS id_b
             |  FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
             |  WHERE cast(len(list_intersect(a.tset, b.tset)) AS double) /
             |        cast(len(list_distinct(list_concat(a.tset, b.tset))) AS double) >= 0.95
             |), edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION
             |  SELECT id_b, id_a FROM pairs
             |), reach AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
             |), comps AS (
             |  SELECT src AS doc_id, least(src, min(dst)) AS comp
             |  FROM reach GROUP BY src
             |)
             |SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS csize
             |FROM comps ORDER BY doc_id""".stripMargin)),

    // Cross-document duplicated-span accounting: per doc, how many of its
    // DISTINCT 8-grams appear in >= 2 docs corpus-wide (boilerplate
    // signal). Cached gram table -> partial-agg gram histogram (hot
    // grams collapse map-side) -> doc-keyed rollups; no gram-keyed
    // join-back, nothing O(corpus^2), no unbounded window partition.
    "q93_crossdoc_ngram" -> QueryDef(
      (s, dir) =>
        Dedup.crossDocShared(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
             |  FROM documents
             |), gr AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 6),
             |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
             |                   toks[i+4], toks[i+5], toks[i+6], toks[i+7])))) AS g
             |  FROM d WHERE len(toks) >= 8
             |), c AS (
             |  SELECT g, count(*) AS docs_with FROM gr GROUP BY 1
             |), per AS (
             |  SELECT doc_id, count(*) AS n_grams,
             |    count(*) FILTER (WHERE docs_with >= 2) AS n_shared
             |  FROM gr JOIN c USING (g) GROUP BY 1
             |)
             |SELECT d0.doc_id, coalesce(n_grams, 0) AS n_grams,
             |  coalesce(n_shared, 0) AS n_shared,
             |  CASE WHEN coalesce(n_grams, 0) > 0
             |    THEN cast(n_shared AS double) / cast(n_grams AS double)
             |    ELSE 0.0 END AS shared_frac
             |FROM documents d0 LEFT JOIN per ON d0.doc_id = per.doc_id
             |ORDER BY d0.doc_id""".stripMargin)),

    // C4-style span dedup WITH rewrite: one surviving occurrence of every
    // distinct 10-token span corpus-wide (smallest (doc_id, pos) wins),
    // documents re-assembled from their surviving spans. One span-hash
    // window shuffle + one doc_id rollup; window state = one span's
    // occurrence list, never the corpus.
    "q97_span_dedup" -> QueryDef(
      (s, dir) =>
        Dedup.spanDedup(Tables.documents(s, dir), "text", "doc_id")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             |  FROM documents WHERE trim(text) <> ''
             |), c AS (
             |  SELECT doc_id, pos,
             |    array_to_string(toks[pos*10+1 : pos*10+10], ' ') AS span
             |  FROM (
             |    SELECT doc_id, toks,
             |      unnest(range(greatest(1,
             |        cast(ceil(len(toks) / 10.0) AS bigint)))) AS pos
             |    FROM d)
             |), r AS (
             |  SELECT doc_id, pos, span,
             |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
             |  FROM c
             |), g AS (
             |  SELECT doc_id, count(*) AS n_spans,
             |    count(*) FILTER (WHERE rn = 1) AS n_kept,
             |    coalesce(string_agg(span, ' ' ORDER BY pos)
             |      FILTER (WHERE rn = 1), '') AS text_kept
             |  FROM r GROUP BY 1
             |)
             |SELECT d0.doc_id, coalesce(n_spans, 0) AS n_spans,
             |  coalesce(n_kept, 0) AS n_kept,
             |  coalesce(text_kept, '') AS text_kept
             |FROM documents d0 LEFT JOIN g ON d0.doc_id = g.doc_id
             |ORDER BY d0.doc_id""".stripMargin)),

    // SEMANTIC (embedding-space) benchmark decontamination — the third
    // rung of the decontamination ladder (q79 = shared token 5-grams,
    // q120 = media perceptual hamming): every 97th vector stands in for
    // the eval set; a corpus vector is flagged when its cosine to ANY
    // eval vector reaches 0.4 (the q91 semantic-dup threshold — measured
    // non-vacuous: 4 contaminated at sf0.01, 25 at sf0.1). EXACT gate:
    // the eval side rides a broadcast into a nested-loop probe through
    // the codegen FloatVecDot kernel — the corpus never exchanges, no
    // cell blocking, no missed pairs.
    "q122_semantic_decontaminate" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.dedup.SemanticDedup.semanticDecontaminate(
            emb.filter(pmod(col("vec_id"), lit(97)) =!= 0),
            emb.filter(pmod(col("vec_id"), lit(97)) === 0),
            threshold = 0.4)
          .orderBy("vec_id")
      },
      Some("""WITH base AS (
             |  SELECT vec_id, embedding,
             |    list_reduce(list_transform(embedding,
             |      x -> x::double * x::double), (x, y) -> x + y) AS n2
             |  FROM embeddings
             |), bm AS MATERIALIZED (SELECT * FROM base WHERE vec_id % 97 = 0),
             |cm AS MATERIALIZED (SELECT * FROM base WHERE vec_id % 97 <> 0),
             |hits AS (
             |  SELECT c.vec_id, count(*) AS n_matched,
             |    min(b.vec_id) AS first_match
             |  FROM cm c JOIN bm b ON c.n2 > 0 AND b.n2 > 0 AND
             |    (list_reduce(list_transform(range(1, len(c.embedding) + 1),
             |        i -> c.embedding[i]::double * b.embedding[i]::double),
             |        (x, y) -> x + y)
             |     / (sqrt(c.n2) * sqrt(b.n2))) >= 0.4
             |  GROUP BY 1
             |)
             |SELECT c.vec_id, coalesce(h.n_matched, 0) AS n_matched,
             |  h.first_match,
             |  coalesce(h.n_matched, 0) > 0 AS contaminated
             |FROM cm c LEFT JOIN hits h ON c.vec_id = h.vec_id
             |ORDER BY c.vec_id""".stripMargin)),

    // q122's LARGE-EVAL-SET path: both sides assigned to the stride-drawn
    // IVF cells (q91's coordinate system, drawn over the FULL table so
    // the draw is split-independent), probe = plain equi-join ON the cell
    // id — pair volume |corpus|·|eval| → Σ_cell products, each side
    // exchanges at most once. The cell blocking is the SemDeDup
    // approximation applied to decontamination: pairs straddling a cell
    // boundary are missed BY DESIGN (this fixture: 1 of q122's 4 hits
    // survives the blocking at sf0.01, 3 of 25 at sf0.1 — the measured
    // price of the equi-join shape on a spread-out corpus; real eval
    // contamination is near-identical text whose vectors land in one
    // cell). Oracle replays the draw, the argmax assignment, and the
    // same-cell cosine in full SQL.
    "q123_semantic_decontam_celled" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.dedup.SemanticDedup.semanticDecontaminateCelled(
            emb.filter(pmod(col("vec_id"), lit(97)) =!= 0),
            emb.filter(pmod(col("vec_id"), lit(97)) === 0),
            graft.similarity.Ann.strideCentroids(emb),
            threshold = 0.4)
          .orderBy("vec_id")
      },
      Some(s"""WITH $semanticMemCtes,
             |bm AS (SELECT * FROM mem WHERE nid % 97 = 0),
             |cm AS (SELECT * FROM mem WHERE nid % 97 <> 0),
             |hits AS (
             |  SELECT c.nid AS vec_id, count(*) AS n_matched,
             |    min(b.nid) AS first_match
             |  FROM cm c JOIN bm b ON c.cell = b.cell
             |    AND c.cn2 > 0 AND b.cn2 > 0
             |    AND (list_reduce(list_transform(range(1, len(c.ce) + 1),
             |        i -> c.ce[i]::double * b.ce[i]::double), (x, y) -> x + y)
             |     / (sqrt(c.cn2) * sqrt(b.cn2))) >= 0.4
             |  GROUP BY 1
             |)
             |SELECT m.nid AS vec_id, coalesce(h.n_matched, 0) AS n_matched,
             |  h.first_match,
             |  coalesce(h.n_matched, 0) > 0 AS contaminated
             |FROM cm m LEFT JOIN hits h ON m.nid = h.vec_id
             |ORDER BY vec_id""".stripMargin)),

    // q112's one-pass semantic admission COMPOSED with the q122 eval
    // gate (q119's composition rule in embedding space): the eval split
    // (%97) is carved out of both halves; a batch (odd) vector within
    // cosine 0.4 of any eval vector is rejected FIRST and excluded from
    // the admission comparison set — contaminated text can neither be
    // the retained survivor that shields a clean near-copy nor count as
    // "already seen" against a later clean arrival. The corpus (even)
    // side is taken as given — its own decontamination happened at its
    // own admission time. Oracle = q112's raw-pairwise ver CTE with the
    // contamination exclusions + q122's brute-force contam CTE.
    "q124_semantic_admit_decontam" -> QueryDef(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val nonEval = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
        graft.dedup.SemanticDedup.semanticAdmitDecontam(
            nonEval.filter(pmod(col("vec_id"), lit(2)) === 1),
            nonEval.filter(pmod(col("vec_id"), lit(2)) === 0),
            emb.filter(pmod(col("vec_id"), lit(97)) === 0),
            dupThreshold = 0.4, decontamThreshold = 0.4,
            graft.similarity.Ann.strideCentroids(emb),
            scope = graft.core.TransientCache.leaf) // as q112
          .orderBy("vec_id")
      },
      Some(s"""WITH $semanticMemCtes, contam AS MATERIALIZED (
             |  SELECT x.nid AS bid, min(b.nid) AS eval_match
             |  FROM mem x JOIN mem b ON x.nid % 97 <> 0 AND x.nid % 2 = 1
             |    AND b.nid % 97 = 0
             |    AND x.cn2 > 0 AND b.cn2 > 0
             |    AND (list_reduce(list_transform(range(1, len(x.ce) + 1),
             |        i -> x.ce[i]::double * b.ce[i]::double), (u, w) -> u + w)
             |     / (sqrt(x.cn2) * sqrt(b.cn2))) >= 0.4
             |  GROUP BY 1
             |), ver AS (
             |  SELECT x.nid AS bid, y.nid AS mid
             |  FROM mem x JOIN mem y ON x.cell = y.cell
             |  WHERE x.nid % 97 <> 0 AND x.nid % 2 = 1
             |    AND x.nid NOT IN (SELECT bid FROM contam)
             |    AND y.nid % 97 <> 0
             |    AND (y.nid % 2 = 0 OR (y.nid < x.nid
             |      AND y.nid NOT IN (SELECT bid FROM contam)))
             |    AND x.cn2 > 0 AND y.cn2 > 0
             |    AND (list_reduce(list_transform(range(1, len(x.ce) + 1),
             |        i -> x.ce[i]::double * y.ce[i]::double), (u, w) -> u + w)
             |     / (sqrt(x.cn2) * sqrt(y.cn2))) >= 0.4
             |)
             |SELECT m.nid AS vec_id,
             |  CASE WHEN c.bid IS NOT NULL THEN false
             |    ELSE count(v.mid) = 0 END AS admitted,
             |  min(v.mid) AS first_match,
             |  c.bid IS NOT NULL AS contaminated,
             |  c.eval_match
             |FROM (SELECT nid FROM mem WHERE nid % 97 <> 0 AND nid % 2 = 1) m
             |LEFT JOIN contam c ON m.nid = c.bid
             |LEFT JOIN ver v ON m.nid = v.bid
             |GROUP BY m.nid, c.bid, c.eval_match
             |ORDER BY m.nid""".stripMargin)))
}
