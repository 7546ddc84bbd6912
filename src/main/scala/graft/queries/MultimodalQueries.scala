package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Cuts, QueryDef, QueryModule, Tables}
import graft.multimodal.Multimodal

/** Multimodal-column inventory — every query ORACLE-HASH-GATED, codecs
  * included: the real-decode queries (PNG / PCM16 WAV / animated GIF) gate
  * because the containers are lossless, so decoded statistics equal
  * closed forms of the fixtures' xorshift64* generation streams, which
  * the oracles replay in recursive CTEs (exact unsigned-64 arithmetic)
  * and post-process with the same integer dHash / ordered double folds
  * the engine computes. A hash PASS therefore proves each synthesize →
  * encode → real-codec-decode → analyze loop bit-exactly. Preconditions
  * (GIF pixel-losslessness, ASCII fixture text for the stub's byte
  * stats) are pinned in MultimodalSpec.
  */
object MultimodalQueries extends QueryModule {

  /** DuckDB replay of [[Multimodal.seededBytes]] — the d/sd/gen CTE
    * prefix shared by the codec oracles: md5-seed from the first 8
    * normalized tokens (Java-trim semantics: strip chars ≤ 0x20), then
    * a recursive xorshift64* chain in exact unsigned 64-bit arithmetic
    * (UBIGINT xor/shifts; the two overflowing products — `s << 25` and
    * the 0x2545F4914F6CDD1D finalizer — run in HUGEINT with an explicit
    * mod 2^64, since DuckDB errors on UBIGINT overflow rather than
    * wrapping). `gen` yields one (doc_id, i, byte v ∈ [0,255]) row per
    * generated byte, i = 1..nBytes.
    */
  private def seededByteGenSql(salt: Long, nBytes: Int): String = {
    val seedExpr =
      if (salt == 0L) "s0"
      else s"xor(s0, ${java.lang.Long.toUnsignedString(salt)}::UBIGINT)"
    s"""d AS (
       |  SELECT doc_id, array_to_string(list_slice(regexp_split_to_array(
       |    regexp_replace(lower(text), '^[\\x00-\\x20]+|[\\x00-\\x20]+$$', '', 'g'),
       |    '\\s+'), 1, 8), ' ') AS key
       |  FROM documents
       |), sd AS (
       |  SELECT doc_id,
       |    CASE WHEN sx = 0 THEN 11400714819323198485::UBIGINT ELSE sx END AS s
       |  FROM (
       |    SELECT doc_id, $seedExpr AS sx FROM (
       |      SELECT doc_id, ('0x' || substr(md5(key), 1, 16))::UBIGINT AS s0 FROM d
       |    )
       |  )
       |), gen AS (
       |  SELECT doc_id, 0 AS i, s, CAST(NULL AS BIGINT) AS v FROM sd
       |  UNION ALL
       |  SELECT doc_id, i + 1, s3,
       |    CAST(((s3::HUGEINT * 2685821657736338717) % 18446744073709551616)
       |         // 72057594037927936 AS BIGINT)
       |  FROM (
       |    SELECT doc_id, i, xor(s2, s2 >> 27) AS s3 FROM (
       |      SELECT doc_id, i,
       |        xor(s1, CAST((s1::HUGEINT * 33554432) % 18446744073709551616 AS UBIGINT)) AS s2
       |      FROM (SELECT doc_id, i, xor(s, s >> 12) AS s1 FROM gen)
       |    )
       |  ) WHERE i < $nBytes
       |)""".stripMargin
  }

  /** SQL form of [[Multimodal.dHash64]] over a 16×16 image — dHash is
    * ALL-INTEGER (box sums of 1000×-luma, truncating division, strict >
    * comparisons), so it is SQL-exact with no float caveats. The 9×8 box
    * geometry is enumerated at generation time into literal pixel-index
    * lists; input is a CTE `$pxTable` with `$keyCols` and `px` = the
    * 256-element per-pixel 1000×-luma list in row-major order. Bit 63
    * adds the two's-complement literal (sum of bits 0..62 < 2^63, so the
    * addition reconstructs the Java long bit pattern exactly).
    */
  private def dhash16Sql(pxTable: String, keyCols: String): String = {
    val (w, h) = (16, 16)
    val boxes = for (ty <- 0 until 8; tx <- 0 until 9) yield {
      val x0 = tx * w / 9; val x1 = math.max(x0 + 1, (tx + 1) * w / 9)
      val y0 = ty * h / 8; val y1 = math.max(y0 + 1, (ty + 1) * h / 8)
      val n = math.max(1, (math.min(x1, w) - x0) * (math.min(y1, h) - y0))
      val px = for (y <- y0 until math.min(y1, h); x <- x0 until math.min(x1, w))
        yield y * 16 + x
      (ty * 9 + tx, n, px)
    }
    val grayCols = boxes.map { case (g, n, px) =>
      s"(${px.map(p => s"px[${p + 1}]").mkString(" + ")}) // $n AS g$g"
    }.mkString(", ")
    val bitTerms = (0 until 64).map { i =>
      val (y, x) = (i / 8, i % 8)
      val v = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"CASE WHEN g${y * 9 + x + 1} > g${y * 9 + x} THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""grays AS (
       |  SELECT $keyCols, $grayCols FROM $pxTable
       |), dh AS (
       |  SELECT $keyCols, CAST($bitTerms AS BIGINT) AS dhash FROM grays
       |)""".stripMargin
  }

  /** smp/sv CTE pair: the PCM16 samples of [[Multimodal.syntheticWavTable]]
    * reconstructed from the `gen` byte stream — byte-pair words, then the
    * Java trunc-toward-zero `*3/4` scaling (`trunc(x/4.0)`: the product
    * is exact in double and /4 is a power of two, so trunc equals Java's
    * integer division for negatives where SQL `//` would floor).
    */
  private val wavSamplesSql: String =
    """smp AS (
      |  SELECT doc_id, (i - 1) // 2 AS j,
      |    sum(CASE WHEN (i - 1) % 2 = 0 THEN v * 256 ELSE v END) AS u
      |  FROM gen WHERE i > 0 GROUP BY doc_id, (i - 1) // 2
      |), sv AS MATERIALIZED (
      |  SELECT doc_id, j, CAST(trunc(((u - 32768) * 3) / 4.0) AS BIGINT) AS s
      |  FROM smp
      |)""".stripMargin

  /** SQL form of [[Multimodal.audioFingerprint64]] over the `sv` samples:
    * 65 window energies (ordered left-fold of squared normalized samples
    * — same shape as q87's RMS fold), bit i set iff e(i+1) > e(i). The
    * window ranges are enumerated at generation time for n = 400; bit 63
    * adds the two's-complement literal like [[dhash16Sql]].
    */
  private def afp64Sql: String = {
    val n = 400
    val eCols = (0 until 65).map { w0 =>
      val x0 = w0 * n / 65
      val hi = math.min(math.max(x0 + 1, (w0 + 1) * n / 65), n)
      s"list_reduce(list_transform(list_slice(sl, ${x0 + 1}, $hi), " +
        s"t -> (t / 32768.0) * (t / 32768.0)), (a, b) -> a + b) AS e$w0"
    }.mkString(", ")
    val bitTerms = (0 until 64).map { i =>
      val v = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
      s"CASE WHEN e${i + 1} > e$i THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""sl0 AS (SELECT doc_id, list(s ORDER BY j) AS sl FROM sv GROUP BY doc_id),
       |en AS (SELECT doc_id, $eCols FROM sl0),
       |afp AS MATERIALIZED (SELECT doc_id, CAST($bitTerms AS BIGINT) AS fp FROM en)""".stripMargin
  }

  /** Recursive transitive closure over a `prs(id_a, id_b)` CTE →
    * (cluster, n_members, exemplar) — the oracle tail shared by
    * q85/q89/q90 (valid because the engines' cluster-edge builders
    * contract components-over-edges ≡ components-over-the-full-relation).
    */
  private val closureClustersSql: String =
    """edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM prs
      |  UNION
      |  SELECT id_b, id_a FROM prs
      |), reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |), comps AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS comp
      |  FROM reach GROUP BY src
      |)
      |SELECT comp AS cluster, count(*) AS n_members, min(doc_id) AS exemplar
      |FROM comps GROUP BY comp ORDER BY cluster""".stripMargin

  /** Brute-force hamming-≤3 pairs over `$fpTable(doc_id, fp)` + closure. */
  private def hammingClustersSql(fpTable: String): String =
    s"""prs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM $fpTable a JOIN $fpTable b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3
       |), $closureClustersSql""".stripMargin

  /** [[seededByteGenSql]] with one stream PER FRAME (GIF fixtures: frame
    * `fr` uses salt `fr`) — `gen` yields (doc_id, fr, i, v).
    */
  private def seededByteGenFramesSql(nFrames: Int, nBytes: Int): String = {
    val salts = (0 until nFrames).map(f => s"($f, $f::UBIGINT)").mkString(", ")
    s"""d AS (
       |  SELECT doc_id, array_to_string(list_slice(regexp_split_to_array(
       |    regexp_replace(lower(text), '^[\\x00-\\x20]+|[\\x00-\\x20]+$$', '', 'g'),
       |    '\\s+'), 1, 8), ' ') AS key
       |  FROM documents
       |), sd AS (
       |  SELECT doc_id, fr,
       |    CASE WHEN sx = 0 THEN 11400714819323198485::UBIGINT ELSE sx END AS s
       |  FROM (
       |    SELECT doc_id, sa.fr AS fr, xor(s0, sa.salt) AS sx
       |    FROM (
       |      SELECT doc_id, ('0x' || substr(md5(key), 1, 16))::UBIGINT AS s0 FROM d
       |    ) CROSS JOIN (VALUES $salts) sa(fr, salt)
       |  )
       |), gen AS (
       |  SELECT doc_id, fr, 0 AS i, s, CAST(NULL AS BIGINT) AS v FROM sd
       |  UNION ALL
       |  SELECT doc_id, fr, i + 1, s3,
       |    CAST(((s3::HUGEINT * 2685821657736338717) % 18446744073709551616)
       |         // 72057594037927936 AS BIGINT)
       |  FROM (
       |    SELECT doc_id, fr, i, xor(s2, s2 >> 27) AS s3 FROM (
       |      SELECT doc_id, fr, i,
       |        xor(s1, CAST((s1::HUGEINT * 33554432) % 18446744073709551616 AS UBIGINT)) AS s2
       |      FROM (SELECT doc_id, fr, i, xor(s, s >> 12) AS s1 FROM gen)
       |    )
       |  ) WHERE i < $nBytes
       |)""".stripMargin
  }

  def queries: Map[String, QueryDef] = Map(

    // Binary-column metadata pass: octet length + content hash per payload,
    // rolled up by media kind. Bytes stay distributed; only scalars return.
    "q50_media_meta" -> QueryDef(
      (s, dir) =>
        Multimodal.mediaTable(Tables.documents(s, dir))
          .select(col("doc_id"), col("kind"),
            octet_length(col("bytes")).as("n_bytes"),
            md5(col("bytes")).as("payload_md5"),
            col("width"), col("height"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  octet_length(encode(text)) AS n_bytes,
             |  md5(text) AS payload_md5,
             |  cast(n_chars % 640 + 1 AS int) AS width,
             |  cast(n_chars % 480 + 1 AS int) AS height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Stub-codec featurization via typed mapPartitions — ORACLE-HASH-
    // GATED: the stub's features are pure byte statistics of the payload
    // (here the document's UTF-8 bytes), and the fixture corpus is ASCII
    // (asserted in MultimodalSpec), so per-character `ascii()` codepoints
    // ARE the bytes and DuckDB reconstructs the exact sums. The oracle
    // would need a byte-level walk for non-ASCII payloads; the spec pins
    // the ASCII precondition so a fixture change fails loudly, not
    // silently.
    "q51_media_features" -> QueryDef(
      (s, dir) =>
        Multimodal.featurize(s, Multimodal.mediaTable(Tables.documents(s, dir)))
          .toDF()
          .select(col("doc_id"), col("kind"), col("n_bytes"), col("avg_byte"),
            element_at(col("feat"), 1).as("f0"))
          .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id, octet_length(encode(text)) AS n,
             |    CASE WHEN len(text) = 0 THEN 0.0
             |      ELSE cast(list_reduce(list_transform(range(1, len(text) + 1),
             |             i -> ascii(text[i])), (a, x) -> a + x) AS double)
             |           / octet_length(encode(text)) END AS avg
             |  FROM documents
             |)
             |SELECT doc_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |  cast(n AS int) AS n_bytes,
             |  avg AS avg_byte,
             |  avg / 255.0 AS f0
             |FROM b ORDER BY doc_id""".stripMargin)),

    // REAL image decode end-to-end: synthesize an actual PNG per document
    // (deterministic pixels from the text bytes), push the encoded binary
    // through the executor-side javax.imageio codec, emit exact pixel
    // statistics — and ORACLE-HASH-GATED despite no SQL engine decoding
    // PNG: the container is LOSSLESS, so the decoded statistics equal
    // closed forms of the GENERATION stream, and the fixture's
    // xorshift64* pixel stream (seeded from an md5 both engines share)
    // is plain 64-bit integer arithmetic a recursive CTE replays
    // exactly (UBIGINT xor/shifts, HUGEINT mod-2^64 products). A hash
    // PASS therefore proves the whole synthesize → PNG-encode →
    // ImageIO-decode → statistics loop returns exactly the
    // mathematically-predicted values; a single bit lost anywhere in
    // the codec round-trip breaks it. Pixel-exact decode values stay
    // additionally pinned in MultimodalSpec against hand-computed
    // channel means.
    "q75_image_decode" -> QueryDef(
      (s, dir) =>
        Multimodal.featurize(s,
            Multimodal.syntheticPngTable(s, Tables.documents(s, dir)),
            Multimodal.ImageIoCodec)
          .toDF()
          .select(col("doc_id"), col("avg_byte").as("mean_luma"),
            element_at(col("feat"), 1).as("mean_r"),
            element_at(col("feat"), 2).as("mean_g"),
            element_at(col("feat"), 3).as("mean_b"),
            element_at(col("feat"), 4).cast("long").as("n_pixels"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0L, nBytes = 256)},
             |px AS (
             |  SELECT doc_id, v, (v * 7) % 256 AS g, (v * 13) % 256 AS b
             |  FROM gen WHERE i > 0
             |), agg AS (
             |  SELECT doc_id,
             |    cast(sum(v) AS double) / 256 AS r,
             |    cast(sum(g) AS double) / 256 AS g,
             |    cast(sum(b) AS double) / 256 AS b
             |  FROM px GROUP BY doc_id
             |)
             |SELECT doc_id,
             |  0.299 * r + 0.587 * g + 0.114 * b AS mean_luma,
             |  r / 255.0 AS mean_r, g / 255.0 AS mean_g, b / 255.0 AS mean_b,
             |  CAST(256 AS BIGINT) AS n_pixels
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // REAL audio decode end-to-end: synthesize an actual PCM16 WAV per
    // document, parse the RIFF container executor-side, emit exact
    // sample statistics — ORACLE-HASH-GATED by the q75 move: PCM16 is
    // lossless, so the decoded statistics equal closed forms of the
    // xorshift64* generation stream the oracle replays (samples =
    // byte-pair words, the Java trunc-toward-zero 3/4 scaling mirrored
    // via trunc(x/4.0), the sequential double sum-of-squares mirrored
    // as an ordered list_reduce fold, the (s XOR prev) < 0 crossing
    // test verbatim). A hash PASS proves the RIFF write → chunk-walker
    // parse → statistics loop bit-exactly. Values additionally pinned
    // in MultimodalSpec against hand-computed square-wave stats.
    "q87_audio_features" -> QueryDef(
      (s, dir) =>
        Multimodal.featurize(s,
            Multimodal.syntheticWavTable(s, Tables.documents(s, dir)),
            Multimodal.WavCodec)
          .toDF()
          .select(col("doc_id"), col("avg_byte").as("mean_level"),
            element_at(col("feat"), 1).as("rms"),
            element_at(col("feat"), 2).as("zcr"),
            element_at(col("feat"), 3).as("duration_s"),
            element_at(col("feat"), 4).cast("long").as("n_samples"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0x5741564cL, nBytes = 800)},
             |$wavSamplesSql, ord AS (
             |  SELECT doc_id, j, s, lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev
             |  FROM sv
             |), st AS (
             |  SELECT doc_id, sum(abs(s)) AS sum_abs, count(*) AS n,
             |    sum(CASE WHEN prev IS NOT NULL AND xor(s, prev) < 0
             |        THEN 1 ELSE 0 END) AS crossings
             |  FROM ord GROUP BY doc_id
             |), sq AS (
             |  SELECT doc_id, list_reduce(list_transform(list(s ORDER BY j),
             |      t -> (t / 32768.0) * (t / 32768.0)), (a, b) -> a + b) AS sum_sq
             |  FROM sv GROUP BY doc_id
             |)
             |SELECT st.doc_id,
             |  cast(st.sum_abs AS double) / st.n / 32768.0 * 255.0 AS mean_level,
             |  sqrt(sq.sum_sq / st.n) AS rms,
             |  cast(st.crossings AS double) / st.n AS zcr,
             |  cast(st.n AS double) / 8000 AS duration_s,
             |  st.n AS n_samples
             |FROM st JOIN sq ON st.doc_id = sq.doc_id
             |ORDER BY st.doc_id""".stripMargin)),

    // REAL multi-frame video decode: synthesize an actual animated GIF per
    // document (the one video container the JDK decodes), explode to
    // per-frame rows with mean luma + perceptual dHash, roll up per video.
    // ORACLE-HASH-GATED: a ≤256-color grayscale GIF is lossless
    // (round-trip pixel equality is probed), so per-frame luma and the
    // all-integer dHash equal closed forms of the per-frame xorshift
    // streams — a hash PASS proves the animated-GIF write → frame-wise
    // decode → stats loop exactly. Frame counts/pixels stay pinned in
    // MultimodalSpec.
    "q88_video_frames" -> QueryDef(
      (s, dir) =>
        Multimodal.videoFrames(s,
            Multimodal.syntheticGifTable(s, Tables.documents(s, dir)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            countDistinct(col("frame_dhash")).as("n_distinct_frames"),
            min("mean_luma").as("min_luma"), max("mean_luma").as("max_luma"))
          .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${seededByteGenFramesSql(nFrames = 4, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id, fr, list(1000 * v ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id, fr
             |), ${dhash16Sql("pl", "doc_id, fr")},
             |lum AS (
             |  SELECT doc_id, fr,
             |    (0.299 * cast(vs AS double) + 0.587 * cast(vs AS double)
             |     + 0.114 * cast(vs AS double)) / 256 AS ml
             |  FROM (
             |    SELECT doc_id, fr,
             |      list_reduce(px, (a, b) -> a + b) // 1000 AS vs FROM pl
             |  )
             |)
             |SELECT l.doc_id, count(*) AS n_frames,
             |  count(DISTINCT h.dhash) AS n_distinct_frames,
             |  min(l.ml) AS min_luma, max(l.ml) AS max_luma
             |FROM lum l JOIN dh h ON l.doc_id = h.doc_id AND l.fr = h.fr
             |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin)),

    // Audio near-dup: gain-invariant energy-delta fingerprints (the 1-D
    // dHash) over real WAV decode → the same Hamming cluster machinery.
    // Fixture duplicate texts yield byte-identical tones → real clusters.
    // ORACLE-HASH-GATED: PCM16 is lossless, the 65 window energies are
    // ordered double folds the oracle replays (q87's move), the strict >
    // bit comparisons act on identically-computed doubles, and clusters
    // verify brute-force + recursive closure (q85's tail).
    "q90_audio_near_dup" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val fps = Multimodal.audioFingerprintTable(s,
          Multimodal.syntheticWavTable(s, Tables.documents(s, dir)))
        val pairs = Dedup.hammingClusterEdges(fps, "doc_id", "afp", maxHamming = 3)
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .toDF("doc_id", "cluster")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"), min("doc_id").as("exemplar"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0x5741564cL, nBytes = 800)},
             |$wavSamplesSql, ${afp64Sql},
             |${hammingClustersSql("afp")}""".stripMargin)),

    // Incremental AUDIO near-dup admission: q114's fingerprint-admission
    // kernel fed by the 64-bit audio fingerprint instead of dHash — the
    // point of the query is that Dedup.fingerprintAdmit is genuinely
    // modality-agnostic (one kernel, one chunk-ledger schema, one
    // streaming writer serve every 64-bit perceptual sketch). Same
    // even-ids-are-the-ledger fixture and BRUTE-FORCE oracle discipline
    // as q114, over real RIFF/WAVE PCM16 decode.
    "q117_audio_admit_incremental" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val fps = Multimodal.audioFingerprintTable(s,
          Multimodal.syntheticWavTable(s, Tables.documents(s, dir)))
        val ledger = Dedup.fingerprintChunkRows(
          fps.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "afp")
        Dedup.fingerprintAdmit(
            fps.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "afp", ledger)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0x5741564cL, nBytes = 800)},
             |$wavSamplesSql, ${afp64Sql},
             |bb AS MATERIALIZED (SELECT doc_id, fp FROM afp WHERE doc_id % 2 = 1),
             |cb AS MATERIALIZED (SELECT doc_id, fp FROM afp WHERE doc_id % 2 = 0),
             |ver AS (
             |  SELECT b.doc_id AS bid, m.doc_id AS mid
             |  FROM bb b JOIN cb m ON bit_count(xor(b.fp, m.fp)) <= 3
             |  UNION ALL
             |  SELECT x.doc_id AS bid, y.doc_id AS mid
             |  FROM bb x JOIN bb y ON y.doc_id < x.doc_id
             |    AND bit_count(xor(x.fp, y.fp)) <= 3
             |)
             |SELECT b.doc_id, count(v.mid) = 0 AS admitted,
             |  min(v.mid) AS first_match
             |FROM bb b LEFT JOIN ver v ON b.doc_id = v.bid
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // Video near-dup: shared-frame candidate join (exact frame-dHash
    // postings) → exact frame-set Jaccard → the same CC clustering as
    // text/image dedup — the full modality set now shares one pair/
    // cluster engine. ORACLE-HASH-GATED: per-frame dHashes come from the
    // lossless GIF round-trip (q88's move), the size-ratio prefilter and
    // shared-frame Jaccard are exact small-integer arithmetic, and the
    // cluster tail verifies via recursive closure. Planted-copy recall
    // stays in MultimodalSpec.
    "q89_video_near_dup" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val pairs = Multimodal.videoNearDup(s,
          Multimodal.syntheticGifTable(s, Tables.documents(s, dir)),
          threshold = 0.5)
        Dedup.connectedComponents(pairs, "id_a", "id_b")
          .toDF("doc_id", "cluster")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_members"), min("doc_id").as("exemplar"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenFramesSql(nFrames = 4, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id, fr, list(1000 * v ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id, fr
             |), ${dhash16Sql("pl", "doc_id, fr")},
             |p AS MATERIALIZED (SELECT DISTINCT doc_id, dhash FROM dh),
             |sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
             |sh AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
             |    any_value(sa.n) AS n_a, any_value(sb.n) AS n_b
             |  FROM p a JOIN p b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
             |  JOIN sz sa ON a.doc_id = sa.doc_id
             |  JOIN sz sb ON b.doc_id = sb.doc_id
             |  WHERE least(sa.n, sb.n) >= 0.5 * greatest(sa.n, sb.n)
             |  GROUP BY a.doc_id, b.doc_id
             |), prs AS (
             |  SELECT id_a, id_b FROM sh
             |  WHERE cast(inter AS double) / (n_a + n_b - inter) >= 0.5
             |), $closureClustersSql""".stripMargin)),

    // Perceptual-hash image near-dup: real PNG decode → 64-bit dHash →
    // the SAME Hamming chunk-blocking and connected-components machinery
    // as text dedup — one pair/cluster engine for every modality. The
    // fixture's duplicate text clusters yield pixel-identical PNGs, so
    // real clusters exist. ORACLE-HASH-GATED via the q75 move plus the
    // all-integer dHash restated in SQL: PNG is lossless, so the decoded
    // pixels equal the xorshift generation stream the oracle replays,
    // dHash is pure integer box arithmetic (generated literally into the
    // oracle), and hammingClusterEdges' documented contract — components
    // over its edges equal components over the FULL hamming<=3 relation
    // — lets the oracle verify clusters brute-force + recursive closure
    // (q76's pattern). dHash invariances and planted-near-dup recall
    // stay pinned in MultimodalSpec.
    "q85_image_near_dup" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val hashes = Multimodal.dHashTable(s,
          Multimodal.syntheticPngTable(s, Tables.documents(s, dir)))
        // cluster edges, not the full pair list: identical dHashes (exact
        // duplicate media) collapse to representatives before blocking —
        // same components, distinct²-not-corpus² pair volume
        val pairs = Dedup.hammingClusterEdges(hashes, "doc_id", "dhash",
          maxHamming = 3)
        val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
          .toDF("doc_id", "cluster")
        clusters.groupBy("cluster")
          .agg(count(lit(1)).as("n_members"), min("doc_id").as("exemplar"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0L, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id,
             |    list(299 * v + 587 * ((v * 7) % 256) + 114 * ((v * 13) % 256)
             |         ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id
             |), ${dhash16Sql("pl", "doc_id")},
             |fpv AS MATERIALIZED (SELECT doc_id, dhash AS fp FROM dh),
             |${hammingClustersSql("fpv")}""".stripMargin)),

    // INCREMENTAL image near-dup ADMISSION: even-id docs' dHashes are the
    // persisted fingerprint ledger (chunk rows carrying the 8-byte fp —
    // no lookaside sig ledger), odd-id docs the arriving batch; a batch
    // doc is rejected iff within hamming ≤ 3 of a ledgered or smaller-id
    // batch fingerprint — q104's one-pass verdict protocol on the hamming
    // metric, closing the incremental/streaming admission gap for the
    // multimodal family (streaming form + ledger compaction:
    // graft.streaming.MediaDedupStream). The oracle reconstructs every
    // dHash from the synthetic-PNG byte stream and verifies BRUTE-FORCE
    // (no blocking), so the hash also re-proves the chunk blocking
    // lossless at maxHamming=3 over this corpus.
    "q114_media_admit_incremental" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val hashes = Multimodal.dHashTable(s,
          Multimodal.syntheticPngTable(s, Tables.documents(s, dir)))
        val ledger = Dedup.fingerprintChunkRows(
          hashes.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "dhash")
        Dedup.fingerprintAdmit(
            hashes.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "dhash", ledger)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0L, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id,
             |    list(299 * v + 587 * ((v * 7) % 256) + 114 * ((v * 13) % 256)
             |         ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id
             |), ${dhash16Sql("pl", "doc_id")},
             |bb AS MATERIALIZED (SELECT doc_id, dhash FROM dh WHERE doc_id % 2 = 1),
             |cb AS MATERIALIZED (SELECT doc_id, dhash FROM dh WHERE doc_id % 2 = 0),
             |ver AS (
             |  SELECT b.doc_id AS bid, m.doc_id AS mid
             |  FROM bb b JOIN cb m ON bit_count(xor(b.dhash, m.dhash)) <= 3
             |  UNION ALL
             |  SELECT x.doc_id AS bid, y.doc_id AS mid
             |  FROM bb x JOIN bb y ON y.doc_id < x.doc_id
             |    AND bit_count(xor(x.dhash, y.dhash)) <= 3
             |)
             |SELECT b.doc_id, count(v.mid) = 0 AS admitted,
             |  min(v.mid) AS first_match
             |FROM bb b LEFT JOIN ver v ON b.doc_id = v.bid
             |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // INCREMENTALLY-MAINTAINED image duplicate clusters: the corpus
    // arrives as 4 waves (doc_id mod 4), each wave's hamming-≤3 dHash
    // edges (fingerprintVerifiedPairs — chunk-ledger probe + within-wave
    // self-join, fingerprints verified inline on the join output) folded
    // into the SAME label/merge cluster ledgers as the text family
    // (IncrementalClusters.foldEdgeFrame is edge-source-agnostic — the
    // q108/q110/q111 fold closing its fourth edge kernel). Gated against
    // q85's own brute-force recursive-closure oracle: the union of
    // per-wave edge sets is the full hamming relation, so the
    // ledger-maintained clusters must hash-match the from-scratch ones.
    "q115_media_clusters_incremental" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val hashes = Multimodal.dHashTable(s,
          Multimodal.syntheticPngTable(s, Tables.documents(s, dir)))
        var chunks = Dedup.fingerprintChunkRows(
          hashes.filter(lit(false)), "doc_id", "dhash")
        var labels = s.range(0).select(col("id"), col("id").as("label"))
        var merges = s.range(0).select(col("id").as("old_label"),
          col("id").as("new_label"))
        // ledger lineage: plain unions — the fold's returns are
        // leaf-shaped by contract (see foldEdgeFrame's scaladoc)
        (0 until 4).foreach { w =>
          val wave = Cuts.persist(hashes.filter(pmod(col("doc_id"), lit(4)) === w)
            .select(col("doc_id").as("id"), col("dhash").as("fp")))
          val edges = Cuts.persist(Dedup.fingerprintVerifiedPairs(
            wave, "id", "fp", chunks))
          val (lr, mr) = graft.dedup.IncrementalClusters.foldEdgeFrame(
            wave, edges, labels, merges)
          labels = labels.unionByName(lr)
          merges = merges.unionByName(mr)
          chunks = chunks.unionByName(
            Dedup.fingerprintChunkRows(wave, "id", "fp"))
        }
        graft.dedup.IncrementalClusters.clusters(labels, merges)
          .groupBy(col("comp").as("cluster"))
          .agg(count(lit(1)).as("n_members"), min("doc_id").as("exemplar"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0L, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id,
             |    list(299 * v + 587 * ((v * 7) % 256) + 114 * ((v * 13) % 256)
             |         ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id
             |), ${dhash16Sql("pl", "doc_id")},
             |fpv AS MATERIALIZED (SELECT doc_id, dhash AS fp FROM dh),
             |${hammingClustersSql("fpv")}""".stripMargin)),

    // MEDIA DECONTAMINATION: every 29th doc's image stands in for the
    // eval set (image hits need an identical synthetic-image seed — a
    // shared leading-8-token prefix — which is rarer than q79's any-
    // shared-5-gram rule, so the media split is denser than the text
    // family's %97 to keep the sf0.01 gate non-vacuous: 5 contaminated
    // docs there, measured); corpus images within hamming-3 of a
    // benchmark image are flagged. The benchmark chunk rows ride a broadcast — the
    // corpus never exchanges (the multimodal mirror of q79's
    // broadcast-gram shape).
    "q120_media_decontaminate" -> QueryDef(
      (s, dir) => {
        import graft.dedup.Dedup
        val hashes = Multimodal.dHashTable(s,
          Multimodal.syntheticPngTable(s, Tables.documents(s, dir)))
        Dedup.fingerprintDecontaminate(
            hashes.filter(pmod(col("doc_id"), lit(29)) =!= 0),
            hashes.filter(pmod(col("doc_id"), lit(29)) === 0),
            "doc_id", "dhash")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${seededByteGenSql(salt = 0L, nBytes = 256)},
             |pl AS MATERIALIZED (
             |  SELECT doc_id,
             |    list(299 * v + 587 * ((v * 7) % 256) + 114 * ((v * 13) % 256)
             |         ORDER BY i) AS px
             |  FROM gen WHERE i > 0 GROUP BY doc_id
             |), ${dhash16Sql("pl", "doc_id")},
             |bm AS MATERIALIZED (SELECT doc_id, dhash FROM dh WHERE doc_id % 29 = 0),
             |cm AS MATERIALIZED (SELECT doc_id, dhash FROM dh WHERE doc_id % 29 <> 0),
             |hits AS (
             |  SELECT c.doc_id, count(*) AS n_matched,
             |    min(b.doc_id) AS first_match
             |  FROM cm c JOIN bm b ON bit_count(xor(c.dhash, b.dhash)) <= 3
             |  GROUP BY 1
             |)
             |SELECT c.doc_id, coalesce(h.n_matched, 0) AS n_matched,
             |  h.first_match,
             |  coalesce(h.n_matched, 0) > 0 AS contaminated
             |FROM cm c LEFT JOIN hits h ON c.doc_id = h.doc_id
             |ORDER BY c.doc_id""".stripMargin)))
}
