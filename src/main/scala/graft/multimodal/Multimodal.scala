package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs as typed
  * `mapPartitions` over the Dataset (the Scala-native analog of
  * `mapInPandas`) so each partition batches through the codec once.
  *
  * Two codecs behind one [[Codec]] contract:
  *  - [[ImageIoCodec]] — REAL PNG/JPEG decode via `javax.imageio` (ships
  *    in the JDK, headless-safe): actual pixel statistics out of actual
  *    images;
  *  - [[StubCodec]] — the deterministic fallback for payload kinds with
  *    no in-container decoder (audio/video): fake-but-stable features
  *    from the raw bytes, loudly documented as such.
  *
  * Scale notes: media bytes never hit the driver; featurization is a
  * narrow partition-local map (no shuffle); metadata lives in plain
  * columns so pruning/pushdown still work — a query over `width`/`kind`
  * never deserializes `bytes` (verified in PlanSpec: ReadSchema excludes
  * the binary column).
  */
object Multimodal {

  // ImageIO defaults to DISK-backed stream caches: every decode creates
  // and deletes a temp file (FileCacheImageInputStream → createTempFile),
  // which at 50k-image scale turns the CPU-bound decode path into a
  // filesystem-syscall bottleneck (thread dumps: all workers in open0).
  // In-memory caches are strictly better for our byte-array sources.
  // Object-init runs once per JVM — driver and each executor alike.
  javax.imageio.ImageIO.setUseCache(false)

  /** Session-scoped memo for the synthetic media fixtures: encoding a
    * PNG/GIF/WAV per document row is HARNESS plumbing (the stand-in for
    * media that a real pipeline reads already-encoded from storage), not
    * part of any measured operator — without the memo every bench pass
    * and every query sharing a fixture re-runs thousands of
    * `ImageIO.write` calls and the numbers measure the fixture, not the
    * decode/hash/cluster path.
    *
    * The memo IS the session's own CacheManager: `storageLevel` looks the
    * plan up by semantic equality, so a second build of the same fixture
    * finds the persisted copy without any static registry. (A previous
    * static WeakHashMap[SparkSession, DataFrame] memo could never reclaim
    * anything — the cached DataFrames strongly referenced their weak
    * session key — and so leaked every session's fixtures for the JVM
    * lifetime. Cache-manager state dies with its session by design.)
    */
  private def memoized(spark: SparkSession, kind: String, input: DataFrame)
      (build: => DataFrame): DataFrame = {
    val df = build
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** Compute-once cache for DECODED FEATURE tables ([[dHashTable]],
    * [[videoFrames]], [[audioFingerprintTable]]): fixed-width
    * fingerprints, ~10⁻³ of the payload bytes they derive from, consumed
    * by multi-branch self-join plans (pigeonhole chunk joins, posting
    * self-joins) whose every branch is a separate subtree — without the
    * cache each branch re-runs the media decode, the pipeline's dominant
    * CPU (measured at the 100× tier: image near-dup evaluated the PNG
    * decode → dHash leaf 8× = ~300 s of its ~305 s executor time; video
    * the GIF frame decode 4× = ~300 s). Same CacheManager-idempotence
    * trick as [[memoized]]; MEMORY_AND_DISK, so an oversized feature
    * table degrades to local spill, never OOM. At cluster scale this is
    * the standard "materialize extracted features before pairwise
    * analysis" move — the cached rows are O(corpus), the branches that
    * reread them are O(branches·corpus) decode work avoided. A
    * [[graft.core.Cuts.persist]], so the caller's scope releases it.
    */
  private def cachedFeature(build: => DataFrame): DataFrame =
    graft.core.Cuts.persist(build)

  case class MediaRow(doc_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int)

  /** Deterministic byte stream for the synthetic fixtures: xorshift64*
    * seeded from the md5 of the text's first 8 normalized tokens. The
    * prefix key gives the fixtures realistic duplicate-media structure —
    * docs opening identically (the fixture has ~20 such groups per 500
    * docs) carry IDENTICAL media, modeling the same image reused across
    * pages — while any prefix difference yields statistically unrelated
    * bytes, so near-dup-but-not-identical text does NOT produce
    * near-identical media (that correlation made the scaled fixture's
    * candidate pair space quadratic in replica count). The stream length
    * lets the synthetic images be 16×16 — big enough that [[dHash64]]'s
    * 9×8 grid boxes hit distinct pixels and the hash carries its full 64
    * bits; at 4×4 the grid repeated source pixels, the hash space
    * collapsed to a few thousand values, and frame-posting joins went
    * quadratic at sf1 (measured: q89 at 237 s).
    */
  private[graft] def seededBytes(md: java.security.MessageDigest,
      text: String, salt: Long, n: Int): Array[Byte] = {
    val key = text.trim.toLowerCase.split("\\s+").take(8).mkString(" ")
    val d = md.digest(key.getBytes("UTF-8"))
    var s = java.nio.ByteBuffer.wrap(d).getLong ^ salt
    if (s == 0L) s = 0x9E3779B97F4A7C15L
    Array.fill(n) {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      ((s * 0x2545F4914F6CDD1DL) >>> 56).toByte
    }
  }

  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
      avg_byte: Double, feat: Array[Double])

  /** The codec contract: payload bytes → (mean signal level on a 0-255
    * scale, fixed-width feature vector). Implementations must be
    * deterministic and serializable — they run inside executor tasks.
    */
  trait Codec extends Serializable {
    def decode(bytes: Array[Byte]): (Double, Array[Double])
  }

  /** Real image decode via `javax.imageio` (JDK-built-in, no display
    * needed). Features are exact pixel statistics: mean red/green/blue in
    * [0,1] and the pixel count; the signal level is the Rec.601 mean luma.
    * PNG is lossless, so the stats are bit-deterministic for a given
    * payload. Non-image bytes fail loudly (an unreadable payload in an
    * image pipeline is a data bug, not a feature).
    */
  object ImageIoCodec extends Codec {
    def decode(bytes: Array[Byte]): (Double, Array[Double]) = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"payload (${bytes.length} bytes) is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      var (rs, gs, bs) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val (r, g, b) = (rs.toDouble / n, gs.toDouble / n, bs.toDouble / n)
      (0.299 * r + 0.587 * g + 0.114 * b,
        Array(r / 255.0, g / 255.0, b / 255.0, n.toDouble))
    }
  }

  /** STUB codec — deterministic fake decode for payload kinds without an
    * in-container decoder (now only codecs outside the JDK: H.264/MP4,
    * MP3/AAC — images decode via [[ImageIoCodec]], PCM audio via
    * [[WavCodec]], multi-frame video via [[GifVideoCodec]]). The
    * signature (bytes in, fixed-width features out) is the real contract;
    * swapping in a licensed codec changes only this object.
    */
  object StubCodec extends Codec {
    def decode(bytes: Array[Byte]): (Double, Array[Double]) = decodeStub(bytes)
  }

  /** REAL multi-frame video decode for the one video container the JDK
    * ships a codec for: animated GIF (`javax.imageio` reads every frame;
    * proprietary codecs — H.264, VP9 — stay behind [[StubCodec]],
    * honestly). Features: signal level = mean Rec.601 luma over ALL
    * frames; vector = (n_frames, first-frame luma, last-frame luma, total
    * pixels) — enough for temporal sanity checks (fade-in/out detection in
    * specs) while staying in the 4-wide codec contract.
    */
  object GifVideoCodec extends Codec {
    def decode(bytes: Array[Byte]): (Double, Array[Double]) = {
      val frames = readGifFrames(bytes)
      require(frames.nonEmpty, s"payload (${bytes.length} bytes) has no GIF frames")
      val lumas = frames.map(meanLuma)
      val px = frames.map(f => f.getWidth.toLong * f.getHeight).sum
      (lumas.sum / lumas.length,
        Array(frames.length.toDouble, lumas.head, lumas.last, px.toDouble))
    }
  }

  private[graft] def meanLuma(img: java.awt.image.BufferedImage): Double = {
    var (rs, gs, bs) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = img.getWidth.toLong * img.getHeight
    (0.299 * rs + 0.587 * gs + 0.114 * bs) / n
  }

  private[graft] def readGifFrames(bytes: Array[Byte]): Seq[java.awt.image.BufferedImage] = {
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    require(it.hasNext, "JDK GIF reader missing")
    val reader = it.next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis)
      val n =
        try reader.getNumImages(true)
        catch { case e: java.io.IOException =>
          throw new IllegalArgumentException(s"not a decodable GIF stream", e) }
      require(n > 0, "not a decodable GIF stream")
      (0 until n).map(reader.read)
    } finally { reader.dispose(); iis.close() }
  }

  /** Minimal animated-GIF writer (frame sequence, JDK encoder) — the
    * synthesis counterpart of [[GifVideoCodec]].
    */
  private[graft] def writeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      frames.foreach(f =>
        w.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Synthesize a REAL-video media table: each document becomes a 4-frame
    * animated GIF (4×4 grayscale, frame pixels evolve deterministically
    * from the text bytes) — actual multi-frame payloads through the
    * actual plumbing, mirroring [[syntheticPngTable]]/[[syntheticWavTable]].
    */
  def syntheticGifTable(spark: SparkSession, documents: DataFrame): DataFrame =
      memoized(spark, "gif", documents) {
    import spark.implicits._
    graft.core.Parallelism.ensure(
        documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // seededBytes (not raw text bytes): identical texts yield
          // identical media (real dup clusters) while near-dup texts
          // yield UNRELATED media, and 16×16 frames give dHash64 its
          // full entropy — see seededBytes' scaladoc for the measured
          // sf1 pathologies both properties prevent
          val frames = (0 until 4).map { f =>
            val src = seededBytes(md, text, f.toLong, 256)
            val img = new java.awt.image.BufferedImage(
              16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var i = 0
            while (i < 256) {
              // grayscale keeps GIF's 256-color palette exact
              val v = src(i) & 0xff
              img.setRGB(i % 16, i / 16, (v << 16) | (v << 8) | v)
              i += 1
            }
            img
          }
          MediaRow(id, "video", writeGif(frames), 16, 16)
        }
      }.toDF()
  }

  /** REAL frame extraction: explode each video payload into one row per
    * frame with its index, mean luma, and perceptual [[dHash64]] — the
    * per-frame fingerprints video near-dup builds on (same Hamming
    * machinery as images via [[graft.dedup.Dedup.hammingClusterEdges]]).
    * Typed mapPartitions; payload bytes stay executor-side.
    */
  def videoFrames(spark: SparkSession, media: DataFrame): DataFrame =
    cachedFeature {
      import spark.implicits._
      media.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            readGifFrames(bytes).zipWithIndex.map { case (f, i) =>
              (id, i, meanLuma(f), dHash64(f))
            }
          }
        }.toDF("doc_id", "frame_idx", "mean_luma", "frame_dhash")
    }

  /** REAL audio decode: RIFF/WAVE PCM16 mono, parsed by a hand-rolled
    * chunk walker (RIFF is a public container format simple enough to
    * read without media libraries, so audio does not need a stub). The
    * walker validates magic + fmt (PCM, 16-bit) and iterates chunks to
    * find `data` — a writer that inserts extra chunks (LIST/INFO) still
    * decodes.
    *
    * Features are exact sample statistics: signal level = mean |amplitude|
    * scaled to the 0-255 codec contract; the vector carries RMS (of the
    * [-1,1) normalized signal), zero-crossing rate, duration in seconds,
    * and sample count. All integer/double math in deterministic order.
    * Non-WAV bytes fail loudly, like the image codec.
    */
  object WavCodec extends Codec {
    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Parse the container; return (sampleRate, PCM samples). */
    private[graft] def samples(bytes: Array[Byte]): (Int, Array[Short]) = {
      require(bytes.length >= 44 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
        s"payload (${bytes.length} bytes) is not a RIFF/WAVE stream")
      // LONG offset: a hostile 2 GiB-scale declared chunk size would
      // overflow an int offset negative and walk backwards into a raw
      // StringIndexOutOfBounds instead of this codec's loud contract
      var off = 12L
      var sampleRate = 0
      var dataOff = -1L
      var dataLen = 0
      while (off + 8 <= bytes.length && (sampleRate == 0 || dataOff < 0)) {
        val id = tag(bytes, off.toInt)
        val sz = le32(bytes, off.toInt + 4)
        // a corrupt negative size would walk the offset backwards forever
        require(sz >= 0, s"corrupt WAVE chunk '$id': negative size $sz")
        if (id == "fmt ") {
          require(le16(bytes, off.toInt + 8) == 1 && le16(bytes, off.toInt + 10) == 1 &&
            le16(bytes, off.toInt + 22) == 16,
            "WavCodec supports PCM 16-bit mono only")
          sampleRate = le32(bytes, off.toInt + 12)
        } else if (id == "data") { dataOff = off + 8; dataLen = sz }
        off += 8L + sz + (sz & 1) // chunks are word-aligned
      }
      require(sampleRate > 0 && dataOff >= 0, "WAVE stream missing fmt/data chunk")
      val n = (math.min(dataLen.toLong, bytes.length - dataOff) / 2).toInt
      require(n > 0, "WAVE data chunk is empty")
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = ((le16(bytes, dataOff.toInt + 2 * i) << 16) >> 16).toShort // sign-extend
        i += 1
      }
      (sampleRate, out)
    }

    def decode(bytes: Array[Byte]): (Double, Array[Double]) = {
      val (sampleRate, pcm) = samples(bytes)
      val n = pcm.length
      var sumAbs = 0L
      var sumSq = 0.0
      var crossings = 0
      var prev = 0
      var i = 0
      while (i < n) {
        val s = pcm(i).toInt
        sumAbs += math.abs(s)
        val x = s / 32768.0
        sumSq += x * x
        if (i > 0 && ((s ^ prev) < 0)) crossings += 1
        prev = s
        i += 1
      }
      val level = sumAbs.toDouble / n / 32768.0 * 255.0
      (level, Array(math.sqrt(sumSq / n), crossings.toDouble / n,
        n.toDouble / sampleRate, n.toDouble))
    }
  }

  /** 64-bit audio fingerprint — the 1-D analog of [[dHash64]]: the clip
    * splits into 65 equal windows, each window's ENERGY (sum of squared
    * normalized samples) is computed, and bit i is set iff window i+1 is
    * more energetic than window i. Comparing adjacent windows (not
    * absolute levels) makes the fingerprint invariant under uniform GAIN
    * — the audio analog of dHash's brightness invariance — and a local
    * edit perturbs only its neighborhood's bits, so re-mastered or
    * lightly edited copies land within a small Hamming distance. Feed
    * into the same [[graft.dedup.Dedup.hammingClusterEdges]] machinery
    * as images.
    */
  private[graft] def audioFingerprint64(pcm: Array[Short]): Long = {
    val n = pcm.length
    val e = new Array[Double](65)
    var w = 0
    while (w < 65) {
      val x0 = w * n / 65
      val x1 = math.max(x0 + 1, (w + 1) * n / 65)
      var s = 0.0
      var i = x0
      while (i < n && i < x1) {
        val x = pcm(i) / 32768.0
        s += x * x
        i += 1
      }
      e(w) = s
      w += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (e(i + 1) > e(i)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Fingerprint table for an audio media frame: `(doc_id, afp)` via the
    * real WAV decode, partition-local — mirrors [[dHashTable]].
    */
  def audioFingerprintTable(spark: SparkSession, media: DataFrame): DataFrame = {
    // NOT cachedFeature: PCM16 WAV decode + the energy-fold fingerprint
    // is arithmetic over raw samples — measured cheaper to re-run per
    // consuming branch than to persist (unlike the image/video paths,
    // whose ImageIO/GIF decode dominates their queries)
    import spark.implicits._
    media.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, audioFingerprint64(WavCodec.samples(bytes)._2))
        }
      }.toDF("doc_id", "afp")
  }

  /** Minimal RIFF/WAVE PCM16 mono writer — the synthesis counterpart of
    * [[WavCodec]], used by [[syntheticWavTable]] and specs.
    */
  private[graft] def writeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Synthesize a REAL-audio media table: each document becomes a short
    * PCM16 WAV tone whose frequency/amplitude derive deterministically
    * from the text — actual RIFF bytes through the actual binary-column
    * plumbing, mirroring [[syntheticPngTable]] for images. Partition-local
    * map; bytes never hit the driver.
    */
  def syntheticWavTable(spark: SparkSession, documents: DataFrame): DataFrame =
      memoized(spark, "wav", documents) {
    import spark.implicits._
    graft.core.Parallelism.ensure(
        documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // seeded NOISE, not a pure tone: a constant-amplitude sine's
          // 65-window energy profile depends only on frequency, so tones
          // on a frequency grid produced fingerprints forming one long
          // Hamming CHAIN across unrelated docs — a giant-diameter dedup
          // graph no real audio corpus has. Noise gives every prefix
          // group its own well-spread 64-bit fingerprint; identical
          // prefixes still mean byte-identical audio (real clusters).
          val src = seededBytes(md, text, 0x5741564cL, 800)
          val rate = 8000
          val samples = Array.tabulate(400) { i =>
            // two bytes per PCM16 sample, scaled to ~75% full range
            val v = (src(2 * i) & 0xff) << 8 | (src(2 * i + 1) & 0xff)
            (((v - 32768) * 3) / 4).toShort
          }
          MediaRow(id, "audio", writeWav(samples, rate), 0, 0)
        }
      }.toDF()
  }

  /** Synthesize a media table from `documents`: payload = UTF-8 bytes of
    * the text (stand-in for an encoded image/audio blob), kind cycles
    * deterministically, dimensions derive from payload size.
    */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      (col("n_chars") % 640 + 1).cast("int").as("width"),
      (col("n_chars") % 480 + 1).cast("int").as("height"))

  private[multimodal] def decodeStub(bytes: Array[Byte]): (Double, Array[Double]) = {
    if (bytes.isEmpty) (0.0, Array.fill(4)(0.0))
    else {
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
      val avg = sum.toDouble / bytes.length
      // 4 stable pseudo-features: avg, first, last, length-derived
      (avg, Array(avg / 255.0, (bytes(0) & 0xff) / 255.0,
        (bytes(bytes.length - 1) & 0xff) / 255.0,
        (bytes.length % 251) / 251.0))
    }
  }

  /** Partition-batched featurization: one codec pass per partition,
    * typed in/out (Dataset[MediaRow] → Dataset[MediaFeatures]).
    */
  def featurize(spark: SparkSession, media: DataFrame,
      codec: Codec = StubCodec): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.map { r =>
        val (avg, feat) = codec.decode(r.bytes)
        MediaFeatures(r.doc_id, r.kind, r.bytes.length, avg, feat)
      }
    }
  }

  /** Synthesize a REAL-image media table: each document becomes a 4×4
    * RGB PNG whose pixels derive deterministically from the text bytes —
    * actual encoded images (javax.imageio PNG writer) flowing through the
    * actual binary-column plumbing, so the decode path is exercised
    * end-to-end with no fixture files. Partition-local map; bytes never
    * hit the driver.
    */
  def syntheticPngTable(spark: SparkSession, documents: DataFrame): DataFrame =
      memoized(spark, "png", documents) {
    import spark.implicits._
    graft.core.Parallelism.ensure(
        documents.select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // seededBytes + 16×16 — see seededBytes' scaladoc: keeps
          // exact-dup image clusters, removes the artificial
          // near-identical-replica pair blowup, and fills dHash64's
          // entropy so Hamming blocking stays collision-bounded at scale
          val src = seededBytes(md, text, 0L, 256)
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var i = 0
          while (i < 256) {
            val v = src(i) & 0xff
            img.setRGB(i % 16, i / 16,
              (v << 16) | (((v * 7) & 0xff) << 8) | ((v * 13) & 0xff))
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaRow(id, "image", bos.toByteArray, 16, 16)
        }
      }.toDF()
  }

  /** 64-bit difference hash (dHash) of one decoded image — the standard
    * perceptual fingerprint for image near-dup: grayscale (Rec.601 integer
    * luma), area-average downscale to 9×8, then bit (y·8+x) set iff the
    * pixel right of (x, y) is brighter. Properties that make it a DEDUP
    * key rather than a checksum: invariant under uniform brightness shift
    * (bits compare neighbors, not absolutes) and stable under small local
    * edits (one changed region flips only its neighborhood's bits) —
    * re-encoded/slightly-retouched copies land within a few bits.
    *
    * All-integer math (sums and truncating divisions), so the hash is
    * bit-deterministic across JVMs/platforms — no float resampling.
    */
  private[graft] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val gray = new Array[Long](9 * 8) // luma ×1000 sums averaged per box
    var ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 9) {
        // source box [x0,x1)×[y0,y1): integer edges, never empty
        val x0 = tx * w / 9; val x1 = math.max(x0 + 1, (tx + 1) * w / 9)
        val y0 = ty * h / 8; val y1 = math.max(y0 + 1, (ty + 1) * h / 8)
        var sum = 0L
        var y = y0
        while (y < h && y < y1) {
          var x = x0
          while (x < w && x < x1) {
            val p = img.getRGB(math.min(x, w - 1), math.min(y, h - 1))
            sum += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
              114L * (p & 0xff)
            x += 1
          }
          y += 1
        }
        val n = math.max(1, (math.min(x1, w) - x0) * (math.min(y1, h) - y0))
        gray(ty * 9 + tx) = sum / n
        tx += 1
      }
      ty += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      val (y, x) = (i / 8, i % 8)
      if (gray(y * 9 + x + 1) > gray(y * 9 + x)) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Perceptual-hash table for an image media frame: `(doc_id, dhash)` via
    * real ImageIO decode, partition-local (bytes never on the driver).
    * Feed into [[graft.dedup.Dedup.hammingPairs]] for blocked near-dup
    * candidates and [[graft.dedup.Dedup.connectedComponents]] for
    * clusters — the image pipeline reuses the text pipeline's pair/cluster
    * machinery unchanged.
    */
  def dHashTable(spark: SparkSession, media: DataFrame): DataFrame =
    cachedFeature {
      import spark.implicits._
      media.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"doc $id: payload is not a decodable image")
            (id, dHash64(img))
          }
        }.toDF("doc_id", "dhash")
    }

  /** Video near-dup by shared-frame analysis: per-video SORTED DISTINCT
    * frame-dHash sets, candidate pairs = videos sharing at least one
    * exact frame hash (explode + equi-join on the hash — bounded by
    * per-hash posting lists, never all-pairs), verified by exact set
    * Jaccard over the sorted arrays (merge-scan
    * [[graft.functions.Sketches.sortedIntersectCount]], |∪| derived as
    * |A|+|B|−|∩|). A re-encoded / trimmed / re-titled copy keeps most
    * frame hashes, so it shares many exact hashes with its source; the
    * size-ratio prefilter in the join condition prunes below-threshold
    * pairs before the merge scan, mirroring the text Jaccard path.
    *
    * Per-video state is one distinct (doc_id, frame-hash) row per frame —
    * bounded by clip length, not corpus size; no per-video array is ever
    * materialized or shuffled. Because both posting lists are DISTINCT,
    * each shared hash matches a candidate pair exactly once, so the
    * per-pair match COUNT is |A∩B| itself — the intersection falls out of
    * the equi-join for free and the shuffle carries only fixed-width
    * (id, id, hash, n) rows, never frame-set payloads.
    *
    * `frameHamming > 0` matches frames APPROXIMATELY: distinct frame
    * hashes are first clustered by Hamming distance (the image near-dup
    * machinery over the DISTINCT hash set — cost bounded by distinct
    * frames, not videos²) and every hash is replaced by its cluster's
    * canonical representative before the set logic. A re-encoded or
    * mildly retouched copy, whose frame hashes drift a few bits, then
    * still shares canonical frames with its source; at `frameHamming = 0`
    * matching is exact and no clustering pass runs.
    */
  def videoNearDup(spark: SparkSession, media: DataFrame,
      threshold: Double = 0.5, frameHamming: Int = 0): DataFrame = {
    val frames = videoFrames(spark, media)
    val canonical =
      if (frameHamming == 0) frames.select(col("doc_id"), col("frame_dhash").as("fh"))
      else {
        import graft.dedup.Dedup
        val distinctHashes = frames.select(col("frame_dhash").as("h")).distinct()
        // CC labels only hashes that have a near neighbor; lone hashes
        // keep themselves as canon via the left join + coalesce. Chunk
        // count follows the radius (pigeonhole needs maxHamming < chunks):
        // retouch drift routinely exceeds 3 bits, so radii up to 7 are
        // first-class via 8×8-bit chunks
        val edges = Dedup.hammingPairs(distinctHashes, "h", "h", frameHamming,
            nChunks = if (frameHamming < 4) 4 else 8,
            collapseIdentical = false) // input already distinct
          .select("id_a", "id_b")
        val canon = Dedup.connectedComponents(edges, "id_a", "id_b")
          .toDF("h", "canon")
        frames.join(canon, frames("frame_dhash") === canon("h"), "left")
          .select(col("doc_id"),
            coalesce(col("canon"), col("frame_dhash")).as("fh"))
      }
    val postings = canonical.select(col("doc_id"), col("fh")).distinct()
    val sized = postings
      .withColumn("n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))).cast("double"))
    val l = sized.select(col("doc_id").as("id_a"), col("fh").as("h_a"),
      col("n").as("n_a"))
    val r = sized.select(col("doc_id").as("id_b"), col("fh").as("h_b"),
      col("n").as("n_b"))
    // one row per SHARED distinct hash per candidate pair → the group
    // count IS the exact intersection size; the size-ratio prefilter
    // prunes below-threshold pairs inside the join condition
    l.join(r,
        col("h_a") === col("h_b") && col("id_a") < col("id_b") &&
          least(col("n_a"), col("n_b")) >= lit(threshold) * greatest(col("n_a"), col("n_b")))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("shared_frac"))
      .filter(col("shared_frac") >= threshold)
  }

  /** Deterministic STUB resize: a real codec decodes → scales → re-encodes;
    * without media libraries the payload truncates proportionally to the
    * pixel-count ratio (so sizes behave like a real downscale) and the
    * metadata updates exactly. Pure column expressions — no shuffle, no
    * driver involvement, prunable metadata — which is the Spark-side
    * contract a real resize would inherit unchanged.
    */
  def resize(media: DataFrame, newW: Int, newH: Int): DataFrame =
    media.select(col("doc_id"), col("kind"),
      // cap at the source length BEFORE the int cast: substring can never
      // extend anyway, and an extreme upscale ratio would otherwise
      // overflow the non-ANSI int cast into a wrapped (even negative)
      // length
      substring(col("bytes"), lit(1),
        greatest(lit(1), least(
          ceil(octet_length(col("bytes")).cast("double") * lit(newW.toDouble * newH) /
            (col("width").cast("double") * col("height").cast("double"))),
          octet_length(col("bytes")).cast("double"))
          .cast("int"))).as("bytes"),
      lit(newW).as("width"), lit(newH).as("height"))

  /** Deterministic frame sampling: n evenly-spaced fixed-size slices of the
    * payload (stand-in for video frame extraction) — pure column exprs.
    */
  def frameSample(media: DataFrame, n: Int, frameBytes: Int): DataFrame =
    media.select(col("doc_id"), col("kind"),
      posexplode(transform(sequence(lit(0), lit(n - 1)),
        i => substring(col("bytes"),
          (i * greatest(octet_length(col("bytes")) - frameBytes, lit(1))
            / lit(math.max(n - 1, 1)) + 1).cast("int"),
          lit(frameBytes)))).as(Seq("frame_idx", "frame")))
}
