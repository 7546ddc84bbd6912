package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE tokenizer (GPT-2-family algorithm) — makes the curation
  * operators that bill by token (sequence packing, domain mixture, token
  * budgets) TOKEN-EXACT instead of whitespace-approximate.
  *
  * Id space: 0-255 are raw bytes; id `256+i` is the i-th learned merge.
  * Text is pre-tokenized with the published GPT-2 word pattern (so merges
  * never cross word boundaries — the property that keeps encoding
  * parallelizable per word), each word is UTF-8 bytes, and learned merges
  * apply lowest-rank-first until fixpoint. Any byte sequence round-trips:
  * there is no `<unk>`.
  *
  * Scale design (100 TB corpus):
  *  - TRAINING aggregates the corpus to a word HISTOGRAM first — one
  *    distributed `groupBy(word).count()` plus a top-`maxWords` cut — and
  *    learns merges from the histogram on the driver. This is the standard
  *    trainer shape (the histogram, not the corpus, is the trainer's
  *    working set: distinct pre-tokens grow sub-linearly in corpus size
  *    and the top-k cut hard-bounds driver memory regardless).
  *  - ENCODING ships the merges table to executors (a few hundred KB at
  *    vocab 50k) inside a native Catalyst expression
  *    ([[graft.functions.BpeEncode]]) — one JVM call per row, inside
  *    whole-stage codegen, with a per-thread word→ids memo (Zipf: the hot
  *    few thousand words cover most tokens, so amortized cost per word is
  *    a hash lookup).
  *
  * Determinism: pair-count ties break on the lexicographically smallest
  * pair, and the histogram cut orders by (count DESC, word ASC) — training
  * twice on the same corpus yields identical merges at any parallelism.
  *
  * Reference context: the reference pipeline has no tokenizer (its unit of
  * accounting is the row); this is part of the training-data extension
  * surface, alongside `documents`-table curation.
  */
object Bpe {

  /** The published GPT-2 pre-tokenization pattern: contraction suffixes,
    * letter runs, digit runs, punctuation runs (each optionally taking one
    * leading space), then whitespace runs.
    */
  private[text] val wordPattern = java.util.regex.Pattern.compile(
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

  private[graft] def preTokenize(text: String): Iterator[String] = {
    val m = wordPattern.matcher(text)
    new Iterator[String] {
      private var has = m.find()
      def hasNext: Boolean = has
      def next(): String = { val s = m.group(); has = m.find(); s }
    }
  }

  /** A trained tokenizer: `merges(i)` fuses the id pair into id `256+i`. */
  final case class Model(merges: Array[(Int, Int)]) extends Serializable {

    @transient private lazy val rank: java.util.HashMap[Long, Int] = {
      val m = new java.util.HashMap[Long, Int](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        m.put(pairKey(merges(i)._1, merges(i)._2), i); i += 1
      }
      m
    }

    private def pairKey(a: Int, b: Int): Long = (a.toLong << 32) | b.toLong

    /** UTF-8 bytes of each id — the decode table. */
    @transient private lazy val bytesOf: Array[Array[Byte]] = {
      val t = new Array[Array[Byte]](256 + merges.length)
      var i = 0
      while (i < 256) { t(i) = Array(i.toByte); i += 1 }
      while (i < t.length) {
        val (a, b) = merges(i - 256)
        t(i) = t(a) ++ t(b); i += 1
      }
      t
    }

    // per-thread memo: codegen'd tasks share the broadcast model object
    // across threads, so the cache must not be contended or corrupted —
    // thread confinement beats locking on the hot path
    @transient private lazy val memo =
      new ThreadLocal[java.util.LinkedHashMap[String, Array[Int]]] {
        override def initialValue() =
          new java.util.LinkedHashMap[String, Array[Int]](1024, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Array[Int]]): Boolean = size() > 20000
          }
      }

    /** Merge loop over one word's byte ids: repeatedly fuse the LOWEST-RANK
      * adjacent pair present (all its occurrences, left to right) until no
      * learned pair remains — the canonical BPE apply order.
      */
    private[text] def encodeWord(word: String): Array[Int] = {
      val cached = memo.get().get(word)
      if (cached != null) return cached
      val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var ids = new Array[Int](bytes.length)
      var i = 0
      while (i < bytes.length) { ids(i) = bytes(i) & 0xff; i += 1 }
      var done = ids.length < 2
      while (!done) {
        var best = Int.MaxValue
        var j = 0
        while (j < ids.length - 1) {
          val r = rank.getOrDefault(pairKey(ids(j), ids(j + 1)), Int.MaxValue)
          if (r < best) best = r
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val (a, b) = merges(best)
          val out = new Array[Int](ids.length)
          var w = 0
          var k = 0
          while (k < ids.length) {
            if (k < ids.length - 1 && ids(k) == a && ids(k + 1) == b) {
              out(w) = 256 + best; k += 2
            } else { out(w) = ids(k); k += 1 }
            w += 1
          }
          ids = java.util.Arrays.copyOf(out, w)
          done = ids.length < 2
        }
      }
      memo.get().put(word, ids)
      ids
    }

    def encode(text: String): Array[Int] = {
      val buf = new scala.collection.mutable.ArrayBuilder.ofInt
      preTokenize(text).foreach(w => buf.addAll(encodeWord(w)))
      buf.result()
    }

    def decode(ids: Array[Int]): String = {
      val bos = new java.io.ByteArrayOutputStream(ids.length * 2)
      ids.foreach(id => bos.write(bytesOf(id), 0, bytesOf(id).length))
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

    /** Merges flattened `[a0,b0,a1,b1,…]` — the literal form the native
      * expression carries in the plan.
      */
    def flat: Array[Int] = merges.flatMap { case (a, b) => Array(a, b) }
  }

  object Model {
    def fromFlat(flat: Array[Int]): Model = {
      require(flat.length % 2 == 0, "flat merges must have even length")
      val merges = Array.tabulate(flat.length / 2)(i => (flat(2 * i), flat(2 * i + 1)))
      // each merge may only reference bytes or EARLIER merges — a
      // forward/out-of-range id would crash the decode table build with a
      // bare index error instead of naming the malformed input
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        require(a >= 0 && a < 256 + i && b >= 0 && b < 256 + i,
          s"merge $i ($a, $b) references an id outside [0, ${256 + i})")
      }
      Model(merges)
    }
  }

  /** Learn `nMerges` merges from a text column.
    *
    * Distributed part: pre-tokenize + word histogram (one shuffle on the
    * word), cut to the `maxWords` most frequent (count DESC, word ASC —
    * deterministic under ties). Driver part: classic BPE training over the
    * histogram — each round counts adjacent id pairs weighted by word
    * frequency, fuses the most frequent (ties → lexicographically smallest
    * pair), and rewrites the histogram in place. Histogram rows, not
    * corpus rows, bound both memory and per-round cost.
    */
  def train(df: DataFrame, textCol: String, nMerges: Int,
      maxWords: Int = 100000): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist: Array[(String, Long)] = df
      .select(col(textCol).cast("string").as("t")).na.drop()
      .as[String]
      .flatMap(preTokenize(_))
      .groupBy(col("value").as("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word")).limit(maxWords)
      .as[(String, Long)].collect()

    val words: Array[Array[Int]] = hist.map { case (w, _) =>
      val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Array.tabulate(b.length)(i => b(i) & 0xff)
    }
    val counts = hist.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var m = 0
    var exhausted = false
    while (m < nMerges && !exhausted) {
      val pairCnt = new java.util.HashMap[Long, Long]()
      var wi = 0
      while (wi < words.length) {
        val ids = words(wi)
        var j = 0
        while (j < ids.length - 1) {
          val k = (ids(j).toLong << 32) | ids(j + 1).toLong
          pairCnt.merge(k, counts(wi), _ + _)
          j += 1
        }
        wi += 1
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        var bestKey = 0L
        var bestCnt = -1L
        pairCnt.forEach { (k, c) =>
          // tie-break on the smaller packed key: (a, b) lexicographic
          if (c > bestCnt || (c == bestCnt && k < bestKey)) {
            bestCnt = c; bestKey = k
          }
        }
        val a = (bestKey >>> 32).toInt
        val b = (bestKey & 0xffffffffL).toInt
        val newId = 256 + merges.length
        merges += ((a, b))
        wi = 0
        while (wi < words.length) {
          val ids = words(wi)
          if (ids.length >= 2) {
            val out = new Array[Int](ids.length)
            var w = 0
            var k = 0
            while (k < ids.length) {
              if (k < ids.length - 1 && ids(k) == a && ids(k + 1) == b) {
                out(w) = newId; k += 2
              } else { out(w) = ids(k); k += 1 }
              w += 1
            }
            if (w < ids.length) words(wi) = java.util.Arrays.copyOf(out, w)
          }
          wi += 1
        }
        m += 1
      }
    }
    Model(merges.toArray)
  }

  /** Persist a trained model as a tiny ordered merges table — the
    * artifact that amortizes training across query batches and JVM
    * restarts, like the persisted ANN index. Rank is explicit (merge
    * order IS the model; row order in parquet is not contractual).
    */
  def save(model: Model, spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    import spark.implicits._
    // without a durable metastore the catalog forgets tables across JVMs
    // while their warehouse directories persist — clear a stale location
    // or the CTAS refuses (LOCATION_ALREADY_EXISTS); same discipline as
    // Ann.writeIvfIndex, same single-writer-per-name contract
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table.toLowerCase)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    model.merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toSeq
      .toDF("rank", "a", "b")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(table)
  }

  /** Load a model persisted by [[save]] — collects merges-table rows
    * (vocab-sized, thousands) to the driver, never corpus data.
    */
  def load(spark: org.apache.spark.sql.SparkSession, table: String): Model =
    Model(spark.table(table).orderBy("rank")
      .select("a", "b").collect()
      .map(r => (r.getInt(0), r.getInt(1))))

  /** `array<int>` of BPE token ids for a text column (native expression,
    * whole-stage-codegen-resident; merges ride the plan as a literal).
    */
  def encodeCol(text: Column, model: Model): Column =
    call_function("bpe_encode", text, typedLit(model.flat))

  /** Exact BPE token count — drop-in replacement for the whitespace
    * `TextFunctions.tokenCount` wherever curation bills by tokens.
    */
  def countCol(text: Column, model: Model): Column =
    size(encodeCol(text, model))

  /** Inverse of [[encodeCol]]: text from token ids. Byte-level BPE is
    * lossless, so `decodeCol(encodeCol(t, m), m) === t` — the in-band
    * round-trip proof q86's oracle gates.
    */
  def decodeCol(ids: Column, model: Model): Column =
    call_function("bpe_decode", ids, typedLit(model.flat))
}
