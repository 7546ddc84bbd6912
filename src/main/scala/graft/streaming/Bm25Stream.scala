package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** Streaming BM25 index maintenance: a `foreachBatch` pipeline that folds
  * each micro-batch of documents into the persisted inverted-index ledgers
  * of [[graft.text.IncrementalBm25]], exactly-once, so lexical retrieval
  * stays a bucket-pruned ledger read while the corpus ingests continuously
  * — the streaming close of the retrieval family (batch: q92; incremental
  * fold: q113; streaming: here).
  *
  * State model (the [[IdempotentSink]]/[[LedgerCompaction]] contracts, as
  * with the dedup ledgers):
  *
  *  - `postingsDir`: (token, doc_id, tf) per wave; compacted into a
  *    token-bucketed table so a query's term filter reads only the query
  *    terms' buckets and the tf/df aggregations run exchange-free.
  *  - `statsDir`: (doc_id, dl) per wave; compacted bucketed by doc_id
  *    (the scoring join key).
  *  - `totalsDir`: ONE (batch_id, n_docs, sum_dl) row per wave — the
  *    corpus totals without a corpus scan; batch-keyed so the standard
  *    dup-row collapse applies.
  *
  * Exactly-once across crash/replay with no cross-ledger transaction: all
  * three deltas are PURE functions of the batch alone (no read of prior
  * state — unlike the dedup writers there is no admission decision), so
  * any replay re-derives identical rows and each sink's marker makes the
  * write idempotent; a crash between sinks leaves earlier ledgers
  * committed and later ones rebuilt from the identical recomputation.
  * Crash-window reads (spec-pinned in Bm25StreamSpec): a read in the
  * postings→stats window sees EXACTLY the previous consistent corpus —
  * a stats-less doc contributes nothing to scores, df (the scoring path
  * prunes tf to stats-backed docs), or totals. A read in the
  * stats→totals window scores the in-flight wave's docs with complete
  * per-doc math (tf/df/dl all landed) under the PREVIOUS corpus'
  * normalization constants (N/Σdl) — bounded staleness of exactly the
  * in-flight wave, never torn per-doc math, self-healing at the totals
  * commit.
  */
object Bm25Stream {

  val PostingsSchema: StructType = StructType(Seq(
    StructField("token", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType)))

  val StatsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dl", IntegerType)))

  val TotalsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("n_docs", LongType),
    StructField("sum_dl", LongType)))

  def ledgerPostings(spark: SparkSession, dir: String): DataFrame =
    LedgerCompaction.read(spark, dir, PostingsSchema)

  def ledgerStats(spark: SparkSession, dir: String): DataFrame =
    LedgerCompaction.read(spark, dir, StatsSchema)

  def ledgerTotals(spark: SparkSession, dir: String): DataFrame =
    LedgerCompaction.read(spark, dir, TotalsSchema)

  /** Compact all three ledgers: postings token-bucketed (term-filter
    * bucket pruning + exchange-free tf/df), stats doc_id-bucketed (the
    * scoring join key), totals doc_id-free and tiny (bucketed by batch_id
    * only to satisfy the compactor's layout contract). */
  def compactLedgers(spark: SparkSession, postingsDir: String,
      statsDir: String, totalsDir: String, buckets: Int = 8): Unit = {
    LedgerCompaction.compact(spark, postingsDir, PostingsSchema,
      Seq("token"), buckets)
    LedgerCompaction.compact(spark, statsDir, StatsSchema,
      Seq("doc_id"), buckets)
    LedgerCompaction.compact(spark, totalsDir, TotalsSchema,
      Seq("batch_id"), 1)
    ()
  }

  /** The `foreachBatch` function:
    * `docs.writeStream.foreachBatch(Bm25Stream.writer(p, s, t, "text", "doc_id"))`.
    *
    * Commit order postings → stats → totals: a reader between partial
    * commits joins postings to stats, so the in-flight wave's docs are
    * invisible to scoring until their stats land, and totals land last so
    * N/Σdl never include docs whose tf/dl rows are missing.
    */
  def writer(postingsDir: String, statsDir: String, totalsDir: String,
      textCol: String, idCol: String,
      compactEvery: Int = 16): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery,
        compactLedgers(_, postingsDir, statsDir, totalsDir)) { wave =>
      val (p, st) =
        graft.text.IncrementalBm25.indexWave(wave.batch, textCol, idCol)
      val postings = wave.persist(p)
      val stats = wave.persist(st)
      wave.commit(postingsDir, postings)
      wave.commit(statsDir, stats)
      wave.commit(totalsDir,
        graft.text.IncrementalBm25.totalsDelta(stats, wave.batchId))
    }

  /** BM25 scores of `terms` against the ledgered index — hash-identical to
    * [[graft.text.Retrieval.bm25]] over every document the ledgers
    * absorbed. */
  def score(spark: SparkSession, postingsDir: String, statsDir: String,
      totalsDir: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    graft.text.IncrementalBm25.scoreFromIndex(
      ledgerPostings(spark, postingsDir), ledgerStats(spark, statsDir),
      terms, k1, b, totalsLedger = Some(ledgerTotals(spark, totalsDir)))
}
