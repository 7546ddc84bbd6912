package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Cuts

/** Incrementally-maintained BM25 index: the streaming/incremental twin of
  * [[Retrieval.bm25]] (q92), completing the batch → incremental → streaming
  * progression for lexical retrieval the way the dedup family already runs
  * it (q31 → q104 → NearDupStream).
  *
  * [[Retrieval.bm25]] tokenizes the WHOLE corpus per query — the right
  * shape for a one-off slice, unusable as the standing retrieval path of a
  * continuously-ingested 100 TB corpus where each query re-pays the full
  * tokenize + tf scan. This module maintains the classic inverted-index
  * decomposition as two append-only ledgers, each fed by wave-sized work:
  *
  *  - `postings` (token, doc_id, tf): one row per distinct (token, doc)
  *    of the wave — the inverted index. Bucketed by `token` after
  *    compaction, so a query's term filter prunes to the query terms'
  *    buckets and the df/tf aggregations run exchange-free (bucket
  *    partitioning satisfies both the `token` and the `(doc_id, token)`
  *    clustering).
  *  - `docstats` (doc_id, dl): one slim row per document — the length
  *    normalization input. Corpus totals (N, Σdl) derive from it, or from
  *    an optional batch-keyed totals ledger so the query path never scans
  *    even the slim corpus table.
  *
  * Per-wave indexing cost is one tokenize + one wave-sized groupBy —
  * independent of corpus size. Query cost is |terms| posting-bucket reads
  * + a |terms|-row broadcast — independent of wave count. Exactness: tf,
  * dl, N, Σdl are integer-exact regardless of wave split, and scoring goes
  * through [[Retrieval.scoreCore]] — the SAME expression tree as the
  * from-scratch path — so ledger-maintained scores are hash-identical to
  * q92's (gated as q113 against q92's own DuckDB oracle).
  *
  * Replay/compaction tolerance mirrors the dedup ledgers: duplicate rows
  * (a batch transiently alive in both the compacted table and its swept
  * `batch=` dir) are IDENTICAL rows, collapsed by a min-groupBy on the
  * ledger key before any sum-like math reads them.
  */
object IncrementalBm25 {

  /** One wave's index deltas: (postings, docstats), both pure wave-sized
    * functions of the batch (the property the streaming writer's
    * exactly-once argument needs). Tokenization is [[Retrieval.bm25]]'s
    * exactly (lowercased whitespace tokens). */
  def indexWave(wave: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame) = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = graft.core.Parallelism.ensure(
        wave.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), toks.as("toks"))
    val postings = base
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val docstats = base.select(col("doc_id"), size(col("toks")).as("dl"))
    (postings, docstats)
  }

  /** The wave's single-row totals delta (batch_id, n_docs, sum_dl) for the
    * optional totals ledger — batch-keyed so the dup-row collapse has a
    * key (two rows with the same batch_id are the same wave, replayed). */
  def totalsDelta(docstats: DataFrame, batchId: Long): DataFrame =
    docstats.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      .select(lit(batchId).as("batch_id"), col("n_docs"),
        coalesce(col("sum_dl"), lit(0L)).as("sum_dl"))

  /** BM25 scores of `terms` against the ledger state — output contract and
    * hash identical to [[Retrieval.bm25]] over the union of every indexed
    * wave.
    *
    * The term filter hits `postings` FIRST (bucket/partition pruning on a
    * token-bucketed compacted ledger: only the query terms' buckets are
    * read), the dup-row collapse and df aggregation then run exchange-free
    * on the bucket partitioning. `totalsLedger` (batch-keyed rows from
    * [[totalsDelta]]) replaces the docstats scan for N/Σdl when provided —
    * integer sums of per-wave integer totals, so exactness is unaffected.
    *
    * Construction is eager: the per-doc lengths and the query terms'
    * postings are cut to leaves, owned by the caller's
    * [[graft.core.Cuts.scoped]] owner, so a scoped caller consumes the
    * scores inside its scope.
    */
  def scoreFromIndex(postings: DataFrame, docstats: DataFrame,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      totalsLedger: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct,
      s"query terms must be non-empty and distinct: $terms")
    // the two multiply-consumed frames are leaves: dl feeds the tf
    // prune, the scoring join, and (absent a totals ledger) the totals
    // aggregate; tf feeds df and the scoring join — uncut, the
    // postings/stats reads run once per consumer, and a lazy persist is
    // raced by those consumers under AQE. Values identical.
    val dl = Cuts.leaf(
      docstats.groupBy("doc_id").agg(min(col("dl")).as("dl")))
    // the semi-join against docstats keeps df PURE under a torn wave
    // (postings committed, stats not yet — the streaming writer's crash
    // window): scoreCore's inner tf⋈dl join already hides a stats-less
    // doc's SCORE rows, but df is aggregated from tf before that join, so
    // without the prune a torn wave's postings would deflate every idf.
    // When every posting doc has stats (any consistent state) the prune
    // passes everything through. Cost: the small query-term tf frame
    // exchanges to doc_id — the same partitioning scoreCore's join needs
    // anyway; the docstats side is bucketed on doc_id after compaction.
    val tf = Cuts.leaf(postings
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(min(col("tf")).as("tf"))
      .join(dl.select("doc_id"), Seq("doc_id"), "left_semi"))
    val totals = totalsLedger match {
      case Some(t) => t
        .groupBy("batch_id")
        .agg(min(col("n_docs")).as("bn"), min(col("sum_dl")).as("bsum"))
        .agg(sum(col("bn")).as("n_docs"), sum(col("bsum")).as("sum_dl"))
      case None => dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
    }
    Retrieval.scoreCore(tf, dl, totals, terms, k1, b)
  }
}
