package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over a document corpus: exact BM25 scoring of
  * every document against a fixed bag of query terms. This is the standard
  * pre-filter a training-data pipeline runs to pull topic-relevant slices
  * out of a web corpus (and the baseline any dense-retrieval ANN path —
  * [[graft.similarity.Ann]] — is measured against).
  *
  * Scale shape: the term filter is applied BEFORE the tf aggregation, so
  * only postings of the query terms ever shuffle (the inverted-index
  * access pattern, expressed declaratively); document length comes from a
  * map-side projection aggregated once; per-term document frequencies are
  * a |terms|-row broadcast; the per-document score sums a FIXED number of
  * pivoted term columns in a fixed order, so the double math is
  * deterministic at any parallelism (no float-sum reordering).
  *
  * Exact-parity note (SURVEY H7 discipline): idf uses the Robertson
  * formula ln(1 + (N − df + ½)/(df + ½)) and every product/quotient is
  * written with explicit association mirrored in the DuckDB oracle, so
  * results hash-match across engines.
  */
object Retrieval {

  /** BM25 scores for documents containing ≥1 query term.
    *
    * Output: (doc_id, dl, s_&lt;term&gt;... one column per query term,
    * score), ordered by score desc then doc_id.
    */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct,
      s"query terms must be non-empty and distinct: $terms")
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = graft.core.Parallelism.ensure(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), toks.as("toks"))
    val dl = base.select(col("doc_id"), size(col("toks")).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl").cast("long")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    scoreCore(tf, dl, totals, terms, k1, b)
  }

  /** The shared BM25 scoring core over already-aggregated inputs:
    * `tf` (doc_id, token, tf) pre-filtered to the query terms, `dl`
    * (doc_id, dl), `totals` a single-row (n_docs, sum_dl). Factored out so
    * [[bm25]] (tf from an inline tokenize pass) and
    * [[IncrementalBm25.scoreFromIndex]] (tf from the postings ledger)
    * produce hash-identical scores — every double op is the same
    * expression tree against the same oracle parenthesization.
    */
  private[text] def scoreCore(tf: DataFrame, dl: DataFrame, totals: DataFrame,
      terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // avgdl = sum_dl / n_docs; K = k1 * (1 - b + b * (dl / avgdl));
    // s = idf * ((tf * (k1+1)) / (tf + K)) — parenthesization mirrored
    // verbatim in the oracle SQL so each double op is identical.
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)))
    val kTerm = lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(totals))
      .withColumn("s", idf * ((col("tf").cast("double") * lit(k1 + 1.0))
        / (col("tf").cast("double") + kTerm)))
    // pivot on a RESERVED key (t<i>), not the raw term text: a term equal
    // to "doc_id"/"dl" would collide with the groupBy columns, and a term
    // containing a backtick would break the quoted col() lookup below
    val tkey = terms.zipWithIndex
      .map { case (t, i) => when(col("token") === lit(t), lit(s"t$i")) }
      .reduce(coalesce(_, _))
    val wide = scored.withColumn("tkey", tkey)
      .groupBy("doc_id", "dl")
      .pivot("tkey", terms.indices.map(i => s"t$i")).agg(sum("s"))
    val sCols = terms.zipWithIndex.map { case (t, i) =>
      coalesce(col(s"t$i"), lit(0.0)).as(s"s_$t") }
    val total = terms.indices.map(i => coalesce(col(s"t$i"), lit(0.0)))
      .reduceLeft(_ + _)
    wide.select((col("doc_id") +: col("dl") +: sCols :+ total.as("score")): _*)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Hybrid retrieval: fuse the lexical (BM25) and dense (embedding
    * cosine) top-`topK` lists with Reciprocal Rank Fusion,
    * rrf(d) = Σ_lists 1/(kRrf + rank_list(d)) — the standard
    * score-scale-free way to combine retrievers (Cormack et al. 2009).
    *
    * Scale shape: each retriever produces a BOUNDED top-K list (BM25 by
    * distributed TakeOrdered over its quantized score, dense by
    * [[graft.similarity.Ann.bruteForceTopK]] with the single query
    * broadcast), so the rank windows and the fusion join all run on
    * ≤ topK rows — fusion cost is independent of corpus size.
    *
    * Cross-engine parity: ranks come from quantized-score orderings with
    * id tiebreaks (deterministic on any engine — see the BM25 micro-unit
    * note above; cosine has no transcendentals and is bit-exact per the
    * q40 gate), and the RRF score is two correctly-rounded IEEE divisions
    * plus one sum — bit-identical everywhere.
    */
  def rrfFusion(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String], queryVecId: Long, topK: Int = 100,
      kRrf: Int = 60): DataFrame = {
    require(topK > 0 && kRrf > 0, s"topK/kRrf must be positive")
    val lex = bm25(docs, "text", "doc_id", terms)
      .select(col("doc_id"),
        floor(col("score") * lit(1e6)).cast("long").as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank_lex", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_u").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_lex")
    val dense = graft.similarity.Ann.bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") === queryVecId), topK)
      .select(col("nid").as("doc_id"), col("rn").cast("long").as("rank_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_dense"),
        (coalesce(lit(1.0) / (lit(kRrf) + col("rank_lex")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kRrf) + col("rank_dense")), lit(0.0)))
          .as("rrf"))
  }
}
