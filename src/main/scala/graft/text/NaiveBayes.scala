package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier, trained in-pass — the
  * TRAINED-filter rung of the quality ladder (heuristic ratios q20-q23 →
  * corpus-adaptive unigram perplexity q96 → a labeled-data classifier
  * here; fastText-style classifiers over CCNet buckets are exactly this
  * shape in production curation pipelines: linear scoring over token
  * counts, argmax over a handful of classes).
  *
  * Model: add-one-smoothed multinomial NB over whitespace tokens.
  * log P(c | d) ∝ ln(n_c / n) + Σ_t ln((cnt(t,c) + 1) / (T_c + V)),
  * with V = the TRAINING vocabulary size and unseen/OOV tokens scoring
  * the count-0 likelihood 1 / (T_c + V) — the textbook form, so the
  * whole model is two aggregations over the training split.
  *
  * Cross-engine parity ([[LanguageModel]]'s q96 discipline): every ln()
  * is quantized to integer micro-units (floor(ln·1e6)) at the TERM
  * level — priors, token likelihoods, and the unseen default — so
  * per-document scores are order-independent LONG sums and the argmax
  * (score DESC, label ASC on ties) replays exactly in any engine.
  *
  * Scale shape: the model is |V|·|C| + |C| rows built with ONE shuffle
  * over the training split (map-side combine on (label, token)); scoring
  * explodes tokens once, joins the token-keyed model (AQE broadcasts it
  * when small), and rolls up per (doc, class) with partial aggregation —
  * |C| is a handful, so the grid is a small constant factor on the token
  * stream. The doc×class prior grid keeps token-less documents total
  * (they score priors alone). Nothing is corpus²; no driver state.
  *
  * Returns one row per scored doc: (idCol, predicted, score_u) —
  * `predicted` the argmax class, `score_u` its integer-micro log-joint.
  */
object NaiveBayes {

  def trainScore(train: DataFrame, score: DataFrame, textCol: String,
      idCol: String, labelCol: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))

    // ── model: priors + per-(label, token) likelihoods, all micro-ints ──
    val trOcc = graft.core.Parallelism.ensure(
        train.select(col(labelCol).as("label"), col(textCol)))
      .select(col("label"), explode(toks).as("token"))
    // compute-once persist: the (label, token) count table — the model
    // itself, |V|·|C| rows — feeds the class-table collect AND the
    // pivoted scoring join; un-persisted it would re-run the training
    // tokenize+shuffle once per action
    val counts = graft.core.Cuts.persist(
      trOcc.groupBy("label", "token").agg(count(lit(1)).as("cnt")))
    val classTotals = counts.groupBy("label").agg(sum("cnt").as("t_occ"))
    val vocabRow = counts.select("token").distinct()
      .agg(count(lit(1)).as("v_vocab"))
    val priorRows = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"))
    val nRow = priorRows.agg(sum("n_c").as("n_train"))
    // classes table: (label, prior_u, unseen_u) — |C| rows, broadcast
    val classes = priorRows.crossJoin(broadcast(nRow))
      .join(classTotals, Seq("label"))
      .crossJoin(broadcast(vocabRow))
      .select(col("label"),
        floor(log(col("n_c").cast("double") / col("n_train").cast("double"))
          * lit(1e6)).cast("long").as("prior_u"),
        floor(log(lit(1.0) /
            (col("t_occ").cast("double") + col("v_vocab").cast("double")))
          * lit(1e6)).cast("long").as("unseen_u"))
    val tokU = counts.join(classTotals, Seq("label"))
      .crossJoin(broadcast(vocabRow))
      .select(col("label"), col("token"),
        floor(log((col("cnt").cast("double") + lit(1.0)) /
            (col("t_occ").cast("double") + col("v_vocab").cast("double")))
          * lit(1e6)).cast("long").as("tok_u"))

    // ── scoring: ONE token-keyed model join, per-class sums as columns ──
    // The first cut crossJoined the token stream × |C| classes and
    // aggregated 5× the rows by (doc, label) — at the 100× tier the ×|C|
    // inflation of the token stream BEFORE the partial agg was the
    // query's dominant stage (25.4 s of the scale family's sf10 run).
    // Pivot the model token-wide instead: the token stream joins the
    // token-keyed model exactly once, per-class likelihood sums ride one
    // groupBy(doc) as |C| aggregate columns, and the argmax is a
    // row-local array_min over (−score, label) structs — identical
    // integer math, identical tie rule (score DESC, label ASC), 1/|C|
    // the aggregated rows. The |C|-row class table is collected to drive
    // the pivot and the literals — bounded by the label DOMAIN (a
    // handful), the same budget class as the centroid draws.
    val classRows = classes.select("label", "prior_u", "unseen_u")
      .orderBy("label").collect()
    if (classRows.isEmpty) {
      // degenerate empty training split: no classes — every doc scores
      // null predicted/score (the old crossJoin path's natural output)
      return score.select(col(idCol),
        lit(null).cast("string").as("predicted"),
        lit(null).cast("long").as("score_u"))
    }
    val labels = classRows.map(_.getString(0))
    val priors = classRows.map(_.getLong(1))
    val unseen = classRows.map(_.getLong(2))
    val tokWide = tokU.groupBy("token")
      .pivot("label", labels.toIndexedSeq).agg(first(col("tok_u")))
      .toDF("token" +: labels.indices.map(i => s"c$i"): _*)
    val sOcc = graft.core.Parallelism.ensure(
        score.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(toks).as("token"))
    val perDoc = sOcc
      .join(tokWide, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(labels.indices.map(i =>
        sum(coalesce(col(s"c$i"), lit(unseen(i)))).as(s"ts$i")).head,
        labels.indices.map(i =>
          sum(coalesce(col(s"c$i"), lit(unseen(i)))).as(s"ts$i")).tail: _*)
    // one row per scored doc even when it has no token rows (empty text
    // scores priors alone — ts_i null → 0)
    val cands = array(labels.indices.map { i =>
      val s = lit(priors(i)) + coalesce(col(s"ts$i"), lit(0L))
      struct((-s).as("neg"), lit(labels(i)).as("label"), s.as("score_u"))
    }: _*)
    score.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), array_min(cands).as("w"))
      .select(col(idCol), col("w.label").as("predicted"),
        col("w.score_u").as("score_u"))
  }
}
