package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  *
  * All pure column expressions (whole-stage codegen, no UDFs), each with an
  * exact DuckDB-SQL mirror so the oracle can hash-verify them:
  *   - `tokens`        ≡ `regexp_split_to_array(trim(x), '\s+')`
  *   - `punctCount`    ≡ `length(x) - length(regexp_replace(x, CLASS, '', 'g'))`
  *   - `stopwordHits`  ≡ `len(list_filter(tokens, t -> list_contains([...], t)))`
  *   - `fingerprint`   ≡ `md5(lower(regexp_replace(trim(x), '\s+', ' ', 'g')))`
  *
  * Scale: everything is a narrow per-row projection — no shuffle, fully
  * parallel, safe at any data size.
  */
object TextFunctions {

  /** Whitespace tokenization. Split semantics verified equal between Spark
    * `split(x, "\\s+")` and DuckDB `regexp_split_to_array`: empty string →
    * `['']`, leading whitespace → leading `''` element — hence the trim.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a cheap, deterministic proxy for tokenizer
    * budget accounting (same regex works in DuckDB `regexp_extract_all`).
    */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Punctuation occurrences (explicit class — portable across regex
    * dialects, unlike POSIX `[[:punct:]]`).
    */
  val punctClass = "[.,!?;:]"
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, punctClass, ""))

  /** Count of tokens (with duplicates) present in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(wordArr, t)))
  }

  /** Whitespace-normalized md5 document fingerprint (exact-dup key). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // --- PII detection / redaction --------------------------------------------

  /** Email/phone patterns chosen for dual-dialect safety: no backreferences
    * or lookaround, so Java regex (Spark) and RE2 (DuckDB) accept the same
    * language and produce identical matches on these shapes.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b[0-9]{3}-[0-9]{4}\\b"

  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Replace every email then every phone with typed placeholders. Order
    * matters only in that emails are scrubbed first, so a digit run inside
    * a local-part can't be half-eaten by the phone pass.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  // --- repetition signals (Gopher-style, adapted to token streams) ----------

  /** Token n-grams as space-joined strings; empty when the document has
    * fewer than n tokens. 1-based `element_at`, mirrored by DuckDB's
    * 1-based list indexing over `range(1, len - n + 2)`.
    */
  def tokenNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Fraction of token instances that are repeats of an earlier token:
    * (n − n_distinct) / n. Row-local (no shuffle); 0.0 for empty docs.
    */
  def dupTokenFrac(toks: Column): Column =
    when(size(toks) > 0,
      (size(toks) - size(array_distinct(toks))).cast("double")
        / size(toks).cast("double"))
      .otherwise(lit(0.0))

  /** Max multiplicity of any n-gram within the document — the per-doc
    * n-gram MODE count (Gopher's "top n-gram coverage" numerator),
    * computed ROW-LOCALLY: sort the doc's gram array, then the longest
    * equal-run is the mode's multiplicity. Equality grouping is all the
    * sort is for, so collation is irrelevant; the initial `prev = null`
    * makes the first comparison null → run restarts at 1 (and a genuine
    * "" gram still compares false to null, so it cannot inherit a
    * phantom run). 0 for docs with fewer than n tokens.
    *
    * Scale rationale (measured at the 100× tier, q77): the distributed
    * alternative — explode grams → partial-agg count on (doc, gram) →
    * max per doc → join back — shuffles the corpus' gram stream (443 MB
    * + 76 MB, 147 s executor, the query's dominant stages) to answer a
    * question that never leaves the row. The sort + run-scan costs
    * O(g log g) per doc in the same row-local stage that already pays
    * array_distinct for the dup fractions, and the shuffle disappears.
    */
  def topNgramCount(toks: Column, n: Int): Column = {
    val zero = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    aggregate(array_sort(tokenNgrams(toks, n)), zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Fraction of n-gram instances that are repeats — the Gopher
    * "duplicate n-gram" repetition signal on a token stream (the fixture
    * corpus has no line structure, so the line-based variants are vacuous
    * here). Row-local: array_distinct over the per-row gram array.
    */
  def dupNgramFrac(toks: Column, n: Int): Column = {
    val g = tokenNgrams(toks, n)
    when(size(g) > 0,
      (size(g) - size(array_distinct(g))).cast("double")
        / size(g).cast("double"))
      .otherwise(lit(0.0))
  }

  // --- language-ID heuristic ------------------------------------------------

  /** Tiny function-word lists (public knowledge). Accuracy is not the goal
    * here — a deterministic, engine-portable heuristic is.
    */
  val enStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val deStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf")
  val frStop: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour")

  /** Argmax over per-language function-word hits; ties resolve en > de > fr,
    * zero hits everywhere → "und". Mirrored exactly by a CASE chain in SQL.
    */
  def langGuess(toks: Column): Column = {
    val en = stopwordHits(toks, enStop)
    val de = stopwordHits(toks, deStop)
    val fr = stopwordHits(toks, frStop)
    when(en >= de && en >= fr && en > 0, "en")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Composite quality score in [0,1]: balanced token length, lexical
    * diversity, low punctuation density. Single deterministic double
    * expression (each division exact-mirrored in the oracle).
    */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    val nTok = size(t).cast("double")
    val diversity = size(array_distinct(t)).cast("double") / nTok
    val punctDensity = punctCount(text).cast("double") / length(text).cast("double")
    val lengthScore = least(nTok / lit(64.0), lit(1.0))
    (diversity + lengthScore + (lit(1.0) - least(punctDensity * 10.0, lit(1.0)))) / lit(3.0)
  }
}
