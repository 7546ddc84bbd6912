package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar/aggregate function surface of the engine — thin, codegen-friendly
  * compositions of built-in Catalyst expressions, so every DuckDB-parity
  * decision lives in one reviewed place (SURVEY §2.8, hazards H1/H2/H7).
  *
  * Everything here stays inside whole-stage codegen: no Scala UDFs, no
  * driver-side loops.
  */
object GraftFunctions {

  // --------------------------------------------------------------------------
  // Discrete quantile (SURVEY H1; reference: fct_headways.sql:21-22)
  // --------------------------------------------------------------------------

  /** DuckDB `quantile`/`quantile_disc(x, q)`: the element at 1-indexed
    * position `ceil(q * n)` of the group sorted ascending — an actual input
    * element, never interpolated. Verified empirically against DuckDB 1.0.0
    * on 11 edge cases (n ∈ {1,2,3,4,5,6,7,10}, q ∈ {0.2,0.25,0.4,0.5,0.9}),
    * including fp-rounding traps like q=0.2, n=5 where `0.2*5 == 1.0`
    * exactly in IEEE double (both engines do the same double multiply).
    *
    * Exact by construction (sort-based), so it hash-matches the oracle.
    * Scale note: materializes the group as an array, so it is intended for
    * bounded groups (headways per line/stop/hour; quantiles per category).
    * For unbounded groups at 100 TB use [[quantileApprox]] instead —
    * `percentile_approx` also returns actual elements, with a bounded-memory
    * sketch, but is not guaranteed to pick the identical element.
    */
  def quantileDisc(x: Column, q: Double): Column = {
    val sorted = array_sort(collect_list(x))
    val n = size(sorted).cast("double")
    val idx = greatest(lit(1L), ceil(n * lit(q))).cast("int")
    element_at(sorted, idx)
  }

  /** Sketch-based discrete quantile for unbounded groups at scale. */
  def quantileApprox(x: Column, q: Double): Column =
    percentile_approx(x, lit(q), lit(10000))

  /** Distributed EXACT discrete quantiles over an unbounded column — the
    * same element-at-`ceil(q·n)` semantics as [[quantileDisc]] (bit-for-bit,
    * including the IEEE-double `q·n` product), but no single aggregation
    * buffer ever materializes the column. Returns a one-row frame
    * `cuts: array<double>` ordered by `qs`, ready to `broadcast` +
    * `crossJoin` for map-side binning.
    *
    * Selection by rank lookup over a distributed value histogram:
    *
    *  1. counts per DISTINCT value (one shuffle, map-side partial agg —
    *     aggregate state is one row per distinct value, spread across
    *     tasks);
    *  2. values map to `nBuckets` coarse buckets by a DETERMINISTIC affine
    *     transform of the broadcast (min, max) — deterministic, unlike
    *     `repartitionByRange`, whose sampled boundaries could disagree
    *     between two executions of the same exchange;
    *  3. per-bucket totals (≤ nBuckets rows) get a cumulative offset via a
    *     window over that TINY frame; within-bucket cumulative counts use a
    *     window partitioned by bucket, so per-task window state is bounded
    *     by the distinct values of one bucket — corpus/nBuckets in
    *     expectation, never the corpus;
    *  4. each distinct value now owns the global rank interval
    *     `(cum_end - cnt, cum_end]`; the value at rank r is the one whose
    *     interval contains r — a broadcast join of the |qs| target ranks
    *     against the histogram, evaluated map-side.
    *
    * The only `collect_list` is over the ≤ |qs| matched rows. Ties need no
    * care: duplicates of a value are contiguous in sort order, so the rank
    * interval IS the tie run.
    *
    * `knownRange`: when the caller can bound the column a priori (a score
    * in [0, 1], a ratio, a percentage), passing the bound skips the min/max
    * pre-pass — one less subtree to execute. Values outside a supplied
    * range are clamped into the edge buckets, so a slack bound costs
    * balance, never correctness.
    *
    * Measured shape (executed input metrics, sf0.1): the executed plan reads the source
    * exactly ONCE for the whole cuts computation — AQE stage reuse dedupes
    * the histogram subtree the static explain shows repeated — and total
    * shuffle volume is the per-value histogram (~50 KB at sf0.1), never
    * the corpus. Memory per task is one bucket's distinct values.
    *
    * NaN: sorts LAST, exactly as `array_sort` places it in [[quantileDisc]]
    * (and as DuckDB orders it) — NaN rows are routed to the top coarse
    * bucket, where the within-bucket `ORDER BY v` window already puts NaN
    * after every finite value, and the (min, max) pre-pass ignores NaN so
    * one bad row cannot poison the affine bucket map. Without the explicit
    * route, `floor(NaN).cast("int")` is 0 and NaN would silently land at
    * the BOTTOM of the order, diverging from [[quantileDisc]].
    */
  def quantileDiscCuts(df: org.apache.spark.sql.DataFrame, valueCol: String,
      qs: Seq[Double], nBuckets: Int = 4096,
      knownRange: Option[(Double, Double)] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1], got: ${qs.mkString(", ")}")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    knownRange.foreach { case (lo, hi) =>
      require(lo <= hi, s"knownRange is inverted: ($lo, $hi) — an inverted " +
        "range would reverse bucket order and silently corrupt the quantiles")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val vc = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val withRange = knownRange match {
      case Some((lo, hi)) =>
        vc.withColumn("lo", lit(lo)).withColumn("hi", lit(hi))
      case None =>
        // min/max over finite values only: Spark's max treats NaN as the
        // largest double, so a single NaN row would otherwise make hi=NaN
        // and collapse the whole histogram into one bucket
        vc.crossJoin(broadcast(vc.filter(!isnan(col("v")))
          .agg(min("v").as("lo"), max("v").as("hi"))))
    }
    val bucketed = withRange
      .withColumn("b",
        when(isnan(col("v")), lit(nBuckets - 1))
          .when(col("hi") === col("lo") || col("hi").isNull, lit(0))
          .otherwise(greatest(lit(0), least(lit(nBuckets - 1),
            floor((col("v") - col("lo")) / (col("hi") - col("lo"))
              * nBuckets).cast("int")))))
      .select("v", "cnt", "b")
    val btot = bucketed.groupBy("b").agg(sum("cnt").as("bcnt"))
    // ≤ nBuckets rows: the unpartitioned window is over a tiny frame
    val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val boff = btot
      .withColumn("boff", coalesce(sum("bcnt").over(wb), lit(0L)))
      .select("b", "boff")
    val wv = Window.partitionBy("b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bucketed.join(broadcast(boff), "b")
      .withColumn("cum_end", col("boff") + sum("cnt").over(wv))
    val targets = btot.agg(sum("bcnt").as("n"))
      .crossJoin(qs.zipWithIndex.toDF("q", "qi"))
      .select(col("qi"),
        greatest(lit(1L), ceil(col("n").cast("double") * col("q")).cast("long"))
          .as("r"))
    cum.join(broadcast(targets),
        col("r") > col("cum_end") - col("cnt") && col("r") <= col("cum_end"))
      .agg(transform(array_sort(collect_list(struct(col("qi"), col("v")))),
        e => e.getField("v")).as("cuts"))
  }

  // --------------------------------------------------------------------------
  // Timestamp arithmetic (SURVEY H2; reference: fct_headways.sql:13-14)
  // --------------------------------------------------------------------------

  /** Exact microsecond difference `a - b` as a long. The parity-safe
    * building block for headways: integer arithmetic has no summation-order
    * sensitivity, unlike DuckDB's fractional `extract(epoch from interval)`
    * (a double). Oracle-side equivalent: `epoch_us(a - b)`.
    */
  def epochDiffUs(a: Column, b: Column): Column =
    epochUs(a) - epochUs(b)

  /** Epoch micros of a timestamp of either flavor. `unix_micros` declares
    * `TimestampType` input, so an NTZ column goes through a session-TZ cast
    * first — explicit here (a no-op instant-wise under the UTC-pinned
    * session) rather than relying on implicit coercion.
    */
  def epochUs(ts: Column): Column = unix_micros(ts.cast("timestamp"))

  /** Hour bucket (reference F1: `date_trunc('hour', ts)`). Spark's
    * `date_trunc` coerces NTZ input → LTZ output; cast back to NTZ so the
    * bucket column carries the oracle-matching naive-timestamp annotation.
    */
  def hourBucket(ts: Column): Column =
    date_trunc("hour", ts).cast("timestamp_ntz")

  // --------------------------------------------------------------------------
  // Deterministic aggregates over doubles (SURVEY H7)
  // --------------------------------------------------------------------------

  /** Order-independent sum of a double money-ish column: round through an
    * exact decimal. `cast(double as decimal(p, s>=1))` is deterministic
    * across engines — decimal ties (k·10^-s + 5·10^-(s+1)) are non-dyadic
    * for s ≥ 1, so no double ever lands exactly on a rounding tie and the
    * engines' tie-break rules never fire. The decimal sum itself is exact
    * integer arithmetic, hence partition-order-independent; the final cast
    * back to double is a single deterministic conversion.
    * Oracle-side equivalent: `cast(sum(cast(x as decimal(18,6))) as double)`.
    */
  def sumExact(x: Column): Column =
    sum(x.cast("decimal(18,6)")).cast("double")

  /** Order-independent mean via exact decimal sum / count. Oracle:
    * `cast(sum(cast(x as decimal(18,6))) as double) / count(x)`.
    */
  def avgExact(x: Column): Column =
    sum(x.cast("decimal(18,6)")).cast("double") / count(x)
}
