package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Data-quality expectations as data — the engine's reimplementation of the
  * reference's two validation layers (SURVEY A5-A7):
  *
  *  - dbt `not_null` schema tests ×9 (`dbt_project/models/schema.yml:7-37`,
  *    compiled to count-failing-rows SQL);
  *  - Great Expectations runtime checks (`tfl_transform_dag.py:50-61`):
  *    `ExpectColumnValuesToBeBetween(time_to_station_s, 0, 3600)` and
  *    `ExpectColumnValuesToNotBeNull(line_id)`, both warning severity. The
  *    reference checks a `limit 10000` sample only to bound its
  *    DuckDB→pandas transfer; here they count every row.
  *
  * Design: all expectations against one frame evaluate in a SINGLE
  * aggregation pass (one job, one scan) — each check is a conditional-count
  * expression, so N checks cost one parquet scan regardless of N. At 100 TB
  * that is the difference between one pass and N passes. [[observe]] goes
  * one step further: the same counts ride another action's pass (a layer's
  * write) through `Dataset.observe`, so they cost no pass of their own and
  * cover exactly the rows that action processed.
  *
  * GX parity note: `Between` checks only non-null values (GX semantics —
  * nulls are the `NotNull` check's business).
  */
object Expectations {

  sealed trait Severity
  case object Error extends Severity
  case object Warning extends Severity

  sealed trait Expectation {
    def name: String
    def severity: Severity
    /** 1 when the row fails the expectation, else 0. */
    def failureFlag: Column
  }

  /** Reference dbt `not_null` / GX `ExpectColumnValuesToNotBeNull`. */
  final case class NotNull(column: String, severity: Severity = Error)
      extends Expectation {
    val name = s"not_null_$column"
    def failureFlag: Column = when(col(column).isNull, 1L).otherwise(0L)
  }

  /** Reference GX `ExpectColumnValuesToBeBetween` (null-tolerant). */
  final case class Between(column: String, lo: Double, hi: Double,
      severity: Severity = Warning) extends Expectation {
    val name = s"between_${column}_${lo}_$hi"
    def failureFlag: Column =
      when(col(column).isNotNull && (col(column) < lo || col(column) > hi), 1L)
        .otherwise(0L)
  }

  final case class Result(name: String, failures: Long, passed: Boolean,
      severity: Severity)

  /** One-pass evaluation → tidy frame (check_name, failures, passed),
    * ordered by check name for deterministic output.
    */
  def check(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    val aggs = failureCounts(expectations)
    val oneRow = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single row of counts into (check_name, failures) rows
    val stackExpr = expectations
      .map(e => s"'${e.name}', `${e.name}`").mkString(", ")
    oneRow
      .selectExpr(s"stack(${expectations.size}, $stackExpr) as (check_name, failures)")
      .withColumn("failures", coalesce(col("failures"), lit(0L)))
      .withColumn("passed", col("failures") === 0L)
      .orderBy("check_name")
  }

  /** Driver-side evaluation for jobs that gate on severity (TransformJob):
    * one aggregation, collected as one row.
    */
  def run(df: DataFrame, expectations: Seq[Expectation]): Seq[Result] = {
    val aggs = failureCounts(expectations)
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    results(expectations, row.getValuesMap[Any](expectations.map(_.name)))
  }

  /** `df` with `expectations` attached as observed metrics, and a lookup
    * of any of their results over the rows an action on that frame
    * processes, in the action's own pass. The lookup blocks until such an
    * action finished.
    */
  def observe(df: DataFrame, expectations: Seq[Expectation]):
      (DataFrame, Seq[Expectation] => Seq[Result]) = {
    val observation = Observation()
    val aggs = failureCounts(expectations)
    (df.observe(observation, aggs.head, aggs.tail: _*),
      wanted => results(wanted, observation.get))
  }

  /** One count per distinct check name: two checks of one name (a dbt and
    * a GX `not_null` on one column) count the same rows. */
  private def failureCounts(expectations: Seq[Expectation]): Seq[Column] =
    expectations.distinctBy(_.name).map(e => sum(e.failureFlag).as(e.name))

  /** Results ordered by check name, from the failure counts by name (a
    * null count — no rows — is zero failures).
    */
  private def results(expectations: Seq[Expectation],
      failures: Map[String, Any]): Seq[Result] =
    expectations.map { e =>
      val n = Option(failures(e.name)).fold(0L)(_.asInstanceOf[Long])
      Result(e.name, n, n == 0L, e.severity)
    }.sortBy(_.name)
}
