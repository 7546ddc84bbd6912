package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.quality.Expectations
import graft.quality.Expectations._

/** The reference's quality surface: dbt not_null semantics, GX
  * null-tolerant bounds, 10k sampling, severity routing (SURVEY A5-A7).
  */
class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(
    (Some(1), Some(10.0)), (Some(2), None), (None, Some(-5.0)),
    (Some(4), Some(3601.0)), (Some(5), Some(1800.0)))
    .toDF("id", "v")

  test("NotNull counts null rows") {
    val r = Expectations.run(df, Seq(NotNull("id"), NotNull("v")))
    assert(r.find(_.name == "not_null_id").get.failures == 1)
    assert(r.find(_.name == "not_null_v").get.failures == 1)
    assert(!r.find(_.name == "not_null_id").get.passed)
  }

  test("Between is null-tolerant (GX semantics): nulls don't fail bounds") {
    val r = Expectations.run(df, Seq(Between("v", 0, 3600)))
    // -5 and 3601 fail; the NULL does not
    assert(r.head.failures == 2)
  }

  test("all checks evaluate in one pass and pass on clean data") {
    val clean = Seq((1, 100.0), (2, 200.0)).toDF("id", "v")
    val r = Expectations.run(clean,
      Seq(NotNull("id"), NotNull("v"), Between("v", 0, 3600)))
    assert(r.forall(_.passed))
    assert(r.map(_.name) == r.map(_.name).sorted)
  }

  test("sampling caps the checked rows (reference limit 10000)") {
    val big = (1 to 100).map(i => (i, i.toDouble)).toDF("id", "v")
    val r = Expectations.run(big, Seq(Between("v", 0, 50)), sample = Some(10))
    // only the first 10 rows are inspected — none exceed 50
    assert(r.head.failures == 0)
  }

  test("severity is carried through for warn-vs-error routing") {
    val r = Expectations.run(df, Seq(
      NotNull("id", Warning), Between("v", 0, 3600, Warning)))
    assert(r.forall(_.severity == Warning))
  }

  test("observe counts the rows an action writes, as run does (no rows: zero failures)") {
    val checks = Seq(NotNull("id"), NotNull("v"), Between("v", 0, 3600))
    Seq(df, df.filter($"id" > 100)).foreach { frame =>
      val (observed, results) = Expectations.observe(frame, checks)
      observed.write.format("noop").mode("overwrite").save()
      assert(results() == Expectations.run(frame, checks))
    }
    val (none, results) = Expectations.observe(df.filter($"id" > 100), checks)
    none.write.format("noop").mode("overwrite").save()
    assert(results().forall(r => r.failures == 0 && r.passed))
  }
}
