package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic test tables
  * (`/root/testdata/sf&#42;/{name}.parquet`, schemas in FIXTURES.md §5).
  *
  * All engine queries load inputs through here so per-table quirks are
  * handled once:
  *
  *  - `events.ts` is ns-precision parquet (FIXTURES.md §5). Spark reads it
  *    as long-nanos (with `nanosAsLong`, see [[GraftSession.tune]]) and we
  *    truncate to micros with integer division — `ts div 1000` — matching
  *    DuckDB's native ns→µs read. Plain `/` would go through Double and
  *    lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53.
  *
  * Scale note: loaders return the bare scan; column pruning and predicate
  * pushdown into the parquet reader are Catalyst's job and verified in
  * PlanSpec. Nothing here forces a materialization.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    name match {
      case "events" =>
        // ts arrives as LongType (nanos) under nanosAsLong; keep every other
        // column untouched. The final cast to TIMESTAMP_NTZ matches the
        // oracle: DuckDB reads the same parquet as naive TIMESTAMP, so any
        // derived timestamp column the engine emits must carry the NTZ
        // parquet annotation, not UTC-adjusted LTZ. Under the UTC-pinned
        // session the instant is unchanged — only the type annotation.
        if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
        else df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case _ => df
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Cheap content fingerprint of a parquet path (path + per-file sizes +
    * mtimes), usable in an identifier. Lets derived artifacts (e.g. a
    * persisted ANN index) key themselves to the data they were built from:
    * a regenerated fixture changes the fingerprint and forces a rebuild.
    * One driver-side directory listing — no data read.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest((path +: parts).mkString("|").getBytes("UTF-8"))
    h.take(8).map(b => f"$b%02x").mkString
  }
}
