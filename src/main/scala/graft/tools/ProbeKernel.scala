package graft.tools

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Dev microbench — per-doc cost of the sketch kernels in a plain loop
  * (no Spark), to attribute fold-query CPU between hashing, string
  * churn, and the minhash update loop (not engine API).
  */
object ProbeKernel {
  def main(args: Array[String]): Unit = {
    val nDocs = 2000
    val tokensPerDoc = args.headOption.map(_.toInt).getOrElse(120)
    val rnd = new java.util.Random(7)
    val vocab = Array.fill(5000)(
      (0 until (4 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString)
    val docs = Array.fill(nDocs) {
      new GenericArrayData(Array.fill[Any](tokensPerDoc)(
        UTF8String.fromString(vocab(rnd.nextInt(vocab.length)))))
    }
    val exprPort = graft.functions.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal(null), shingleN = 3,
      portable = true)
    val exprFast = graft.functions.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal(null), shingleN = 3)
    val ss = graft.functions.ShingleSet(
      org.apache.spark.sql.catalyst.expressions.Literal(null), portable = true)
    def bench(tag: String, f: Any => Any): Unit = {
      var i = 0; var sink = 0L
      // warmup
      while (i < 3) { docs.foreach(d => sink += f(d).hashCode()); i += 1 }
      val t0 = System.nanoTime()
      var reps = 0
      while (reps < 5) { docs.foreach(d => sink += f(d).hashCode()); reps += 1 }
      val perDoc = (System.nanoTime() - t0) / 1e3 / (nDocs * reps)
      println(f"[kernel] $tag%-22s ${perDoc}%8.1f us/doc  (sink=${sink % 10})")
    }
    bench("minhash md5-portable", exprPort.nullSafeEval)
    bench("minhash xxh64", exprFast.nullSafeEval)
    bench("shingle_set md5", ss.nullSafeEval)

    // --- full-corpus single-expression passes under Spark ------------------
    if (args.contains("spark")) {
      import org.apache.spark.sql.functions._
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[32]").config("spark.sql.shuffle.partitions", 32)
        .config("spark.ui.enabled", "false").getOrCreate()
      graft.core.GraftSession.tune(spark)
      spark.sparkContext.setLogLevel("ERROR")
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val docsDf = graft.core.Tables.documents(spark, dir)
        .select("doc_id", "text").repartition(32).localCheckpoint()
      import graft.text.TextFunctions
      def benchQ(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
        df.write.format("noop").mode("overwrite").save() // warm
        val (_, r) = graft.obs.RunMetrics.measure(spark)(
          df.write.format("noop").mode("overwrite").save())
        println(f"[pass] $tag%-24s wall=${r.wallS}%6.2f " +
          f"exec=${r.total(_.runMs) / 1e3}%6.1f cpu=${r.total(_.cpuNs) / 1e9}%6.1f")
      }
      val toks = TextFunctions.tokens(col("text"))
      benchQ("id only", docsDf.select("doc_id"))
      benchQ("tokens", docsDf.select(col("doc_id"), toks.as("t")))
      benchQ("quality", docsDf.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q")))
      benchQ("fingerprint", docsDf.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp")))
      benchQ("minhash md5", docsDf.select(col("doc_id"),
        graft.functions.Sketches.minhashTokensPortable(toks).as("sig")))
      benchQ("sig+set md5", docsDf.select(col("doc_id"),
        graft.functions.Sketches.minhashSigSetPortable(toks).as("ms")))
      spark.stop()
    }
  }
}
