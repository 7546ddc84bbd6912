package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.obs.RunMetrics

/** Benchmark main: times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * A warmup pass runs each query once at sf0.001 first: it JIT-compiles the
  * generated (whole-stage-codegen) classes and warms Spark's task/scheduler
  * paths, so the timed numbers measure the queries, not JVM startup. The
  * codegen cache is keyed on generated source, which is identical across
  * scale factors, so warmup at the small sf warms exactly the timed plans.
  *
  * Each query runs THREE timed passes; the reported wall time is the MIN
  * (the standard steady-state estimator — any one-off machine stall
  * inflates only discarded samples; two samples once let a 4× outlier
  * through as a phantom regression). The passes are INTERLEAVED as three
  * full sweeps over the suite rather than back-to-back per query: a
  * multi-second machine-wide stall (another tenant, a major GC) lands in
  * one sweep's sample for a few queries and the min discards it, where
  * back-to-back passes all sat inside the stall window and reported a
  * 10× phantom (measured: q41 0.97 s → 11.5 s across two suite runs with
  * an identical plan). Alongside wall time the line carries per-query
  * EXECUTED-plan metrics (shuffle bytes written, task count) from a
  * [[RunMetrics]] record of the final sweep: wall time says "it got slower",
  * shuffle/tasks say whether the PLAN changed or the machine hiccuped —
  * identical plan metrics with a higher wall time is noise, not
  * regression.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // default is 30 min — a full 94-query × 3-sweep run accumulates
      // every sweep's shuffle files and broadcasts before the first
      // cleaner GC fires; keep reclamation continuous instead
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    // optional comma-separated subset (e.g. the scale-sensitive family
    // for an sf1 tier whose dir carries only the LLM-pipeline tables)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (n, _) => s(n) })

    val warmDir = "/root/testdata/sf0.001"
    selected.foreach { case (_, fn) =>
      try graft.core.Cuts.scoped(
        fn(spark, warmDir).write.format("noop").mode("overwrite").save())
      catch { case _: Throwable => () }
    }

    val ordered = selected.toSeq.sortBy(_._1)
    // materialize through the no-op v2 sink, NOT count(): count() lets
    // Catalyst prune every column the row count doesn't need — for a
    // query whose cost IS its projected columns (q97's span window +
    // text rebuild, wide aggregates generally) count() benches a shadow
    // of the plan (measured: q97 shuffle 1.9 KB under count() vs the
    // real multi-MB span exchange). The noop sink computes every output
    // column and discards rows executor-side.
    def once(fn: (SparkSession, String) => DataFrame): Double =
      // each sample owns the engine's compute-once cuts it makes, released
      // after the timer stops: every sample then pays its own
      // sketch/feature kernels — the honest single-run cost — and a
      // 23-query tier sweep cannot accumulate cross-query cache pressure
      // (measured: q90's warm runs DOUBLED under the eviction/GC churn of
      // upstream leftovers). Deliberately NOT spark.catalog.clearCache():
      // that would also drop the memoized synthetic-media fixtures and the
      // bench would measure ImageIO re-encoding, not the queries.
      graft.core.Cuts.scoped {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    // a failed query reports -1, never a plausible-looking wall time
    val walls = scala.collection.mutable.Map.empty[String, Double]
    val plan = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val failed0 = scala.collection.mutable.Set.empty[String]
    // A query that OOMs the (shared local-mode) JVM stops the
    // SparkContext, and every later attempt then fails with "stopped
    // SparkContext" — without this flag one late OOM used to poison the
    // ENTIRE artifact to -1, discarding every wall already measured.
    // Abort instead: blame the in-flight query, keep prior sweeps' mins,
    // and stamp the artifact aborted so a reader knows sweeps are partial.
    var aborted = false
    for (sweep <- 1 to 3; (name, fn) <- ordered if !aborted && !failed0(name)) {
      try {
        if (sweep == 3) {
          val (w, rec) = RunMetrics.measure(spark)(once(fn))
          walls(name) = math.min(walls.getOrElse(name, w), w)
          plan(name) = (rec.total(_.shuffleWriteBytes), rec.total(_.tasks))
        } else {
          val w = once(fn)
          walls(name) = math.min(walls.getOrElse(name, w), w)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        failed0 += name
        walls.remove(name)
        if (spark.sparkContext.isStopped) {
          System.err.println(
            s"[bench] SparkContext stopped during $name — aborting run")
          aborted = true
        }
      }
    }
    // ---- automated noise gate -------------------------------------------
    // The plan metrics exist to tell "plan changed" from "machine hiccup",
    // but nothing USED them until a 13× phantom (identical shuffle/tasks,
    // inflated wall — all three interleaved sweeps sat in the same
    // degraded regime) shipped in a committed artifact. Gate: any query
    // whose min wall exceeds 2× its trailing-artifact wall (by at least
    // 1 s — sub-second walls jitter multiplicatively) while the plan
    // metrics still match gets two extra end-of-run measurements, and if
    // THOSE still exceed the gate, a pristine subprocess JVM re-measures
    // it (the in-process probe shares whatever degraded regime the run
    // sat in: a 22 s phantom with 7.6 s fresh-JVM truth survived the
    // end-of-run probe because all five samples were in-regime). The min
    // over every sample is reported; re-measured queries are listed in
    // the artifact so a reader can spot-audit them.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_FULL.json")
    val refMetrics: Map[String, (Double, Long, Long)] = {
      val f = java.nio.file.Paths.get(refPath)
      if (!java.nio.file.Files.isReadable(f)) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        val re = ("\"([A-Za-z0-9_]+)\":\\{\"wall\":([-0-9.Ee]+)," +
          "\"shuffleBytes\":(-?[0-9]+),\"tasks\":(-?[0-9]+)\\}").r
        re.findAllMatchIn(txt).map(m =>
          m.group(1) -> ((m.group(2).toDouble, m.group(3).toLong,
            m.group(4).toLong))).toMap
      }
    }
    def planMatches(sb: Long, tk: Long, rsb: Long, rtk: Long): Boolean = {
      // shuffle bytes jitter ~1% run-to-run (compression framing); task
      // counts can move a little under AQE coalescing — well inside these
      // tolerances, while a real plan change moves them far outside
      def close(a: Long, b: Long, tol: Double) =
        math.abs(a - b) <= tol * math.max(1L, math.max(math.abs(a), math.abs(b)))
      close(sb, rsb, 0.02) && close(tk, rtk, 0.10)
    }
    // one-query run in a pristine JVM: same main, same data, same thread
    // count, child noise gate disabled (no recursive forks); returns the
    // child's measured wall for `name` or None on any failure/timeout
    def forkedWall(name: String): Option[Double] = {
      if (sys.env.contains("SPARK_GRAFT_NO_FORK")) return None
      try {
        val out = java.nio.file.Files.createTempFile("graft-bench-fork", ".json")
        val javaBin = new java.io.File(new java.io.File(
          sys.props("java.home"), "bin"), "java").getAbsolutePath
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.filter(a =>
            a.startsWith("-Xm") || a.startsWith("-XX") ||
              a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
              a.startsWith("--enable-native-access"))
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_QUERIES", name)
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
        pb.environment().put("SPARK_GRAFT_NO_FORK", "1")
        pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val p = pb.start()
        val finished = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        if (!finished) { p.destroyForcibly(); None }
        else if (p.exitValue() != 0) None
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
          ("\"" + java.util.regex.Pattern.quote(name) + "\":([-0-9.Ee]+)").r
            .findFirstMatchIn(txt).map(_.group(1).toDouble).filter(_ >= 0)
        }
      } catch { case _: Throwable => None }
    }
    def gated(name: String, rw: Double): Boolean =
      rw > 0 && walls(name) > 2 * rw && walls(name) - rw > 1.0
    val remeasured = scala.collection.mutable.ArrayBuffer.empty[String]
    val forked = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- ordered if !aborted && !failed0(name);
         (rw, rsb, rtk) <- refMetrics.get(name)) {
      val (sb, tk) = plan.getOrElse(name, (-1L, -1L))
      if (gated(name, rw) && planMatches(sb, tk, rsb, rtk)) {
        try {
          val w2 = math.min(once(fn), once(fn))
          walls(name) = math.min(walls(name), w2)
          remeasured += name
        } catch { case _: Throwable => () }
        if (gated(name, rw)) forkedWall(name).foreach { fw =>
          walls(name) = math.min(walls(name), fw)
          forked += name
        }
      }
    }

    val results = ordered.map { case (name, _) =>
      // walls absent = failed, or never reached after an abort → -1
      walls.get(name) match {
        case Some(w) if !failed0(name) =>
          val (sb, tk) = plan.getOrElse(name, (-1L, -1L))
          (name, w, sb, tk)
        case _ => (name, -1.0, -1L, -1L)
      }
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val metrics = results.map { case (k, w, sb, tk) =>
      "\"" + k + "\":{\"wall\":" + w + ",\"shuffleBytes\":" + sb +
        ",\"tasks\":" + tk + "}"
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val remeasuredJson = remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    val forkedJson = forked.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"metrics":$metrics,"failed":$failed,"aborted":$aborted,"sf":"$sfDir","warm_sf":"$warmDir","remeasured":$remeasuredJson,"forked":$forkedJson}"""
    // The full per-query line is ~11 KB; the driver tail-captures only the
    // LAST ~2000 chars of stdout, so printing it leaves the driver with an
    // unparseable fragment (every BENCH_r*.json through r13 carries
    // "parsed": null). Stdout gets a COMPACT line instead — qNN-prefix
    // keys (unique across the suite), 3-decimal walls, numeric sf — that
    // fits the tail buffer even after sbt's "[success]" trailer; the full
    // line (long names + plan metrics) still lands in the artifact file.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toString
    // qNN-prefix keys must be UNIQUE or two walls silently shadow each
    // other in the driver's parsed tail — enforced, with a fall-back to
    // full keys on collision (a collision costs tail bytes, never data)
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    val compactKey: String => String =
      if (prefixes.distinct.length == prefixes.length) _.takeWhile(_ != '_')
      else { System.err.println(
        "[bench] duplicate qNN prefixes — compact line uses full keys: " +
          prefixes.diff(prefixes.distinct).distinct.mkString(","))
        identity }
    val qsCompact = results.map { case (k, v, _, _) =>
      "\"" + compactKey(k) + "\":" + r3(v)
    }.mkString("{", ",", "}")
    // the top-10 shuffle writers, so a driver tail ALONE can spot a
    // shuffle regression without the artifact file (a plan change big
    // enough to matter moves one of these, and 10 entries fit the buffer)
    val shufTop = results.filter(_._3 >= 0).sortBy(-_._3).take(10)
      .map { case (k, _, sb, _) => "\"" + compactKey(k) + "\":" + sb }
      .mkString("{", ",", "}")
    val sfNum = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + sfDir + "\"")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsCompact,"shuffleTop":$shufTop,"failed":$failed,"aborted":$aborted,"sf":$sfNum}""")
    // stdout tail-capture can truncate the (long) per-query map — keep a
    // full parseable copy next to the build for anyone reading the numbers.
    // The path is overridable (first arg, or SPARK_GRAFT_BENCH_OUT): a
    // dev-loop SUBSET probe must not clobber the committed full-run
    // artifact, so subset runs default to BENCH_SUBSET.json.
    val outPath = args.headOption.orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse(if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
