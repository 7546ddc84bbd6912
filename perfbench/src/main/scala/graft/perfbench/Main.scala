package graft.perfbench

import java.io.File

import scala.util.control.NonFatal

import graft.core.GraftSession

/** One benchmark run of one workload in one JVM (`local[4]`), as a closed
  * loop with a single client: the next op starts only after the previous
  * one returned. Writes the raw measurements to `--out` as JSON; the
  * metrics are computed from them by `perfbench/run.py`.
  *
  * {{{
  * Main --workload lakehouse_transform --seed 1 --seconds 20 --trace 0 \
  *      --work <dir> --out <file>
  * }}}
  *
  * Set-up is timed as the session start, plus the median of
  * [[SetupRepeats]] input generations (each into its own directory), plus
  * opening one copy (which may compute reference outputs), plus the
  * workload's untimed warm-up ops. In a traced run the
  * listener is attached on every other op only, so the same run
  * also gives the untraced latency the tracing overhead is measured
  * against.
  */
object Main {

  val SetupRepeats = 3
  val Cores = 4

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = opt("workload")
    require(Workloads.Names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    Fs.deleteTree(work)
    work.mkdirs()

    val (spark, sessionS) = seconds {
      val s = GraftSession.local(Cores, s"perfbench-$name")
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val tracer = new Tracer(spark)
    val wl = Workloads(name, spark, tracer, seed)
    val genS = (0 until SetupRepeats).map(r => seconds(wl.generate(s"$work/setup$r"))._2)
    (1 until SetupRepeats).foreach(r => Fs.deleteTree(new File(s"$work/setup$r")))
    val openS = seconds(wl.open(s"$work/setup0"))._2
    val warmS = (0 until wl.warmupOps).map(i => seconds(wl.op(i))._2)
    // RDDs set-up left persisted (the reference's checkpoints, the warm-up
    // stream's) are not counted against the timed ops
    val setupRdds = spark.sparkContext.getPersistentRDDs.keySet

    // Ops run back to back while the next one, if it takes as long as the
    // last, still ends inside the budget, and at least the workload's
    // minimum. In a traced run, ops that compact are traced and the others
    // alternate, starting traced; the run goes on until it has one of each
    // of the others, and one op that compacts if the workload has any.
    val ops = Vector.newBuilder[Json.Obj]
    var i = wl.warmupOps
    var elapsed, last = 0.0
    var plain = 0
    var compacted = false
    def more = i < wl.warmupOps + wl.minOps || elapsed + last <= budget ||
      (trace && (plain < 2 || !compacted && (i until wl.maxOps).exists(wl.isCompaction)))
    while (i < wl.maxOps && more) {
      val compaction = wl.isCompaction(i)
      val traced = trace && (compaction || plain % 2 == 0)
      if (traced) tracer.attach(i)
      val t0 = System.nanoTime()
      val result = try Right(wl.op(i)) catch { case NonFatal(e) => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.detach()
      elapsed += s
      last = s
      if (compaction) compacted = true else plain += 1
      result.left.foreach { e =>
        System.err.println(s"[perfbench] op $i failed: $e")
        e.printStackTrace()
      }
      val r = result.getOrElse(OpResult(0L))
      ops += Json.Obj("i" -> i, "s" -> s, "ok" -> result.isRight, "traced" -> traced,
        "rows" -> r.rows, "compaction" -> compaction,
        "cached_blocks" -> (spark.sparkContext.getPersistentRDDs.keySet -- setupRdds).size,
        "checkpoint_files" -> wl.checkpointDirs.map(d => Fs.files(new File(d)).size).sum,
        "counters" -> Json.Obj(r.counters.toSeq: _*))
      i += 1
    }
    val rssMb = peakRssMb()
    val (mismatches, gateS) = seconds {
      try wl.gate()
      catch { case NonFatal(e) => e.printStackTrace(); Seq(s"gate failed: $e") }
    }

    val out = Json.Obj(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "work" -> s"$work/setup0",
      "session_s" -> sessionS, "generate_s" -> genS, "open_s" -> openS,
      "warmup_s" -> warmS, "gate_s" -> gateS,
      "setup_s" -> (sessionS + median(genS) + openS + warmS.sum),
      "ops" -> Json.Arr(ops.result()),
      "peak_rss_mb" -> rssMb,
      "mismatches" -> mismatches,
      "trace_records" -> (if (trace) tracer.json else Json.Obj()))
    java.nio.file.Files.write(new File(opt("out")).toPath, out.render.getBytes("UTF-8"))
    spark.stop()
  }
}
