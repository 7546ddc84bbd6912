package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DedupStream, NearDupStream}

/** Long-horizon stream-cost-flatness proof — the claim [[LedgerCompaction]]
  * exists to make: with cadence compaction, a stream's per-wave wall and
  * ledger-read task counts do NOT trend upward with stream age. The
  * committed evidence behind BENCH_STREAM_LONG.json:
  * `runMain graft.tools.BenchStreamLong [sfDir] [outJson] [waves]`.
  *
  * Protocol: `waves` (default 50) waves of `documents`, each a fresh
  * AvailableNow cycle over one checkpoint (kill-and-restart per wave),
  * through BOTH streaming dedup paths with their built-in
  * `compactEvery = 8` cadence. The first 10 waves partition the corpus
  * (ledger grows to full size); every later wave replays an earlier
  * slice under fresh doc ids, so its docs are exact/near dups of
  * admitted history and the ledger is CONSTANT — isolating stream-AGE
  * cost from data-growth cost (which legitimately flips join regimes
  * as the ledger crosses the broadcast threshold):
  *
  *  - [[DedupStream]] (exact, fingerprint ledger);
  *  - [[NearDupStream]] (MinHash/LSH admission, band + sset ledgers);
  *  - [[NearDupStream.approxWriter]] (estimator admission, band + 256 B
  *    signature ledgers — the mode whose state is row-count-sized).
  *
  * Per wave it records the wall and the number of Spark tasks the cycle
  * ran (its [[graft.obs.RunMetrics]] record — dominated by the
  * ledger-side scans, the thing that grows without compaction). Without compaction both series
  * trend up: every wave re-lists and re-reads one more `batch=` dir per
  * ledger. With the cadence, cost is a bounded sawtooth: dirs accumulate
  * for 8 waves, then a compaction absorbs them into the bucketed table.
  *
  * The tool REQUIRES flatness before writing the artifact:
  *  - per-cycle task sums must not grow across cadence cycles (first
  *    fully-saturated cycle vs last, +15% tolerance — individual waves
  *    jitter a few stages on AQE/broadcast decisions);
  *  - mean wave wall over the last two cadence cycles must be under
  *    1.5× the mean over the first two saturated ones.
  */
object BenchStreamLong {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
    val outPath = if (args.length > 1) args(1) else "BENCH_STREAM_LONG.json"
    val nWaves = if (args.length > 2) args(2).toInt else 50
    val cadence = 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-bench-stream-long").toString

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    val slices = 10 // ledger saturates after this many waves

    def runSection(name: String, in: String, ckpt: String,
        writer: (org.apache.spark.sql.DataFrame, Long) => Unit)
        : (Seq[Double], Seq[Long]) = {
      def cycle(tag: String): Unit = {
        // ONE flat input dir (single root path, no glob) + cleanSource:
        // a per-wave-dir glob crosses parallelPartitionDiscovery.threshold
        // at 32 dirs, after which EVERY query start runs distributed
        // listing jobs with one task per accumulated dir — measured as a
        // +1 task/wave upward trend from wave 32 that is INPUT-retention
        // cost (standard file-source ops: cleanSource/maxFileAge), not
        // the ledger stream-age cost this tool gates on. cleanSource
        // deletes processed files, so the input dir stays bounded the way
        // a production ingest dir would.
        val q = spark.readStream.schema("doc_id long, text string")
          .option("cleanSource", "delete")
          .parquet(in)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(writer)
          .start()
        require(q.awaitTermination(600000), s"$name $tag: did not terminate")
        require(q.exception.isEmpty, s"$name $tag failed: ${q.exception}")
      }
      val walls = Array.ofDim[Double](nWaves)
      val tasks = Array.ofDim[Long](nWaves)
      (0 until nWaves).foreach { b =>
        // waves 0..slices-1 partition the corpus (the ledger GROWS to
        // full size); waves >= slices REPLAY earlier slices under fresh
        // doc ids — every doc is an exact/near dup of admitted history,
        // so the ledger is CONSTANT from wave `slices` on and any upward
        // cost trend afterwards is stream-AGE pathology (dir
        // accumulation, generation litter), not data growth. Without
        // the saturation the ledger's own growth flips join regimes
        // (broadcast → shuffle past the autoBroadcast threshold) and
        // the flatness gate would blame compaction for the workload.
        val s = b % slices
        val tmp = s"$in-tmp-$b"
        docs.filter(col("doc_id") >= s * maxId / slices &&
            col("doc_id") < (s + 1) * maxId / slices)
          .select((col("doc_id") + lit(b.toLong) * maxId).as("doc_id"),
            col("text"))
          .coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        val dest = new java.io.File(in); dest.mkdirs()
        require(part.renameTo(new java.io.File(dest, f"wave-$b%03d.parquet")))
        val (_, rec) = graft.obs.RunMetrics.measure(spark)(cycle(s"wave $b"))
        walls(b) = rec.wallS
        tasks(b) = rec.total(_.tasks)
        System.err.println(
          f"[$name] wave $b%2d wall=${walls(b)}%6.2fs tasks=${tasks(b)}")
      }
      (walls.toSeq, tasks.toSeq)
    }

    // compactEvery = cadence: the writer's own maintenance hook — the
    // exact production configuration the flatness claim is about
    val (dWalls, dTasks) = runSection("dedup", s"$root/inA", s"$root/ckptA",
      DedupStream.writer(s"$root/outA", s"$root/ledgerA", "text", "doc_id",
        compactEvery = cadence))
    val (nWalls, nTasks) = runSection("neardup", s"$root/inC", s"$root/ckptC",
      NearDupStream.writer(s"$root/outC", s"$root/bandsC", s"$root/setsC",
        "text", "doc_id", 0.5, compactEvery = cadence))
    val (aWalls, aTasks) = runSection("neardup-approx", s"$root/inD",
      s"$root/ckptD",
      NearDupStream.approxWriter(s"$root/outD", s"$root/bandsD",
        s"$root/sigsD", "text", "doc_id", 0.5, compactEvery = cadence))

    // flatness gates. Cycle-aligned task comparison: wave w and wave
    // w + cadence face the same number of un-absorbed batch dirs, so
    // equal per-cycle task SUMS mean stream age added no recurring cost —
    // the exact pathology compaction exists to kill (without it the
    // ledger scans add one task per accumulated dir per wave,
    // ~cadence² per cycle per ledger). Sums, not per-wave counts:
    // individual waves jitter a few stages on AQE/broadcast decisions.
    // Skip cycle 0 (cold start: empty-ledger fast paths, first
    // compaction not yet run).
    // baseline at cycle 2, the first cadence cycle fully past ledger
    // saturation (wave >= slices): cycles 0-1 mix empty-ledger fast
    // paths and ledger-growth regime shifts that are workload, not age
    def phaseFlat(tag: String, tasks: Seq[Long]): Unit = {
      val cycles = nWaves / cadence
      val first = tasks.slice(2 * cadence, 3 * cadence).sum
      val last = tasks.slice((cycles - 1) * cadence, cycles * cadence).sum
      require(last <= first * 1.15,
        s"$tag: per-cycle task total trends upward: " +
          s"cycle2=$first lastCycle=$last (all: $tasks)")
    }
    def wallFlat(tag: String, walls: Seq[Double]): Double = {
      val early = walls.slice(2 * cadence, 4 * cadence)
      val late = walls.slice(nWaves - 2 * cadence, nWaves)
      val (e, l) = (early.sum / early.size, late.sum / late.size)
      require(l <= e * 1.5,
        s"$tag: wave wall trends upward: early-mean=$e late-mean=$l")
      l / e
    }
    phaseFlat("dedup", dTasks); phaseFlat("neardup", nTasks)
    phaseFlat("neardup-approx", aTasks)
    val dRatio = wallFlat("dedup", dWalls)
    val nRatio = wallFlat("neardup", nWalls)
    val aRatio = wallFlat("neardup-approx", aWalls)

    def arrD(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    def arrL(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val line =
      s"""{"sf":"$sfDir","waves":$nWaves,"compact_every":$cadence,""" +
      s""""dedup":{"wave_walls":${arrD(dWalls)},"wave_tasks":${arrL(dTasks)},""" +
      s""""late_over_early_wall":${f"$dRatio%.3f"}},""" +
      s""""neardup":{"wave_walls":${arrD(nWalls)},"wave_tasks":${arrL(nTasks)},""" +
      s""""late_over_early_wall":${f"$nRatio%.3f"}},""" +
      s""""neardup_approx":{"wave_walls":${arrD(aWalls)},"wave_tasks":${arrL(aTasks)},""" +
      s""""late_over_early_wall":${f"$aRatio%.3f"}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
