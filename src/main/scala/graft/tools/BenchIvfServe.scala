package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.similarity.Ann
import graft.tools.BenchKit.timed

/** Scale-tier driver for the PERSISTED-INDEX ANN serving shape — the
  * committed evidence behind BENCH_IVF_SERVE.json:
  * `runMain graft.tools.BenchIvfServe [sfDir] [outJson]`.
  *
  * q66 amortizes the IVF build across bench sweeps implicitly (build on
  * first invocation, load after); this measures the two halves
  * EXPLICITLY at a tier, because they are different products: the build
  * (O(n·nCells) assignment + bucketed write) is a once-per-corpus
  * indexing job, the search (probe-cell explode + bucketed join +
  * per-query top-k) is the repeated serving cost a 100 TB deployment
  * actually pays per query batch. Also gates that serving from the
  * persisted index is BIT-IDENTICAL to searching the just-built
  * in-memory index — the round-trip through the bucketed table loses
  * nothing.
  */
object BenchIvfServe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata/sf10")
    val outPath = if (args.length > 1) args(1) else "BENCH_IVF_SERVE.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val name = s"graft_ivfserve_${Tables.fingerprint(spark, s"$sfDir/embeddings.parquet")}"
    // build + persist: the once-per-corpus indexing job
    var built: Ann.IvfIndex = null
    val buildWall = timed {
      built = Ann.buildIvfIndex(emb, nCells0 = 0, refineIters = 0)
      Ann.writeIvfIndex(built, name)
    }
    // search-only: load the bucketed index, run the query batch. Twice —
    // the second run is the steady-state serving wall (JIT/codegen warm,
    // same plans a long-lived serving session reuses).
    def searchOnly(): org.apache.spark.sql.DataFrame =
      Ann.searchIvf(Ann.loadIvfIndex(spark, name), queries, k = 5)
    val searchWallCold = timed {
      searchOnly().write.format("noop").mode("overwrite").save()
    }
    val searchWallWarm = timed {
      searchOnly().write.format("noop").mode("overwrite").save()
    }
    // bit-identical gate: serving from the persisted index ≡ searching
    // the in-memory index that was just built
    val fromDisk = searchOnly().select("qid", "nid", "sim", "rn")
    val fromMem = Ann.searchIvf(built, queries, k = 5)
      .select("qid", "nid", "sim", "rn")
    val identical = fromDisk.exceptAll(fromMem).isEmpty &&
      fromMem.exceptAll(fromDisk).isEmpty
    val rows = fromDisk.count()
    val nVecs = emb.count(); val nQueries = queries.count()

    // --- VERSIONED SERVE DEPLOYMENT under drift (graft.similarity.
    // IvfServe): publish the built index as v0, append a planted drift
    // arc against the FROZEN centroids (addToIvfIndex's contract — the
    // stale coordinate system piles it into few hot cells), let the
    // occupancy trigger fire the retrain-and-republish, and measure what
    // the rebuild buys: occupancy rebalance and per-query candidate
    // volume at the same nProbe. Readers flip versions on load — the
    // marker protocol means no reader ever sees a torn index while this
    // happens (spec-pinned in IvfServeSpec).
    import graft.similarity.IvfServe
    val serveName = "graft_ivfserve_bench"
    IvfServe.reset(spark, serveName)
    IvfServe.publish(built, serveName)
    val (cells0, max0, mean0) = IvfServe.occupancy(spark, serveName)
    // drift arc: 25% of the corpus arrives as 200 tight sub-clusters
    // around one new direction (dim matches the fixture's 64)
    val nDrift = (nVecs / 4).toInt
    val dim = 64; val perCluster = math.max(50, nDrift / 200)
    val dRnd = new scala.util.Random(99L)
    val dBase = Array.fill(dim)(dRnd.nextGaussian().toFloat)
    val nClusters = math.max(1, nDrift / perCluster)
    val centersB = spark.sparkContext.broadcast(
      (0 until nClusters).map { i =>
        val c = new scala.util.Random(600L + i)
        dBase.map(x => (x + 0.08 * c.nextGaussian()).toFloat)
      }.toArray)
    import spark.implicits._
    val driftVecs = spark.range(nDrift)
      .select(col("id")).as[Long].mapPartitions { it =>
        it.map { j =>
          val c = centersB.value((j % nClusters).toInt)
          val p = new scala.util.Random(7000L + j)
          (10000000L + j, c.map(x => (x + 0.02 * p.nextGaussian()).toFloat))
        }
      }.toDF("vec_id", "embedding")
    IvfServe.publish(
      Ann.addToIvfIndex(IvfServe.loadCurrent(spark, serveName), driftVecs),
      serveName)
    val (cells1, max1, mean1) = IvfServe.occupancy(spark, serveName)
    val driftQueries = driftVecs.filter(col("vec_id") % 100 === 0)
      .persist()
    val nDriftQ = driftQueries.count()
    def volume(): Long = {
      val idx = IvfServe.loadCurrent(spark, serveName)
      Ann.probesForTest(idx, driftQueries, nProbe = 4)
        .join(idx.assigned, Seq("cell")).count()
    }
    val volPre = volume()
    var rebuildWall = 0.0
    val fired = {
      val t0 = System.nanoTime()
      val r = IvfServe.rebuildIfDrifted(spark, serveName, maxOverMean = 8.0)
      rebuildWall = (System.nanoTime() - t0) / 1e9
      r
    }
    val (cells2, max2, mean2) = IvfServe.occupancy(spark, serveName)
    val volPost = volume()
    IvfServe.prune(spark, serveName)

    val line =
      s"""{"sf":"$sfDir","vectors":$nVecs,"queries":$nQueries,"k":5,""" +
      s""""build_wall_s":${f"$buildWall%.3f"},""" +
      s""""search_wall_cold_s":${f"$searchWallCold%.3f"},""" +
      s""""search_wall_warm_s":${f"$searchWallWarm%.3f"},""" +
      s""""result_rows":$rows,"disk_equals_mem":$identical,""" +
      s""""serve_rebuild":{"drift_vectors":$nDrift,""" +
      s""""drift_queries":$nDriftQ,"nprobe":4,""" +
      s""""occupancy_v0":{"cells":$cells0,"max":$max0,""" +
      s""""mean":${f"$mean0%.1f"}},""" +
      s""""occupancy_drifted":{"cells":$cells1,"max":$max1,""" +
      s""""mean":${f"$mean1%.1f"}},""" +
      s""""occupancy_rebuilt":{"cells":$cells2,"max":$max2,""" +
      s""""mean":${f"$mean2%.1f"}},""" +
      s""""probe_volume_drifted":$volPre,""" +
      s""""probe_volume_rebuilt":$volPost,""" +
      s""""trigger_fired":${fired.isDefined},""" +
      s""""rebuild_wall_s":${f"$rebuildWall%.3f"}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    require(identical, "persisted-index search must be bit-identical")
    require(fired.isDefined, "the drift arc must trip the occupancy trigger")
    require(max2 / mean2 * 2 <= max1 / mean1,
      s"rebuild must rebalance occupancy: $max1/$mean1 -> $max2/$mean2")
    require(volPost * 2 <= volPre,
      s"rebuild must cut probed candidate volume: $volPre -> $volPost")
    spark.stop()
  }
}
