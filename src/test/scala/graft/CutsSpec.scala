package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Cuts
import graft.streaming.NearDupStream

/** The lifecycle contract of the engine's one cut primitive ([[Cuts]]):
  * a scope releases exactly what was cut inside it on its own thread —
  * an unregistered persist (fixture memoization) survives, an inner scope
  * leaves its outer scope's frames alone, and a scope on one thread never
  * releases another thread's cuts — and a query or a streaming wave run
  * in one scope leaves no cached blocks and no checkpoint files behind.
  * The guard pins that no other `src/main` code cuts or caches on its own.
  *
  * The shared session has a checkpoint dir, so every [[Cuts.leaf]] here
  * takes the reliable branch and the hygiene cases see its files.
  */
class CutsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cached(df: org.apache.spark.sql.DataFrame) =
    df.storageLevel != StorageLevel.NONE

  test("a scope releases its registered persist; an unregistered fixture persist survives") {
    val fixture = Seq(4L, 5L).toDF("m").persist() // memoized-style, unregistered
    try {
      val registered = Cuts.scoped {
        val r = Cuts.persist(Seq(1L, 2L, 3L).toDF("a").withColumn("b", col("a") * 2))
        r.count(); fixture.count()
        assert(cached(r), "registered cached")
        assert(cached(fixture), "fixture cached")
        r
      }
      assert(!cached(registered), "closing the scope must release registered frames")
      assert(cached(fixture),
        "closing the scope must NOT touch unregistered (memoized fixture) persists")
      // a second scope persisting the same plan registers it afresh
      val again = Cuts.scoped {
        val r = Cuts.persist(Seq(1L, 2L, 3L).toDF("a").withColumn("b", col("a") * 2))
        r.count()
        assert(cached(r))
        r
      }
      assert(!cached(again))
    } finally fixture.unpersist()
  }

  test("persist is idempotent on an already-cached semantically-equal plan") {
    val (a, b) = Cuts.scoped {
      val a = Cuts.persist(Seq(7L).toDF("x"))
      a.count()
      // same logical plan: the CacheManager lookup reports the existing
      // level, so no second persist / registration is made
      val b = Cuts.persist(Seq(7L).toDF("x"))
      assert(cached(b))
      (a, b)
    }
    assert(!cached(a) && !cached(b))
  }

  test("an inner scope does not release a frame an outer scope cached") {
    Cuts.scoped {
      val outer = Cuts.persist(Seq(11L, 12L).toDF("o"))
      outer.count()
      val inner = Cuts.scoped {
        // the same plan again: already cached by the outer scope
        Cuts.persist(Seq(11L, 12L).toDF("o")).count()
        val own = Cuts.persist(Seq(13L).toDF("i"))
        own.count()
        own
      }
      assert(!cached(inner), "the inner scope releases what it cut itself")
      assert(cached(outer), "the inner scope must leave the outer scope's frame cached")
      assert(outer.count() == 2)
    }
  }

  test("two threads in their own scopes: closing one leaves the other's cuts readable") {
    val aCut = new CountDownLatch(1)
    val bClosed = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => failure = Some(t) })
    val a = guarded {
      Cuts.scoped {
        val p = Cuts.persist(spark.range(0, 100).toDF("a").withColumn("b", col("a") + 1))
        val l = Cuts.leaf(spark.range(0, 50).toDF("c").withColumn("d", col("c") * 3))
        p.count()
        aCut.countDown()
        assert(bClosed.await(60, TimeUnit.SECONDS), "thread B never closed its scope")
        assert(cached(p), "B's scope released A's persist")
        assert(l.count() == 50 && p.count() == 100, "A's cuts must stay readable")
      }
    }
    val b = guarded {
      try Cuts.scoped {
        assert(aCut.await(60, TimeUnit.SECONDS), "thread A never cut")
        Cuts.persist(spark.range(0, 10).toDF("e")).count()
        Cuts.leaf(spark.range(0, 20).toDF("f")).count()
      } finally bClosed.countDown()
    }
    a.start(); b.start(); a.join(); b.join()
    failure.foreach(throw _)
  }

  // each query consumed inside one scope leaves neither cached RDDs nor
  // checkpoint files: leaves, persists and the kernels' own cuts (fold
  // deltas, connected-components rounds) are all owned by the scope.
  // Diffed around the scope because other suites' fixtures may be live.
  for (name <- Seq("q107_dup_clusters_approx", "q108_dup_clusters_incremental",
      "q110_dup_clusters_minhash_incr", "q112_semantic_admit_incr",
      "q113_bm25_incremental", "q114_media_admit_incremental",
      "q115_media_clusters_incremental", "q116_curation_pipeline_incr",
      "q117_audio_admit_incremental", "q119_curation_decontam_incr"))
    test(s"hygiene: $name in one scope leaves no cached blocks or checkpoint files") {
      def run(): Unit = Cuts.scoped {
        SparkEntry.queries(name)(spark, TestSpark.sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      // a first run builds the session-lifetime fixtures (Multimodal's
      // memoized media tables stay cached on purpose); a query that leaks
      // a cut leaks it again in the measured run
      run()
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
      val dirs0 = TestSpark.checkpointRddDirs
      run()
      val rdds = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
      val dirs = TestSpark.checkpointRddDirs -- dirs0
      assert(rdds.isEmpty, s"$name leaked persisted RDDs: $rdds")
      assert(dirs.isEmpty, s"$name leaked checkpoint dirs: $dirs")
    }

  test("a streaming near-dup wave leaves no cache entries or checkpoint files behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dirs0 = TestSpark.checkpointRddDirs
    val root = Files.createTempDirectory("graft-wavescope").toString
    val in = s"$root/in"
    Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text").write.parquet(s"$in/wave0")
    val q = spark.readStream.schema("doc_id long, text string")
      .parquet(s"$in/*")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(NearDupStream.writer(s"$root/out", s"$root/bands",
        s"$root/sets", "text", "doc_id", threshold = 0.5))
      .start()
    assert(q.awaitTermination(120000), "query did not terminate")
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // the wave cut its sketch frame and the admission plan's mid-frames
    // (banded rows, candidate pairs) to leaves — ALL must be released
    // with the wave: a leaked entry here is an unbounded stream's leak
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"a completed wave must release every persist it took; leaked RDDs: $leaked")
    val files = TestSpark.checkpointRddDirs -- dirs0
    assert(files.isEmpty, s"a completed wave must delete its leaves' files: $files")
  }

  test("guard: no src/main code cuts, caches or picks a checkpoint mode outside Cuts") {
    val raw = """(?<!Cuts)\.(localCheckpoint|checkpoint|persist|unpersist)\(|\.cache\(\)|getCheckpointDir""".r
    // an operator takes its cuts from the Cuts rule; no caller passes one in
    val scopeParam = """scope\s*:\s*DataFrame\s*=>\s*DataFrame""".r
    // (path suffix, code line) -> why it may cut on its own
    val exempt = Map(
      ("graft/multimodal/Multimodal.scala", "df.persist()") ->
        ("Multimodal.memoized: the synthetic media fixtures are cached for " +
          "the session's lifetime on purpose, so benches measure decode, " +
          "not re-encoding; no query scope may release them"))
    val root = new File("src/main/scala")
    val files = FileUtils.listFiles(root, Array("scala"), true).toArray
      .map(_.asInstanceOf[File]).toSeq
    assert(files.exists(_.getName == "Cuts.scala"), s"no sources under $root")
    val hits = for {
      f <- files
      path = f.getPath.replace('\\', '/')
      // Cuts owns every cut; tools/ holds bench fixtures (being folded
      // into one harness) whose frames outlive any single query
      if !path.endsWith("graft/core/Cuts.scala") && !path.contains("/graft/tools/")
      (line, n) <- FileUtils.readFileToString(f, "UTF-8").split("\n").zipWithIndex
      code = line.replaceAll("//.*$", "").trim
      if !code.startsWith("*") && !code.startsWith("/**")
      if raw.findFirstIn(code).isDefined
      if !exempt.exists { case ((suffix, text), _) => path.endsWith(suffix) && code == text }
    } yield s"$path:${n + 1}: $code"
    assert(hits.isEmpty, "raw cuts outside graft.core.Cuts:\n" + hits.mkString("\n"))
    val params = for {
      f <- files
      (line, n) <- FileUtils.readFileToString(f, "UTF-8").split("\n").zipWithIndex
      if scopeParam.findFirstIn(line.replaceAll("//.*$", "")).isDefined
    } yield s"${f.getPath}:${n + 1}: ${line.trim}"
    assert(params.isEmpty, "cut-choice parameters in src/main:\n" + params.mkString("\n"))
  }
}
