package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
  InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.datasources
  .InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Cuts
import graft.obs.RunMetrics
import graft.streaming._

/** The wave-commit protocol ([[WaveCommit]]) across every writer family:
  * the sources route every wave through it (structure guard), one wave
  * leaves no persisted RDD behind, and a crash after ANY commit step of a
  * wave replays to exactly the uninterrupted run's committed outputs —
  * including windows no per-writer spec reaches (e.g. between the bands
  * and sigs commits), and, for the writers whose ledgers commit
  * concurrently, any subset of those ledgers. A ledger commit that throws
  * fails its wave only after its siblings finish, and a fully committed
  * wave replays without running its body. For the single-commit admission
  * writers, no commit reads one cached frame from two places of its plan
  * (the scope rule). No other code starts threads of its own.
  */
class WaveCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String) = Files.createTempDirectory(tag).toString

  test("structure guard: no wave scope, cadence check or replay policy outside WaveCommit") {
    val dir = new File("src/main/scala/graft/streaming")
    val owners = Set("WaveCommit.scala", "IdempotentSink.scala")
    val sources = dir.listFiles().filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "WaveCommit.scala"), s"no sources in $dir")
    val hits = for {
      f <- sources.toSeq if !owners(f.getName)
      (line, n) <- FileUtils.readFileToString(f, "UTF-8").split("\n").zipWithIndex
      pat <- Seq("ConcurrentLinkedQueue", "% compactEvery", "onReplay =")
      if line.contains(pat)
    } yield s"${f.getName}:${n + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  // --- fixtures ---------------------------------------------------------

  private val longA = "alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val nearA = longA.replace("omicron", "replaced")
  private val longB = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
  private val longC = "red orange yellow green blue indigo violet white " +
    "black grey brown pink cyan magenta olive navy teal maroon"
  private val junk = "spam spam spam spam"

  private def textWaves: Seq[DataFrame] = Seq(
    Seq((1L, longA), (2L, longA), (3L, junk)),
    Seq((10L, nearA), (11L, longB), (12L, junk), (13L, longA), (14L, longC)),
    Seq((20L, longA), (21L, nearA), (22L, longB + " nineteen"),
      (23L, longC.replace("olive", "lime"))))
    .map(_.toDF("doc_id", "text"))

  private def mediaWaves: Seq[DataFrame] = Seq(
    Seq((1L, 0x0L), (2L, -1L), (3L, 0xF0L)),
    Seq((10L, 0x1L), (11L, 0x0F0F0F0F0F0F0F0FL), (12L, 0x3L)),
    Seq((20L, -2L), (21L, 0x0F0F0F0F0F0F0F00L), (22L, 0xF1L)))
    .map(_.toDF("doc_id", "dhash"))

  // unit vectors: vy/vx cos 0.92, vz bridges both (≈ 0.98), vu/vw cos 0.9
  private val vx = Seq(1f, 0f, 0f, 0f)
  private val vy = Seq(0.92f, 0.392f, 0f, 0f)
  private val vz = Seq(0.97979f, 0.200041f, 0f, 0f)
  private val vw = Seq(0f, 1f, 0f, 0f)
  private val vu = Seq(0f, 0.9f, 0.43589f, 0f)
  private val zero = Seq(0f, 0f, 0f, 0f)
  private def centroids =
    Seq((1, Seq(1f, 0f, 0f, 0f)), (2, Seq(0f, 1f, 0f, 0f))).toDF("cell", "cvec")

  private def vecWaves: Seq[DataFrame] = Seq(
    Seq((0L, vx), (1L, vw), (10L, vy)),
    Seq((20L, vz), (11L, vx), (5L, vu)),
    Seq((6L, vu), (2L, vu), (99L, zero)))
    .map(_.toDF("vec_id", "embedding"))

  /** A writer over sinks `root/<sink>`, listed in commit order;
    * `concurrent` when every sink after the first commits at once
    * ([[WaveCommit.commitAll]]). */
  private case class Family(name: String, sinks: Seq[String],
      waves: () => Seq[DataFrame], make: String => (DataFrame, Long) => Unit,
      setup: String => Unit = _ => (), concurrent: Boolean = false)

  private def bench(root: String): Unit = CurationStream.writeBenchGrams(
    Seq((900L, "one two three four five benchmark suffix words"))
      .toDF("doc_id", "text"), "text", "doc_id", s"$root/bg")

  private val families = Seq(
    Family("CurationStream.writer", Seq("out", "fps", "bands", "sigs"),
      () => textWaves, r => CurationStream.writer(s"$r/out", s"$r/fps",
        s"$r/bands", s"$r/sigs", "text", "doc_id"), concurrent = true),
    Family("CurationStream.decontamWriter", Seq("out", "fps", "bands", "sigs"),
      () => textWaves, r => CurationStream.decontamWriter(s"$r/out",
        s"$r/fps", s"$r/bands", s"$r/sigs", s"$r/bg", "text", "doc_id"),
      bench, concurrent = true),
    Family("NearDupStream.writer", Seq("out", "bands", "sets"),
      () => textWaves, r => NearDupStream.writer(s"$r/out", s"$r/bands",
        s"$r/sets", "text", "doc_id"), concurrent = true),
    Family("NearDupStream.approxWriter", Seq("out", "bands", "sigs"),
      () => textWaves, r => NearDupStream.approxWriter(s"$r/out",
        s"$r/bands", s"$r/sigs", "text", "doc_id"), concurrent = true),
    Family("NearDupStream.clusterWriter",
      Seq("labels", "merges", "bands", "sigs"), () => textWaves,
      r => NearDupStream.clusterWriter(s"$r/labels", s"$r/merges",
        s"$r/bands", s"$r/sigs", "text", "doc_id")),
    Family("NearDupStream.clusterWriterExact",
      Seq("labels", "merges", "bands", "sets"), () => textWaves,
      r => NearDupStream.clusterWriterExact(s"$r/labels", s"$r/merges",
        s"$r/bands", s"$r/sets", "text", "doc_id")),
    Family("DedupStream.writer", Seq("survivors", "ledger"), () => textWaves,
      r => DedupStream.writer(s"$r/survivors", s"$r/ledger", "text",
        "doc_id")),
    Family("MediaDedupStream.writer", Seq("out", "chunks"), () => mediaWaves,
      r => MediaDedupStream.writer(s"$r/out", s"$r/chunks", "doc_id",
        "dhash")),
    Family("MediaDedupStream.clusterWriter", Seq("labels", "merges", "chunks"),
      () => mediaWaves, r => MediaDedupStream.clusterWriter(s"$r/labels",
        s"$r/merges", s"$r/chunks", "doc_id", "dhash")),
    Family("SemanticStream.writer",
      Seq("labels", "merges", "members", "reps", "fps"), () => vecWaves,
      r => SemanticStream.writer(s"$r/labels", s"$r/merges", s"$r/members",
        s"$r/reps", s"$r/fps", "embedding", "vec_id", centroids)),
    Family("SemanticStream.admitWriter", Seq("out", "reps"), () => vecWaves,
      r => SemanticStream.admitWriter(s"$r/out", s"$r/reps", "embedding",
        "vec_id", centroids, Seq((100L, vx)).toDF("vec_id", "embedding"),
        dupThreshold = 0.89)),
    Family("Bm25Stream.writer", Seq("postings", "stats", "totals"),
      () => textWaves, r => Bm25Stream.writer(s"$r/postings", s"$r/stats",
        s"$r/totals", "text", "doc_id")))

  /** The writers whose kernel output feeds ONE verdict commit — the
    * frames that commit reads are leaves under [[WaveCommit]]'s scope
    * rule. The cluster writers fold state across sequenced actions. */
  private val singleCommit = Set("CurationStream.writer",
    "CurationStream.decontamWriter", "NearDupStream.writer",
    "NearDupStream.approxWriter", "MediaDedupStream.writer",
    "SemanticStream.admitWriter")

  /** Every write command's (output path, plan) under one of `sinks`, as
    * executed. Other writes are skipped: the listener bus is asynchronous,
    * so a fixture write made just before registration can arrive late. */
  private class Writes(sinks: Seq[String]) extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.logical.collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
        w.outputPath.toString }
        .filter(p => sinks.exists(p.stripPrefix("file:").startsWith))
        .foreach(p => seen.add((p, qe)))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** The cached relations `plan` reads, each once per place it is read
    * from — including the places inside the plans of other caches it
    * reads. */
  private def cacheReads(plan: LogicalPlan): Seq[InMemoryRelation] = {
    def inPhysical(p: SparkPlan): Seq[InMemoryRelation] = p match {
      case a: AdaptiveSparkPlanExec => inPhysical(a.executedPlan)
      case s: QueryStageExec => inPhysical(s.plan)
      case s: InMemoryTableScanExec => expand(s.relation)
      case other => (other.children ++ other.subqueries).flatMap(inPhysical)
    }
    def expand(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: inPhysical(r.cacheBuilder.cachedPlan)
    plan.collectWithSubqueries { case r: InMemoryRelation => r }
      .flatMap(expand)
  }

  /** Every sink's committed rows, order-free. */
  private def outputs(root: String, f: Family): Map[String, Seq[String]] =
    f.sinks.map(s => s -> IdempotentSink.readCommitted(spark, s"$root/$s")
      .collect().map(_.toString).toSeq.sorted).toMap

  private def copyOf(dir: String, tag: String): String = {
    val d = freshDir(tag)
    FileUtils.copyDirectory(new File(dir), new File(d))
    d
  }

  private def uncommit(run: String, sinks: Seq[String], batchId: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    sinks.foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$run/$s/batch=$batchId"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$run/$s/_committed-$batchId"), false)
    }
  }

  // per family: the dir after waves 0 and 1, and the outputs after wave 2
  private val runs = collection.mutable.Map.empty[String, (String, Map[String, Seq[String]])]

  private def uninterrupted(f: Family): (String, Map[String, Seq[String]]) =
    runs.getOrElseUpdate(f.name, {
      val waves = f.waves()
      val base = freshDir("graft-wave-crash")
      f.setup(base)
      val w = f.make(base)
      w(waves(0), 0L)
      w(waves(1), 1L)
      val ref = copyOf(base, "graft-wave-ref")
      f.make(ref)(waves(2), 2L)
      (base, outputs(ref, f))
    })

  private def expected(f: Family) = uninterrupted(f)._2

  /** For each entry of `kept`, wave 1 died with only those sinks
    * committed: replay waves 1 and 2 over a copy of the run and `check`
    * the copy (with the entry's index). */
  private def crashReplays(f: Family, kept: Seq[Seq[String]])(
      check: (String, Int) => Unit): Unit = {
    val (base, _) = uninterrupted(f)
    val waves = f.waves()
    kept.zipWithIndex.foreach { case (k, i) =>
      val run = copyOf(base, "graft-wave-crash-k")
      uncommit(run, f.sinks.filterNot(k.contains), 1L)
      val replay = f.make(run)
      replay(waves(1), 1L)
      replay(waves(2), 2L)
      check(run, i)
    }
  }

  families.foreach { f =>
    test(s"${f.name}: one wave leaves no persisted RDD") {
      val root = freshDir("graft-wave-scope")
      f.setup(root)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      f.make(root)(f.waves().head, 0L)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"the wave left persisted RDDs: ${left.values
        .map(r => s"${r.id} ${r.getStorageLevel.description} ${r.name}")
        .mkString("; ")}")
    }

    test(s"${f.name}: a crash after any commit step replays to the uninterrupted outputs") {
      // wave 1 died after its first k commits
      crashReplays(f, f.sinks.indices.map(k => f.sinks.take(k)))((run, k) =>
        assert(outputs(run, f) == expected(f),
          s"crash after commit $k of ${f.sinks.mkString(" → ")}"))
    }

    if (f.concurrent)
      test(s"${f.name}: a crash after any subset of its concurrent ledger commits replays to the uninterrupted outputs") {
        val ledgers = f.sinks.tail
        val subsets = (0 to ledgers.size).flatMap(ledgers.combinations)
          .filterNot(s => s == ledgers.take(s.size))
        assert(subsets.nonEmpty)
        // wave 1 died after its verdict and `subset` of its ledgers
        crashReplays(f, subsets.map(f.sinks.head +: _))((run, i) =>
          assert(outputs(run, f) == expected(f),
            s"crash with ${subsets(i).mkString(", ")} committed of ${ledgers.mkString(" ∥ ")}"))
      }

    // A lazy persist read twice by ONE action is the cache race: under AQE
    // both consumers start before the cache holds a block, so the chain
    // computes concurrently. Every commit's `withCachedData` plan is
    // walked through every cached plan it reads.
    if (singleCommit(f.name))
      test(s"${f.name}: no commit reads a cached frame twice") {
        val root = freshDir("graft-wave-plan")
        f.setup(root)
        val writes = new Writes(f.sinks.map(k => s"$root/$k/"))
        spark.listenerManager.register(writes)
        try {
          val w = f.make(root)
          val waves = f.waves()
          waves.zipWithIndex.foreach { case (b, i) => w(b, i.toLong) }
          val expected = f.sinks.size * waves.size
          // execution listeners run on the listener bus: deliver its events
          org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
          val commits = writes.seen.asScala.toSeq
          assert(commits.size == expected, commits.map(_._1).mkString("\n"))
          commits.foreach { case (path, qe) =>
            val counts = new java.util.IdentityHashMap[AnyRef, Integer]
            val names = new java.util.IdentityHashMap[AnyRef, String]
            cacheReads(qe.withCachedData).foreach { r =>
              val k = r.cacheBuilder
              counts.put(k, counts.getOrDefault(k, 0) + 1)
              names.put(k, r.output.map(_.name).mkString("(", ", ", ")"))
            }
            val twice = counts.asScala.collect {
              case (k, n) if n > 1 => s"${names.get(k)} read $n times"
            }
            assert(twice.isEmpty,
              s"commit to ${path.stripPrefix("file:")}: ${twice.mkString("; ")}")
          }
        } finally spark.listenerManager.unregister(writes)
      }
  }
  // --- concurrent ledger commits -----------------------------------------

  private val IdSchema = StructType(Seq(StructField("id", LongType)))

  /** A verdict of the batch ids not yet in ledger `a`, then three ledgers
    * committed at once: `a` and `c` pass a 400 ms sleep per row, so they
    * are still writing when `b` throws (with `failing`). */
  private def ledgerWriter(r: String, failing: Boolean): (DataFrame, Long) => Unit = {
    val slow = udf((id: Long) => { Thread.sleep(400); id })
    val boom = udf((id: Long) =>
      if (id >= 0) throw new IllegalStateException("ledger b failed") else id)
    WaveCommit.writer(Seq("out", "a", "b", "c").map(k => s"$r/$k")) { wave =>
      val fresh = Cuts.leaf(wave.batch.select("id")
        .join(wave.ledger(s"$r/a", IdSchema), Seq("id"), "left_anti"))
      wave.commit(s"$r/out", fresh)
      val durable = wave.committed(s"$r/out")
      wave.commitAll(
        s"$r/a" -> durable.select(slow(col("id")).as("id")),
        s"$r/b" -> (if (failing) durable.select(boom(col("id")).as("id")) else durable),
        s"$r/c" -> fresh.join(durable, "id").select(slow(col("id")).as("id")))
    }
  }

  test("a ledger commit that throws fails the wave only after its sibling commits finish; the replay is exact") {
    val waves = Seq(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L, 5L), Seq(5L, 6L))
      .map(_.toDF("id").coalesce(1))
    val sinks = Seq("out", "a", "b", "c")
    val ledgers = Family("ledgerWriter", sinks, () => waves, ledgerWriter(_, false))
    val (base, want) = uninterrupted(ledgers)
    val run = copyOf(base, "graft-wave-throw")
    uncommit(run, sinks, 1L)
    val e = intercept[Exception](ledgerWriter(run, failing = true)(waves(1), 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("ledger b failed")), e)
    val committed = sinks.filter(k => IdempotentSink.isCommitted(spark, s"$run/$k", 1L))
    assert(committed == Seq("out", "a", "c"),
      "the failure must surface only after the sibling commits finished")
    val replay = ledgerWriter(run, failing = false)
    replay(waves(1), 1L)
    replay(waves(2), 2L)
    assert(outputs(run, ledgers) == want)
    // (id, batch): each id enters the verdict once, in its first wave
    assert(want("out") == Seq("[1,0]", "[2,0]", "[3,0]", "[4,1]", "[5,1]", "[6,2]"))
  }

  test("a fully committed wave replays without running its body: no leaf job") {
    val f = families.head
    val (base, _) = uninterrupted(f)
    val waves = f.waves()
    def replayed(run: String) = {
      val (_, rec) = RunMetrics.measure(spark)(f.make(run)(waves(1), 1L))
      rec.stages.map(_.name)
    }
    val run = copyOf(base, "graft-wave-replay")
    val before = outputs(run, f)
    val full = replayed(run)
    assert(!full.exists(_.startsWith("checkpoint")),
      s"a replay of a committed wave cut a leaf: ${full.mkString("; ")}")
    assert(full.size == 1, s"only the source batch is evaluated: ${full.mkString("; ")}")
    assert(outputs(run, f) == before)
    // one marker missing: the body runs and cuts its leaves again
    uncommit(run, Seq(f.sinks.last), 1L)
    val partial = replayed(run)
    assert(partial.exists(_.startsWith("checkpoint")), partial.mkString("; "))
    assert(outputs(run, f) == before)
  }

  test("CurationStream.writer: a wave runs at most 23 jobs, and its verdict commit plans one shuffle exchange at most") {
    val f = families.head
    val root = freshDir("graft-wave-shape")
    val writes = new Writes(Seq(s"$root/out/"))
    val w = f.make(root)
    val waves = f.waves()
    w(waves(0), 0L)
    spark.listenerManager.register(writes)
    try {
      // wave 1 probes the ledgers wave 0 committed
      val (_, rec) = RunMetrics.measure(spark)(w(waves(1), 1L))
      assert(rec.jobs.size <= 23, s"${rec.jobs.size} jobs: " +
        rec.jobs.map(_.description).mkString("; "))
      org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
      val verdicts = writes.seen.asScala.toSeq
      assert(verdicts.size == 1, verdicts.map(_._1).mkString("\n"))
      def shuffles(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
        case q: QueryStageExec => shuffles(q.plan)
        case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
        case other => (other.children ++ other.subqueries).map(shuffles).sum
      }
      val plan = verdicts.head._2.executedPlan
      // the batch sigs fit the broadcast gate here: the per-doc collapse
      // of the verified pairs is the one exchange left
      assert(shuffles(plan) <= 1, s"verdict commit plan:\n$plan")
    } finally spark.listenerManager.unregister(writes)
  }

  test("guard: no src/main code starts threads outside WaveCommit.concurrently and GraftShim") {
    val raw = """Executors\.|newFixedThreadPool|ExecutionContext|withThreadLocalCaptured|CompletableFuture|new\s+Thread\(""".r
    // (path suffix, code line) -> why it may run work on threads of its own
    val exempt = Map(
      ("graft/lineage/Lineage.scala", "java.util.concurrent.CompletableFuture") ->
        ("HttpLineageSink schedules the HTTP redelivery of OpenLineage events " +
          "on the JDK's delayed executor; it runs no Spark job"))
    val owners = Seq("graft/streaming/WaveCommit.scala",
      "org/apache/spark/sql/GraftShim.scala")
    val root = new File("src/main/scala")
    val files = FileUtils.listFiles(root, Array("scala"), true).toArray
      .map(_.asInstanceOf[File]).toSeq
    assert(files.exists(_.getName == "WaveCommit.scala"), s"no sources under $root")
    val hits = for {
      f <- files
      path = f.getPath.replace('\\', '/')
      if !owners.exists(path.endsWith)
      (line, n) <- FileUtils.readFileToString(f, "UTF-8").split("\n").zipWithIndex
      code = line.replaceAll("//.*$", "").trim
      if !code.startsWith("*") && !code.startsWith("/**")
      if raw.findFirstIn(code).isDefined
      if !exempt.exists { case ((suffix, text), _) => path.endsWith(suffix) && code == text }
    } yield s"$path:${n + 1}: $code"
    assert(hits.isEmpty, "threads outside WaveCommit.concurrently:\n" + hits.mkString("\n"))
  }
}
