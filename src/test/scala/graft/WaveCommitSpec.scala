package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.streaming._

/** The wave-commit protocol ([[WaveCommit]]) across every writer family:
  * the sources route every wave through it (structure guard), one wave
  * leaves no persisted RDD behind, and a crash after ANY commit step of a
  * wave replays to exactly the uninterrupted run's committed outputs —
  * including windows no per-writer spec reaches (e.g. between the bands
  * and sigs commits).
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

  /** A writer over sinks `root/<sink>`, listed in commit order. */
  private case class Family(name: String, sinks: Seq[String],
      waves: () => Seq[DataFrame], make: String => (DataFrame, Long) => Unit,
      setup: String => Unit = _ => ())

  private def bench(root: String): Unit = CurationStream.writeBenchGrams(
    Seq((900L, "one two three four five benchmark suffix words"))
      .toDF("doc_id", "text"), "text", "doc_id", s"$root/bg")

  private val families = Seq(
    Family("CurationStream.writer", Seq("out", "fps", "bands", "sigs"),
      () => textWaves, r => CurationStream.writer(s"$r/out", s"$r/fps",
        s"$r/bands", s"$r/sigs", "text", "doc_id")),
    Family("CurationStream.decontamWriter", Seq("out", "fps", "bands", "sigs"),
      () => textWaves, r => CurationStream.decontamWriter(s"$r/out",
        s"$r/fps", s"$r/bands", s"$r/sigs", s"$r/bg", "text", "doc_id"),
      bench),
    Family("NearDupStream.writer", Seq("out", "bands", "sets"),
      () => textWaves, r => NearDupStream.writer(s"$r/out", s"$r/bands",
        s"$r/sets", "text", "doc_id")),
    Family("NearDupStream.approxWriter", Seq("out", "bands", "sigs"),
      () => textWaves, r => NearDupStream.approxWriter(s"$r/out",
        s"$r/bands", s"$r/sigs", "text", "doc_id")),
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

  /** Every sink's committed rows, order-free. */
  private def outputs(root: String, f: Family): Map[String, Seq[String]] =
    f.sinks.map(s => s -> IdempotentSink.readCommitted(spark, s"$root/$s")
      .collect().map(_.toString).toSeq.sorted).toMap

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
      val waves = f.waves()
      val base = freshDir("graft-wave-crash")
      f.setup(base)
      val w = f.make(base)
      w(waves(0), 0L)
      w(waves(1), 1L)
      def copyOf(tag: String) = {
        val d = freshDir(tag)
        FileUtils.copyDirectory(new File(base), new File(d))
        d
      }
      val ref = copyOf("graft-wave-ref")
      f.make(ref)(waves(2), 2L)
      val expected = outputs(ref, f)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      f.sinks.indices.foreach { k =>
        // wave 1 died after its first k commits
        val run = copyOf("graft-wave-crash-k")
        f.sinks.drop(k).foreach { s =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$run/$s/batch=1"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$run/$s/_committed-1"), false)
        }
        val replay = f.make(run)
        replay(waves(1), 1L)
        replay(waves(2), 2L)
        assert(outputs(run, f) == expected,
          s"crash after commit $k of ${f.sinks.mkString(" → ")}")
      }
    }
  }
}
