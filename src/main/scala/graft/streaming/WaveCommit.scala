package graft.streaming

import java.util.concurrent.{CompletionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Cuts
import graft.obs.RunMetrics

/** One streaming WAVE — the single definition of the exactly-once
  * protocol every `foreachBatch` writer in this package runs. A writer
  * body holds only its stage logic; the wave owns everything else:
  *
  *  - SCOPE: the body runs inside one [[graft.core.Cuts.scoped]] owner,
  *    so every cut the wave makes — its own and the ones its kernels
  *    make, fold deltas included — is released when the body returns or
  *    throws, and an unbounded stream holds no wave's blocks past its
  *    wave. Every cut follows the Cuts rule: `Cuts.persist` for frames
  *    the wave's SEQUENCED commits consume, each reading the frame from
  *    one place of its plan; `Cuts.leaf` for frames ONE action consumes
  *    from several subtrees, for subtrees every commit would otherwise
  *    re-analyze, and for frames CONCURRENT commits ([[commitAll]]) read.
  *    The kernels (Dedup, SemanticDedup) apply the same rule to their own
  *    mid-frames and cut them to leaves as they build the plan, so a
  *    verdict the body commits reads leaves the wave owns. A verdict
  *    frame one commit consumes is not cut at all. Each commit's jobs
  *    are described by its sink dir, each leaf's by the code that cut it.
  *  - COMMIT ORDER: the verdict (or the delta every later sink derives
  *    from) commits FIRST and ALONE through [[commit]], so a ledger never
  *    commits ahead of the rows that justify it. The ledgers then commit
  *    CONCURRENTLY through [[commitAll]] wherever each reads only the
  *    durable verdict and the wave's own frames: by the ledger horizon
  *    below, each ledger's rows are a function of (batch, prior ledgers,
  *    durable verdict) alone, so no ledger's commit can change another's
  *    rows and they need no order among themselves. Writers whose later
  *    sinks fold state through lazy persists, or whose commit order is a
  *    reader-visibility contract (Bm25Stream: stats before totals), keep
  *    sequenced [[commit]] calls in their stated order.
  *  - LEDGER HORIZON: stages read ledgers through [[ledger]], which holds
  *    the batches committed BEFORE this wave. The wave is then a pure
  *    function of (batch, prior ledgers): a crash after any SUBSET of
  *    commits — a prefix of the sequenced ones, any subset of the
  *    concurrent ones — replays into marker hits for the committed sinks
  *    and the first attempt's rows for the rest, even where a committed
  *    sink already appended this batch to a ledger another sink's rows are
  *    derived against.
  *  - REPLAY POLICY: each writer declares its sinks. A wave whose every
  *    sink holds its `_committed-<id>` marker evaluates only the SOURCE
  *    batch — an upstream stateful operator must recompute its state
  *    updates for Spark to commit the batch — and skips the body, so a
  *    fully committed replay cuts no leaf. In a partial replay a sink with
  *    a marker skips its write; the wave's first commit then still
  *    evaluates the source batch, and later commits do nothing (the source
  *    was covered once; evaluating a discarded plan would pay the wave
  *    again).
  *  - DURABLE RE-READ: [[committed]] reads back a just-committed
  *    `batch=<id>`. Ledger rows derive from it, never from the in-memory
  *    plan that computed the verdict: that plan reads the ledger dirs the
  *    next commits append to, and any cache invalidation
  *    (`CacheManager.recacheByPath`) would re-derive it against ledgers
  *    already holding this batch — every doc would reject against itself.
  *    On a replay the committed dir is present and identical.
  *  - COMPACTION CADENCE: `compactEvery > 0` compacts once per that many
  *    batches, from inside the batch function after the wave's frames are
  *    released — single-writer-safe by construction, since foreachBatch IS
  *    the micro-batch. A writer whose ledgers compact independently runs
  *    them through [[WaveCommit.concurrently]]; each ledger keeps its own
  *    `_compacting` lease and table, so compactions of ONE ledger stay
  *    serialized. A replayed batch may re-run a compaction, an
  *    idempotent re-invocation ([[LedgerCompaction.compact]]).
  */
final class WaveCommit private (val batch: DataFrame, val batchId: Long,
    sinks: Set[String]) {
  val spark: SparkSession = batch.sparkSession
  private var commits = 0
  // each committed sink's schema, as written: the durable re-read needs
  // no inference job
  private val written = scala.collection.mutable.Map.empty[String, StructType]

  /** The ledger at `dir`, read with `schema`, as committed before this
    * wave. */
  def ledger(dir: String, schema: StructType): DataFrame =
    LedgerCompaction.read(spark, dir, schema, batchId)

  /** Count a commit to the declared sink at `dir`; true for the wave's
    * first. */
  private def begin(dir: String, rows: DataFrame): Boolean = {
    require(sinks(dir), s"$dir is not a declared sink of this writer")
    written(dir) = rows.schema
    commits += 1
    commits == 1
  }

  /** Commit `rows` as this wave's batch of the sink at `dir`. */
  def commit(dir: String, rows: DataFrame): Unit = {
    val onReplay: DataFrame => Unit =
      if (begin(dir, rows)) _ => batch.foreach(_ => ()) else _ => ()
    write(dir, rows, onReplay)
  }

  // the sink's write, its jobs described by the sink dir
  private def write(dir: String, rows: DataFrame,
      onReplay: DataFrame => Unit): Unit =
    RunMetrics.described(spark, dir)(
      IdempotentSink.writer(dir, onReplay)(rows, batchId))

  /** Commit each `dir -> rows` as this wave's batch of its sink, all at
    * once ([[WaveCommit.concurrently]]). Only after the verdict
    * [[commit]]: the rows must read nothing but the durable verdict and
    * the wave's frames (COMMIT ORDER). */
  def commitAll(ledgers: (String, DataFrame)*): Unit = {
    require(commits > 0, "commitAll follows the verdict commit")
    ledgers.foreach { case (dir, rows) => begin(dir, rows) }
    WaveCommit.concurrently(spark)(ledgers.map { case (dir, rows) =>
      () => write(dir, rows, _ => ()) })
    ()
  }

  /** This wave's committed batch of the sink at `dir`, read with the
    * schema its [[commit]] wrote. */
  def committed(dir: String): DataFrame =
    spark.read.schema(written(dir)).parquet(s"$dir/batch=$batchId")
}

object WaveCommit {

  /** The `foreachBatch` function running `body` once per wave over the
    * declared `sinks` (every dir the body commits to), then `compact` on
    * the `compactEvery` cadence (0 = never). */
  def writer(sinks: Seq[String], compactEvery: Int = 0,
      compact: SparkSession => Unit = _ => ())(
      body: WaveCommit => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      if (sinks.forall(IdempotentSink.isCommitted(spark, _, batchId)))
        batch.foreach(_ => ())
      else Cuts.scoped(body(new WaveCommit(batch, batchId, sinks.toSet)))
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compact(spark)
    }

  /** Run `tasks` at once, each on its own thread of a pool sized to them
    * and made for this call, with the calling thread's session and local
    * properties ([[GraftShim.onPoolThread]]: the SQL execution id, job
    * group and [[graft.obs.RunMetrics]] tag carry over); their results in
    * order. Every task finishes before the first failure, in task order,
    * is rethrown with the others suppressed on it — so the caller's
    * [[graft.core.Cuts.scoped]] never releases a leaf a task still reads.
    */
  def concurrently[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] = {
    require(tasks.nonEmpty, "concurrently needs at least one task")
    val pool = Executors.newFixedThreadPool(tasks.size)
    try {
      val outcomes = tasks.toVector
        .map(t => GraftShim.onPoolThread(spark, pool)(t()))
        .map(f => Try(f.join()) match {
          case Failure(e: CompletionException) if e.getCause != null =>
            Failure(e.getCause)
          case o => o
        })
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map(_.get)
      }
    } finally pool.shutdown()
  }
}
