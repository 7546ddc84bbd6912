package graft.streaming

import java.util.concurrent.ConcurrentLinkedDeque

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Leaves

/** One streaming WAVE — the single definition of the exactly-once
  * protocol every `foreachBatch` writer in this package runs. A writer
  * body holds only its stage logic; the wave owns everything else:
  *
  *  - SCOPE: [[persist]] is lazy, for frames the wave's SEQUENCED commits
  *    consume, each reading the frame from one place of its plan: the
  *    first commit fills the cache and the later ones read it. [[leaf]]
  *    is an eager localCheckpoint cut, for frames ONE action consumes
  *    from several subtrees — a lazy persist there is raced under AQE by
  *    its own consumers, which start before the cache holds a block and
  *    compute the chain concurrently — and for subtrees every commit
  *    would otherwise re-analyze. A kernel's `scope` argument (Dedup /
  *    IncrementalClusters / SemanticDedup) follows the same rule: `leaf`
  *    when the kernel's output feeds a single commit (the admission
  *    writers' verdict), `persist` when sequenced actions fold it (the
  *    cluster writers' label/merge state). A verdict frame one commit
  *    consumes is not scoped at all. Both kinds are released when the
  *    body returns or throws, so an unbounded stream holds no wave's
  *    blocks past its wave.
  *  - COMMIT ORDER: [[commit]] writes through [[IdempotentSink]] in call
  *    order. Every writer commits its verdict (or the delta every later
  *    sink derives from) FIRST and its ledgers LAST, so a ledger never
  *    commits ahead of the rows that justify it.
  *  - LEDGER HORIZON: stages read ledgers through [[ledger]], which holds
  *    the batches committed BEFORE this wave. The wave is then a pure
  *    function of (batch, prior ledgers): a crash after any prefix of
  *    commits replays into marker hits for the prefix and the first
  *    attempt's rows for the rest, even where the prefix already appended
  *    this batch to a ledger a later sink's rows are derived against.
  *  - REPLAY POLICY: on a marker hit the sink skips the write. The wave's
  *    first commit then still evaluates the SOURCE batch — an upstream
  *    stateful operator must recompute its state updates for Spark to
  *    commit the batch — and later commits do nothing (the source was
  *    covered once; evaluating a discarded plan would pay the wave again).
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
  *    the micro-batch. A replayed batch may re-run a compaction, an
  *    idempotent re-invocation ([[LedgerCompaction.compact]]).
  */
final class WaveCommit private (val batch: DataFrame, val batchId: Long) {
  val spark: SparkSession = batch.sparkSession
  // release actions, newest first: a frame is released before the frames
  // it was derived from, so no still-cached dependent is re-planned
  private val releases = new ConcurrentLinkedDeque[() => Unit]
  private var commits = 0
  // each committed sink's schema, as written: the durable re-read needs
  // no inference job
  private val written = scala.collection.mutable.Map.empty[String, StructType]

  /** Lazy persist released at wave end. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    releases.push(() => p.unpersist())
    p
  }

  /** Eager localCheckpoint cut released at wave end (through
    * [[graft.core.Leaves.release]]). */
  def leaf(df: DataFrame): DataFrame = adopt(df.localCheckpoint())

  /** Release the checkpoint behind a frame a kernel cut (see
    * [[graft.core.Leaves.release]]) at wave end, like [[leaf]]. */
  def adopt(cut: DataFrame): DataFrame = {
    releases.push(() => Leaves.release(cut))
    cut
  }

  /** The ledger at `dir`, read with `schema`, as committed before this
    * wave. */
  def ledger(dir: String, schema: StructType): DataFrame =
    LedgerCompaction.read(spark, dir, schema, batchId)

  /** Commit `rows` as this wave's batch of the sink at `dir`. */
  def commit(dir: String, rows: DataFrame): Unit = {
    val onReplay: DataFrame => Unit =
      if (commits == 0) _ => batch.foreach(_ => ()) else _ => ()
    commits += 1
    written(dir) = rows.schema
    IdempotentSink.writer(dir, onReplay)(rows, batchId)
  }

  /** This wave's committed batch of the sink at `dir`, read with the
    * schema its [[commit]] wrote. */
  def committed(dir: String): DataFrame =
    spark.read.schema(written(dir)).parquet(s"$dir/batch=$batchId")

  private def release(): Unit = releases.forEach(_())
}

object WaveCommit {

  /** The `foreachBatch` function running `body` once per wave, then
    * `compact` on the `compactEvery` cadence (0 = never). */
  def writer(compactEvery: Int = 0, compact: SparkSession => Unit = _ => ())(
      body: WaveCommit => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val wave = new WaveCommit(batch, batchId)
      try body(wave) finally wave.release()
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compact(batch.sparkSession)
    }
}
