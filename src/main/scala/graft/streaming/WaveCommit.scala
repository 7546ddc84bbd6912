package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Cuts

/** One streaming WAVE — the single definition of the exactly-once
  * protocol every `foreachBatch` writer in this package runs. A writer
  * body holds only its stage logic; the wave owns everything else:
  *
  *  - SCOPE: the body runs inside one [[graft.core.Cuts.scoped]] owner,
  *    so every cut the wave makes — its own and the ones its kernels
  *    make, fold deltas included — is released when the body returns or
  *    throws, and an unbounded stream holds no wave's blocks past its
  *    wave. The body picks each cut by the Cuts rule: `Cuts.persist` for
  *    frames the wave's SEQUENCED commits consume, each reading the frame
  *    from one place of its plan; `Cuts.leaf` for frames ONE action
  *    consumes from several subtrees and for subtrees every commit would
  *    otherwise re-analyze. A kernel's `scope` argument (Dedup /
  *    SemanticDedup) follows the same rule: `Cuts.leaf` when the kernel's
  *    output feeds a single commit (the admission writers' verdict), the
  *    default `Cuts.persist` when sequenced actions fold it (the cluster
  *    writers' label/merge state). A verdict frame one commit consumes is
  *    not cut at all.
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
  private var commits = 0
  // each committed sink's schema, as written: the durable re-read needs
  // no inference job
  private val written = scala.collection.mutable.Map.empty[String, StructType]

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
}

object WaveCommit {

  /** The `foreachBatch` function running `body` once per wave, then
    * `compact` on the `compactEvery` cadence (0 = never). */
  def writer(compactEvery: Int = 0, compact: SparkSession => Unit = _ => ())(
      body: WaveCommit => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      Cuts.scoped(body(new WaveCommit(batch, batchId)))
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compact(batch.sparkSession)
    }
}
