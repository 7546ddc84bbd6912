package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.dedup.Dedup

/** Streaming exact dedup: a `foreachBatch` pipeline that admits each
  * micro-batch's first-seen documents and drops everything already seen —
  * in the batch or in ANY previous batch — with exactly-once output.
  *
  * This is the streaming form of [[graft.dedup.Dedup.exactIncremental]]
  * (q100): the "already seen" state is NOT a Spark state store but a
  * persisted FINGERPRINT LEDGER on the sink filesystem, one
  * `batch=<id>` directory of admitted fingerprints per micro-batch,
  * committed through [[IdempotentSink]]'s marker protocol. A state-store
  * design (`dropDuplicates` / flatMapGroupsWithState keyed on
  * fingerprint) holds every fingerprint ever seen in executor state —
  * unbounded growth that checkpoints in full every batch and cannot be
  * compacted, inspected, or shared; the ledger is plain bucketable
  * parquet whose per-batch cost is one batch-side shuffle plus an
  * anti-join that a bloom/bucket layout prunes
  * ([[graft.core.Layout]]-style maintenance applies: periodically
  * compact old `batch=` dirs into one bucketed-by-`fp` segment and the
  * anti-join's ledger exchange disappears).
  *
  * Exactly-once across crash/replay with NO cross-write transaction:
  * survivors are computed against the ledger as committed before the
  * batch, and commit before it ([[WaveCommit]]'s protocol).
  *
  * Reference shape: tfl-realtime-lakehouse re-snapshots and re-dedupes
  * whole tables per DAG run (`airflow/dags/tfl_transform_dag.py`); this
  * operator is the incremental form whose per-batch work scales with the
  * batch, not the corpus — the only viable shape at 100 TB ingest.
  */
object DedupStream {

  private[streaming] val FpSchema = StructType(Seq(StructField("fp", StringType)))

  /** The committed ledger's fingerprints: the fp-bucketed compacted table
    * (if [[compactLedger]] has run) unioned with every `batch=` dir
    * committed since; an empty-but-typed frame before the first commit
    * (the sink owns the schema — see [[IdempotentSink.readCommitted]]).
    * Once all batches are compacted the read is the bucketed table ALONE,
    * so the incremental-dedup anti-join's ledger side plans with zero
    * Exchange (spec-pinned in StreamingDedupSpec).
    *
    * Safe against a compaction completing concurrently with the stream's
    * micro-batch that calls this: see [[LedgerCompaction]]'s deferred-
    * cleanup contract (nothing one new generation deletes is a path this
    * read planned over; spec-pinned by compacting between plan build and
    * action).
    */
  def ledgerFps(spark: SparkSession, ledgerDir: String): DataFrame =
    LedgerCompaction.read(spark, ledgerDir, FpSchema)

  /** The current compaction generation — see
    * [[LedgerCompaction.currentCompaction]]. */
  def currentCompaction(spark: SparkSession,
      ledgerDir: String): Option[(Long, String)] =
    LedgerCompaction.currentCompaction(spark, ledgerDir)

  /** Compact every committed `batch=` dir (plus any previous compaction)
    * into ONE fp-bucketed metastore table — the ledger maintenance job the
    * scale story depends on: an anti-join against years of per-batch
    * slivers pays per-file opens and a full ledger exchange every
    * micro-batch, while the bucketed table arrives pre-partitioned on
    * `fp` and joins with zero Exchange on the ledger side. Crash-safety,
    * replay interaction, and the stream-concurrency contract live on the
    * shared engine, [[LedgerCompaction.compact]].
    *
    * Returns the active compacted table name, or None when the ledger has
    * never committed anything.
    */
  def compactLedger(spark: SparkSession, ledgerDir: String,
      buckets: Int = 8): Option[String] =
    LedgerCompaction.compact(spark, ledgerDir, FpSchema, Seq("fp"), buckets)

  /** The `foreachBatch` function:
    * `stream.writeStream.foreachBatch(DedupStream.writer(out, ledger, "text", "doc_id"))`.
    *
    * Emits one row per admitted fingerprint — (fp, keep_id, n_dups), the
    * [[graft.dedup.Dedup.exact]] survivor contract — under
    * `survivorsDir/batch=<id>`, and the admitted fingerprints under
    * `ledgerDir/batch=<id>`.
    *
    * `compactEvery` runs [[compactLedger]] on [[WaveCommit]]'s cadence.
    */
  def writer(survivorsDir: String, ledgerDir: String, textCol: String,
      idCol: String, compactEvery: Int = 0): (DataFrame, Long) => Unit =
    WaveCommit.writer(compactEvery, compactLedger(_, ledgerDir)) { wave =>
      // both commits action the same plan; the persist keeps the dedup +
      // anti-join from running twice
      val survivors = wave.persist(Dedup.exactIncremental(
        wave.batch, textCol, idCol, wave.ledger(ledgerDir, FpSchema)))
      wave.commit(survivorsDir, survivors)
      wave.commit(ledgerDir, survivors.select("fp"))
    }
}
