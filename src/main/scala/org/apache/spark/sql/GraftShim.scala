package org.apache.spark.sql

/** The bridges the engine needs into Spark's package-private internals:
  *  - [[drainListenerBus]], the listener bus's `private[spark]` flush, so
  *    [[graft.obs.RunMetrics]] reads a run's record only after every event
  *    the run posted has been delivered;
  *  - [[phases]], the planning phases of the `private[sql]` query
  *    execution an execution-end event carries;
  *  - [[onPoolThread]], which runs a body on a pool thread with the
  *    caller's session and local properties
  *    ([[graft.streaming.WaveCommit.concurrently]]);
  *  - [[resetStats]] and [[checkpointFresh]], which rebuild a cut's leaf
  *    from `private[sql]` plan nodes, for the reasons below.
  *
  * `Dataset.checkpoint()` builds its `LogicalRDD` leaf via
  * `rewriteStatsAndConstraints`, which copies the ORIGIN plan's computed
  * statistics onto the new leaf. For an iterative algorithm whose round
  * contains a self-join (connected components' pointer jump), the
  * inherited `sizeInBytes` therefore SQUARES every round — the BigInt
  * doubles in bit length per iteration, and by round ~14 the driver spends
  * minutes in Toom-Cook multiplication inside
  * `SizeInBytesOnlyStatsPlanVisitor` (measured: 800 s of driver CPU on a
  * 50 k-row graph). Re-wrapping the checkpointed rows in a FRESH
  * `LogicalRDD` with NO origin statistics resets the leaf to default
  * stats, which is also more truthful: post-checkpoint, the origin plan's
  * estimate carries no information the materialized RDD doesn't have.
  *
  * The leaf must KEEP the physical output partitioning and ordering,
  * though (the earlier `internalCreateDataFrame` form dropped them):
  * connected components checkpoints its directed edge list hash-
  * partitioned on the propagation join key precisely so every pointer-
  * jump round reuses that layout — with the partitioning erased, each
  * round re-exchanged the static 263 MB edge list (measured on q107's
  * 34M-edge graph: 5 duplicate edge exchanges, ~1.3 GB of the query's
  * 3.1 GB shuffle). `LogicalRDD.fromDataset` performs Spark's own
  * attribute rewriting for exactly this purpose; we rebuild its result
  * minus the origin stats/constraints.
  */
object GraftShim {

  /** Block until the listener bus has delivered every event posted so far
    * (Spark's own `waitUntilEmpty`, with its 10 s timeout). Jobs post their
    * end events before their actions return, so after a drain a listener
    * has seen all of them. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The analysis, optimization and planning times of the query
    * execution an execution-end event closes; None when it carries none. */
  def phases(e: execution.ui.SparkListenerSQLExecutionEnd):
      Option[graft.obs.RunMetrics.Execution] =
    Option(e.qe).map { qe =>
      def ms(phase: String) = qe.tracker.phases.get(phase).fold(0L)(_.durationMs)
      graft.obs.RunMetrics.Execution(e.executionId,
        ms("analysis"), ms("optimization"), ms("planning"))
    }

  /** Run `body` on a thread of `pool` as if on the calling thread: Spark's
    * own `SQLExecution.withThreadLocalCaptured` carries over the active
    * session and every local property (SQL execution id, job group, the
    * [[graft.obs.RunMetrics]] tag), so the body's jobs are attributed
    * exactly as the caller's. */
  def onPoolThread[T](spark: SparkSession,
      pool: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], pool)(body)

  /** Rebuild `df` as a bare scan of its (already materialized) internal
    * rows — physical partitioning and ordering preserved, inherited
    * statistics and constraints dropped. The RDD is NOT recomputed —
    * `toRdd` of a checkpointed frame is the checkpoint-backed RDD itself.
    */
  def resetStats(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val withStats = execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(withStats.output, withStats.rdd,
        withStats.outputPartitioning, withStats.outputOrdering,
        withStats.isStreaming)(spark, None, None))
  }

  /** Cut `df` to a [[graft.core.Cuts.leaf]] (reliable or local, owned by
    * the current scope) and rebuild that leaf with DEFAULT statistics and
    * the origin plan's FINAL hash partitioning.
    *
    * `Dataset.checkpoint` under AQE records `UnknownPartitioning`: it
    * reads `executedPlan.outputPartitioning` from the
    * `AdaptiveSparkPlanExec` wrapper, whose partitioning is not final at
    * that point — so a frame deliberately `repartition(k)`-ed before the
    * checkpoint loses its layout, and every downstream consumer join
    * re-exchanges what was laid out exactly for it (measured on q107's
    * 34M-directed-edge CC: one full edge-sized exchange per pointer-jump
    * round). Here the checkpoint action runs FIRST (the adaptive plan is
    * then final), and the leaf is rebuilt with the final plan's
    * `HashPartitioning` rewritten onto the checkpoint's output
    * attributes — falling back to unknown when the expressions don't
    * resolve (aliased outputs), never claiming a layout the rows don't
    * have. Stats start fresh for the [[resetStats]] reason above.
    */
  def checkpointFresh(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet}
    import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning, HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val ck = graft.core.Cuts.leaf(df).asInstanceOf[classic.Dataset[_]]
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case o => o
    }
    val finalPlan = ds.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val lr = ck.queryExecution.analyzed.collectFirst {
      case l: execution.LogicalRDD => l
    }.getOrElse(throw new IllegalStateException(
      "checkpointFresh: checkpoint did not produce a LogicalRDD leaf"))
    val attrMap = AttributeMap(finalPlan.output.zip(lr.output))
    def rewriteHash(h: HashPartitioning): Option[HashPartitioning] = {
      val r = h.copy(expressions = h.expressions.map(_.transform {
        case a: Attribute => attrMap.getOrElse(a, a)
      }))
      if (r.references.subsetOf(AttributeSet(lr.output))) Some(r) else None
    }
    // AQE coalescing wraps the hash layout in CoalescedHashPartitioning —
    // still hash-clustered on the same keys over the checkpointed RDD's
    // (coalesced) partitions, so preserve it rather than dropping to
    // unknown (the probe case: every small-fixture repartition coalesces)
    val part = firstLeaf(finalPlan.outputPartitioning) match {
      case h: HashPartitioning =>
        rewriteHash(h).getOrElse(UnknownPartitioning(0))
      case c: CoalescedHashPartitioning =>
        rewriteHash(c.from).map(f => c.copy(from = f))
          .getOrElse(UnknownPartitioning(0))
      case _ => UnknownPartitioning(0)
    }
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(lr.output, lr.rdd, part, Nil,
        lr.isStreaming)(spark, None, None))
  }
}
