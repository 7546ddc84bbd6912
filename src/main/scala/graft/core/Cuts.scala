package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.obs.RunMetrics

/** The engine's one way to cut lineage and cache a mid-frame, and to free
  * it again. The operator that builds a frame picks its cut by how the
  * frame is read; no caller passes a cut in.
  *
  *  - [[persist]] is LAZY, for SEQUENCED-action loops, each action
  *    reading the frame from one place of its plan: the first action
  *    fills the cache and the later ones read it
  *    ([[graft.dedup.IncrementalClusters.resolveThrough]]'s join-and-count
  *    rounds, a query's per-wave sketch).
  *  - [[leaf]] is an EAGER cut, for anything ONE action reads from
  *    several subtrees — the dedup, media, semantic and BM25 kernels'
  *    band rows, candidates, hot keys and rep frames included (a lazy
  *    persist there is raced under AQE by its own consumers, which start
  *    before the cache holds a block and compute the chain concurrently)
  *    — and for subtrees every later action would otherwise re-analyze.
  *    It is a reliable `checkpoint()` when the context has a checkpoint
  *    dir (`spark.checkpoint.dir` / `setCheckpointDir`: files that
  *    survive executor loss) and a `localCheckpoint()` otherwise. Its
  *    jobs carry the caller's `file:line` as their description
  *    ([[RunMetrics.described]]). [[countedLeaf]] also returns
  *    the leaf's row count, from the same action.
  *  - [[release]] frees a leaf early, once nothing will read it again.
  *  - [[scoped]] opens an OWNER on the calling thread: every cut made on
  *    that thread inside the block is released, newest first, when the
  *    block returns or throws. A query (Bench, Verify, the tools) and a
  *    streaming wave ([[graft.streaming.WaveCommit]]) each run in one
  *    scope, so nothing they cut outlives them, and two queries on two
  *    threads never release each other's frames. A scope nests: an inner
  *    scope releases only what it cut itself.
  *
  * Outside any scope a cut has no owner and keeps Spark's own lifetime
  * (the CacheManager holds a persist until `unpersist`; a leaf's blocks
  * or files live until the ContextCleaner collects its RDD). A frame
  * cached before [[persist]] is called — a session-lifetime fixture memo
  * — is never registered, so no scope releases it.
  *
  * A scoped block must CONSUME what it builds (collect/write) before it
  * returns: a lazy frame escaping the block reads released cuts.
  */
object Cuts {

  private final class Owner(val outer: Owner) {
    // release actions, newest first: a frame is released before the
    // frames it was derived from, so no still-cached dependent is
    // re-planned over a dropped parent
    var releases: List[() => Unit] = Nil
  }

  // a plain ThreadLocal: a thread started inside a scope does not inherit
  // its owner, so its cuts keep Spark's lifetime unless it opens its own
  private val owner = new ThreadLocal[Owner]

  private def own(release: () => Unit): Unit = {
    val o = owner.get
    if (o != null) o.releases ::= release
  }

  /** Persist `df` lazily and register it with the current scope. A plan
    * the CacheManager already holds (a semantically equal frame cached
    * earlier) is returned as is and not registered: its owner is whoever
    * cached it first. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      own(() => df.unpersist(false))
    }
    df
  }

  /** Cut `df` eagerly to a checkpoint-backed leaf — reliable when the
    * context has a checkpoint dir, local otherwise — and register it with
    * the current scope. */
  def leaf(df: DataFrame): DataFrame = {
    val l = RunMetrics.described(df.sparkSession, callerSite()) {
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    }
    own(() => release(l))
    l
  }

  // `File.scala:line` of the first frame outside Cuts: the code that cut
  private def callerSite(): String =
    new Throwable().getStackTrace.iterator
      .find(!_.getClassName.startsWith("graft.core.Cuts"))
      .fold("Cuts.leaf")(f => s"${f.getFileName}:${f.getLineNumber}")

  /** [[leaf]], plus the cut's row count, taken by the checkpoint action
    * itself through `Dataset.observe`: no second job counts the stored
    * rows. */
  def countedLeaf(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val l = leaf(df.observe(rows, count(lit(1)).as("rows")))
    (l, rows.get("rows").asInstanceOf[Long])
  }

  @scala.annotation.tailrec
  private def stored(r: RDD[_]): Option[RDD[_]] =
    if (r.getCheckpointFile.isDefined || r.getStorageLevel != StorageLevel.NONE) Some(r)
    else r.dependencies.headOption.map(_.rdd) match {
      case Some(parent) => stored(parent)
      case None => None
    }

  /** Free the storage behind a [[leaf]] — reliable checkpoint files
    * deleted, local-checkpoint blocks unpersisted — and a no-op on a frame
    * that is not a checkpoint-backed leaf. A leaf rebuilt over the cut's
    * rows ([[org.apache.spark.sql.GraftShim.checkpointFresh]]) has a
    * metrics RDD between its scan and the stored RDD, so the walk follows
    * the (linear) dependency chain down to the RDD that owns the files or
    * blocks.
    *
    * Only call it on a leaf nothing will read again: a truncated lineage
    * cannot recompute, so an action over a released leaf FAILS rather
    * than silently recomputing. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD =>
      stored(l.rdd).foreach { r =>
        r.getCheckpointFile match {
          case Some(f) =>
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          case None => r.unpersist(false)
        }
      }
    case _ => ()
  }

  /** Run `f` as the owner of every cut made on this thread inside it, and
    * release them all, newest first, when `f` returns or throws. */
  def scoped[T](f: => T): T = {
    val o = new Owner(owner.get)
    owner.set(o)
    try f
    finally {
      if (o.outer == null) owner.remove() else owner.set(o.outer)
      o.releases.foreach(_())
    }
  }
}
