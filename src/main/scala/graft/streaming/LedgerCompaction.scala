package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Generic maintenance engine for the [[IdempotentSink]]-style ledgers the
  * streaming dedup family persists ([[DedupStream]]'s fingerprint ledger,
  * [[NearDupStream]]'s band and shingle-set ledgers): absorb the
  * accumulated `batch=<id>` directories into ONE bucketed metastore table
  * behind a versioned marker, so a long-running stream's per-batch ledger
  * read stops paying per-file opens over an ever-growing dir list and the
  * per-batch join/anti-join plans with ZERO Exchange on the ledger side
  * (the table arrives pre-partitioned on the join key).
  *
  * All ledgers compacted here are ROW SETS under duplication — replayed
  * batches and crash windows may duplicate rows, and every consumer
  * (anti-join, candidate join, verification join) is insensitive to
  * duplicates — so compaction's `distinct()` is semantics-preserving and
  * temporary table/dir overlap during a generation switch is harmless.
  *
  * == Schema evolution ==
  * Every row read here passes through the caller's declared `schema`:
  * batch dirs are scanned WITH that schema (parquet null-fills columns a
  * pre-upgrade file lacks, per file — a plain inferred read over mixed
  * old/new dirs would instead pick one file's schema and either fail the
  * select or silently project the new columns away), and generation
  * tables written before a column existed are conformed with typed
  * nulls. Compaction therefore carries new columns forward losslessly;
  * callers that can RECONSTRUCT the missing values pass a `transform`
  * (see [[compact]]) to backfill them at absorb time.
  *
  * == Crash safety ==
  * Marker discipline as in [[IdempotentSink]]: the new generation's table
  * is written first, its `_compactedtable-<v>` marker renamed into place
  * second (tmp + rename, atomic), cleanup last — at every kill point
  * [[read]] resolves either the old complete state or the new one.
  * Re-invoking a crashed compaction resumes it (idempotent), including
  * across a JVM restart whose non-durable metastore forgot the half-written
  * table while its warehouse directory survived. Markers store the
  * db-QUALIFIED table name and its resolved location, so readers and
  * sweepers in a session whose current database differs from the
  * compactor's still resolve the right table and directory (markers
  * written before the location line read with the legacy current-database
  * fallback).
  *
  * == Concurrency with the stream ==
  * [[read]] resolves the marker, then lists batch dirs, then lazily scans.
  * Cleanup is DEFERRED BY ONE GENERATION: creating generation `w` deletes
  * only generations OLDER than the previous one `v` and batch dirs
  * `<= v` — never `v`'s table or the dirs in `(v, w]` — so a reader that
  * resolved marker `v` still finds every path it planned over after ANY
  * single compaction completes mid-read (spec-pinned by compacting between
  * plan construction and action). [[read]] additionally closes the
  * stalled-reader window INSIDE itself: after resolving it re-checks the
  * marker and re-plans from scratch whenever ANY newer generation landed
  * since the resolve (and retries on a scan resolution that raced a
  * sweep), so a read can stall arbitrarily long before building its plan
  * and always plans from the freshest marker, entering its return with
  * the full one-generation margin intact. The closed
  * contract is therefore: a frame RETURNED by [[read]] stays fully
  * readable until the SECOND compaction that completes after it returns —
  * and since a compactor is single-writer per ledger (the stream's own
  * `compactEvery` hook runs at most once per micro-batch, after the
  * batch's reads are consumed), an in-stream reader can never see two.
  * External compactors must keep invocations spaced wider than one
  * micro-batch — the same single-writer contract as
  * [[graft.similarity.Ann.writeIvfIndex]] — and the contract is now
  * CHECKED, not just convention: [[compact]] takes a `_compacting`
  * write-if-absent lease first, so a second concurrent compactor
  * defers cleanly (no writes, ledger stays readable) and a crashed
  * holder's stale lease is stolen after `leaseTimeoutMs`.
  */
object LedgerCompaction {

  private val CompactedPrefix = "_compactedtable-"

  /** Test seam: runs inside [[read]] between the marker resolution and the
    * re-check/plan build — specs inject compactions here to force the
    * stalled-reader window. Production never touches it. */
  private[graft] var readRaceHook: () => Unit = () => ()

  private def fsOf(spark: SparkSession, dir: String) = {
    val root = new Path(dir)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def tableIdentifier(name: String) = {
    val parts = name.split('.')
    if (parts.length == 2)
      org.apache.spark.sql.catalyst.TableIdentifier(
        parts(1).toLowerCase, Some(parts(0).toLowerCase))
    else org.apache.spark.sql.catalyst.TableIdentifier(name.toLowerCase)
  }

  private def quoted(name: String): String =
    name.split('.').map(p => s"`$p`").mkString(".")

  /** A table's resolved data directory: the marker-stored location when
    * present (always, for markers written at this version), else the
    * catalog-default path of the (possibly qualified) name — the legacy
    * fallback for pre-upgrade markers, correct only when the reading
    * session's current database matches the compactor's. */
  private def tableLocation(spark: SparkSession, table: String,
      location: Option[String]): String =
    location.getOrElse(
      spark.sessionState.catalog.defaultTablePath(tableIdentifier(table)).toString)

  /** Delete a table's data directory if it exists without a catalog entry —
    * the orphan a crash leaves when the JVM dies after `saveAsTable` but
    * before its marker, and a restart's non-durable metastore has forgotten
    * the table (so `DROP TABLE IF EXISTS` no-ops while the location blocks
    * every re-create with LOCATION_ALREADY_EXISTS). */
  private def deleteLocation(spark: SparkSession, table: String,
      location: Option[String]): Unit = {
    val loc = new Path(tableLocation(spark, table, location))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** All generation markers under `dir`, version-sorted ascending. */
  private def generations(spark: SparkSession,
      dir: String): Seq[(Long, Path)] = {
    val (root, fs) = fsOf(spark, dir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(CompactedPrefix))
      .map(p => p.getName.stripPrefix(CompactedPrefix).toLong -> p)
      .sortBy(_._1)
  }

  /** Marker payload: line 1 the (db-qualified) table name, line 2 — absent
    * in pre-upgrade markers — the table's resolved location URI. */
  private def markerInfo(fs: org.apache.hadoop.fs.FileSystem,
      marker: Path): (String, Option[String]) = {
    val in = fs.open(marker)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    (lines.head, lines.drop(1).headOption)
  }

  /** The current compaction generation: (version, metastore table name),
    * read from the HIGHEST-versioned `_compactedtable-<v>` marker. Marker
    * files are tiny and written via tmp + rename, so a reader never sees a
    * half-written name; `_`-prefixed names keep them out of Spark's file
    * listings like the batch markers.
    */
  def currentCompaction(spark: SparkSession,
      ledgerDir: String): Option[(Long, String)] =
    resolve(spark, ledgerDir).map { case (v, t, _) => (v, t) }

  private def resolve(spark: SparkSession,
      ledgerDir: String): Option[(Long, String, Option[String])] = {
    val (_, fs) = fsOf(spark, ledgerDir)
    generations(spark, ledgerDir).lastOption.map { case (v, p) =>
      val (t, loc) = markerInfo(fs, p)
      (v, t, loc)
    }
  }

  /** A generation's rows. The durable commit is the MARKER + the table's
    * data DIRECTORY; the catalog entry is convenience that a non-durable
    * metastore forgets across a JVM restart (the local/test deployment —
    * a production Hive metastore keeps it). With the entry present this is
    * the bucketed table scan, partitioning and all; without it, a plain
    * path read of the marker-stored location — identical rows, but bucket
    * metadata is catalog-resident, so ledger joins pay an exchange again
    * until the next [[compact]] registers a generation in the restarted
    * JVM's catalog (which it always does: its union reads THROUGH this
    * same fallback).
    */
  private def generationFrame(spark: SparkSession, table: String,
      location: Option[String]): DataFrame =
    if (spark.catalog.tableExists(table)) spark.table(quoted(table))
    else spark.read.parquet(tableLocation(spark, table, location))

  /** Conform a frame to `schema`'s columns: typed nulls for columns the
    * frame predates (a Project over a bucketed table scan — its output
    * partitioning survives to the consumer join). */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(schema.fieldNames.toSeq.map(col): _*)

  /** The given committed batch dirs' rows, scanned WITH the declared
    * schema so pre-upgrade files null-fill evolved columns per file; a
    * typed empty frame when there are none. */
  private def batchFrame(spark: SparkSession, ledgerDir: String,
      schema: StructType, ids: Seq[Long]): DataFrame =
    if (ids.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema)
      .parquet(ids.map(id => s"$ledgerDir/batch=$id"): _*)

  /** The committed ledger rows, conformed to `schema`'s columns: the
    * bucketed table of the newest generation (if any) unioned with every
    * `batch=` dir committed SINCE that generation; a typed empty frame
    * before the first commit. Once all batches are absorbed the read is
    * the bucketed table ALONE — no union node — so the table scan's
    * output partitioning survives to the consumer join (spec-pinned:
    * ledger-side joins plan with zero Exchange).
    *
    * Safe against concurrent compactions per the contract in the object
    * doc: any number completing INSIDE this call (the re-check loop
    * below re-plans), plus one more before the returned frame's action.
    */
  def read(spark: SparkSession, ledgerDir: String,
      schema: StructType): DataFrame =
    read(spark, ledgerDir, schema, Long.MaxValue)

  /** [[read]] without the `batch=` dirs from `before` on — the ledger as
    * committed before a wave ([[WaveCommit.ledger]]). */
  private[streaming] def read(spark: SparkSession, ledgerDir: String,
      schema: StructType, before: Long): DataFrame = {
    var tries = 0
    var lastFailure: Throwable = null
    while (tries < 64) {
      val planned = resolve(spark, ledgerDir)
      readRaceHook()
      // stalled-reader re-check: plan only from the FRESHEST marker — if
      // ANY generation landed since the resolve above, re-resolve and
      // re-plan. (One newer generation would still be readable — the
      // deferred sweep never touches the second-newest's paths — but
      // planning from a stale marker would spend that one-generation
      // margin before the frame is even returned, weakening the
      // "readable until the SECOND compaction after return" contract for
      // externally-compacted ledgers.)
      val newer = generations(spark, ledgerDir)
        .count { case (v, _) => planned.forall(v > _._1) }
      if (newer == 0) {
        try {
          return planned match {
            case None =>
              batchFrame(spark, ledgerDir, schema,
                IdempotentSink.committedBatches(spark, ledgerDir)
                  .filter(_ < before))
            case Some((version, table, loc)) =>
              val compacted = conform(
                generationFrame(spark, table, loc), schema)
              val fresh = IdempotentSink.committedBatches(spark, ledgerDir)
                .filter(id => id > version && id < before)
              if (fresh.isEmpty)
                compacted // preserve the bucketed partitioning — no union node
              else compacted.unionByName(
                batchFrame(spark, ledgerDir, schema, fresh))
          }
        } catch {
          // a sweep racing the scan resolution (dropped table / deleted
          // dir) is possible only when newer generations landed between
          // the re-check and here — verify that before swallowing: with
          // the generation set unchanged this is a PERMANENT failure
          // (corrupt generation table, genuine schema mismatch), and
          // retrying 64 times would only bury the root cause under a
          // misleading "is a compactor looping?" report
          case e @ (_: org.apache.spark.sql.AnalysisException
            | _: java.io.FileNotFoundException) =>
            val nowNewer = generations(spark, ledgerDir)
              .count { case (v, _) => planned.forall(v > _._1) }
            if (nowNewer == 0) throw e
            lastFailure = e
        }
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"LedgerCompaction.read($ledgerDir): could not resolve a stable " +
        "generation after 64 attempts — is a compactor looping?",
      lastFailure)
  }

  /** Absorb every committed `batch=` dir (plus the previous generation's
    * table) into a NEW generation bucketed on `bucketCols`, then run the
    * deferred cleanup sweep. With nothing new to absorb only the sweep
    * runs. Returns the active generation's (qualified) table name, or
    * None when the ledger has never committed anything.
    *
    * `transform` runs over the distinct unioned rows before the write —
    * the hook callers use to BACKFILL evolved columns for pre-upgrade rows
    * (e.g. [[NearDupStream.compactLedgers]] reconstructing kpfx/sz). It
    * must be pure, deterministic, and schema-preserving: a crashed run
    * re-executes it from scratch on resume, and its output is what every
    * subsequent read serves.
    *
    * Sequence (each step idempotent — a crashed run resumes on re-invoke):
    *  1. distinct union (previous table + committed batch rows), through
    *     `transform`, written to a NEW versioned table — readers still
    *     resolve the old marker;
    *  2. the new marker renamed into place — readers now resolve the new
    *     table; rows temporarily duplicated between table and
    *     not-yet-swept dirs, which set semantics tolerate;
    *  3. deferred sweep: generations older than the SECOND-newest marker
    *     are dropped (table and data directory FIRST, marker LAST — a
    *     crash mid-sweep then leaves a marker whose table is already
    *     gone, which the next sweep's idempotent deletes finish, whereas
    *     the reverse order leaked an unreferenced table forever), and
    *     batch dirs `<=` the second-newest version deleted (their marker
    *     first — a dir without a marker is invisible to committed reads).
    *     The second-newest generation itself survives until the next one
    *     lands, which is what makes concurrent reads safe.
    *
    * A batch REPLAYED by the stream after its dir was swept (restart from
    * an old checkpoint) recomputes the identical output — its rows are
    * still in the ledger via the table, and the computation is a pure
    * function of (batch, committed ledger) — and rewrites its dir:
    * harmless duplication that [[read]] excludes (`> version` filter) and
    * a later sweep removes.
    */
  /** Best-effort write-if-absent lease defending the single-writer
    * contract: a SECOND compactor invoked while one is running defers
    * (returns the current generation, compacts nothing) instead of
    * interleaving its generation writes and sweeps with the holder's. A
    * lease older than `leaseTimeoutMs` is presumed crashed and STOLEN —
    * the compaction body is already idempotent-resumable, so taking
    * over a dead holder's half-written generation is safe. The lease is
    * advisory defense-in-depth (HDFS/local `create(overwrite=false)` is
    * atomic; object stores without atomic create keep only the
    * documented convention) — correctness never depends on it, it just
    * converts a contract violation into a clean no-op.
    *
    * The lease file carries a unique HOLDER TOKEN plus its CREATE
    * TIMESTAMP (second line), returned on success:
    *  - release ([[releaseLease]]) deletes only a lease still carrying
    *    the caller's token, so a holder that overran `leaseTimeoutMs`
    *    and was stolen from can no longer delete the thief's lease and
    *    admit a third writer;
    *  - staleness is judged from the EMBEDDED timestamp when present
    *    (mtime only as a fallback for foreign/empty lease files): file
    *    mtime is not rename-invariant on copy-based-rename stores
    *    (e.g. S3A), where a steal's own rename would refresh a dead
    *    lease into looking live and starve every subsequent steal;
    *  - stealing is RENAME-then-check, not delete+create: rename is
    *    atomic, so of two racing stealers exactly one moves the file
    *    (the loser defers), and a steal that accidentally grabbed a
    *    LIVE lease (created in the check→rename window) detects it by
    *    the embedded timestamp and puts it back. If the put-back loses
    *    to yet another lease, the displaced LIVE holder keeps running
    *    while the new lease admits a second writer — that residual
    *    two-writer window is logged loudly with the displaced holder's
    *    token (the grabbed file is still deleted: leaving it leaks a
    *    grab file forever and restores nobody's exclusivity).
    * One unavoidable TOCTOU remains in release (read-then-delete is two
    * calls) — within the advisory contract above.
    */
  private def acquireLease(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      leaseTimeoutMs: Long): Option[String] = {
    val lease = new Path(root, "_compacting")
    val token = java.util.UUID.randomUUID().toString
    def tryCreate(): Boolean =
      try {
        val o = fs.create(lease, false)
        try o.write(s"$token\n${System.currentTimeMillis()}".getBytes("UTF-8"))
        finally o.close()
        true
      } catch { case _: java.io.IOException => false }
    // (holder token, embedded create time) — None when the file is gone
    // or unreadable mid-race; a readable body with no/garbled second
    // line (a pre-timestamp or hand-made lease) yields ts = None
    def leaseBody(p: Path): Option[(String, Option[Long])] =
      try {
        val in = fs.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = txt.split("\n", -1)
        Some((lines(0).trim,
          if (lines.length > 1) lines(1).trim.toLongOption else None))
      } catch {
        case _: java.io.FileNotFoundException => None
        case _: java.io.IOException => None
      }
    def ageStale(p: Path): Option[Boolean] = {
      val created = leaseBody(p).flatMap(_._2).orElse(
        try Some(fs.getFileStatus(p).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None })
      created.map(System.currentTimeMillis() - _ > leaseTimeoutMs)
    }
    if (tryCreate()) return Some(token)
    ageStale(lease) match {
      case None => // holder released between create and stat: one retry
        if (tryCreate()) Some(token) else None
      case Some(false) => None // live holder: defer
      case Some(true) =>
        // steal via atomic rename to a private name — one winner only
        val grabbed = new Path(root, s".compacting-grab-$token")
        val won =
          try fs.rename(lease, grabbed)
          catch { case _: java.io.IOException => false }
        if (!won) None
        else if (ageStale(grabbed).contains(false)) {
          // grabbed a LIVE lease (fresh one landed in the check→rename
          // window): put it back; if yet another lease appeared, the
          // displaced holder can't be restored — surface it (two
          // writers may now interleave; advisory contract) and drop
          // the grab file rather than leak it
          if (!fs.rename(grabbed, lease)) {
            val displaced = leaseBody(grabbed).map(_._1).getOrElse("<unreadable>")
            log.warn(s"ledger compaction lease at $lease: put-back of a " +
              s"live lease (holder $displaced) lost to a newer lease — " +
              "the displaced holder and the new holder may compact " +
              "concurrently until one finishes (advisory single-writer " +
              "contract; compaction itself is idempotent-resumable)")
            fs.delete(grabbed, false)
          }
          None
        } else {
          fs.delete(grabbed, false)
          if (tryCreate()) Some(token) else None
        }
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Delete the lease only while it still carries `token` — a stolen-from
    * holder finds the thief's token and leaves the lease alone. */
  private def releaseLease(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      token: String): Unit = {
    val lease = new Path(root, "_compacting")
    try {
      val in = fs.open(lease)
      val held =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .split("\n", -1)(0).trim
        finally in.close()
      if (held == token) fs.delete(lease, false)
    } catch {
      case _: java.io.FileNotFoundException => ()
      case _: java.io.IOException => ()
    }
  }

  def compact(spark: SparkSession, ledgerDir: String, schema: StructType,
      bucketCols: Seq[String], buckets: Int,
      transform: DataFrame => DataFrame = identity,
      leaseTimeoutMs: Long = 30L * 60 * 1000): Option[String] = {
    val (root, fs) = fsOf(spark, ledgerDir)
    // never-written ledger: nothing to compact, and taking a lease would
    // materialize the directory as a side effect
    if (!fs.exists(root)) return None
    // single-writer lease FIRST: a concurrent compactor defers cleanly —
    // the ledger stays readable (nothing written) and the next
    // maintenance cadence retries; a stale lease (crashed holder) is
    // stolen via atomic rename (see acquireLease)
    val token = acquireLease(fs, root, leaseTimeoutMs) match {
      case None => return resolve(spark, ledgerDir).map(_._2)
      case Some(t) => t
    }
    try {
    // snapshot the write plan INSIDE the lease: a compactor that wins the
    // lease just after another released must plan its version, fresh set,
    // and sweep from a post-lease view, not from a snapshot the previous
    // holder's generation switch already invalidated
    val ids = IdempotentSink.committedBatches(spark, ledgerDir)
    val current = resolve(spark, ledgerDir)
    val fresh = current.fold(ids) { case (v, _, _) => ids.filter(_ > v) }
    if (ids.isEmpty && current.isEmpty) return None

    if (fresh.nonEmpty) {
      val version = math.max(ids.max, current.map(_._1 + 1).getOrElse(0L))
      val marker = new Path(root, s"$CompactedPrefix$version")
      if (!fs.exists(marker)) {
        // deterministic per-ledger table family; the dir hash keys the
        // family so two ledgers in one warehouse never collide
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(ledgerDir.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        val table = s"graft_ledger_${digest}_v$version"
        val batchRows = batchFrame(spark, ledgerDir, schema, ids)
        val all = transform(current
          .map { case (_, t, loc) =>
            conform(generationFrame(spark, t, loc), schema)
              .unionByName(batchRows) }
          .getOrElse(batchRows)
          .distinct())
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        // a crash between writeBucketedMulti and the marker rename,
        // followed by a JVM restart with a non-durable metastore, leaves
        // the table's warehouse DIRECTORY behind while the catalog forgot
        // the table — the DROP above is then a no-op and saveAsTable would
        // refuse with LOCATION_ALREADY_EXISTS forever, wedging compaction.
        // Clear the stale location first (same defense, and same
        // single-writer contract, as graft.similarity.Ann.writeIvfIndex).
        deleteLocation(spark, table, None)
        graft.core.Layout.writeBucketedMulti(all, table, bucketCols, buckets)
        // marker payload: db-qualified name + resolved location, so a
        // reader or sweeper whose current database differs still finds
        // both the catalog entry and the directory
        val qualified = s"${spark.catalog.currentDatabase}.$table"
        val location = spark.sessionState.catalog
          .getTableMetadata(tableIdentifier(table)).location.toString
        val tmp = new Path(root, s".$CompactedPrefix$version.tmp")
        val o = fs.create(tmp, true)
        try o.write(s"$qualified\n$location".getBytes("UTF-8"))
        finally o.close()
        if (!fs.rename(tmp, marker))
          throw new java.io.IOException(
            s"compactLedger: rename $tmp -> $marker failed")
      }
    }

    // deferred sweep: with >= 2 generations on disk, everything the
    // SECOND-newest had already absorbed is garbage no reader can still
    // reference (any reader holds the newest or second-newest marker;
    // see the concurrency contract in the object doc)
    val gens = generations(spark, ledgerDir)
    if (gens.size >= 2) {
      val keepFrom = gens(gens.size - 2)._1
      gens.filter(_._1 < keepFrom).foreach { case (_, p) =>
        val (old, oldLoc) = markerInfo(fs, p)
        // table and data dir first, marker last (see step 3 above)
        spark.sql(s"DROP TABLE IF EXISTS ${quoted(old)}")
        deleteLocation(spark, old, oldLoc)
        fs.delete(p, false)
      }
      IdempotentSink.committedBatches(spark, ledgerDir)
        .filter(_ <= keepFrom)
        .foreach { id =>
          fs.delete(new Path(root, s"_committed-$id"), false)
          fs.delete(new Path(root, s"batch=$id"), true)
        }
    }
    currentCompaction(spark, ledgerDir).map(_._2)
    } finally releaseLease(fs, root, token)
  }
}
