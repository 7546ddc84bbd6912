package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.streaming.LedgerCompaction

/** What the bench tools share: a wall-clock timer, the JSON array of a
  * series of seconds, and the bytes a directory or a streaming ledger
  * holds at rest. */
private[tools] object BenchKit {

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def arr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(c => dirBytes(c.toString)).sum
  }

  /** Ledger state at rest: remaining batch dirs + markers under the
    * ledger dir, plus the ACTIVE compacted generation's table data
    * directory (the sweep moves absorbed rows there — counting the dir
    * alone would understate a compacted ledger to near zero). */
  def ledgerBytes(spark: SparkSession, dir: String): Long =
    dirBytes(dir) + LedgerCompaction.currentCompaction(spark, dir)
      .map { case (_, table) =>
        val parts = table.split('.')
        val ti =
          if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
          else TableIdentifier(table)
        dirBytes(new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(ti).location).toUri.getPath)
      }.getOrElse(0L)
}
