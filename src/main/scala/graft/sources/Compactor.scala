package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPTIMIZE-style Parquet compaction — the Spark-native shape of the
  * reference's buffer-pool persistence/eviction lifecycle
  * (database/src/buffer_pool.rs:167-614 clock/LRU eviction to files,
  * file_handler.rs:30): segments land continuously (the streaming tier-0
  * sink appends one file set per micro-batch), so the store accretes
  * many small files — the classic 100 TB operational problem: file-open
  * overhead dominates scans, the driver's split enumeration balloons,
  * and row-group stats lose selectivity.
  *
  * `compact` rewrites a store to ~targetBytes files, clustering by the
  * given sort columns (repartitionByRange + sortWithinPartitions) so
  * row-group min/max stats stay selective for the pruning paths (zone
  * maps, seq_no pushdown). The pass is one range shuffle + write —
  * embarrassingly parallel, no driver materialization; byte accounting
  * uses the Hadoop FileSystem API so it works on any cluster filesystem.
  *
  * Atomicity: the rewrite lands in `<path>.compact.tmp` and swaps in via
  * two renames ([[swap]]: the Hadoop pattern for non-transactional
  * stores; a table format with a transaction log is the production
  * upgrade).
  */
object Compactor {

  /** (n_files, total_bytes) of the parquet data files under `path`. */
  def fileStats(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          n += 1; bytes += f.getLen
        }
      }
      (n, bytes)
    }
  }

  /** Rewrite the store at `path` into ~`targetBytes` files clustered on
    * `sortCols`. Returns (files_before, files_after, bytes).
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              sortCols: Seq[String]): (Long, Long, Long) = {
    val (nBefore, bytes) = fileStats(spark, path)
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    val clustered =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nOut)
    val tmp = path + ".compact.tmp"
    clustered.write.mode("overwrite").parquet(tmp)
    swap(spark, path, tmp)
    val (nAfter, _) = fileStats(spark, path)
    (nBefore, nAfter, bytes)
  }

  /** Put the rewrite at `tmp` in place of the store at `path`: move the
    * old store aside, rename the rewrite in, delete the old store. Any
    * step that fails throws, naming both paths; a failure before the
    * rewrite is in place leaves the old store at `path` (a failed
    * rename-in moves it back).
    */
  def swap(spark: SparkSession, path: String, tmp: String): Unit = {
    val (cur, next, old) = (new Path(path), new Path(tmp), new Path(path + ".compact.old"))
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fail(step: String): Nothing =
      throw new java.io.IOException(s"compaction swap of $tmp into $path failed: $step")
    if (!fs.exists(next)) fail(s"$tmp does not exist")
    if (fs.exists(old)) fail(s"$old is left from an earlier swap")
    if (!fs.rename(cur, old)) fail(s"could not move $path aside to $old")
    if (!fs.rename(next, cur)) {
      if (!fs.rename(old, cur)) fail(s"could not rename $tmp in, and the old store is at $old")
      fail(s"could not rename $tmp in; the old store is back at $path")
    }
    if (!fs.delete(old, true)) fail(s"the new store is in place, but $old was not deleted")
  }
}
