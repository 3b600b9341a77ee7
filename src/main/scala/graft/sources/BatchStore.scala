package graft.sources

import scala.collection.immutable.SortedSet
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** A Parquet store keyed by streaming micro-batch: the one layout every
  * `foreachBatch` sink lands in, and the one answer to which batches
  * batch N may see.
  *
  * Batch N's rows land under `batch_id=N` (then under `partitions`) by a
  * dynamic-partition overwrite, so a batch that foreachBatch replays
  * after a crash between its writes and the checkpoint commit replaces
  * its own rows instead of appending duplicates. The overwrite stages the
  * job's files in a hidden `.spark-staging-*` directory and renames each
  * partition into place when the job commits, so in a store partitioned
  * by `batch_id` alone a visible `batch_id=N` directory is a committed
  * one. A store with a second partition column (the tier-0 landing, the
  * IVF cells) renames one nested directory at a time; a reader can see
  * part of its newest batch, so it is only ever written through here.
  *
  * Every file is written with pages capped at [[Pages.Rows]] rows, the
  * layout of the readings-shaped stores; a file under 1,024 rows is one
  * page either way.
  *
  * [[ids]] lists the directory once per store instance, with the
  * filesystem of the store's own path, and follows this instance's
  * writes and prunes from then on. Hidden entries (`_*`, `.*`) are
  * skipped; any other entry that is not `batch_id=<long>` throws, so a
  * directory in another layout (a work dir partitioned by a `batch`
  * column, a stray file) fails at the listing instead of reading as an
  * empty store.
  */
final class BatchStore(spark: SparkSession, val dir: String) {

  private val root = new Path(dir)
  private lazy val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private var landed: Option[SortedSet[Long]] = None

  private def path(id: Long): Path = new Path(root, s"batch_id=$id")

  /** Land `df` as batch `batchId`, replacing whatever that batch landed
    * before. The id joins [[ids]] once the write has returned and its
    * directory exists (a batch with no rows lands none).
    */
  def write(df: DataFrame, batchId: Long, partitions: String*): Unit = {
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .options(Pages.WriterOptions)
      .partitionBy("batch_id" +: partitions: _*)
      .parquet(dir)
    synchronized {
      if (landed.isDefined && fs.exists(path(batchId))) landed = landed.map(_ + batchId)
    }
  }

  /** The ids of the landed batches, ascending. */
  def ids: SortedSet[Long] = synchronized {
    if (landed.isEmpty) landed = Some(
      if (!fs.exists(root)) SortedSet.empty[Long]
      else SortedSet(fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map {
          case BatchStore.Batch(id) => id.toLong
          case n => throw new IllegalStateException(
            s"$dir holds $n, which is not a batch_id=<long> directory")
        }: _*))
    landed.get
  }

  /** The newest landed batch before batch `n`: the one whose rows batch
    * `n` builds on, also when `n` itself is a replay.
    */
  def newestBefore(n: Long): Option[Long] = ids.maxBefore(n)

  /** The rows of batches `batchIds` (without `batch_id`), read with
    * `schema` so no read infers one; an empty frame when there are none.
    */
  def read(batchIds: Seq[Long], schema: StructType): DataFrame =
    if (batchIds.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(batchIds.map(path(_).toString): _*)

  /** Delete every batch before batch `n - keep` (`keep <= 0` keeps
    * all). Run it after batch `n`'s writes have returned: with `keep >= 1`
    * a replay of `n` still finds what it read. A delete that fails is
    * logged and retried on the next call.
    */
  def prune(n: Long, keep: Int): Unit =
    if (keep > 0) for (b <- ids.rangeUntil(n - keep))
      try {
        fs.delete(path(b), true)
        synchronized { landed = landed.map(_ - b) }
      } catch { case NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"could not prune ${path(b)} after batch $n; retrying after the next batch", e)
      }
}

object BatchStore {
  private val Batch = "batch_id=(\\d+)".r
}
