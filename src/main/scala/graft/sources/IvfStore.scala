package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Persisted IVF index — the 100 TB serving story for ANN: the corpus is
  * written ONCE partitioned by Voronoi cell (cell = Parquet partition
  * directory, holding what [[graft.operators.Ivf.assign]] puts there: raw
  * vectors, JL-projected vectors or PQ residual codes), and every query
  * afterwards reads ONLY its probes' nProbe cells via static partition
  * pruning — the scan never touches the other (k - nProbe)/k of the
  * corpus. This is the storage-layer twin of the reference's cell-pruned
  * index serving (SURVEY §2.1 candidate-set filtering): the filter arrives
  * at the scan as a PartitionFilter, not a post-scan predicate. The
  * pruned cells go through the same [[graft.operators.Ivf.serve]] as the
  * in-memory `Similarity.ivfTopK`, so the two paths share one oracle
  * (IvfStoreSpec asserts both the pruning and the parity, per payload).
  *
  * The projection planes and PQ codebook are not persisted: a caller
  * passes the same ones to write and serve. At 100 TB: cell count ~
  * sqrt(n) keeps directories executor-sized; the write shuffles once on
  * cell (the same price as any partitioned write) and probe-time I/O drops
  * by the pruning factor.
  */
object IvfStore {

  /** Write `vecs` (idCol, vecCol float array) partitioned by best cell.
    * The centroid dictionary is persisted WITH the index (a `_centroids`
    * sidecar — underscore-prefixed, so store scans ignore it): an IVF
    * index without its codebook is not self-contained, and a serving
    * path that re-derives the centroids pays a full corpus-scan collect
    * per probe session (the ann_ivf_probe row once spent a corpus scan
    * on 16 rows the store already knew).
    */
  def write(vecs: DataFrame, idCol: String, vecCol: String,
            centroids: Seq[(Int, Seq[Double])], path: String,
            planes: Seq[Seq[Double]] = Nil,
            codebook: Option[Array[Array[Array[Double]]]] = None): Unit = {
    Ivf(centroids, planes, codebook).assign(vecs, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    writeCentroids(vecs.sparkSession, centroids, path)
  }

  private def centroidsDir(path: String): String = s"$path/_centroids"

  private def writeCentroids(spark: SparkSession,
                             centroids: Seq[(Int, Seq[Double])],
                             path: String): Unit = {
    import spark.implicits._
    centroids.toDF("cell", "vec").coalesce(1)
      .write.mode("overwrite").parquet(centroidsDir(path))
  }

  /** The centroid dictionary persisted by [[write]] — the bounded
    * (|cells| rows) sidecar read that replaces the corpus-scan
    * re-derivation on the serving path. Doubles round-trip parquet
    * exactly, so the dictionary is bit-identical to the one the index
    * was built with.
    */
  def readCentroids(spark: SparkSession, path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(centroidsDir(path)).orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq

  /** Streaming index maintenance: each micro-batch of vectors lands in
    * the store as one batch of a [[BatchStore]], partitioned by cell
    * beneath `batch_id`. A batch that foreachBatch replays after a lost
    * commit replaces its own rows; the cell keeps probe-time partition
    * pruning (the cell filter prunes inside every batch directory). The
    * serving path is unchanged: [[topK]] reads the same layout.
    */
  def appendStream(vecs: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Int, Seq[Double])],
                   path: String, checkpointDir: String,
                   planes: Seq[Seq[Double]] = Nil,
                   codebook: Option[Array[Array[Array[Double]]]] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = Ivf(centroids, planes, codebook)
    val store = new BatchStore(vecs.sparkSession, path)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.write(index.assign(batch, idCol, vecCol), batchId, "cell")
      }
      .start()
  }

  /** Compact a streamed store: N micro-batches leave (batch_id, cell)
    * directories whose per-cell files multiply with every trigger (the
    * classic streaming small-file problem, same as the tier Compactor).
    * Rewriting to the batch-free (cell)-partitioned layout restores one
    * directory per cell; serving is unchanged ([[topK]] reads either
    * layout). The compacted copy lands in a fresh directory and
    * [[Compactor.swap]] puts it in place, failing loudly with the old
    * store still readable.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val tmp = path + ".compacting"
    spark.read.parquet(path).drop("batch_id")
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    Compactor.swap(spark, path, tmp)
  }

  /** Top-k within the probes' nProbe cells, served from the store. The
    * probe cell set is bounded (|probes| × nProbe ≤ |cells|), so it
    * collects to a literal isin — STATIC partition pruning, visible in
    * the scan's PartitionFilters. A projected index (`planes`) needs its
    * full-space `rerank`.
    */
  def topK(spark: SparkSession, path: String, probes: DataFrame, k: Int,
           centroids: Seq[(Int, Seq[Double])], nProbe: Int,
           planes: Seq[Seq[Double]] = Nil,
           codebook: Option[Array[Array[Array[Double]]]] = None,
           rerank: Option[Ivf.Rerank] = None): DataFrame = {
    val index = Ivf(centroids, planes, codebook)
    val cells = index.probeCells(probes, nProbe)
    val probed = cells.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    index.serve(spark.read.parquet(path).filter(col("cell").isin(probed.map(x => x: Any): _*)),
      cells, k, rerank)
  }
}
