package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ivf, Similarity}
import graft.sources.IvfStore

/** The persisted IVF index, for each payload kind (raw, JL-projected, PQ
  * codes): result parity with the in-memory ivfTopK for batch-written,
  * streamed and compacted stores, and REAL partition pruning — the scan
  * must touch only the probes' cells.
  */
class IvfStoreSpec extends AnyFunSuite with SparkTest
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"
  private val nCells = 16
  private val nProbe = 4
  private val k = 10
  private val shortlist = 100
  private val planes = Similarity.lcgPlanes(32, 64)

  private def emb = Tables.embeddings(spark, sf)
  private def probes = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
  private def corpus = emb.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))

  // dictionaries sampled the way AnnQueries derives them
  private def sample(from: Int, until: Int, v: Column): Seq[(Int, Seq[Double])] =
    emb.filter(col("vec_id") >= from && col("vec_id") < until).orderBy(col("vec_id"))
      .select(col("vec_id"), v)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq

  private lazy val indexes: Map[String, Ivf] = {
    val flat = Ivf(sample(0, nCells, col("embedding").cast("array<double>")))
    val resid = sample(nCells, 2 * nCells, flat.residual(col("embedding"))).map(_._2)
    Map(
      "IVF" -> flat,
      "RP-IVF" -> Ivf(sample(0, nCells, Similarity.rpProject(col("embedding"), planes)), planes),
      "IVF-PQ" -> flat.copy(codebook = Some(
        Array.tabulate(8)(m => resid.map(_.slice(m * 8, (m + 1) * 8).toArray).toArray))))
  }

  private def write(index: Ivf, path: String): Unit =
    IvfStore.write(emb, "vec_id", "embedding", index.centroids, path,
      index.planes, index.codebook)

  private def serve(index: Ivf, path: String): DataFrame =
    IvfStore.topK(spark, path, probes, k, index.centroids, nProbe, index.planes,
      index.codebook, Option.when(index.planes.nonEmpty)(Ivf.Rerank(probes, corpus, shortlist)))

  private lazy val batchStores: Map[String, String] = indexes.map { case (kind, index) =>
    val p = Files.createTempDirectory("graft-ivfstore").toString
    write(index, p)
    kind -> p
  }

  /** The embeddings streamed into a fresh store as two micro-batches. */
  private def streamedStore(index: Ivf): String = {
    val in = Files.createTempDirectory("graft-ivf-in").toString
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("overwrite")
      .parquet(s"$in/half0")
    emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("overwrite")
      .parquet(s"$in/half1")
    val staged = Files.createTempDirectory("graft-ivf-staged").toString
    for ((h, i) <- Seq("half0", "half1").zipWithIndex) {
      val part = new java.io.File(s"$in/$h").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(staged, s"b$i.parquet"))
    }
    val base = Files.createTempDirectory("graft-ivf-streamed").toString
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
    IvfStore.appendStream(stream, "vec_id", "embedding", index.centroids,
      s"$base/store", s"$base/ckpt", index.planes, index.codebook).awaitTermination()
    assert(new java.io.File(s"$base/store").listFiles()
      .count(_.getName.startsWith("batch_id=")) === 2, "two batches landed")
    s"$base/store"
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  for (kind <- Seq("IVF", "RP-IVF", "IVF-PQ")) {
    test(s"store-served top-k equals the in-memory $kind result exactly") {
      val index = indexes(kind)
      if (index.codebook.isDefined) {
        // on-disk payload is codes only — no float/double array column
        val stored = spark.read.parquet(batchStores(kind))
        val types = stored.schema.map(_.dataType.simpleString)
        assert(!types.exists(t => t.contains("float") || t.contains("double")),
          s"PQ store leaked a float payload: ${stored.schema.treeString}")
      }
      assertSameRows(serve(index, batchStores(kind)),
        Similarity.ivfTopK(probes, corpus, k, index, nProbe, shortlist))
    }

    test(s"streamed $kind store serves the batch top-k") {
      val index = indexes(kind)
      assertSameRows(serve(index, streamedStore(index)), serve(index, batchStores(kind)))
    }

    test(s"compacted $kind store serves the batch top-k") {
      // compaction collapses the per-batch layout to one dir per cell
      val index = indexes(kind)
      val store = streamedStore(index)
      IvfStore.compact(spark, store)
      val dirs = new java.io.File(store).listFiles().map(_.getName)
      assert(dirs.count(_.startsWith("cell=")) > 0)
      assert(!dirs.exists(_.startsWith("batch_id=")), s"uncompacted: ${dirs.toSeq}")
      assertSameRows(serve(index, store), serve(index, batchStores(kind)))
    }

    test(s"$kind store scan is partition-pruned to the probe cells") {
      val index = indexes(kind)
      val q = serve(index, batchStores(kind))
      q.count() // materialize so AQE finalizes the plan
      val scans = collect(q.queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains(batchStores(kind))) => s
      }
      assert(scans.nonEmpty, "no scan over the store in the plan")
      val scan = scans.head
      assert(scan.partitionFilters.nonEmpty,
        s"cell filter did not reach the scan as a PartitionFilter:\n$scan")
      // the probes' distinct cell set is < the full cell count, and the
      // scan's selected partitions must match it, not the whole store
      val probeCells = index.probeCells(probes, nProbe)
        .select(col("cell")).distinct().count()
      assert(probeCells < nCells, "fixture degenerate: probes cover every cell")
      assert(scan.selectedPartitions.partitionCount.toLong === probeCells,
        s"scan read ${scan.selectedPartitions.partitionCount} partitions, " +
        s"expected $probeCells probe cells")
    }
  }
}
