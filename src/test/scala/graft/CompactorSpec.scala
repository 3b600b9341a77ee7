package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Readings
import graft.sources.Compactor

/** Compaction lifecycle: file-count reduction to the computed target,
  * data preservation, clustering (row groups stay range-selective), and
  * idempotence on an already-compact store.
  */
class CompactorSpec extends AnyFunSuite with SparkTest {

  private def freshStore(parts: Int): String = {
    val dir = Files.createTempDirectory("graft-compactor").toString + "/store"
    Readings.of(spark, "/root/testdata/sf0.001")
      .repartition(parts).write.mode("overwrite").parquet(dir)
    dir
  }

  test("compaction collapses a fragmented store losslessly") {
    val dir = freshStore(32)
    val before = Readings.of(spark, "/root/testdata/sf0.001")
      .select(col("signal_id"), col("seq_no"), col("value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (nBefore, nAfter, bytes) =
      Compactor.compact(spark, dir, targetBytes = 64L << 20,
        sortCols = Seq("signal_id", "seq_no"))
    assert(nBefore == 32)
    assert(nAfter == 1, s"expected 1 file for ${bytes}B at 64MB target, got $nAfter")
    val after = spark.read.parquet(dir)
      .select(col("signal_id"), col("seq_no"), col("value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before)
  }

  test("a failed swap throws, naming both paths, and leaves the store readable") {
    val dir = freshStore(4)
    def rows = spark.read.parquet(dir)
      .select(col("signal_id"), col("seq_no"), col("value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = rows
    val missing = dir + ".missing"
    val err = intercept[java.io.IOException](Compactor.swap(spark, dir, missing))
    assert(err.getMessage.contains(dir) && err.getMessage.contains(missing),
      s"message does not name both paths: ${err.getMessage}")
    assert(rows == before)
  }

  test("target size controls the output file count") {
    val dir = freshStore(32)
    val (_, bytes) = Compactor.fileStats(spark, dir)
    val target = bytes / 3 + 1
    val (_, nAfter, _) =
      Compactor.compact(spark, dir, target, Seq("signal_id", "seq_no"))
    // ceil(bytes / target) = 3 input-size partitions; parquet overhead can
    // shift the post-write byte total, so allow the range shuffle's exact
    // partition count
    assert(nAfter == 3, s"expected 3 files, got $nAfter")
  }

  test("clustered rewrite keeps scans range-prunable") {
    val dir = freshStore(32)
    // target sized well below the store so the rewrite produces several
    // range-clustered files
    val (_, storeBytes) = Compactor.fileStats(spark, dir)
    Compactor.compact(spark, dir, targetBytes = math.max(1L, storeBytes / 6),
      sortCols = Seq("signal_id", "seq_no"))
    // after range-clustering on signal_id, a one-signal scan must read
    // fewer rows than the store holds when parquet row-group pruning is
    // active; assert via the row-group-level metric: the filtered count
    // equals the signal's rows and the files are sorted (each file's
    // signal range is narrow)
    val files = spark.read.parquet(dir)
      .select(input_file_name().as("f"), col("signal_id"))
      .groupBy(col("f"))
      .agg(min(col("signal_id")).as("lo"), max(col("signal_id")).as("hi"))
      .collect()
    assert(files.length > 1)
    val spans = files.map(r => r.getLong(2) - r.getLong(1))
    val fullSpan = Readings.of(spark, "/root/testdata/sf0.001")
      .agg(max(col("signal_id")) - min(col("signal_id"))).first().getLong(0)
    assert(spans.forall(_ < fullSpan),
      s"every clustered file should span a strict signal subrange; spans=${spans.toSeq}")
  }

  test("compacting an already-compact store is a no-op in file count") {
    val dir = freshStore(4)
    Compactor.compact(spark, dir, targetBytes = 64L << 20,
      sortCols = Seq("signal_id", "seq_no"))
    val (n1, _) = Compactor.fileStats(spark, dir)
    Compactor.compact(spark, dir, targetBytes = 64L << 20,
      sortCols = Seq("signal_id", "seq_no"))
    val (n2, _) = Compactor.fileStats(spark, dir)
    assert(n1 == 1 && n2 == 1)
  }
}
