package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.operators.{TierManager, TsQuery}
import graft.sources.{BuffStore, Pages}
import graft.streaming.Ingest

/** Parquet's page index as the per-segment zone map: every readings-shaped
  * writer caps its pages at `Pages.Rows` rows (checked in each written
  * file's offset index), so a selective pushed predicate reads some pages
  * of a signal file instead of the whole file.
  */
class PageIndexSpec extends AnyFunSuite with SparkTest {

  private val Signals = 8
  private val RowsPerSignal = 4096

  /** A seeded random walk per signal in the readings shape, rows in
    * (signal_id, seq_no) order: a local relation is sliced into
    * contiguous runs, so each signal lands in one tier0 file.
    */
  private lazy val walk: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = for (s <- 0 until Signals; v = Iterator.iterate(500000L)(_ + rng.nextInt(41) - 20)
                    .take(RowsPerSignal).toIndexedSeq; i <- 0 until RowsPerSignal)
      yield (s.toLong, new java.sql.Timestamp(t0 + i * 1000L), v(i) / 100.0, v(i), i + 1L)
    rows.toDF("signal_id", "ts", "value", "value_q", "seq_no")
  }

  private lazy val root = Files.createTempDirectory("graft-pages").toString
  private lazy val tm = {
    val t = new TierManager(spark, s"$root/tiers"); t.landTier0(walk); t
  }
  private def tier0 = spark.read.parquet(tm.tier0)
  private lazy val (planesDir, base, n) = {
    val t = tier0
    val mm = t.agg(min(col("value_q")), max(col("value_q"))).first()
    val (b, k) = (mm.getLong(0), BuffStore.planesFor(mm.getLong(1) - mm.getLong(0)))
    BuffStore.write(BuffStore.planes(t, b, k), s"$root/planes")
    (s"$root/planes", b, k)
  }
  private lazy val landingDir = {
    val in = s"$root/landing-in"
    walk.select(col("signal_id"), col("ts"), col("seq_no").as("event_id"),
      col("value"), col("value_q")).write.parquet(in)
    val q = Ingest.tier0Writer(spark.readStream.schema(spark.read.parquet(in).schema)
      .parquet(in), s"$root/landing", s"$root/landing-ckpt")
    q.awaitTermination()
    s"$root/landing"
  }

  /** (largest page, largest file) in rows over every Parquet file under `dir`. */
  private def largestPageAndFile(dir: String): (Long, Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val files = Files.walk(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/."))
    assert(files.nonEmpty, s"no Parquet file under $dir")
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val blocks = reader.getRowGroups.asScala.toSeq
        val pages = for (b <- blocks;
                         c <- b.getColumns.asScala;
                         idx = reader.readOffsetIndex(c); i <- 0 until idx.getPageCount)
          yield (if (i + 1 < idx.getPageCount) idx.getFirstRowIndex(i + 1) else b.getRowCount) -
            idx.getFirstRowIndex(i)
        (pages.max, blocks.map(_.getRowCount).sum)
      } finally reader.close()
    }.reduce((a, b) => (a._1 max b._1, a._2 max b._2))
  }

  for ((writer, dir) <- Seq[(String, () => String)](
      "Tiers.writeTier" -> (() => tm.tier0),
      "Ingest.tier0Writer" -> (() => landingDir),
      "BuffStore.write" -> (() => planesDir))) {
    test(s"$writer writes pages of at most ${Pages.Rows} rows") {
      val (page, file) = largestPageAndFile(dir())
      assert(file > Pages.Rows, s"largest file holds $file rows: the cap is not exercised")
      assert(page <= Pages.Rows, s"a page of $page rows")
    }
  }

  test("a narrow value_q range reads some pages of the signal files it touches") {
    // 40 quantized units around one signal's mid-walk value: a few signals
    // pass through it, each for a short stretch of its walk
    val mid = walk.filter(col("signal_id") === 0L && col("seq_no") === 2048L)
      .first().getAs[Long]("value_q")
    val (lo, hi) = (mid - 20L, mid + 20L)
    val want = walk.filter(col("value_q").between(lo, hi))
      .select(col("signal_id"), col("seq_no")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val touched = want.map(_._1).size.toLong
    assert(touched >= 1L)
    val fileRows = touched * RowsPerSignal

    def read(df: DataFrame): (Set[(Long, Long)], Long) = {
      var got = Set.empty[(Long, Long)]
      val c = counters { got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet }
      (got, c("input_records"))
    }
    val (byRange, rangeRead) = read(TsQuery.rangeFilter(tier0, col("value_q").between(lo, hi)))
    assert(byRange == want)
    assert(rangeRead < fileRows,
      s"the tier0 range read $rangeRead records of $touched touched signal files ($fileRows rows)")
    val (byPlanes, planesRead) = read(BuffStore.rangeProgressive(
      BuffStore.read(spark, planesDir), base, n, lo, hi))
    assert(byPlanes == want)
    assert(planesRead < fileRows, s"the plane range read $planesRead records of " +
      s"$touched touched signal files ($fileRows rows); the tier0 range read $rangeRead")
  }

  /** Rows in the pages of `dir`'s files whose int `column` min/max holds `v`,
    * from each file's column index.
    */
  private def rowsInPagesHolding(dir: String, column: String, v: Int): Long = {
    val conf = spark.sessionState.newHadoopConf()
    def int(b: java.nio.ByteBuffer) = b.order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(0)
    spark.read.parquet(dir).inputFiles.toSeq.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        (for (b <- reader.getRowGroups.asScala.toSeq;
              c <- b.getColumns.asScala if c.getPath.toDotString == column;
              ci = reader.readColumnIndex(c); oi = reader.readOffsetIndex(c);
              i <- 0 until oi.getPageCount
              if !ci.getNullPages.get(i) &&
                int(ci.getMinValues.get(i)) <= v && v <= int(ci.getMaxValues.get(i)))
          yield (if (i + 1 < oi.getPageCount) oi.getFirstRowIndex(i + 1) else b.getRowCount) -
            oi.getFirstRowIndex(i)).sum
      } finally reader.close()
    }.sum
  }

  /** (max positions, records read) of `maxWithArgmax` over the store in `dir`;
    * each position is (signal_id, seq_no, value_q).
    */
  private def maxRead(dir: String, b: Long, k: Int): (Set[(Long, Long, Long)], Long) = {
    var got = Set.empty[(Long, Long, Long)]
    val c = counters {
      got = BuffStore.maxWithArgmax(BuffStore.read(spark, dir), b, k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    (got, c("input_records"))
  }

  private def maxRows(df: DataFrame): Set[(Long, Long, Long)] = {
    val top = df.agg(max(col("value_q"))).first().getLong(0)
    df.filter(col("value_q") === top).select(col("signal_id"), col("seq_no"), col("value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("maxWithArgmax reads only the pages that hold the footers' top plane byte") {
    val want = maxRows(walk)
    val m0 = ((want.head._3 - base) >> (8 * (n - 1))).toInt
    val (got, read) = maxRead(planesDir, base, n)
    assert(got == want)
    val bound = 1L * rowsInPagesHolding(planesDir, "p0", m0)
    assert(read <= bound, s"read $read records; pages holding p0 = $m0 hold $bound rows")
    assert(bound < 1L * Signals * RowsPerSignal, "every page holds the top byte")
  }

  test("maxWithArgmax reads only the top plane's pages when the maximum ties across two files") {
    // two signals' walks, each lifted to one shared maximum at one position
    val twoWalks = walk.filter(col("signal_id") < 2L)
    val top = twoWalks.agg(max(col("value_q"))).first().getLong(0) + 1000L
    val lifted = (col("signal_id") === 0L && col("seq_no") === 100L) ||
      (col("signal_id") === 1L && col("seq_no") === 4000L)
    val tie = twoWalks.withColumn("value_q", when(lifted, lit(top)).otherwise(col("value_q")))
    val b = tie.agg(min(col("value_q"))).first().getLong(0)
    val k = BuffStore.planesFor(top - b)
    val dir = s"$root/tie-planes"
    BuffStore.write(BuffStore.planes(tie, b, k), dir)
    val files = BuffStore.read(spark, dir).filter(col("p0") === lit(((top - b) >> (8 * (k - 1))).toInt))
      .select(input_file_name()).distinct().count()
    assert(files == 2L, s"the maximum lands in $files files")

    val (got, read) = maxRead(dir, b, k)
    assert(got == Set((0L, 100L, top), (1L, 4000L, top)))
    val bound = 1L * rowsInPagesHolding(dir, "p0", ((top - b) >> (8 * (k - 1))).toInt)
    assert(read <= bound, s"read $read records; the top byte's pages hold $bound rows")
    assert(bound <= 2L * Pages.Rows, s"the top byte's pages hold $bound rows")
  }
}
