package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Readings
import graft.plans.ZoneMap

/** The histogram "sketch" tier: percentiles served from persisted
  * value_q cell counts must equal percentile_cont over the dequantized
  * values, and the fold must be merge-exact (segment cells -> signal
  * cells, any grouping).
  */
class ZoneMapHistSpec extends AnyFunSuite with SparkTest {
  private lazy val r = Readings.of(spark, "/root/testdata/sf0.001").cache()

  test("sketch percentile equals exact percentile of dequantized values") {
    val fromSketch = ZoneMap.percentileFromHistogram(
        ZoneMap.segmentHistogram(r), Seq(0.5, 0.9), scale = 100.0)
      .collect().map(x => (x.getLong(0), x.getDouble(1)) -> x.getDouble(2)).toMap
    val exact = r.groupBy(col("signal_id"))
      .agg(expr("percentile(value_q / 100.0, 0.5)").as("p50"),
           expr("percentile(value_q / 100.0, 0.9)").as("p90"))
      .collect()
    assert(exact.nonEmpty)
    exact.foreach { row =>
      val sig = row.getLong(0)
      assert(math.abs(fromSketch((sig, 0.5)) - row.getDouble(1)) < 1e-6,
        s"p50 mismatch for signal $sig")
      assert(math.abs(fromSketch((sig, 0.9)) - row.getDouble(2)) < 1e-6,
        s"p90 mismatch for signal $sig")
    }
  }

  test("histogram fold is merge-exact across segment splits") {
    val whole = ZoneMap.foldHistogram(ZoneMap.segmentHistogram(r))
    val direct = r.groupBy(col("signal_id"), col("value_q"))
      .agg(count(lit(1)).as("cnt"))
    assert(whole.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(whole).count() === 0)
  }

  test("building the percentile query runs no job; running it reads the histogram once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString + "/hist"
    ZoneMap.segmentHistogram(r).write.mode("overwrite").parquet(dir)
    val hist = spark.read.parquet(dir)
    val cells = hist.count()
    lazy val q = ZoneMap.percentileFromHistogram(hist, Seq(0.25, 0.5, 0.99), scale = 100.0)
    val build = counters(q.queryExecution.executedPlan)
    assert(build("jobs") == 0L, s"construction ran ${build("jobs")} jobs")
    val run = counters(q.collect())
    assert(run("input_records") == cells,
      s"read ${run("input_records")} records from a $cells-cell histogram")
  }

  test("cells of one value_q on several days need no fold: p in {0, 1} and between") {
    import spark.implicits._
    // signal 1 repeats 250 on three days and 300 on two; signal 2 is one
    // value on two days
    val rows = Seq(
      (1L, "2024-01-01 01:00:00", 250L), (1L, "2024-01-01 02:00:00", 300L),
      (1L, "2024-01-02 01:00:00", 250L), (1L, "2024-01-02 03:00:00", 100L),
      (1L, "2024-01-03 01:00:00", 250L), (1L, "2024-01-03 05:00:00", 300L),
      (1L, "2024-01-03 06:00:00", 400L),
      (2L, "2024-01-01 01:00:00", 70L), (2L, "2024-01-05 01:00:00", 70L))
      .map { case (s, t, q) => (s, java.sql.Timestamp.valueOf(t), q) }
      .toDF("signal_id", "ts", "value_q")
    val cells = ZoneMap.timeHistogram(rows)
    assert(cells.count() > ZoneMap.foldHistogram(cells).count())
    val ps = Seq(0.0, 0.3, 0.5, 0.9, 1.0)
    val got = ZoneMap.percentileFromHistogram(cells, ps, scale = 100.0)
      .collect().map(x => (x.getLong(0), x.getDouble(1)) -> x.getDouble(2)).toMap
    assert(got.size == 2 * ps.size)
    for (p <- ps) {
      val want = rows.groupBy(col("signal_id"))
        .agg(expr(s"percentile(value_q / 100.0, $p)"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1))
      for ((sig, v) <- want)
        assert(math.abs(got((sig, p)) - v) < 1e-6, s"signal $sig p=$p: ${got((sig, p))} vs $v")
    }
  }
}
