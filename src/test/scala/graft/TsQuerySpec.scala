package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TsQuery, Readings}
import graft.plans.ZoneMap

/** O1–O8 on a tiny deterministic fixture with hand-computed expectations. */
class TsQuerySpec extends AnyFunSuite with SparkTest {

  // two signals; signal 1 has a tied max (7.0 at seq 2 and 4)
  private lazy val fixture: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, ts(0), 5.0), (1L, ts(1), 7.0), (1L, ts(2), 3.0),
      (1L, ts(3), 7.0), (1L, ts(4), 1.0),
      (2L, ts(0), 2.0), (2L, ts(1), 4.0), (2L, ts(2), 6.0))
      .toDF("signal_id", "ts", "value")
      .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
      .withColumn("seq_no", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))
  }

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:0$m:00")

  test("aggAll: exact fixed-point sum and avg") {
    val rows = TsQuery.aggAll(fixture).orderBy("signal_id").collect()
    assert(rows.length == 2)
    val s1 = rows(0)
    assert(s1.getAs[Long]("cnt") == 5 && s1.getAs[Double]("vmin") == 1.0 &&
      s1.getAs[Double]("vmax") == 7.0 && s1.getAs[Long]("sum_q") == 2300L &&
      s1.getAs[Double]("avg_fx") == 4.6)
  }

  test("argmax returns the full tie set") {
    val rows = TsQuery.argmax(fixture).filter(col("signal_id") === 1)
      .orderBy("seq_no").collect()
    assert(rows.map(_.getAs[Long]("seq_no")).toSeq == Seq(2L, 4L))
  }

  test("windowMaxPositional: tumbling 2-row windows") {
    val rows = TsQuery.windowMaxPositional(fixture, 0, Long.MaxValue, 2)
      .filter(col("signal_id") === 1).orderBy("win").collect()
    assert(rows.map(r => (r.getAs[Long]("win"), r.getAs[Double]("wmax"))).toSeq ==
      Seq((0L, 7.0), (1L, 7.0), (2L, 1.0)))
  }

  test("rangeFilter/equalFilter position lists") {
    val pos = TsQuery.rangeFilter(fixture, col("value") > 4.0)
      .orderBy("signal_id", "seq_no").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pos == Seq((1L, 1L), (1L, 2L), (1L, 4L), (2L, 3L)))
    val eq = TsQuery.equalFilter(fixture, col("value_q"), 700L).collect()
    assert(eq.length == 2)
  }

  test("zone map answers max/sum without touching data rows") {
    val stats = ZoneMap.segmentStats(fixture)
    assert(ZoneMap.maxFromStats(stats).collect()(0).getDouble(0) == 7.0)
    val s = ZoneMap.sumFromStats(stats).collect()(0)
    assert(s.getAs[Long]("sum_q") == 2300L + 1200L && s.getAs[Long]("cnt") == 8L)
  }

  test("lastPerSignal picks the latest row per signal") {
    val rows = TsQuery.lastPerSignal(fixture).orderBy("signal_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.0), (2L, 6.0)))
  }

  test("tagJoin equals the plain broadcast join") {
    import spark.implicits._
    // signals 2 and 3 have no tag, signal 9's tag has no reading, signal 1
    // has two tag rows, and both sides hold a null signal_id
    val r = Seq((Some(1L), 10L), (Some(1L), 11L), (Some(2L), 20L), (Some(3L), 30L),
      (None, 40L)).toDF("signal_id", "v")
    val tags = Seq((Some(1L), "a"), (Some(1L), "b"), (Some(9L), "c"), (None, "d"))
      .toDF("signal_id", "tag")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((what, t) <- Seq("tags" -> tags, "empty tags" -> tags.filter(lit(false)))) {
      val (got, want) = (TsQuery.tagJoin(r, t), r.join(broadcast(t), "signal_id"))
      assert(got.schema == want.schema, what)
      assert(rows(got) == rows(want), what)
    }
    assert(rows(TsQuery.tagJoin(r, tags)).size == 2 * 2, "row multiplicity lost")
  }

  test("tagJoin reads its tag table once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tag-once").toString + "/tags"
    Seq((Some(1L), "a"), (Some(1L), "b"), (Some(9L), "c"), (None, "d"))
      .toDF("signal_id", "tag").write.parquet(dir)
    val r = Seq((1L, 10L), (2L, 20L), (9L, 90L)).toDF("signal_id", "v")
    val tags = spark.read.parquet(dir)
    var got = Seq.empty[String]
    val read = counters {
      got = TsQuery.tagJoin(r, tags).collect().map(_.toString).sorted.toSeq
    }("input_records")
    assert(read == 4L, s"read $read tag records for 4 tag rows")
    assert(got == r.join(broadcast(tags), "signal_id").collect().map(_.toString).sorted.toSeq)
  }

  test("tagJoin reads only the tagged signals' rows of a tier store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tag-join").toString + "/tier"
    val perSignal = 3000L
    val readings = spark.range(0L, 8L * perSignal, 1L, 4).select(
      (col("id") / perSignal).cast("long").as("signal_id"),
      timestamp_seconds(col("id") % perSignal).as("ts"),
      (col("id") % perSignal + 1).as("seq_no"),
      (col("id") % 97).cast("double").as("value"))
    graft.operators.Tiers.writeTier(readings, dir)
    import spark.implicits._
    val tags = Seq(1L, 4L, 6L).toDF("signal_id")
    val store = spark.read.parquet(dir)
    var got = Set.empty[(Long, Double)]
    val read = counters {
      got = TsQuery.tagJoin(TsQuery.lastPerSignal(store), tags).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSet
    }("input_records")
    assert(got == TsQuery.lastPerSignal(store).join(broadcast(tags), "signal_id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSet)
    assert(got.size == 3)
    assert(read == 3L * perSignal, s"read $read records for 3 tagged signals")
  }

  test("posWindow handles partial trailing windows") {
    val w = fixture.select(col("seq_no"),
      Readings.posWindow(col("seq_no"), 0, 16).as("win"))
      .agg(countDistinct(col("win"))).collect()(0).getLong(0)
    assert(w == 1) // all rows in window 0 at width 16
  }

  test("percentileAuto routes on observed group cardinality") {
    val r = Readings.of(spark, "/root/testdata/sf0.001")
    // default bound: every group fits -> exact interpolated path
    val exact = TsQuery.percentileAuto(r, "signal_id", "value", Seq(0.5))
    assert(!exact.queryExecution.analyzed.toString.contains("approx_percentile"))
    // a 1-row bound forces the sketch path on the same data
    val approx = TsQuery.percentileAuto(r, "signal_id", "value", Seq(0.5),
      exactMaxRows = 1)
    assert(approx.queryExecution.analyzed.toString.contains("approx_percentile"))
    val e = exact.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val a = approx.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(e.keySet == a.keySet)
    // the high-accuracy sketch must land within 15% of each group's value
    // range of the exact interpolated answer (it returns a rank-exact
    // element; the gap to the interpolated value is bounded by adjacent
    // sample spacing)
    val rng = r.groupBy(col("signal_id"))
      .agg((max(col("value")) - min(col("value"))).as("rg"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    e.foreach { case (k, v) =>
      assert(math.abs(a(k) - v) <= rng(k) * 0.15,
        s"signal $k: approx ${a(k)} vs exact $v (range ${rng(k)})")
    }
  }

  test("Holt forecast continues an exact linear ramp exactly") {
    // on a ramp x_i = a + i*s with init b = x1 - x0 = s, the level update
    // reproduces the ramp (l+b = x_t), so the 1-step forecast is a + n*s
    import spark.implicits._
    val ramp = (0 until 16).map(i => (9L, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:00:${i}%02d"), 1.0 + i * 2.0))
      .toDF("signal_id", "ts", "value")
      .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
      .withColumn("seq_no", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))
    val seg = graft.operators.Segments.complete(ramp)
    assert(seg.count() === 1)
    val forecast = graft.operators.TsQueries.holtForecastOf(seg)
      .collect()(0).getDouble(2)
    assert(math.abs(forecast - 33.0) < 1e-9, s"forecast $forecast != 33.0")
  }

  test("Holt-Winters forecast is exact on a steady seasonal square wave") {
    // x = 10,20,10,20,... : init l=15, b=0, s=[-5,5,-5,5]; every update
    // is a fixpoint (l stays 15, b stays 0, s unchanged), so the 1-step
    // forecast is l + b + s[next phase] = 10 — the next value, exactly
    import spark.implicits._
    val wave = (0 until 16).map(i => (7L, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:00:${i}%02d"), if (i % 2 == 0) 10.0 else 20.0))
      .toDF("signal_id", "ts", "value")
      .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
      .withColumn("seq_no", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))
    val seg = graft.operators.Segments.complete(wave)
    val forecast = graft.operators.TsQueries.hwForecastOf(seg)
      .collect()(0).getDouble(2)
    assert(math.abs(forecast - 10.0) < 1e-9, s"hw forecast $forecast != 10.0")
  }

  test("ts_decompose reconstructs the series and zeroes out a pure period-7 wave") {
    // value = phase pattern repeated: trend is flat, seasonal captures the
    // whole signal, residual ~ 0 (exactly 0 in the fixed-point domain)
    import spark.implicits._
    val pat = Seq(1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0)
    val wave = (0 until 28).map(i => (5L, Timestamp.valueOf(
        f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), pat(i % 7)))
      .toDF("signal_id", "ts", "value")
      .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
      .withColumn("seq_no", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))
    // run through the registered query shape by writing the fixture as the
    // readings frame directly (the query derives from Readings.of; here we
    // exercise the same expressions via a local copy of its body)
    val rows = graft.operators.TsQueries.decomposeOf(wave)
      .orderBy(col("seq_no")).collect()
    assert(rows.length == 22) // 28 minus 3-row margins at both ends
    val mean = pat.sum / 7.0
    rows.foreach { x =>
      val (trend, seasonal, resid) =
        (x.getDouble(2), x.getDouble(3), x.getDouble(4))
      assert(math.abs(trend - mean) < 5e-7, s"trend $trend != $mean")
      assert(math.abs(resid) < 5e-7, s"residual $resid != 0")
      // reconstruction: components sum back to the reading
      val seqNo = x.getLong(1)
      val v = pat(((seqNo - 1) % 7).toInt)
      assert(math.abs(trend + seasonal + resid - v) < 3e-6)
    }
  }
}
