package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's relational operator surface (SURVEY §2.1, O1–O7)
  * re-expressed as declarative DataFrame transforms so Catalyst plans them:
  * filters push to the Parquet scan, aggregates get partial (map-side)
  * combine, the tag join broadcasts its small side and pushes its keys
  * into the fact scan, and everything stays inside whole-stage codegen.
  * The driver collects only the percentile route's one count and the tag
  * join's tag rows; no driver-side loops.
  */
object TsQuery {

  /** O1 — scan/materialize (reference buff_simd.rs:633 buff_decode_majority). */
  def scan(r: DataFrame): DataFrame =
    r.select(col("signal_id"), col("seq_no"), col("value"))

  /** O2 — projection by row-id predicate / late materialization
    * (reference buff_simd.rs:1528 buff_decode_condition). The id set is a
    * predicate over seq_no so it prunes at scan time rather than shipping
    * an id list.
    */
  def projectAt(r: DataFrame, idPred: Column): DataFrame =
    r.filter(idPred).select(col("signal_id"), col("seq_no"), col("value"))

  /** O3 — range filter returning a position list
    * (reference buff_simd.rs:4507 buff_range_filter -> bitmap).
    */
  def rangeFilter(r: DataFrame, pred: Column): DataFrame =
    r.filter(pred).select(col("signal_id"), col("seq_no"))

  /** O4 — fixed-point equality filter
    * (reference buff_simd.rs:4925 buff_equal_filter; equality is defined on
    * the quantized domain, SURVEY §7.4).
    */
  def equalFilter(r: DataFrame, q: Column, const: Long): DataFrame =
    r.filter(q === const).select(col("signal_id"), col("seq_no"))

  /** O5 — full aggregate set per signal. sum/avg computed in the integer
    * fixed-point domain (exact — mirrors BUFF's plane-wise exact sum,
    * reference buff_simd.rs:2294) then rescaled once.
    */
  def aggAll(r: DataFrame): DataFrame =
    r.groupBy(col("signal_id"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        sum(col("value_q")).cast("long").as("sum_q"))
      .withColumn("avg_fx",
        col("sum_q").cast("double") / (lit(100.0) * col("cnt").cast("double")))

  /** O5c — per-group percentiles with the scale guard IN CODE, not in a
    * comment: Spark's exact interpolated `percentile` buffers every group
    * value on one executor (fine to ~1e7 rows/group, ~100 MB), so groups
    * observed beyond `exactMaxRows` route to `approx_percentile` — the
    * bounded-memory, mergeable GK sketch that stays map-side-combinable
    * at any group size. The routing probe is one two-phase keyed count
    * (cheap next to the percentile job itself); both paths emit the same
    * schema, so callers and oracles see one operator.
    */
  def percentileAuto(r: DataFrame, groupCol: String, valueCol: String,
                     ps: Seq[Double],
                     exactMaxRows: Long = 10L * 1000 * 1000,
                     accuracy: Int = 10000): DataFrame = {
    val maxGroup = r.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    val exact = maxGroup <= exactMaxRows
    val aggs = ps.map { p =>
      val name = s"p${math.round(p * 100)}"
      val e =
        if (exact) expr(s"percentile($valueCol, $p)")
        else expr(s"approx_percentile($valueCol, $p, $accuracy)")
      round(e, 4).as(name)
    }
    r.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** O5b — argmax position set: all positions attaining the per-signal max
    * (reference buff_simd.rs:2444 byte_fixed_max returns max + bitmap).
    * rank() keeps ties, matching the bitmap semantics.
    */
  def argmax(r: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("signal_id")).orderBy(col("value").desc)
    r.withColumn("rk", rank().over(w))
      .filter(col("rk") === 1)
      .select(col("signal_id"), col("seq_no"), col("value").as("vmax"))
  }

  /** O6 — positional tumbling-window max over rows [start, end)
    * (reference buff_simd.rs:5096 buff_max_range; influx_bench/mod.rs:33).
    */
  def windowMaxPositional(r: DataFrame, start: Long, end: Long, width: Long): DataFrame =
    r.filter(col("seq_no") > start && col("seq_no") <= end)
      .groupBy(col("signal_id"), Readings.posWindow(col("seq_no"), start, width).as("win"))
      .agg(max(col("value")).as("wmax"), count(lit(1)).as("cnt"))

  /** O6 + argmax — windowed max with the first attaining position
    * (reference buff_simd.rs:5096 returns max plus the argmax bitmap).
    * One aggregation: lexicographic max of (value, -seq_no) gives the max
    * value and, among ties, the smallest seq_no — no second scan, no join.
    */
  def windowMaxArgmax(r: DataFrame, width: Long): DataFrame =
    r.groupBy(col("signal_id"), Readings.posWindow(col("seq_no"), 0L, width).as("win"))
      .agg(max(struct(col("value").as("v"), (-col("seq_no")).as("ns"))).as("m"),
           count(lit(1)).as("cnt"))
      .select(col("signal_id"), col("win"), col("m.v").as("wmax"),
        (-col("m.ns")).as("amax_seq"), col("cnt"))

  /** O6b — event-time tumbling window (idiomatic Spark flavor; the reference
    * has only positional windows, SURVEY §2.3 says add the event-time one).
    */
  def windowAggTime(r: DataFrame, width: String): DataFrame =
    r.groupBy(window(col("ts"), width))
      .agg(max(col("value")).as("wmax"), count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
              col("wmax"), col("cnt"))

  /** Latest reading per signal (TSBS "last point per tag": reference
    * benchmark/tsbs/mod.rs:28-48 walks each tag's column backwards).
    * One aggregate: the lexicographic max of (ts, seq_no, value) is the
    * row a descending (ts, seq_no) order puts first — nulls sort lowest
    * in a struct as they sort last in a descending order — so over a
    * registered tier the zone map's per-segment last points answer it.
    */
  def lastPerSignal(r: DataFrame): DataFrame =
    r.groupBy(col("signal_id"))
      .agg(max(struct(col("ts"), col("seq_no"), col("value"))).as("m"))
      .select(col("signal_id"), col("m.value").as("last_value"))

  /** O7 — tag equi-join: restrict readings to signals whose dimension row
    * matches a predicate. The tag side is read once: its rows are
    * collected (Spark collects the broadcast side whole anyway) and both
    * the key list and the broadcast relation are built from them, so the
    * series resolve before any reading is read (TSBS `last_loc`). `r` is
    * filtered on the keys; a `signal_id` filter passes an aggregate or
    * window keyed by it ([[lastPerSignal]]), so it reaches the scan as a
    * pushed `In` (the page index skips the other signals) or the zone map.
    * Nulls match nothing in the join, so they are dropped from the keys.
    */
  def tagJoin(r: DataFrame, tags: DataFrame): DataFrame = {
    val rows = tags.collect()
    val i = tags.schema.fieldIndex("signal_id")
    val keys = rows.map(_.get(i)).filter(_ != null).distinct
    // one partition: the broadcast collects the local rows in one task
    val local = r.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), tags.schema)
      .coalesce(1)
    r.filter(col("signal_id").isin(keys.toIndexedSeq: _*)).join(broadcast(local), "signal_id")
  }
}
