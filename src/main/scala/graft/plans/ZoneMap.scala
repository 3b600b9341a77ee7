package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Readings

/** O8 — hierarchical pre-aggregated stats ("zone map" / segment-stats tree).
  *
  * The reference materializes per-segment `AggStats{min,max,sum,count}` and a
  * K-ary fold of them (reference database/src/buffer_pool.rs:757-790,
  * avl/btrarr.rs:11-92, stats.rs:77) so max/sum queries never touch data.
  * Parquet row-group stats already give Spark scan-time skipping for free;
  * this module is the SQL-visible flavor: a small stats table per
  * (signal, segment) that aggregate queries can be answered from. At 100 TB
  * the stats table is ~1/SegmentRows the size of the data and is itself a
  * partitioned Parquet table; folding stats is associative so Spark's
  * partial aggregation is the K-ary tree.
  */
object ZoneMap {

  /** The four AggStats of a group of readings. */
  private def aggStats: Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    min(col("value")).as("vmin"),
    max(col("value")).as("vmax"),
    sum(col("value_q")).cast("long").as("sum_q"))

  private def bySegment(r: DataFrame) =
    r.groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))

  /** Build the per-(signal, segment) stats table from the readings view. */
  def segmentStats(r: DataFrame): DataFrame = bySegment(r).agg(aggStats.head, aggStats.tail: _*)

  /** The zone map a tier keeps: [[segmentStats]] plus, in the same
    * aggregation, each segment's first argmax `amax` =
    * max(struct(value, -seq_no)) and its last point `last` =
    * max(struct(ts, seq_no, value)). Both fold across segments by `max`
    * again, so windowed max with its argmax and the latest reading per
    * signal come from stats, not rows (the reference's AggStats serving,
    * buffer_pool.rs:940-1101, and buff_max_range, buff_simd.rs:5096).
    */
  def tierStats(r: DataFrame): DataFrame =
    bySegment(r).agg(aggStats.head, aggStats.tail ++ Seq(
      max(struct(col("value"), (-col("seq_no")).as("neg_seq"))).as("amax"),
      max(struct(col("ts"), col("seq_no"), col("value"))).as("last")): _*)

  /** Event-time flavor of [[segmentStats]]: stats per (signal, day) — the
    * key STREAMING ingest can maintain (positional seq_no needs the full
    * per-signal history; event time does not). Because every stat column
    * is associative, a stats table built from per-micro-batch PARTIAL rows
    * (appended by Ingest.tier0Writer) answers the same queries after a
    * fold — the incremental update_stats path of the reference's stats
    * tree (avl/btrarr.rs:92).
    */
  def timeStats(r: DataFrame): DataFrame =
    r.groupBy(col("signal_id"), date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"),
        sum(col("value_q")).cast("long").as("sum_q"))

  /** Re-fold a stats table containing partial (per-batch) rows into one
    * row per key — exact, because all four stats are associative.
    */
  def foldTimeStats(stats: DataFrame): DataFrame =
    stats.groupBy(col("signal_id"), col("day"))
      .agg(sum(col("cnt")).cast("long").as("cnt"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        sum(col("sum_q")).cast("long").as("sum_q"))

  /** Answer a global max from the stats table alone (no data scan) —
    * the reference's buffer_pool.rs:940-1101 stats-only query path.
    */
  def maxFromStats(stats: DataFrame): DataFrame =
    stats.agg(max(col("vmax")).as("vmax"))

  /** Global sum/count from stats (exact, fixed-point domain). */
  def sumFromStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("sum_q")).cast("long").as("sum_q"),
              sum(col("cnt")).cast("long").as("cnt"))

  /** Global min from stats — with max/sum/count/avg this completes the
    * reference's five buffer-level stats queries (Count/Min/Max/Sum/
    * Average, query.rs:41-173), all served without touching data.
    */
  def minFromStats(stats: DataFrame): DataFrame =
    stats.agg(min(col("vmin")).as("vmin"))

  /** Global average from stats: exact fixed-point sum over exact count,
    * dequantized (query.rs:168 Average). Exact because sum_q is the
    * integer-domain sum — no FP fold-order drift enters the stats table.
    */
  def avgFromStats(stats: DataFrame, scale: Double): DataFrame =
    stats.agg(sum(col("sum_q")).cast("long").as("sq"),
              sum(col("cnt")).cast("long").as("cnt"))
      .select(round(col("sq").cast("double") /
        (lit(scale) * col("cnt").cast("double")), 6).as("avg_v"),
        col("cnt"))

  /** Per-(signal, segment) fixed-point value histogram — the percentile
    * "sketch" tier. In the quantized domain a value_q count table IS an
    * exact mergeable quantile sketch (the t-digest analogue of the
    * reference's sketch-serving path, buffer_pool.rs:940-1101, with zero
    * error in the engine's own fixed-point domain): cells merge by
    * summing counts (associative — streamable and partially aggregable),
    * and table size is bounded by value_q cardinality × segments, not by
    * row count.
    */
  def segmentHistogram(r: DataFrame): DataFrame =
    r.groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"),
        col("value_q"))
      .agg(count(lit(1)).as("cnt"))

  /** Event-time flavor of [[segmentHistogram]]: cells keyed by
    * (signal, day, value_q) — the key STREAMING ingest can maintain
    * per micro-batch (like [[timeStats]]); partial cells from different
    * batches fold exactly because counts are associative.
    */
  def timeHistogram(r: DataFrame): DataFrame =
    r.groupBy(col("signal_id"), date_trunc("day", col("ts")).as("day"),
        col("value_q"))
      .agg(count(lit(1)).as("cnt"))

  /** Fold histogram cells (per-segment, per-day or per-batch partials) to
    * per-signal cells (exact merge — the stats-tree fold,
    * avl/btrarr.rs:11-92 analogue).
    */
  def foldHistogram(hist: DataFrame): DataFrame =
    hist.groupBy(col("signal_id"), col("value_q"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** Interpolated per-signal percentiles served from the histogram alone —
    * no data scan. Equals percentile_cont over the dequantized values:
    * rank index i = (n-1)p. One window over the raw cells (partitioned by
    * signal, ordered by value_q, a ROWS frame) gives each cell its rank
    * interval [strt, cume); the cells whose interval holds floor(i) or
    * ceil(i) are kept and grouped per (signal, p) on the window's own
    * partitioning, so the whole query is one shuffle. Cells of the same
    * value_q from different segments or days need no fold first: the
    * cell that holds a rank carries the value at that rank whichever way
    * the ties are ordered.
    */
  def percentileFromHistogram(hist: DataFrame, ps: Seq[Double],
                              scale: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("signal_id")).orderBy(col("value_q"))
    val cume = sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val i = (col("n") - lit(1L)).cast("double") * col("p")
    val (lo, hi) = (floor(i).cast("long"), ceil(i).cast("long"))
    def holds(rank: Column): Column = col("strt") <= rank && rank < col("cume")
    hist.select(col("signal_id"), col("value_q"), cume.as("cume"),
        (cume - col("cnt")).as("strt"),
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("n"))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(holds(lo) || holds(hi))
      .groupBy(col("signal_id"), col("p"))
      .agg(max(col("n")).as("n"),
        max(when(holds(lo), col("value_q"))).as("vlo"),
        max(when(holds(hi), col("value_q"))).as("vhi"))
      .select(col("signal_id"), col("p"),
        round((col("vlo").cast("double") +
          (col("vhi") - col("vlo")).cast("double") *
            (i - lo.cast("double"))) / lit(scale), 6).as("v"))
  }
}
