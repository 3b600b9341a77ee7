package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Quantize
import graft.plans.ZoneMap

/** Driver-facing query registrations for the relational/TS operator surface
  * (SURVEY §2.1 O1–O8 + E1/E2), each paired with a DuckDB oracle.
  *
  * Constants are scaled versions of the reference benchmarks' parameters
  * (range pred 0.9 quantile-ish; influx window=1680 rows -> 8 rows here
  * since testdata signals have ~67 rows instead of millions).
  */
object TsQueries {
  import Readings.OracleCte

  private def r(s: SparkSession, dir: String): DataFrame = Readings.of(s, dir)

  /** Per-(signal, hour-of-day) baseline stats — mean/stddev in the
    * fixed-point domain from exact DECIMAL(38,0) moments. Shared by the
    * batch anomaly query and the streaming flagger (Ingest.anomalyStream,
    * which broadcasts this bounded signals x 24 table).
    */
  def seasonalBaseline(rr: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val q18 = col("value_q").cast("decimal(18,0)")
    rr.groupBy(col("signal_id"), col("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_q")).cast("decimal(38,0)").as("sq"),
        sum(q18 * q18).cast("decimal(38,0)").as("sqq"))
      .withColumn("mean_q", col("sq").cast("double") / col("n").cast("double"))
      .withColumn("sd_q", sqrt(
        (d38(col("n")) * col("sqq") - col("sq") * col("sq")).cast("double") /
          (col("n").cast("double") * col("n").cast("double"))))
      .select(col("signal_id"), col("hod"), col("mean_q"), col("sd_q"))
  }

  // EWMA recurrence step — written as `0.3 * x + 0.7 * acc` to match the
  // oracle's list_reduce lambda operation-for-operation (IEEE-exact).
  // A native aggregate() HOF (codegen'd, no serialization hop), not a
  // UDF: init = head, fold left over the tail — the same sequential
  // double recurrence the oracle's list_reduce performs.
  private def ewmaFold(values: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      slice(values, lit(2), greatest(size(values) - 1, lit(0))),
      element_at(values, 1),
      (acc, x) => lit(0.3) * x + lit(0.7) * acc)

  // Holt linear-trend recurrence (Holt 1957 double exponential smoothing;
  // alpha=0.5, beta=0.3; init l=x0, b=x1-x0). Operand order mirrors the
  // oracle's recursive-CTE step expression-for-expression, so the doubles
  // round identically. Returns the one-step-ahead forecast l_n + b_n.
  private val HoltFoldUdf = udf((vals: Seq[Double]) => {
    var l = vals(0)
    var b = vals(1) - vals(0)
    var i = 1
    while (i < vals.length) {
      val l2 = 0.5 * vals(i) + 0.5 * (l + b)
      b = 0.3 * (l2 - l) + 0.7 * b
      l = l2
      i += 1
    }
    l + b
  })

  /** Holt one-step forecast over a complete-segments frame (exposed for
    * the ramp-exactness spec; the registered query wraps it).
    */
  def holtForecastOf(segments: DataFrame): DataFrame =
    segments.select(col("signal_id"), col("seg"),
      round(HoltFoldUdf(col("values")), 6).as("forecast"))

  // Holt-Winters additive seasonal recurrence (Winters 1960; alpha=0.5,
  // beta=0.3, gamma=0.2, period 4). Init: l = mean of season 1, b =
  // (mean season 2 - mean season 1) / p, s_i = x_i - l. Every operand
  // order mirrors the oracle's recursive-CTE step expression-for-
  // expression so the doubles round identically. Returns the one-step
  // forecast l + b + s[next phase].
  /** The pure Holt-Winters fold (exposed for the property suite). */
  def hwForecast(vals: Seq[Double]): Double = {
    val p = 4
    val m1 = (((vals(0) + vals(1)) + vals(2)) + vals(3)) / 4.0
    val m2 = (((vals(4) + vals(5)) + vals(6)) + vals(7)) / 4.0
    var l = m1
    var b = (m2 - m1) / 4.0
    val s = Array.tabulate(p)(i => vals(i) - m1)
    var i = p
    while (i < vals.length) {
      val idx = i % p
      val lnew = 0.5 * (vals(i) - s(idx)) + 0.5 * (l + b)
      b = 0.3 * (lnew - l) + 0.7 * b
      s(idx) = 0.2 * (vals(i) - lnew) + 0.8 * s(idx)
      l = lnew
      i += 1
    }
    (l + b) + s(vals.length % p)
  }

  private val HwFoldUdf = udf(hwForecast _)

  /** Holt-Winters one-step forecast over a complete-segments frame —
    * the seasonal rung above [[holtForecastOf]] (exposed for the
    * steady-state spec; the registered query wraps it).
    */
  def hwForecastOf(segments: DataFrame): DataFrame =
    segments.select(col("signal_id"), col("seg"),
      round(HwFoldUdf(col("values")), 6).as("forecast"))

  /** Classical additive decomposition (period 7, positional): trend =
    * centered 7-row MA, seasonal = per-(signal, phase) mean of the
    * detrended series, residual = the rest. Every mean is carried as an
    * EXACT integer numerator in the fixed-point domain (trend: the 7-row
    * sum of value_q; detrended: 7*value_q - sum7, still integer;
    * seasonal: phase-sums of that), so both engines produce identical
    * doubles from identical integer divisions — no summation-order drift.
    * One keyed window + one keyed aggregation + one keyed join back: two
    * shuffles on signal_id total, partition-parallel at any scale.
    */
  def decomposeOf(readings: DataFrame): DataFrame = {
    val p = 7
    val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      .rowsBetween(-(p / 2), p / 2)
    val t = readings.select(col("signal_id"), col("seq_no"), col("value_q"),
        sum(col("value_q")).over(w).as("sq7"),
        count(lit(1)).over(w).as("c7"),
        ((col("seq_no") - 1) % p).as("phase"))
      .filter(col("c7") === p)
      .withColumn("dq", lit(p) * col("value_q") - col("sq7"))
    val ph = t.groupBy(col("signal_id"), col("phase"))
      .agg(sum(col("dq")).as("nk"), count(lit(1)).as("ck"))
    t.join(ph, Seq("signal_id", "phase"))
      .select(col("signal_id"), col("seq_no"),
        round(col("sq7").cast("double") / lit(p * 100.0), 6).as("trend"),
        round(col("nk").cast("double") /
          (lit(p * 100.0) * col("ck").cast("double")), 6).as("seasonal"),
        round((col("dq") * col("ck") - col("nk")).cast("double") /
          (lit(p * 100.0) * col("ck").cast("double")), 6).as("resid"))
  }

  /** Tag dimension = customer keyed by c_custkey (signal_id), per SURVEY §1.4
    * "tag columns become a proper dimension table".
    */
  private def tags(s: SparkSession, dir: String, segment: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey").as("signal_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o1_scan" -> ((s, d) => TsQuery.scan(r(s, d))),

    "o2_project_ids" -> ((s, d) =>
      TsQuery.projectAt(r(s, d), col("seq_no") % 10 === 0)),

    // O2 with a materialized row-id LIST (the reference's Vec<usize> /
    // bitmap exchange format): ids produced by one operator, consumed by
    // a left-semi join — true late materialization, not a fused predicate
    "o2b_project_idlist" -> ((s, d) => {
      val rr = r(s, d)
      val ids = rr.filter(col("value_q") % 97 === 0)
        .select(col("signal_id"), col("seq_no"))
      rr.join(ids, Seq("signal_id", "seq_no"), "left_semi")
        .select(col("signal_id"), col("seq_no"), col("value"))
    }),

    "o3_range" -> ((s, d) =>
      TsQuery.rangeFilter(r(s, d), col("value") > 150.0)),

    "o3b_range_cond" -> ((s, d) =>
      TsQuery.rangeFilter(r(s, d),
        col("value") > 250.0 && col("seq_no").between(10, 50))),

    "o4_equal" -> ((s, d) =>
      TsQuery.equalFilter(
        // SEMANTIC COUPLING with the oracle: quantize at scale 0 is
        // floor(value * 10^0) = floor(value), and the oracle writes it as
        // CAST(floor(value) AS BIGINT). These agree for ALL reals (floor
        // semantics on both sides — not truncation, which would differ
        // below zero); the pairing must change together if either moves.
        r(s, d).withColumn("value_q0", Quantize.quantize(col("value"), 0)),
        col("value_q0"), 42L)),

    "o5_agg_all" -> ((s, d) => TsQuery.aggAll(r(s, d))),

    "o5_argmax" -> ((s, d) => TsQuery.argmax(r(s, d))),

    // exact (interpolated) percentiles per signal — the continuous-quantile
    // flavor of O5; both engines use the same linear-interpolation
    // definition, rounded to 4dp to absorb lerp-formula ulp differences.
    // The scale guard is IN CODE (TsQuery.percentileAuto): groups observed
    // beyond ~1e7 rows route to the bounded-memory GK sketch instead of
    // the value-buffering exact form (the o5_percentile_approx bench twin
    // and bonus_approx measure that path); at oracle scale the probe
    // always picks exact, so the oracle is the exact definition
    "o5_percentile" -> ((s, d) =>
      TsQuery.percentileAuto(r(s, d), "signal_id", "value", Seq(0.5, 0.9))),

    "o6_window_pos" -> ((s, d) =>
      TsQuery.windowMaxPositional(r(s, d), 0L, Long.MaxValue, 16L)),

    // top-k readings per signal (the bounded flavor of O5b's argmax set);
    // WindowGroupLimit pushes the rank filter below the per-signal sort
    "o5_topk" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id"))
        .orderBy(col("value").desc, col("seq_no"))
      r(s, d).withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("signal_id"), col("seq_no"), col("value"), col("rnk"))
    }),

    // exact interpolated median per positional window — O5c at O6's grain
    "o6_window_p50" -> ((s, d) =>
      r(s, d).groupBy(col("signal_id"),
          Readings.posWindow(col("seq_no"), 0L, 16L).as("win"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          count(lit(1)).as("cnt"))),

    "o6_window_time" -> ((s, d) => TsQuery.windowAggTime(r(s, d), "1 day")),

    // O6 with argmax positions: the reference's windowed max also returns
    // the attaining-row bitmap (buff_simd.rs:5096); here the max and the
    // first attaining position ride one aggregation via lexicographic
    // struct-max (max value, ties -> smallest seq_no), no second pass
    "o6_window_argmax" -> ((s, d) =>
      TsQuery.windowMaxArgmax(r(s, d), 16L)),

    // session windows (gap-based) — the session flavor the reference lacks
    "ts_session" -> ((s, d) =>
      r(s, d).groupBy(col("signal_id"), session_window(col("ts"), "12 hours"))
        .agg(count(lit(1)).as("cnt"), max(col("value")).as("vmax"))
        .select(col("signal_id"),
          unix_timestamp(col("session_window.start")).as("s_start"),
          col("cnt"), col("vmax"))),

    // regular-grid resample with forward fill (gap filling): daily grid
    // per signal, each point carrying the last reading at-or-before it
    "ts_resample_ffill" -> ((s, d) => {
      val rr = r(s, d)
      val grid = rr.groupBy(col("signal_id"))
        .agg(date_trunc("day", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
        .select(col("signal_id"),
          explode(sequence(col("t0"), col("t1"), expr("interval 1 day"))).as("gts"))
      IntervalOps.asofJoin(grid,
          rr.select(col("signal_id"), col("ts"), col("value")),
          "signal_id", "gts", "ts", Seq("value"))
        .select(col("signal_id"), unix_timestamp(col("gts")).as("g_start"),
          col("value"))
    }),

    // regular-grid resample with LINEAR INTERPOLATION — the gap-filling
    // twin of ts_resample_ffill (the Influx/Timescale `interpolate()`
    // shape). One union of grid points with readings, then two keyed
    // windows (last reading at-or-before, first at-or-after) and the
    // closed-form lerp — no join, two exchanges on signal_id at any
    // scale. Grid points before the first reading backfill; after the
    // last reading they carry it forward.
    "ts_resample_interp" -> ((s, d) => {
      val rr = r(s, d)
      val grid = rr.groupBy(col("signal_id"))
        .agg(date_trunc("day", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
        .select(col("signal_id"),
          explode(sequence(col("t0"), col("t1"), expr("interval 1 day"))).as("t"))
        .withColumn("is_grid", lit(1))
        .withColumn("value", lit(null).cast("double"))
        .withColumn("seq_no", lit(null).cast("long"))
      val u = rr.select(col("signal_id"), col("ts").as("t"),
          lit(0).as("is_grid"), col("value"), col("seq_no"))
        .unionByName(grid.select(col("signal_id"), col("t"), col("is_grid"),
          col("value"), col("seq_no")))
        .withColumn("te", col("t").cast("double")) // fractional epoch secs
      // readings sort before a same-instant grid point (is_grid), so a
      // grid point landing ON a reading interpolates to exactly it
      val ord = Seq(col("t"), col("is_grid"), col("seq_no"))
      val wp = W.partitionBy(col("signal_id")).orderBy(ord: _*)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wn = W.partitionBy(col("signal_id")).orderBy(ord: _*)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
      u.withColumn("pv", last(col("value"), ignoreNulls = true).over(wp))
        .withColumn("pt", last(when(col("value").isNotNull, col("te")),
          ignoreNulls = true).over(wp))
        .withColumn("nv", first(col("value"), ignoreNulls = true).over(wn))
        .withColumn("nt", first(when(col("value").isNotNull, col("te")),
          ignoreNulls = true).over(wn))
        .filter(col("is_grid") === 1)
        .select(col("signal_id"),
          unix_timestamp(col("t")).as("g_start"),
          round(
            when(col("nv").isNull, col("pv"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nt") === col("pt"), col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((col("te") - col("pt")) / (col("nt") - col("pt")))), 6)
            .as("value"))
    }),

    // full lag sweep 0..7 with per-pair best-alignment argmax (the
    // cross-correlation-function query: which shift aligns two signals
    // best). The b side explodes once per lag — an 8x fan-out bounded by
    // the lag budget — then the same exact moment math per (pair, lag),
    // and a rank on the ROUNDED xcorr (round-then-rank keeps tie-breaks
    // engine-identical) picks each pair's best lag.
    "ts_xcorr_best" -> ((s, d) => {
      val rr = r(s, d).filter(col("signal_id") < 5)
        .select(col("signal_id"), col("seq_no"), col("value_q"))
      val a = rr.select(col("signal_id").as("sig_a"), col("seq_no"),
        col("value_q").as("qa"))
      val b = rr.select(col("signal_id").as("sig_b"), col("seq_no"),
          col("value_q").as("qb"))
        .withColumn("lag", explode(sequence(lit(0L), lit(7L))))
        .withColumn("seq_no", col("seq_no") - col("lag"))
      val (qa, qb) = (col("qa").cast("decimal(18,0)"), col("qb").cast("decimal(18,0)"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val scored = a.join(b, "seq_no").where(col("sig_a") =!= col("sig_b"))
        .groupBy(col("sig_a"), col("sig_b"), col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qa")).cast("decimal(38,0)").as("sa"),
          sum(col("qb")).cast("decimal(38,0)").as("sb"),
          sum(qa * qa).cast("decimal(38,0)").as("saa"),
          sum(qb * qb).cast("decimal(38,0)").as("sbb"),
          sum(qa * qb).cast("decimal(38,0)").as("sab"))
        .withColumn("xcorr_q", round(
          (d38(col("n")) * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt((d38(col("n")) * col("saa") - col("sa") * col("sa")).cast("double")) *
             sqrt((d38(col("n")) * col("sbb") - col("sb") * col("sb")).cast("double"))), 6))
      val wBest = W.partitionBy(col("sig_a"), col("sig_b"))
        .orderBy(col("xcorr_q").desc, col("lag"))
      scored.withColumn("rnk", row_number().over(wBest))
        .filter(col("rnk") === 1)
        .select(col("sig_a"), col("sig_b"), col("lag").as("best_lag"),
          col("xcorr_q").as("best_xcorr"))
    }),

    // rolling correlation over a trailing 16-row window for each ADJACENT
    // signal pair (sig, sig+1): windowed integer moments (products stay
    // within int64 for the 16-row frame, exact on both engines), the
    // same corr formula as ts_corr per frame. Window partitions by the
    // pair — keyed, no global ordering; rows whose frame has zero
    // variance on either side are skipped.
    "ts_rolling_corr" -> ((s, d) => {
      val rr = r(s, d).filter(col("signal_id") < 10)
        .select(col("signal_id"), col("seq_no"), col("value_q"))
      val a = rr.select(col("signal_id").as("sig_a"), col("seq_no"),
        col("value_q").as("qa"))
      val b = rr.select((col("signal_id") - 1).as("sig_a"), col("seq_no"),
        col("value_q").as("qb"))
      val w = W.partitionBy(col("sig_a")).orderBy(col("seq_no"))
        .rowsBetween(-15, W.currentRow)
      val j = a.join(b, Seq("sig_a", "seq_no"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sa", sum(col("qa")).over(w))
        .withColumn("sb", sum(col("qb")).over(w))
        .withColumn("saa", sum(col("qa") * col("qa")).over(w))
        .withColumn("sbb", sum(col("qb") * col("qb")).over(w))
        .withColumn("sab", sum(col("qa") * col("qb")).over(w))
      val va = col("n") * col("saa") - col("sa") * col("sa")
      val vb = col("n") * col("sbb") - col("sb") * col("sb")
      j.filter(va > 0 && vb > 0)
        .select(col("sig_a"), col("seq_no"), col("n"),
          round((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))), 6).as("rcorr"))
    }),

    // per-signal fixed-bin value histogram (the heatmap primitive):
    // 20 bins over the fixed-point domain [0, 40000), out-of-range
    // clamped to the edge bins. One keyed aggregation; bin ids are
    // integer arithmetic so the histogram is engine-exact.
    "ts_histogram" -> ((s, d) =>
      r(s, d).groupBy(col("signal_id"),
          greatest(lit(0L), least(lit(19L),
            floor(col("value_q") / lit(2000.0)).cast("long"))).as("bin"))
        .agg(count(lit(1)).as("cnt"))),

    // seasonal-baseline anomaly detection: per-(signal, hour-of-day)
    // mean/stddev from EXACT integer moments (DECIMAL(38,0), the ts_corr
    // overflow hardening), then readings deviating more than 2 sigma
    // from their own hour's baseline. The stats side is bounded at
    // signals x 24 rows — a keyed join Spark auto-broadcasts when small;
    // the comparison arithmetic is identical in both engines so the
    // anomaly set is deterministic.
    "ts_seasonal_anomaly" -> ((s, d) => {
      val rr = r(s, d).withColumn("hod", hour(col("ts")))
      rr.join(seasonalBaseline(rr), Seq("signal_id", "hod"))
        .filter(col("sd_q") > 0.0 &&
          abs(col("value_q").cast("double") - col("mean_q")) > lit(2.0) * col("sd_q"))
        .select(col("signal_id"), col("seq_no"), col("hod"), col("value"),
          round((col("value_q").cast("double") - col("mean_q")) / col("sd_q"), 6)
            .as("z"))
    }),

    // first difference per signal (rate-of-change stream): keyed window,
    // one shuffle on signal_id; the first row of each signal has no
    // predecessor and is dropped
    "ts_delta" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      r(s, d).select(col("signal_id"), col("seq_no"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
        .filter(col("delta").isNotNull)
    }),

    // trailing moving average over the last 4 readings (rows frame, keyed
    // window); rounded to 6dp to absorb summation-order ulp differences
    "ts_moving_avg" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
        .rowsBetween(-3, 0)
      r(s, d).select(col("signal_id"), col("seq_no"),
        round(avg(col("value")).over(w), 6).as("mavg"))
    }),

    // classical additive decomposition (trend + seasonal + residual), the
    // period-7 positional flavor: trend = centered 7-row MA, seasonal =
    // per-(signal, phase) mean of the detrended series, residual = the
    // rest. Every mean is carried as an EXACT integer numerator in the
    // fixed-point domain (trend: the 7-row sum of value_q; detrended:
    // 7*value_q - sum7, still integer; seasonal: phase-sums of that), so
    // the doubles on both engines come from identical integer divisions —
    // no summation-order drift anywhere. One keyed window + one keyed
    // aggregation + one keyed join back: two shuffles on signal_id total,
    // partition-parallel at any scale.
    "ts_decompose" -> ((s, d) => decomposeOf(r(s, d))),

    // CUSUM changepoint per signal: the t maximizing |C_t|, where
    // C_t = sum_{i<=t}(x_i - mean) is the cumulative deviation from the
    // signal mean. The statistic rides an EXACT integer numerator
    // num_t = n*S_t - t*S_n (prefix and total sums of value_q) in
    // DECIMAL(38,0) — int64 wraps at ~1e9-row signals at 100 TB, decimal
    // stays exact — so argmax and tie-breaks are engine-identical; the
    // reported score C_t = num_t/(100*n) divides the same integers on
    // both sides. One keyed window pass + one window argmax: two
    // shuffles on signal_id
    "ts_changepoint" -> ((s, d) => {
      val wP = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      val wA = W.partitionBy(col("signal_id"))
      val d20 = (c: org.apache.spark.sql.Column) => c.cast("decimal(20,0)")
      val t = r(s, d).select(col("signal_id"), col("seq_no"),
          sum(col("value_q")).over(wP).as("st"),
          count(lit(1)).over(wA).as("n"),
          sum(col("value_q")).over(wA).as("sn"))
        .withColumn("num",
          (d20(col("n")) * d20(col("st")) - d20(col("seq_no")) * d20(col("sn")))
            .cast("decimal(38,0)"))
      val wMax = W.partitionBy(col("signal_id"))
        .orderBy(abs(col("num")).desc, col("seq_no"))
      t.withColumn("rnk", row_number().over(wMax)).filter(col("rnk") === 1)
        .select(col("signal_id"), col("seq_no").as("cp_seq"),
          round(abs(col("num")).cast("double") /
            (lit(100.0) * col("n").cast("double")), 6).as("cp_score"))
    }),

    // z-score outlier detection per signal (the production flavor of the
    // reference's outlier concern, outlier/mod.rs): moments computed as
    // EXACT integer sums over the fixed-point domain (sum_q, sum_q^2 —
    // associative, map-side combined, engine-identical), then one
    // broadcast join of the tiny per-signal stats back onto the readings.
    // The squared-moment sum rides DECIMAL(38,0): q^2 sums overflow int64
    // past ~4e9 rows/signal while decimal stays exact to 1e38, so the
    // engine-identical claim holds at the 100 TB design point (s1 as int64
    // is safe to ~9e13 rows/signal at |q| <= 1e5)
    "ts_zscore" -> ((s, d) => {
      val rr = r(s, d)
      val q18 = col("value_q").cast("decimal(18,0)")
      val stats = rr.groupBy(col("signal_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_q")).cast("long").as("s1"),
          sum(q18 * q18).cast("decimal(38,0)").as("s2"))
        .withColumn("mean_q", col("s1").cast("double") / col("n").cast("double"))
        .withColumn("var_q",
          col("s2").cast("double") / col("n").cast("double") -
            col("mean_q") * col("mean_q"))
        .where(col("var_q") > 0.0)
        .select(col("signal_id"), col("mean_q"), col("var_q"))
      rr.join(broadcast(stats), "signal_id")
        .withColumn("z",
          (col("value_q").cast("double") - col("mean_q")) / sqrt(col("var_q")))
        .where(abs(col("z")) > 3.0)
        .select(col("signal_id"), col("seq_no"), col("value"),
          round(col("z"), 6).as("z"))
    }),

    // cross-signal Pearson correlation over seq_no-aligned pairs of the
    // first 5 signals — the moments ride ONE aggregation per pair as exact
    // integer sums; the tiny pivoted side joins by seq_no (keyed shuffle).
    // Second moments and the final moment combination (n*sab - sa*sb etc.)
    // run in DECIMAL(38,0): the int64 form wraps silently past ~4e9 aligned
    // rows (q^2 sums) / ~3e4 rows (n*saa products), while decimal is exact
    // to 1e38 — at tested SFs both agree with the oracle's BIGINT math,
    // and at 100 TB the decimal stays exact where int64 would wrap
    "ts_corr" -> ((s, d) => {
      val rr = r(s, d).filter(col("signal_id") < 5)
        .select(col("signal_id"), col("seq_no"), col("value_q"))
      val a = rr.select(col("signal_id").as("sig_a"), col("seq_no"),
        col("value_q").as("qa"))
      val b = rr.select(col("signal_id").as("sig_b"), col("seq_no"),
        col("value_q").as("qb"))
      val (qa, qb) = (col("qa").cast("decimal(18,0)"), col("qb").cast("decimal(18,0)"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      a.join(b, "seq_no").where(col("sig_a") < col("sig_b"))
        .groupBy(col("sig_a"), col("sig_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("qa")).cast("decimal(38,0)").as("sa"),
          sum(col("qb")).cast("decimal(38,0)").as("sb"),
          sum(qa * qa).cast("decimal(38,0)").as("saa"),
          sum(qb * qb).cast("decimal(38,0)").as("sbb"),
          sum(qa * qb).cast("decimal(38,0)").as("sab"))
        .withColumn("corr_q", round(
          (d38(col("n")) * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt((d38(col("n")) * col("saa") - col("sa") * col("sa")).cast("double")) *
             sqrt((d38(col("n")) * col("sbb") - col("sb") * col("sb")).cast("double"))), 6))
        .select(col("sig_a"), col("sig_b"), col("n"), col("corr_q"))
    }),

    // lag-k cross-correlation between signal pairs: the b side is shifted
    // back by `lag` rows before the positional equi-join, so corr is
    // computed over the overlapping support (the lagged-similarity kernel
    // of the reference's kernel methods, kernel.rs — here as exact
    // fixed-point moments in DECIMAL(38,0), same overflow hardening as
    // ts_corr). Ordered pairs, since lag breaks the symmetry.
    "ts_xcorr_lag" -> ((s, d) => {
      val lag = 4
      val rr = r(s, d).filter(col("signal_id") < 5)
        .select(col("signal_id"), col("seq_no"), col("value_q"))
      val a = rr.select(col("signal_id").as("sig_a"), col("seq_no"),
        col("value_q").as("qa"))
      val b = rr.select(col("signal_id").as("sig_b"),
        (col("seq_no") - lag).as("seq_no"), col("value_q").as("qb"))
      val (qa, qb) = (col("qa").cast("decimal(18,0)"), col("qb").cast("decimal(18,0)"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      a.join(b, "seq_no").where(col("sig_a") =!= col("sig_b"))
        .groupBy(col("sig_a"), col("sig_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("qa")).cast("decimal(38,0)").as("sa"),
          sum(col("qb")).cast("decimal(38,0)").as("sb"),
          sum(qa * qa).cast("decimal(38,0)").as("saa"),
          sum(qb * qb).cast("decimal(38,0)").as("sbb"),
          sum(qa * qb).cast("decimal(38,0)").as("sab"))
        .withColumn("lag", lit(lag.toLong))
        .withColumn("xcorr_q", round(
          (d38(col("n")) * col("sab") - col("sa") * col("sb")).cast("double") /
            (sqrt((d38(col("n")) * col("saa") - col("sa") * col("sa")).cast("double")) *
             sqrt((d38(col("n")) * col("sbb") - col("sb") * col("sb")).cast("double"))), 6))
        .select(col("sig_a"), col("sig_b"), col("lag"), col("n"), col("xcorr_q"))
    }),

    // counter rate with reset detection (the PromQL/monitoring flavor of
    // ts_delta): per-signal increase between consecutive readings, where a
    // DROP is a counter reset and the post-reset value is the increase.
    // Fixed-point domain so both engines agree exactly; one keyed window
    "ts_counter_rate" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      r(s, d).select(col("signal_id"), col("seq_no"),
          (col("value_q") - lag(col("value_q"), 1).over(w)).as("dq"),
          col("value_q"))
        .filter(col("dq").isNotNull)
        .select(col("signal_id"), col("seq_no"),
          when(col("dq") < 0, col("value_q")).otherwise(col("dq")).as("increase_q"))
    }),

    // gap detection: consecutive-reading gaps over 6 hours per signal —
    // the diagnostic sibling of ts_session (integer epoch math, exact)
    "ts_gaps" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      r(s, d).select(col("signal_id"), col("seq_no"),
          (unix_timestamp(col("ts")) -
            lag(unix_timestamp(col("ts")), 1).over(w)).as("gap_s"))
        .filter(col("gap_s") > 6 * 3600L)
    }),

    // segment-local EWMA smoothing (alpha=0.3, state resets per segment):
    // the per-segment final EWMA, computed as an EXPLICIT sequential left
    // fold over the ordered segment array on both engines (Spark UDF /
    // DuckDB list_reduce, identical `0.3*x + 0.7*acc` step). A running
    // window-sum closed form was tried first and failed the exact gate:
    // the engines associate window sums differently, and one last-ulp
    // difference flipped a 6dp rounding boundary. Sequential recurrences
    // need sequential folds to be engine-exact.
    "ts_ewma_seg" -> ((s, d) =>
      Segments.complete(r(s, d))
        .select(col("signal_id"), col("seg"),
          round(ewmaFold(col("values")), 6).as("ewma"))),

    // Holt double-exponential one-step forecast per complete segment —
    // the forecasting sibling of ts_ewma_seg (level + trend state, same
    // per-segment fold shape; at 100 TB this is one map over the segment
    // tier, no shuffle beyond the segment grouping)
    "ts_holt_forecast" -> ((s, d) =>
      holtForecastOf(Segments.complete(r(s, d)))),

    // Holt-Winters additive seasonal one-step forecast per complete
    // segment (period 4 inside the 16-row segment = 4 full seasons) —
    // the seasonal rung of the forecasting ladder. Same shuffle shape
    // as Holt: one keyed segment aggregation, then a per-row fold.
    "ts_hw_forecast" -> ((s, d) =>
      hwForecastOf(Segments.complete(r(s, d)))),

    // forecast BACKTEST: each segment's Holt and Holt-Winters one-step
    // forecasts scored against the realized value (the next segment's
    // first reading) — the model-selection evidence a serving tier needs
    // before picking a forecaster per signal. Per-row errors only (no
    // cross-row double summation), so the comparison is order-exact.
    "ts_forecast_backtest" -> ((s, d) => {
      val segs = Segments.complete(r(s, d))
      val holt = holtForecastOf(segs).withColumnRenamed("forecast", "f_holt")
      val hw = hwForecastOf(segs).withColumnRenamed("forecast", "f_hw")
      val actuals = r(s, d).filter((col("seq_no") - 1) % 16 === 0)
        .select(col("signal_id"),
          (Readings.segmentId(col("seq_no")) - 1).as("seg"),
          col("value").as("actual"))
        .filter(col("seg") >= 0)
      holt.join(hw, Seq("signal_id", "seg"))
        .join(actuals, Seq("signal_id", "seg"))
        .select(col("signal_id"), col("seg"), col("f_holt"), col("f_hw"),
          col("actual"),
          round(abs(col("f_holt") - col("actual")), 6).as("err_holt"),
          round(abs(col("f_hw") - col("actual")), 6).as("err_hw"))
    }),

    "influx_max" -> ((s, d) => r(s, d).agg(max(col("value")).as("vmax"))),

    "influx_max_groupby" -> ((s, d) =>
      TsQuery.windowMaxPositional(
        r(s, d).filter(col("signal_id") === 7), 8L, 48L, 8L)
        .select(col("win"), col("wmax"), col("cnt"))),

    "tsbs_last_loc" -> ((s, d) =>
      TsQuery.tagJoin(TsQuery.lastPerSignal(r(s, d)), tags(s, d, "BUILDING"))),

    "tsbs_low_fuel" -> ((s, d) =>
      TsQuery.lastPerSignal(r(s, d)).filter(col("last_value") < 50.0)),

    "tsbs_high_load" -> ((s, d) =>
      TsQuery.tagJoin(r(s, d), tags(s, d, "MACHINERY"))
        .filter(col("value") > 100.0)
        .select(col("signal_id"), col("seq_no"), col("value"))),

    // the SKEW-AWARE form of tsbs_high_load: at 100 TB the dimension side
    // may not broadcast and one hot signal pins a reducer in the plain
    // hash join — adaptiveJoin salt-replicates the observed heavy keys
    // (top-N capped driver list) and leaves the tail on the plain keyed
    // path. Row multiplicity is preserved exactly, so the oracle is the
    // same SQL join as tsbs_high_load.
    "tsbs_high_load_skew" -> ((s, d) => {
      val rr = r(s, d)
      val heavy = SkewJoin.heavyHitters(rr, "signal_id",
        threshold = 1.2, maxKeys = 64)
      SkewJoin.adaptiveJoin(rr, tags(s, d, "MACHINERY"), "signal_id",
          struct(col("signal_id"), col("seq_no")), heavy, saltFactor = 8)
        .filter(col("value") > 100.0)
        .select(col("signal_id"), col("seq_no"), col("value"))
    }),

    // O7's complement: signals with NO dimension row in the segment —
    // broadcast anti-join (the untagged-stream diagnostic)
    "tsbs_untagged" -> ((s, d) =>
      TsQuery.lastPerSignal(r(s, d))
        .join(broadcast(tags(s, d, "BUILDING")), Seq("signal_id"), "left_anti")),

    // as-of join: each reading picks up its segment's start marker — the
    // "latest state at event time" join; self-validating (seg must equal
    // the reading's own segment id)
    "asof_segment" -> ((s, d) => {
      val rr = r(s, d)
      val segStarts = rr
        .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
        .agg(min(col("ts")).as("seg_ts"))
      IntervalOps.asofJoin(rr, segStarts, "signal_id", "ts", "seg_ts", Seq("seg"))
        .select(col("signal_id"), col("seq_no"), col("seg"))
    }),

    // as-of with a 2-hour staleness tolerance: readings farther than the
    // tolerance from their segment start lose the match (NULL seg) — the
    // "state expires" join (stale quote / offline sensor semantics)
    "asof_tolerance" -> ((s, d) => {
      val rr = r(s, d)
      val segStarts = rr
        .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
        .agg(min(col("ts")).as("seg_ts"))
      IntervalOps.asofJoinTolerance(rr, segStarts, "signal_id", "ts", "seg_ts",
          Seq("seg"), toleranceSec = 7200L)
        .select(col("signal_id"), col("seq_no"), col("seg"))
    }),

    // the same as-of join through the NATIVE operator (custom LogicalPlan
    // + Strategy + SparkPlan, plans/AsOfJoin.scala): one streaming merge
    // pass per co-partitioned partition instead of the union+window form
    "asof_native" -> ((s, d) => {
      val rr = r(s, d)
      val segStarts = rr
        .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
        .agg(min(col("ts")).as("seg_ts"))
      graft.plans.NativeAsOf.asofJoin(
          rr.select(col("signal_id"), col("seq_no"), col("ts")),
          segStarts, "signal_id", "ts", "seg_ts", Seq("seg"))
        .select(col("signal_id"), col("seq_no"), col("seg"))
    }),

    // the staleness-tolerance as-of through the NATIVE operator: same
    // merge pass as asof_native plus one comparison against the buffered
    // match's timestamp — no extra column plumbing, no second window
    "asof_native_tolerance" -> ((s, d) => {
      val rr = r(s, d)
      val segStarts = rr
        .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
        .agg(min(col("ts")).as("seg_ts"))
      graft.plans.NativeAsOf.asofJoinTolerance(
          rr.select(col("signal_id"), col("seq_no"), col("ts")),
          segStarts, "signal_id", "ts", "seg_ts", Seq("seg"),
          toleranceSec = 7200L)
        .select(col("signal_id"), col("seq_no"), col("seg"))
    }),

    // range join: readings against overlapping value bands, bin-bucketed
    "range_bands" -> ((s, d) => {
      val bands = s.range(13).select(col("id").as("band_id"),
        (col("id") * 37.5).as("lo"), (col("id") * 37.5 + 80.0).as("hi"))
      IntervalOps.rangeJoinByBins(
        r(s, d).select(col("signal_id"), col("seq_no"), col("value")),
        "value", bands, "lo", "hi", binWidth = 50.0)
        .select(col("signal_id"), col("seq_no"), col("band_id"))
    }),

    "o8_zonemap" -> ((s, d) => ZoneMap.segmentStats(r(s, d))),

    "o8_zonemap_max" -> ((s, d) =>
      ZoneMap.maxFromStats(ZoneMap.segmentStats(r(s, d)))),

    // exact global sum/count served from the stats table alone — the
    // other half of the reference's stats-only query path (AggStats sum,
    // buffer_pool.rs:940-1101): sum_q is the exact fixed-point sum, so
    // the fold over segment stats equals the raw-data aggregate
    "o8_zonemap_sum" -> ((s, d) =>
      ZoneMap.sumFromStats(ZoneMap.segmentStats(r(s, d)))),

    // min + avg from stats complete the reference's five buffer-level
    // stats queries (Count/Min/Max/Sum/Average, query.rs:41-173) — every
    // one now answered from the zone map without a data scan
    "o8_zonemap_min" -> ((s, d) =>
      ZoneMap.minFromStats(ZoneMap.segmentStats(r(s, d)))),

    "o8_zonemap_avg" -> ((s, d) =>
      ZoneMap.avgFromStats(ZoneMap.segmentStats(r(s, d)), scale = 100.0)),

    // percentiles served from the persisted fixed-point histogram sketch —
    // the stats-tier answer to o5_percentile (exact in the quantized
    // domain, mergeable across segments, no raw-data sort anywhere)
    "o8_percentile_sketch" -> ((s, d) =>
      ZoneMap.percentileFromHistogram(
        ZoneMap.segmentHistogram(r(s, d)), Seq(0.5, 0.9), scale = 100.0)),

    // SegmentIter chain walk (segment.rs:115-120 get_prev_key /
    // :251-291 SegmentIter): consecutive segments of a signal form an
    // implicit linked list; emit each segment with its predecessor key.
    // The reference walks the list pointer-by-pointer; relationally it is
    // one keyed window (lag over the per-signal segment sequence)
    "seg_chain" -> ((s, d) => {
      val segs = r(s, d)
        .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
        .agg(min(col("seq_no")).as("first_seq"), max(col("seq_no")).as("last_seq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("signal_id")).orderBy(col("seg"))
      segs.withColumn("prev_seg", coalesce(lag(col("seg"), 1).over(w), lit(-1L)))
    }),

    // OHLC candle downsampling — the classic TS rollup (open/high/low/
    // close per signal per day); open/close via min_by/max_by on the
    // unique per-signal seq_no, one keyed aggregation
    // weekly candles REAGGREGATED FROM the daily ones (open = first
    // day's open, close = last day's close, high/low/cnt fold) — the
    // hierarchical-rollup property pre-aggregated tiers rely on: the
    // coarser candle is exactly derivable from the finer tier, never
    // from raw data (reference btr-tree stats fold, avl/btrarr.rs)
    "ts_ohlc_weekly" -> ((s, d) =>
      queries("ts_ohlc")(s, d)
        .groupBy(col("signal_id"),
          (floor(col("day_s") / 604800.0) * 604800).cast("long").as("week_s"))
        .agg(min_by(col("open_v"), col("day_s")).as("open_v"),
          max(col("high_v")).as("high_v"),
          min(col("low_v")).as("low_v"),
          max_by(col("close_v"), col("day_s")).as("close_v"),
          sum(col("cnt")).cast("long").as("cnt"))),

    "ts_ohlc" -> ((s, d) =>
      r(s, d).groupBy(col("signal_id"), date_trunc("day", col("ts")).as("day"))
        .agg(min_by(col("value"), col("seq_no")).as("open_v"),
          max(col("value")).as("high_v"),
          min(col("value")).as("low_v"),
          max_by(col("value"), col("seq_no")).as("close_v"),
          count(lit(1)).as("cnt"))
        .select(col("signal_id"), unix_timestamp(col("day")).as("day_s"),
          col("open_v"), col("high_v"), col("low_v"), col("close_v"), col("cnt"))),

    // event-time zone map — the stats key STREAMING ingest maintains
    // incrementally (ZoneMap.timeStats; fold parity in StreamingSpec)
    "o8_zonemap_time" -> ((s, d) =>
      ZoneMap.timeStats(r(s, d))
        .select(col("signal_id"), unix_timestamp(col("day")).as("day_s"),
          col("cnt"), col("vmin"), col("vmax"), col("sum_q"))),

    "e1_quantize" -> ((s, d) =>
      r(s, d).select(col("signal_id"), col("seq_no"), col("value_q"),
        Quantize.dequantize(col("value_q"), Readings.Scale).as("value_dq"))),

    "e2_approx" -> ((s, d) =>
      r(s, d).select(col("signal_id"), col("seq_no"),
        Quantize.approxTruncate(col("value_q"), 4).as("value_q4"))),

    // E2b — precision-progressive SUM: the aggregate computed over the
    // truncated fixed-point domain, with its relative error vs the exact
    // fixed-point sum (reference split_double.rs:2949 sum@precision —
    // approximate answers from the first k bit planes, error-characterized)
    "e2b_approx_sum" -> ((s, d) =>
      r(s, d).groupBy(col("signal_id"))
        .agg(sum(Quantize.approxTruncate(col("value_q"), 4)).cast("long").as("sum_q4"),
             sum(col("value_q")).cast("long").as("sum_q"))
        .withColumn("rel_err",
          when(col("sum_q") === 0L, lit(0.0))
            .otherwise(round(abs(col("sum_q") - col("sum_q4")).cast("double") /
              abs(col("sum_q")).cast("double"), 6)))),

    // time-weighted average per (signal, day) — the irregular-sampling
    // aggregate (InfluxDB TWA / TimescaleDB time_weight('Linear')):
    // trapezoidal integral over consecutive readings, each interval
    // assigned to its left endpoint's day. The integral numerator is an
    // EXACT integer — (q_i + q_{i+1}) * dt_us summed in DECIMAL(38,0) —
    // so both engines divide identical integers; one keyed window + one
    // keyed aggregation (two shuffles on signal_id), no buffering.
    "ts_twa" -> ((s, d) => twaOf(r(s, d))),

    // Bollinger bands over a trailing 8-row window: mean ± 2·stddev from
    // EXACT integer rolling moments (sum and sum-of-squares of value_q
    // over the rows frame), so both engines derive the bands from the
    // same integer divisions — population variance, the ts_zscore
    // convention. One keyed window, shuffle on signal_id only. Rows with
    // a full 8-row history only (partial warm-up frames drop out).
    "ts_bollinger" -> ((s, d) => bollingerOf(r(s, d))),

    // M4 visualization downsampling (Jugel et al., VLDB'14): per
    // (signal, 16-row window) keep min/max/first/last plus the positions
    // attaining min/max — the 4-point-per-pixel rollup chart frontends
    // query. first/last are deterministic via the unique seq_no
    // (min_by/max_by); min/max positions take the LOWEST attaining
    // seq_no (window min over the same keys, then a conditional min —
    // the window exchange is reused by the aggregation, one shuffle).
    "ts_m4" -> ((s, d) => m4Of(r(s, d))),

    // autocorrelation function at lags 1..5 per signal — the classic
    // seasonality/memory diagnostic. The estimator is computed entirely
    // from integer moments scaled by n (num_L = Σ(n·q_i − S)(n·q_{i+L} −
    // S), den = Σ(n·q_i − S)² expanded into n²·Σxy / n·S / S² terms, all
    // DECIMAL(38,0)), so both engines produce the double from one
    // identical integer division. One keyed window (5 leads share it) +
    // one keyed aggregation: two shuffles on signal_id.
    "ts_acf" -> ((s, d) => acfOf(r(s, d))),

    // robust location/spread per signal: median + MAD (median absolute
    // deviation) in the fixed-point domain — the outlier-resistant
    // alternative to mean/stddev (ts_zscore's robust twin). Exact
    // continuous-quantile on integers (interpolated midpoints are
    // .0/.5, exactly representable), so both engines agree bitwise.
    // Two keyed aggregations + one keyed join; the medians frame is
    // signals-sized (auto-broadcast).
    // the corpus-wide hour-of-day load profile: exact per-hour counts
    // and fixed-point means per event_type — the capacity-planning view
    // of the event stream (one keyed aggregation)
    "ts_hod_profile" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          sum(Quantize.quantize(col("value"), 2)).cast("long").as("sum_q"))
        .withColumn("avg_v", round(
          col("sum_q").cast("double") / (lit(100.0) * col("n").cast("double")), 6))),

    // robust outlier flags: the modified z-score (Iglewicz-Hoaglin,
    // 0.6745·|x − med|/MAD > 3.5) — immune to the outliers themselves
    // inflating the spread, unlike ts_zscore's mean/stddev. med/MAD come
    // from exact continuous quantiles on integers (the ts_mad pattern);
    // the flag comparison is computed identically on both engines.
    "ts_outlier_mad" -> ((s, d) => {
      val med = r(s, d).groupBy(col("signal_id"))
        .agg(expr("percentile(value_q, 0.5)").as("med_q"))
      // materialized once: dev feeds the MAD aggregation AND the final
      // flag join — unmaterialized, the whole median+deviation subtree
      // (including the seq_no window beneath it) executed twice. The
      // two-pass shape is inherent to MAD; the second pass should read
      // the deviations, not recompute them.
      val dev = Materialize.checkpoint(r(s, d).join(med, "signal_id")
        .select(col("signal_id"), col("seq_no"), col("value_q"), col("med_q"),
          abs(col("value_q").cast("double") - col("med_q")).as("dev")))
      val mad = dev.groupBy(col("signal_id"))
        .agg(expr("percentile(dev, 0.5)").as("mad_q"))
      dev.join(mad, "signal_id")
        .filter(col("mad_q") > 0.0 &&
          lit(0.6745) * col("dev") / col("mad_q") > lit(3.5))
        .select(col("signal_id"), col("seq_no"), col("value_q"),
          round(lit(0.6745) * col("dev") / col("mad_q"), 6).as("mz"))
    }),

    // semi-structured payloads: the events table's JSON `props` column
    // aggregated per event_type — JSON path extraction is codegen'd
    // (get_json_object) and the aggregate is exact integer; the schema-
    // on-read shape for sparse per-event attributes at scale (extract
    // only the paths queried, never materialize the whole document)
    "ts_json_props" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // strict local extrema per signal (peak/trough census — the shape
    // signal feeding peak detection and alert thresholds): a row is a
    // peak iff strictly above BOTH neighbors, in the exact integer
    // domain. One keyed window, two lag/lead reads, one aggregation.
    "ts_peaks" -> ((s, d) => {
      val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      r(s, d).select(col("signal_id"), col("value_q"),
          lag(col("value_q"), 1).over(w).as("pv"),
          lead(col("value_q"), 1).over(w).as("nv"))
        .groupBy(col("signal_id"))
        .agg(
          sum(when(col("value_q") > col("pv") && col("value_q") > col("nv"),
            1L).otherwise(0L)).cast("long").as("n_peaks"),
          sum(when(col("value_q") < col("pv") && col("value_q") < col("nv"),
            1L).otherwise(0L)).cast("long").as("n_troughs"))
    }),

    // strict-order conversion funnel over the event stream: per user the
    // FIRST occurrence of each step, a user reaches step k only if the
    // first-occurrence timestamps strictly increase through step k
    // (view < click < signup < purchase). One keyed aggregation + one
    // global fold of four indicator sums — the classic product-analytics
    // query, exact integers end to end.
    "ts_event_funnel" -> ((s, d) => {
      val f = Tables.events(s, d).groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      val s1 = col("t_view").isNotNull
      val s2 = s1 && col("t_click") > col("t_view")
      val s3 = s2 && col("t_signup") > col("t_click")
      val s4 = s3 && col("t_purchase") > col("t_signup")
      f.agg(
        sum(when(s1, 1L).otherwise(0L)).cast("long").as("view_users"),
        sum(when(s2, 1L).otherwise(0L)).cast("long").as("click_users"),
        sum(when(s3, 1L).otherwise(0L)).cast("long").as("signup_users"),
        sum(when(s4, 1L).otherwise(0L)).cast("long").as("purchase_users"))
    }),

    "ts_mad" -> ((s, d) => {
      val med = r(s, d).groupBy(col("signal_id"))
        .agg(expr("percentile(value_q, 0.5)").as("med_q"))
      r(s, d).join(med, "signal_id")
        .select(col("signal_id"), col("med_q"),
          abs(col("value_q").cast("double") - col("med_q")).as("dev"))
        .groupBy(col("signal_id"))
        .agg(first(col("med_q")).as("med_q"),
          expr("percentile(dev, 0.5)").as("mad_q"))
        .select(col("signal_id"),
          round(col("med_q") / 100.0, 6).as("median_v"),
          round(col("mad_q") / 100.0, 6).as("mad_v"))
    })
  )

  /** Time-weighted average per (signal, day) over a readings frame —
    * see the `ts_twa` registration for the semantics/shuffle notes.
    */
  def twaOf(readings: DataFrame): DataFrame = {
    val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
    val iv = readings
      .select(col("signal_id"), col("ts"), col("value_q"), col("seq_no"))
      .withColumn("nq", lead(col("value_q"), 1).over(w))
      .withColumn("nts", lead(col("ts"), 1).over(w))
      .filter(col("nq").isNotNull)
      .withColumn("dt_us", unix_micros(col("nts")) - unix_micros(col("ts")))
    iv.groupBy(col("signal_id"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_iv"),
        sum(((col("value_q") + col("nq")).cast("decimal(18,0)") *
          col("dt_us").cast("decimal(18,0)")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("num"),
        sum(col("dt_us")).cast("long").as("den"))
      .filter(col("den") > 0L)
      .select(col("signal_id"), unix_timestamp(col("day")).as("day_s"),
        col("n_iv"),
        round(col("num").cast("double") /
          (lit(200.0) * col("den").cast("double")), 6).as("twa"))
  }

  /** Bollinger bands over a trailing 8-row window — see `ts_bollinger`. */
  def bollingerOf(readings: DataFrame): DataFrame = {
    val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
      .rowsBetween(-7, 0)
    val q18 = col("value_q").cast("decimal(18,0)")
    readings.select(col("signal_id"), col("seq_no"),
        count(lit(1)).over(w).as("wn"),
        sum(col("value_q")).over(w).cast("long").as("s1"),
        sum(q18 * q18).over(w).cast("decimal(38,0)").as("s2"))
      .filter(col("wn") === 8L)
      .withColumn("mean_q", col("s1").cast("double") / lit(8.0))
      .withColumn("sd_q", sqrt(
        col("s2").cast("double") / lit(8.0) - col("mean_q") * col("mean_q")))
      .select(col("signal_id"), col("seq_no"),
        round(col("mean_q") / 100.0, 6).as("mid"),
        round((col("mean_q") + lit(2.0) * col("sd_q")) / 100.0, 6).as("upper"),
        round((col("mean_q") - lit(2.0) * col("sd_q")) / 100.0, 6).as("lower"))
  }

  /** M4 downsample per (signal, `width`-row window) — see `ts_m4`. */
  def m4Of(readings: DataFrame, width: Long = 16L): DataFrame = {
    val rr = readings.select(col("signal_id"), col("seq_no"), col("value"),
      col("value_q"), Readings.posWindow(col("seq_no"), 0L, width).as("win"))
    val wp = W.partitionBy(col("signal_id"), col("win"))
    rr.withColumn("wmin", min(col("value_q")).over(wp))
      .withColumn("wmax", max(col("value_q")).over(wp))
      .groupBy(col("signal_id"), col("win"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        min_by(col("value"), col("seq_no")).as("first_v"),
        max_by(col("value"), col("seq_no")).as("last_v"),
        min(col("value_q")).as("vmin_q"),
        max(col("value_q")).as("vmax_q"),
        min(when(col("value_q") === col("wmin"), col("seq_no"))).as("min_seq"),
        min(when(col("value_q") === col("wmax"), col("seq_no"))).as("max_seq"))
  }

  /** ACF at lags 1..`maxLag` per signal — see `ts_acf`. */
  def acfOf(readings: DataFrame, maxLag: Int = 5): DataFrame = {
    val w = W.partitionBy(col("signal_id")).orderBy(col("seq_no"))
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val q18 = col("value_q").cast("decimal(18,0)")
    val lags = 1 to maxLag
    val led = lags.foldLeft(
      readings.select(col("signal_id"), col("seq_no"), col("value_q"))) {
      (df, l) => df.withColumn(s"q$l", lead(col("value_q"), l).over(w))
    }
    val aggs = Seq(
      count(lit(1)).cast("long").as("n"),
      sum(col("value_q")).cast("decimal(38,0)").as("sv"),
      sum(q18 * q18).cast("decimal(38,0)").as("qq")) ++ lags.flatMap { l =>
      val ql = col(s"q$l").cast("decimal(18,0)")
      Seq(sum(q18 * ql).cast("decimal(38,0)").as(s"xy$l"),
        sum(when(col(s"q$l").isNotNull, col("value_q")))
          .cast("decimal(38,0)").as(s"h$l"),
        sum(col(s"q$l")).cast("decimal(38,0)").as(s"t$l"))
    }
    val g = led.groupBy(col("signal_id")).agg(aggs.head, aggs.tail: _*)
    val nD = d38(col("n"))
    val den = nD * nD * col("qq") - nD * col("sv") * col("sv")
    val acfCols = lags.map { l =>
      val num = nD * nD * col(s"xy$l") -
        nD * col("sv") * (col(s"h$l") + col(s"t$l")) +
        (nD - lit(l).cast("decimal(38,0)")) * col("sv") * col("sv")
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as(s"acf_$l")
    }
    g.select(col("signal_id") +: col("n") +: acfCols: _*)
  }

  val oracles: Map[String, String] = Map(
    "o1_scan" ->
      s"$OracleCte SELECT signal_id, seq_no, value FROM r",

    "o2_project_ids" ->
      s"$OracleCte SELECT signal_id, seq_no, value FROM r WHERE seq_no % 10 = 0",

    "o2b_project_idlist" ->
      s"""$OracleCte, ids AS (
         |  SELECT signal_id, seq_no FROM r WHERE value_q % 97 = 0
         |)
         |SELECT r.signal_id, r.seq_no, r.value FROM r
         |SEMI JOIN ids ON r.signal_id = ids.signal_id AND r.seq_no = ids.seq_no""".stripMargin,

    "o3_range" ->
      s"$OracleCte SELECT signal_id, seq_no FROM r WHERE value > 150.0",

    "o3b_range_cond" ->
      s"$OracleCte SELECT signal_id, seq_no FROM r WHERE value > 250.0 AND seq_no BETWEEN 10 AND 50",

    "o4_equal" ->
      s"$OracleCte SELECT signal_id, seq_no FROM r WHERE CAST(floor(value) AS BIGINT) = 42",

    "o5_agg_all" ->
      s"""$OracleCte, a AS (
         |  SELECT signal_id, CAST(count(*) AS BIGINT) AS cnt,
         |         min(value) AS vmin, max(value) AS vmax,
         |         CAST(sum(value_q) AS BIGINT) AS sum_q
         |  FROM r GROUP BY signal_id)
         |SELECT signal_id, cnt, vmin, vmax, sum_q,
         |       CAST(sum_q AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE)) AS avg_fx
         |FROM a""".stripMargin,

    "o5_argmax" ->
      s"""$OracleCte SELECT signal_id, seq_no, value AS vmax FROM (
         |  SELECT signal_id, seq_no, value,
         |         rank() OVER (PARTITION BY signal_id ORDER BY value DESC) AS rk
         |  FROM r) WHERE rk = 1""".stripMargin,

    "o5_topk" ->
      s"""$OracleCte SELECT signal_id, seq_no, value, rnk FROM (
         |  SELECT signal_id, seq_no, value,
         |    CAST(row_number() OVER (PARTITION BY signal_id
         |      ORDER BY value DESC, seq_no) AS BIGINT) AS rnk
         |  FROM r) WHERE rnk <= 3""".stripMargin,

    "o6_window_p50" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS win,
         |  round(quantile_cont(value, 0.5), 4) AS p50,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY 1, 2""".stripMargin,

    "o6_window_pos" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS win,
         |  max(value) AS wmax, CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY 1, 2""".stripMargin,

    "o6_window_time" ->
      s"""$OracleCte SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS wstart,
         |  max(value) AS wmax, CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY 1""".stripMargin,

    "o6_window_argmax" ->
      s"""$OracleCte, w AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS win,
         |         max(value) AS wmax, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT w.signal_id, w.win, w.wmax,
         |  CAST(min(r.seq_no) AS BIGINT) AS amax_seq, w.cnt
         |FROM w JOIN r ON r.signal_id = w.signal_id
         | AND CAST(floor((r.seq_no - 1) / 16.0) AS BIGINT) = w.win
         | AND r.value = w.wmax
         |GROUP BY w.signal_id, w.win, w.wmax, w.cnt""".stripMargin,

    "ts_delta" ->
      s"""$OracleCte SELECT signal_id, seq_no,
         |  value - lag(value) OVER (PARTITION BY signal_id ORDER BY seq_no) AS delta
         |FROM r QUALIFY delta IS NOT NULL""".stripMargin,

    "ts_moving_avg" ->
      s"""$OracleCte SELECT signal_id, seq_no,
         |  round(avg(value) OVER (PARTITION BY signal_id ORDER BY seq_no
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
         |FROM r""".stripMargin,

    "ts_decompose" ->
      s"""$OracleCte, t AS (
         |  SELECT signal_id, seq_no, value_q,
         |    CAST(sum(value_q) OVER w AS BIGINT) AS sq7,
         |    CAST(count(*) OVER w AS BIGINT) AS c7,
         |    CAST((seq_no - 1) % 7 AS BIGINT) AS phase
         |  FROM r
         |  WINDOW w AS (PARTITION BY signal_id ORDER BY seq_no
         |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
         |), tt AS (
         |  SELECT *, 7 * value_q - sq7 AS dq FROM t WHERE c7 = 7
         |), ph AS (
         |  SELECT signal_id, phase, CAST(sum(dq) AS BIGINT) AS nk,
         |         CAST(count(*) AS BIGINT) AS ck
         |  FROM tt GROUP BY 1, 2
         |)
         |SELECT signal_id, seq_no,
         |  round(CAST(sq7 AS DOUBLE) / 700.0, 6) AS trend,
         |  round(CAST(nk AS DOUBLE) / (700.0 * CAST(ck AS DOUBLE)), 6) AS seasonal,
         |  round(CAST(dq * ck - nk AS DOUBLE) / (700.0 * CAST(ck AS DOUBLE)), 6)
         |    AS resid
         |FROM tt JOIN ph USING (signal_id, phase)""".stripMargin,

    "ts_changepoint" ->
      s"""$OracleCte, t AS (
         |  SELECT signal_id, seq_no,
         |    CAST(sum(value_q) OVER (PARTITION BY signal_id ORDER BY seq_no) AS HUGEINT) AS st,
         |    CAST(count(*) OVER (PARTITION BY signal_id) AS HUGEINT) AS n,
         |    CAST(sum(value_q) OVER (PARTITION BY signal_id) AS HUGEINT) AS sn
         |  FROM r
         |), c AS (
         |  SELECT signal_id, seq_no, n, n * st - seq_no * sn AS num FROM t
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY signal_id ORDER BY abs(num) DESC, seq_no) AS rnk
         |  FROM c
         |)
         |SELECT signal_id, seq_no AS cp_seq,
         |  round(CAST(abs(num) AS DOUBLE) / (100.0 * CAST(n AS DOUBLE)), 6)
         |    AS cp_score
         |FROM rk WHERE rnk = 1""".stripMargin,

    "ts_counter_rate" ->
      s"""$OracleCte, g AS (
         |  SELECT signal_id, seq_no, value_q,
         |    value_q - lag(value_q) OVER (PARTITION BY signal_id ORDER BY seq_no) AS dq
         |  FROM r
         |)
         |SELECT signal_id, seq_no,
         |  CASE WHEN dq < 0 THEN value_q ELSE dq END AS increase_q
         |FROM g WHERE dq IS NOT NULL""".stripMargin,

    "ts_gaps" ->
      s"""$OracleCte, g AS (
         |  SELECT signal_id, seq_no,
         |    CAST(floor(epoch(ts)) AS BIGINT) -
         |      lag(CAST(floor(epoch(ts)) AS BIGINT))
         |        OVER (PARTITION BY signal_id ORDER BY seq_no) AS gap_s
         |  FROM r
         |)
         |SELECT signal_id, seq_no, gap_s FROM g WHERE gap_s > 21600""".stripMargin,

    "ts_ewma_seg" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, seg,
         |  round(list_reduce(vals::DOUBLE[], (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
         |FROM segs WHERE cnt = 16""".stripMargin,

    // the Holt walk re-run as a recursive CTE (same pattern as the bandit
    // oracles): base l=x1, b=x2-x1; each step consumes the next element
    // with the identical operand order as the engine's fold
    "ts_holt_forecast" ->
      s"""${OracleCte.replaceFirst("WITH", "WITH RECURSIVE")}, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), fullseg AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), hw AS (
         |  SELECT signal_id, seg, vals, 1 AS i,
         |         vals[1] AS l, vals[2] - vals[1] AS b
         |  FROM fullseg
         |  UNION ALL
         |  SELECT signal_id, seg, vals, i + 1,
         |    0.5 * vals[i + 1] + 0.5 * (l + b) AS l,
         |    0.3 * ((0.5 * vals[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b AS b
         |  FROM hw WHERE i < 16
         |)
         |SELECT signal_id, seg, round(l + b, 6) AS forecast
         |FROM hw WHERE i = 16""".stripMargin,

    "ts_hw_forecast" ->
      s"""${OracleCte.replaceFirst("WITH", "WITH RECURSIVE")}, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), fullseg AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), hw AS (
         |  SELECT signal_id, seg, vals, 4 AS i, m1 AS l, (m2 - m1) / 4.0 AS b,
         |         [vals[j] - m1 for j in range(1, 5)] AS s
         |  FROM (SELECT signal_id, seg, vals,
         |          (((vals[1] + vals[2]) + vals[3]) + vals[4]) / 4.0 AS m1,
         |          (((vals[5] + vals[6]) + vals[7]) + vals[8]) / 4.0 AS m2
         |        FROM fullseg)
         |  UNION ALL
         |  SELECT signal_id, seg, vals, i + 1,
         |    0.5 * (vals[i + 1] - s[(i % 4) + 1]) + 0.5 * (l + b) AS lnew,
         |    0.3 * (lnew - l) + 0.7 * b AS bnew,
         |    [CASE WHEN j = (i % 4) + 1
         |          THEN 0.2 * (vals[i + 1] - lnew) + 0.8 * s[(i % 4) + 1]
         |          ELSE s[j] END for j in range(1, 5)] AS snew
         |  FROM hw WHERE i < 16
         |)
         |SELECT signal_id, seg, round((l + b) + s[(16 % 4) + 1], 6) AS forecast
         |FROM hw WHERE i = 16""".stripMargin,

    "ts_forecast_backtest" ->
      s"""${OracleCte.replaceFirst("WITH", "WITH RECURSIVE")}, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), fullseg AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), hol AS (
         |  SELECT signal_id, seg, vals, 1 AS i,
         |         vals[1] AS l, vals[2] - vals[1] AS b
         |  FROM fullseg
         |  UNION ALL
         |  SELECT signal_id, seg, vals, i + 1,
         |    0.5 * vals[i + 1] + 0.5 * (l + b) AS l,
         |    0.3 * ((0.5 * vals[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b AS b
         |  FROM hol WHERE i < 16
         |), fholt AS (
         |  SELECT signal_id, seg, round(l + b, 6) AS f_holt
         |  FROM hol WHERE i = 16
         |), hws AS (
         |  SELECT signal_id, seg, vals, 4 AS i, m1 AS l, (m2 - m1) / 4.0 AS b,
         |         [vals[j] - m1 for j in range(1, 5)] AS s
         |  FROM (SELECT signal_id, seg, vals,
         |          (((vals[1] + vals[2]) + vals[3]) + vals[4]) / 4.0 AS m1,
         |          (((vals[5] + vals[6]) + vals[7]) + vals[8]) / 4.0 AS m2
         |        FROM fullseg)
         |  UNION ALL
         |  SELECT signal_id, seg, vals, i + 1,
         |    0.5 * (vals[i + 1] - s[(i % 4) + 1]) + 0.5 * (l + b) AS lnew,
         |    0.3 * (lnew - l) + 0.7 * b AS bnew,
         |    [CASE WHEN j = (i % 4) + 1
         |          THEN 0.2 * (vals[i + 1] - lnew) + 0.8 * s[(i % 4) + 1]
         |          ELSE s[j] END for j in range(1, 5)] AS snew
         |  FROM hws WHERE i < 16
         |), fhw AS (
         |  SELECT signal_id, seg, round((l + b) + s[(16 % 4) + 1], 6) AS f_hw
         |  FROM hws WHERE i = 16
         |), act AS (
         |  SELECT signal_id,
         |    CAST(floor((seq_no - 1) / 16.0) AS BIGINT) - 1 AS seg,
         |    value AS actual
         |  FROM r WHERE (seq_no - 1) % 16 = 0
         |    AND CAST(floor((seq_no - 1) / 16.0) AS BIGINT) >= 1
         |)
         |SELECT signal_id, seg, f_holt, f_hw, actual,
         |  round(abs(f_holt - actual), 6) AS err_holt,
         |  round(abs(f_hw - actual), 6) AS err_hw
         |FROM fholt JOIN fhw USING (signal_id, seg)
         |JOIN act USING (signal_id, seg)""".stripMargin,

    "ts_zscore" ->
      s"""$OracleCte, st AS (
         |  SELECT signal_id, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(value_q) AS BIGINT) AS s1,
         |         CAST(sum(CAST(value_q AS HUGEINT) * value_q) AS HUGEINT) AS s2
         |  FROM r GROUP BY 1
         |), m AS (
         |  SELECT signal_id,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
         |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
         |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var_q
         |  FROM st
         |)
         |SELECT r.signal_id, r.seq_no, r.value,
         |  round((CAST(r.value_q AS DOUBLE) - m.mean_q) / sqrt(m.var_q), 6) AS z
         |FROM r JOIN m USING (signal_id)
         |WHERE m.var_q > 0.0
         |  AND abs((CAST(r.value_q AS DOUBLE) - m.mean_q) / sqrt(m.var_q)) > 3.0""".stripMargin,

    "ts_corr" ->
      s"""$OracleCte, s5 AS (
         |  SELECT signal_id, seq_no, value_q FROM r WHERE signal_id < 5
         |), p AS (
         |  SELECT a.signal_id AS sig_a, b.signal_id AS sig_b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a.value_q) AS BIGINT) AS sa,
         |    CAST(sum(b.value_q) AS BIGINT) AS sb,
         |    CAST(sum(a.value_q * a.value_q) AS BIGINT) AS saa,
         |    CAST(sum(b.value_q * b.value_q) AS BIGINT) AS sbb,
         |    CAST(sum(a.value_q * b.value_q) AS BIGINT) AS sab
         |  FROM s5 a JOIN s5 b ON a.seq_no = b.seq_no AND a.signal_id < b.signal_id
         |  GROUP BY 1, 2
         |)
         |SELECT sig_a, sig_b, n,
         |  round(CAST(n * sab - sa * sb AS DOUBLE) /
         |        (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
         |         sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS corr_q
         |FROM p""".stripMargin,

    "ts_xcorr_lag" ->
      s"""$OracleCte, s5 AS (
         |  SELECT signal_id, seq_no, value_q FROM r WHERE signal_id < 5
         |), p AS (
         |  SELECT a.signal_id AS sig_a, b.signal_id AS sig_b,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a.value_q) AS BIGINT) AS sa,
         |    CAST(sum(b.value_q) AS BIGINT) AS sb,
         |    CAST(sum(a.value_q * a.value_q) AS BIGINT) AS saa,
         |    CAST(sum(b.value_q * b.value_q) AS BIGINT) AS sbb,
         |    CAST(sum(a.value_q * b.value_q) AS BIGINT) AS sab
         |  FROM s5 a JOIN s5 b ON a.seq_no = b.seq_no - 4
         |                     AND a.signal_id <> b.signal_id
         |  GROUP BY 1, 2
         |)
         |SELECT sig_a, sig_b, CAST(4 AS BIGINT) AS lag, n,
         |  round(CAST(n * sab - sa * sb AS DOUBLE) /
         |        (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
         |         sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS xcorr_q
         |FROM p""".stripMargin,

    "ts_xcorr_best" ->
      s"""$OracleCte, s5 AS (
         |  SELECT signal_id, seq_no, value_q FROM r WHERE signal_id < 5
         |), lagged AS (
         |  SELECT b.signal_id AS sig_b, b.seq_no - l.lag AS seq_no,
         |         b.value_q, l.lag
         |  FROM s5 b CROSS JOIN (SELECT unnest(range(0, 8)) AS lag) l
         |), p AS (
         |  SELECT a.signal_id AS sig_a, b.sig_b, b.lag,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a.value_q) AS BIGINT) AS sa,
         |    CAST(sum(b.value_q) AS BIGINT) AS sb,
         |    CAST(sum(a.value_q * a.value_q) AS BIGINT) AS saa,
         |    CAST(sum(b.value_q * b.value_q) AS BIGINT) AS sbb,
         |    CAST(sum(a.value_q * b.value_q) AS BIGINT) AS sab
         |  FROM s5 a JOIN lagged b ON a.seq_no = b.seq_no
         |                         AND a.signal_id <> b.sig_b
         |  GROUP BY 1, 2, 3
         |), sc AS (
         |  SELECT sig_a, sig_b, lag,
         |    round(CAST(n * sab - sa * sb AS DOUBLE) /
         |          (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
         |           sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS xcorr_q,
         |    row_number() OVER (PARTITION BY sig_a, sig_b
         |      ORDER BY round(CAST(n * sab - sa * sb AS DOUBLE) /
         |          (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
         |           sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) DESC, lag) AS rnk
         |  FROM p
         |)
         |SELECT sig_a, sig_b, CAST(lag AS BIGINT) AS best_lag,
         |       xcorr_q AS best_xcorr
         |FROM sc WHERE rnk = 1""".stripMargin,

    "ts_rolling_corr" ->
      s"""$OracleCte, s10 AS (
         |  SELECT signal_id, seq_no, value_q FROM r WHERE signal_id < 10
         |), j AS (
         |  SELECT a.signal_id AS sig_a, a.seq_no, a.value_q AS qa, b.value_q AS qb
         |  FROM s10 a JOIN s10 b
         |    ON b.signal_id = a.signal_id + 1 AND a.seq_no = b.seq_no
         |), m AS (
         |  SELECT sig_a, seq_no,
         |    CAST(count(*) OVER w AS BIGINT) AS n,
         |    CAST(sum(qa) OVER w AS BIGINT) AS sa,
         |    CAST(sum(qb) OVER w AS BIGINT) AS sb,
         |    CAST(sum(qa * qa) OVER w AS BIGINT) AS saa,
         |    CAST(sum(qb * qb) OVER w AS BIGINT) AS sbb,
         |    CAST(sum(qa * qb) OVER w AS BIGINT) AS sab
         |  FROM j WINDOW w AS (PARTITION BY sig_a ORDER BY seq_no
         |                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |)
         |SELECT sig_a, seq_no, n,
         |  round(CAST(n * sab - sa * sb AS DOUBLE) /
         |        (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
         |         sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS rcorr
         |FROM m
         |WHERE n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0""".stripMargin,

    "ts_histogram" ->
      s"""$OracleCte
         |SELECT signal_id,
         |  greatest(0, least(19, CAST(floor(value_q / 2000.0) AS BIGINT))) AS bin,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY 1, 2""".stripMargin,

    "ts_seasonal_anomaly" ->
      s"""$OracleCte, h AS (
         |  SELECT signal_id, seq_no, value, value_q,
         |         CAST(hour(ts) AS INT) AS hod
         |  FROM r
         |), st AS (
         |  SELECT signal_id, hod, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(value_q AS HUGEINT)) AS HUGEINT) AS sq,
         |    CAST(sum(CAST(value_q AS HUGEINT) * value_q) AS HUGEINT) AS sqq
         |  FROM h GROUP BY 1, 2
         |), b AS (
         |  SELECT signal_id, hod,
         |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
         |    sqrt(CAST(n * sqq - sq * sq AS DOUBLE) /
         |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd_q
         |  FROM st
         |)
         |SELECT h.signal_id, h.seq_no, h.hod, h.value,
         |  round((CAST(h.value_q AS DOUBLE) - b.mean_q) / b.sd_q, 6) AS z
         |FROM h JOIN b USING (signal_id, hod)
         |WHERE b.sd_q > 0.0
         |  AND abs(CAST(h.value_q AS DOUBLE) - b.mean_q) > 2.0 * b.sd_q""".stripMargin,

    "influx_max" ->
      s"$OracleCte SELECT max(value) AS vmax FROM r",

    "influx_max_groupby" ->
      s"""$OracleCte SELECT CAST(floor((seq_no - 9) / 8.0) AS BIGINT) AS win,
         |  max(value) AS wmax, CAST(count(*) AS BIGINT) AS cnt
         |FROM r WHERE signal_id = 7 AND seq_no > 8 AND seq_no <= 48
         |GROUP BY 1""".stripMargin,

    "tsbs_last_loc" ->
      s"""$OracleCte, last AS (
         |  SELECT signal_id, value AS last_value,
         |         row_number() OVER (PARTITION BY signal_id ORDER BY ts DESC, seq_no DESC) AS rn
         |  FROM r)
         |SELECT l.signal_id, l.last_value
         |FROM last l JOIN customer c ON c.c_custkey = l.signal_id
         |WHERE l.rn = 1 AND c.c_mktsegment = 'BUILDING'""".stripMargin,

    "tsbs_low_fuel" ->
      s"""$OracleCte, last AS (
         |  SELECT signal_id, value AS last_value,
         |         row_number() OVER (PARTITION BY signal_id ORDER BY ts DESC, seq_no DESC) AS rn
         |  FROM r)
         |SELECT signal_id, last_value FROM last
         |WHERE rn = 1 AND last_value < 50.0""".stripMargin,

    "tsbs_high_load" ->
      s"""$OracleCte SELECT r.signal_id, r.seq_no, r.value
         |FROM r JOIN customer c ON c.c_custkey = r.signal_id
         |WHERE c.c_mktsegment = 'MACHINERY' AND r.value > 100.0""".stripMargin,

    // identical semantics to tsbs_high_load: salting must not change the
    // join result, only the partitioning
    "tsbs_high_load_skew" ->
      s"""$OracleCte SELECT r.signal_id, r.seq_no, r.value
         |FROM r JOIN customer c ON c.c_custkey = r.signal_id
         |WHERE c.c_mktsegment = 'MACHINERY' AND r.value > 100.0""".stripMargin,

    "tsbs_untagged" ->
      s"""$OracleCte, last AS (
         |  SELECT signal_id, value AS last_value,
         |         row_number() OVER (PARTITION BY signal_id ORDER BY ts DESC, seq_no DESC) AS rn
         |  FROM r)
         |SELECT signal_id, last_value FROM last
         |WHERE rn = 1 AND signal_id NOT IN (
         |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin,

    "ts_session" ->
      s"""$OracleCte, g AS (
         |  SELECT signal_id, ts, value, seq_no,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY signal_id ORDER BY ts, seq_no)
         |              >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS brk
         |  FROM r
         |), s AS (
         |  SELECT signal_id, ts, value,
         |    sum(brk) OVER (PARTITION BY signal_id ORDER BY ts, seq_no
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM g
         |)
         |SELECT signal_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
         |  CAST(count(*) AS BIGINT) AS cnt, max(value) AS vmax
         |FROM s GROUP BY signal_id, sid""".stripMargin,

    "ts_resample_ffill" ->
      s"""$OracleCte, b AS (
         |  SELECT signal_id, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
         |  FROM r GROUP BY 1
         |), grid AS (
         |  SELECT signal_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS gts
         |  FROM b
         |)
         |SELECT grid.signal_id, CAST(floor(epoch(grid.gts)) AS BIGINT) AS g_start,
         |  r.value
         |FROM grid ASOF LEFT JOIN r
         |  ON grid.signal_id = r.signal_id AND grid.gts >= r.ts""".stripMargin,

    "ts_resample_interp" ->
      s"""$OracleCte, b AS (
         |  SELECT signal_id, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
         |  FROM r GROUP BY 1
         |), grid AS (
         |  SELECT signal_id, unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS t
         |  FROM b
         |), u AS (
         |  SELECT signal_id, ts AS t, 0 AS is_grid, value, seq_no FROM r
         |  UNION ALL
         |  SELECT signal_id, t, 1, NULL, NULL FROM grid
         |), w AS (
         |  SELECT signal_id, t, is_grid, epoch(t) AS te,
         |    last_value(value IGNORE NULLS) OVER (
         |      PARTITION BY signal_id ORDER BY t, is_grid, seq_no
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN value IS NOT NULL THEN epoch(t) END IGNORE NULLS) OVER (
         |      PARTITION BY signal_id ORDER BY t, is_grid, seq_no
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(value IGNORE NULLS) OVER (
         |      PARTITION BY signal_id ORDER BY t, is_grid, seq_no
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN value IS NOT NULL THEN epoch(t) END IGNORE NULLS) OVER (
         |      PARTITION BY signal_id ORDER BY t, is_grid, seq_no
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM u
         |)
         |SELECT signal_id, CAST(floor(epoch(t)) AS BIGINT) AS g_start,
         |  round(CASE WHEN nv IS NULL THEN pv
         |             WHEN pv IS NULL THEN nv
         |             WHEN nt = pt THEN pv
         |             ELSE pv + (nv - pv) * ((te - pt) / (nt - pt)) END, 6) AS value
         |FROM w WHERE is_grid = 1""".stripMargin,

    "o5_percentile" ->
      s"""$OracleCte SELECT signal_id,
         |  round(quantile_cont(value, 0.5), 4) AS p50,
         |  round(quantile_cont(value, 0.9), 4) AS p90
         |FROM r GROUP BY 1""".stripMargin,

    "asof_native" ->
      s"""$OracleCte, ss AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         min(ts) AS seg_ts
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT r.signal_id, r.seq_no, ss.seg
         |FROM r ASOF JOIN ss
         |  ON r.signal_id = ss.signal_id AND r.ts >= ss.seg_ts""".stripMargin,

    "asof_segment" ->
      s"""$OracleCte, ss AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         min(ts) AS seg_ts
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT r.signal_id, r.seq_no, ss.seg
         |FROM r ASOF JOIN ss
         |  ON r.signal_id = ss.signal_id AND r.ts >= ss.seg_ts""".stripMargin,

    "asof_native_tolerance" ->
      s"""$OracleCte, ss AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         min(ts) AS seg_ts
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT r.signal_id, r.seq_no,
         |  CASE WHEN ss.seg_ts IS NOT NULL
         |        AND epoch_us(r.ts) - epoch_us(ss.seg_ts) <= 7200000000
         |       THEN ss.seg END AS seg
         |FROM r ASOF LEFT JOIN ss
         |  ON r.signal_id = ss.signal_id AND r.ts >= ss.seg_ts""".stripMargin,

    "asof_tolerance" ->
      s"""$OracleCte, ss AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         min(ts) AS seg_ts
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT r.signal_id, r.seq_no,
         |  CASE WHEN ss.seg_ts IS NOT NULL
         |        AND epoch_us(r.ts) - epoch_us(ss.seg_ts) <= 7200000000
         |       THEN ss.seg END AS seg
         |FROM r ASOF LEFT JOIN ss
         |  ON r.signal_id = ss.signal_id AND r.ts >= ss.seg_ts""".stripMargin,

    "ts_ohlc_weekly" ->
      s"""$OracleCte, dayc AS (
         |  SELECT signal_id,
         |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         |    arg_min(value, seq_no) AS open_v, max(value) AS high_v,
         |    min(value) AS low_v, arg_max(value, seq_no) AS close_v,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id,
         |  CAST(floor(day_s / 604800.0) * 604800 AS BIGINT) AS week_s,
         |  arg_min(open_v, day_s) AS open_v, max(high_v) AS high_v,
         |  min(low_v) AS low_v, arg_max(close_v, day_s) AS close_v,
         |  CAST(sum(cnt) AS BIGINT) AS cnt
         |FROM dayc GROUP BY 1, 2""".stripMargin,

    "range_bands" ->
      s"""$OracleCte, b AS (
         |  SELECT CAST(i AS BIGINT) AS band_id, i * 37.5 AS lo, i * 37.5 + 80.0 AS hi
         |  FROM range(13) t(i)
         |)
         |SELECT r.signal_id, r.seq_no, b.band_id
         |FROM r JOIN b ON r.value >= b.lo AND r.value < b.hi""".stripMargin,

    "o8_zonemap" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt, min(value) AS vmin,
         |  max(value) AS vmax, CAST(sum(value_q) AS BIGINT) AS sum_q
         |FROM r GROUP BY 1, 2""".stripMargin,

    "o8_zonemap_max" ->
      s"$OracleCte SELECT max(value) AS vmax FROM r",

    "o8_zonemap_sum" ->
      s"""$OracleCte SELECT CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(count(*) AS BIGINT) AS cnt FROM r""".stripMargin,

    "o8_zonemap_min" ->
      s"$OracleCte SELECT min(value) AS vmin FROM r",

    "o8_zonemap_avg" ->
      s"""$OracleCte SELECT
         |  round(CAST(sum(value_q) AS DOUBLE) /
         |        (100.0 * CAST(count(*) AS DOUBLE)), 6) AS avg_v,
         |  CAST(count(*) AS BIGINT) AS cnt FROM r""".stripMargin,

    // the histogram-sketch percentile recomputed cell-by-cell: cumulative
    // ranges over the per-signal value_q histogram, rank i = (n-1)p,
    // interpolation in the SAME operand order as the engine
    "o8_percentile_sketch" ->
      s"""$OracleCte, h AS (
         |  SELECT signal_id, value_q, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |), c AS (
         |  SELECT signal_id, value_q, cnt,
         |    sum(cnt) OVER (PARTITION BY signal_id ORDER BY value_q) AS cume,
         |    sum(cnt) OVER (PARTITION BY signal_id ORDER BY value_q) - cnt AS strt
         |  FROM h
         |), idx AS (
         |  SELECT signal_id, n, p,
         |    CAST(n - 1 AS DOUBLE) * p AS i,
         |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS lo,
         |    CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS hi
         |  FROM (SELECT signal_id, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1)
         |  CROSS JOIN (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p)
         |)
         |SELECT idx.signal_id, idx.p,
         |  round((CAST(l.value_q AS DOUBLE) +
         |         CAST(h2.value_q - l.value_q AS DOUBLE) *
         |           (idx.i - CAST(idx.lo AS DOUBLE))) / 100.0, 6) AS v
         |FROM idx
         |JOIN c l ON l.signal_id = idx.signal_id
         |        AND l.strt <= idx.lo AND idx.lo < l.cume
         |JOIN c h2 ON h2.signal_id = idx.signal_id
         |         AND h2.strt <= idx.hi AND idx.hi < h2.cume""".stripMargin,

    "seg_chain" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |    CAST(min(seq_no) AS BIGINT) AS first_seq,
         |    CAST(max(seq_no) AS BIGINT) AS last_seq
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, seg, first_seq, last_seq,
         |  coalesce(lag(seg) OVER (PARTITION BY signal_id ORDER BY seg), -1)
         |    AS prev_seg
         |FROM segs""".stripMargin,

    "ts_ohlc" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         |  arg_min(value, seq_no) AS open_v, max(value) AS high_v,
         |  min(value) AS low_v, arg_max(value, seq_no) AS close_v,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY 1, 2""".stripMargin,

    "o8_zonemap_time" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_s,
         |  CAST(count(*) AS BIGINT) AS cnt, min(value) AS vmin,
         |  max(value) AS vmax, CAST(sum(value_q) AS BIGINT) AS sum_q
         |FROM r GROUP BY 1, 2""".stripMargin,

    "e1_quantize" ->
      s"""$OracleCte SELECT signal_id, seq_no, value_q,
         |  CAST(value_q AS DOUBLE) / 100.0 AS value_dq FROM r""".stripMargin,

    "e2_approx" ->
      s"""$OracleCte SELECT signal_id, seq_no,
         |  CAST(floor(value_q / 16.0) * 16 AS BIGINT) AS value_q4 FROM r""".stripMargin,

    "e2b_approx_sum" ->
      s"""$OracleCte, a AS (
         |  SELECT signal_id,
         |    CAST(sum(CAST(floor(value_q / 16.0) * 16 AS BIGINT)) AS BIGINT) AS sum_q4,
         |    CAST(sum(value_q) AS BIGINT) AS sum_q
         |  FROM r GROUP BY 1
         |)
         |SELECT signal_id, sum_q4, sum_q,
         |  CASE WHEN sum_q = 0 THEN 0.0
         |       ELSE round(CAST(abs(sum_q - sum_q4) AS DOUBLE) /
         |                  CAST(abs(sum_q) AS DOUBLE), 6) END AS rel_err
         |FROM a""".stripMargin,

    "ts_hod_profile" ->
      """SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_q,
        |  round(CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE) /
        |        (100.0 * CAST(count(*) AS DOUBLE)), 6) AS avg_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_outlier_mad" ->
      s"""$OracleCte, m AS (
         |  SELECT signal_id, quantile_cont(value_q, 0.5) AS med_q
         |  FROM r GROUP BY 1
         |), d AS (
         |  SELECT r.signal_id, seq_no, value_q, med_q,
         |    abs(CAST(value_q AS DOUBLE) - med_q) AS dev
         |  FROM r JOIN m USING (signal_id)
         |), md AS (
         |  SELECT signal_id, quantile_cont(dev, 0.5) AS mad_q
         |  FROM d GROUP BY 1
         |)
         |SELECT d.signal_id, seq_no, value_q,
         |  round(0.6745 * dev / mad_q, 6) AS mz
         |FROM d JOIN md USING (signal_id)
         |WHERE mad_q > 0.0 AND 0.6745 * dev / mad_q > 3.5""".stripMargin,

    "ts_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS max_k
        |FROM events GROUP BY 1""".stripMargin,

    "ts_peaks" ->
      s"""$OracleCte, t AS (
         |  SELECT signal_id, value_q,
         |    lag(value_q) OVER w AS pv, lead(value_q) OVER w AS nv
         |  FROM r WINDOW w AS (PARTITION BY signal_id ORDER BY seq_no)
         |)
         |SELECT signal_id,
         |  CAST(sum(CASE WHEN value_q > pv AND value_q > nv
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
         |  CAST(sum(CASE WHEN value_q < pv AND value_q < nv
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_troughs
         |FROM t GROUP BY 1""".stripMargin,

    "ts_event_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY 1
        |)
        |SELECT
        |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS view_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                THEN 1 ELSE 0 END) AS BIGINT) AS click_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                AND t_signup > t_click THEN 1 ELSE 0 END) AS BIGINT)
        |    AS signup_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
        |                AND t_signup > t_click AND t_purchase > t_signup
        |                THEN 1 ELSE 0 END) AS BIGINT) AS purchase_users
        |FROM f""".stripMargin,

    "ts_mad" ->
      s"""$OracleCte, m AS (
         |  SELECT signal_id, quantile_cont(value_q, 0.5) AS med_q
         |  FROM r GROUP BY 1
         |), d AS (
         |  SELECT r.signal_id, med_q,
         |    abs(CAST(value_q AS DOUBLE) - med_q) AS dev
         |  FROM r JOIN m USING (signal_id)
         |), g AS (
         |  SELECT signal_id, any_value(med_q) AS med_q,
         |    quantile_cont(dev, 0.5) AS mad_q
         |  FROM d GROUP BY 1
         |)
         |SELECT signal_id, round(med_q / 100.0, 6) AS median_v,
         |  round(mad_q / 100.0, 6) AS mad_v
         |FROM g""".stripMargin,

    "ts_bollinger" ->
      s"""$OracleCte, t AS (
         |  SELECT signal_id, seq_no,
         |    CAST(count(*) OVER w AS BIGINT) AS wn,
         |    CAST(sum(CAST(value_q AS HUGEINT)) OVER w AS HUGEINT) AS s1,
         |    CAST(sum(CAST(value_q AS HUGEINT) * value_q) OVER w AS HUGEINT) AS s2
         |  FROM r
         |  WINDOW w AS (PARTITION BY signal_id ORDER BY seq_no
         |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
         |), m AS (
         |  SELECT signal_id, seq_no,
         |    CAST(s1 AS DOUBLE) / 8.0 AS mean_q,
         |    sqrt(CAST(s2 AS DOUBLE) / 8.0 -
         |         (CAST(s1 AS DOUBLE) / 8.0) * (CAST(s1 AS DOUBLE) / 8.0)) AS sd_q
         |  FROM t WHERE wn = 8
         |)
         |SELECT signal_id, seq_no,
         |  round(mean_q / 100.0, 6) AS mid,
         |  round((mean_q + 2.0 * sd_q) / 100.0, 6) AS upper,
         |  round((mean_q - 2.0 * sd_q) / 100.0, 6) AS lower
         |FROM m""".stripMargin,

    "ts_twa" ->
      s"""$OracleCte, iv AS (
         |  SELECT signal_id, ts, value_q,
         |    lead(value_q) OVER w AS nq, lead(ts) OVER w AS nts
         |  FROM r WINDOW w AS (PARTITION BY signal_id ORDER BY seq_no)
         |), ivd AS (
         |  SELECT signal_id, date_trunc('day', ts) AS day, value_q, nq,
         |    epoch_us(nts) - epoch_us(ts) AS dt_us
         |  FROM iv WHERE nq IS NOT NULL
         |), g AS (
         |  SELECT signal_id, CAST(epoch(day) AS BIGINT) AS day_s,
         |    CAST(count(*) AS BIGINT) AS n_iv,
         |    CAST(sum(CAST(value_q + nq AS HUGEINT) * dt_us) AS HUGEINT) AS num,
         |    CAST(sum(dt_us) AS BIGINT) AS den
         |  FROM ivd GROUP BY 1, 2
         |)
         |SELECT signal_id, day_s, n_iv,
         |  round(CAST(num AS DOUBLE) / (200.0 * CAST(den AS DOUBLE)), 6) AS twa
         |FROM g WHERE den > 0""".stripMargin,

    "ts_m4" ->
      s"""$OracleCte, t AS (
         |  SELECT signal_id, seq_no, value, value_q,
         |    CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS win,
         |    min(value_q) OVER (PARTITION BY signal_id,
         |      CAST(floor((seq_no - 1) / 16.0) AS BIGINT)) AS wmin,
         |    max(value_q) OVER (PARTITION BY signal_id,
         |      CAST(floor((seq_no - 1) / 16.0) AS BIGINT)) AS wmax
         |  FROM r
         |)
         |SELECT signal_id, win, CAST(count(*) AS BIGINT) AS cnt,
         |  arg_min(value, seq_no) AS first_v, arg_max(value, seq_no) AS last_v,
         |  CAST(min(value_q) AS BIGINT) AS vmin_q,
         |  CAST(max(value_q) AS BIGINT) AS vmax_q,
         |  CAST(min(CASE WHEN value_q = wmin THEN seq_no END) AS BIGINT) AS min_seq,
         |  CAST(min(CASE WHEN value_q = wmax THEN seq_no END) AS BIGINT) AS max_seq
         |FROM t GROUP BY 1, 2""".stripMargin,

    "ts_acf" ->
      s"""$OracleCte, lg AS (
         |  SELECT signal_id, value_q,
         |    lead(value_q, 1) OVER w AS q1, lead(value_q, 2) OVER w AS q2,
         |    lead(value_q, 3) OVER w AS q3, lead(value_q, 4) OVER w AS q4,
         |    lead(value_q, 5) OVER w AS q5
         |  FROM r WINDOW w AS (PARTITION BY signal_id ORDER BY seq_no)
         |), g AS (
         |  SELECT signal_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(value_q) AS HUGEINT) AS sv,
         |    CAST(sum(CAST(value_q AS HUGEINT) * value_q) AS HUGEINT) AS qq,
         |    CAST(sum(CAST(value_q AS HUGEINT) * q1) AS HUGEINT) AS xy1,
         |    CAST(sum(CASE WHEN q1 IS NOT NULL THEN value_q END) AS HUGEINT) AS h1,
         |    CAST(sum(q1) AS HUGEINT) AS t1,
         |    CAST(sum(CAST(value_q AS HUGEINT) * q2) AS HUGEINT) AS xy2,
         |    CAST(sum(CASE WHEN q2 IS NOT NULL THEN value_q END) AS HUGEINT) AS h2,
         |    CAST(sum(q2) AS HUGEINT) AS t2,
         |    CAST(sum(CAST(value_q AS HUGEINT) * q3) AS HUGEINT) AS xy3,
         |    CAST(sum(CASE WHEN q3 IS NOT NULL THEN value_q END) AS HUGEINT) AS h3,
         |    CAST(sum(q3) AS HUGEINT) AS t3,
         |    CAST(sum(CAST(value_q AS HUGEINT) * q4) AS HUGEINT) AS xy4,
         |    CAST(sum(CASE WHEN q4 IS NOT NULL THEN value_q END) AS HUGEINT) AS h4,
         |    CAST(sum(q4) AS HUGEINT) AS t4,
         |    CAST(sum(CAST(value_q AS HUGEINT) * q5) AS HUGEINT) AS xy5,
         |    CAST(sum(CASE WHEN q5 IS NOT NULL THEN value_q END) AS HUGEINT) AS h5,
         |    CAST(sum(q5) AS HUGEINT) AS t5
         |  FROM lg GROUP BY 1
         |)
         |SELECT signal_id, n,
         |  CASE WHEN n*n*qq - n*sv*sv = 0 THEN NULL
         |       ELSE round(CAST(n*n*xy1 - n*sv*(h1+t1) + (n-1)*sv*sv AS DOUBLE) /
         |                  CAST(n*n*qq - n*sv*sv AS DOUBLE), 6) END AS acf_1,
         |  CASE WHEN n*n*qq - n*sv*sv = 0 THEN NULL
         |       ELSE round(CAST(n*n*xy2 - n*sv*(h2+t2) + (n-2)*sv*sv AS DOUBLE) /
         |                  CAST(n*n*qq - n*sv*sv AS DOUBLE), 6) END AS acf_2,
         |  CASE WHEN n*n*qq - n*sv*sv = 0 THEN NULL
         |       ELSE round(CAST(n*n*xy3 - n*sv*(h3+t3) + (n-3)*sv*sv AS DOUBLE) /
         |                  CAST(n*n*qq - n*sv*sv AS DOUBLE), 6) END AS acf_3,
         |  CASE WHEN n*n*qq - n*sv*sv = 0 THEN NULL
         |       ELSE round(CAST(n*n*xy4 - n*sv*(h4+t4) + (n-4)*sv*sv AS DOUBLE) /
         |                  CAST(n*n*qq - n*sv*sv AS DOUBLE), 6) END AS acf_4,
         |  CASE WHEN n*n*qq - n*sv*sv = 0 THEN NULL
         |       ELSE round(CAST(n*n*xy5 - n*sv*(h5+t5) + (n-5)*sv*sv AS DOUBLE) /
         |                  CAST(n*n*qq - n*sv*sv AS DOUBLE), 6) END AS acf_5
         |FROM g""".stripMargin
  )
}
