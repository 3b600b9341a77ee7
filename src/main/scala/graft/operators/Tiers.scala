package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TierTransforms
import graft.sources.Pages

/** The lossy tier ladder as batch compaction (the Spark shape of the
  * reference's recoding daemons, database/src/recoding_daemon.rs:257-441):
  * aged partitions are rewritten at coarser precision — exact ->
  * quantized -> PAA(w) -> FFT(keep/2) ... — instead of background threads
  * re-encoding buffers. Each transform is a partition rewrite job; the
  * target-CR guard (recoding_daemon.rs:283-348) skips segments already at
  * or below the target ratio.
  */
object Tiers {

  /** PAA tier as a distributed group-by (no arrays materialized): chunk
    * means in the fixed-point domain — sum_q is exact, one double division
    * per chunk. This IS PAA at 100 TB: a keyed aggregation, shuffle on
    * (signal, chunk).
    */
  def paaChunks(r: DataFrame, w: Int): DataFrame =
    r.groupBy(col("signal_id"),
        Readings.posWindow(col("seq_no"), 0L, w.toLong).as("chunk"))
      .agg(sum(col("value_q")).cast("long").as("sq"),
           count(lit(1)).as("cnt"))
      .withColumn("chunk_mean",
        col("sq").cast("double") / (lit(100.0) * col("cnt").cast("double")))

  /** Max over the PAA tier (a query answered from the lossy tier). */
  def paaMax(r: DataFrame, w: Int): DataFrame =
    paaChunks(r, w).groupBy(col("signal_id"))
      .agg(max(col("chunk_mean")).as("paa_max"))

  /** One aging step of the lossy ladder applied to an ALREADY-PAA tier
    * (reference recoding_daemon.rs:351-416 — each pass doubles the PAA
    * window): adjacent chunks merge pairwise, and because the tier carries
    * the exact fixed-point chunk sums (`sq`), the merged mean is computed
    * from sq1+sq2 — BIT-IDENTICAL to a single PAA pass at the doubled
    * width, not a lossy mean-of-means. One keyed aggregation per pass.
    */
  def rePaaChunks(paa: DataFrame, factor: Int = 2): DataFrame =
    paa.groupBy(col("signal_id"),
        floor(col("chunk") / lit(factor.toDouble)).cast("long").as("chunk"))
      .agg(sum(col("sq")).cast("long").as("sq"),
           sum(col("cnt")).cast("long").as("cnt"))
      .withColumn("chunk_mean",
        col("sq").cast("double") / (lit(100.0) * col("cnt").cast("double")))

  /** Measured PAA reconstruction error per segment — the feedback half of
    * the reference's recoding bandit (buffer_pool.rs:940-1260 rewards a
    * recode decision with observed post-recode query error): max |value -
    * chunk_mean| over the segment. Chunk means ride a keyed window (exact
    * fixed-point sums), then one segment-keyed max — two exchanges total,
    * both on (signal, position) keys, so the feedback job scales like any
    * other windowed aggregation.
    */
  def paaError(r: DataFrame, w: Int): DataFrame = {
    val chunk = Readings.posWindow(col("seq_no"), 0L, w.toLong)
    val cw = Window.partitionBy(col("signal_id"), chunk)
    r.withColumn("chunk_mean",
        sum(col("value_q")).over(cw).cast("double") /
          (lit(100.0) * count(lit(1)).over(cw).cast("double")))
      .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
      .agg(round(max(abs(col("value") - col("chunk_mean"))), 6).as("err"))
  }

  /** The closed policy loop: the static CR projection (recodePlan's
    * arithmetic) combined with the MEASURED per-segment reconstruction
    * error (paaError's), per the reference's recoding-bandit reward flow
    * (buffer_pool.rs:940-1260, MABrecoding_daemon.rs:35-339). A segment is
    * recoded only when the rewrite both shrinks it below `targetCr` AND
    * its observed lossy error stays within `errBudget` — high-error
    * segments keep their current tier no matter how well they'd compress.
    *
    * Computed in ONE pass over the readings (chunk-mean window + one
    * segment aggregation carrying both the row count and the error max) —
    * not recodePlan ⋈ paaError, which would scan and window the tier
    * twice before a join; at 100 TB the policy job costs the same as any
    * single windowed aggregation.
    */
  def recodePlanWithFeedback(r: DataFrame, w: Int, targetCr: Double,
                             errBudget: Double): DataFrame = {
    val chunk = Readings.posWindow(col("seq_no"), 0L, w.toLong)
    val cw = Window.partitionBy(col("signal_id"), chunk)
    r.withColumn("chunk_mean",
        sum(col("value_q")).over(cw).cast("double") /
          (lit(100.0) * count(lit(1)).over(cw).cast("double")))
      .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
      .agg(count(lit(1)).as("cnt"),
        round(max(abs(col("value") - col("chunk_mean"))), 6).as("err"))
      .withColumn("bytes_raw", col("cnt") * 8)
      .withColumn("bytes_paa", (ceil(col("cnt") / lit(w.toDouble)) * 8).cast("long"))
      .withColumn("cr_paa", col("bytes_paa").cast("double") / col("bytes_raw").cast("double"))
      .withColumn("cr_ok", col("cr_paa") < targetCr)
      .withColumn("recode", col("cr_ok") && col("err") <= errBudget)
  }

  /** Byte-budget LRU buffer plan — the reference's LRUBuffer eviction
    * decision (buffer_pool.rs:720-1260: evict/recode segments until the
    * buffer fits a byte budget, newest-touched kept hot, query-error
    * feedback steering evicted segments toward a lossy recode vs an exact
    * spill) as a deterministic decision table:
    *
    *  - recency = each segment's max event time (ingest order — the batch
    *    stand-in for touch time, deterministic so the oracle can agree);
    *  - segments are ranked hot-first by (recency DESC, signal, seg) and
    *    charged their raw bytes cumulatively; the prefix that fits
    *    `budgetBytes` stays `keep`;
    *  - past the budget, the measured PAA error (the same feedback signal
    *    as recodePlanWithFeedback) splits `recode` (err <= errBudget:
    *    lossy tier is safe) from `spill` (exact but out of the buffer).
    *
    * Scale shape: the global cumulative charge is a DISTRIBUTED prefix
    * sum — range-repartition on the recency order, per-partition window
    * cumsum, then a broadcast join of per-partition offsets (one tiny
    * #partitions-row aggregate) — never a single-partition global window
    * over the stats. Stats themselves are one chunk-window + one segment
    * aggregation, same cost as any windowed rollup.
    */
  def lruPlan(r: DataFrame, w: Int, budgetBytes: Long,
              errBudget: Double): DataFrame = {
    val chunk = Readings.posWindow(col("seq_no"), 0L, w.toLong)
    val cw = Window.partitionBy(col("signal_id"), chunk)
    val stats = r.withColumn("chunk_mean",
        sum(col("value_q")).over(cw).cast("double") /
          (lit(100.0) * count(lit(1)).over(cw).cast("double")))
      .groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
      .agg(count(lit(1)).as("cnt"),
        max(unix_micros(col("ts"))).as("last_us"),
        round(max(abs(col("value") - col("chunk_mean"))), 6).as("err"))
      .withColumn("bytes_raw", col("cnt") * 8)
    val order = Seq(col("last_us").desc, col("signal_id").asc, col("seg").asc)
    // materialized ONCE: the cumsum branch and the offsets branch must see
    // the SAME sampled range boundaries — re-evaluating repartitionByRange
    // per branch could re-sample and desynchronize spark_partition_id
    val parts = Materialize.checkpoint(stats.repartitionByRange(order: _*)
      .withColumn("pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("cum_local", sum(col("bytes_raw")).over(wLocal))
    // per-partition byte totals -> exclusive prefix offsets; #partitions
    // rows, so the unpartitioned window is a constant-size driver-side-free
    // fold, then a broadcast join back
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy(col("pid"))
      .agg(sum(col("bytes_raw")).as("pbytes"))
      .withColumn("off", coalesce(sum(col("pbytes")).over(wOff), lit(0L)))
      .select(col("pid"), col("off"))
    local.join(broadcast(offsets), "pid")
      .withColumn("cum_bytes", col("cum_local") + col("off"))
      .withColumn("action",
        when(col("cum_bytes") <= budgetBytes, "keep")
          .when(col("err") <= errBudget, "recode")
          .otherwise("spill"))
      .select(col("signal_id"), col("seg"), col("cnt"), col("bytes_raw"),
        col("last_us"), col("err"), col("cum_bytes"), col("action"))
  }

  /** PLA tier — the piecewise-linear arm of the reference's lossy menu
    * (recoding_daemon.rs:400-404 `Methods::Pla(ratio)`, pla_lttb.rs):
    * per fixed `w`-row window, the least-squares line fit from EXACT
    * integer moments (x = in-window offset, y = fixed-point value), plus
    * the max reconstruction residual. Two keyed passes over (signal,
    * window) — moments ride a window function so residuals need no join —
    * the same shape as any windowed aggregation at 100 TB. Storage is 2
    * doubles per window (slope+intercept) vs w raw values: CR = 2/w.
    */
  def plaTier(r: DataFrame, w: Int = 8): DataFrame = {
    val win = Readings.posWindow(col("seq_no"), 0L, w.toLong)
    val x = (col("seq_no") - 1) - win * w.toLong
    val W8 = Window.partitionBy(col("signal_id"), win)
    val moms = r
      .withColumn("win", win).withColumn("x", x)
      .withColumn("n", count(lit(1)).over(W8))
      .withColumn("sx", sum(col("x")).over(W8))
      .withColumn("sy", sum(col("value_q")).over(W8))
      .withColumn("sxy", sum(col("x") * col("value_q")).over(W8))
      .withColumn("sxx", sum(col("x") * col("x")).over(W8))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val fitted = moms
      .withColumn("slope_q",
        when(den === 0, lit(0.0))
          .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            den.cast("double")))
      .withColumn("icept_q",
        (col("sy").cast("double") - col("slope_q") * col("sx").cast("double")) /
          col("n").cast("double"))
      .withColumn("resid", abs(col("value") -
        (col("icept_q") + col("slope_q") * col("x").cast("double")) / lit(100.0)))
    fitted.groupBy(col("signal_id"), col("win"))
      .agg(count(lit(1)).as("n"),
        round(min(col("slope_q")), 6).as("slope_q"),
        round(min(col("icept_q")), 6).as("icept_q"),
        round(max(col("resid")), 6).as("err"))
  }

  /** RRD tier: keep every k-th reading of each signal. */
  def rrdTier(r: DataFrame, k: Int): DataFrame =
    r.filter((col("seq_no") - 1) % k === 0)
      .select(col("signal_id"), col("seq_no"), col("value"))

  /** FFT-truncation reconstruction error per complete segment (the
    * fidelity metric the reference tracks after lossy recoding,
    * buffer_pool.rs:940-1101). Typed map over segment arrays.
    */
  def fftError(segments: DataFrame, keep: Int): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])]
      .map { case (sid, seg, vs) =>
        val xs = vs.toArray
        val rec = TierTransforms.fftTruncate(xs, keep)
        (sid, seg, TierTransforms.maxAbsError(xs, rec))
      }
      .toDF("signal_id", "seg", "err")
  }

  /** FFT-reduced segment view: each complete segment replaced by its
    * 2*keep truncated-spectrum features (TierTransforms.fftFeatures) in the
    * `values` column — drop-in input for SegmentMl.knnSegments, the
    * Fourier point on the reduced-input accuracy/cost dial next to PAA.
    * Map-only typed pass, no shuffle.
    */
  def fftReduced(segments: DataFrame, keep: Int): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])]
      .map { case (sid, seg, vs) =>
        (sid, seg, TierTransforms.fftFeatures(vs.toArray, keep))
      }
      .toDF("signal_id", "seg", "values")
  }

  /** LTTB downsampling of each signal's full series to `npts` keypoints. */
  def lttbTier(segments: DataFrame, npts: Int): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])]
      .map { case (sid, seg, vs) =>
        val pts = TierTransforms.lttb(vs.toArray, npts)
        val rec = TierTransforms.lttbReconstruct(pts, vs.length)
        (sid, seg, pts.length.toLong, pts.head._2, pts.last._2,
          TierTransforms.maxAbsError(vs.toArray, rec))
      }
      .toDF("signal_id", "seg", "n_pts", "first_v", "last_v", "err")
  }

  /** Target-CR recoding guard: per segment, the estimated compression ratio
    * of the PAA(w) rewrite vs raw; recode only when the projected ratio
    * beats the target (else the rewrite is wasted IO).
    */
  def recodePlan(r: DataFrame, w: Int, targetCr: Double): DataFrame =
    r.groupBy(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bytes_raw", col("cnt") * 8)
      .withColumn("bytes_paa", (ceil(col("cnt") / lit(w.toDouble)) * 8).cast("long"))
      .withColumn("cr_paa", col("bytes_paa").cast("double") / col("bytes_raw").cast("double"))
      .withColumn("recode", col("cr_paa") < targetCr)

  /** Write a tier as partitioned parquet — the storage shape at scale
    * (partition pruning on signal bucket, page stats for skipping: pages
    * are capped at `Pages.Rows` rows, so a pushed predicate skips
    * 1,024-row pages of a signal file, not only whole files).
    * Returns the number of rows written, observed on the write itself
    * (`Dataset.observe`): a caller that needs the count pays no second
    * pass over `df` and none of its shuffles. An empty `df` returns 0.
    */
  def writeTier(df: DataFrame, path: String, buckets: Int = 32): Long = {
    val obs = Observation()
    df.withColumn("sig_bucket", pmod(col("signal_id"), lit(buckets)))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").options(Pages.WriterOptions)
      .partitionBy("sig_bucket").parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }
}
