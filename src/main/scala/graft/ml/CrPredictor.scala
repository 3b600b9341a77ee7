package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Quantize
import graft.operators.Materialize

/** M5 — compression-ratio prediction from a sample, mirroring the
  * reference's per-codec CR estimators (database/src/predict/
  * cr_predictor.rs:15-108): a driver-side policy heuristic (SURVEY §2:
  * "driver-side heuristic over a sample, not an engine operator") that a
  * recoding scheduler uses to decide codec/tier per partition without
  * compressing the data first.
  *
  * Estimators (bytes-per-value relative to raw f64 = 8 bytes):
  *  - dict: distinct-ratio driven (Parquet dictionary encoding);
  *  - delta-bitpack (Sprintz/Gorilla-style): bits to cover the p95
  *    quantized step between consecutive values per signal;
  *  - paa(w) / rrd(k): analytic 1/w and 1/k.
  *
  * Every step is deterministic and engine-portable, so the whole
  * estimator carries a DuckDB oracle (unusual for a "policy" op):
  *  - the sample is hash-gated per row (mix32 of signal_id/seq_no), not
  *    df.sample — identical at any partitioning;
  *  - p95 is the exact interpolated percentile of the sample (the sample
  *    is already bounded; approxQuantile's merge is partition-dependent);
  *  - bit widths come from binary-string length, not float log2 (whose
  *    last-ulp could straddle a ceil boundary between engines).
  */
object CrPredictor {

  val SampleSalt = 11L

  /** ceil(log2(m)) for m >= 2 via bit length — exact integer math. */
  private def ceilLog2(m: Long): Long =
    java.lang.Long.toBinaryString(math.max(m, 2L) - 1L).length.toLong

  def estimate(readings: DataFrame, sampleFraction: Double, scale: Int,
               paaW: Int = 4, rrdK: Int = 4): DataFrame = Materialize.scoped {
    val spark = readings.sparkSession
    import spark.implicits._
    val threshold = math.round(sampleFraction * 1000000L)
    val s = Materialize.cache(readings
      .where(Fixtures.mix32(col("signal_id") * lit(131071L) + col("seq_no"),
        SampleSalt) % 1000000L < threshold)
      .select(col("signal_id"), col("seq_no"),
        Quantize.quantize(col("value"), scale).as("q")))

    val distinct = s.agg(countDistinct(col("q")).as("nd")).collect()(0).getLong(0)
    val dictBits = ceilLog2(distinct)

    // delta bit width from per-signal consecutive steps (order by seq_no);
    // p95 rounded to 6dp before ceil so an interpolation ulp cannot
    // straddle the integer boundary. A sample with no consecutive pairs
    // aggregates to null -> fall back to 0 (minimum-width estimate).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("signal_id")).orderBy(col("seq_no"))
    val p95Row = s.withColumn("d", col("q") - lag(col("q"), 1).over(w))
      .where(col("d").isNotNull)
      .agg(round(expr("percentile(abs(d), 0.95)"), 6).as("p95"))
      .collect()(0)
    val p95 = if (p95Row.isNullAt(0)) 0.0 else p95Row.getDouble(0)
    val p95i = math.max(2L, math.ceil(p95).toLong)
    val deltaBits = ceilLog2(2L * p95i) + 1L

    Seq(
      ("uncompressed", 1.0),
      ("dict", dictBits / 64.0),
      ("delta_bitpack", deltaBits / 64.0),
      (s"paa_$paaW", 1.0 / paaW),
      (s"rrd_$rrdK", 1.0 / rrdK)
    ).toDF("codec", "est_cr")
  }

  /** The DuckDB recomputation of [[estimate]] (same sample gate, same
    * integer bit-width math), parameterized by the readings CTE prefix.
    */
  def estimateSql(oracleCte: String, sampleFraction: Double,
                  paaW: Int = 4, rrdK: Int = 4): String = {
    val threshold = math.round(sampleFraction * 1000000L)
    s"""$oracleCte, smp AS (
       |  SELECT signal_id, seq_no, value_q AS q FROM r
       |  WHERE ${Fixtures.mix32Sql(s"signal_id * 131071 + seq_no", SampleSalt)} % 1000000 < $threshold
       |), st AS (
       |  SELECT CAST(count(DISTINCT q) AS BIGINT) AS nd FROM smp
       |), dl AS (
       |  SELECT abs(q - lag(q) OVER (PARTITION BY signal_id ORDER BY seq_no)) AS ad
       |  FROM smp QUALIFY ad IS NOT NULL
       |), pq AS (
       |  SELECT round(quantile_cont(ad, 0.95), 6) AS p95 FROM dl
       |), bits AS (
       |  SELECT length(bin(greatest(nd, 2) - 1)) AS dict_bits,
       |         length(bin(2 * greatest(2, CAST(ceil(p95) AS BIGINT)) - 1)) + 1 AS delta_bits
       |  FROM st, pq
       |)
       |SELECT 'uncompressed' AS codec, 1.0 AS est_cr
       |UNION ALL SELECT 'dict', dict_bits / 64.0 FROM bits
       |UNION ALL SELECT 'delta_bitpack', delta_bits / 64.0 FROM bits
       |UNION ALL SELECT 'paa_$paaW', 1.0 / $paaW
       |UNION ALL SELECT 'rrd_$rrdK', 1.0 / $rrdK""".stripMargin
  }

  /** Recoding decision built on the estimate: codecs whose projected ratio
    * beats the target (the MAB daemons' reward signal shape,
    * MABrecoding_daemon.rs — here a deterministic policy).
    */
  def recommend(readings: DataFrame, targetCr: Double, scale: Int): DataFrame =
    estimate(readings, sampleFraction = 0.1, scale = scale)
      .withColumn("recommended", col("est_cr") <= targetCr)
}
