package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series ML over the segment-array view — the reference's kNN and
  * kernel-feature workloads (database/src/knn/mod.rs:310 classify,
  * kernel.rs:132 Kernel::run / :183 rbfrun) on Spark primitives.
  */
object SegmentMl {

  /** RBF kernel feature row: exp(-gamma * ||x - d||^2) against a small
    * dictionary of segments (broadcast as literals — the reference reads
    * its dictionary from a TSV, client.rs:346). Pure column expressions.
    */
  def rbfFeatures(segments: DataFrame, dict: Seq[Seq[Double]], gamma: Double): DataFrame = {
    val feats = dict.zipWithIndex.map { case (d, i) =>
      exp(lit(-gamma) * Similarity.sqDist(col("values"), typedLit(d))).as(s"k$i")
    }
    segments.select(col("signal_id") +: col("seg") +: feats: _*)
  }

  /** M2 — SINK/GRAIL kernel feature row (reference kernel.rs:132 Kernel::run
    * over sinkcompressed :326): shift-invariant FFT cross-correlation
    * similarity against a small broadcast dictionary. Computed per segment
    * in a typed partition map (Breeze FFT is a JVM library call, not a
    * column expression); the dictionary rides the closure — the same
    * broadcast-dictionary shape as rbfFeatures, fine at 100 TB because the
    * per-row work is O(dict * seg log seg) with no shuffle.
    */
  def sinkFeatures(segments: DataFrame, dict: Seq[Array[Double]],
                   gamma: Double, keep: Int): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    import graft.functions.TierTransforms
    segments.select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])]
      .map { case (sid, seg, vs) =>
        val xs = vs.toArray
        (sid, seg, dict.map(d => TierTransforms.sink(xs, d, gamma, keep)))
      }
      .toDF("signal_id", "seg", "sink")
      .select(col("signal_id") +: col("seg") +:
        dict.indices.map(i => col("sink").getItem(i).as(s"k$i")): _*)
  }

  /** 1-NN among complete segments: each "test" segment (signals in
    * testSignals) takes the signal id of its nearest "train" segment by
    * squared euclidean — the UCR-archive classification shape.
    */
  def knnSegments(segments: DataFrame, testSignals: Seq[Long]): DataFrame = {
    // materialized once: the segment frame feeds BOTH the test and train
    // sides — unmaterialized, the upstream derivation (readings window +
    // segment fold, or the kernel/PAA/FFT feature pass for the reduced
    // flavors) executed twice. SIZE-GATED (Materialize.shared): segment
    // arrays are O(corpus), so past the threshold the materialization
    // stages to parquet instead of pinning executor storage
    val segsM = Materialize.shared(segments)
    val test = segsM.filter(col("signal_id").isin(testSignals: _*))
      .select(col("signal_id").as("test_sig"), col("seg").as("test_seg"),
        col("values").as("tv"))
    val train = segsM.filter(!col("signal_id").isin(testSignals: _*))
      .select(col("signal_id").as("train_sig"), col("seg").as("train_seg"),
        col("values").as("rv"))
    val joined = train.join(broadcast(test), lit(true))
      .select(col("test_sig"), col("test_seg"), col("train_sig"), col("train_seg"),
        round(sqrt(Similarity.sqDist(col("tv"), col("rv"))), 6).as("dist"))
    val w = Window.partitionBy(col("test_sig"), col("test_seg"))
      .orderBy(col("dist"), col("train_sig"), col("train_seg"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("test_sig"), col("test_seg"),
        col("train_sig").as("pred_sig"), col("dist"))
  }

  /** Exact DTW 1-NN with LB_Keogh pruning (Keogh & Ratanamahatana KAIS'05
    * cascade, on the reference's UCR-classification shape knn/mod.rs:310):
    *
    *  1. every (test, train) pair gets the O(n) codegen'd LB_Keogh lower
    *     bound against the train segment's pre-computed band envelope;
    *  2. the best-LB candidate per test segment is DTW'd, giving an upper
    *     bound beta on the 1-NN distance;
    *  3. the O(n*band) DP runs ONLY on pairs with lb <= beta — every pair
    *     with lb > beta has dtw >= lb > beta and cannot win or tie, so the
    *     result (including the deterministic (dist, sig, seg) tie-break)
    *     is identical to the full scan the oracle computes.
    *
    * All distances are exact integer DTW in the fixed-point `value_q`
    * domain (Sakoe-Chiba band, L1 local cost). The test side is a bounded
    * query set (broadcast); train-side envelopes are computed once per
    * segment, so at 100 TB the cost is one broadcast-join pass of cheap
    * lower bounds plus the DP on the tiny surviving fraction.
    */
  def dtwKnn(segmentsQ: DataFrame, testSignals: Seq[Long], band: Int): DataFrame = {
    import graft.functions.DtwFunctions._
    // segment derivation materialized once (feeds test and train), and
    // the train side WITH its band envelopes once (it feeds the beta
    // probe pass and the survivor pass — unmaterialized, the O(n)
    // envelope build per train segment executed twice). Both frames are
    // O(corpus) — size-gated via Materialize.shared
    val segsM = Materialize.shared(segmentsQ)
    val test = segsM.filter(col("signal_id").isin(testSignals: _*))
      .select(col("signal_id").as("test_sig"), col("seg").as("test_seg"),
        col("qvals").as("tq"))
    val train = segsM.filter(!col("signal_id").isin(testSignals: _*))
      .select(col("signal_id").as("train_sig"), col("seg").as("train_seg"),
        col("qvals").as("rq"))
      .withColumn("up", dtwEnvUp(col("rq"), band))
      .withColumn("dn", dtwEnvDn(col("rq"), band))
    val trainM = Materialize.shared(train)
    val pairs = trainM.join(broadcast(test), lit(true))
      .withColumn("lb", lbKeogh(col("tq"), col("up"), col("dn")))
    val wLb = Window.partitionBy(col("test_sig"), col("test_seg"))
      .orderBy(col("lb"), col("train_sig"), col("train_seg"))
    val beta = pairs.withColumn("r", row_number().over(wLb))
      .filter(col("r") === 1)
      .select(col("test_sig"), col("test_seg"),
        dtwBand(col("tq"), col("rq"), band).as("beta"))
    val survivors = pairs
      .join(broadcast(beta), Seq("test_sig", "test_seg"))
      .filter(col("lb") <= col("beta"))
      .withColumn("dist_q", dtwBand(col("tq"), col("rq"), band))
    val w = Window.partitionBy(col("test_sig"), col("test_seg"))
      .orderBy(col("dist_q"), col("train_sig"), col("train_seg"))
    survivors.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("test_sig"), col("test_seg"),
        col("train_sig").as("pred_sig"), col("dist_q"))
  }
}
