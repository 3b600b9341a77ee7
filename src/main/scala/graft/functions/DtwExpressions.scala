package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Banded Dynamic Time Warping over fixed-point (quantized) segments.
  *
  * The reference's segment 1-NN classifier (knn/mod.rs:310) uses squared
  * Euclidean over raw or PAA/FFT-reduced series; DTW is the classical
  * elastic extension of exactly that pipeline (Sakoe & Chiba 1978;
  * Keogh & Ratanamahatana, "Exact indexing of dynamic time warping",
  * KAIS 2005 — the LB_Keogh bound implemented here). Distances run in the
  * engine's fixed-point integer domain (`value_q`, the same PrecisionBound
  * mapping as the BUFF/Sprintz codecs — prec_double.rs:18), so the DP is
  * exact integer arithmetic: the DuckDB oracle reproduces it bit-for-bit
  * with no float-association caveats.
  *
  * Scale shape: LB_Keogh is O(n) per pair in whole-stage codegen and
  * admissibly lower-bounds banded DTW, so the O(n*band) DP runs only on
  * candidates that can still win (see SegmentMl.dtwKnn). The train-side
  * envelope is computed once per segment, not per pair.
  */
object Dtw {

  /** Exact Sakoe-Chiba banded DTW with L1 local cost over quantized longs.
    * Both inputs must be non-empty; lengths may differ (band applies to
    * |i-j|). Unreachable cells are Long.MaxValue-guarded; a band wide
    * enough for a monotone path always exists when |n-m| <= band.
    */
  def distance(a: ArrayData, b: ArrayData, band: Int): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0)
      throw new IllegalArgumentException("graft_dtw: empty segment")
    if (math.abs(n - m) > band)
      throw new IllegalArgumentException(
        s"graft_dtw: length difference ${math.abs(n - m)} exceeds band $band")
    val INF = Long.MaxValue / 4 // headroom so INF + cost cannot overflow
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    java.util.Arrays.fill(prev, INF)
    java.util.Arrays.fill(cur, INF)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      val lo = math.max(1, i - band)
      val hi = math.min(m, i + band)
      var j = lo
      while (j <= hi) {
        val c = math.abs(a.getLong(i - 1) - b.getLong(j - 1))
        val best =
          if (i == 1 && j == 1) 0L
          else math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        cur(j) = c + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Upper/lower Sakoe-Chiba envelope of a quantized segment:
    * up(j) = max(v[j-band .. j+band]), dn(j) = min(...). Computed once per
    * train segment (O(n*band), off the pair hot path).
    */
  def envelope(v: ArrayData, band: Int, upper: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      val lo = math.max(0, j - band)
      val hi = math.min(n - 1, j + band)
      var e = v.getLong(lo)
      var k = lo + 1
      while (k <= hi) {
        val x = v.getLong(k)
        if (if (upper) x > e else x < e) e = x
        k += 1
      }
      out(j) = e
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact integer squared Euclidean distance between two quantized
    * segments — the reference's kNN metric (knn/mod.rs:310) carried in
    * the fixed-point domain so engines agree bit-for-bit.
    */
  def sqDistQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** LB_Keogh lower bound: sum_j max(0, a_j - up_j, dn_j - a_j) against a
    * pre-computed band envelope. Admissible for the same-band DTW: every
    * warping path matches a_j to some b_k with |k-j| <= band, and
    * |a_j - b_k| >= max(0, a_j - up_j, dn_j - a_j).
    */
  def lbKeogh(a: ArrayData, up: ArrayData, dn: ArrayData): Long = {
    val n = math.min(a.numElements(), up.numElements())
    var s = 0L
    var j = 0
    while (j < n) {
      val x = a.getLong(j)
      val u = up.getLong(j)
      val l = dn.getLong(j)
      if (x > u) s += x - u
      else if (x < l) s += l - x
      j += 1
    }
    s
  }
}

/** Column builders for the DTW functions; each is one row of
  * [[NativeFunctions]].
  */
object DtwFunctions {
  import NativeFunctions.{DtwBand, DtwEnvelope, LbKeogh, SqDistQ}

  def dtwBand(a: Column, b: Column, band: Int): Column = DtwBand.call(Seq(a, b), band)
  def sqDistQ(a: Column, b: Column): Column = SqDistQ(a, b)
  def dtwEnvUp(v: Column, band: Int): Column = DtwEnvelope.call(Seq(v), band, true)
  def dtwEnvDn(v: Column, band: Int): Column = DtwEnvelope.call(Seq(v), band, false)
  def lbKeogh(a: Column, up: Column, dn: Column): Column = LbKeogh(a, up, dn)
}
