package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** BUFF-style byte-plane decomposition of the fixed-point column — the
  * reference's flagship compressed-domain query path re-expressed
  * Spark-first.
  *
  * The reference (database/src/compress/split_double.rs:32-8769 and
  * buff_simd.rs:313-5433, the ~10k-LoC heart of the engine) splits each
  * fixed-point value into byte planes stored column-wise, then answers
  *  - range predicates plane-by-plane: rows decided (qualify/disqualify)
  *    on a high plane never touch lower planes; only prefix TIES descend
  *    (buff_simd.rs:4507-4681, progressive filter with early exit);
  *  - sums plane-wise as unsigned byte sums scaled by the plane shift
  *    plus `len * base` — exact for fixed-point data, no branch
  *    (buff_simd.rs:2294-2442);
  * over a base-offset representation (subtract the dataset min so planes
  * are unsigned).
  *
  * Spark mapping: each byte plane is its own `int` column (`p0` = most
  * significant). On Parquet this IS the BUFF layout — a columnar store of
  * byte planes — and the two reference wins map onto the two columnar
  * wins:
  *  - *plane pruning*  = column pruning: a filter leg that references
  *    only `p0` reads only that plane (`ReadSchema` shows it);
  *  - *early exit*     = predicate pushdown: each leg of the range
  *    filter is a predicate over the plain plane columns only, so the
  *    whole of it reaches the scan as a `PushedFilters` entry. The store
  *    is written with pages capped at `Pages.Rows` rows, and Parquet's
  *    page index (per-page min/max of every plane column) is the
  *    reference's per-segment zone map: each 1,024-row page whose plane
  *    stats rule the leg out is skipped before any of its bytes are read,
  *    as are whole files.
  * The progressive filter is a UNION of two disjoint legs: the rows the
  * top plane decides (reading `p0` only) and the rows that tie a bound
  * byte on it (reading every plane, but only in pages that hold a tie
  * byte and whose lower-plane stats admit the bound). One leg per plane
  * level would rescan the store once per level, so from n = 3 planes on
  * it reads more; the tie leg reads each plane column once over the
  * pages that the per-level legs each reread. Result is a position list
  * (signal_id, seq_no), the reference's bitmap-of-row-ids result shape
  * (query/bit_vec_iter.rs:8-49).
  *
  * Plane-wise sum folds `sum(p_i) << 8*(n-1-i)` per plane plus
  * `cnt * base` — all integer math on longs, so it is exactly
  * `sum(value_q)` (the fixed-point exactness BUFF's plane sum relies on).
  *
  * The stats are read before the rows. [[read]] takes the store's schema
  * from one footer, read in the calling JVM, so opening the store runs no
  * job. On a bare store, [[maxWithArgmax]] settles the top plane from the
  * row-group max of `p0` in the footers (the reference's first refinement
  * step) and folds only the rows that hold it, in the files and pages
  * whose `p0` stats admit that byte. Each max reads its rows once: the
  * max and its positions are the rank-1 rows of one global window.
  *
  * 100 TB shape: decomposition and reconstruction are map-only column
  * expressions (codegen'd shifts/masks, no UDF); the range filter is
  * scan+filter+union (no shuffle, no join); the sum is one partial+final
  * aggregation; the max ships each task's own top ties to one partition.
  * Nothing here collects; the footer reads are metadata reads in the
  * calling JVM, bounded by Spark's own parallel-listing threshold.
  */
object BuffStore {

  /** Planes needed to cover a non-negative adjusted domain of width w. */
  def planesFor(width: Long): Int = {
    require(width >= 0, s"negative domain width $width")
    var n = 1; var cap = 256L
    while (cap - 1 < width && n < 8) { n += 1; cap = cap * 256L }
    n
  }

  private def shiftBits(n: Int, i: Int): Int = 8 * (n - 1 - i)

  /** Byte-plane columns p0..p{n-1} (p0 most significant) of `adjusted`
    * (= value_q - base, must be in [0, 256^n)).
    */
  def planeCols(adjusted: Column, n: Int): Seq[Column] =
    (0 until n).map(i =>
      shiftright(adjusted, shiftBits(n, i)).bitwiseAND(lit(255L))
        .cast("int").as(s"p$i"))

  /** Decompose readings into the plane representation. `base` must be
    * <= min(value_q) (the reference's base-offset, split_double.rs:425).
    */
  def planes(readings: DataFrame, base: Long, n: Int): DataFrame =
    readings.select(
      Seq(col("signal_id"), col("seq_no")) ++
        planeCols(col("value_q") - lit(base), n): _*)

  /** base + Σ p_i << shift_i — the exact inverse of `planes`. */
  def reconstruct(base: Long, n: Int): Column =
    (0 until n).map(i => shiftleft(col(s"p$i").cast("long"), shiftBits(n, i)))
      .reduce(_ + _) + lit(base)

  /** `x >= a` (`ge`) or `x <= a` for the adjusted value x held in the
    * planes p0..p{n-1}, as the lexicographic compare over the plain plane
    * columns: for n = 3, `x >= a` is
    * `p0 > a0 || (p0 === a0 && (p1 > a1 || (p1 === a1 && p2 >= a2)))`.
    * A bound outside the domain [0, 256^n) is clamped to a constant. Every
    * conjunct is a column-vs-literal compare, so Parquet prunes pages on
    * the stats of each plane.
    */
  private def planeBound(a: Long, n: Int, ge: Boolean): Column = {
    val top = if (n >= 8) Long.MaxValue else (1L << (8 * n)) - 1L
    val (always, never) = if (ge) (a <= 0L, a > top) else (a >= top, a < 0L)
    if (always) lit(true)
    else if (never) lit(false)
    else {
      def p(i: Int) = col(s"p$i")
      def b(i: Int) = lit(((a >> shiftBits(n, i)) & 255L).toInt)
      (n - 2 to 0 by -1).foldLeft(if (ge) p(n - 1) >= b(n - 1) else p(n - 1) <= b(n - 1)) {
        (lower, i) => (if (ge) p(i) > b(i) else p(i) < b(i)) || (p(i) === b(i) && lower)
      }
    }
  }

  /** Progressive range filter: positions with value_q in [lo, hi], as
    * two disjoint legs split on the top plane's bound bytes `lo0`/`hi0`:
    *  - decided: `lo0 < p0 < hi0` is inside the range whatever the lower
    *    planes hold, so this leg reads `p0` alone;
    *  - tie: `p0` equals a bound byte and the exact lexicographic compare
    *    over the planes ([[planeBound]]) settles the row.
    * Both legs are pushed whole to Parquet, which skips each file and
    * each 1,024-row page whose plane stats rule a leg out.
    */
  def rangeProgressive(planesDf: DataFrame, base: Long, n: Int,
                       lo: Long, hi: Long): DataFrame = {
    val (loA, hiA) = (lo - base, hi - base)
    val (lo0, hi0) = (loA >> shiftBits(n, 0), hiA >> shiftBits(n, 0)) // floor-div
    val p0 = col("p0")
    val keys = Seq(col("signal_id"), col("seq_no"))
    planesDf.filter(p0 > lit(lo0) && p0 < lit(hi0)).select(keys: _*)
      .union(planesDf
        .filter((p0 === lit(lo0) || p0 === lit(hi0)) &&
          planeBound(loA, n, ge = true) && planeBound(hiA, n, ge = false))
        .select(keys: _*))
  }

  /** Exact per-signal sum/count of value_q folded plane-wise — the BUFF
    * plane sum (buff_simd.rs:2294): Σ_i (sum of plane i) << shift_i,
    * plus cnt * base. Pure integer math, equal to sum(value_q).
    */
  def sumFromPlanes(planesDf: DataFrame, base: Long, n: Int): DataFrame = {
    val planeSums = (0 until n).map(i =>
      shiftleft(sum(col(s"p$i")).cast("long"), shiftBits(n, i)))
    planesDf.groupBy(col("signal_id")).agg(
      (planeSums.reduce(_ + _) + count(lit(1)) * lit(base)).as("sum_q"),
      count(lit(1)).as("cnt"))
  }

  /** Progressive max with argmax positions (buff_simd.rs:2444-2862: track
    * the running max byte per plane, keep the bitmap of positions
    * attaining it, refine on lower planes). Plan-level equivalent: the
    * plane-major refinement — max(p0), then max(p1) among p0-maximal
    * rows, ... — is the lexicographic order of struct(p0, p1, ..), and
    * the positions attaining the max (the argmax "bitmap") are the rows
    * that rank first in it ([[topTies]]), so the rows are read once.
    *
    * The first level is decided from the footers when `planesDf` is a
    * bare scan of the store ([[topPlaneMax]]): the fold then runs over the
    * rows whose `p0` is that byte, a predicate Parquet pushes, so files
    * and pages without it are skipped. On a derived frame (`restore`, or
    * planes computed from readings) the fold runs over every row.
    */
  def maxWithArgmax(planesDf: DataFrame, base: Long, n: Int): DataFrame = {
    val rows = topPlaneMax(planesDf).fold(planesDf)(m0 => planesDf.filter(col("p0") === lit(m0)))
    topTies(rows, struct((0 until n).map(i => col(s"p$i")): _*))
      .select(col("signal_id"), col("seq_no"), reconstruct(base, n).as("value_q"))
  }

  /** The rows of `rows` whose `key` is the largest, ties included: rank 1
    * of one window ordered by `key` descending. Spark's
    * `InferWindowGroupLimit` puts a partial `WindowGroupLimit` under the
    * single-partition exchange, so each task ships only its own top ties.
    */
  private def topTies(rows: DataFrame, key: Column): DataFrame =
    rows.withColumn("rk", rank().over(Window.orderBy(key.desc))).filter(col("rk") === 1)

  /** The largest `p0` of a bare plane store, from the row-group stats in
    * its footers. None (read every row) when the frame is not a bare scan
    * with an int `p0`, when it spans more files than Spark lists without a
    * job (`spark.sql.sources.parallelPartitionDiscovery.threshold`), or
    * when a non-empty row group has no `p0` stats.
    */
  private def topPlaneMax(planesDf: DataFrame): Option[Int] = {
    val spark = planesDf.sparkSession
    val plan = planesDf.queryExecution.analyzed
    for {
      scan <- BareScan.unapply(plan)
      p0 <- plan.output.find(_.name == "p0") if p0.dataType == IntegerType
      column <- scan.column(p0)
      files = scan.relation.location.inputFiles.toSeq
      if files.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold
      m0 <- Pages.footerMaxInt(spark, files, column)
    } yield m0
  }

  /** Precision-progressive sum (split_double.rs:2949 `sum@precision`):
    * fold only the first `j` planes — the exact sum of the truncated
    * values — plus a hard error bound: each row contributes at most
    * (256^(n-j) - 1) unseen low-plane mass. One narrow scan of j plane
    * columns; the bound is count-based, no low plane touched.
    */
  def sumFromPlanesPrefix(planesDf: DataFrame, base: Long, n: Int, j: Int): DataFrame = {
    require(j >= 1 && j <= n, s"prefix plane count $j out of [1,$n]")
    val planeSums = (0 until j).map(i =>
      shiftleft(sum(col(s"p$i")).cast("long"), shiftBits(n, i)))
    val unseen = (1L << (8 * (n - j))) - 1L
    planesDf.groupBy(col("signal_id")).agg(
      (planeSums.reduce(_ + _) + count(lit(1)) * lit(base)).as("sum_lo"),
      (count(lit(1)) * lit(unseen)).as("err_bound"),
      count(lit(1)).as("cnt"))
  }

  /** Majority/outlier sub-column coding (buff_simd.rs:317-632 — the
    * scheme the BUFF paper is named for): per (signal, plane), when >=60%
    * of the plane's bytes share one value, store the majority byte ONCE in
    * a per-signal dictionary and keep only the EXCEPTIONS in the plane
    * column — majority rows become NULL, which Parquet's definition
    * levels encode in ~1 bit, so a skewed plane costs exception-bytes
    * instead of cnt bytes (the reference's majority byte + exception
    * bitmap, in columnar-store terms).
    *
    * Returns (data, majorities): `data` is the planes frame with majority
    * bytes nulled out; `majorities` is one row per signal with maj_0..
    * maj_{n-1} (NULL = plane not majority-coded). The mode byte is
    * deterministic (ties break to the smallest byte). One exploded
    * aggregation pass computes every plane's mode — no per-plane scans.
    */
  def outlierEncode(planesDf: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val counts = planesDf
      .select(col("signal_id"),
        posexplode(array((0 until n).map(i => col(s"p$i")): _*))
          .as(Seq("plane", "byte")))
      .groupBy(col("signal_id"), col("plane"), col("byte"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("signal_id"), col("plane"))
      .orderBy(col("c").desc, col("byte"))
    val modes = counts
      .withColumn("cnt", sum(col("c")).over(
        Window.partitionBy(col("signal_id"), col("plane"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      // the reference's >=60% occupancy gate for switching to
      // majority+exceptions (buff_simd.rs:317) — integer test, no doubles
      .withColumn("coded", col("c") * 5 >= col("cnt") * 3)
    val majAggs = (0 until n).map(i =>
      max(when(col("plane") === i && col("coded"), col("byte")))
        .as(s"maj_$i"))
    val majorities = modes.groupBy(col("signal_id"))
      .agg(majAggs.head, majAggs.tail: _*)
    val data = planesDf.join(broadcast(majorities), "signal_id")
      .select(Seq(col("signal_id"), col("seq_no")) ++
        (0 until n).map(i =>
          when(col(s"p$i") === col(s"maj_$i"), lit(null))
            .otherwise(col(s"p$i")).as(s"p$i")): _*)
    (data, majorities)
  }

  /** Inverse of [[outlierEncode]]: a planes-shaped view (p_i = exception
    * byte or the signal's majority byte), so every existing plane
    * consumer — rangeProgressive, sumFromPlanes, maxWithArgmax — runs on
    * the outlier-coded store unchanged. Map-only + one broadcast join.
    */
  def restore(data: DataFrame, majorities: DataFrame, n: Int): DataFrame =
    data.join(broadcast(majorities), "signal_id")
      .select(Seq(col("signal_id"), col("seq_no")) ++
        (0 until n).map(i =>
          coalesce(col(s"p$i"), col(s"maj_$i")).as(s"p$i")): _*)

  /** Exact per-signal sum DIRECTLY from the outlier-coded form — no
    * restore: plane i's total is sum(exception bytes) + maj_i * (cnt -
    * n_exceptions) (buff_simd.rs majority-sum shortcut). Equal to
    * sum(value_q); one aggregation + one broadcast join.
    */
  def sumFromOutlierPlanes(data: DataFrame, majorities: DataFrame,
                           base: Long, n: Int): DataFrame = {
    val aggs = Seq(count(lit(1)).as("cnt")) ++
      (0 until n).flatMap(i => Seq(
        sum(col(s"p$i")).cast("long").as(s"es_$i"),
        count(col(s"p$i")).as(s"en_$i")))
    val g = data.groupBy(col("signal_id")).agg(aggs.head, aggs.tail: _*)
    val planeTotals = (0 until n).map { i =>
      val total = coalesce(col(s"es_$i"), lit(0L)) +
        coalesce(col(s"maj_$i").cast("long"), lit(0L)) *
          (col("cnt") - col(s"en_$i"))
      shiftleft(total, shiftBits(n, i))
    }
    g.join(broadcast(majorities), "signal_id")
      .select(col("signal_id"),
        (planeTotals.reduce(_ + _) + col("cnt") * lit(base)).as("sum_q"),
        col("cnt"))
  }

  /** Progressive max + argmax DIRECTLY on the outlier-coded store — the
    * reference's majority-path max (buff_simd.rs:2863: a plane's
    * candidate byte is max(majority byte, max exception byte), then
    * refine). On the coded Parquet layout the same plane-major fold ranks
    * coalesce(exception, majority): the scan reads exception bytes plus
    * ~1-bit definition levels — majority rows' bytes are never
    * materialized, so there is no restore projection and the I/O is
    * exception-mass only, exactly the reference's majority shortcut in
    * columnar terms. The argmax positions are the same rank-1 rows as in
    * [[maxWithArgmax]]; completes the compressed-domain query family
    * (range/sum/max) on the coded form.
    */
  def maxFromOutlierPlanes(data: DataFrame, majorities: DataFrame,
                           base: Long, n: Int): DataFrame = {
    def eff(i: Int): Column = coalesce(col(s"p$i"), col(s"maj_$i"))
    topTies(data.join(broadcast(majorities), "signal_id"),
        struct((0 until n).map(i => eff(i).as(s"e$i")): _*))
      .select(col("signal_id"), col("seq_no"),
        ((0 until n).map(i =>
          shiftleft(eff(i).cast("long"), shiftBits(n, i)))
          .reduce(_ + _) + lit(base)).as("value_q"))
  }

  /** Persist the plane representation (the on-disk BUFF layout: one
    * Parquet column per byte plane, dictionary/bit-pack encoded, in pages
    * of at most `Pages.Rows` rows whose per-plane min/max the range
    * filter skips on).
    */
  def write(planesDf: DataFrame, path: String): Unit =
    planesDf.write.mode("overwrite").options(Pages.WriterOptions).parquet(path)

  /** The store at `path`, read with the schema of one footer (the file
    * Spark's inference would read, without its job). A missing or empty
    * store has no footer; Spark's inference then raises its own error.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    Pages.footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
}
