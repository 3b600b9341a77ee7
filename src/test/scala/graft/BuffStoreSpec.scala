package graft

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Readings
import graft.sources.BuffStore

/** BUFF byte-plane store: roundtrip exactness, progressive-filter
  * equivalence with the raw predicate, plane pruning (the decided leg's
  * scan reads only the top plane) and pushdown (both legs' top-plane
  * predicates reach the Parquet scan).
  */
class BuffStoreSpec extends AnyFunSuite with SparkTest with AdaptiveSparkPlanHelper {

  private val N = 3

  private lazy val (storePath, base) = {
    val dir = Files.createTempDirectory("graft-buff").toString + "/planes"
    val r = Readings.of(spark, "/root/testdata/sf0.001")
    val b = r.agg(min(col("value_q"))).first().getLong(0)
    BuffStore.write(BuffStore.planes(r, b, N), dir)
    (dir, b)
  }

  private def readings = Readings.of(spark, "/root/testdata/sf0.001")

  test("plane decomposition roundtrips exactly") {
    val pl = BuffStore.planes(readings, base, N)
    val bad = pl.join(readings.select(col("signal_id"), col("seq_no"), col("value_q")),
        Seq("signal_id", "seq_no"))
      .filter(BuffStore.reconstruct(base, N) =!= col("value_q"))
      .count()
    assert(bad == 0L, s"$bad rows fail plane roundtrip")
  }

  test("progressive range filter equals the raw range predicate") {
    val pl = BuffStore.read(spark, storePath)
    for ((lo, hi) <- Seq((12345L, 34567L), (0L, 255L), (256L, 65535L),
                         (base, base), (1L, 49000L))) {
      val prog = BuffStore.rangeProgressive(pl, base, N, lo, hi)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val raw = readings
        .filter(col("value_q") >= lo && col("value_q") <= hi)
        .select(col("signal_id"), col("seq_no"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prog == raw, s"range [$lo,$hi]: progressive=${prog.size} raw=${raw.size}")
    }
  }

  test("decided legs read only the planes they need (column pruning)") {
    val pl = BuffStore.read(spark, storePath)
    // plane-aligned bounds: low bytes at the extremes, so level-0/1 decide
    val q = BuffStore.rangeProgressive(pl, base, N, base, base + 0x02FFFFL)
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val schemas = scans.map(_.requiredSchema.fieldNames.toSet)
    // at least one leg must scan WITHOUT the lowest plane (p2): the
    // strictly-inside rows at level 0/1 never touch it
    assert(schemas.exists(s => !s.contains("p2")),
      s"no plane-pruned scan found; leg schemas: $schemas")
    // and the first leg (level 0) needs p0 only
    assert(schemas.exists(s => s.intersect(Set("p0", "p1", "p2")) == Set("p0")),
      s"no p0-only scan found; leg schemas: $schemas")
  }

  test("tie legs push their high-plane conjuncts into the Parquet scan") {
    val pl = BuffStore.read(spark, storePath)
    val q = BuffStore.rangeProgressive(pl, base, N, 12345L, 34567L)
    val scans = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the full-depth leg filters on p0 equality (tie prefixes) — that
    // conjunct must appear as a pushed data filter so pages with no
    // tie bytes are skipped by stats before low planes are read
    assert(scans.exists(_.dataFilters.exists(_.references.exists(_.name == "p0"))),
      "no scan carries a pushed p0 filter")
    // the whole tie compare is pushed: a bound compare on every lower
    // plane, not only the p0 equality and inferred null checks, so page
    // stats of p1..p{n-1} prune too
    val tie = scans.filter(_.requiredSchema.fieldNames.contains(s"p${N - 1}"))
    assert(tie.size == 1, s"${tie.size} scans read the lowest plane")
    val pushed = tie.head.metadata("PushedFilters")
    for (i <- 1 until N)
      assert(s"(GreaterThan|LessThan)(OrEqual)?\\(p$i,".r.findFirstIn(pushed).isDefined,
        s"no pushed bound compare on p$i: $pushed")
  }

  test("the range filter is two scans, each with a pushed p0 filter") {
    for (n <- Seq(3, 4)) {
      val dir = Files.createTempDirectory(s"graft-buff$n").toString + "/planes"
      BuffStore.write(BuffStore.planes(readings, base, n), dir)
      val q = BuffStore.rangeProgressive(BuffStore.read(spark, dir), base, n,
        12345L, 34567L)
      val scans = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 2, s"n=$n: ${scans.size} scans")
      assert(scans.forall(_.dataFilters.exists(_.references.exists(_.name == "p0"))),
        s"n=$n: a scan without a pushed p0 filter")
    }
  }

  test("range filter equals the raw predicate at the domain edges, n = 1..3") {
    import spark.implicits._
    val b = 1000L
    for (n <- 1 to 3) {
      val cap = 1L << (8 * n)
      // values spread over the whole adjusted domain [0, 256^n), both
      // extremes included
      val rows = ((0L until 3000L).map(k => (k % 7, k, b + (k * 7919L) % cap)) ++
        Seq((9L, 1L, b), (9L, 2L, b + cap - 1))).toDF("signal_id", "seq_no", "value_q")
      val dir = Files.createTempDirectory(s"graft-buff-edge$n").toString + "/planes"
      BuffStore.write(BuffStore.planes(rows, b, n), dir)
      val pl = BuffStore.read(spark, dir)
      val plane = cap >> 8
      for ((lo, hi) <- Seq(
          (b - 50L, b + cap / 3),                 // lo below base
          (b + cap / 5, b + cap + 100L),          // hi beyond 256^n
          (b + 7919L % cap, b + 7919L % cap),     // lo == hi
          (b + cap / 2, b + cap / 4),             // lo > hi: empty
          (b + plane, b + 2 * plane - 1L),        // plane-aligned
          (b - 10L, b + cap + 10L))) {            // the whole domain
        // sorted sequences, not sets: a row in both legs would repeat
        val got = BuffStore.rangeProgressive(pl, b, n, lo, hi)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val want = rows.filter(col("value_q").between(lo, hi))
          .select(col("signal_id"), col("seq_no"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == want, s"n=$n [$lo,$hi]: progressive=${got.size} raw=${want.size}")
      }
    }
  }

  test("plane-wise sum is exactly sum(value_q) per signal") {
    val pl = BuffStore.read(spark, storePath)
    val viaPlanes = BuffStore.sumFromPlanes(pl, base, N)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val raw = readings.groupBy(col("signal_id"))
      .agg(sum(col("value_q")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(viaPlanes == raw)
  }

  test("progressive max returns every argmax position with the max value") {
    val pl = BuffStore.read(spark, storePath)
    val got = BuffStore.maxWithArgmax(pl, base, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mx = readings.agg(max(col("value_q"))).first().getLong(0)
    val want = readings.filter(col("value_q") === mx)
      .select(col("signal_id"), col("seq_no"), col("value_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.forall(_._3 == mx))
  }

  test("prefix sum is within its own error bound of the exact sum") {
    val pl = BuffStore.read(spark, storePath)
    for (j <- 1 to N) {
      val approx = BuffStore.sumFromPlanesPrefix(pl, base, N, j)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val exact = readings.groupBy(col("signal_id"))
        .agg(sum(col("value_q")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      for ((sig, (lo, bound)) <- approx) {
        assert(lo <= exact(sig), s"signal $sig: truncated sum exceeds exact")
        assert(exact(sig) - lo <= bound,
          s"signal $sig: error ${exact(sig) - lo} > bound $bound at j=$j")
      }
    }
    // full-prefix sum (j = N) is exact
    val full = BuffStore.sumFromPlanesPrefix(pl, base, N, N)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = readings.groupBy(col("signal_id"))
      .agg(sum(col("value_q")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full == exact)
  }

  test("outlier coding: majority rows NULL out, restore is exact, sums serve compressed") {
    import spark.implicits._
    // signal 0: plane 2 (low byte) is 7 for 8 of 10 rows (80% >= 60% ->
    // coded, two exceptions); plane 0/1 constant (always coded, no
    // exceptions). signal 1: low byte uniform -> NOT coded.
    val rows =
      (1L to 10L).map(s => (0L, s, if (s <= 2) 1000L + s else 1007L)) ++
      (1L to 10L).map(s => (1L, s, 2000L + s * 3L))
    val rds = rows.toDF("signal_id", "seq_no", "value_q")
    val b = 0L
    val pl = BuffStore.planes(rds, b, N)
    val (enc, maj) = BuffStore.outlierEncode(pl, N)

    val m0 = maj.filter(col("signal_id") === 0L).collect()(0)
    assert(m0.getInt(m0.fieldIndex("maj_2")) == (1007 & 255),
      "majority byte of the skewed plane")
    assert(!m0.isNullAt(m0.fieldIndex("maj_0")), "constant plane coded")
    val m1 = maj.filter(col("signal_id") === 1L).collect()(0)
    assert(m1.isNullAt(m1.fieldIndex("maj_2")), "uniform plane must not code")

    // exceptions: exactly the 2 non-majority rows keep a byte in p2
    assert(enc.filter(col("signal_id") === 0L && col("p2").isNotNull)
      .count() == 2L)

    // restore reproduces the original planes bit-for-bit
    val restored = BuffStore.restore(enc, maj, N)
    val mismatch = restored.join(pl.select(col("signal_id"), col("seq_no"),
        col("p0").as("q0"), col("p1").as("q1"), col("p2").as("q2")),
        Seq("signal_id", "seq_no"))
      .filter(col("p0") =!= col("q0") || col("p1") =!= col("q1") ||
        col("p2") =!= col("q2"))
      .count()
    assert(mismatch == 0L)

    // majority-sum shortcut equals the raw sum without restoring
    val got = BuffStore.sumFromOutlierPlanes(enc, maj, b, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = rds.groupBy(col("signal_id"))
      .agg(sum(col("value_q")).cast("long"), count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)

    // and the progressive range filter over the restored view is exact
    val gotR = BuffStore.rangeProgressive(restored, b, N, 1003L, 2010L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantR = rds.filter(col("value_q").between(1003L, 2010L))
      .select(col("signal_id"), col("seq_no"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotR == wantR)

    // the outlier-coded layout survives the disk roundtrip: NULLs land in
    // Parquet definition levels, the dictionary is its own tiny table,
    // and the read-back store serves the same sums and ranges
    val root = Files.createTempDirectory("graft-buff-out").toString
    BuffStore.write(enc, s"$root/planes")
    BuffStore.write(maj, s"$root/dict")
    val encBack = BuffStore.read(spark, s"$root/planes")
    val majBack = BuffStore.read(spark, s"$root/dict")
    assert(encBack.filter(col("signal_id") === 0L && col("p2").isNotNull)
      .count() == 2L, "exception NULLs lost in the parquet roundtrip")
    val gotBack = BuffStore.sumFromOutlierPlanes(encBack, majBack, b, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotBack == want)
    val gotRBack = BuffStore.rangeProgressive(
        BuffStore.restore(encBack, majBack, N), b, N, 1003L, 2010L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotRBack == wantR)
  }

  test("max+argmax directly on the outlier-coded form equals the raw max") {
    import spark.implicits._
    // the global max row is a MAJORITY row in the low plane (signal 0's
    // 1007s dominate) AND an exception row case (signal 1's top value),
    // so both branches of coalesce(exception, majority) are exercised
    val rows =
      (1L to 10L).map(s => (0L, s, if (s <= 2) 1000L + s else 1007L)) ++
      (1L to 10L).map(s => (1L, s, 2000L + s * 3L)) ++
      Seq((2L, 1L, 2030L), (2L, 2L, 2030L))      // duplicated global max
    val rds = rows.toDF("signal_id", "seq_no", "value_q")
    val pl = BuffStore.planes(rds, 0L, N)
    val (enc, maj) = BuffStore.outlierEncode(pl, N)
    val got = BuffStore.maxFromOutlierPlanes(enc, maj, 0L, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mx = rows.map(_._3).max
    val want = rows.filter(_._3 == mx).map(t => (t._1, t._2, t._3)).toSet
    assert(got == want, s"got=$got want=$want")

    // and on the real sf0.001 store it matches maxWithArgmax on the
    // restored view
    val realPl = BuffStore.read(spark, storePath)
    val (enc2, maj2) = BuffStore.outlierEncode(realPl, N)
    val direct = BuffStore.maxFromOutlierPlanes(enc2, maj2, base, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaRestore = BuffStore.maxWithArgmax(realPl, base, N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct == viaRestore)
  }

  test("planesFor sizes the plane count from the domain width") {
    assert(BuffStore.planesFor(0L) == 1)
    assert(BuffStore.planesFor(255L) == 1)
    assert(BuffStore.planesFor(256L) == 2)
    assert(BuffStore.planesFor(65535L) == 2)
    assert(BuffStore.planesFor(65536L) == 3)
  }

  test("read takes the schema from one footer: no job, the inferred schema") {
    val root = Files.createTempDirectory("graft-buff-read").toString
    val (_, maj) = BuffStore.outlierEncode(BuffStore.read(spark, storePath), N)
    BuffStore.write(maj, s"$root/dict")
    for (dir <- Seq(storePath, s"$root/dict")) {
      var df: DataFrame = null
      val jobs = counters { df = BuffStore.read(spark, dir) }("jobs")
      assert(jobs == 0L, s"reading $dir ran $jobs jobs")
      assert(df.schema == spark.read.parquet(dir).schema)
    }
    // a missing or empty store still fails loudly
    intercept[AnalysisException](BuffStore.read(spark, s"$root/missing"))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/empty"))
    intercept[AnalysisException](BuffStore.read(spark, s"$root/empty"))
  }

  test("maxWithArgmax over a derived frame keeps the fold over every row") {
    // the fold as maxWithArgmax builds it, with no narrowing filter
    def fold(pl: DataFrame): DataFrame = {
      val packed = struct((0 until N).map(i => col(s"p$i")): _*)
      pl.withColumn("rk", rank().over(Window.orderBy(packed.desc))).filter(col("rk") === 1)
        .select(col("signal_id"), col("seq_no"), BuffStore.reconstruct(base, N).as("value_q"))
    }
    def samePlan(a: DataFrame, b: DataFrame) =
      a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan)
    val root = Files.createTempDirectory("graft-buff-derived").toString
    val pl = BuffStore.read(spark, storePath)
    val (enc, maj) = BuffStore.outlierEncode(pl, N)
    BuffStore.write(enc, s"$root/planes")
    BuffStore.write(maj, s"$root/dict")
    val restored = BuffStore.restore(BuffStore.read(spark, s"$root/planes"),
      BuffStore.read(spark, s"$root/dict"), N)
    for (derived <- Seq(restored, BuffStore.planes(readings, base, N)))
      assert(samePlan(BuffStore.maxWithArgmax(derived, base, N), fold(derived)))
    // the bare store's plan narrows, to the same answer
    assert(!samePlan(BuffStore.maxWithArgmax(pl, base, N), fold(pl)))
    assert(BuffStore.maxWithArgmax(pl, base, N).collect().toSet == fold(pl).collect().toSet)
  }

  test("each max reads its rows once: a partial group limit under the exchange, no join") {
    def shape(what: String, q: DataFrame, joins: Int): Unit = {
      val plan = q.queryExecution.executedPlan
      val toOne = collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      assert(toOne.size == 1, s"$what: ${toOne.size} single-partition exchanges")
      assert(toOne.head.exists {
        case l: WindowGroupLimitExec => l.mode == Partial
        case _ => false
      }, s"$what: no partial WindowGroupLimit below the exchange\n$plan")
      val bhj = collect(plan) { case j: BroadcastHashJoinExec => j }
      assert(bhj.size == joins, s"$what: ${bhj.size} broadcast joins\n$plan")
    }
    val pl = BuffStore.read(spark, storePath)
    shape("bare store", BuffStore.maxWithArgmax(pl, base, N), 0)
    shape("derived frame", BuffStore.maxWithArgmax(BuffStore.planes(readings, base, N), base, N), 0)
    // the coded store's one join is its dictionary's
    val root = Files.createTempDirectory("graft-buff-once").toString
    val (enc, maj) = BuffStore.outlierEncode(pl, N)
    BuffStore.write(enc, s"$root/planes")
    BuffStore.write(maj, s"$root/dict")
    shape("outlier-coded", BuffStore.maxFromOutlierPlanes(BuffStore.read(spark, s"$root/planes"),
      BuffStore.read(spark, s"$root/dict"), base, N), 1)
  }
}
