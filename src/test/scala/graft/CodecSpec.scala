package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BpCodec, CodecFunctions, GorillaCodec, SprintzCodec}

/** Gorilla / Sprintz codec expressions: bit-exact roundtrips (structured
  * cases + seeded random sweeps), compressed-domain aggregates,
  * compression on smooth data, SQL-name resolution, and the dataframe
  * path over real segments.
  */
class CodecSpec extends AnyFunSuite with SparkTest {

  private def gEnc(vs: Seq[Double]) = GorillaCodec.encode(new GenericArrayData(vs.toArray))
  private def gDec(b: Array[Byte]): Seq[Double] =
    GorillaCodec.decode(b).toDoubleArray().toSeq
  private def sEnc(vs: Seq[Long]) = SprintzCodec.encode(new GenericArrayData(vs.toArray))
  private def sDec(b: Array[Byte]): Seq[Long] =
    SprintzCodec.decode(b).toLongArray().toSeq

  test("gorilla roundtrips bit-exactly on structured cases") {
    for (vs <- Seq(
      Seq.empty[Double],
      Seq(0.0),
      Seq(1.5, 1.5, 1.5, 1.5),
      Seq(100.0, 100.01, 100.02, 100.0, 99.98),
      Seq(-3.25, 7.0, -0.0, 0.0, Double.MaxValue, Double.MinPositiveValue),
      (0 until 1000).map(i => math.sin(i / 10.0) * 100.0)))
      assert(gDec(gEnc(vs)) == vs, s"gorilla roundtrip failed for $vs")
  }

  test("gorilla roundtrips on random doubles (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(64)
      val vs = Seq.fill(n)((rnd.nextDouble() - 0.5) * 2e12)
      assert(gDec(gEnc(vs)) == vs)
    }
  }

  test("sprintz roundtrips exactly on structured cases") {
    for (vs <- Seq(
      Seq.empty[Long],
      Seq(0L),
      Seq(42L, 42L, 42L),
      Seq(Long.MaxValue, Long.MinValue, 0L, -1L, 1L),
      (0 until 1000).map(i => 10000L + i * 3L),
      Seq(-5L, -4L, -3L, 100L, -100L)))
      assert(sDec(sEnc(vs)) == vs, s"sprintz roundtrip failed for $vs")
  }

  test("sprintz roundtrips on random longs (seeded sweep)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(64)
      val vs = Seq.fill(n)(rnd.nextLong() / 4)
      assert(sDec(sEnc(vs)) == vs)
    }
  }

  private def bEnc(vs: Seq[Long]) = BpCodec.encode(new GenericArrayData(vs.toArray))
  private def bDec(b: Array[Byte]): Seq[Long] =
    BpCodec.decode(b).toLongArray().toSeq

  test("bp roundtrips exactly on structured cases") {
    for (vs <- Seq(
      Seq.empty[Long],
      Seq(0L),
      Seq(42L, 42L, 42L),
      Seq(Long.MaxValue / 2, Long.MinValue / 2, 0L, -1L, 1L),
      (0 until 1000).map(i => (i % 17).toLong),
      Seq(-5L, -4L, -3L, 100L, -100L)))
      assert(bDec(bEnc(vs)) == vs, s"bp roundtrip failed for $vs")
  }

  test("bp roundtrips on random longs and serves sum/max compressed") {
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(64)
      val vs = Seq.fill(n)(rnd.nextLong() / 4)
      assert(bDec(bEnc(vs)) == vs)
      if (n > 0) {
        assert(BpCodec.sum(bEnc(vs)) == vs.sum)
        assert(BpCodec.max(bEnc(vs)) == vs.max)
      }
    }
    assert(BpCodec.sum(bEnc(Seq.empty)) == 0L)
    assert(BpCodec.max(bEnc(Seq.empty)) == Long.MinValue)
  }

  private def fEnc(vs: Seq[Long]) =
    graft.functions.FcmCodec.encode(new GenericArrayData(vs.toArray))
  private def fDec(b: Array[Byte]): Seq[Long] =
    graft.functions.FcmCodec.decode(b).toLongArray().toSeq

  test("fcm roundtrips exactly on structured cases") {
    for (vs <- Seq(
      Seq.empty[Long],
      Seq(0L),
      Seq(42L, 42L, 42L),
      Seq(Long.MaxValue / 2, Long.MinValue / 2, 0L, -1L, 1L),
      (0 until 1000).map(i => (i % 17).toLong),       // periodic: FCM's home turf
      (0 until 1000).map(i => i * 3L),                // linear: DFCM's home turf
      Seq(-5L, -4L, -3L, 100L, -100L)))
      assert(fDec(fEnc(vs)) == vs, s"fcm roundtrip failed for $vs")
  }

  test("fcm roundtrips on random longs and serves sum/max compressed") {
    val rnd = new scala.util.Random(13)
    for (_ <- 0 until 200) {
      val n = rnd.nextInt(64)
      val vs = Seq.fill(n)(rnd.nextLong() / 4)
      assert(fDec(fEnc(vs)) == vs)
      if (n > 0) {
        assert(graft.functions.FcmCodec.sum(fEnc(vs)) == vs.sum)
        assert(graft.functions.FcmCodec.max(fEnc(vs)) == vs.max)
      }
    }
    assert(graft.functions.FcmCodec.sum(fEnc(Seq.empty)) == 0L)
    assert(graft.functions.FcmCodec.max(fEnc(Seq.empty)) == Long.MinValue)
  }

  test("fcm predicts periodic and linear patterns into short residuals") {
    // after table warmup, a strict period-17 stream predicts exactly ->
    // 8 header bits per value, no residual bits
    val periodic = (0 until 1000).map(i => ((i % 17) * 100).toLong)
    assert(fEnc(periodic).length < 1000 * 2,
      s"fcm: ${fEnc(periodic).length} bytes for 8000 raw on periodic data")
    // linear ramps predict through the delta table just as well
    val ramp = (0 until 1000).map(i => 100000L + i * 250L)
    assert(fEnc(ramp).length < 1000 * 2,
      s"fcm: ${fEnc(ramp).length} bytes for 8000 raw on a ramp")
  }

  test("bp beats raw on small-LEVEL (not small-delta) data; blocks independent") {
    // values bounded by 127 regardless of order: 8 bits/value + headers
    val vs = (0 until 1000).map(i => ((i * 7919) % 128).toLong)
    val bytes = bEnc(vs).length
    assert(bytes < 1000 * 2, s"bp: $bytes bytes for 8000 raw")
  }

  test("gorilla over precision-bound (quantized) values: the GorillaBD pass") {
    // the BD trick: floor(v*100) doubles XOR to far fewer significant
    // bits than the raw values, so the same codec compresses harder
    val raw = (0 until 1000).map(i => 100.0 + math.sin(i / 25.0) * 0.5 + i * 1e-7)
    val bd = raw.map(v => math.floor(v * 100))
    assert(gDec(gEnc(bd)) == bd)
    assert(gEnc(bd).length < gEnc(raw).length / 2,
      s"BD ${gEnc(bd).length} vs raw ${gEnc(raw).length}")
  }

  test("compressed-domain aggregates equal the decoded aggregates") {
    val ds = Seq(3.5, -2.0, 7.25, 7.25, 0.0)
    assert(GorillaCodec.max(gEnc(ds)) == 7.25)
    assert(GorillaCodec.max(gEnc(Seq.empty)) == Double.NegativeInfinity)
    val ls = Seq(10L, -3L, 92L, 1L)
    assert(SprintzCodec.sum(sEnc(ls)) == 100L)
    assert(SprintzCodec.sum(sEnc(Seq.empty)) == 0L)
  }

  test("smooth fixed-point series compress below raw size") {
    // slowly-varying quantized signal: deltas are tiny -> sprintz crushes it
    val qs = (0 until 1000).map(i => 10000L + (math.sin(i / 25.0) * 50).toLong)
    val sprintzBytes = sEnc(qs).length
    assert(sprintzBytes < 1000 * 8 / 4,
      s"sprintz: $sprintzBytes bytes for 8000 raw")
    // gorilla on repeated values: one 64-bit header + ~1 bit per repeat
    val gs = gEnc(Seq.fill(1000)(123.456))
    assert(gs.length < 200, s"gorilla constant series: ${gs.length} bytes")
  }

  test("codec expressions run over real segment arrays in a dataframe") {
    val segs = graft.operators.Segments.of(
      graft.operators.Readings.of(spark, "/root/testdata/sf0.001"))
    val checked = segs.select(
      col("signal_id"), col("seg"), col("values"),
      CodecFunctions.gorillaDecode(
        CodecFunctions.gorillaEncode(col("values"))).as("rt"),
      CodecFunctions.gorillaMax(
        CodecFunctions.gorillaEncode(col("values"))).as("cmax"),
      CodecFunctions.sprintzSum(CodecFunctions.sprintzEncode(
        transform(col("values"), v => floor(v * 100).cast("long")))).as("csum"))
    val bad = checked.filter(
      col("rt") =!= col("values") ||
        col("cmax") =!= array_max(col("values")) ||
        col("csum") =!= aggregate(
          transform(col("values"), v => floor(v * 100).cast("long")),
          lit(0L), (acc, v) => acc + v))
      .count()
    assert(bad == 0L)
    assert(checked.count() > 0)
  }

  test("codec functions resolve by SQL name through the extensions") {
    val s2 = spark.newSession()
    val row = s2.sql(
      """SELECT graft_sprintz_sum(graft_sprintz_encode(array(1L, 2L, 3L))) AS s,
        |       graft_gorilla_max(graft_gorilla_encode(array(1.5d, 9.25d, -2.0d))) AS m,
        |       graft_gorilla_decode(graft_gorilla_encode(array(4.5d, 4.5d))) AS rt
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) == 6L)
    assert(row.getDouble(1) == 9.25)
    assert(row.getSeq[Double](2) == Seq(4.5, 4.5))
  }

  test("codec and DTW functions give equal results generated and interpreted") {
    import spark.implicits._
    import graft.functions.DtwFunctions._
    import graft.functions.NativeFunctions._
    // seeded segments, a sixth of them NULL; q and r share each length
    val rnd = new scala.util.Random(500)
    def maybe[T](t: T): Option[T] = if (rnd.nextInt(6) == 0) None else Some(t)
    val dir = java.nio.file.Files.createTempDirectory("graft-codec-native").toString + "/in"
    (0 until 500).map { i =>
      val n = 1 + rnd.nextInt(24)
      def longs = Seq.fill(n)(rnd.nextLong() % 100000L)
      (i.toLong, maybe(Seq.fill(n)(rnd.nextGaussian() * 100)), maybe(longs), maybe(longs))
    }.toDF("id", "d", "q", "r").write.parquet(dir)
    val (d, q, r) = (col("d"), col("q"), col("r"))
    // read back from files: a local relation's projection would be
    // evaluated while optimizing, in neither mode under test
    def frame = spark.read.parquet(dir).select(col("id"), d, q,
      GorillaEncode(d), GorillaDecode(GorillaEncode(d)), GorillaMax(GorillaEncode(d)),
      SprintzEncode(q), SprintzDecode(SprintzEncode(q)), SprintzSum(SprintzEncode(q)),
      FcmEncode(q), FcmDecode(FcmEncode(q)), FcmSum(FcmEncode(q)), FcmMax(FcmEncode(q)),
      BpEncode(q), BpDecode(BpEncode(q)), BpSum(BpEncode(q)), BpMax(BpEncode(q)),
      dtwBand(q, r, 4), sqDistQ(q, r), dtwEnvUp(q, 4), dtwEnvDn(q, 4),
      lbKeogh(q, dtwEnvUp(r, 4), dtwEnvDn(r, 4))).orderBy("id")
    val (generated, interpreted) = generatedAndInterpreted(frame)
    assert(generated.size == 500 && generated.exists(_.contains(null)))
    assert(generated.exists(!_.contains(null)))
    assert(generated == interpreted)
    // null in, null out; the decoders return what was encoded
    for (row <- generated) {
      assert((row(1) == null) == (row(3) == null))
      assert((row(2) == null) == (row(6) == null))
      assert(row(4) == row(1))
      for (i <- Seq(7, 10, 14)) assert(row(i) == row(2))
    }
  }

  test("a codec aggregate runs its helper call inside whole-stage codegen") {
    import graft.functions.CodecFunctions._
    val df = graft.operators.Segments.of(
      graft.operators.Readings.of(spark, "/root/testdata/sf0.001"))
      .select(col("signal_id"), gorillaEncode(col("values")).as("enc"))
      .groupBy(col("signal_id")).agg(max(gorillaMax(col("enc"))).as("vmax"))
    assert(df.collect().nonEmpty)
    val code = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    assert(code.exists(_.contains("graft.functions.GorillaCodec.max(")),
      "gorilla max is not called from whole-stage generated code")
  }
}
