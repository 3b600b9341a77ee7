package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, PipelineOps}
import graft.ml.CrPredictor

/** Degenerate-input behavior: every operator must return an empty (or
  * well-defined) result on an empty corpus rather than throw — at 100 TB
  * an empty partition, an empty lang group, or an all-filtered batch is a
  * daily event, not an edge case.
  */
class EdgeCaseSpec extends AnyFunSuite with SparkTest {

  private lazy val emptyDocs = {
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))
  }

  private lazy val emptyReadings =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("signal_id", LongType), StructField("seq_no", LongType),
        StructField("value", DoubleType), StructField("value_q", LongType))))

  test("document/pipeline operators are empty-safe") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.minhashNearDup(emptyDocs, 0.5).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.connectedComponents(
      Dedup.minhashNearDup(emptyDocs, 0.5)).count() == 0)
    assert(Dedup.connectedComponentsAuto(
      Dedup.minhashNearDup(emptyDocs, 0.5)).count() == 0)
    assert(PipelineOps.globalShuffle(emptyDocs).count() == 0)
    assert(PipelineOps.sampleSplit(emptyDocs).count() == 0)
    assert(PipelineOps.packSequences(emptyDocs, 512L).count() == 0)
    assert(PipelineOps.quotaSample(emptyDocs, 5).count() == 0)
    assert(PipelineOps.curate(emptyDocs, 1L, 10L).count() == 0)
    assert(PipelineOps.vocabTopK(emptyDocs, 10).count() == 0)
    assert(PipelineOps.decontaminate(emptyDocs, col("doc_id") === 0L).count() == 0)
  }

  test("CR predictor returns the full codec table on an empty sample") {
    // regression: the percentile over zero consecutive deltas aggregates
    // to null and must fall back, not throw
    val est = CrPredictor.estimate(emptyReadings, 0.5, 2).collect()
    assert(est.length == 5)
    assert(est.forall(_.getDouble(1) > 0.0))
  }

  test("tier feedback policy and ladder passes are empty-safe") {
    import graft.operators.Tiers
    val emptyTs = emptyReadings.withColumn("ts",
      lit(null).cast("timestamp"))
    assert(Tiers.paaError(emptyTs, 4).count() == 0)
    assert(Tiers.recodePlanWithFeedback(emptyTs, 4, 0.5, 80.0).count() == 0)
    assert(Tiers.rePaaChunks(Tiers.paaChunks(emptyTs, 4), 2).count() == 0)
    // single-reading signal: one chunk, one segment, zero reconstruction
    // error (a 1-row chunk's mean is the value itself), recode vetoed by
    // the CR guard (ceil(1/4)*8 / 8 = 1.0), never by the error budget
    import spark.implicits._
    val one = Seq((1L, 1L, 42.25, 4225L)).toDF("signal_id", "seq_no", "value", "value_q")
    val err = Tiers.paaError(one, 4).collect()
    assert(err.length == 1 && err(0).getDouble(2) == 0.0)
    val plan = Tiers.recodePlanWithFeedback(one, 4, 0.5, 80.0).collect()
    assert(plan.length == 1 && !plan(0).getAs[Boolean]("recode")
      && !plan(0).getAs[Boolean]("cr_ok"))
    // PLA on a single point: degenerate denominator -> flat line through
    // the value, zero residual
    val pla = Tiers.plaTier(one, 8).collect()
    assert(pla.length == 1)
    assert(pla(0).getAs[Double]("slope_q") == 0.0)
    assert(pla(0).getAs[Double]("icept_q") == 4225.0)
    assert(pla(0).getAs[Double]("err") == 0.0)
    assert(Tiers.plaTier(emptyTs, 8).count() == 0)
  }

  test("bandit replays are empty-safe and single-step-safe") {
    import graft.ml.Bandit
    assert(Bandit.egreedyReplay(emptyReadings).count() == 0)
    assert(Bandit.recodeReplay(emptyReadings).count() == 0)
    import spark.implicits._
    val one = Seq((1L, 1L, 42.25, 4225L)).toDF("signal_id", "seq_no", "value", "value_q")
    // one segment -> exactly one decision step, with a well-formed row
    val row = Bandit.egreedyReplay(one).collect()
    assert(row.length == 1 && Bandit.CompressArms.contains(row(0).getString(1)))
    assert(Bandit.recodeReplay(one).count() == 1)
  }

  test("repetition signals on planted degenerate docs") {
    import spark.implicits._
    import graft.operators.TextQueries
    val fixture = Seq(
      (0L, "", "en"),                 // empty -> all zeros
      (1L, "solo", "en"),             // one token -> no bigrams
      (2L, "a a a a", "en"),          // max repetition: top=1.0, dup=1-1/3
      (3L, "w x y z", "en")           // all distinct: top=0.25, dup=0.0
    ).toDF("doc_id", "text", "lang")
    fixture.createOrReplaceTempView("edge_docs")
    // drive the registered query body against the fixture via the same
    // relational pipeline (swap the docs source)
    val pos = fixture.select(col("doc_id"),
      posexplode(graft.functions.TextOps.tokens(col("text"))).as(Seq("i", "tok")))
    val out = TextQueries.queries  // sanity: the query is registered
    assert(out.contains("text_repetition"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val bg = pos.withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), countDistinct(concat_ws(" ", col("tok"), col("nxt"))).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!bg.contains(0L) && !bg.contains(1L))      // no bigrams
    assert(bg(2L) == (3L, 1L))                        // "a a" x3, 1 distinct
    assert(bg(3L) == (3L, 3L))                        // all distinct
  }

  test("PII scrub masks planted emails and urls, counts them, leaves clean text") {
    import spark.implicits._
    import graft.functions.TextOps
    val fixture = Seq(
      (0L, "contact Me.At+x@some-host.org or https://a.b/c?x=1 today"),
      (1L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = fixture.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(TextOps.EmailRe), lit(0))).as("e"),
      size(regexp_extract_all(col("text"), lit(TextOps.UrlRe), lit(0))).as("u"),
      TextOps.scrubPii(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(0L) == ((1, 1, "contact [EMAIL] or [URL] today")))
    assert(out(1L) == ((0, 0, "no pii here at all")))
  }

  test("mixture sampling is deterministic and respects per-source weight direction") {
    import spark.implicits._
    import graft.operators.PipelineOps
    val docs = (0 until 400).map(i =>
      (i.toLong, s"text $i", "en", if (i % 2 == 0) "keep_most" else "keep_few"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("keep_most", 0.9), ("keep_few", 0.1)).toDF("source", "weight")
    val a = PipelineOps.mixtureSample(docs, w).collect().map(_.getLong(0)).toSet
    val b = PipelineOps.mixtureSample(docs, w).collect().map(_.getLong(0)).toSet
    assert(a == b)                                   // no RNG state
    val most = a.count(_ % 2 == 0) / 200.0
    val few = a.count(_ % 2 == 1) / 200.0
    assert(most > 0.8 && most <= 1.0, s"keep_most rate $most")
    assert(few < 0.2, s"keep_few rate $few")
  }

  test("round-8 operators are empty-safe and degenerate-safe") {
    // DBSCAN on zero points and on a single point
    val emptyPts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
        StructField("y", DoubleType))))
    assert(graft.ml.Dbscan.dbscan(emptyPts, 5.0, 4).count() == 0)
    val onePt = {
      val s = spark; import s.implicits._
      Seq((1L, 0.0, 0.0)).toDF("id", "x", "y")
    }
    val one = graft.ml.Dbscan.dbscan(onePt, 5.0, 4).collect()
    assert(one.length == 1 && one(0).getLong(1) == -1L, "single point must be noise")

    // semantic dedup on an empty corpus
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    assert(graft.operators.Similarity
      .semanticDedup(emptyVecs, "vec_id", "embedding", cents, 0.9).count() == 0)

    // histogram percentile on empty readings and on a single-value signal
    assert(graft.plans.ZoneMap.percentileFromHistogram(
      graft.plans.ZoneMap.segmentHistogram(emptyReadings),
      Seq(0.5), 100.0).count() == 0)
    val oneVal = {
      val s = spark; import s.implicits._
      Seq((7L, 1L, 2.5, 250L)).toDF("signal_id", "seq_no", "value", "value_q")
    }
    val p = graft.plans.ZoneMap.percentileFromHistogram(
      graft.plans.ZoneMap.segmentHistogram(oneVal), Seq(0.5, 0.9), 100.0)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(p(0.5) == 2.5 && p(0.9) == 2.5,
      s"single-value signal must serve its value at every percentile: $p")

    // FCM codec single/empty handled in CodecSpec; BPE pair UDFs on
    // null/short strings
    val s2 = spark; import s2.implicits._
    val shortWords = Seq("a", "", "xy").toDF("w")
      .select(explode(graft.functions.TextOps.charPairsRaw(col("w"))).as("p"))
      .collect().map(_.getString(0))
    assert(shortWords.toSeq == Seq("xy"))
  }

  test("second-wave rollups are empty-safe and degenerate-safe") {
    val s = spark; import s.implicits._
    def rd(rows: Seq[(Long, String, Double)]) =
      rows.map { case (sig, t, v) => (sig, java.sql.Timestamp.valueOf(t), v) }
        .toDF("signal_id", "ts", "value")
        .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
        .withColumn("seq_no", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))

    // a single reading has no interval -> twa emits nothing
    assert(graft.operators.TsQueries.twaOf(
      rd(Seq((1L, "2024-01-01 00:00:00", 1.0)))).count() == 0)
    // fewer rows than the bollinger window -> nothing
    assert(graft.operators.TsQueries.bollingerOf(
      rd((0 until 5).map(i => (1L, f"2024-01-01 00:00:${i}%02d", 1.0)))).count() == 0)
    // 3 rows: lags 1-2 defined, lags >= 3 have no pairs -> null
    val acf = graft.operators.TsQueries.acfOf(
      rd(Seq((1L, "2024-01-01 00:00:00", 1.0),
        (1L, "2024-01-01 00:00:01", 3.0),
        (1L, "2024-01-01 00:00:02", 1.0)))).collect()(0)
    assert(!acf.isNullAt(acf.fieldIndex("acf_1")))
    assert(acf.isNullAt(acf.fieldIndex("acf_4")))
    // a partial trailing window still yields an m4 row with its count
    val m4 = graft.operators.TsQueries.m4Of(
      rd((0 until 20).map(i => (1L, f"2024-01-01 00:00:${i}%02d", i.toDouble))))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m4 == Map(0L -> 16L, 1L -> 4L))
    // incomplete segments never reach the HW fold (16 rows required)
    assert(graft.operators.TsQueries.hwForecastOf(
      graft.operators.Segments.complete(
        rd((0 until 10).map(i => (1L, f"2024-01-01 00:00:${i}%02d", 1.0)))))
      .count() == 0)
  }

  test("third-wave analytics are degenerate-safe") {
    val s = spark; import s.implicits._
    // monotone series: zero peaks, zero troughs
    def rd(vals: Seq[Double]) =
      vals.zipWithIndex.map { case (v, i) =>
        (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), v)
      }.toDF("signal_id", "ts", "value")
        .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
        .withColumn("seq_no", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("signal_id")).orderBy(col("ts"))).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-e3").toString
    rd((1 to 8).map(_.toDouble))
      .select(col("signal_id").as("user_id"), col("ts"), col("value"),
        monotonically_increasing_id().as("event_id"), lit("e").as("event_type"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val pk = graft.operators.TsQueries.queries("ts_peaks")(spark, tmp).collect()(0)
    assert(pk.getLong(1) == 0L && pk.getLong(2) == 0L,
      s"monotone ramp produced extrema: $pk")
    // funnel: a user who only purchases reaches no step
    val f = graft.operators.TsQueries.queries("ts_event_funnel")(spark, tmp)
      .collect()(0)
    assert(f.getLong(0) == 0L && f.getLong(3) == 0L) // no 'view' events at all
    // MAD of a constant signal is exactly 0
    val mad = graft.operators.TsQueries.queries("ts_mad")(spark, {
      val t2 = java.nio.file.Files.createTempDirectory("graft-e3b").toString
      rd(Seq.fill(6)(3.0))
        .select(col("signal_id").as("user_id"), col("ts"), col("value"),
          monotonically_increasing_id().as("event_id"), lit("e").as("event_type"),
          lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$t2/events.parquet")
      t2
    }).collect()(0)
    assert(mad.getDouble(1) == 3.0 && mad.getDouble(2) == 0.0)
  }

  test("single-doc corpus: packer emits one pack, dedup finds no pairs") {
    import spark.implicits._
    val one = Seq((0L, "just one tiny document here", "en")).toDF("doc_id", "text", "lang")
    val packs = PipelineOps.packSequences(one, 512L).collect()
    assert(packs.length == 1 && packs(0).getAs[Long]("n_docs") == 1L)
    assert(Dedup.minhashNearDup(one, 0.5).count() == 0)
    assert(PipelineOps.decontaminate(one, col("doc_id") === 0L).count() == 0)
  }

  test("round-9 operators are empty-safe and degenerate-safe") {
    val s = spark; import s.implicits._
    import graft.operators.{MotifDiscord, Tiers}
    import graft.sources.BuffStore

    val emptyR = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("signal_id", LongType), StructField("seq_no", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType),
        StructField("value_q", LongType))))

    // LRU plan: empty stats -> empty plan (the distributed prefix sum
    // tolerates zero partitions' worth of offsets)
    assert(Tiers.lruPlan(emptyR, 4, budgetBytes = 1000L, errBudget = 80.0)
      .count() == 0)

    // budget extremes on a real tiny frame: everything keeps / nothing keeps
    val rr = (1L to 32L).map { i =>
      (1L, i, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i - 1}%02d"),
        i.toDouble, i * 100L)
    }.toDF("signal_id", "seq_no", "ts", "value", "value_q")
    val all = Tiers.lruPlan(rr, 4, budgetBytes = 1L << 30, errBudget = 80.0)
    assert(all.filter(col("action") =!= "keep").count() == 0)
    val none = Tiers.lruPlan(rr, 4, budgetBytes = 0L, errBudget = 1e18)
    assert(none.filter(col("action") === "keep").count() == 0)
    assert(none.filter(col("action") === "spill").count() == 0) // err fits

    // discord/motif: empty segments -> empty on BOTH routes
    val emptySegs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("signal_id", LongType), StructField("seg", LongType),
        StructField("qvals", ArrayType(LongType)))))
    assert(MotifDiscord.discord(emptySegs).count() == 0)
    assert(MotifDiscord.motif(emptySegs).count() == 0)
    assert(MotifDiscord.discord(emptySegs, pruneAbove = 0).count() == 0)
    assert(MotifDiscord.motif(emptySegs, pruneAbove = 0).count() == 0)

    // BUFF outlier coding: empty planes -> empty data + empty dictionary,
    // and the consumers stay empty-safe
    val emptyPlanes = BuffStore.planes(emptyR, 0L, 3)
    val (encE, majE) = BuffStore.outlierEncode(emptyPlanes, 3)
    assert(encE.count() == 0 && majE.count() == 0)
    assert(BuffStore.restore(encE, majE, 3).count() == 0)
    assert(BuffStore.sumFromOutlierPlanes(encE, majE, 0L, 3).count() == 0)
  }

  test("isolation forest degenerates safely: empty points, empty subsample") {
    import spark.implicits._
    import graft.ml.IsolationForest
    val ids = Seq("signal_id", "seg")
    val fcs = Seq("f0", "f1")
    val empty = Seq.empty[(Long, Long, Double, Double)]
      .toDF("signal_id", "seg", "f0", "f1")
    // empty points: empty output, empty (but loadable) model
    assert(IsolationForest.scores(empty, ids, fcs).count() == 0)
    val m0 = IsolationForest.fit(empty, ids, fcs)
    assert(m0.levels.forall(_.isEmpty) && m0.lastNs.isEmpty && m0.cbar == 0.0)

    // non-empty points but a fit filter that admits no subsample: every
    // walk exits at the root; score is NaN (0/0 exponent) on BOTH the
    // distributed and the frozen-model path — never a crash
    val pts = Seq((1L, 0L, 1.0, 2.0), (2L, 0L, 3.0, 4.0))
      .toDF("signal_id", "seg", "f0", "f1")
    val m1 = IsolationForest.fit(pts, ids, fcs, fitFilter = lit(false))
    val (ad, ap, sc) = m1.score(Array(1.0, 2.0))
    assert(ad == 0.0 && ap == 0.0 && sc.isNaN)
    val dist = IsolationForest.scores(pts, ids, fcs, fitFilter = lit(false))
      .collect()
    assert(dist.forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0
      && r.getDouble(4).isNaN))
  }

  test("streaming near-dedup against an empty corpus flags nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.Ingest.nearDupStream(
      mem.toDF().toDF("doc_id", "ts", "text"),
      emptyDocs.select(col("doc_id"), col("text")),
      threshold = 0.5, watermark = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("near_dedup_empty").start()
    mem.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      "some words repeated some words repeated"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("near_dedup_empty").count() == 0)
  }
}
