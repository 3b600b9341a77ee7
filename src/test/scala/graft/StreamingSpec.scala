package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Ingest
import graft.operators.{Readings, Segments}

/** S1–S3 — batch/stream parity: replaying the events table through the
  * streaming pipeline must produce exactly the batch-derived state
  * (FIXTURES F6 style).
  */
class StreamingSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  private def stageInput(): String = {
    val dir = Files.createTempDirectory("graft-stream-in")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("tier-0 replay: streamed parquet equals the batch readings view") {
    val in = stageInput()
    val tier0 = Files.createTempDirectory("graft-tier0").toString + "/data"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = Ingest.tier0Writer(
      Ingest.readingsStream(spark, in), tier0, ckpt)
    q.awaitTermination()

    val streamed = spark.read.parquet(tier0)
    val batch = Readings.of(spark, sf)
    assert(streamed.count() == batch.count())
    val a = streamed.agg(sum(col("value_q")), countDistinct(col("signal_id")))
      .collect()(0)
    val b = batch.agg(sum(col("value_q")), countDistinct(col("signal_id")))
      .collect()(0)
    assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
    // partition layout: batch-id first (the idempotent-replay overwrite
    // key), signal bucket beneath it (the pruning key for reads)
    val batchDirs = new java.io.File(tier0).listFiles()
      .filter(_.getName.startsWith("batch_id="))
    assert(batchDirs.nonEmpty)
    assert(batchDirs.head.listFiles().exists(_.getName.startsWith("sig_bucket=")))
  }

  test("incremental zone-map stats fold to the batch stats exactly") {
    // stage the events table as TWO files so the run has two micro-batches
    // (maxFilesPerTrigger=1) and the stats table genuinely contains
    // partial rows for the same (signal, day) keys
    val raw = Tables.readEvents(spark, s"$sf/events.parquet")
    val in = Files.createTempDirectory("graft-stream-in2").toString
    Seq(raw.filter(col("event_id") % 2 === 0), raw.filter(col("event_id") % 2 =!= 0))
      .zipWithIndex.foreach { case (half, i) =>
        val tmp = Files.createTempDirectory(s"graft-half$i").toString
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(in, s"half$i.parquet"))
      }
    val tier0 = Files.createTempDirectory("graft-tier0s").toString + "/data"
    val stats = Files.createTempDirectory("graft-tier0s").toString + "/stats"
    val ckpt = Files.createTempDirectory("graft-ckpt-s").toString
    val q = Ingest.tier0Writer(
      Ingest.readingsStream(spark, in), tier0, ckpt,
      statsDir = Some(stats))
    q.awaitTermination()
    // two batches landed partial rows: more stats rows than folded keys
    val rawStats = spark.read.parquet(stats)
    assert(rawStats.count() >
      graft.plans.ZoneMap.foldTimeStats(rawStats).count(),
      "expected partial per-batch stats rows")

    val folded = graft.plans.ZoneMap.foldTimeStats(spark.read.parquet(stats))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    val batch = graft.plans.ZoneMap.timeStats(Readings.of(spark, sf))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(folded == batch, "partial per-batch stats do not fold to batch stats")
    // stats-only max equals the data max (the zone-map query path)
    val statsMax = graft.plans.ZoneMap.maxFromStats(spark.read.parquet(stats))
      .collect()(0).getDouble(0)
    val dataMax = spark.read.parquet(tier0).agg(max(col("value")))
      .collect()(0).getDouble(0)
    assert(statsMax == dataMax)
  }

  test("incremental percentile-sketch cells fold to the batch histogram and serve exact percentiles") {
    val raw = Tables.readEvents(spark, s"$sf/events.parquet")
    val in = Files.createTempDirectory("graft-stream-inh").toString
    Seq(raw.filter(col("event_id") % 2 === 0), raw.filter(col("event_id") % 2 =!= 0))
      .zipWithIndex.foreach { case (half, i) =>
        val tmp = Files.createTempDirectory(s"graft-hhalf$i").toString
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(in, s"half$i.parquet"))
      }
    val base = Files.createTempDirectory("graft-tier0h").toString
    val q = Ingest.tier0Writer(
      Ingest.readingsStream(spark, in), s"$base/data", s"$base/ckpt",
      histDir = Some(s"$base/hist"))
    q.awaitTermination()
    val cells = spark.read.parquet(s"$base/hist")
    // two batches → partial cells for shared (signal, day, value_q) keys
    assert(cells.count() > graft.plans.ZoneMap.foldHistogram(cells).count(),
      "expected partial per-batch histogram cells")
    // fold equals the batch histogram exactly
    val folded = graft.plans.ZoneMap.foldHistogram(cells)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.plans.ZoneMap
      .foldHistogram(graft.plans.ZoneMap.segmentHistogram(Readings.of(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(folded == batch, "streamed cells do not fold to the batch histogram")
    // and the persisted sketch serves the exact percentile
    val served = graft.plans.ZoneMap
      .percentileFromHistogram(cells, Seq(0.5), scale = 100.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val exact = Readings.of(spark, sf).groupBy(col("signal_id"))
      .agg(expr("percentile(value_q / 100.0, 0.5)").as("p50"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    exact.foreach { case (sig, v) =>
      assert(math.abs(served(sig) - v) < 1e-6, s"sketch p50 off for signal $sig")
    }
  }

  test("stream segmentation matches batch complete segments") {
    val in = stageInput()
    import spark.implicits._
    val segStream = Ingest.segmentStream(spark, in, Readings.SegmentRows.toInt)
    val q = segStream.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("segs_parity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("segs_parity")
      .select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (s, g, v) => (s, g) -> v }.toMap
    val batch = Segments.complete(Readings.of(spark, sf))
      .select(col("signal_id"), col("seg"), col("values"))
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (s, g, v) => (s, g) -> v }.toMap

    assert(streamed.keySet == batch.keySet, "segment key sets differ")
    streamed.foreach { case (k, v) => assert(v == batch(k), s"segment $k differs") }
  }

  /** Stage the events table as FOUR files quartiled by global
    * (ts, event_id) order with ascending modification times: arrival
    * order across micro-batches then matches seq_no order, so the
    * streamed segmentation equals the batch segmentation and profile
    * parity is end-to-end.
    */
  private def stageTiles(): String = {
    val raw = Tables.readEvents(spark, s"$sf/events.parquet")
    val tiled = raw.withColumn("tile",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    stageFiles((1 to 4).map(t => tiled.filter(col("tile") === t).drop("tile")))
  }

  test("streamed incremental matrix profile equals the batch profile") {
    import graft.operators.MotifDiscord
    val in = stageTiles()
    val work = Files.createTempDirectory("graft-mp-work").toString
    val q = Ingest.profileStream(spark, in, work,
      Readings.SegmentRows.toInt, maxFilesPerTrigger = 1)
    q.awaitTermination()
    // >= 2 snapshots: the incremental path (not a single full build) ran
    val snaps = new java.io.File(s"$work/profile").listFiles()
      .filter(_.getName.startsWith("batch_id="))
    assert(snaps.length >= 2, s"expected multiple micro-batches, got ${snaps.length}")
    val snap = Ingest.readProfile(spark, work).collect()
    // budget-clean data: every signal routes exact, and the snapshot says so
    assert(snap.forall(_.getBoolean(3)),
      "budget-clean signals must carry exact=true in the snapshot")
    val streamed = snap.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = MotifDiscord.profile(
        Segments.completeQuantized(Readings.of(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streamed profile (${streamed.size}) != batch profile (${batch.size})")
  }

  test("snapshot retention prunes old profile/state dirs and the served profile stays exact") {
    import graft.operators.MotifDiscord
    val in = stageTiles()
    val work = Files.createTempDirectory("graft-mp-ret").toString
    val q = Ingest.profileStream(spark, in, work,
      Readings.SegmentRows.toInt, maxFilesPerTrigger = 1,
      retainSnapshots = 1)
    q.awaitTermination()
    // 4 micro-batches, retain=1: after batch 3 the cutoff is 2, so only
    // snapshot dirs batch_id=2 and batch_id=3 may remain for profile AND
    // state; the segment store keeps ALL batch dirs (it is the data)
    def ids(sub: String): Set[Long] =
      new java.io.File(s"$work/$sub").listFiles()
        .filter(_.getName.startsWith("batch_id="))
        .map(_.getName.stripPrefix("batch_id=").toLong).toSet
    assert(ids("profile") == Set(2L, 3L),
      s"profile snapshots not pruned to the retention window: ${ids("profile")}")
    assert(ids("state") == Set(2L, 3L),
      s"state snapshots not pruned to the retention window: ${ids("state")}")
    assert(ids("segs") == Set(0L, 1L, 2L, 3L),
      s"the segment store must never be pruned: ${ids("segs")}")
    // the newest retained snapshot is the full, exact profile
    val streamed = Ingest.readProfile(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = MotifDiscord.profile(
        Segments.completeQuantized(Readings.of(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"retained snapshot (${streamed.size}) != batch profile (${batch.size})")
  }

  test("a profileStream batch that seals no segment lands no segment batch, and the next batch folds on") {
    import graft.operators.MotifDiscord
    val raw = Tables.readEvents(spark, s"$sf/events.parquet")
    val halves = raw.withColumn("half", ntile(2).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    // three readings of a signal the events do not hold: a segment seals
    // at 16, so the middle batch lands no segment
    val stray = raw.limit(3).withColumn("user_id", lit(-1L).cast(raw.schema("user_id").dataType))
    val in = stageFiles(Seq(halves.filter(col("half") === 1).drop("half"), stray,
      halves.filter(col("half") === 2).drop("half")))
    val work = Files.createTempDirectory("graft-mp-empty").toString
    Ingest.profileStream(spark, in, work, Readings.SegmentRows.toInt,
      maxFilesPerTrigger = 1).awaitTermination()
    assert(new graft.sources.BatchStore(spark, s"$work/segs").ids.toSeq == Seq(0L, 2L))
    val streamed = Ingest.readProfile(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = MotifDiscord.profile(
        Segments.completeQuantized(Readings.of(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streamed profile (${streamed.size}) != batch profile (${batch.size})")
  }

  test("periodic route-state rebuild fires mid-stream, re-salts the group identities, and the profile stays exact") {
    import graft.operators.MotifDiscord
    val in = stageTiles()
    val work = Files.createTempDirectory("graft-mp-rebuild").toString
    // 4 micro-batches with rebuildEvery=2: batch 2 bypasses the fold and
    // rebuilds from the landed segments under salt=2, batch 3 folds onto
    // the rebuilt state
    val q = Ingest.profileStream(spark, in, work,
      Readings.SegmentRows.toInt, maxFilesPerTrigger = 1, rebuildEvery = 2)
    q.awaitTermination()
    val st = spark.read.parquet(s"$work/state/batch_id=3")
    val salt = st.agg(max(col("salt"))).head().getLong(0)
    assert(salt == 2L, s"rebuild salt not persisted through the fold: $salt")
    // the re-salted state folded through batch 3 equals a fresh batch
    // derivation from ALL landed segments under the same salt: group
    // identity (h, cnt, s0) and the per-signal threshold agree exactly
    val landed = spark.read.parquet(s"$work/segs")
      .select(col("signal_id"), col("seg"), col("qvals"))
    val fresh = MotifDiscord.routeStateOf(landed,
      Ingest.readProfile(spark, work), salt = 2L).localCheckpoint()
    def grpSet(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kind") === "grp")
        .select(col("signal_id"), col("h"), col("cnt"), col("s0"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(grpSet(st) == grpSet(fresh),
      "folded-after-rebuild groups must equal the batch-derived state")
    def sigMap(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("kind") === "sig")
        .select(col("signal_id"), col("m"), col("t"), col("last_seg"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
    assert(sigMap(st) == sigMap(fresh),
      "folded-after-rebuild signal scalars must equal the batch-derived state")
    // end-to-end: the served profile is still the exact batch profile
    val streamed = Ingest.readProfile(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = MotifDiscord.profile(
        Segments.completeQuantized(Readings.of(spark, sf)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"rebuild run's profile (${streamed.size}) != batch (${batch.size})")
  }

  /** 600 DISTINCT near-identical segments of one signal (one position
    * bumped by an exactly-representable 0.25 step), staged as two
    * 300-segment files: over any 10k pair budget from the FIRST
    * micro-batch (300 segments > pruneAbove, one grid cell). Returns the
    * input dir and the raw events.
    */
  private def stageDense(): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val segRows = Readings.SegmentRows.toInt
    val nSegs = 600
    val raw = (0 until nSegs * segRows).map { i =>
      val k = i / segRows; val j = i % segRows
      val bump = if (j == k % segRows) 0.25 * (1 + k) else 0.0
      (900000000L + i,
        new java.sql.Timestamp(1700000000000L + i.toLong),
        424242L, 42.0 + bump)
    }.toDF("event_id", "ts", "user_id", "value")
    val in = stageFiles(Seq((0, nSegs / 2), (nSegs / 2, nSegs)).map { case (lo, hi) =>
      raw.filter(col("event_id") >= 900000000L + lo * segRows &&
        col("event_id") < 900000000L + hi * segRows)
    })
    (in, raw)
  }

  test("streamed profile on a dense signal under a tight budget equals the batch-routed profileAuto") {
    import graft.operators.MotifDiscord
    val segRows = Readings.SegmentRows.toInt
    // every batch folds the incremental sampled bound and the final
    // snapshot must EQUAL the batch profileAuto — the append-stable
    // reference rule is what makes this an equality, not just a bound
    val (in, raw) = stageDense()
    val work = Files.createTempDirectory("graft-dense-work").toString
    val q = Ingest.profileStream(spark, in, work, segRows,
      maxFilesPerTrigger = 1, budget = 10000L)
    q.awaitTermination()
    val streamed = Ingest.readProfile(spark, work).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(streamed.values.forall(!_._2),
      "dense-routed rows must carry exact=false into the snapshot")
    // batch twin over the same fixed-point mapping
    val segs = raw
      .withColumn("seg", floor(
        (col("event_id") - 900000000L) / segRows).cast("long"))
      .groupBy(col("user_id").as("signal_id"), col("seg"))
      .agg(sort_array(collect_list(struct(col("event_id"), col("value"))))
        .as("rows"))
      .select(col("signal_id"), col("seg"),
        transform(col("rows"), r => floor(r("value") * lit(100)).cast("long"))
          .as("qvals"))
    val batch = MotifDiscord.profileAuto(segs, budget = 10000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(streamed == batch,
      s"streamed dense profile (${streamed.size}) != batch profileAuto (${batch.size})")
  }

  /** Work counters of ONE profileStream micro-batch: the stream runs
    * over every staged file but the last, then restarts on the same work
    * dir with the last file added, and only that restart is measured.
    * Returns the counters and the batch's profile snapshot.
    */
  private def oneBatch(in: String, budget: Long)
      : (Map[String, Long], Array[org.apache.spark.sql.Row]) = {
    val parts = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val held = Files.createTempDirectory("graft-stream-held")
    val last = parts.last
    val mtime = last.lastModified()
    Files.move(last.toPath, held.resolve(last.getName))
    val work = Files.createTempDirectory("graft-mp-one").toString
    def run(): Unit = Ingest.profileStream(spark, in, work,
      Readings.SegmentRows.toInt, maxFilesPerTrigger = 1, budget = budget)
      .awaitTermination()
    run()
    val back = Files.move(held.resolve(last.getName), last.toPath)
    back.toFile.setLastModified(mtime)
    val c = counters(run())
    val snap = spark.read.parquet(s"$work/profile/batch_id=${parts.length - 1}")
      .collect()
    (c, snap)
  }

  /** One batch's jobs and tasks on each lane, as measured (the same on
    * three runs, 4 cores) once the profile, state and segment stores were
    * micro-batch stores and an aggregate over one split ran without a
    * shuffle: the bounds that keep later changes from adding work unseen.
    */
  private val FastLaneJobs = 17L
  private val FastLaneTasks = 46L
  private val GatedJobs = 35L
  private val GatedTasks = 68L

  test("one profileStream batch runs no more jobs or tasks than pinned, on the fast lane and on the probe-gated path") {
    val (fast, fastSnap) = oneBatch(stageTiles(), graft.operators.MotifDiscord.RouteBudget)
    assert(fastSnap.forall(_.getBoolean(3)), "the fast-lane batch must stay exact")
    assert(fast("jobs") <= FastLaneJobs && fast("tasks") <= FastLaneTasks,
      s"fast-lane batch: $fast")
    // the dense signal: 300 prior + 300 new segments cannot certify the
    // member route, so the batch waits for the folded state and its probe
    val (gated, gatedSnap) = oneBatch(stageDense()._1, 10000L)
    assert(gatedSnap.forall(!_.getBoolean(3)), "the dense batch must fold the sampled bound")
    assert(gated("jobs") <= GatedJobs && gated("tasks") <= GatedTasks,
      s"probe-gated batch: $gated")
    info(s"fast lane ${fast("jobs")} jobs / ${fast("tasks")} tasks, " +
      s"probe-gated ${gated("jobs")} jobs / ${gated("tasks")} tasks")
  }

  test("streamed iforest scores against a frozen model equal the batch scores") {
    val in = stageInput()
    import spark.implicits._
    import graft.ml.IsolationForest
    val feats = IsolationForest.paaFeatures(Readings.of(spark, sf))
    val model = IsolationForest.fit(feats, Seq("signal_id", "seg"),
      Seq("f0", "f1", "f2", "f3"))
    val q = Ingest.iforestStream(spark, in, model)
      .writeStream.outputMode("append").format("memory")
      .queryName("iforest_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("iforest_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val batch = IsolationForest.scores(feats, Seq("signal_id", "seg"),
      Seq("f0", "f1", "f2", "f3")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, v) => assert(v == batch(k), s"segment $k") }
  }

  test("streamed bandit rewards equal the batch reward job on complete segments") {
    val in = stageInput()
    import spark.implicits._
    val q = Ingest.rewardStream(spark, in, Readings.SegmentRows.toInt)
      .writeStream.outputMode("append").format("memory")
      .queryName("reward_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("reward_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val batch = graft.ml.Bandit.recodeRewardInputs(Readings.of(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    // the stream emits only COMPLETE segments; each must match batch
    assert(streamed.nonEmpty)
    assert(streamed.keySet.subsetOf(batch.keySet))
    streamed.foreach { case (k, v) => assert(v == batch(k), s"rewards differ at $k") }
    // and completeness: every complete batch segment is present
    val complete = Segments.complete(Readings.of(spark, sf))
      .select(col("signal_id"), col("seg"))
      .as[(Long, Long)].collect().toSet
    assert(streamed.keySet == complete)
  }

  test("streaming policy daemon: stream-chosen arms equal the batch walk, and decisions drive the tier action") {
    import spark.implicits._
    val in = stageInput()
    val root = Files.createTempDirectory("graft-policy").toString
    val decisions = s"$root/decisions"
    val q = Ingest.policyStream(spark, in, Readings.SegmentRows.toInt,
      decisions, s"$root/ckpt")
    q.awaitTermination()

    // single-batch replay arrives in global (signal_id, seg) order, so the
    // streamed decisions must equal the batch replay walk EXACTLY — over
    // the same decision stream: the stream decides COMPLETE segments only
    // (a daemon decides a segment when it seals), so the batch side walks
    // the readings restricted to complete segments
    val streamed = spark.read.parquet(decisions)
      .select(col("step"), col("codec"), col("explored"), col("reward"),
        col("q_after"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val completeReadings = Readings.of(spark, sf)
      .withColumn("seg", Readings.segmentId(col("seq_no")))
      .join(Segments.complete(Readings.of(spark, sf))
          .select(col("signal_id"), col("seg")),
        Seq("signal_id", "seg"), "left_semi")
      .drop("seg")
    val batch = graft.ml.Bandit.recodeReplay(completeReadings)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "stream-chosen arms diverge from the batch walk")
    // Q state persisted for restart
    assert(spark.read.parquet(s"$decisions.qstate").count() == 1)

    // the action half: chosen paa_4 segments are demoted to the chunk tier
    val tm = new graft.operators.TierManager(spark,
      Files.createTempDirectory("graft-policy-tiers").toString)
    tm.landTier0(Readings.of(spark, sf))
    tm.compactToQuantized(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
    val dec = spark.read.parquet(decisions)
    tm.applyPaaDecisions(dec, arm = "paa_4", w = 4)
    val chosen = dec.filter(col("codec") === "paa_4")
      .select(col("signal_id"), col("seg")).distinct()
      .as[(Long, Long)].collect().toSet
    val demoted = spark.read.parquet(tm.tier2)
      .select(col("signal_id"),
        floor(col("chunk") * 4.0 / Readings.SegmentRows.toDouble)
          .cast("long").as("seg"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(chosen.nonEmpty && demoted == chosen,
      s"tier2 segments != policy-chosen segments (${demoted.size} vs ${chosen.size})")

    // continuation across micro-batches: a second file arriving later
    // continues the SAME walk (steps keep increasing, state accrues)
    val n1 = streamed.length
    val more = Tables.readEvents(spark, s"$sf/events.parquet")
      .withColumn("event_id", col("event_id") + 1000000L)
    more.coalesce(1).write.mode("overwrite").parquet(s"$root/more")
    val part = new java.io.File(s"$root/more").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(in, "more.parquet"))
    val q2 = Ingest.policyStream(spark, in, Readings.SegmentRows.toInt,
      decisions, s"$root/ckpt")
    q2.awaitTermination()
    val all = spark.read.parquet(decisions)
    assert(all.count() > n1, "second batch produced no decisions")
    assert(all.select(countDistinct(col("step"))).collect()(0).getLong(0)
      == all.count(), "steps are not unique across batches")
    assert(all.agg(max(col("step"))).collect()(0).getLong(0) == all.count(),
      "the walk did not continue from the persisted state")
  }

  test("policy restart: a missing Q state starts a fresh walk, an unreadable one fails loudly") {
    val in = stageInput()
    val root = Files.createTempDirectory("graft-policy-restart").toString
    // missing state directory = first run: the walk starts from Q0 at step 1
    val fresh = s"$root/fresh"
    assert(!new java.io.File(s"$fresh.qstate").exists())
    Ingest.policyStream(spark, in, Readings.SegmentRows.toInt, fresh,
      s"$root/ckpt_fresh").awaitTermination()
    val steps = spark.read.parquet(fresh).agg(min(col("step")), max(col("step")),
      count(lit(1))).first()
    assert(steps.getLong(0) == 1L && steps.getLong(1) == steps.getLong(2),
      s"a first run did not start a fresh walk: $steps")
    assert(spark.read.parquet(s"$fresh.qstate").count() == 1L)

    // a state directory that exists but cannot be read must not be taken
    // for a first run: the start fails, and no decision is written
    val broken = s"$root/broken"
    Files.createDirectories(Paths.get(s"$broken.qstate"))
    Files.write(Paths.get(s"$broken.qstate", "part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      Ingest.policyStream(spark, in, Readings.SegmentRows.toInt, broken,
        s"$root/ckpt_broken").awaitTermination()
    }
    assert(!new java.io.File(broken).exists(),
      "decisions were written from a silently restarted walk")
  }

  test("streamed anomaly flags equal the batch seasonal-anomaly query") {
    val in = stageInput()
    import spark.implicits._
    val batchReadings = Readings.of(spark, sf).withColumn("hod", hour(col("ts")))
    val baselines = graft.operators.TsQueries.seasonalBaseline(batchReadings)
    val q = Ingest.anomalyStream(spark, in, baselines)
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("signal_id"), r.getAs[Int]("hod"),
        r.getAs[Double]("value"), r.getAs[Double]("z"))
    val streamed = spark.table("anomaly_stream").collect().map(key).sorted
    val batch = graft.SparkEntry.queries("ts_seasonal_anomaly")(spark, sf)
      .collect().map(key).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch), "stream/batch anomaly sets differ")
  }

  test("generator client: rate-micro-batch signals are deterministic and segment cleanly") {
    import spark.implicits._
    val gen = Ingest.generatedSignals(spark, rowsPerBatch = 640, nSignals = 4)
    val q = gen.writeStream.outputMode("append").format("memory")
      .queryName("gen_signals").start()
    try {
      // a rate source never drains; poll until at least one batch landed
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("gen_signals").isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q.stop()
    val rows = spark.table("gen_signals")
    val n = rows.count()
    assert(n >= 640, s"expected at least one batch, got $n")
    assert(rows.select(countDistinct(col("signal_id"))).collect()(0).getLong(0) == 4)
    // deterministic: value is a pure function of the row index
    val vals = rows.filter(col("event_id") === 7L).select(col("value"))
      .as[Double].collect().toSet
    assert(vals.size == 1)
    // ingestion throughput metric (reference future_signal.rs:134): >0 pts/s
    val eps = rows.count().toDouble
    assert(eps > 0)
  }

  test("streaming windowed max with watermark runs and matches batch") {
    val in = stageInput()
    val q = Ingest.windowedMax(
      Ingest.readingsStream(spark, in), "1 day", "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wmax_parity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("wmax_parity").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val batch = graft.operators.TsQuery.windowAggTime(Readings.of(spark, sf), "1 day")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(streamed == batch)
  }

  test("streaming session windows match the batch ts_session aggregation") {
    val in = stageInput()
    val q = Ingest.sessionStream(
      Ingest.readingsStream(spark, in), "12 hours", "1 hour")
      .writeStream.outputMode("complete").format("memory")
      .queryName("session_parity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("session_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val batch = graft.operators.TsQueries.queries("ts_session")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(streamed == batch)
  }

  test("late data beyond the watermark is dropped from windowed aggregation") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(hm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val readings = mem.toDF().toDF("signal_id", "ts", "value")
    val q = Ingest.windowedMax(readings, "10 minutes", "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("late_wm").start()
    try {
      mem.addData((1L, t("00:02"), 5.0))
      q.processAllAvailable()
      // watermark advances to 00:25 -> window [00:00, 00:10) closes+emits
      mem.addData((1L, t("00:30"), 1.0))
      q.processAllAvailable()
      // a LATE row for the closed window with a higher value: dropped
      mem.addData((1L, t("00:03"), 99.0))
      q.processAllAvailable()
      mem.addData((1L, t("00:50"), 1.0))
      q.processAllAvailable()
      val w0 = t("00:00").getTime / 1000
      val emitted = spark.table("late_wm").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(emitted.contains(w0), s"window at $w0 never emitted: $emitted")
      assert(emitted(w0) == (5.0, 1L),
        s"late 99.0 leaked into the closed window: ${emitted(w0)}")
    } finally q.stop()
  }

  test("mixture gate is stateless: streamed sample equals the batch sample") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val w = Seq(("s0", 0.9), ("s1", 0.1)).toDF("source", "weight")
    val rows = (0 until 200).map(i =>
      (i.toLong, s"doc $i", "en", if (i % 2 == 0) "s0" else "s1"))
    val mem = MemoryStream[(Long, String, String, String)]
    val streamed = graft.operators.PipelineOps.mixtureSample(
      mem.toDF().toDF("doc_id", "text", "lang", "source"), w)
    val q = streamed.writeStream.outputMode("append").format("memory")
      .queryName("mixture_parity").start()
    mem.addData(rows.take(100): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(100): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mixture_parity").select(col("doc_id"))
      .as[Long].collect().toSet
    val batch = graft.operators.PipelineOps.mixtureSample(
      rows.toDF("doc_id", "text", "lang", "source"), w)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got == batch) // the hash gate has no state: same docs either way
  }

  test("streaming dedup: first occurrence wins, state bounded by watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = Ingest.dedupStream(docs, "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    // batch 1: a, b, dup-of-a (same text); batch 2: dup-of-b within the
    // watermark horizon plus a genuinely new doc c
    mem.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"), (3L, ts(2), "alpha"))
    q.processAllAvailable()
    mem.addData((4L, ts(3), "beta"), (5L, ts(4), "gamma"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_stream").select(col("doc_id"))
      .as[Long].collect().toSet
    // exactly one survivor per distinct text; within a micro-batch the
    // first-arriving row wins, and batch-2 duplicates of batch-1 state drop
    assert(kept.size == 3, s"expected 3 survivors, got $kept")
    assert(kept.contains(5L) && !kept.contains(4L) && !kept.contains(3L))
    assert(kept.intersect(Set(1L, 2L)).size == 2)
    // parity with the batch operator on the same rows
    val batchDocs = Seq((1L, ts(0), "alpha"), (2L, ts(1), "beta"),
      (3L, ts(2), "alpha"), (4L, ts(3), "beta"), (5L, ts(4), "gamma"))
      .toDF("doc_id", "ts", "text")
    val batchKept = batchDocs.withColumn("content_hash", xxhash64(col("text")))
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept == batchKept)
  }

  test("streaming window xent equals the batch computation, OOV hits the smoothing floor") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200).select(col("text"))
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // window 1: high-frequency corpus tokens; window 2: OOV junk
    val feed = Seq(
      (1L, ts(0), "sort order column window agg part join"),
      (2L, ts(1), "scan group the filter value key a"),
      (3L, ts(11), "zzqx vvkw qqjj zzqx wwxx"),
      (4L, ts(12), "qqzz wwvv kkxx jjyy"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = Ingest.xentStream(mem.toDF().toDF("doc_id", "ts", "text"),
      corpus, width = "10 minutes", watermark = "1 hour")
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("xent_stream").start()
    mem.addData(feed.take(2): _*); q.processAllAvailable()
    mem.addData(feed.drop(2): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("xent_stream").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // batch parity: the same pipeline over the same rows, batch-built
    val batch = Ingest.xentStream(
      feed.toDF("doc_id", "ts", "text"), corpus,
      width = "10 minutes", watermark = "1 hour").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed === batch)
    assert(streamed.size === 2)
    // the OOV window must score strictly worse (higher xent)
    val Seq(w0, w1) = streamed.keys.toSeq.sorted
    assert(streamed(w1)._2 > streamed(w0)._2,
      s"OOV window should have higher xent: $streamed")
  }

  test("per-row streaming signature equals the batch MinHash aggregator") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(100)
    val sets = Dedup.shingleSets(docs)
    val batchSigs = Dedup.minhashSignatures(sets)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rowSigs = sets
      .as[(Long, Seq[Long])]
      .map { case (id, hs) => (id, Dedup.signatureOfHashes(hs)) }
      .collect().toMap
    assert(rowSigs.keySet === batchSigs.keySet)
    for ((id, sig) <- rowSigs) assert(sig === batchSigs(id), s"doc $id")
  }

  test("streaming near-dedup flags cross-corpus pairs exactly as the batch LSH") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (corpusRows, streamRows) = all.partition(_._1 % 2 == 0)
    val corpus = corpusRows.toSeq.toDF("doc_id", "text")

    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(id: Long) = new java.sql.Timestamp(ts0.getTime + id * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = Ingest.nearDupStream(
      mem.toDF().toDF("doc_id", "ts", "text"), corpus,
      threshold = 0.5, watermark = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("near_dedup_stream").start()
    val feed = streamRows.toSeq.map { case (id, t) => (id, ts(id), t) }
    val (b1, b2) = feed.splitAt(feed.size / 2)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("near_dedup_stream")
      .select(col("doc_id"), col("dup_of"), col("jac")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // ground truth: the batch LSH operator over the full corpus,
    // restricted to odd-vs-even pairs, oriented (stream doc, corpus doc)
    val batch = graft.operators.Dedup.minhashNearDup(
      all.toSeq.toDF("doc_id", "text"), 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .collect { case (a, b, j) if a % 2 != b % 2 =>
        if (a % 2 == 1) (a, b, j) else (b, a, j) }.toSet
    assert(got === batch)
    assert(got.nonEmpty, "fixture must actually contain cross-split near-dups")
  }

  private type Doc = (Long, String, String, String, Long)

  /** 60 documents of the test corpus: (doc_id, text, lang, source, n_chars). */
  private def baseDocs(): Seq[Doc] =
    graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")).limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  /** Near-duplicates of `b0` (a salt prefix), under fresh doc ids. */
  private def salted(b0: Seq[Doc]): Seq[Doc] =
    b0.map { case (id, t, l, s, n) => (id + 1000000L, "growsalt " + t, l, s, n + 9L) }

  /** Stages one parquet file per batch, in arrival order. */
  private def stageDocs(batches: Seq[Doc]*): String = {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-dg-in").toString
    batches.zipWithIndex.foreach { case (rows, k) =>
      val tmp = Files.createTempDirectory(s"graft-dg-tmp$k").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, f"batch_$k%03d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 60000L)
    }
    in
  }

  test("dedup growth stream: each batch probes the landed store, then lands") {
    import spark.implicits._
    // three staged batch files: batch 1 near-dups batch 0 (salt prefix),
    // batch 2 is unrelated text — its probe must flag nothing
    val b0 = baseDocs()
    val in = stageDocs(b0, salted(b0), b0.map { case (id, _, l, s, _) =>
      (id + 2000000L, s"totally unrelated content block number $id " +
        s"with nothing shared across any shingle window $id $id", l, s, 0L) })
    val work = Files.createTempDirectory("graft-dg-store").toString
    val q = Ingest.dedupGrowStream(spark, in, s"$work/st", threshold = 0.5,
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    // the stores landed all three batches' bands + element sets
    val store = spark.read.parquet(s"$work/st/bands")
    assert(store.select("doc_id").distinct().count() == 3 * b0.size)
    assert(spark.read.parquet(s"$work/st/sets")
      .select("doc_id").distinct().count() == 3 * b0.size)
    // confirmed output pins against the BATCH path: near-dup pairs of
    // (b0 union b1) restricted to cross-batch (the growth stream only
    // flags new-vs-landed) must equal the landed pairs store exactly —
    // candidate generation uses the same per-doc band hashes and the
    // confirm the same exact Jaccard
    val b1 = salted(b0)
    val batchPairs = graft.operators.Dedup.minhashNearDup(
      (b0 ++ b1).toDF("doc_id", "text", "lang", "source", "n_chars"), 0.5)
      .where(col("doc_a") < 1000000L && col("doc_b") >= 1000000L)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"), col("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val landedPairs = spark.read.parquet(s"$work/st/pairs")
      .select("doc_id", "dup_of", "jac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(landedPairs == batchPairs,
      s"growth-confirmed pairs diverge from the batch path " +
        s"(${landedPairs.size} vs ${batchPairs.size})")
    assert(landedPairs.nonEmpty, "fixture must actually confirm near-dups")
    // batch 2 (unrelated text) must confirm nothing
    assert(!landedPairs.exists(_._1 >= 2000000L),
      "unrelated batch must not confirm any pair")
  }

  /** The lost-commit replay check every streaming sink passes. `run(root)`
    * runs the sink to the end over input staged as at least two files
    * (one micro-batch each), with its stores and its checkpoint
    * (`root/<checkpoint>`) under `root`; `stores(root)` names the frames
    * to compare. One root runs clean. The other runs, loses its newest
    * commit entry (a crash after the batch's writes and before Spark
    * commits it), and restarts in a fresh sink call: the replayed batch
    * must commit, and every frame must equal the clean run's row for row.
    */
  private def assertReplaySafe(batches: Int, checkpoint: String = "_chk")(
      run: String => Unit)(stores: String => Seq[(String, DataFrame)]): Unit = {
    val work = Files.createTempDirectory("graft-replay").toString
    val (clean, crashed) = (s"$work/clean", s"$work/crashed")
    run(clean)
    run(crashed)
    val commits = new java.io.File(s"$crashed/$checkpoint/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .maxBy(_.toLong)
    assert(last.toLong == batches - 1, s"expected $batches committed batches, newest $last")
    assert(new java.io.File(commits, last).delete())
    new java.io.File(commits, s".$last.crc").delete()
    run(crashed)
    assert(new java.io.File(commits, last).exists(), "the replayed batch was not committed")
    def rows(df: DataFrame): Seq[String] = cells(df).map(_.mkString("|")).sorted
    for (((name, a), (_, b)) <- stores(clean).zip(stores(crashed))) {
      val (c, r) = (rows(a), rows(b))
      assert(c.nonEmpty, s"the fixture must land $name rows")
      assert(r == c, s"$name after the replay (${r.size} rows) differs " +
        s"from the uninterrupted run (${c.size} rows)")
    }
  }

  /** Each frame as one parquet file under a fresh input dir, with
    * ascending modification times: one micro-batch per frame, in order.
    */
  private def stageFiles(parts: Seq[DataFrame]): String = {
    val in = Files.createTempDirectory("graft-stream-parts").toString
    parts.zipWithIndex.foreach { case (df, k) =>
      val tmp = Files.createTempDirectory(s"graft-stream-part$k").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, s"part$k.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + k * 60000L)
    }
    in
  }

  private def parquetStores(names: String*)(root: String): Seq[(String, DataFrame)] =
    names.map(n => n -> spark.read.parquet(s"$root/$n"))

  test("dedup growth stream: a batch replayed after a lost commit leaves every store equal to an uninterrupted run") {
    val b0 = baseDocs()
    val in = stageDocs(b0, salted(b0))
    assertReplaySafe(batches = 2)(root => Ingest.dedupGrowStream(spark, in, root,
      threshold = 0.5, maxFilesPerTrigger = 1).awaitTermination())(
      parquetStores("bands", "sets", "pairs"))
  }

  test("policy stream: a batch replayed after a lost commit restarts, and decisions and Q state equal an uninterrupted run") {
    // the events as three files, one micro-batch each; the replayed batch
    // finds its own decisions and Q state already landed
    val raw = Tables.readEvents(spark, s"$sf/events.parquet")
    val in = stageFiles((0 until 3).map(k => raw.filter(col("event_id") % 3 === k)))
    assertReplaySafe(batches = 3)(root => Ingest.policyStream(spark, in,
      Readings.SegmentRows.toInt, s"$root/decisions", s"$root/_chk").awaitTermination()) {
      root =>
        assert(spark.read.parquet(s"$root/decisions.qstate").count() == 3,
          "expected one Q state row per batch")
        parquetStores("decisions", "decisions.qstate")(root)
    }
  }

  test("tier-0 writer: a batch replayed after a lost commit leaves data, stats and histogram equal to an uninterrupted run") {
    val in = stageTiles()
    assertReplaySafe(batches = 4)(root => Ingest.tier0Writer(
      Ingest.readingsStream(spark, in), s"$root/data", s"$root/_chk",
      statsDir = Some(s"$root/stats"), histDir = Some(s"$root/hist")).awaitTermination())(
      parquetStores("data", "stats", "hist"))
  }

  test("profile stream: a batch replayed after a lost commit leaves segments, profile, state and the served profile equal to an uninterrupted run") {
    // the restart is a fresh profileStream call in this JVM, so it also
    // re-derives the carried scalars (maxMAll, allExactAll, stateSalt)
    // from the stores: this is the in-process failure case too
    val in = stageTiles()
    assertReplaySafe(batches = 4, checkpoint = "ckpt")(root => Ingest.profileStream(spark,
      in, root, Readings.SegmentRows.toInt, maxFilesPerTrigger = 1).awaitTermination()) {
      root =>
        parquetStores("segs", "profile", "state")(root) :+
          ("readProfile" -> Ingest.readProfile(spark, root))
    }
  }

  test("IVF append stream: a batch replayed after a lost commit leaves the store and its top-k equal to an uninterrupted run") {
    import graft.operators.Ivf
    import graft.sources.IvfStore
    val emb = Tables.embeddings(spark, sf)
    val index = Ivf(emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq)
    val in = stageFiles(Seq(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0)))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    assertReplaySafe(batches = 2)(root => IvfStore.appendStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(in),
      "vec_id", "embedding", index.centroids, s"$root/store", s"$root/_chk")
      .awaitTermination()) { root =>
      parquetStores("store")(root) :+
        ("topK" -> IvfStore.topK(spark, s"$root/store", probes, 10, index.centroids, 4))
    }
  }
}
