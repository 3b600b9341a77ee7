package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Benchmark main. With no arguments it times every registered query at
  * SPARK_GRAFT_SF_DIR and prints ONE machine-readable JSON line on stdout.
  *
  * - Each query runs SPARK_GRAFT_REPS times (default 3). Each rep records
  *   its wall time and the work it did: what one SparkListener sees (jobs,
  *   stages, tasks, shuffle bytes, input records, executor CPU) plus the
  *   bench thread's own CPU.
  * - Each row is checked against the prior taken under the same [[Key]]
  *   (see [[regressions]]); wall time (`t`, the median, with mean/sd) is
  *   evidence, never the gate. Priors live in the keyed store
  *   SPARK_GRAFT_BENCH_OUT (default BENCH_QUERIES.json) — see [[merge]].
  * - `*_tier` variants read the PERSISTED ingest tier (seq_no/value_q
  *   landed once, untimed): the per-query cost excludes the seq_no
  *   derivation shuffle that ingest pays once at scale, and scans get
  *   parquet filter pushdown end-to-end.
  *
  * Modes `dedup-growth <in> <work>`, `profile-growth <in> <work>` and
  * `fit <sf>` print one JSON line each instead: see [[dedupGrowth]],
  * [[profileGrowth]] and [[fit]].
  */
object Bench {
  /** The counters compared against the prior. Input records and shuffle
    * bytes are recorded but not gated: they moved between back-to-back
    * sweeps of one build (by < 0.2 % on 1-3 of 258 rows).
    */
  val Gated = Seq("jobs", "stages", "tasks")

  /** A row as the store keeps it: median wall and CPU seconds, and the
    * counters every rep repeated exactly (only those can be gated).
    */
  case class Row(t: Double, cpuS: Double, counters: Map[String, Long])
  def row(reps: Seq[Work]): Row = {
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    Row(med(reps.map(_.wallS)), med(reps.map(_.cpuS)),
      Work.CounterNames.map(k => k -> reps.map(_.counters(k)).distinct)
        .collect { case (k, Seq(v)) => k -> v }.toMap)
  }

  /** Why `cur` regressed against its same-key `prior`; empty when it did
    * not. A gated counter that repeated in both runs and now differs flags
    * in either direction (the prior no longer describes the row), and so
    * does CPU above 2 x prior + 0.25 s, the trip line the wall-clock gate
    * used. Wall time never flags: host noise moves it 1.5-3x.
    */
  def regressions(cur: Row, prior: Row): Seq[String] =
    Gated.flatMap(k => (cur.counters.get(k), prior.counters.get(k)) match {
      case (Some(a), Some(b)) if a != b => Some(s"$k $b->$a")
      case _ => None
    }) ++ (if (cur.cpuS <= 2 * prior.cpuS + 0.25) Nil
           else Seq(s"cpu_s ${f3(prior.cpuS)}->${f3(cur.cpuS)}"))

  /** What makes two runs' counters comparable. `action` is what each row
    * does with its frame.
    */
  case class Key(sf: String, cpus: Int, shufflePartitions: Int, action: String) {
    override def toString: String =
      s"sf=$sf cpus=$cpus shuffle_partitions=$shufflePartitions action=$action"
  }

  private val mapper = new ObjectMapper()

  /** The store's entries, one per key; a missing or pre-key file has none. */
  def entries(path: String): Seq[JsonNode] =
    try mapper.readTree(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .get("entries").elements.asScala.toSeq
    catch { case _: Throwable => Nil }

  /** The rows of `key`'s entry in the store at `path`; none when no entry
    * has that key.
    */
  def loadPrior(path: String, key: Key): Map[String, Row] =
    entries(path).find(_.path("key").asText == key.toString).toSeq
      .flatMap(_.path("queries").fields.asScala)
      .flatMap { e =>
        val v = e.getValue
        def num(f: String) = Option(v.get(f)).filter(_.isNumber).map(_.asDouble)
        for (t <- num("t"); cpu <- num("cpu_s")) yield e.getKey -> Row(t, cpu,
          v.path("work").fields.asScala.map(c => c.getKey -> c.getValue.asLong).toMap)
      }.toMap

  /** The store after a run: a full sweep replaces its own key's entry; a
    * SPARK_GRAFT_ONLY run only fills a key that has none. Other keys stay.
    */
  def merge(store: Seq[JsonNode], entry: String, fullSweep: Boolean): Seq[JsonNode] = {
    val e = mapper.readTree(entry)
    val same = (x: JsonNode) => x.path("key").asText == e.path("key").asText
    if (!fullSweep && store.exists(same)) store else store.filterNot(same) :+ e
  }

  private def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  def main(args: Array[String]): Unit = args match {
    case Array() => sweep()
    case Array("dedup-growth", in, work) => dedupGrowth(in, work)
    case Array("profile-growth", in, work) => profileGrowth(in, work)
    case Array("fit", sf) => fit(sf)
    case _ =>
      System.err.println("usage: graft.Bench [dedup-growth <in> <work> | " +
        "profile-growth <in> <work> | fit <sf>]")
      sys.exit(2)
  }

  private val Growth = "spark.sql.streaming.numRecentProgressUpdates" -> "10000"
  /** The local session every mode runs on: SPARK_GRAFT_CPUS cores and as
    * many shuffle partitions.
    */
  private def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Prints a growth curve: per micro-batch the size folded into before it
    * (`sizeField`, advanced by `grow(rowsIn)`), its input rows, `extra`
    * fields and its addBatch seconds. recentProgress is a bounded ring
    * (default 100): a replay with more slices would silently drop the
    * EARLIEST batches, so the growth modes raise the cap with [[Growth]].
    */
  private def printGrowth(metric: String, in: String, totalS: Double,
      q: org.apache.spark.sql.streaming.StreamingQuery, sizeField: String,
      grow: Long => Long, extra: Long => String = _ => ""): Unit = {
    var size = 0L
    val batches = q.recentProgress.toSeq.map { p =>
      val add = ms(p, "addBatch") / 1e3
      val row = s"""{"$sizeField":$size,"rows_in":${p.numInputRows},""" +
        s"""${extra(p.batchId)}"addBatch_sec":${f3(add)}}"""
      size += grow(p.numInputRows)
      row
    }
    println(s"""{"metric":"$metric","unit":"sec","input":"$in",""" +
      s""""total_sec":${f3(totalS)},"batches":[${batches.mkString(",")}]}""")
  }

  /** Streaming near-dedup vs landed-store size: each micro-batch signs its
    * documents, probes the PERSISTED band store for near-dup candidates
    * against everything landed before it, and appends its own bands — the
    * evidence for whether the per-batch cost stays flat as the corpus grows.
    */
  private def dedupGrowth(inDir: String, workDir: String): Unit = {
    val spark = session(Growth)
    val t0 = System.nanoTime()
    val store = s"$workDir/store${System.nanoTime()}"
    val q = graft.streaming.Ingest.dedupGrowStream(spark, inDir, store,
      maxFilesPerTrigger = 1)
    q.awaitTermination()
    val total = (System.nanoTime() - t0) / 1e9
    // staged copies near-dup every earlier copy, so confirmed output
    // grows linearly with the landed store BY CONSTRUCTION — report the
    // per-batch confirmed count so cost growth attributes to output (the
    // scale table's dedup_minhash discipline), not to the probe
    val confirmedByBatch: Map[Long, Long] =
      if (!new java.io.File(s"$store/pairs").isDirectory) Map.empty
      else spark.read.parquet(s"$store/pairs")
        .groupBy(col("batch_id")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    printGrowth("dedup_growth", inDir, total, q, "docs_before", identity,
      b => s""""confirmed_pairs":${confirmedByBatch.getOrElse(b, 0L)},""")
    spark.stop()
  }

  /** Streaming matrix profile vs history size (in segments): replays a
    * staged seg-ordered input (tools/make_ramp_history.py for the exact
    * route, tools/make_adversarial.py restaged for the dense route) one
    * file per micro-batch.
    */
  private def profileGrowth(inDir: String, workDir: String): Unit = {
    val spark = session(Growth)
    // SPARK_GRAFT_REBUILD_EVERY overrides profileStream's periodic
    // route-state rebuild interval, so the harness can also measure the
    // rebuild batch's cost against a large folded history (a small
    // interval forces rebuilds INSIDE the replay window; the default 64
    // keeps the growth curve rebuild-free, matching production cadence)
    val rebuildEvery =
      sys.env.getOrElse("SPARK_GRAFT_REBUILD_EVERY", "64").toInt
    val t0 = System.nanoTime()
    val q = graft.streaming.Ingest.profileStream(spark, inDir,
      s"$workDir/w${System.nanoTime()}",
      segRows = graft.operators.Readings.SegmentRows.toInt,
      maxFilesPerTrigger = 1, rebuildEvery = rebuildEvery)
    q.awaitTermination()
    printGrowth("profile_growth", inDir, (System.nanoTime() - t0) / 1e9, q,
      "m_before", _ / graft.operators.Readings.SegmentRows)
    spark.stop()
  }

  /** Isolation forest fit-vs-score split, behind the fixed-ψ design claim:
    * past the feature scan, fit cost is independent of data size (one
    * distributed top-k pass + driver growth over ≤ trees·ψ rows) while
    * scoring is one map-only pass that scales with rows. Run at two scales
    * and compare. Each number is the median of 3 runs after a warmup.
    */
  private def fit(sfDir: String): Unit = {
    val spark = session()
    import graft.ml.IsolationForest
    import graft.operators.Readings
    def median3(f: () => Unit): Double = {
      f()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }
    val ids = Seq("signal_id", "seg")
    val fcs = Seq("f0", "f1", "f2", "f3")
    // features pinned once: the fit/score split should not re-bill the
    // shared PAA derivation to either phase
    val feats = IsolationForest.paaFeatures(Readings.of(spark, sfDir))
      .localCheckpoint()
    val rows = feats.count()
    val featSec = median3(() => {
      IsolationForest.paaFeatures(Readings.of(spark, sfDir)).count(); ()
    })
    val fitSec = median3(() => { IsolationForest.fit(feats, ids, fcs); () })
    val model = IsolationForest.fit(feats, ids, fcs)
    val scoreSec = median3(() => {
      IsolationForest.scoreWithModel(feats, ids, fcs, model).count(); ()
    })
    println(s"""{"sf":"$sfDir","rows":$rows,"feat_sec":${f3(featSec)},""" +
      s""""fit_sec":${f3(fitSec)},"score_sec":${f3(scoreSec)}}""")
    spark.stop()
  }

  private def sweep(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val spark = session()
    // untimed warmup: JVM/codegen/scan setup should not be billed to the
    // alphabetically-first query. One warm query PER DATA FAMILY, each in
    // its own try, so a single broken loader (r7: the events ts-type
    // drift) cannot turn the whole artifact into cold-JVM noise
    for (wq <- Seq("q1_agg", "text_stats", "ann_lsh", "o5_agg_all"))
      try { SparkEntry.queries.get(wq).foreach(_(spark, sfDir).count()) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $wq failed: $e") }
    try { spark.read.parquet(s"$sfDir/lineitem.parquet").count() }
    catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=q1,q2 limits the timed loop to named queries —
    // for isolating one query's regression from whole-suite JVM effects.
    // The untimed setup blocks below are gated on it too: isolating
    // o1_scan must not pay the tier ladder or the profile-stream restage.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def needed(names: String*): Boolean =
      only.forall(sel => names.exists(sel.contains))
    var scratch: List[java.nio.file.Path] = Nil
    def tempDir(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      scratch ::= p
      p.toString
    }
    // an untimed setup step, run only when one of `rows` is selected. A
    // failure is logged (a missing bench row must be diagnosable) and
    // drops those rows; the scratch dirs are deleted after the run.
    def untimed[T](what: String, rows: String*)(f: => T): Option[T] =
      if (!needed(rows: _*)) None
      else try Some(f) catch { case e: Throwable =>
        System.err.println(s"[bench] $what setup failed (no ${rows.mkString("/")} row): $e")
        None }
    // untimed ingest: land tier0 once; the *_tier variants below then
    // measure the read path the architecture actually ships at 100 TB.
    val tierMgr = untimed("tier", "o6_window_pos_tier", "o3_range_tier",
        "ts_m4_tier", "ts_twa_tier", "asof_native_tier", "tier3_paa_max",
        "tier2_sum", "tier3_sum") {
      val tm = new graft.operators.TierManager(spark, tempDir("graft-bench-tier"))
      tm.landTier0(graft.operators.Readings.of(spark, sfDir))
      // walk the full aging ladder once (untimed) so the *_tier entries
      // measure reads against every persisted tier, tier3 included
      tm.compactToQuantized(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
      tm.compactToPaa(w = 4, targetCr = 0.5)
      tm.compactToPaa2(w = 4, targetCr = 0.6)
      tm
    }
    val tier0: Option[String] = tierMgr.map(_.tier0)

    // bucketed co-located store (untimed write): the q_bucketed_* entries
    // then measure the exchange-free fact-fact join / keyed agg read path
    val bucketed = untimed("bucketed", "q_bucketed_join", "q_bucketed_agg",
        "q_asof_bucketed") {
      val r = graft.operators.Readings.of(spark, sfDir)
      graft.sources.BucketedStore.writeBucketed(
        r.select(col("signal_id"), col("seq_no"), col("value")),
        "bench_readings_b", "signal_id", buckets = 32, sortCols = Seq("seq_no"))
      graft.sources.BucketedStore.writeBucketed(
        r.groupBy(col("signal_id")).agg(max(col("value")).as("sig_max")),
        "bench_sigstats_b", "signal_id", buckets = 32)
      // (key, time)-sorted pair for the exchange-free AND sort-free
      // native as-of (AsOfJoinSpec proves the plan shape)
      graft.sources.BucketedStore.writeBucketed(
        r.select(col("signal_id"), col("ts"), col("value")),
        "bench_asof_l_b", "signal_id", buckets = 32,
        sortCols = Seq("signal_id", "ts"))
      graft.sources.BucketedStore.writeBucketed(
        r.filter(col("seq_no") % 16 === 1)
          .select(col("signal_id"), col("ts").as("mts"),
            graft.operators.Readings.segmentId(col("seq_no")).as("seg")),
        "bench_asof_r_b", "signal_id", buckets = 32,
        sortCols = Seq("signal_id", "mts"))
    }.isDefined

    // untimed corpus materialization: the *_store variant then measures
    // the trainer's read path (partition-pruned split scan), not the
    // curation compute the pipeline pays once
    val corpusDir = untimed("corpus", "pipe_corpus_store") {
      val dir = tempDir("graft-bench-corpus") + "/corpus"
      graft.sources.CorpusStore.write(graft.Tables.documents(spark, sfDir), dir)
      dir
    }

    // untimed staging for the streaming matrix-profile maintenance row:
    // the events table as 4 files so the AvailableNow run has 4
    // micro-batches, each folding its sealed segments into the persisted
    // profile (the timed part is the end-to-end maintenance job)
    // last-rep per-micro-batch cost split for seg_profile_stream (set by
    // its runner, emitted as a top-level artifact field): attributes the
    // row's wall time to harness init vs fold compute without a second
    // instrumented run
    var profileStreamBreakdown: Option[String] = None
    val profileIn = untimed("profile-stream", "seg_profile_stream") {
      val in = tempDir("graft-bench-mpin")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/events.parquet")
        .repartition(4).write.mode("overwrite").parquet(in)
      in
    }

    // untimed IVF index build for the serving-cost row: at 100 TB the
    // index is built once by the ingest pipeline and amortized over every
    // query, so ann_ivf_store's build+probe number misattributes the
    // scale cost — ann_ivf_probe times ONLY the partition-pruned serve
    val ivfIdxDir = untimed("ivf index", "ann_ivf_probe") {
      val dir = tempDir("graft-bench-ivfidx") + "/ivf"
      graft.operators.AnnQueries.ivfBuildStore(spark, sfDir, dir)
      dir
    }

    // untimed reduced-store build: ann_rp_ivf_probe times the serve alone
    // (the reduced tier's amortized cost — projection + bucketing happen
    // at ingest in production)
    val rpIvfIdxDir = untimed("rp-ivf index", "ann_rp_ivf_probe") {
      val dir = tempDir("graft-bench-rpivfidx") + "/rpivf"
      graft.operators.AnnQueries.rpIvfBuildStore(spark, sfDir, dir)
      dir
    }

    // untimed segment-array materialization: seg_profile_auto_tier times
    // the routed profile over PERSISTED (signal_id, seg, qvals) arrays —
    // the shape the streaming ingest already lands (profileStream's segs
    // store) — attributing seg_profile_auto's cost between the one-time
    // readings->arrays derivation shuffle and the profile compute itself
    val segArrDir = untimed("segment-array", "seg_profile_auto_tier") {
      val dir = tempDir("graft-bench-segarr") + "/segs"
      graft.operators.Segments.completeQuantized(
          graft.operators.Readings.of(spark, sfDir))
        .select(col("signal_id"), col("seg"), col("qvals"))
        .write.mode("overwrite").parquet(dir)
      dir
    }

    // untimed histogram-sketch materialization for the *_tier percentile
    val histDir = untimed("hist", "o8_percentile_sketch_tier") {
      val hd = tempDir("graft-bench-hist") + "/hist"
      graft.plans.ZoneMap.segmentHistogram(
          graft.operators.Readings.of(spark, sfDir))
        .write.mode("overwrite").parquet(hd)
      hd
    }

    // the timed action, named once: the prior key records it
    val action = "count"
    def timed(name: String)(df: => org.apache.spark.sql.DataFrame): (String, () => Unit) =
      (name, () => { df.count(); () })
    // a row run with one session conf pinned, restored afterwards
    def withConf(k: String, v: String)(r: (String, () => Unit)): (String, () => Unit) =
      (r._1, () => {
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        try r._2() finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      })
    val base = SparkEntry.queries.toSeq.map { case (n, fn) => timed(n)(fn(spark, sfDir)) }
    val tierVariants: Seq[(String, () => Unit)] = corpusDir.toSeq.map { dir =>
      timed("pipe_corpus_store")(graft.sources.CorpusStore.readSplit(spark, dir, "train"))
    } ++ tier0.toSeq.flatMap { t =>
      Seq(
        timed("o6_window_pos_tier")(graft.operators.TsQuery.windowMaxPositional(
          spark.read.parquet(t), 0L, Long.MaxValue, 16L)),
        timed("o3_range_tier")(spark.read.parquet(t).filter(col("value") > 150.0)
          .select(col("signal_id"), col("seq_no"))),
        // rollups over the PERSISTED tier (stored seq_no/value_q — no
        // in-query derivation window): the read path ingest ships
        timed("ts_m4_tier")(graft.operators.TsQueries.m4Of(spark.read.parquet(t))),
        timed("ts_twa_tier")(graft.operators.TsQueries.twaOf(spark.read.parquet(t))),
        // the native as-of operator over the PERSISTED tier (stored seq_no,
        // no derivation window): the read path ingest actually ships
        timed("asof_native_tier") {
          val rr = spark.read.parquet(t)
          val segStarts = rr.groupBy(col("signal_id"),
              graft.operators.Readings.segmentId(col("seq_no")).as("seg"))
            .agg(min(col("ts")).as("seg_ts"))
          graft.plans.NativeAsOf.asofJoin(
            rr.select(col("signal_id"), col("seq_no"), col("ts")),
            segStarts, "signal_id", "ts", "seg_ts", Seq("seg"))
        })
    } ++ Seq(
      // the approx-percentile scale twin of o5_percentile: bounded-memory
      // sketch vs the exact buffering form (see the o5_percentile comment).
      // Reads Readings.of directly — NOT gated on the tier setup, so
      // SPARK_GRAFT_ONLY=o5_percentile_approx neither pays the tier ladder
      // nor silently loses the row
      timed("o5_percentile_approx")(graft.operators.Readings.of(spark, sfDir)
        .groupBy(col("signal_id"))
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("p50"),
             expr("approx_percentile(value, 0.9, 1000)").as("p90"))),
      // SCAN-STAGE attribution for the dedup family (bench-only row, no
      // oracle — the values feed the oracle-checked dedup rows): text ->
      // native shingle hashes -> MinHash signatures, nothing else. The
      // per-round dial that shows whether the dedup scan stage itself
      // moved, separate from band-join/confirm/CC costs downstream.
      timed("dedup_sigs")(graft.operators.Dedup.minhashSignatures(
        graft.operators.Dedup.shingleSets(graft.Tables.documents(spark, sfDir))))
    ) ++ profileIn.toSeq.map { in =>
      // STAMPI-style streaming profile maintenance: 4 micro-batches of
      // sealed segments each fold into the persisted per-signal profile
      // (Ingest.profileStream); a fresh work dir per rep so every run
      // pays the full incremental ladder, not a warm no-op. The per-batch
      // progress is captured so the artifact can attribute the row's cost
      // to stream harness init vs actual fold compute (addBatch).
      ("seg_profile_stream", () => {
        val work = tempDir("graft-bench-mpwork") + s"/w${System.nanoTime()}"
        val q = graft.streaming.Ingest.profileStream(spark, in, work,
          graft.operators.Readings.SegmentRows.toInt, maxFilesPerTrigger = 1)
        q.awaitTermination()
        val prog = q.recentProgress
        if (prog.nonEmpty) {
          val add = prog.map(ms(_, "addBatch")).sum
          val trig = prog.map(ms(_, "triggerExecution")).sum
          // steady_state_sec = the MEDIAN post-warmup batch fold time —
          // the marginal per-micro-batch cost a long-lived stream pays at
          // 100 TB, as opposed to the cold-ladder total the row time
          // reports. The first batch is warmup (stream/source init), and
          // the LAST batch under AvailableNow can be a smaller tail — so
          // neither endpoint alone is representative
          val perBatch = prog.map(ms(_, "addBatch") / 1e3)
          val post = if (perBatch.length > 1) perBatch.tail.sorted
                     else perBatch.sorted
          profileStreamBreakdown = Some(
            s"""{"n_batches":${prog.length},"addBatch_sec":${add / 1e3},""" +
              s""""triggerExecution_sec":${trig / 1e3},""" +
              s""""steady_state_sec":${post(post.length / 2)},""" +
              s""""batch_addBatch_sec":[${perBatch.mkString(",")}]}""")
        }
        ()
      })
    } ++ ivfIdxDir.toSeq.map { dir =>
      timed("ann_ivf_probe")(graft.operators.AnnQueries.ivfProbeStore(spark, sfDir, dir))
    } ++ rpIvfIdxDir.toSeq.map { dir =>
      timed("ann_rp_ivf_probe")(graft.operators.AnnQueries.rpIvfProbeStore(spark, sfDir, dir))
    } ++ segArrDir.toSeq.map { dir =>
      timed("seg_profile_auto_tier")(
        graft.operators.MotifDiscord.profileAuto(spark.read.parquet(dir)))
    } ++ histDir.toSeq.map { hd =>
      // percentile served from the PERSISTED histogram sketch — the
      // production path (o8_percentile_sketch rebuilds the histogram
      // in-query; this variant measures pure sketch-serve)
      timed("o8_percentile_sketch_tier")(graft.plans.ZoneMap.percentileFromHistogram(
        spark.read.parquet(hd), Seq(0.5, 0.9), scale = 100.0))
    } ++ tierMgr.toSeq.flatMap { tm =>
      Seq(
        timed("tier3_paa_max")(tm.maxFromTier3()),
        // exact sum/avg answered from the persisted chunk tiers (no
        // readings scan): the AggStats-style serving path
        timed("tier2_sum")(tm.sumFromColdTier()),
        timed("tier3_sum")(tm.sumFromTier3()))
    } ++ (if (!bucketed) Nil else {
      // small-input benches broadcast the stats side and skip the bucketed
      // path entirely; at 100 TB neither side broadcasts, so the co-located
      // sort-merge IS the production plan — pin it for the measurement
      val noBroadcast = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") _
      Seq(
        noBroadcast(timed("q_bucketed_join")(graft.sources.BucketedStore
          .colocatedJoin(spark, "bench_readings_b", "bench_sigstats_b", "signal_id")
          .filter(col("value") === col("sig_max")))),
        noBroadcast(timed("q_bucketed_agg")(graft.sources.BucketedStore
          .colocatedAgg(spark, "bench_readings_b", "signal_id"))),
        // native as-of as a pure streaming merge over two bucketed+sorted
        // scans: zero exchanges, zero sorts (the 100 TB fact-fact shape)
        withConf("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")(
          timed("q_asof_bucketed")(graft.plans.NativeAsOf.asofJoin(
            spark.table("bench_asof_l_b"), spark.table("bench_asof_r_b"),
            "signal_id", "ts", "mts", Seq("seg")))))
    })

    // UNTIMED between-query cleanup: operators that cache/localCheckpoint
    // (the CC loops, DBSCAN, SemDeDup, bandit feeds) leave persisted RDDs
    // behind; over a 150+-query sweep the leaked storage squeezes
    // execution memory and inflates late-alphabet queries 5-10x (measured:
    // pipe_bpe_pairs 8.2s in-sweep vs 0.51s isolated, same binary). The
    // driver-side ContextCleaner only reclaims them on a JVM GC, which a
    // large heap may never trigger mid-sweep — so drop them explicitly.
    def dropLeakedStorage(): Unit = {
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      } catch { case _: Throwable => () }
    }
    val key = Key(sfDir, spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt, action)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_QUERIES.json")
    val prior: Map[String, Row] = loadPrior(outPath, key)
    if (prior.isEmpty) System.err.println(
      s"[bench] no prior under key ($key) in $outPath: nothing is compared")
    val listener = new Work.Listener
    spark.sparkContext.addSparkListener(listener)
    case class QRes(name: String, reps: Seq[Work], err: Option[String]) {
      val row: Option[Row] = if (reps.isEmpty) None else Some(Bench.row(reps))
      val flags: Seq[String] = (for (c <- row; p <- prior.get(name))
        yield regressions(c, p)).getOrElse(Nil)
    }
    def timeQuery(name: String, run: () => Unit): QRes = {
      val runs = (1 to reps).map { _ =>
        dropLeakedStorage()
        try Right(Work.measure(spark, listener)(run()))
        catch { case e: Throwable => Left(e.getClass.getSimpleName + ": " + e.getMessage) }
      }
      val ok = runs.collect { case Right(w) => w }
      QRes(name, ok, runs.collectFirst { case Left(e) => e }.filter(_ => ok.isEmpty))
    }
    val results = (base ++ tierVariants).sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, run) =>
        val r = timeQuery(name, run)
        System.err.println(r.row.fold(f"[bench] $name%-22s ${r.err.getOrElse("")}") { w =>
          f"[bench] $name%-22s ${w.t}%8.2fs (${r.reps.size}/$reps ok) per rep " +
            (Gated.map(k => k -> r.reps.map(_.counters(k).toString)) :+
              ("cpu_s" -> r.reps.map(x => f3(x.cpuS)))).map { case (k, vs) =>
              s"$k=${vs.mkString("/")}" }.mkString(" ") +
            (if (r.flags.isEmpty) "" else s" REGRESSED ${r.flags.mkString(", ")}")
        })
        r
      }
    val regressed = results.filter(_.flags.nonEmpty)
    val nCompared = results.count(r => r.row.isDefined && prior.contains(r.name))
    // wall-clock evidence for the reader: how fast this host ran the scan
    // canary against the prior's
    val hostRatio: Option[Double] = for {
      cur <- results.find(_.name == "o1_scan").flatMap(_.row)
      p <- prior.get("o1_scan") if p.t > 0.0
    } yield cur.t / p.t

    // ingestion throughput (reference future_signal.rs:134 prints points/sec
    // per signal): replay the events table through the streaming
    // segmentation pipeline (S1 source -> S2 keyed state) and report pts/s.
    // The events table is restaged (untimed) as `ingestFiles` parquet files
    // and the whole set rides ONE AvailableNow batch, so the measurement is
    // the PARALLEL S2 ceiling across all cores.
    val ingestFiles = 32
    val ingestCfg = s"files=$ingestFiles,maxFilesPerTrigger=$ingestFiles," +
      "trigger=AvailableNow,warm=true"
    // "ingest" is an addressable row like any query: SPARK_GRAFT_ONLY
    // runs skip it unless named (an isolated query rerun must not pay —
    // or be perturbed by — a streaming replay it didn't ask for)
    val ingestPps = untimed("ingest", "ingest") {
      val in = tempDir("graft-bench-ingest")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/events.parquet")
        .repartition(ingestFiles).write.mode("overwrite").parquet(in)
      val pts = spark.read.parquet(in).count()
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        val q = graft.streaming.Ingest.segmentStream(
            spark, in, graft.operators.Readings.SegmentRows.toInt,
            maxFilesPerTrigger = ingestFiles)
          .writeStream.outputMode("append").format("noop")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      // first run is an UNTIMED warmup: the JVM's first streaming query
      // pays one-off state-store/codegen/source-listing init that is not
      // ingest work (measured: ~650 k pts/s warm vs ~33 k cold at sf0.1)
      runOnce()
      val secs = runOnce()
      System.err.println(f"[bench] ingest: $pts pts in $secs%.2fs ($ingestCfg)")
      pts / secs
    }

    // the stdout line must survive a bounded tail capture, so it carries
    // totals and a headline subset; the COMPLETE entry goes to the keyed
    // store that the line points at via "queries_file".
    def errJson(r: QRes): String = s"""{"err":"${esc(r.err.getOrElse("").take(200))}"}"""
    // a row keeps the counters its reps repeated under "work" and the
    // [min, max] of the others under "varied"
    def rowJson(r: QRes): String = r.row.fold(errJson(r)) { w =>
      val ws = r.reps.map(_.wallS)
      val mean = ws.sum / ws.size
      val sd = math.sqrt(ws.map(t => (t - mean) * (t - mean)).sum / ws.size)
      val varied = Work.CounterNames.filterNot(w.counters.contains).map { k =>
        val vs = r.reps.map(_.counters(k))
        s""""$k":[${vs.min},${vs.max}]"""
      }
      s"""{"t":${f3(w.t)},"mean":${f3(mean)},"sd":${f3(sd)},"reps":${ws.size},""" +
        s""""cpu_s":${f3(w.cpuS)},"work":{""" + Work.CounterNames.flatMap(k =>
          w.counters.get(k).map(v => s""""$k":$v""")).mkString(",") + "}" +
        (if (varied.isEmpty) "" else varied.mkString(""","varied":{""", ",", "}")) + "}"
    }
    val headline = Set(
      "q1_agg", "q3_join", "q5_join", "q6_filter_agg", "o1_scan", "o3_range",
      "o6_window_pos", "tsbs_last_loc", "influx_max_groupby", "dedup_minhash",
      "pipe_near_dedup", "pipe_curate", "ts_delta", "tier_ladder", "ann_ivf",
      "q_asof_bucketed", "q_bucketed_join", "ml_bandit_recode",
      // round-8 additions worth per-round visibility: the partition-pruned
      // index serve, cluster-bounded semantic dedup, the perplexity gate
      // and the sketch-served percentile
      "ann_ivf_store", "dedup_semantic", "pipe_quality_filter",
      "o8_percentile_sketch")
    val ok = results.flatMap(_.row)
    val summary =
      profileStreamBreakdown.map(b => s""""seg_profile_stream_batches":$b,""").getOrElse("") +
        ingestPps.map(v => s""""ingest_pts_per_sec":${f3(v)},"ingest_cfg":"$ingestCfg",""")
          .getOrElse("") +
        hostRatio.map(h => s""""host_ratio":${f3(h)},""").getOrElse("") +
        s""""n_compared":$nCompared,"n_regressed":${regressed.size},""" +
        s""""value":${f3(ok.map(_.t).sum)},"n_ok":${ok.size},"n_err":${results.size - ok.size}"""
    val prefix = s""""metric":"total","unit":"sec","reps":$reps,"sf":"$sfDir","key":"$key""""
    val regressedField = regressed.map(r => s""""${r.name}":""" +
      r.flags.map(f => s""""$f"""").mkString("[", ",", "]")).mkString(""""regressed":{""", ",", "},")
    val entry = s"""{$prefix,"queries":""" +
      results.map(r => s""""${r.name}":${rowJson(r)}""").mkString("{", ",", "}") +
      s""",$regressedField$summary}"""
    val wrote =
      try {
        val store = merge(entries(outPath), entry, fullSweep = only.isEmpty)
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          store.map(mapper.writeValueAsString).mkString("{\"entries\":[\n", ",\n", "\n]}\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: $e"); false }
    val shortQs = results.filter(r => headline(r.name)).map(r =>
      s""""${r.name}":${r.row.fold(errJson(r))(w => f3(w.t))}""").mkString("{", ",", "}")
    val fileField = if (wrote) s""""queries_file":"$outPath",""" else ""
    println(s"""{$prefix,$fileField"queries":$shortQs,$summary}""")
    if (bucketed) try {
      Seq("bench_readings_b", "bench_sigstats_b", "bench_asof_l_b",
        "bench_asof_r_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bucketed table cleanup failed: $e") }
    scratch.foreach { p =>
      try {
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scratch cleanup failed for $p: $e") }
    }
    spark.stop()
  }
}
