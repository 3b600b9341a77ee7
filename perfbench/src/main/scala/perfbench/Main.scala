package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, a closed loop of one client
  * for `--seconds`. Writes a result file that perfbench/run.py checks
  * against DuckDB and turns into the final result line.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <outFile> <cores>
  */
object Main {
  @volatile var listener: CounterListener = _
  private var spark: SparkSession = _

  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  val Workloads = Seq("ingest_age", "query_mix", "mining_batch")
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val Array(workload, secondsS, traceS, input, work, out, coresS) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    val plan = new ObjectMapper().readTree(new File(s"$input/plan.json"))
    val rec = new Rec(spark, new File(System.getProperty("java.io.tmpdir")))
    val ctx = new Ctx(spark, input, work, plan, rec)
    // engine counters are read in every run: work per op is the gated
    // signal, and host speed does not move it
    listener = new CounterListener
    spark.sparkContext.addSparkListener(listener)

    val points = plan.get("sizes").get("signals").asLong() * plan.get("sizes").get("points_per_signal").asLong()
    val runner = new Runner(ctx, points)
    // set-up runs several times on fresh directories and its median counts
    // (once when traced: a traced run publishes no end-to-end metric)
    val setupS = (1 to (if (traced) 1 else SetupReps)).map { rep =>
      val t = System.nanoTime(); runner.setup(workload, rep); (System.nanoTime() - t) / 1e9
    }
    runner.afterSetup(workload)
    val warmS = runner.warmUp(workload)
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, builds " +
      f"${setupS.map(s => f"$s%.2f").mkString(" ")} s, warm-up $warmS%.2f s")

    rec.measuring = true
    Trace.enabled = traced
    val loopStart = Clock.nowMs
    var steps = 0
    while (steps == 0 || Clock.nowMs < loopStart + seconds * 1000.0) {
      runner.step(workload)
      steps += 1
    }
    val loopEnd = Clock.nowMs
    rec.measuring = false

    drain()
    val c = listener.window(loopStart, loopEnd)
    val e2e = runner.endToEnd(workload, (sessionS + Stats.median(setupS) + warmS, setupS.size), c,
      rec.opFailed.size)
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val wall = loopEnd - loopStart
      layer ++= Seq(
        "spark.jobs" -> c.jobs, "spark.stages" -> c.stages, "spark.tasks" -> c.tasks,
        "spark.executor_run_ms" -> c.runMs, "spark.executor_cpu_ms" -> c.cpuMs,
        "spark.gc_ms" -> c.gcMs, "spark.scheduler_delay_ms" -> c.schedDelayMs,
        "spark.input_bytes" -> c.inBytes, "spark.input_records" -> c.inRecords,
        "spark.shuffle_write_bytes" -> c.shWrite, "spark.shuffle_read_bytes" -> c.shRead,
        "spark.spill_bytes" -> c.spill, "spark.task_failures" -> c.failures,
        "spark.driver_only_ms" -> (wall - c.jobBusyMs),
        "spark.core_busy_frac" -> c.runMs / (wall * cores))
      // every layer is read in every traced run: each other workload runs
      // one traced round (for query_mix: every query kind once)
      Workloads.filterNot(_ == workload).foreach { w =>
        runner.setup(w, 1)
        runner.afterSetup(w)
        runner.probe(w)
      }
      drain()
      calibrate(ctx, points, layer)
      layer("trace.overhead_ms_per_op") = overhead(ctx)
      val self = Trace.selfMs()
      Trace.spans.groupBy(_.layer).foreach { case (l, ss) =>
        layer(s"self_ms.${if (l == "op") "harness" else l}") = ss.map(s => self.getOrElse(s.id, 0.0)).sum
      }
      layer("trace.spans") = Trace.spans.size
      writeSpans(s"$out.spans.jsonl")
    }
    val rounds = runner.verify(workload)
    layer ++= runner.layerMetrics()

    rec.notJudged.foreach { case (kind, names) =>
      System.err.println(s"[perfbench] actions not judged in $kind: " +
        names.toSeq.sorted.map { case (n, k) => s"$n x$k" }.mkString(", "))
    }
    val attempted = rec.opFailed.size
    val failedOps = rec.opFailed.count(identity)
    layer("peak_storage_mb") = rec.peakStorageMb
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, n)) => k -> s"""{"value":${Json.num(v)},"samples":$n}""" }),
      "layer" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> rec.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }
        .mkString("[", ",", "]"),
      "ingest_rounds" -> rounds.mkString("[", ",", "]"),
      "recode_arms" -> graft.ml.Bandit.RecodeArms.map(Json.str).mkString("[", ",", "]"),
      "digests" -> Json.obj(rec.digests.toSeq),
      "key_ops" -> Json.obj(rec.keyOps.toSeq.map { case (k, n) => k -> n.toString }),
      "dumps" -> Json.obj(rec.dumps.toSeq)))
    Files.write(new File(out).toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Counter validation: a full scan of the generated events with a known
    * row count and on-disk size. Counters that disagree are published as
    * invalid, with the reason on stderr.
    */
  private def calibrate(ctx: Ctx, points: Long,
                        layer: scala.collection.mutable.Map[String, Double]): Unit = {
    val t0 = Clock.nowMs
    spark.read.parquet(ctx.events).write.format("noop").mode("overwrite").save()
    drain()
    val c = listener.window(t0, Clock.nowMs)
    val disk = Stores.dirBytes(ctx.events).toDouble
    val recOk = c.inRecords == points
    val bytesOk = c.inBytes >= 0.5 * disk && c.inBytes <= 1.5 * disk
    if (!recOk) System.err.println(s"[perfbench] spark.input_records INVALID: calibration scan read ${c.inRecords} records of $points")
    if (!bytesOk) System.err.println(s"[perfbench] spark.input_bytes INVALID: calibration scan read ${c.inBytes} B of $disk B on disk")
    layer("spark.input_records_valid") = if (recOk) 1.0 else 0.0
    layer("spark.input_bytes_valid") = if (bytesOk) 1.0 else 0.0
  }

  /** Tracing overhead on a fixed op: a full aggregate over the generated
    * events, run untraced (no listener, no spans) and traced.
    */
  private def overhead(ctx: Ctx): Double = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    def once(): Double = {
      val t = System.nanoTime()
      Trace.span("op.calibration") {
        spark.read.parquet(ctx.events).agg(sum(col("value")), count(lit(1))).collect()
      }
      (System.nanoTime() - t) / 1e6
    }
    Trace.enabled = false
    spark.sparkContext.removeSparkListener(listener)
    val plain = (1 to 5).map(_ => once())
    spark.sparkContext.addSparkListener(listener)
    Trace.enabled = true
    val withTrace = (1 to 5).map(_ => once())
    Stats.median(withTrace) - Stats.median(plain)
  }

  /** Spans with the listener's jobs and tasks assigned to the innermost
    * span open when each started (time window, not job group).
    */
  private def writeSpans(path: String): Unit = {
    val self = Trace.selfMs()
    val jobs = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val tasks = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    val runMs = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    val inBytes = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    listener.synchronized {
      listener.jobs.foreach(j => Trace.innermostAt(j.start).foreach(s => jobs(s.id) += 1))
      listener.tasks.foreach(t => Trace.innermostAt(t.launch).foreach { s =>
        tasks(s.id) += 1; runMs(s.id) += t.runMs; inBytes(s.id) += t.inBytes
      })
    }
    val lines = Trace.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "trace" -> s.traceId.toString, "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(self.getOrElse(s.id, Double.NaN)),
        "jobs" -> jobs(s.id).toString, "tasks" -> tasks(s.id).toString,
        "executor_run_ms" -> Json.num(runMs(s.id)), "input_bytes" -> Json.num(inBytes(s.id))))
    }
    Files.write(new File(path).toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
