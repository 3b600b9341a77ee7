package perfbench

import scala.collection.mutable

/** Dispatch from workload names to set-up, one closed-loop step, output
  * checks and metric roll-up.
  */
final class Runner(ctx: Ctx, points: Long) {
  private val rec = ctx.rec
  private lazy val query = new QueryWorkload(ctx)
  private lazy val mining = new MiningWorkload(ctx)
  private val ingestRounds = mutable.ArrayBuffer.empty[IngestWorkload.Round]
  private var ingestSrc: String = _
  private var ingestNext = 0

  def setup(w: String, rep: Int): Unit = w match {
    case "ingest_age" => ingestSrc = IngestWorkload.stage(ctx, rep)
    case "query_mix" => query.setup(rep)
    case "mining_batch" => mining.setup(rep)
  }

  /** Untimed checks of what set-up built. */
  def afterSetup(w: String): Unit = if (w == "query_mix") query.verifyStores()

  def step(w: String): Unit = w match {
    case "ingest_age" =>
      ingestNext += 1
      IngestWorkload.round(ctx, ingestSrc, ingestNext, points).foreach(ingestRounds += _)
    case "query_mix" => query.step()
    case "mining_batch" => mining.runRound()
  }

  /** Lazy set-up before timing: every query kind once, untimed and
    * unsampled, so each query shape has been planned and code-generated.
    * Returns its seconds (0 where there is none).
    */
  def warmUp(w: String): Double =
    if (w != "query_mix") 0.0
    else {
      val t = System.nanoTime()
      rec.sampling = false
      try query.eachKindOnce() finally rec.sampling = true
      (System.nanoTime() - t) / 1e9
    }

  /** One traced pass of a workload outside its own loop. */
  def probe(w: String): Unit = if (w == "query_mix") query.eachKindOnce() else step(w)

  /** The end-to-end metrics of the measured loop: (value, sample count).
    * `c` holds the engine counters of the loop, `ops` its timed ops.
    */
  def endToEnd(w: String, setupS: (Double, Int), c: Counters, ops: Int): Seq[(String, (Double, Int))] = {
    def s(name: String): Seq[Double] = rec.samples.get(name).map(_.toSeq).getOrElse(Nil)
    val (opSamples, rounds) = w match {
      case "ingest_age" => (s("ingest.batch_ms"), s("round_s"))
      case "query_mix" => (s("query_ms"), s("round_s"))
      case "mining_batch" => (s("mining_job_ms"), s("round_s"))
    }
    Seq(
      "setup_s" -> setupS,
      "op_p50_ms" -> (Stats.median(opSamples), opSamples.size),
      "round_s" -> (Stats.median(rounds), rounds.size),
      "jobs_per_op" -> (c.jobs.toDouble / ops, ops),
      "tasks_per_op" -> (c.tasks.toDouble / ops, ops),
      "records_read_per_op" -> (c.inRecords / ops, ops),
      "shuffle_kb_per_op" -> (c.shWrite / 1024.0 / ops, ops))
  }

  /** Round descriptions (JSON) for the checks made outside the run. */
  def verify(w: String): Seq[String] =
    ingestRounds.toSeq.map(r => IngestWorkload.verify(ctx, r, points))

  /** Per-layer metrics: medians over calls, sums for the leftovers. */
  def layerMetrics(): Seq[(String, Double)] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def s(name: String): Seq[Double] = rec.samples.get(name).map(_.toSeq).getOrElse(Nil)
    def med(names: String*): Double = Stats.median(names.flatMap(s))
    val direct = rec.samples.keys.filter(k => !k.startsWith("kind.") && !k.contains("_in_bytes.") &&
      !k.startsWith("materialize.") && k != "round_s" && k != "query_ms" && !k.startsWith("q_") &&
      k != "mining_job_ms" && k != "ingest.batch_ms")
    direct.foreach(k => out(k) = med(k))
    Seq("materialize.rdds_left", "materialize.storage_mb_left", "materialize.scratch_dirs_left")
      .foreach(k => out(k) = s(k).sum)
    out("ingest_batch_p50_ms") = med("ingest.batch_ms")
    out("ingest_batch_p90_ms") = Stats.quantile(s("ingest.batch_ms"), 0.9)
    out("query_p50_ms") = med("query_ms")
    out("query_p90_ms") = Stats.quantile(s("query_ms"), 0.9)
    Seq("filter", "agg", "window", "lookup").foreach(f => out(s"q_${f}_p50_ms") = med(s"q_${f}_ms"))
    def k(kinds: String*): Double = med(kinds.map(x => s"kind.$x.ms"): _*)
    out("query.range_ms") = k("range")
    out("query.equal_ms") = k("equal")
    out("query.window_ms") = k("win_pos", "win_argmax")
    out("query.window_time_ms") = k("win_time")
    out("query.project_ms") = k("project")
    out("query.last_ms") = k("last_tag")
    out("buff.range_ms") = k("buff_range")
    out("buff.sum_ms") = k("buff_sum")
    out("buff.max_ms") = k("buff_max")
    out("tiers.cold_sum_ms") = k("cold_sum", "tier3_sum")
    out("zonemap.percentile_ms") = k("percentile")
    val mib = points * 8.0 / 1048576.0
    Stores.Codecs.foreach { c =>
      out(s"codec.$c.decode_mib_s") = mib / (k(s"codec_decode_$c") / 1000.0)
      out(s"codec.$c.agg_mib_s") = mib / (k(s"codec_agg_$c") / 1000.0)
    }
    // bytes rangeProgressive read ÷ bytes rangeFilter read, same predicate
    val ratios = rec.samples.keys.filter(_.startsWith("buff_in_bytes.")).toSeq.flatMap { b =>
      val r = "range_in_bytes." + b.stripPrefix("buff_in_bytes.")
      if (rec.samples.contains(r)) Some(Stats.median(s(b)) / Stats.median(s(r))) else None
    }
    out("buff.range_read_frac") = Stats.median(ratios)
    out.toSeq
  }
}
