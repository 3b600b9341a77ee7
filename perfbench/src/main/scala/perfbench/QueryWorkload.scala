package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.functions.CodecFunctions._
import graft.operators.{Readings, TierManager, TsQuery}
import graft.plans.ZoneMap
import graft.sources.BuffStore

/** query_mix: a seeded, interleaved sequence of filter / agg / window /
  * lookup queries against stores built during setup from the same
  * generated readings. Nothing is written while it runs.
  */
final class QueryWorkload(ctx: Ctx) {
  private val spark = ctx.spark
  private var tm: TierManager = _
  private var p: Stores.Paths = _
  private var base = 0L
  private var planes = 0

  /** Build every store the queries read: tier0 with its zone map, the
    * time stats and histogram, the codec segment store and the BUFF planes.
    * (The aged chunk tiers are built and read by ingest_age.)
    */
  def setup(rep: Int): Unit = {
    val root = s"${ctx.work}/query/s$rep"
    p = Stores.Paths(root)
    tm = new TierManager(spark, s"$root/tiers")
    val readings = Readings.of(spark, ctx.input)
    Trace.span("tiers.land")(tm.landTier0(readings))
    val t0 = spark.read.parquet(tm.tier0)
    Stores.writeTimeStats(t0, p)
    Stores.writeSegments(t0, p)
    Stores.writeCodecs(spark, p)
    val (b, n) = Stores.writePlanes(spark, tm.tier0, p)
    base = b; planes = n
  }

  /** Untimed store checks after setup: planes and lossless codecs. */
  def verifyStores(): Unit = {
    IngestWorkload.codecChecks(ctx, p, "query")
    IngestWorkload.planeCheck(ctx, tm.tier0, p, "query", base, planes)
  }

  private def tier0 = spark.read.parquet(tm.tier0)
  private def planesDf = BuffStore.read(spark, p.planes)
  private def codec(c: String) = spark.read.parquet(p.codec(c))
  private def arr(n: JsonNode) = ctx.longs(n)

  /** The frame for one pool entry, built through the program's calls. */
  def frame(kind: String, q: JsonNode): DataFrame = {
    def l(k: String) = q.get(k).asLong()
    kind match {
      case "range" => TsQuery.rangeFilter(tier0, col("value_q").between(l("lo"), l("hi")))
      case "buff_range" => BuffStore.rangeProgressive(planesDf, base, planes, l("lo"), l("hi"))
      case "equal" => TsQuery.equalFilter(tier0, col("value_q"), l("c"))
      case "agg_all" => TsQuery.aggAll(tier0)
      case "buff_sum" => BuffStore.sumFromPlanes(planesDf, base, planes)
      case "buff_max" => BuffStore.maxWithArgmax(planesDf, base, planes)
      case "zm_max" => tier0.agg(max(col("value")).as("vmax"))
      case "percentile" =>
        ZoneMap.percentileFromHistogram(spark.read.parquet(p.hist), ctx.doubles(q.get("ps")), 100.0)
      case "codec_agg_gorilla" =>
        codec("gorilla").groupBy(col("signal_id")).agg(max(gorillaMax(col("enc"))).as("vmax"))
      case "codec_agg_sprintz" =>
        codec("sprintz").groupBy(col("signal_id")).agg(sum(sprintzSum(col("enc"))).as("sum_q"))
      case "codec_agg_fcm" =>
        codec("fcm").groupBy(col("signal_id"))
          .agg(sum(fcmSum(col("enc"))).as("sum_q"), max(fcmMax(col("enc"))).as("vmax_q"))
      case "codec_agg_bp" =>
        codec("bp").groupBy(col("signal_id"))
          .agg(sum(bpSum(col("enc"))).as("sum_q"), max(bpMax(col("enc"))).as("vmax_q"))
      case k if k.startsWith("codec_decode_") =>
        val c = k.stripPrefix("codec_decode_")
        val d = c match {
          case "gorilla" => gorillaDecode(col("enc"))
          case "sprintz" => sprintzDecode(col("enc"))
          case "fcm" => fcmDecode(col("enc"))
          case "bp" => bpDecode(col("enc"))
        }
        codec(c).select(col("signal_id"), col("seg"), d.as("vals"))
      case "win_pos" => TsQuery.windowMaxPositional(tier0, l("start"), l("end"), l("width"))
      case "win_argmax" => TsQuery.windowMaxArgmax(tier0, l("width"))
      case "win_time" => TsQuery.windowAggTime(tier0, q.get("width").asText())
      case "project" =>
        TsQuery.projectAt(tier0, col("signal_id") === l("signal") &&
          col("seq_no").isin(arr(q.get("ids")).map(x => x: Any): _*))
      case "last_tag" =>
        val tags = spark.read.parquet(s"${ctx.input}/tags.parquet").filter(col("fleet") === l("fleet"))
        TsQuery.tagJoin(TsQuery.lastPerSignal(tier0), tags)
      case "single" =>
        tier0.filter(col("signal_id") === l("signal"))
          .select(col("signal_id"), col("seq_no"), col("ts"), col("value"), col("value_q"))
    }
  }

  private val spanOf = Map(
    "range" -> "query.range", "equal" -> "query.equal", "buff_range" -> "buff.range",
    "buff_sum" -> "buff.sum", "buff_max" -> "buff.max", "percentile" -> "zonemap.percentile",
    "zm_max" -> "zonemap.rewrite", "agg_all" -> "query.agg",
    "win_pos" -> "query.window", "win_argmax" -> "query.window", "win_time" -> "query.window_time",
    "project" -> "query.project", "last_tag" -> "query.last", "single" -> "query.single")
  private def spanName(kind: String) =
    if (kind.startsWith("codec_agg_")) s"codec.agg.${kind.stripPrefix("codec_agg_")}"
    else if (kind.startsWith("codec_decode_")) s"codec.decode.${kind.stripPrefix("codec_decode_")}"
    else spanOf(kind)

  private val pool: IndexedSeq[JsonNode] = {
    val b = IndexedSeq.newBuilder[JsonNode]
    val it = ctx.plan.get("queries").elements()
    while (it.hasNext) b += it.next()
    b.result()
  }
  private val sequence: IndexedSeq[Int] = ctx.longs(ctx.plan.get("sequence")).map(_.toInt).toIndexedSeq

  /** One pass: every query of the pool once, in the seeded order. */
  def step(): Unit = {
    val t = System.nanoTime()
    sequence.foreach(i => runOne(pool(i)))
    ctx.rec.sample("round_s", (System.nanoTime() - t) / 1e9)
  }

  /** The first pool entry of every kind once (the traced probe). */
  def eachKindOnce(): Unit =
    pool.groupBy(_.get("kind").asText()).values.map(_.minBy(_.get("id").asInt()))
      .toSeq.sortBy(_.get("id").asInt()).foreach(runOne)

  private def runOne(q: JsonNode): Unit = {
    val id = q.get("id").asInt()
    val family = q.get("family").asText()
    val kind = q.get("kind").asText()
    val params = q.get("params")
    var df: DataFrame = null
    val res = ctx.rec.op(family, kind) {
      Trace.span(spanName(kind)) {
        df = frame(kind, params)
        ctx.rec.collectAll(kind, df)
      }
    }
    res.foreach { case (rows, opMs) =>
      ctx.rec.sample(s"q_${family}_ms", opMs)
      ctx.rec.sample("query_ms", opMs)
      ctx.rec.sample(s"kind.$kind.ms", opMs)
      if (!ctx.rec.digest(s"q$id", df.schema, rows))
        ctx.rec.failLast(s"repeat.q$id", s"$kind result differs from its first run")
      if (Trace.enabled && Main.listener != null && ctx.rec.sampling)
        layerCounters(kind, params, df, rows.length)
    }
  }

  /** Per-layer plan and counter readings for the op just run (traced). */
  private def layerCounters(kind: String, params: JsonNode, df: DataFrame, nOut: Int): Unit = {
    val rec = ctx.rec
    Main.drain()
    val sp = Trace.spans.last
    val c = Main.listener.window(sp.start, sp.end)
    val storeRows = ctx.plan.get("sizes").get("signals").asLong() *
      ctx.plan.get("sizes").get("points_per_signal").asLong()
    if (nOut > 0) rec.sample("query.rows_examined_per_row_returned", c.inRecords / nOut)
    if ((kind == "range" || kind == "buff_range") && params.get("sel").asDouble() <= 0.01)
      rec.sample("zonemap.rows_read_frac", c.inRecords / storeRows)
    if (kind == "range") rec.sample(s"range_in_bytes.${params.get("lo")}.${params.get("hi")}", c.inBytes)
    if (kind == "buff_range") {
      rec.sample(s"buff_in_bytes.${params.get("lo")}.${params.get("hi")}", c.inBytes)
      topPlaneFrac(df, nOut)
    }
    if (kind == "zm_max") {
      val hit = df.queryExecution.optimizedPlan.collectLeaves().exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.endsWith(".stats"))
          case _ => false
        }
        case _ => false
      }
      rec.sample("zonemap.rewrite_hit_frac", if (hit) 1.0 else 0.0)
    }
    if (kind == "project" || kind == "single") {
      val scans = QueryWorkload.scans(df.queryExecution.executedPlan)
      val read = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
      val files = QueryWorkload.parquetFiles(tm.tier0)
      if (files > 0 && scans.nonEmpty) rec.sample("zonemap.files_read_frac", read.toDouble / files)
    }
  }

  /** Rows the p0 leg of the progressive filter decided ÷ rows returned,
    * from the executed union's per-leg output row counts.
    */
  private def topPlaneFrac(df: DataFrame, nOut: Int): Unit = {
    val plan = QueryWorkload.unwrap(df.queryExecution.executedPlan)
    plan.collectFirst { case u: org.apache.spark.sql.execution.UnionExec => u }.foreach { u =>
      val leg0 = QueryWorkload.outRows(u.children.head)
      if (nOut > 0 && leg0 >= 0) ctx.rec.sample("buff.top_plane_decided_frac", leg0.toDouble / nOut)
    }
  }
}

object QueryWorkload {
  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other.mapChildren(unwrap)
  }

  def scans(p: SparkPlan): Seq[SparkPlan] =
    unwrap(p).collect { case s: FileSourceScanExec => s }

  /** Output rows of the top-most node in a subtree that counts them. */
  def outRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.map(outRows).find(_ >= 0).getOrElse(-1L))

  def parquetFiles(dir: String): Long = {
    val f = new java.io.File(dir)
    if (!f.exists()) 0L
    else {
      val s = java.nio.file.Files.walk(f.toPath)
      try s.filter(x => x.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}
