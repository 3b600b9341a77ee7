package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.functions.CodecFunctions._
import graft.operators.TierManager
import graft.plans.ZoneMap
import graft.streaming.Ingest

/** ingest_age: land the staged readings one file per micro-batch, then
  * age them down the tier ladder, encode the sealed segments and write
  * the BUFF planes. One round = one landing stream plus one background
  * chain; rounds repeat on fresh directories until time is up.
  */
object IngestWorkload {
  final case class Round(root: String, tm: TierManager, p: Stores.Paths)

  private def ms(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Stage the generated readings files as the stream's source directory
    * (modification times kept: the file source orders files by them).
    */
  def stage(ctx: Ctx, rep: Int): String = {
    val src = new java.io.File(s"${ctx.work}/ingest/src$rep")
    src.mkdirs()
    new java.io.File(ctx.events).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val dst = new java.io.File(src, f.getName).toPath
      java.nio.file.Files.copy(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.Files.getLastModifiedTime(f.toPath))
    }
    src.getPath
  }

  def round(ctx: Ctx, src: String, r: Int, points: Long): Option[Round] = {
    val spark = ctx.spark
    val rec = ctx.rec
    val root = s"${ctx.work}/ingest/r$r"
    val p = Stores.Paths(root)
    val landing = s"$root/landing"
    val tRound = System.nanoTime()

    val land = rec.op("ingest", "land", sink = "stream") {
      Trace.span("streaming.land") {
        val q = Ingest.tier0Writer(Ingest.readingsStream(spark, src), landing,
          s"$root/ckpt_land", statsDir = Some(p.stats), histDir = Some(p.hist))
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
    }
    val landS = land.map(_._2 / 1000.0).getOrElse(Double.NaN)
    land.foreach { case (progress, _) =>
      progress.foreach { pr =>
        rec.sample("ingest.batch_ms", ms(pr, "triggerExecution"))
        rec.sample("streaming.add_batch_ms", ms(pr, "addBatch"))
        rec.sample("streaming.plan_ms", ms(pr, "queryPlanning"))
        rec.sample("streaming.source_ms", ms(pr, "latestOffset") + ms(pr, "getBatch"))
        rec.sample("streaming.commit_ms", ms(pr, "walCommit") + ms(pr, "commitOffsets"))
      }
      rec.sample("streaming.batches", progress.size)
      rec.sample("ingest_pts_per_s", progress.map(_.numInputRows).sum / landS)
    }

    val tChain = System.nanoTime()
    val tm = new TierManager(spark, s"$root/tiers")
    val decisions = s"$root/decisions"
    def step[T](kind: String, span: String, metric: String, sink: String = "write")(f: => T): Option[T] =
      rec.op("compact", kind, sink)(Trace.span(span)(f)).map { case (v, opMs) =>
        rec.sample(metric, opMs / 1000.0); v
      }

    step("policy", "streaming.policy", "streaming.policy_s", sink = "stream") {
      // the whole staged round in one micro-batch
      val q = Ingest.policyStream(spark, src, 16, decisions, s"$root/ckpt_policy",
        maxFilesPerTrigger = ctx.plan.get("sizes").get("files").asInt())
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).lastOption.foreach { so =>
        rec.sample("streaming.state_rows", so.numRowsTotal.toDouble)
        rec.sample("streaming.state_bytes", so.memoryUsedBytes.toDouble)
      }
    }
    val readings = Stores.withSeqNo(spark.read.parquet(landing))
    step("land_tier0", "tiers.land", "tiers.land_s")(tm.landTier0(readings))
    val tier0Bytes = Stores.dirBytes(tm.tier0).toDouble
    var ladderBytes = 0.0
    def wrote(dirs: String*): Unit = ladderBytes += dirs.map(Stores.dirBytes).sum
    step("quantize", "tiers.quantize", "tiers.quantize_s")(tm.compactToQuantized(Stores.FarFuture))
    wrote(tm.tier1, s"${tm.tier1}.stats")
    // every segment is complete: a rewritten segment is 16 / 4 chunks
    step("paa", "tiers.paa", "tiers.paa_s")(tm.compactToPaa(w = 4, targetCr = 0.5))
      .foreach(chunks => rec.sample("tiers.recode_accept_frac", chunks / 4.0 / (points / 16.0)))
    wrote(tm.tier2)
    step("decisions", "tiers.decisions", "tiers.decisions_s") {
      tm.applyPaaDecisions(spark.read.parquet(decisions), "paa_4", 4)
    }
    wrote(tm.tier2)
    step("paa2", "tiers.paa2", "tiers.paa2_s")(tm.compactToPaa2(w = 4, targetCr = 0.6))
    wrote(tm.tier3)
    step("dropbits", "tiers.dropbits", "tiers.dropbits_s")(tm.compactQuantizedDropBits(8))
    wrote(tm.tier1Lossy)
    rec.sample("tiers.write_amp", ladderBytes / tier0Bytes)

    // every readings segment is complete, so the codecs encode all points
    rec.op("compact", "codec_encode", sink = "write") {
      Stores.writeSegments(spark.read.parquet(tm.tier0), p)
      Stores.writeCodecs(spark, p)
    }.foreach { case (secs, _) =>
      secs.foreach { case (c, s) => rec.sample(s"codec.$c.encode_mib_s", points * 8.0 / 1048576.0 / s) }
    }
    step("buff_write", "buff.store", "buff.write_s")(Stores.writePlanes(spark, tm.tier0, p))
    val chainS = (System.nanoTime() - tChain) / 1e9
    // exact sums served from the aged chunk tiers (no readings scan)
    for ((kind, df) <- Seq("cold_sum" -> (() => tm.sumFromColdTier()), "tier3_sum" -> (() => tm.sumFromTier3()))) {
      var out: DataFrame = null
      rec.op("read", kind)(Trace.span("tiers.cold_sum") { out = df(); rec.collectAll(kind, out) })
        .foreach { case (rows, opMs) =>
          rec.sample(s"kind.$kind.ms", opMs)
          rec.digest(s"ingest.r$r.$kind", out.schema, rows)
        }
    }
    rec.sample("compact_s", chainS)
    rec.sample("round_s", (System.nanoTime() - tRound) / 1e9)
    Some(Round(root, tm, p))
  }

  /** Checks that need the program's own functions, and storage accounting,
    * for a finished round (untimed). Returns the round's directories for
    * the checks oracle.py makes against DuckDB.
    */
  def verify(ctx: Ctx, rd: Round, points: Long): String = {
    val spark = ctx.spark
    val rec = ctx.rec
    val tm = rd.tm
    val r = rd.root.split("/r").last
    def dg(key: String, df: DataFrame): Unit = rec.digest(key, df.schema, df.collect())
    dg(s"ingest.r$r.stats", ZoneMap.foldTimeStats(spark.read.parquet(rd.p.stats))
      .select(col("signal_id"), unix_micros(col("day")).as("day"), col("cnt"), col("vmin"),
        col("vmax"), col("sum_q")))
    dg(s"ingest.r$r.hist", ZoneMap.foldHistogram(spark.read.parquet(rd.p.hist)))
    codecChecks(ctx, rd.p, s"ingest.r$r")
    planeCheck(ctx, tm.tier0, rd.p, s"ingest.r$r")

    val tierBytes = Seq("tier0" -> tm.tier0, "tier1" -> tm.tier1, "tier1_lossy" -> tm.tier1Lossy,
      "tier2" -> tm.tier2, "tier3" -> tm.tier3).map { case (n, d) => n -> Stores.dirBytes(d) }
    tierBytes.foreach { case (n, b) => rec.sample(s"tiers.bytes.$n", b.toDouble) }
    val zm = Seq(rd.p.stats, rd.p.hist, s"${tm.tier0}.stats", s"${tm.tier1}.stats").map(Stores.dirBytes).sum
    rec.sample("zonemap.bytes", zm.toDouble)
    val buff = Stores.dirBytes(rd.p.planes)
    rec.sample("buff.bytes", buff.toDouble)
    val codecBytes = Stores.Codecs.map(c => Stores.dirBytes(rd.p.codec(c))).sum
    val total = tierBytes.map(_._2).sum + zm + buff + codecBytes +
      Stores.dirBytes(s"${rd.root}/landing") + Stores.dirBytes(s"${rd.root}/decisions")
    rec.sample("stored_bytes_per_point", total.toDouble / points)
    val dirs = Seq("landing" -> s"${rd.root}/landing", "tier0" -> tm.tier0, "tier1" -> tm.tier1,
      "tier1_lossy" -> tm.tier1Lossy, "tier2" -> tm.tier2, "tier3" -> tm.tier3,
      "decisions" -> s"${rd.root}/decisions", "segs" -> rd.p.segs) ++
      Stores.Codecs.map(c => s"codec_$c" -> rd.p.codec(c))
    Json.obj(("round" -> r) +: dirs.map { case (k, v) => k -> Json.str(v) })
  }

  /** Lossless codecs decode back to their input. */
  def codecChecks(ctx: Ctx, p: Stores.Paths, tag: String): Unit = {
    val spark = ctx.spark
    val segs = spark.read.parquet(p.segs)
    Stores.Codecs.foreach { c =>
      val enc = spark.read.parquet(p.codec(c))
      val dec = c match {
        case "gorilla" => transform(gorillaDecode(col("enc")), x => floor(x * 100.0 + 0.5).cast("long"))
        case "sprintz" => sprintzDecode(col("enc"))
        case "fcm" => fcmDecode(col("enc"))
        case "bp" => bpDecode(col("enc"))
      }
      val bad = enc.join(segs, Seq("signal_id", "seg"), "full")
        .filter(!(dec <=> col("qvals"))).count()
      ctx.rec.check(s"$tag.codec.$c.roundtrip", bad == 0, s"$bad segments do not decode to their input")
    }
  }

  /** BuffStore.reconstruct gives back value_q for every row. */
  def planeCheck(ctx: Ctx, tier0: String, p: Stores.Paths, tag: String, base: Long = Long.MinValue,
                 n: Int = 0): Unit = {
    val spark = ctx.spark
    val planes = spark.read.parquet(p.planes)
    val np = if (n > 0) n else planes.columns.count(_.matches("p[0-9]+"))
    val b = if (base != Long.MinValue) base
      else spark.read.parquet(tier0).agg(min(col("value_q"))).collect()(0).getLong(0)
    val bad = planes.select(col("signal_id"), col("seq_no"),
        graft.sources.BuffStore.reconstruct(b, np).as("rq"))
      .join(spark.read.parquet(tier0), Seq("signal_id", "seq_no"), "full")
      .filter(!(col("rq") <=> col("value_q"))).count()
    ctx.rec.check(s"$tag.buff.reconstruct", bad == 0, s"$bad rows reconstruct to a different value_q")
  }
}
