package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ml.Dbscan
import graft.operators.{Dedup, MotifDiscord, Readings, SegmentMl, Segments}
import graft.sources.IvfStore
import graft.streaming.Ingest

/** mining_batch: sequential batch jobs — series jobs over seeded
  * segments and corpus jobs over the seeded documents and vectors. One
  * round runs every job once; rounds repeat until time is up.
  */
final class MiningWorkload(ctx: Ctx) {
  private val spark = ctx.spark
  private val m = ctx.mining
  private var root: String = _
  private var centroids: Seq[(Int, Seq[Double])] = Nil
  private val testSignals = ctx.longs(m.get("test_signals"))

  private def segs = spark.read.parquet(s"$root/segs")
  private def segsQ = spark.read.parquet(s"$root/segsq")
  private def pstreamSrc = s"$root/pstream_src"

  /** Stage the series segments, the streaming-profile source files and
    * the IVF centroid dictionary.
    */
  def setup(rep: Int): Unit = {
    root = s"${ctx.work}/mining/s$rep"
    val sigs = ctx.longs(m.get("signals"))
    val r = Readings.of(spark, ctx.input).filter(col("signal_id").isin(sigs: _*))
    Segments.complete(r).write.mode("overwrite").parquet(s"$root/segs")
    Segments.completeQuantized(r).write.mode("overwrite").parquet(s"$root/segsq")
    val src = new java.io.File(pstreamSrc)
    src.mkdirs()
    val files = new java.io.File(ctx.events).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).take(m.get("profile_stream_files").asInt())
    files.foreach { f =>
      val dst = new java.io.File(src, f.getName).toPath
      java.nio.file.Files.copy(f.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.Files.getLastModifiedTime(f.toPath))
    }
    val ids = ctx.longs(m.get("ivf_centroids"))
    centroids = vectors.filter(col("vec_id").isin(ids: _*)).orderBy(col("vec_id")).collect()
      .zipWithIndex.map { case (row, i) => i -> row.getSeq[Float](1).map(_.toDouble) }.toSeq
  }

  private def vectors = spark.read.parquet(s"${ctx.input}/embeddings.parquet")
  private def probes = vectors.filter(col("vec_id").isin(ctx.longs(m.get("probes")): _*))
    .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))

  private var round = 0

  /** One round: every job once, each a timed op whose result is collected. */
  def runRound(): Unit = {
    round += 1
    val rec = ctx.rec
    var seriesS = 0.0
    var corpusS = 0.0
    def job(family: String, kind: String, metric: String)(f: => (DataFrame, Array[Row])): Option[Array[Row]] =
      rec.op(family, kind)(Trace.span(s"mining.$kind")(f)).map { case ((df, rows), opMs) =>
        rec.sample(metric, opMs / 1000.0)
        rec.sample("mining_job_ms", opMs)
        if (family == "series") seriesS += opMs / 1000.0 else corpusS += opMs / 1000.0
        if (!rec.digest(s"m.$kind", df.schema, rows))
          rec.failLast(s"repeat.m.$kind", s"$kind result differs from its first run")
        rec.dump(s"m.$kind", df.schema, rows)
        rows
      }
    def collected(kind: String, df: DataFrame) = (df, rec.collectAll(kind, df))

    job("series", "knn", "mining.knn_s")(collected("knn", SegmentMl.knnSegments(segs, testSignals)))
    job("series", "dtw", "mining.dtw_s")(
      collected("dtw", SegmentMl.dtwKnn(segsQ, testSignals, m.get("dtw_band").asInt())))
    job("series", "profile", "mining.profile_s")(collected("profile", MotifDiscord.profileAuto(segsQ)))
    job("series", "discord", "mining.discord_s")(
      collected("discord", MotifDiscord.discordTopK(segsQ, m.get("discord_k").asInt())))
    job("series", "profile_stream", "mining.profile_stream_s") {
      val wd = s"$root/pstream_r$round"
      val q = Ingest.profileStream(spark, pstreamSrc, wd, segRows = 16, maxFilesPerTrigger = 1)
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
        Option(pr.durationMs.get("triggerExecution")).foreach(v =>
          rec.sample("streaming.profile_batch_ms", v.toDouble))
      }
      collected("profile_stream", Ingest.readProfile(spark, wd))
    }
    job("series", "dbscan", "mining.dbscan_s")(collected("dbscan",
      Dbscan.dbscan(spark.read.parquet(s"${ctx.input}/points.parquet"),
        m.get("dbscan_eps").asDouble(), m.get("dbscan_min_pts").asInt())))

    val docs = spark.read.parquet(s"${ctx.input}/documents.parquet")
    var pairSchema: org.apache.spark.sql.types.StructType = null
    val pairs = job("corpus", "minhash", "mining.minhash_s") {
      val out = collected("minhash", Dedup.minhashNearDup(docs, m.get("dedup_threshold").asDouble()))
      pairSchema = out._1.schema
      out
    }
    pairs.foreach { rows =>
      val edges = spark.createDataFrame(java.util.Arrays.asList(rows: _*), pairSchema)
      val first = Trace.spans.size
      job("corpus", "cc", "mining.cc_s")(collected("cc", Dedup.connectedComponentsAuto(edges)))
      if (Trace.enabled && Main.listener != null) {
        Main.drain()
        val s = Trace.spans(first)
        rec.sample("mining.cc_jobs", Main.listener.window(s.start, s.end).jobs)
      }
    }
    val ivf = s"$root/ivf_r$round"
    rec.op("corpus", "ivf_build", sink = "write")(Trace.span("mining.ivf_build") {
      IvfStore.write(vectors, "vec_id", "embedding", centroids, ivf)
    }).foreach { case (_, opMs) =>
      rec.sample("mining.ivf_build_s", opMs / 1000.0); rec.sample("mining_job_ms", opMs)
      corpusS += opMs / 1000.0
    }
    job("corpus", "ivf_probe", "mining.ivf_probe_s")(collected("ivf_probe",
      IvfStore.topK(spark, ivf, probes, m.get("ivf_k").asInt(), centroids, m.get("ivf_nprobe").asInt())))
    rec.sample("mining_series_s", seriesS)
    rec.sample("mining_corpus_s", corpusS)
    rec.sample("round_s", seriesS + corpusS)
  }
}
