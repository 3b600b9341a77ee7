package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Readings

/** The multi-armed-bandit policy daemons, re-expressed deterministically.
  *
  * Two bandits in the reference share one e-greedy engine:
  *  - the COMPRESSION chooser (database/src/MABcompression_daemon.rs:46-58:
  *    EGreedy(arms, eps=0.1, q0=4.0, Nonstationary(0.3)); :125-133 rewards
  *    the chosen arm with the batch's inverse compression ratio);
  *  - the RECODING chooser (MABrecoding_daemon.rs:110-139 consumes per-band
  *    best arms whose rewards are the buffer pool's measured post-recode
  *    query error, buffer_pool.rs:940-1260; the arm set is the lossy
  *    transform menu of recoding_daemon.rs:351-416).
  *
  * The Spark shape of both:
  *  - per-batch (= per-segment) rewards for every arm are a DISTRIBUTED
  *    keyed aggregation — the part that scales with data;
  *  - the policy walk itself is a sequential fold over the ordered
  *    reward stream (one row per segment decision), exactly the
  *    reference daemon's single-threaded loop. The driver CONSUMES it
  *    incrementally — a range-partitioned total sort + `toLocalIterator`
  *    pulls one partition at a time, and the decision output is spilled
  *    back chunk-by-chunk — so driver memory is O(partition), never
  *    O(decisions), even at the 100 TB segment count;
  *  - exploration is hash-gated (mix32 of the step) instead of RNG, so
  *    the chosen arm sequence is identical on every run and in DuckDB —
  *    the whole policy carries an exact oracle (a recursive CTE walking
  *    the same Q vector).
  */
object Bandit {

  val Eps = 0.1          // MABcompression_daemon.rs:46 `let e = 0.1`
  val Step = 0.3         // :47 `let s = 0.3` (nonstationary update)
  val Q0 = 4.0           // :57 EGreedy::new(10, e, 4.0, ...)
  val SaltExplore = 21L
  val SaltArm = 22L

  /** Compression arms: codec CR estimators (bytes-per-value vs raw f64);
    * reward = 1/cr, the reference's 80000/bytes shape. */
  val CompressArms = Seq("uncompressed", "dict", "delta_bitpack", "paa_4", "rrd_4")

  /** Recoding arms: the COMPLETE lossy transform menu
    * (recoding_daemon.rs:351-416 — PAA window steps, sample-droppers,
    * bit-droppers, the PLA fit, and the Fourier truncation); reward =
    * CR gain minus the clamped MEASURED reconstruction error (the
    * query-fidelity reward of buffer_pool.rs:940-1260). The fourier
    * arm's error is the keep-4 FFT-truncation reconstruction error
    * (tier_fft_err's metric), computed in the SAME per-segment fold as
    * the other arms — its oracle twin is the direct-DFT SQL
    * recomputation, exact at 6-digit rounding; segments too short for
    * the 16-point transform (incomplete tails) take the max-clamped
    * error, so the arm is never chosen for them. CR for keep=4 of 16:
    * 4 complex low coefficients = 8 reals vs 16 -> gain 5.0. */
  val RecodeArms =
    Seq("keep", "paa_2", "paa_4", "rrd_2", "drop3bits", "pla_8", "fourier")

  private def ceilLog2(m: Long): Long =
    java.lang.Long.toBinaryString(math.max(m, 2L) - 1L).length.toLong

  /** mix32 of a driver-side long (same arithmetic as Fixtures.mix32). */
  private def mix32L(id: Long, salt: Long): Long = {
    val M = 4294967296L
    val a = ((id % M) * 1540483477L + salt) % M
    val b = ((a ^ (a >> 16)) * 668265261L) % M
    val c = ((b ^ (b >> 13)) * 1540483477L) % M
    c ^ (c >> 16)
  }

  // ---------------------------------------------------------------------
  // the generic e-greedy walk (driver side + its DuckDB recursive twin)
  // ---------------------------------------------------------------------

  /** Fold the e-greedy policy LAZILY over an ordered reward iterator —
    * one independent Q walk per band (per-CR-band best arms,
    * MABrecoding_daemon.rs:48; the unbanded walk is band 0 only). State
    * is O(bands × arms), never O(stream): this is the reference daemon's
    * incremental consumption loop (MABrecoding_daemon.rs:110-139), not a
    * materialized replay. Emits (band, step-within-band, arm, explored,
    * reward, post-update Q).
    */
  private def walkIter(stream: Iterator[(Long, Array[Double])],
                       arms: Seq[String])
      : Iterator[(Long, Long, String, Boolean, Double, Double)] = {
    val qs = collection.mutable.Map.empty[Long, Array[Double]]
    val steps = collection.mutable.Map.empty[Long, Long]
    stream.map { case (band, rewards) =>
      val q = qs.getOrElseUpdate(band, Array.fill(arms.length)(Q0))
      val step = steps.getOrElse(band, 0L) + 1L
      steps(band) = step
      val (arm, explored, r, qAfter) = policyStep(q, step, rewards, arms)
      (band, step, arm, explored, r, qAfter)
    }
  }

  /** ONE policy decision over carried state — the unit the streaming
    * daemon executes per sealed segment (Ingest.policyStream) and the
    * batch replays fold repeatedly: hash-gated explore, greedy argmax
    * with lowest-index tie-break, nonstationary Q update IN PLACE.
    * Returns (chosen arm, explored, observed reward, post-update Q).
    */
  def policyStep(q: Array[Double], step: Long, rewards: Array[Double],
                 arms: Seq[String]): (String, Boolean, Double, Double) = {
    val explored = mix32L(step, SaltExplore) % 1000000L <
      math.round(Eps * 1000000L)
    // greedy argmax with lowest-index tie-break (initial all-equal Q)
    val greedy = q.zipWithIndex.maxBy { case (v, idx) => (v, -idx) }._2
    val arm =
      if (explored) (mix32L(step, SaltArm) % arms.length).toInt else greedy
    val r = rewards(arm)
    q(arm) = q(arm) + Step * (r - q(arm))
    (arms(arm), explored, r, q(arm))
  }

  /** Rows the driver holds at once while assembling the decision frame:
    * one chunk, regardless of stream length. */
  private val ChunkRows = 1 << 20

  /** Materialize the lazy decision stream as a DataFrame with BOUNDED
    * driver memory: a stream that fits one chunk stays a local relation;
    * anything longer spills chunk-by-chunk to scratch parquet and is read
    * back distributed, so the driver footprint is O(ChunkRows) at any
    * scale (the 100 TB path — ~1e8 policy decisions never co-reside on
    * the driver).
    */
  private def decisionsDf(spark: SparkSession,
      it: Iterator[(Long, Long, String, Boolean, Double, Double)])
      : DataFrame = {
    import spark.implicits._
    def chunkDf(c: Seq[(Long, Long, String, Boolean, Double, Double)]) =
      c.toDF("band", "step", "codec", "explored", "reward_raw", "q_raw")
    val chunks = it.grouped(ChunkRows)
    if (!chunks.hasNext) chunkDf(Nil)
    else {
      val first = chunks.next()
      if (!chunks.hasNext) chunkDf(first)
      else {
        val dir = graft.operators.Materialize.scratchDir("bandit-decisions")
        chunkDf(first).write.mode("append").parquet(dir)
        chunks.foreach(c => chunkDf(c).write.mode("append").parquet(dir))
        spark.read.parquet(dir)
      }
    }
  }

  private def finishPlain(df: DataFrame): DataFrame =
    df.select(col("step"), col("codec"), col("explored"),
      round(col("reward_raw"), 6).as("reward"),
      round(col("q_raw"), 6).as("q_after"))

  private def finishBanded(df: DataFrame): DataFrame =
    df.select(col("band"), col("step"), col("codec"), col("explored"),
      round(col("reward_raw"), 6).as("reward"),
      round(col("q_raw"), 6).as("q_after"))

  /** Ordered constant-memory feed over a per-segment reward frame: the
    * total sort range-partitions on (signal_id, seg) and
    * `toLocalIterator` then pulls ONE partition at a time to the driver —
    * the stream is never materialized whole (vs the pre-r6 full collect).
    */
  private def orderedFeed(rewards: DataFrame): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    rewards.orderBy("signal_id", "seg").toLocalIterator().asScala
  }

  def walk(spark: SparkSession, stream: Seq[Array[Double]],
           arms: Seq[String]): DataFrame =
    finishPlain(decisionsDf(spark,
      walkIter(stream.iterator.map(r => (0L, r)), arms)))

  /** The DuckDB recomputation of [[walk]]: `stepsCte` must end with a CTE
    * `steps(step, r0 .. r{k-1})` (step 1-based, r_i DOUBLE) and already
    * start `WITH RECURSIVE`; the walk re-runs as a recursive CTE carrying
    * the k-arm Q vector.
    */
  def walkSql(stepsCte: String, arms: Seq[String]): String = {
    val k = arms.length
    val idx = arms.indices
    val eps = math.round(Eps * 1000000L)
    // hash gates depend only on the step — compute them ONCE in the
    // materialized steps table instead of per recursive iteration (the
    // inlined mix32/CASE tree made each of the N iterations pay the
    // whole expression; materialization cuts the oracle from minutes
    // to seconds)
    val expS = Fixtures.mix32Sql("step", SaltExplore) + s" % 1000000 < $eps"
    val earmS = Fixtures.mix32Sql("step", SaltArm) + s" % $k"
    // greedy argmax, lowest index wins ties
    val greedy = "CASE " + idx.init.map { i =>
      val geAll = (i + 1 until k).map(j => s"p.q$i >= p.q$j").mkString(" AND ")
      s"WHEN $geAll THEN $i"
    }.mkString(" ") + s" ELSE ${k - 1} END"
    val arm = s"(CASE WHEN t.explored THEN t.earm ELSE $greedy END)"
    val rew = "(CASE " + s"$arm" +
      idx.init.map(i => s" WHEN $i THEN t.r$i").mkString +
      s" ELSE t.r${k - 1} END)"
    def qNext(i: Int) =
      s"CASE WHEN $arm = $i THEN p.q$i + 0.3 * ($rew - p.q$i) ELSE p.q$i END AS q$i"
    val seedQs = idx.map(i => s"CAST($Q0 AS DOUBLE) AS q$i").mkString(", ")
    val nameCase = "CASE arm " +
      idx.init.map(i => s"WHEN $i THEN '${arms(i)}' ").mkString +
      s"ELSE '${arms(k - 1)}' END"
    val qCase = "CASE arm " +
      idx.init.map(i => s"WHEN $i THEN q$i ").mkString + s"ELSE q${k - 1} END"
    s"""$stepsCte, gated AS MATERIALIZED (
       |  SELECT *, $expS AS explored, CAST($earmS AS INT) AS earm FROM steps
       |), sim AS (
       |  -- seed types define the CTE's column types: force DOUBLE (bare
       |  -- literals are DECIMAL in DuckDB and the Q updates overflow them)
       |  SELECT CAST(0 AS BIGINT) AS step, $seedQs,
       |         -1 AS arm, false AS explored, CAST(0.0 AS DOUBLE) AS reward
       |  UNION ALL
       |  SELECT t.step, ${idx.map(qNext).mkString(", ")},
       |         $arm AS arm, t.explored AS explored, $rew AS reward
       |  FROM sim p JOIN gated t ON t.step = p.step + 1
       |)
       |SELECT step, $nameCase AS codec, explored, round(reward, 6) AS reward,
       |       round($qCase, 6) AS q_after
       |FROM sim WHERE step >= 1""".stripMargin
  }

  /** Banded variant of [[walkSql]]: `stepsCte` must end with a CTE
    * `steps(band, step, r0 .. r{k-1})` where `step` is 1-based WITHIN its
    * band; one independent recursive walk runs per band (the reference's
    * per-CR-band best arms, MABrecoding_daemon.rs:48 `bestarms`).
    */
  def walkBandedSql(stepsCte: String, arms: Seq[String],
                    bands: Int): String = {
    val k = arms.length
    val idx = arms.indices
    val eps = math.round(Eps * 1000000L)
    // hash gates precomputed per steps row (see walkSql)
    val expS = Fixtures.mix32Sql("step", SaltExplore) + s" % 1000000 < $eps"
    val earmS = Fixtures.mix32Sql("step", SaltArm) + s" % $k"
    val greedy = "CASE " + idx.init.map { i =>
      val geAll = (i + 1 until k).map(j => s"p.q$i >= p.q$j").mkString(" AND ")
      s"WHEN $geAll THEN $i"
    }.mkString(" ") + s" ELSE ${k - 1} END"
    val arm = s"(CASE WHEN t.explored THEN t.earm ELSE $greedy END)"
    val rew = "(CASE " + s"$arm" +
      idx.init.map(i => s" WHEN $i THEN t.r$i").mkString +
      s" ELSE t.r${k - 1} END)"
    def qNext(i: Int) =
      s"CASE WHEN $arm = $i THEN p.q$i + 0.3 * ($rew - p.q$i) ELSE p.q$i END AS q$i"
    val seedQs = idx.map(i => s"CAST($Q0 AS DOUBLE) AS q$i").mkString(", ")
    val nameCase = "CASE arm " +
      idx.init.map(i => s"WHEN $i THEN '${arms(i)}' ").mkString +
      s"ELSE '${arms(k - 1)}' END"
    val qCase = "CASE arm " +
      idx.init.map(i => s"WHEN $i THEN q$i ").mkString + s"ELSE q${k - 1} END"
    val sims = (0 until bands).map { b =>
      s"""sim$b AS (
         |  SELECT CAST(0 AS BIGINT) AS step, $seedQs,
         |         -1 AS arm, false AS explored, CAST(0.0 AS DOUBLE) AS reward
         |  UNION ALL
         |  SELECT t.step, ${idx.map(qNext).mkString(", ")},
         |         $arm AS arm, t.explored AS explored, $rew AS reward
         |  FROM sim$b p JOIN gated t ON t.step = p.step + 1 AND t.band = $b
         |)""".stripMargin
    }.mkString(", ")
    val finals = (0 until bands).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS band, step, $nameCase AS codec, explored,
         |       round(reward, 6) AS reward, round($qCase, 6) AS q_after
         |FROM sim$b WHERE step >= 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$stepsCte, gated AS MATERIALIZED (
       |  SELECT *, $expS AS explored, CAST($earmS AS INT) AS earm FROM steps
       |), $sims
       |$finals""".stripMargin
  }

  // ---------------------------------------------------------------------
  // compression bandit (MABcompression_daemon.rs)
  // ---------------------------------------------------------------------

  /** Per-segment compression-reward inputs, computed distributed: one
    * keyed aggregation over (signal, segment) with an intra-segment delta
    * window — two keyed exchanges, scales like any windowed agg.
    */
  def rewardInputs(readings: DataFrame): DataFrame = {
    val seg = Readings.segmentId(col("seq_no"))
    val w = Window.partitionBy(col("signal_id"), seg).orderBy(col("seq_no"))
    readings
      .withColumn("d", col("value_q") - lag(col("value_q"), 1).over(w))
      .groupBy(col("signal_id"), seg.as("seg"))
      .agg(countDistinct(col("value_q")).as("nd"),
        coalesce(round(expr("percentile(abs(d), 0.95)"), 6), lit(0.0)).as("p95"))
  }

  /** Replay the compression chooser incrementally over the ordered
    * segment stream (constant driver memory — see [[orderedFeed]]). */
  def egreedyReplay(readings: DataFrame): DataFrame = {
    val stream = orderedFeed(rewardInputs(readings)).map { r =>
      val nd = r.getLong(2)
      val p95 = r.getDouble(3)
      val rDict = 64.0 / ceilLog2(nd)
      val p95i = math.max(2L, math.ceil(p95).toLong)
      val rDelta = 64.0 / (ceilLog2(2L * p95i) + 1L)
      (0L, Array(1.0, rDict, rDelta, 4.0, 4.0))
    }
    finishPlain(decisionsDf(readings.sparkSession,
      walkIter(stream, CompressArms)))
  }

  /** Oracle for [[egreedyReplay]]. `oracleCte` must already start
    * `WITH RECURSIVE` (the caller rewrites the readings prefix). */
  def egreedyReplaySql(oracleCte: String): String =
    walkSql(compressStepsCte(oracleCte), CompressArms)

  /** Non-recursive rewards chain for the compression bandit — ends in
    * CTE `steps(step, r0..r4)`. Linear SQL, so the sf0.1 invariant
    * checker can recompute every step's reward menu without the
    * recursive walk (ScaleInvariants).
    */
  private[graft] def compressStepsCte(oracleCte: String): String =
    s"""$oracleCte, segrows AS (
       |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg, value_q,
       |         value_q - lag(value_q) OVER (
       |           PARTITION BY signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT)
       |           ORDER BY seq_no) AS d
       |  FROM r
       |), agg AS (
       |  SELECT signal_id, seg, CAST(count(DISTINCT value_q) AS BIGINT) AS nd,
       |         round(coalesce(quantile_cont(abs(d), 0.95), 0), 6) AS p95
       |  FROM segrows GROUP BY 1, 2
       |), steps AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY signal_id, seg) AS BIGINT) AS step,
       |         CAST(1.0 AS DOUBLE) AS r0,
       |         64.0 / length(bin(greatest(nd, 2) - 1)) AS r1,
       |         64.0 / (length(bin(2 * greatest(2, CAST(ceil(p95) AS BIGINT)) - 1)) + 1) AS r2,
       |         CAST(4.0 AS DOUBLE) AS r3, CAST(4.0 AS DOUBLE) AS r4
       |  FROM agg
       |)""".stripMargin

  // ---------------------------------------------------------------------
  // recoding bandit (MABrecoding_daemon.rs + buffer_pool.rs:940-1260)
  // ---------------------------------------------------------------------

  /** Per-segment recoding rewards, computed distributed: for each lossy
    * arm, reward = 10·(1 − cr) − min(measured reconstruction error, 10).
    * PAA means come from exact fixed-point chunk sums; RRD error is the
    * forward-fill gap; drop3bits error is the discarded low-bit
    * remainder; PLA error is the least-squares residual from exact
    * in-window moments. All five metrics fold in ONE pass per segment
    * (one keyed exchange) — a window formulation would pay one shuffle
    * per chunk width.
    */
  def recodeRewardInputs(readings: DataFrame): DataFrame = {
    val spark = readings.sparkSession
    import spark.implicits._
    // every arm's chunk/fit window nests inside the 16-row segment, so
    // ALL error metrics fold in one pass per segment — ONE keyed
    // exchange, instead of one window shuffle per chunk width. Chunk
    // sums are exact longs (order-free) and every double step mirrors
    // the oracle SQL operation-for-operation, so the fold is
    // bit-identical to the windowed formulation.
    val raw = readings
      .select(col("signal_id"), col("seq_no"), col("value"), col("value_q"))
      .as[(Long, Long, Double, Long)]
      .groupByKey { case (sid, seq, _, _) => (sid, (seq - 1) / Readings.SegmentRows) }
      .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Double, Long)]) =>
        val (sid, seg) = key
        val rows = it.map(r => (r._2, r._3, r._4)).toArray
        val (e2, e4, er, ed, ep, ef, nd) = segmentErrors(rows)
        (sid, seg, e2, e4, er, ed, ep, ef, nd)
      }
      .toDF("signal_id", "seg", "e2", "e4", "er", "ed", "ep", "ef", "nd")
    rewardSelect(raw)
  }

  /** Pure per-segment error fold (shared by the batch job and the
    * streaming twin, Ingest.rewardStream): rows are (seq_no, value,
    * value_q) of ONE segment, any order.
    */
  def segmentErrors(rowsIn: Array[(Long, Double, Long)])
      : (Double, Double, Double, Double, Double, Double, Long) = {
    val rows = rowsIn.sortBy(_._1)
    def chunkOf(seq: Long, w: Long): Long = (seq - 1) / w
    // exact (sum, count) per chunk width
    def stats(w: Long): collection.Map[Long, (Long, Long)] =
      rows.groupBy(r => chunkOf(r._1, w))
        .map { case (c, rs) => (c, (rs.map(_._3).sum, rs.length.toLong)) }
    val s2 = stats(2L); val s4 = stats(4L)
    // PLA(8) moments per 8-chunk: x = in-chunk offset
    val pla = rows.groupBy(r => chunkOf(r._1, 8L)).map { case (c, rs) =>
      val xs = rs.map(r => (r._1 - 1) - c * 8L)
      val n = rs.length.toLong
      val sx = xs.sum
      val sy = rs.map(_._3).sum
      val sxy = xs.zip(rs).map { case (x, r) => x * r._3 }.sum
      val sxx = xs.map(x => x * x).sum
      val den = n * sxx - sx * sx
      val slope = if (den == 0) 0.0
        else (n * sxy - sx * sy).toDouble / den.toDouble
      val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      (c, (slope, icept))
    }
    var e2 = 0.0; var e4 = 0.0; var er = 0.0; var ed = 0.0; var ep = 0.0
    // prev is Option so a segment whose first present row sits at an odd
    // in-segment offset (gapped seq_no) contributes NO rrd error — the
    // oracle's lag() yields NULL there and max() ignores it
    var prev: Option[Double] = None
    for ((seq, v, q) <- rows) {
      val (sq2, n2) = s2(chunkOf(seq, 2L))
      e2 = math.max(e2, math.abs(v - sq2.toDouble / (100.0 * n2.toDouble)))
      val (sq4, n4) = s4(chunkOf(seq, 4L))
      e4 = math.max(e4, math.abs(v - sq4.toDouble / (100.0 * n4.toDouble)))
      if ((seq - 1) % 2 != 0)
        prev.foreach(p => er = math.max(er, math.abs(v - p)))
      prev = Some(v)
      ed = math.max(ed, java.lang.Math.floorMod(q, 8L).toDouble / 100.0)
      val (slope, icept) = pla(chunkOf(seq, 8L))
      val x = (seq - 1) - chunkOf(seq, 8L) * 8L
      ep = math.max(ep, math.abs(v - (icept + slope * x.toDouble) / 100.0))
    }
    val nd = rows.map(_._3).distinct.length.toLong
    // fourier arm error: keep-4 FFT-truncation reconstruction (the
    // tier_fft_err metric, same Breeze path — its 6-digit-rounded value
    // is oracle-proven equal to the direct-DFT SQL recomputation).
    // Incomplete segments can't ride the 16-point transform: max-clamped
    // error, the arm is never preferred for them
    val ef =
      if (rows.length == Readings.SegmentRows.toInt) {
        val vs = rows.map(_._2)
        graft.functions.TierTransforms.maxAbsError(vs,
          graft.functions.TierTransforms.fftTruncate(vs, 4))
      } else 10.0
    (e2, e4, er, ed, ep, ef, nd)
  }

  /** Raw per-segment errors -> per-arm rewards (shared projection). The
    * fourier error is 6-digit-rounded BEFORE the reward arithmetic: the
    * rounded value is what tier_fft_err proves equal across engines, so
    * every subsequent double op is bit-identical on both sides. */
  def rewardSelect(raw: DataFrame): DataFrame =
    raw.select(col("signal_id"), col("seg"),
      lit(0.0).as("r0"), // keep: no CR gain, no error
      round(lit(5.0) - least(col("e2"), lit(10.0)), 6).as("r1"),
      round(lit(7.5) - least(col("e4"), lit(10.0)), 6).as("r2"),
      round(lit(5.0) - least(col("er"), lit(10.0)), 6).as("r3"),
      round(lit(0.46875) - least(col("ed"), lit(10.0)), 6).as("r4"),
      round(lit(7.5) - least(col("ep"), lit(10.0)), 6).as("r5"), // cr 2/8
      round(lit(5.0) - least(round(col("ef"), 6), lit(10.0)), 6).as("r6"), // cr 8/16
      col("nd"))

  /** Replay the recoding chooser incrementally over the ordered segment
    * stream (constant driver memory — see [[orderedFeed]]). */
  def recodeReplay(readings: DataFrame): DataFrame = {
    val stream = orderedFeed(recodeRewardInputs(readings)).map { r =>
      (0L, Array(r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    }
    finishPlain(decisionsDf(readings.sparkSession,
      walkIter(stream, RecodeArms)))
  }

  /** Banded recode replay — the reference keeps one best arm PER
    * compression-ratio band (MABrecoding_daemon.rs:48,110-139
    * `bestarms: (usize,usize,usize)` for CR 0.25 / 0.125 / below). The
    * band here is the segment's current-CR class, proxied by its
    * dictionary bit width (1 bit / 2 bits / wider). All three bands fold
    * in ONE pass over the globally-ordered stream — [[walkIter]] carries
    * an independent Q vector and step counter per band, so each band
    * sees exactly its own (signal_id, seg)-ordered substream, identical
    * to three separate sorted walks but with one scan and O(1) state.
    */
  def recodeBandReplay(readings: DataFrame): DataFrame = {
    val stream = orderedFeed(recodeRewardInputs(readings)).map { r =>
      val band = ceilLog2(r.getLong(9)) match {
        case 1L => 0L
        case 2L => 1L
        case _ => 2L
      }
      (band, Array(r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
    }
    finishBanded(decisionsDf(readings.sparkSession,
      walkIter(stream, RecodeArms)))
  }

  /** Oracle for [[recodeReplay]]. `oracleCte` must already start
    * `WITH RECURSIVE`. */
  def recodeReplaySql(oracleCte: String): String =
    walkSql(recodeStepsCte(oracleCte, banded = false), RecodeArms)

  /** Shared rewards CTE chain for the recode oracles: ends with a CTE
    * `steps([band,] step, r0..r6)`. Non-recursive — also reused by the
    * sf0.1 invariant checker to verify reward values without the walk
    * (ScaleInvariants). */
  private[graft] def recodeStepsCte(oracleCte: String, banded: Boolean): String = {
    val bandCol =
      if (banded) "band," else ""
    val stepNum =
      if (banded)
        "CAST(row_number() OVER (PARTITION BY band ORDER BY signal_id, seg) AS BIGINT)"
      else "CAST(row_number() OVER (ORDER BY signal_id, seg) AS BIGINT)"
    val bandedSrc =
      if (banded)
        """, banded AS (
          |  SELECT *, CASE length(bin(greatest(nd, 2) - 1))
          |              WHEN 1 THEN 0 WHEN 2 THEN 1 ELSE 2 END AS band
          |  FROM erf
          |)""".stripMargin
      else ""
    val src = if (banded) "banded" else "erf"
    s"""$oracleCte, segrows AS (
       |  SELECT signal_id, value, value_q, seq_no,
       |         CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
       |         CAST(floor((seq_no - 1) / 2.0) AS BIGINT) AS c2,
       |         CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS c4,
       |         CAST(floor((seq_no - 1) / 8.0) AS BIGINT) AS c8,
       |         (seq_no - 1) - CAST(floor((seq_no - 1) / 8.0) AS BIGINT) * 8 AS x8
       |  FROM r
       |), wm AS (
       |  SELECT signal_id, seg, value, value_q, seq_no, x8,
       |    CAST(sum(value_q) OVER (PARTITION BY signal_id, c2) AS DOUBLE) /
       |      (100.0 * CAST(count(*) OVER (PARTITION BY signal_id, c2) AS DOUBLE)) AS m2,
       |    CAST(sum(value_q) OVER (PARTITION BY signal_id, c4) AS DOUBLE) /
       |      (100.0 * CAST(count(*) OVER (PARTITION BY signal_id, c4) AS DOUBLE)) AS m4,
       |    lag(value) OVER (PARTITION BY signal_id, seg ORDER BY seq_no) AS prev,
       |    count(*) OVER w8 AS n8, sum(x8) OVER w8 AS sx8,
       |    sum(value_q) OVER w8 AS sy8, sum(x8 * value_q) OVER w8 AS sxy8,
       |    sum(x8 * x8) OVER w8 AS sxx8
       |  FROM segrows WINDOW w8 AS (PARTITION BY signal_id, c8)
       |), pf AS (
       |  SELECT *, CASE WHEN n8 * sxx8 - sx8 * sx8 = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(n8 * sxy8 - sx8 * sy8 AS DOUBLE) /
       |              CAST(n8 * sxx8 - sx8 * sx8 AS DOUBLE) END AS slope8
       |  FROM wm
       |), pf2 AS (
       |  SELECT *, (CAST(sy8 AS DOUBLE) - slope8 * CAST(sx8 AS DOUBLE)) /
       |            CAST(n8 AS DOUBLE) AS icept8
       |  FROM pf
       |), er AS (
       |  SELECT signal_id, seg,
       |    max(abs(value - m2)) AS e2,
       |    max(abs(value - m4)) AS e4,
       |    max(CASE WHEN ((seq_no - 1) % 2 + 2) % 2 = 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE abs(value - prev) END) AS er,
       |    max(CAST((value_q % 8 + 8) % 8 AS DOUBLE) / 100.0) AS ed,
       |    max(abs(value - (icept8 + slope8 * CAST(x8 AS DOUBLE)) / 100.0)) AS ep,
       |    CAST(count(DISTINCT value_q) AS BIGINT) AS nd
       |  FROM pf2 GROUP BY 1, 2
       |), fsegs AS (
       |  -- fourier arm: keep-4 FFT reconstruction error via direct DFT
       |  -- sums (7 live coefficients of the 16-pt transform — the
       |  -- tier_fft_err oracle's formulation), complete segments only
       |  SELECT signal_id, seg, list(value ORDER BY seq_no) AS vals,
       |         count(*) AS cnt
       |  FROM segrows GROUP BY 1, 2
       |), ff AS (
       |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM fsegs WHERE cnt = 16
       |), fks AS (SELECT unnest([0,1,2,3,13,14,15]) AS k),
       |fsx AS (
       |  SELECT ff.signal_id, ff.seg, fks.k,
       |    list_sum([ff.vals[m]*cos(2*pi()*(m-1)*fks.k/16.0) for m in range(1,17)]) AS xr,
       |    -list_sum([ff.vals[m]*sin(2*pi()*(m-1)*fks.k/16.0) for m in range(1,17)]) AS xi
       |  FROM ff, fks
       |), frec AS (
       |  SELECT fsx.signal_id, fsx.seg, t.m,
       |    sum(fsx.xr*cos(2*pi()*t.m*fsx.k/16.0) - fsx.xi*sin(2*pi()*t.m*fsx.k/16.0)) / 16.0 AS rv
       |  FROM fsx, range(0,16) t(m)
       |  GROUP BY 1, 2, 3
       |), fe AS (
       |  SELECT ff.signal_id, ff.seg,
       |    round(max(abs(ff.vals[frec.m+1] - frec.rv)), 6) AS ef
       |  FROM ff JOIN frec USING (signal_id, seg)
       |  GROUP BY 1, 2
       |), erf AS (
       |  -- incomplete segments take the max-clamped fourier error
       |  SELECT er.*, coalesce(fe.ef, CAST(10.0 AS DOUBLE)) AS ef
       |  FROM er LEFT JOIN fe USING (signal_id, seg)
       |)$bandedSrc, steps AS MATERIALIZED (
       |  SELECT $bandCol $stepNum AS step,
       |    CAST(0.0 AS DOUBLE) AS r0,
       |    round(5.0 - least(e2, 10.0), 6) AS r1,
       |    round(7.5 - least(e4, 10.0), 6) AS r2,
       |    round(5.0 - least(er, 10.0), 6) AS r3,
       |    round(CAST(0.46875 AS DOUBLE) - least(ed, 10.0), 6) AS r4,
       |    round(7.5 - least(ep, 10.0), 6) AS r5,
       |    round(5.0 - least(ef, 10.0), 6) AS r6
       |  FROM $src
       |)""".stripMargin
  }

  /** Oracle for [[recodeBandReplay]]. `oracleCte` must already start
    * `WITH RECURSIVE`. */
  def recodeBandReplaySql(oracleCte: String): String =
    walkBandedSql(recodeStepsCte(oracleCte, banded = true), RecodeArms,
      bands = 3)
}
