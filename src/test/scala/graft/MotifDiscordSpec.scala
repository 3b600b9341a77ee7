package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{MotifDiscord, Readings, Segments}
import graft.functions.DtwFunctions.sqDistQ

/** The pruned discord/motif must (a) reproduce the naive all-pairs
  * results exactly, and (b) enumerate sub-quadratically many candidate
  * pairs when segments spread — the invariant that retires the r8
  * scale-killer (within-signal O(m²) self-joins).
  */
class MotifDiscordSpec extends AnyFunSuite with SparkTest {

  private def bruteDiscord(segs: DataFrame): DataFrame = {
    val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"))
    val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"))
    val nnd = a.join(b, Seq("signal_id"))
      .where(col("seg_a") =!= col("seg_b"))
      .groupBy(col("signal_id"), col("seg_a"))
      .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("signal_id")).orderBy(col("nnd_q").desc, col("seg_a"))
    nnd.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
  }

  private def bruteMotif(segs: DataFrame): DataFrame = {
    val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"))
    val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"))
    val pairs = a.join(b, Seq("signal_id"))
      .where(col("seg_a") < col("seg_b"))
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("dist_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("signal_id"))
      .orderBy(col("dist_q").asc, col("seg_a"), col("seg_b"))
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("signal_id"), col("seg_a"), col("seg_b"), col("dist_q"))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("pruned discord/motif match the all-pairs results on real data") {
    val segs = Segments.completeQuantized(
      Readings.of(spark, "/root/testdata/sf0.001"))
    // pruneAbove = 0 forces the PRUNED route regardless of history length
    assert(sorted(MotifDiscord.discord(segs, pruneAbove = 0)) ==
      sorted(bruteDiscord(segs)))
    assert(sorted(MotifDiscord.motif(segs, pruneAbove = 0)) ==
      sorted(bruteMotif(segs)))
    // and the default (router) agrees whichever route it takes
    assert(sorted(MotifDiscord.discord(segs)) == sorted(bruteDiscord(segs)))
    assert(sorted(MotifDiscord.motif(segs)) == sorted(bruteMotif(segs)))
  }

  /** Synthetic segments directly (signal_id, seg, qvals): segment k is the
    * constant value k*1000 with a +-1 wiggle so distances are nonzero and
    * adjacent thresholds stay tight.
    */
  private def spreadFixture(m: Int): DataFrame = {
    import spark.implicits._
    (0 until m).map { k =>
      val base = k.toLong * 1000L
      (0L, k.toLong, (0 until 16).map(j => base + (j % 2).toLong).toArray)
    }.toDF("signal_id", "seg", "qvals")
  }

  test("candidate pair count is sub-quadratic on spread segments") {
    val segs = spreadFixture(200)
    // discord thresholds: T = max adjacent distance; candidates carry both
    // orientations, so the naive count would be m*(m-1) = 39800
    val thrD = MotifDiscord.adjacentPairs(segs)
      .groupBy(col("signal_id")).agg(max(col("adj_d")).as("t"))
    val nD = MotifDiscord.pairs(segs, segs, Some(thrD)).count()
    assert(nD < 10L * 200, s"discord candidates not linear: $nD")
    val thrM = MotifDiscord.adjacentPairs(segs)
      .groupBy(col("signal_id")).agg(min(col("adj_d")).as("t"))
    val nM = MotifDiscord.pairs(segs, segs, Some(thrM)).count()
    assert(nM < 10L * 200, s"motif candidates not linear: $nM")
    // and the pruned results still equal brute force on the fixture
    assert(sorted(MotifDiscord.discord(segs, pruneAbove = 0)) ==
      sorted(bruteDiscord(segs)))
    assert(sorted(MotifDiscord.motif(segs, pruneAbove = 0)) ==
      sorted(bruteMotif(segs)))
  }

  test("matrix profile and top-k discords: both routes equal brute per-segment nnd") {
    val segs = Segments.completeQuantized(
      Readings.of(spark, "/root/testdata/sf0.001"))
    val brute = {
      val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      a.join(b, Seq("signal_id")).where(col("seg_a") =!= col("seg_b"))
        .groupBy(col("signal_id"), col("seg_a"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
        .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
    }
    assert(sorted(MotifDiscord.profile(segs)) == sorted(brute))
    assert(sorted(MotifDiscord.profile(segs, pruneAbove = 0)) == sorted(brute))
    // top-k: k rows per signal (or fewer), rank 1 equals the discord row
    val topk = MotifDiscord.discordTopK(segs, k = 3)
    assert(topk.groupBy(col("signal_id")).count()
      .filter(col("count") > 3).count() == 0)
    assert(sorted(topk.filter(col("rnk") === 1).drop("rnk")) ==
      sorted(MotifDiscord.discord(segs)))
    // top-k motifs: both routes equal the brute ranked pairs, including
    // tiny signals where the k-th-order adjacent bound doesn't exist
    val bruteTopM = {
      val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("signal_id"))
        .orderBy(col("dist_q").asc, col("seg_a"), col("seg_b"))
      a.join(b, Seq("signal_id")).where(col("seg_a") < col("seg_b"))
        .select(col("signal_id"), col("seg_a"), col("seg_b"),
          sqDistQ(col("qa"), col("qb")).as("dist_q"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    }
    assert(sorted(MotifDiscord.motifTopK(segs, k = 3)) == sorted(bruteTopM))
    assert(sorted(MotifDiscord.motifTopK(segs, k = 3, pruneAbove = 0)) ==
      sorted(bruteTopM))
  }

  test("duplicate collapse: degenerate near-constant signals stay exact on every routed operator") {
    import spark.implicits._
    // signal 0: 400 IDENTICAL segments (a flatlined sensor after
    // quantization — the degenerate regime the class doc names) plus 3
    // outliers; signal 1: duplicate PAIRS among spread bases; signal 2:
    // all-distinct control. All above PruneAbove, so the pruned route
    // (with collapse) runs.
    val flat = (0 until 400).map(k =>
      (0L, k.toLong, Array.fill(16)(4200L)))
    val flatOut = Seq(
      (0L, 400L, (0 until 16).map(j => 9000L + j).toArray),
      (0L, 401L, (0 until 16).map(j => 11000L + 2L * j).toArray),
      (0L, 402L, (0 until 16).map(j => 15000L + 3L * j).toArray))
    val dupPairs = (0 until 300).map { k =>
      val base = (k / 2).toLong * 1000L
      (1L, k.toLong, (0 until 16).map(j => base + (j % 2)).toArray)
    }
    val distinct = (0 until 280).map { k =>
      val base = k.toLong * 1000L
      (2L, k.toLong, (0 until 16).map(j => base + (j % 3)).toArray)
    }
    val segs = (flat ++ flatOut ++ dupPairs ++ distinct)
      .toDF("signal_id", "seg", "qvals").localCheckpoint()

    val bruteProf = {
      val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      a.join(b, Seq("signal_id")).where(col("seg_a") =!= col("seg_b"))
        .groupBy(col("signal_id"), col("seg_a"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
        .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
    }
    assert(sorted(MotifDiscord.profile(segs)) == sorted(bruteProf))
    assert(sorted(MotifDiscord.discord(segs)) == sorted(bruteDiscord(segs)))
    assert(sorted(MotifDiscord.motif(segs)) == sorted(bruteMotif(segs)))
    val bruteTopM = {
      val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("signal_id"))
        .orderBy(col("dist_q").asc, col("seg_a"), col("seg_b"))
      a.join(b, Seq("signal_id")).where(col("seg_a") < col("seg_b"))
        .select(col("signal_id"), col("seg_a"), col("seg_b"),
          sqDistQ(col("qa"), col("qb")).as("dist_q"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    }
    assert(sorted(MotifDiscord.motifTopK(segs, k = 3)) == sorted(bruteTopM))

    // incremental maintenance in the SAME degenerate regime (auto-routes
    // to the rep-collapsed path: signals exceed PruneAbove): duplicate
    // twins meet across the split as d = 0 and the result still equals
    // the brute profile over the union
    val existing = segs.filter(col("seg") <= 200)
    val fresh = segs.filter(col("seg") > 200)
    val incDup = MotifDiscord.profileIncrement(existing,
      MotifDiscord.profile(existing), fresh)
    assert(sorted(incDup) == sorted(bruteProf),
      "degenerate incremental diverges from brute profile")
  }

  test("sampled profile: exact on its reference set, an upper bound of the true profile") {
    import graft.functions.TextOps
    val segs = Segments.completeQuantized(
      Readings.of(spark, "/root/testdata/sf0.001")).localCheckpoint()
    val full = MotifDiscord.profile(segs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val samp = MotifDiscord.profileSampled(segs, mod = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(samp.nonEmpty)
    // upper-bound property against the exact profile
    samp.foreach { case (k, ub) =>
      assert(ub >= full(k), s"sampled nnd below the true nnd at $k")
    }
    // sequential recompute of the same hash-chosen reference set (mod
    // residues plus the per-signal two lowest seg ids, always references
    // so every multi-segment signal keeps upper-bound rows)
    val rows = segs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val low2 = rows.groupBy(_._1).map { case (s, rs) =>
      s -> rs.map(_._2).sorted.take(2).toSet }
    val refs = rows.collect { case (s, g, q)
      if TextOps.fnv32(s"ps:$s:$g") % 4 == 0 || low2(s)(g) => (s, g, q) }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val brute = rows.flatMap { case (s, g, qa) =>
      val ds = refs.collect { case (rs, rg, qb) if rs == s && rg != g =>
        d2(qa, qb) }
      if (ds.isEmpty) None else Some((s, g) -> ds.min)
    }.toMap
    assert(samp == brute, "sampled profile diverges from its definition")
  }

  test("incremental profile equals the from-scratch profile on any split") {
    val segs = Segments.completeQuantized(
      Readings.of(spark, "/root/testdata/sf0.001")).localCheckpoint()
    val full = sorted(MotifDiscord.profile(segs))
    for (frac <- Seq(0.25, 0.75)) {
      val cut = segs.groupBy(col("signal_id"))
        .agg((max(col("seg")) * frac).cast("long").as("cut"))
      val marked = segs.join(broadcast(cut), "signal_id")
      val existing = marked.filter(col("seg") <= col("cut")).drop("cut")
      val fresh = marked.filter(col("seg") > col("cut")).drop("cut")
      val inc = MotifDiscord.profileIncrement(existing,
        MotifDiscord.profile(existing), fresh)
      assert(sorted(inc) == full, s"incremental diverges at split $frac")
      // force the rep-collapsed route (pruneAbove=0: every signal routes
      // past the member-level path) — both routes must be exact
      val incRep = MotifDiscord.profileIncrement(existing,
        MotifDiscord.profile(existing), fresh, pruneAbove = 0)
      assert(sorted(incRep) == full,
        s"rep-collapsed incremental diverges at split $frac")
    }
    // degenerate: an empty new batch must return the old profile verbatim
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Array[Long])]
      .toDF("signal_id", "seg", "qvals")
    val same = MotifDiscord.profileIncrement(segs,
      MotifDiscord.profile(segs), none)
    assert(sorted(same) == full)

    // CHAINED increments (the streaming usage: one call per sealed
    // micro-batch) reach the same fixpoint as the batch recompute
    val thirds = segs.withColumn("b",
      (col("seg") % 3).cast("int")).localCheckpoint()
    val b0 = thirds.filter(col("b") === 0).drop("b")
    val b1 = thirds.filter(col("b") === 1).drop("b")
    val b2 = thirds.filter(col("b") === 2).drop("b")
    val p0 = MotifDiscord.profile(b0)
    val p1 = MotifDiscord.profileIncrement(b0, p0, b1)
    val p2 = MotifDiscord.profileIncrement(
      b0.unionByName(b1), p1, b2)
    assert(sorted(p2) == full, "chained increments diverge from batch")
  }

  test("plan shapes: pruned enumeration is keyed equi-joins, never a cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val segs = spreadFixture(50)
    val thresh = MotifDiscord.adjacentPairs(segs)
      .groupBy(col("signal_id")).agg(max(col("adj_d")).as("t"))
    // the grid pair generator is construction-lazy (unlike the routed
    // entry points, which checkpoint) — its plan is assertable directly:
    // the grid join must be a hash/sort-merge equi-join on
    // (signal_id, cell) and the threshold side must broadcast
    val p = MotifDiscord.pairs(segs, segs, Some(thresh))
      .queryExecution.executedPlan
    assert(helper.collect(p) { case c: CartesianProductExec => c }.isEmpty,
      "the grid pair generator plans a CartesianProduct")
    assert(helper.collect(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "the grid pair generator plans a BroadcastNestedLoopJoin")
    assert(helper.collect(p) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "per-signal thresholds lost their broadcast")
    val pa = MotifDiscord.adjacentPairs(segs).queryExecution.executedPlan
    assert(helper.collect(pa) { case c: CartesianProductExec => c }.isEmpty &&
      helper.collect(pa) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "adjacentPairs must join by key")
  }

  test("cost-based router: plan counts are exact, routes split by measured density, routed profile stays truthful") {
    import spark.implicits._
    // signal 0: short history -> 'direct'; signal 1: 300 spread segments
    // -> tiny grid count, 'pruned'; signal 2: 300 DISTINCT near-identical
    // segments (the inherently dense regime: tiny threshold, every s_0 in
    // the same cell) -> grid count ~ m^2 over budget, 'sampled'
    val small = (0 until 50).map(k =>
      (0L, k.toLong, (0 until 16).map(j => k.toLong * 500L + j).toArray))
    val spread = (0 until 300).map(k =>
      (1L, k.toLong, (0 until 16).map(j => k.toLong * 1000L + (j % 2)).toArray))
    val dense = (0 until 300).map { k =>
      val q = Array.fill(16)(4200L)
      q(k % 16) = 4200L + 1L + k / 16
      (2L, k.toLong, q)
    }
    val segs = (small ++ spread ++ dense)
      .toDF("signal_id", "seg", "qvals").localCheckpoint()
    val budget = 10000L

    val plan = MotifDiscord.routePlan(segs, budget = budget).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4), r.getString(5)))
      .toMap
    assert(plan(0L)._3 == "direct" && plan(1L)._3 == "pruned" &&
      plan(2L)._3 == "sampled", s"routes wrong: $plan")
    assert(plan.values.forall(v => v._1 == 50L || v._1 == 300L))

    // the grid estimate must EQUAL a sequential recomputation (threshold,
    // cell floor-division, 3-exploded singleton x representative counts)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val rows = (small ++ spread ++ dense)
    val expected = rows.groupBy(_._1).map { case (sig, rs) =>
      val bySeg = rs.sortBy(_._2)
      val adj = bySeg.sliding(2).collect {
        case Seq(a, b) => d2(a._3, b._3) }.toSeq
      val t = adj.max
      val w = math.floor(2.0 * math.sqrt(t.toDouble)).toLong + 1L
      def cell(q: Array[Long]) = Math.floorDiv(q.take(4).sum, w)
      val groups = rs.groupBy(_._3.toSeq)
      val singles = groups.filter(_._2.size == 1).values.flatten.toSeq
      val reps = groups.values.map(_.minBy(_._2)).toSeq
      val bCounts = reps.groupBy(r => cell(r._3))
        .map { case (c, v) => c -> v.size.toLong }
      sig -> singles.flatMap { s =>
        val c = cell(s._3); Seq(c - 1L, c, c + 1L)
      }.map(c => bCounts.getOrElse(c, 0L)).sum
    }
    expected.foreach { case (sig, est) =>
      assert(plan(sig)._2 == est,
        s"grid_pairs for signal $sig: got ${plan(sig)._2}, expected $est")
    }

    // routed profile: exact rows equal brute force, sampled rows equal
    // the sampled operator, and the flags tell which is which
    val auto = MotifDiscord.profileAuto(segs, budget = budget)
      .localCheckpoint()
    val exactPart = auto.filter(col("exact")).drop("exact")
    val bruteExact = {
      val ex = segs.filter(col("signal_id") =!= 2L)
      val a = ex.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = ex.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      a.join(b, Seq("signal_id")).where(col("seg_a") =!= col("seg_b"))
        .groupBy(col("signal_id"), col("seg_a"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
        .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
    }
    assert(sorted(exactPart) == sorted(bruteExact))
    val sampledPart = auto.filter(!col("exact")).drop("exact")
    val sampRef = MotifDiscord.profileSampled(
        segs.filter(col("signal_id") === 2L), mod = 4)
      .withColumnRenamed("nnd_ub_q", "nnd_q")
    assert(sorted(sampledPart) == sorted(sampRef))

    // routed discord = the argmax of the routed profile, per signal,
    // with the same (nnd_q DESC, seg) tie-break and the flag carried
    val dAuto = MotifDiscord.discordAuto(segs, budget = budget).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val expectedD = auto.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .groupBy(_._1).map { case (sig, rs) =>
        val w = rs.minBy(t => (-t._3, t._2))
        sig -> ((w._2, w._3, w._4))
      }
    assert(dAuto == expectedD, "routed discord is not the profileAuto argmax")
    // on an all-exact route set the routed discord equals plain discord
    val exSegs = segs.filter(col("signal_id") =!= 2L)
    assert(sorted(MotifDiscord.discordAuto(exSegs, budget = budget)
        .drop("exact")) ==
      sorted(MotifDiscord.discord(exSegs)),
      "routed discord diverges from discord on all-exact routes")
  }

  test("routed incremental fold: chained seg-ordered batches equal profileAuto; the exact flag survives route transitions") {
    import spark.implicits._
    def emptySegs = Seq.empty[(Long, Long, Array[Long])]
      .toDF("signal_id", "seg", "qvals")
    def emptyProf = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("signal_id", "seg", "nnd_q", "exact")
    def bruteNnd(segs: DataFrame): Map[(Long, Long), Long] = {
      val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
        col("qvals").as("qa"))
      val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
      a.join(b, Seq("signal_id")).where(col("seg_a") =!= col("seg_b"))
        .groupBy(col("signal_id"), col("seg_a"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    }
    // signal 0: 50 short-history segments (batch 0 only) -> 'direct';
    // signal 1: 900 spread segments -> 'pruned' in every batch;
    // signal 2: 900 DISTINCT near-identical segments -> over budget from
    // the FIRST batch, so every batch folds the sampled bound and the
    // chain must equal the batch-sampled profile exactly
    val small = (0 until 50).map(k =>
      (0L, k.toLong, (0 until 16).map(j => k.toLong * 500L + j).toArray))
    val spread = (0 until 900).map(k =>
      (1L, k.toLong, (0 until 16).map(j => k.toLong * 1000L + (j % 2)).toArray))
    def denseQ(k: Int): Array[Long] = {
      val q = Array.fill(16)(4200L)
      q(k % 16) = 4200L + 1L + k / 16
      q
    }
    val dense = (0 until 900).map(k => (2L, k.toLong, denseQ(k)))
    val segs = (small ++ spread ++ dense)
      .toDF("signal_id", "seg", "qvals").localCheckpoint()
    val budget = 10000L
    val expected = sorted(MotifDiscord.profileAuto(segs, budget = budget))

    // per-signal seg-ordered thirds: the arrival order segmentStream
    // guarantees (seg ids per signal are monotone across micro-batches)
    def cut(lo: Long, hi: Long) =
      segs.filter(col("seg") >= lo && col("seg") < hi)
    val b0 = cut(0L, 300L); val b1 = cut(300L, 600L); val b2 = cut(600L, 900L)
    val p0 = MotifDiscord.profileIncrementAuto(emptySegs, emptyProf, b0,
      budget = budget)
    val p1 = MotifDiscord.profileIncrementAuto(b0, p0, b1, budget = budget)
    val p2 = MotifDiscord.profileIncrementAuto(b0.unionByName(b1), p1, b2,
      budget = budget)
    assert(sorted(p2) == expected,
      "chained routed increments diverge from profileAuto over the union")

    // exact -> sampled transition: the dense signal's first 100 segments
    // route 'direct' (exact); growth tips it over budget. The folded rows
    // must flip to exact=false and stay VALID upper bounds (>= the true
    // nnd — the fold mixes the tighter exact prefix with sampled cross
    // distances, so equality with the pure batch-sampled is not promised)
    val dAll = dense.toDF("signal_id", "seg", "qvals").localCheckpoint()
    val d0 = dAll.filter(col("seg") < 100L)
    val q0 = MotifDiscord.profileIncrementAuto(emptySegs, emptyProf, d0,
      budget = budget).localCheckpoint()
    assert(q0.collect().forall(_.getBoolean(3)), "short history must be exact")
    val q1 = MotifDiscord.profileIncrementAuto(d0, q0,
      dAll.filter(col("seg") >= 100L), budget = budget).localCheckpoint()
    val truth = bruteNnd(dAll)
    val q1Rows = q1.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
    assert(q1Rows.forall(!_._2._2), "dense-routed rows must flag exact=false")
    assert(q1Rows.size == truth.size)
    q1Rows.foreach { case (k, (ub, _)) =>
      assert(ub >= truth(k), s"folded bound below the true nnd at $k")
    }

    // sampled -> exact transition (budget raised): prior rows carry
    // exact=false, so even an exact-routed batch must keep the flag
    // false — its fold runs over upper bounds, not the true profile
    val extra = (900 until 910).map(k => (2L, k.toLong, denseQ(k)))
      .toDF("signal_id", "seg", "qvals")
    val q2 = MotifDiscord.profileIncrementAuto(dAll, q1, extra,
      budget = Long.MaxValue).localCheckpoint()
    assert(q2.collect().forall(!_.getBoolean(3)),
      "a once-sampled signal must never regain exact=true")
    val truth2 = bruteNnd(dAll.unionByName(extra))
    q2.collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) >= truth2(k),
        s"post-transition bound below the true nnd at $k")
    }
  }

  test("grid-pruned exact increment: tiny δ against a long spread history folds exactly, and the prune cuts the history fan-out") {
    import spark.implicits._
    def emptyProf = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("signal_id", "seg", "nnd_q", "exact")
    def emptySegs = Seq.empty[(Long, Long, Array[Long])]
      .toDF("signal_id", "seg", "qvals")
    // one long, spread, exact-routed signal (m = 600 > PruneAbove, s0
    // values ~1000 apart so the grid prunes well), including a duplicate
    // group (segs 40/41 identical) so the rep election's prune-atomicity
    // is exercised; δ = 3 segments near the history's far end, one of
    // them an exact twin of history seg 599
    def q(k: Long, jitter: Long): Array[Long] =
      (0 until 16).map(j => k * 1000L + (j % 3) + jitter).toArray
    // signal 2 ramps through all-NEGATIVE quantized values (floor-based
    // fixed-point quantization of negative readings): the pmod cell
    // arithmetic must bucket negative chunk sums identically on the
    // hot-cell and history sides
    def qn(k: Long, jitter: Long): Array[Long] =
      (0 until 16).map(j => (k - 700L) * 1000L + (j % 3) + jitter).toArray
    val histSegs = ((0 until 600).map { k =>
      val kk = k.toLong
      val vec = if (k == 41) q(40L, 0L) else q(kk, 0L)
      (1L, kk, vec)
    } ++ (0 until 600).map { k =>
      (2L, k.toLong, qn(k.toLong, 0L))
    }).toDF("signal_id", "seg", "qvals").localCheckpoint()
    // δ continues the drift locally: a jump (e.g. to the middle of the
    // range) would legitimately inflate the max-adjacent threshold and
    // degrade the grid to keep-all — correct, just not the locality this
    // test measures
    val delta = Seq(
      (1L, 600L, q(599L, 0L)),           // twin of history seg 599
      (1L, 601L, q(598L, 7L)),           // near history seg 598
      (1L, 602L, q(601L, 3L)),           // one step past the history end
      (2L, 600L, qn(599L, 0L)),          // δ lands in NEGATIVE-s0 cells
      (2L, 601L, qn(600L, 3L)))
      .toDF("signal_id", "seg", "qvals").localCheckpoint()
    val p0 = MotifDiscord.profileIncrementAuto(emptySegs, emptyProf,
      histSegs).localCheckpoint()
    val p1 = MotifDiscord.profileIncrementAuto(histSegs, p0, delta)
      .localCheckpoint()
    // exact equality with the brute-force profile over the union
    val union = histSegs.unionByName(delta)
    val a = union.select(col("signal_id"), col("seg"), col("qvals").as("qa"))
    val b = union.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"))
    val truth = a.join(b, Seq("signal_id"))
      .where(col("seg") =!= col("seg_b"))
      .groupBy(col("signal_id"), col("seg"))
      .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = p1.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size == truth.size, s"${got.size} vs ${truth.size} rows")
    got.foreach { case (k, (v, ex)) =>
      assert(ex, s"spread signal must stay exact at $k")
      assert(v == truth(k), s"pruned fold diverges at $k: $v vs ${truth(k)}")
    }
    // the prune itself: δ's 3 cell neighborhoods keep only a local slice
    // of the 600-segment history (each hot cell is ~1-2 wide at this
    // spread), and duplicate groups survive or prune atomically
    val st = MotifDiscord.foldRouteState(
      MotifDiscord.routeStateOf(histSegs, p0), delta).localCheckpoint()
    val kept = MotifDiscord.gridPruneHistory(histSegs, delta,
        MotifDiscord.touchedThreshold(st))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.size < 80,
      s"prune kept ${kept.size}/1200 history rows — not a local cut")
    assert(Seq((1L, 598L), (1L, 599L), (2L, 598L), (2L, 599L)).forall(kept),
      s"δ's neighbor segments must survive the prune: $kept")
  }

  test("route state: out-of-order appends latch ordered=false and surface in the probe; untouched batches preserve exact=false") {
    import spark.implicits._
    def emptyProf = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("signal_id", "seg", "nnd_q", "exact")
    def emptySegs = Seq.empty[(Long, Long, Array[Long])]
      .toDF("signal_id", "seg", "qvals")
    // signal 5 appends in order, signal 6 appends seg 3 BEFORE seg 1:
    // the fold's append-order precondition (last existing seg < first
    // new seg) is violated for 6 only, and the violation must latch in
    // the persisted state rather than silently loosening the fold's
    // batch-equality to a bound
    def seg(s: Long, k: Long) =
      (s, k, (0 until 16).map(j => s * 1000L + k * 10L + j).toArray)
    val b0 = Seq(seg(5L, 0L), seg(5L, 1L), seg(6L, 0L), seg(6L, 3L))
      .toDF("signal_id", "seg", "qvals")
    val st0 = MotifDiscord.foldRouteState(
      MotifDiscord.routeStateOf(emptySegs, emptyProf), b0).localCheckpoint()
    assert(MotifDiscord.probeRouteState(st0).unordered == 0,
      "in-order first batch must not flag")
    val b1 = Seq(seg(5L, 2L), seg(6L, 1L)).toDF("signal_id", "seg", "qvals")
    val st1 = MotifDiscord.foldRouteState(st0, b1).localCheckpoint()
    assert(MotifDiscord.probeRouteState(st1).unordered == 1,
      "out-of-order append must surface in the probe")
    val orderedBySig = st1.filter(col("kind") === "sig")
      .select(col("signal_id"), col("ordered")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(orderedBySig(5L) && !orderedBySig(6L),
      s"ordered must latch per signal: $orderedBySig")
    // the latch survives later in-order batches
    val b2 = Seq(seg(5L, 3L), seg(6L, 4L)).toDF("signal_id", "seg", "qvals")
    val st2 = MotifDiscord.foldRouteState(st1, b2).localCheckpoint()
    assert(!st2.filter(col("kind") === "sig" && col("signal_id") === 6L)
      .select(col("ordered")).head().getBoolean(0),
      "a latched order violation must persist across later batches")

    // verdict task: a signal that once routed sampled keeps exact=false
    // through a later batch that does NOT touch it (its rows pass through
    // the untouched path verbatim)
    def denseQ(k: Int): Array[Long] = {
      val q = Array.fill(16)(4200L); q(k % 16) = 4201L + k / 16; q
    }
    val dense = (0 until 600).map(k => (9L, k.toLong, denseQ(k)))
      .toDF("signal_id", "seg", "qvals").localCheckpoint()
    val other = Seq(seg(5L, 0L), seg(5L, 1L)).toDF("signal_id", "seg", "qvals")
    val p0 = MotifDiscord.profileIncrementAuto(
      other.limit(0), emptyProf, dense, budget = 10000L).localCheckpoint()
    assert(p0.collect().forall(!_.getBoolean(3)), "dense signal must be sampled")
    val p1 = MotifDiscord.profileIncrementAuto(dense, p0, other,
      budget = 10000L).localCheckpoint()
    val bySig = p1.collect().groupBy(_.getLong(0))
    assert(bySig(9L).forall(!_.getBoolean(3)),
      "untouched once-sampled signal must stay exact=false")
    assert(bySig(5L).forall(_.getBoolean(3)),
      "the freshly touched small signal is exact")
    // and the untouched rows are byte-identical to the prior snapshot
    val prior9 = p0.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val now9 = bySig(9L).map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(prior9 == now9, "untouched rows must pass through unchanged")
  }

  test("edge cases: single-segment signals drop; tied distances break by seg") {
    import spark.implicits._
    // signal 7 has ONE complete segment -> no adjacent pair, no output row
    // signal 8 has identical segments -> all distances 0, winner = seg 0
    val segs = Seq(
      (7L, 0L, Array.fill(16)(5L)),
      (8L, 0L, Array.fill(16)(1L)),
      (8L, 1L, Array.fill(16)(1L)),
      (8L, 2L, Array.fill(16)(1L))
    ).toDF("signal_id", "seg", "qvals")
    val d = MotifDiscord.discord(segs, pruneAbove = 0).collect()
    assert(d.length == 1 && d(0).getLong(0) == 8L && d(0).getLong(1) == 0L &&
      d(0).getLong(2) == 0L)
    val m = MotifDiscord.motif(segs, pruneAbove = 0).collect()
    assert(m.length == 1 && m(0).getLong(0) == 8L && m(0).getLong(1) == 0L &&
      m(0).getLong(2) == 1L && m(0).getLong(3) == 0L)

    // top-k motifs on a signal with FEWER adjacent pairs than k (3 segs,
    // 2 adjacent pairs, k=3): the pruned route must take the keep-all
    // threshold leg and still return all 3 pairs exactly
    val tk = MotifDiscord.motifTopK(segs, k = 3, pruneAbove = 0)
      .filter(col("signal_id") === 8L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(tk == Set((0L, 1L, 0L), (0L, 2L, 0L), (1L, 2L, 0L)),
      s"tiny-signal top-k wrong: $tk")
  }

  test("salted rebuild heals a sticky group-hash collision: the collided fold's grid stays perturbed forever, the rebuilt state matches the batch plan") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    def emptyProf = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("signal_id", "seg", "nnd_q", "exact")
    def emptySegs = Seq.empty[(Long, Long, Array[Long])]
      .toDF("signal_id", "seg", "qvals")
    // one spread signal above the routing threshold: 600 distinct
    // vectors, s0 ~ChunkRows*1000 apart, so the exact grid is
    // well-populated (each singleton meets its own rep in-cell)
    def q(k: Long): Array[Long] =
      (0 until 16).map(j => k * 1000L + (j % 3)).toArray
    val rows = (0 until 600).map(k => (1L, k.toLong, q(k.toLong)))
    val b0 = rows.take(300).toDF("signal_id", "seg", "qvals").localCheckpoint()
    val b1 = rows.drop(300).toDF("signal_id", "seg", "qvals").localCheckpoint()
    // a production-xxhash64 collision cannot be constructed, so the
    // forced collision is a degenerate stand-in under salt 0 (every
    // vector files under one key — the worst-case sticky merge); under
    // any other salt it is the production hash, which is exactly the
    // healing mechanism profileStream's periodic rebuild relies on
    val weak: (Long, Column) => Column =
      (s, c) => if (s == 0L) lit(7L) else MotifDiscord.groupHash(s, c)
    val st0 = MotifDiscord.foldRouteState(
      MotifDiscord.routeStateOf(emptySegs, emptyProf, 0L, weak), b0,
      hashFn = weak).localCheckpoint()
    val st1 = MotifDiscord.foldRouteState(st0, b1, hashFn = weak)
      .localCheckpoint()
    def sigRow(st: DataFrame): (Long, Long, Boolean) = {
      val r = st.filter(col("kind") === "sig").head()
      (r.getAs[Long]("m"), r.getAs[Long]("grid_pairs"),
        r.getAs[Boolean]("dense"))
    }
    val allDf = b0.unionByName(b1)
    val planRow = MotifDiscord.routePlan(allDf)
      .filter(col("signal_id") === 1L).head()
    val truePairs = planRow.getAs[Long]("grid_pairs")
    // the collision's perturbation: every vector merged into one group
    // means NO singletons, so the folded grid collapses to 0 pairs while
    // the exact batch plan counts a populated grid
    val (mC, gpC, _) = sigRow(st1)
    assert(mC == 600L, s"fold must still count m exactly: $mC")
    assert(truePairs > 0L, s"test needs a populated exact grid: $truePairs")
    assert(gpC != truePairs,
      s"collided fold should be perturbed: $gpC vs $truePairs")
    // ...and it IS sticky: a later clean δ folded into the collided
    // state inherits the merged groups — the drift never self-heals
    val b2 = (600 until 603).map(k => (1L, k.toLong, q(k.toLong)))
      .toDF("signal_id", "seg", "qvals").localCheckpoint()
    val stStuck = MotifDiscord.foldRouteState(st1, b2, hashFn = weak)
      .localCheckpoint()
    val plan2Row = MotifDiscord.routePlan(allDf.unionByName(b2))
      .filter(col("signal_id") === 1L).head()
    val truePairs2 = plan2Row.getAs[Long]("grid_pairs")
    assert(sigRow(stStuck)._2 != truePairs2,
      "without a rebuild the collided grid must stay perturbed")
    // the HEAL: rebuild from the landed segments under a fresh salt
    // (profileStream's periodic-rebuild branch), then continue folding —
    // the state now matches the batch-derived plan exactly
    val rebuilt = MotifDiscord.routeStateOf(allDf, emptyProf, salt = 1L)
      .localCheckpoint()
    // rebuilt group identity is exact again: one group per distinct
    // vector, all singletons
    val grpCnts = rebuilt.filter(col("kind") === "grp")
      .agg(count(lit(1)), max(col("cnt")), max(col("salt"))).head()
    assert(grpCnts.getLong(0) == 600L && grpCnts.getLong(1) == 1L,
      s"rebuild must restore exact groups: $grpCnts")
    assert(grpCnts.getLong(2) == 1L, "rebuilt state must carry the new salt")
    val stHealed = MotifDiscord.foldRouteState(rebuilt, b2, salt = 1L)
      .localCheckpoint()
    val (mH, gpH, denseH) = sigRow(stHealed)
    assert(mH == 603L && gpH == truePairs2,
      s"healed fold must match the batch plan: m=$mH gp=$gpH vs $truePairs2")
    assert(denseH == (plan2Row.getAs[String]("route") == "sampled"),
      "healed route flag must match the batch plan's route")
  }
}
