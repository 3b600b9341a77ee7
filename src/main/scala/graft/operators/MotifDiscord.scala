package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DtwFunctions.sqDistQ

/** Pruned exact discord/motif discovery over complete quantized segments
  * (Keogh HOT-SAX / matrix-profile family, the batch flavor of the
  * reference's outlier concern, outlier/mod.rs) — same results as the
  * naive per-signal all-pairs self-join, but the pair space is bounded by
  * a per-signal distance threshold instead of m²/2.
  *
  * The exactness argument (every step integer arithmetic):
  *
  *  1. Adjacent complete segments (consecutive by per-signal rank) give a
  *     cheap O(m) upper-bound structure: for every segment a, its
  *     nearest-neighbor distance nnd(a) <= d(a, adjacent(a)).
  *  2. Per signal, T_discord = max over adjacent pairs of d — so
  *     nnd(a) <= T for EVERY a; and T_motif = min over adjacent pairs —
  *     so the closest pair has d <= T.
  *  3. Cauchy-Schwarz per 4-point chunk lower-bounds the exact squared L2
  *     by the chunk-sum squared L2: d²(a,b) >= Σ_i (sa_i - sb_i)² / 4
  *     (the PAA lower-bound of Keogh's indexing paper, in integer
  *     chunk-sum form). A pair with LB > T therefore can never decide a
  *     min (discord nnd) or win (motif) — pruning it changes nothing.
  *  4. Pairs with LB <= T satisfy |sa_1 - sb_1| <= 2·sqrt(T), so bucketing
  *     segments by cell = floorDiv(s1, W) with W = floor(2·sqrt(T)) + 1
  *     and joining same-or-adjacent cells enumerates a SUPERSET of all
  *     unpruned pairs as an equi-join — never the full cross product.
  *
  * Candidate count is data-dependent: O(m) when first-chunk sums spread
  * (typical drifting signals), degrading toward m² only when a signal's
  * segments are mutually near-identical — in which case the threshold T
  * is itself tiny and the exact distances being computed are the answer.
  * MotifDiscordSpec asserts the sub-quadratic count on a spread fixture.
  */
object MotifDiscord {

  private val ChunkRows = 4
  private def nChunks: Int = (Readings.SegmentRows / ChunkRows).toInt

  /** Grid width under a (squared-L2) threshold t and the cell of a
    * first-chunk sum under that width — THE single implementation of
    * the class doc's cell arithmetic. Every grid site (candidatePairs,
    * routePlanOf, foldRouteState, gridPruneHistory) must share these
    * two formulas: the exactness proofs rest on all sides of every
    * grid join bucketing identically, and a drifted copy would break
    * the candidate-superset guarantee silently rather than visibly.
    */
  private def gridWidth(t: Column): Column =
    (floor(lit(2.0) * sqrt(t.cast("double"))) + 1).cast("long")
  private def gridCell(s0: Column, w: Column): Column =
    ((s0 - pmod(s0, w)) / w).cast("long")

  /** Segment rows + integer chunk sums s_0..s_{k-1} of qvals. */
  private[graft] def withChunkSums(segs: DataFrame): DataFrame =
    (0 until nChunks).foldLeft(segs) { (df, i) =>
      df.withColumn(s"s_$i",
        aggregate(slice(col("qvals"), i * ChunkRows + 1, ChunkRows),
          lit(0L), (acc, x) => acc + x))
    }

  /** Exact distances of per-signal ADJACENT complete segments (consecutive
    * by rank, so seg-index gaps don't break coverage): one window pass +
    * one keyed equi-join, O(m) pairs. Columns: signal_id, seg_a, seg_b,
    * adj_d.
    */
  private[graft] def adjacentPairs(segs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("signal_id")).orderBy(col("seg"))
    val ranked = segs.withColumn("rk", row_number().over(w))
    val a = ranked.select(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"), (col("rk") + 1).as("rk"))
    val b = ranked.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"), col("rk"))
    a.join(b, Seq("signal_id", "rk"))
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("adj_d"))
  }

  /** Exact-distance candidate pairs under a per-signal threshold
    * (`thresh`: signal_id, t), a-side rows from `aSegs` against b-side
    * rows from `bSegs` (pass the same frame for the symmetric
    * enumeration — both orientations are then emitted). seg_a != seg_b;
    * grid cells are first-chunk-sum buckets of width
    * floor(2*sqrt(t)) + 1, the a-side exploded to its 3 neighboring
    * cells. Output: signal_id, seg_a, seg_b, d.
    */
  private[graft] def candidatePairs(aSegs: DataFrame, bSegs: DataFrame,
                                    thresh: DataFrame): DataFrame = {
    val withW = thresh.withColumn("w", gridWidth(col("t")))
    def sumsOf(df: DataFrame) =
      withChunkSums(df).join(broadcast(withW), "signal_id")
        .withColumn("cell", gridCell(col("s_0"), col("w")))
    val aCols = Seq(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"), col("t")) ++
      (0 until nChunks).map(i => col(s"s_$i").as(s"sa_$i")) :+
      explode(array(col("cell") - 1, col("cell"), col("cell") + 1)).as("cell")
    val a = sumsOf(aSegs).select(aCols: _*)
    val bCols = Seq(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"), col("cell")) ++
      (0 until nChunks).map(i => col(s"s_$i").as(s"sb_$i"))
    val b = sumsOf(bSegs).select(bCols: _*)
    val lb = (0 until nChunks)
      .map(i => (col(s"sa_$i") - col(s"sb_$i")) * (col(s"sa_$i") - col(s"sb_$i")))
      .reduce(_ + _)
    a.join(b, Seq("signal_id", "cell"))
      .where(col("seg_a") =!= col("seg_b") && lb <= lit(4L) * col("t"))
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("d"))
  }

  /** Duplicate-group view: `grk` ranks each segment inside its
    * (signal, qvals) group by seg, `gcnt` is the group size. This is the
    * pruned route's defense against the DEGENERATE regime the class doc
    * names (mutually near-identical segments): after fixed-point
    * quantization a flatlined sensor's segments are EXACTLY equal, so
    * they collapse into one group — every member of a group with >= 2
    * copies has nnd_q = 0 by definition (an identical twin exists) and
    * needs NO pair enumeration, and only distinct representatives enter
    * the grid join. A constant signal with 10^4+ segments costs one
    * linear group-by instead of 10^8 candidate pairs.
    */
  private def withGroupRank(segs: DataFrame): DataFrame = {
    val g = Window.partitionBy(col("signal_id"), col("qvals"))
    segs.withColumn("grk", row_number().over(g.orderBy(col("seg"))))
      .withColumn("gcnt", count(lit(1)).over(g))
  }

  /** Route threshold: with every signal's segment count m <= this, the
    * direct per-signal self-join (<= ~64k pairs per signal, one keyed
    * join, no extra passes) beats the pruned path's constant overhead
    * (checkpoint + rank window + grid join); past it, m² concentrated in
    * single join partitions is the r8 scale-killer and the pruned path
    * takes over. Same size-router pattern as Dedup's star/propagation
    * routing — both branches are exact, so the routing is purely a cost
    * decision.
    */
  val PruneAbove = 256

  /** All-pairs exact distances within each signal (both orientations) —
    * the direct route for short histories.
    */
  private def naivePairs(segs: DataFrame): DataFrame = {
    val a = segs.select(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"))
    val b = segs.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"))
    a.join(b, Seq("signal_id"))
      .where(col("seg_a") =!= col("seg_b"))
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("d"))
  }

  private def maxSegments(sc: DataFrame): Long = {
    val row = sc.groupBy(col("signal_id")).agg(count(lit(1)).as("m"))
      .agg(max(col("m"))).first()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  private def winners(pairs: DataFrame, forDiscord: Boolean): DataFrame =
    if (forDiscord) {
      val nnd = pairs.groupBy(col("signal_id"), col("seg_a"))
        .agg(min(col("d")).as("nnd_q"))
      val w = Window.partitionBy(col("signal_id"))
        .orderBy(col("nnd_q").desc, col("seg_a"))
      nnd.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
    } else {
      val w = Window.partitionBy(col("signal_id"))
        .orderBy(col("d").asc, col("seg_a"), col("seg_b"))
      pairs.where(col("seg_a") < col("seg_b"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .select(col("signal_id"), col("seg_a"), col("seg_b"),
          col("d").as("dist_q"))
    }

  /** The (squared-L2) MATRIX PROFILE of each signal: every complete
    * segment's exact nearest-neighbor distance among the signal's other
    * segments (Yeh et al., "Matrix Profile I", ICDM'16 — the segment-
    * granularity flavor; discords are its argmax, motifs its argmin).
    * Size-routed like [[discord]]; the pruned route stays exact for EVERY
    * segment because each segment's min-achieving pair has d <= T and so
    * survives the grid (see the class doc's exactness argument).
    * Output: signal_id, seg, nnd_q — one row per complete segment of any
    * signal with >= 2 complete segments.
    */
  def profile(segs: DataFrame, pruneAbove: Int = PruneAbove): DataFrame = {
    val sc = Materialize.checkpoint(segs)
    if (maxSegments(sc) <= pruneAbove) directProfile(sc)
    else prunedProfile(sc)
  }

  /** The direct route: per-signal all-pairs self-join, min per segment. */
  private def directProfile(sc: DataFrame): DataFrame =
    naivePairs(sc).groupBy(col("signal_id"), col("seg_a"))
      .agg(min(col("d")).as("nnd_q"))
      .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))

  /** The pruned route with duplicate collapse (see withGroupRank):
    * dup-group members have nnd_q = 0 outright; only SINGLETON segments
    * need enumeration, and they enumerate against the distinct
    * representatives (a singleton's nearest neighbor is some group, and
    * its distance to the group equals its distance to the
    * representative). The adjacent-pair threshold over the ORIGINAL
    * segments still bounds every singleton's nnd, so the grid's
    * exactness argument is unchanged.
    */
  private def prunedProfile(sc: DataFrame): DataFrame =
    prunedProfileFrom(Materialize.checkpoint(withGroupRank(sc)),
      adjacentPairs(sc).groupBy(col("signal_id"))
        .agg(max(col("adj_d")).as("t")))

  /** The pruned route over a PRE-RANKED frame (withGroupRank columns) and
    * a per-signal adjacent-pair threshold — shared with [[profileAuto]],
    * which already holds both from its route-plan computation (r15: the
    * auto path used to re-rank and re-derive adjacent pairs over its
    * pruned split, duplicating two window passes the plan had just run).
    * `thresh` may cover extra signals (it joins by signal_id; unmatched
    * signals contribute no pairs), and per-signal values are unchanged
    * under whole-signal filtering, so results are identical.
    */
  private def prunedProfileFrom(ranked: DataFrame,
                                thresh: DataFrame): DataFrame = {
    val dupRows = ranked.filter(col("gcnt") >= 2)
      .select(col("signal_id"), col("seg"), lit(0L).as("nnd_q"))
    val reps = ranked.filter(col("grk") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))
    val singles = ranked.filter(col("gcnt") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))
    candidatePairs(singles, reps, thresh)
      .groupBy(col("signal_id"), col("seg_a"))
      .agg(min(col("d")).as("nnd_q"))
      .select(col("signal_id"), col("seg_a").as("seg"), col("nnd_q"))
      .unionByName(dupRows)
  }

  /** INCREMENTAL matrix-profile maintenance (the STAMPI idea at segment
    * granularity): given the persisted profile of the existing segments
    * and a batch of newly sealed segments, the updated profile needs only
    *  - cross distances existing x new within each signal (O(m * delta)
    *    keyed join, never the O((m+delta)^2) recompute),
    *  - all-pairs among the delta new segments (O(delta^2), delta = one
    *    ingest batch),
    * folded as mins into the old nnd values: new-batch rows get
    * min(cross, within-new); existing rows keep min(old nnd, cross).
    * Exactly equals the batch profile over the combined segment set —
    * MotifDiscordSpec proves it, and the seg_profile_inc query carries
    * the full-recompute oracle.
    *
    * Size-routed like [[profile]]: with every signal's segment count (on
    * either side) at most pruneAbove, the member-level cross join is
    * bounded (<= pruneAbove·δ pairs per signal) and its lean 3-exchange
    * plan wins — the rep-level collapse costs ~1 s of constant overhead
    * (two array-keyed rank windows + checkpoints) at sf0.1, the r10
    * sweep's self-adjudication caught exactly that. Past the threshold
    * the duplicate collapse takes over so a flatlined sensor streaming
    * identical segments forever costs rep pairs, not m·δ distances.
    * Both routes are exact (MotifDiscordSpec proves each against the
    * full recompute).
    */
  def profileIncrement(existingSegs: DataFrame, existingProfile: DataFrame,
                       newSegs: DataFrame,
                       pruneAbove: Int = PruneAbove): DataFrame = {
    val maxM = existingSegs.select(col("signal_id"))
      .unionByName(newSegs.select(col("signal_id")))
      .groupBy(col("signal_id")).agg(count(lit(1)).as("m"))
      .agg(max(col("m"))).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    profileIncrementWithMax(existingSegs, existingProfile, newSegs,
      pruneAbove, maxM)
  }

  /** [[profileIncrement]] with the member/rep routing decided by a
    * caller-supplied max per-signal segment count — the routed streaming
    * path already holds it in its folded state and skips the extra
    * history aggregation.
    */
  private def profileIncrementWithMax(existingSegs: DataFrame,
                                      existingProfile: DataFrame,
                                      newSegs: DataFrame,
                                      pruneAbove: Int, maxM: Long,
                                      thresh: Option[DataFrame] = None)
      : DataFrame =
    if (maxM <= pruneAbove)
      memberIncrement(existingSegs, existingProfile, newSegs)
    else repIncrement(existingSegs, existingProfile, newSegs, thresh)

  /** The direct incremental route: member-level existing x new cross
    * join plus all-pairs among the batch — bounded by the router's
    * per-signal segment cap.
    */
  private def memberIncrement(existingSegs: DataFrame,
                              existingProfile: DataFrame,
                              newSegs: DataFrame): DataFrame = {
    val e = existingSegs.select(col("signal_id"), col("seg").as("seg_a"),
      col("qvals").as("qa"))
    val n = newSegs.select(col("signal_id"), col("seg").as("seg_b"),
      col("qvals").as("qb"))
    val cross = e.join(n, Seq("signal_id"))
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("d"))
    // both endpoints of every cross pair receive the distance
    val crossBoth = cross.select(col("signal_id"), col("seg_a").as("seg"), col("d"))
      .unionByName(cross.select(col("signal_id"), col("seg_b").as("seg"), col("d")))
    val withinNew = naivePairs(newSegs)
      .select(col("signal_id"), col("seg_a").as("seg"), col("d"))
    val oldRows = existingProfile
      .select(col("signal_id"), col("seg"), col("nnd_q").as("d"))
    oldRows.unionByName(crossBoth).unionByName(withinNew)
      .groupBy(col("signal_id"), col("seg"))
      .agg(min(col("d")).as("nnd_q"))
  }

  /** The collapsed incremental route for long/degenerate histories.
    * Rep-level (same argument as [[profile]]'s), keyed by the
    * REPRESENTATIVE's seg so the minima land without any member-level
    * array-keyed join: every segment that still NEEDS a cross/within
    * minimum is a representative —
    *  - an existing member of a duplicate group already carries
    *    nnd_q = 0 in the old profile (its twin was among existingSegs),
    *  - a new member of a duplicate group has an in-batch twin (d = 0),
    * so duplicate mass — the streaming degenerate case of a flatlined
    * sensor feeding identical segments forever — costs one rank window
    * per side and zero fan-out joins.
    */
  private def repIncrement(existingSegs: DataFrame,
                           existingProfile: DataFrame,
                           newSegs: DataFrame,
                           thresh: Option[DataFrame] = None): DataFrame = {
    // the new-batch ranked frame is checkpointed (the [[profile]]
    // pattern): nReps feeds three branches below, and without the cut
    // every reference re-executes the array-keyed sort window. The
    // HISTORY side's reps feed only the cross join, so a checkpoint
    // there would be a pure per-batch O(m) materialization cost
    val eReps = withGroupRank(existingSegs).filter(col("grk") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))
    val n = Materialize.checkpoint(withGroupRank(newSegs))
    val nReps = n.filter(col("grk") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))
    // rep-level cross distances (equal vectors across sides meet as
    // d = 0); each side's reps take their min keyed by their own seg.
    // With a per-signal threshold available (the routed caller's folded
    // max-adjacent t), the enumeration goes through the GRID instead of
    // the full e x n / n x n products: a pair with chunk-sum lower
    // bound > 4t has d > t >= every final minimum this fold can emit
    // (an exact signal's nnd and old profile values are <= t; a
    // once-sampled signal's rows only need to stay valid upper bounds),
    // so pruning it changes nothing — the same argument, candidate
    // superset and integer cell arithmetic as the batch pruned route.
    // Without a threshold (the stateless profileIncrement API) the
    // naive products stand.
    val cross = thresh match {
      case Some(t) => candidatePairs(eReps, nReps, t)
      case None => eReps
        .select(col("signal_id"), col("seg").as("seg_a"), col("qvals").as("qa"))
        .join(nReps.select(col("signal_id"), col("seg").as("seg_b"),
            col("qvals").as("qb")),
          Seq("signal_id"))
        .select(col("signal_id"), col("seg_a"), col("seg_b"),
          sqDistQ(col("qa"), col("qb")).as("d"))
    }
    val crossE = cross.groupBy(col("signal_id"), col("seg_a"))
      .agg(min(col("d")).as("d"))
      .select(col("signal_id"), col("seg_a").as("seg"), col("d"))
    val crossN = cross.groupBy(col("signal_id"), col("seg_b"))
      .agg(min(col("d")).as("d"))
      .select(col("signal_id"), col("seg_b").as("seg"), col("d"))
    // within the new batch: every member of a duplicate group (rep
    // included) has an identical twin (d = 0); reps additionally take
    // the min over the OTHER new reps, keyed by their own seg — the
    // O(δ²)-per-signal product that the grid bounds for bulk batches
    val dupZero = n.filter(col("gcnt") >= 2)
      .select(col("signal_id"), col("seg"), lit(0L).as("d"))
    val withinNew = thresh match {
      case Some(t) => candidatePairs(nReps, nReps, t)
        .groupBy(col("signal_id"), col("seg_a"))
        .agg(min(col("d")).as("d"))
        .select(col("signal_id"), col("seg_a").as("seg"), col("d"))
      case None => nReps
        .select(col("signal_id"), col("seg"), col("qvals").as("qa"))
        .join(nReps.select(col("signal_id"), col("qvals").as("qb")),
          Seq("signal_id"))
        .where(col("qa") =!= col("qb"))
        .groupBy(col("signal_id"), col("seg"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("d"))
    }
    val oldRows = existingProfile
      .select(col("signal_id"), col("seg"), col("nnd_q").as("d"))
    oldRows.unionByName(crossE).unionByName(crossN)
      .unionByName(dupZero).unionByName(withinNew)
      .groupBy(col("signal_id"), col("seg"))
      .agg(min(col("d")).as("nnd_q"))
  }

  /** SAMPLED matrix profile — the escape hatch for the inherently dense
    * regime (near-identical yet DISTINCT segments, where every pair is a
    * genuine near-tie and no exact index can prune — see the adversarial
    * measurement in ARCHITECTURE.md): each segment's nearest-neighbor
    * distance against a deterministic hash-chosen REFERENCE subset
    * (fnv32("ps:signal:seg") % mod == 0), an anytime-style exact UPPER
    * BOUND of the true profile that equals it whenever the true NN is
    * sampled. Cost is m·(m/mod) keyed-join pairs per signal — the `mod`
    * dial trades tightness for wall-clock, and the hash derivation makes
    * the result a pure function of the data, so the DuckDB oracle
    * recomputes it exactly. The per-signal TWO lowest-seg segments are
    * always references:
    *  - a signal whose segments all hash to nonzero residues would
    *    otherwise get zero refs and silently vanish from the routed
    *    output instead of getting upper-bound rows;
    *  - with ONE forced ref the forced segment itself would have no
    *    non-self reference and drop out; two forced refs cover each
    *    other, so every segment of a multi-segment signal gets a row;
    *  - seg ids are per-signal monotone (Segments/segmentStream), so the
    *    two lowest NEVER change as batches append — the reference set of
    *    the union is the union of each batch's new references, which is
    *    what makes [[sampledIncrement]] fold to EXACTLY this batch
    *    result (a min-hash rule would re-elect its forced ref across
    *    batches and break that equality).
    * Output: signal_id, seg, nnd_ub_q.
    */
  def profileSampled(segs: DataFrame, mod: Int = 4): DataFrame = {
    val refs = sampledRefs(segs, mod)
      .select(col("signal_id"), col("seg").as("seg_b"),
        col("qvals").as("qb"))
    segs.select(col("signal_id"), col("seg"), col("qvals").as("qa"))
      .join(refs, Seq("signal_id"))
      .where(col("seg") =!= col("seg_b"))
      .groupBy(col("signal_id"), col("seg"))
      .agg(min(sqDistQ(col("qa"), col("qb"))).as("nnd_ub_q"))
  }

  /** The sampled route's deterministic reference subset: hash residue
    * zero (fnv32("ps:signal:seg") % mod == 0) plus the per-signal two
    * lowest seg ids (see [[profileSampled]] for why two and why lowest).
    * Pure function of (signal_id, seg) — both engines and the streaming
    * increment derive the same set.
    */
  private def sampledRefs(segs: DataFrame, mod: Int): DataFrame =
    segs
      .withColumn("h", refHash)
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("signal_id")).orderBy(col("seg"))))
      .filter(col("h") % mod === 0 || col("srk") <= 2)
      .drop("h", "srk")

  private def refHash: Column =
    graft.functions.VectorFunctions.fnv32(
      concat(lit("ps:"), col("signal_id").cast("string"), lit(":"),
        col("seg").cast("string")), lit(2166136261L))

  /** INCREMENTAL sampled upper bound — the streaming fold of
    * [[profileSampled]]. Per batch it pays
    *  - existing x new-references (O(m·δ/mod) keyed pairs), folded as
    *    mins into the persisted bounds, and
    *  - new x all-references (O(δ·(m+δ)/mod)),
    * never the full m·(m/mod) recompute. Because the reference rule is
    * append-stable (hash residues are per-segment; the two forced refs
    * are the per-signal LOWEST seg ids and seg ids only grow), the
    * union's reference set is exactly existing-refs ∪ new-refs — so the
    * fold equals [[profileSampled]] over the combined segments whenever
    * every prior batch took this path AND batches arrive in per-signal
    * seg-id order (segmentStream guarantees it; out-of-order appends
    * still fold a valid upper bound — the forced-ref election just stops
    * matching the batch rule, so equality degrades to >= truth).
    * MotifDiscordSpec proves the
    * 3-batch chain. A signal that transitions exact→sampled folds its
    * EXACT prior nnd instead: the result is then a tighter-or-equal
    * valid upper bound (min of an exact prefix profile and sampled cross
    * distances ≥ the true union nnd).
    */
  private[graft] def sampledIncrement(existingSegs: DataFrame,
                                      existingBounds: DataFrame,
                                      newSegs: DataFrame,
                                      mod: Int = 4): DataFrame = {
    // no internal checkpoints of the history side: callers hand in either
    // a parquet-backed store (profileStream — re-scan beats a per-batch
    // O(m) checkpoint write) or an already-materialized frame (specs);
    // the δ-derived nRefs below stays checkpointed because it is small
    // and feeds two joins
    val e = existingSegs
    val n = newSegs
    val eRefs = sampledRefs(e, mod)
    // a new segment is a forced reference of the UNION iff its union
    // rank (existing count + in-batch rank; new ids sort after existing)
    // is <= 2 — i.e. only for signals with fewer than 2 prior segments
    val eCnt = e.groupBy(col("signal_id")).agg(count(lit(1)).as("ce"))
    val nRefs = Materialize.checkpoint(n
      .withColumn("h", refHash)
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("signal_id")).orderBy(col("seg"))))
      .join(eCnt, Seq("signal_id"), "left")
      .filter(col("h") % mod === 0 ||
        col("srk") + coalesce(col("ce"), lit(0L)) <= 2)
      .select(col("signal_id"), col("seg"), col("qvals")))
    def minDists(a: DataFrame, refs: DataFrame): DataFrame =
      a.select(col("signal_id"), col("seg"), col("qvals").as("qa"))
        .join(refs.select(col("signal_id"), col("seg").as("seg_b"),
            col("qvals").as("qb")),
          Seq("signal_id"))
        .where(col("seg") =!= col("seg_b"))
        .groupBy(col("signal_id"), col("seg"))
        .agg(min(sqDistQ(col("qa"), col("qb"))).as("d"))
    val newRows = minDists(n, eRefs.unionByName(nRefs))
    val oldFold = minDists(e, nRefs)
    existingBounds.select(col("signal_id"), col("seg"), col("nnd_q").as("d"))
      .unionByName(newRows).unionByName(oldFold)
      .groupBy(col("signal_id"), col("seg"))
      .agg(min(col("d")).as("nnd_q"))
  }

  /** Driver-side scalars read off a MATERIALIZED route-state frame in one
    * aggregation pass ([[probeRouteState]]): they let the profile builder
    * skip whole sides (no dense signal → the history store is never
    * scanned for the sampled fold), pick the member/rep route without
    * another history aggregation, and surface order violations without
    * an extra job.
    */
  final case class RoutePlanProbe(touched: Long, dense: Long,
                                  unordered: Long, untouched: Long,
                                  maxMExact: Long, allExact: Boolean,
                                  maxMTouched: Long)

  /** First-chunk integer sum of a qvals array — the only chunk statistic
    * the routing grid keys on (cells bucket s_0 alone; see routePlanOf).
    */
  private def chunk0Sum(qvals: Column): Column =
    aggregate(slice(qvals, 1, ChunkRows), lit(0L), (acc, x) => acc + x)

  /** Route-state frames are ONE kind-tagged table (so the streaming path
    * persists and re-reads a single file per batch): `kind = 'sig'` rows
    * carry the per-signal scalars + route flags, `kind = 'grp'` rows the
    * per-distinct-vector group state; columns of the other kind are null.
    */
  private val StateCols: Seq[String] = Seq("kind", "signal_id", "m", "t",
    "last_seg", "last_qvals", "exact", "ordered", "touched", "dense",
    "grid_pairs", "h", "cnt", "s0", "salt")

  /** Group-identity hash for the route state, SALTED so a periodic
    * rebuild can re-key it: `h = hash(salt, qvals)`. Two distinct
    * vectors that collide under one salt do not collide under another
    * (w.p. 1 - 2^-64), so the sticky-collision drift documented on
    * [[routeStateOf]] survives at most one rebuild period. salt = 0
    * reproduces the historical unsalted xxhash64, which is what a
    * pre-salt persisted snapshot (salt column read as null -> 0) was
    * built with. Injectable in tests (the default hash is
    * collision-free in practice, so a spec forcing the drift needs a
    * deliberately weak stand-in).
    */
  private[graft] def groupHash(salt: Long, qvals: Column): Column =
    if (salt == 0L) xxhash64(qvals) else xxhash64(lit(salt), qvals)

  private def tagState(sig: DataFrame, grp: DataFrame,
                       salt: Long): DataFrame = {
    val sigRows = sig
      .withColumn("kind", lit("sig"))
      .withColumn("h", lit(null).cast("long"))
      .withColumn("cnt", lit(null).cast("long"))
      .withColumn("s0", lit(null).cast("long"))
      .withColumn("salt", lit(salt))
    val grpRows = grp
      .withColumn("kind", lit("grp"))
      .withColumn("m", lit(null).cast("long"))
      .withColumn("t", lit(null).cast("long"))
      .withColumn("last_seg", lit(null).cast("long"))
      .withColumn("last_qvals", lit(null).cast("array<bigint>"))
      .withColumn("exact", lit(null).cast("boolean"))
      .withColumn("ordered", lit(null).cast("boolean"))
      .withColumn("touched", lit(null).cast("boolean"))
      .withColumn("dense", lit(null).cast("boolean"))
      .withColumn("grid_pairs", lit(null).cast("long"))
      .withColumn("salt", lit(salt))
    sigRows.select(StateCols.map(col): _*)
      .unionByName(grpRows.select(StateCols.map(col): _*))
  }

  /** ROUTE STATE derived from scratch (one batch pass over `segs`) — the
    * associative per-signal / per-distinct-vector statistics from which
    * [[routePlan]]'s numbers can be folded incrementally instead of
    * recomputed over the full history every micro-batch:
    *
    *  - sig state (one row per signal): `m` (segment count), `t` (max
    *    adjacent distance — the grid threshold; null below 2 segments),
    *    `last_seg`/`last_qvals` (the max-seg segment, so the next batch's
    *    boundary adjacent pair folds into `t` without re-reading
    *    history), `exact` (AND over the prior profile's flags), and
    *    `ordered` (false once an append violated per-signal seg order —
    *    the precondition under which the folds equal their batch twins);
    *  - grp state (one row per distinct vector): `h` = xxhash64(qvals),
    *    `cnt` (group size — `cnt == 1` is routePlan's singleton a-side,
    *    every group is one rep on the b-side), `s0` (the group's shared
    *    first-chunk sum, from which grid cells re-derive under any `w`).
    *
    * All of these fold associatively under append (counts add, maxes
    * fold, group counts merge by hash), which is what makes the
    * streaming route plan O(δ + |state|) per batch. The only
    * approximation vs [[routePlan]] is vector identity by 64-bit hash
    * instead of exact array equality — a collision merely perturbs the
    * plan's counts (the routing is a cost decision; both routes are
    * valid), never a profile value. Unlike the batch [[routePlan]],
    * where a collision is recomputed (and so re-perturbed) per run, a
    * collision in the PERSISTED state is sticky: once two distinct
    * vectors of one signal merge under a hash, the merged group keeps
    * cnt >= 2 (no singleton status) and min(s0) for every later batch,
    * so the fold-vs-batch route-count equality silently weakens forever
    * for that signal. Still routing-only — grid_pairs/dense shift, the
    * folded profile values don't.
    *
    * HEALING (r13 verdict #3): the stickiness is bounded by the salted
    * hash + periodic rebuild. The landed segment store retains full
    * vector fidelity, so recomputing this state from it under a FRESH
    * `salt` ([[groupHash]]) re-keys every group identity — a pair that
    * collided under the old salt separates under the new one, and the
    * rebuilt state equals the batch-derived truth again. profileStream
    * does this every `rebuildEvery` micro-batches (also clearing any
    * latched `ordered` flag: the landed store is re-sorted exactly, so
    * the rebuilt threshold t is the true max adjacent distance even
    * after an out-of-order append perturbed the folded one).
    */
  private[graft] def routeStateOf(segs: DataFrame,
                                  profile: DataFrame,
                                  salt: Long = 0L,
                                  hashFn: (Long, Column) => Column = groupHash)
      : DataFrame = {
    val t = adjacentPairs(segs).groupBy(col("signal_id"))
      .agg(max(col("adj_d")).as("t"))
    val sig = segs.groupBy(col("signal_id"))
      .agg(count(lit(1)).as("m"), max(col("seg")).as("last_seg"),
        max_by(col("qvals"), col("seg")).as("last_qvals"))
      .join(t, Seq("signal_id"), "left")
      .join(profile.groupBy(col("signal_id"))
          .agg((min(col("exact").cast("int")) === 1).as("exact")),
        Seq("signal_id"), "left")
      .withColumn("exact", coalesce(col("exact"), lit(true)))
      .withColumn("ordered", lit(true))
      .withColumn("touched", lit(false))
      .withColumn("dense", lit(null).cast("boolean"))
      .withColumn("grid_pairs", lit(null).cast("long"))
    val grp = segs
      .groupBy(col("signal_id"), hashFn(salt, col("qvals")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(chunk0Sum(col("qvals"))).as("s0"))
    tagState(sig, grp, salt)
  }

  /** Fold a batch δ into the kind-tagged route state and re-derive the
    * route flags for the touched signals — ONE lazy frame the caller
    * materializes once per batch (parquet snapshot in profileStream, a
    * localCheckpoint in [[profileIncrementAuto]]). Array work touches
    * ONLY δ: its group hashes/chunk sums, its internal adjacent pairs,
    * and one boundary distance per signal against the persisted
    * last_qvals — never a rank window, chunk-sum pass, or adjacency join
    * over history, which is what made the r11 streaming version pay
    * O(m_total) plan recompute per micro-batch. Counts add, thresholds
    * max (the boundary pair = persisted last segment vs δ's first), the
    * last segment advances, order violations latch; the grid re-derives
    * from the folded (cnt, s0) group scalars under the folded threshold
    * — routePlan's exact arithmetic, with no history arrays in the plan.
    * Untouched signals pass through with their flags nulled (touched =
    * false): a batch cannot change a signal it does not touch.
    *
    * The fold-vs-batch route equality assumes per-signal seg-ordered
    * appends (segmentStream guarantees it) — a violated append is
    * surfaced via `ordered` latching false for that signal, under which
    * the folded threshold may diverge from the batch one (the routing
    * stays a valid cost decision and sampled rows stay valid upper
    * bounds).
    *
    * `skipGrid = true` is the caller's PROOF that no touched signal's
    * folded m can exceed pruneAbove this batch (e.g. prior global max m
    * + δ row count <= pruneAbove, both driver-held scalars): the grid
    * only runs for signals above the threshold, so under that bound it
    * would fold an empty frame anyway — skipping it removes its whole
    * subplan (broadcast build, cell explode, two aggregations, the join
    * back onto the sig rows) plus the shared-frame checkpoints, which at
    * tiny δ are a fixed multi-stage scheduling premium paid for nothing.
    * The output is bit-identical to the unskipped fold under the bound;
    * an unsound hint would only mis-route (cost, not correctness).
    */
  private[graft] def foldRouteState(state: DataFrame, newSegs: DataFrame,
                                    budget: Long = RouteBudget,
                                    pruneAbove: Int = PruneAbove,
                                    skipGrid: Boolean = false,
                                    salt: Long = 0L,
                                    hashFn: (Long, Column) => Column = groupHash)
      : DataFrame = {
    val sigState = state.filter(col("kind") === "sig")
      .select(col("signal_id"), col("m"), col("t"), col("last_seg"),
        col("last_qvals"), col("exact"), col("ordered"))
    val grpState = state.filter(col("kind") === "grp")
      .select(col("signal_id"), col("h"), col("cnt"), col("s0"))
    // δ-side statistics in ONE exchange: the lead window gives adjacent
    // distances (rank-consecutive == seg-consecutive under the per-signal
    // sort), and both the per-signal scalar agg and the per-group agg
    // cluster on supersets of the window's signal partitioning, so
    // neither re-shuffles and the δ scan's exchange is reused across them
    val wSeg = Window.partitionBy(col("signal_id")).orderBy(col("seg"))
    val nBase = newSegs
      .select(col("signal_id"), col("seg"), col("qvals"))
      .repartition(col("signal_id"))
    val nSig = nBase
      .withColumn("nq", lead(col("qvals"), 1).over(wSeg))
      .groupBy(col("signal_id")).agg(
        count(lit(1)).as("dm"), min(col("seg")).as("first_seg"),
        max(col("seg")).as("dlast_seg"),
        min_by(col("qvals"), col("seg")).as("first_qvals"),
        max_by(col("qvals"), col("seg")).as("dlast_qvals"),
        max(sqDistQ(col("qvals"), col("nq"))).as("dt"))
    // δ vectors hash under the CALLER-SUPPLIED salt, which must be the
    // one the persisted state was built with — a mismatched salt would
    // file every δ occurrence under a key its own group can't match
    // (profileStream persists the salt in the state and recovers it at
    // restart, so the contract is structural there)
    val dGrp = nBase
      .groupBy(col("signal_id"), hashFn(salt, col("qvals")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(chunk0Sum(col("qvals"))).as("s0"))
    // the per-signal fold is a UNION + one hash aggregation, not an
    // outer join: a full-outer SMJ would exchange AND sort both sides
    // (AQE cannot broadcast a full outer), while each folded column here
    // has at most one non-null contributor per side, so max/first
    // aggregates reassemble the pair exactly
    val nullLong = lit(null).cast("long")
    val nullArr = lit(null).cast("array<bigint>")
    val sigSrc = sigState.select(col("signal_id"),
      col("m").as("m0"), col("t").as("t0"), col("last_seg").as("ls0"),
      col("last_qvals").as("lq0"), col("exact").as("ex0"),
      col("ordered").as("od0"), nullLong.as("dm"), nullLong.as("fs"),
      nullArr.as("fq"), nullLong.as("dls"), nullArr.as("dlq"),
      nullLong.as("dt"))
    val deltaSrc = nSig.select(col("signal_id"),
      nullLong.as("m0"), nullLong.as("t0"), nullLong.as("ls0"),
      nullArr.as("lq0"), lit(null).cast("boolean").as("ex0"),
      lit(null).cast("boolean").as("od0"), col("dm"),
      col("first_seg").as("fs"), col("first_qvals").as("fq"),
      col("dlast_seg").as("dls"), col("dlast_qvals").as("dlq"), col("dt"))
    val sigMergedPlan = sigSrc.unionByName(deltaSrc)
      .groupBy(col("signal_id"))
      .agg(max(col("m0")).as("m0"), max(col("dm")).as("dm"),
        max(col("t0")).as("t0"), max(col("dt")).as("dt"),
        first(col("lq0"), ignoreNulls = true).as("lq0"),
        first(col("fq"), ignoreNulls = true).as("fq"),
        max(col("ls0")).as("ls0"), max(col("fs")).as("fs"),
        max(col("dls")).as("dls"),
        first(col("dlq"), ignoreNulls = true).as("dlq"),
        min(col("ex0").cast("int")).as("exi"),
        min(col("od0").cast("int")).as("odi"))
      .select(col("signal_id"),
        (coalesce(col("m0"), lit(0L)) + coalesce(col("dm"), lit(0L))).as("m"),
        greatest(col("t0"), col("dt"),
          sqDistQ(col("lq0"), col("fq"))).as("t"),
        coalesce(col("dls"), col("ls0")).as("last_seg"),
        coalesce(col("dlq"), col("lq0")).as("last_qvals"),
        col("dm").isNotNull.as("touched"),
        (coalesce(col("odi") === 1, lit(true)) &&
          (col("ls0").isNull || col("fs").isNull ||
            col("ls0") < col("fs"))).as("ordered"),
        coalesce(col("exi") === 1, lit(true)).as("exact_prior"))
    // LAZY local checkpoints on the two shared frames — but only when
    // the grid runs: the grid's broadcast thresholds and the output rows
    // both consume sigMerged, the grid and the output grp rows both
    // consume grpNew, and lazy materialization dedupes each without the
    // extra eager job an eager checkpoint would cost. Under skipGrid
    // each frame has exactly one consumer, so a checkpoint would be a
    // pure block-write premium.
    val sigMerged =
      if (skipGrid) sigMergedPlan else Materialize.checkpoint(sigMergedPlan, eager = false)
    // ONE signal-hash exchange feeds the group fold and the whole grid:
    // every grouping key downstream is a superset of signal_id, so
    // Catalyst adds no further shuffles past this repartition
    val grpNewPlan = grpState.unionByName(dGrp)
      .repartition(col("signal_id"))
      .groupBy(col("signal_id"), col("h"))
      .agg(sum(col("cnt")).as("cnt"), min(col("s0")).as("s0"))
    val grpNew =
      if (skipGrid) grpNewPlan else Materialize.checkpoint(grpNewPlan, eager = false)
    if (skipGrid) {
      // the caller certified no touched m can exceed pruneAbove: the
      // grid would fold an empty frame, so its flag columns are the
      // literals the empty join would produce — bit-identical output
      val sigNew = sigMerged
        .withColumn("grid_pairs", nullLong)
        .withColumn("dense", when(col("touched"), lit(false)))
        .withColumn("exact", col("exact_prior"))
      return tagState(sigNew, grpNew, salt)
    }
    // routePlan's grid over the folded state, touched signals only: same
    // cell arithmetic as candidatePairs, but from (cnt, s0) pairs, and
    // with BOTH sides of the per-cell product emitted in one exploded
    // pass — a group row contributes (cb = 1) at its own cell and, when
    // it is a singleton, (ca = 1) at its three neighbor cells — so the
    // grid needs one aggregation chain, not an aCells × bCells join
    // the grid only runs for signals ABOVE the size threshold: below it
    // the route is exact regardless of grid_pairs (dense requires
    // m > pruneAbove), so sub-threshold signals skip the cell pass and
    // their persisted grid_pairs stays null ("not computed below the
    // routing threshold") — on a fleet of ordinary signals the grid
    // branch therefore folds an empty frame
    val withW = sigMerged.filter(col("touched") && col("t").isNotNull &&
        col("m") > pruneAbove)
      .select(col("signal_id"), gridWidth(col("t")).as("w"))
    val cellStruct = "array<struct<cell:bigint,ca:bigint,cb:bigint>>"
    val grid = grpNew.join(broadcast(withW), Seq("signal_id"))
      .withColumn("cell", gridCell(col("s0"), col("w")))
      .select(col("signal_id"), explode(concat(
        array(struct(col("cell").as("cell"), lit(0L).as("ca"),
          lit(1L).as("cb"))),
        when(col("cnt") === 1, array(
          struct((col("cell") - 1).as("cell"), lit(1L).as("ca"),
            lit(0L).as("cb")),
          struct(col("cell").as("cell"), lit(1L).as("ca"),
            lit(0L).as("cb")),
          struct((col("cell") + 1).as("cell"), lit(1L).as("ca"),
            lit(0L).as("cb"))))
          .otherwise(array().cast(cellStruct)))).as("c"))
      .groupBy(col("signal_id"), col("c.cell"))
      .agg(sum(col("c.ca")).as("ca"), sum(col("c.cb")).as("cb"))
      .groupBy(col("signal_id"))
      .agg(sum(col("ca") * col("cb")).as("gp"))
    val sigNew = sigMerged.join(grid, Seq("signal_id"), "left")
      .withColumn("grid_pairs",
        when(col("touched") && col("m") > pruneAbove,
          coalesce(col("gp"), lit(0L))))
      .withColumn("dense", when(col("touched"),
        col("m") > pruneAbove &&
          coalesce(col("grid_pairs"), lit(0L)) > budget))
      .withColumn("exact",
        when(col("touched"), col("exact_prior") && !col("dense"))
          .otherwise(col("exact_prior")))
    tagState(sigNew, grpNew, salt)
  }

  /** The probe's aggregate expressions with the `kind = 'sig'` restriction
    * folded in, so they can ride ANY action over the full kind-tagged
    * state frame via `Dataset.observe` (the streaming path attaches them
    * to the state-snapshot write — the probe then costs zero extra jobs)
    * as well as the standalone [[probeRouteState]] aggregation. The extra
    * `all_exact_all` metric (min exact over ALL sig rows, not just the
    * touched ones) is what lets the streaming caller certify its
    * literal-exact fast lane for the NEXT batch without another pass.
    */
  private[graft] def probeMetricCols: Seq[Column] = {
    val sig = col("kind") === "sig"
    Seq(
      sum(when(sig && col("touched"), 1L).otherwise(0L)).as("touched"),
      sum(when(sig && col("touched") && col("dense"), 1L).otherwise(0L))
        .as("dense"),
      sum(when(sig && col("touched") && !col("ordered"), 1L).otherwise(0L))
        .as("unordered"),
      sum(when(sig && !col("touched"), 1L).otherwise(0L)).as("untouched"),
      max(when(sig && col("touched") && !col("dense"), col("m")))
        .as("max_m_exact"),
      min(when(sig && col("touched"), col("exact").cast("long")))
        .as("all_exact_touched"),
      max(when(sig && col("touched"), col("m"))).as("max_m_touched"),
      min(when(sig, col("exact").cast("long"))).as("all_exact_all"))
  }

  /** Rebuild ([[RoutePlanProbe]], all-sig-rows-exact) from the named
    * metric map an observed action produced (see [[probeMetricCols]]).
    */
  private[graft] def probeFromMetrics(m: Map[String, Any])
      : (RoutePlanProbe, Boolean) = {
    def l(k: String): Long = m.get(k) match {
      case Some(v: Long) => v
      case Some(v: Number) => v.longValue
      case _ => 0L
    }
    def allExact(k: String): Boolean = m.get(k) match {
      case Some(v: Number) => v.longValue == 1L
      case _ => true // no sig rows at all => vacuously exact
    }
    (RoutePlanProbe(touched = l("touched"), dense = l("dense"),
      unordered = l("unordered"), untouched = l("untouched"),
      maxMExact = l("max_m_exact"), allExact = allExact("all_exact_touched"),
      maxMTouched = l("max_m_touched")), allExact("all_exact_all"))
  }

  /** One aggregation pass over a MATERIALIZED route-state frame →
    * [[RoutePlanProbe]]. Bounded driver fetch (a handful of scalars),
    * same class as the member/rep router's max-count probe.
    */
  private[graft] def probeRouteState(state: DataFrame): RoutePlanProbe = {
    val r = state.agg(probeMetricCols.head, probeMetricCols.tail: _*).first()
    probeFromMetrics(r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (r.isNullAt(i)) null else r.get(i))
    }.toMap)._1
  }

  /** The member-route exact incremental fold, exposed for a caller that
    * has CERTIFIED the routing on the driver (the streaming fast lane:
    * skipGrid's `prior max m + δ's per-signal max <= pruneAbove` bound
    * proves every touched signal stays on the member route, and the
    * carried all-sig-rows-exact flag makes the output's `exact` column a
    * literal). Untouched signals' profile rows pass through the min-fold
    * unchanged (they contribute no cross/within rows), so the caller may
    * hand the FULL history/profile without the per-signal flag joins
    * [[routedProfileFrom]] needs in the general case.
    * Output: signal_id, seg, nnd_q (caller stamps `exact`).
    */
  private[graft] def memberProfileIncrement(existingSegs: DataFrame,
                                            existingProfile: DataFrame,
                                            newSegs: DataFrame): DataFrame =
    memberIncrement(existingSegs, existingProfile, newSegs)

  /** Prune the HISTORY side of the exact incremental fold to δ's grid-cell
    * neighborhoods under the persisted per-signal threshold — the cut
    * that makes exact streaming maintenance O(local·δ) distances per
    * batch instead of O(m·δ): without it, every micro-batch cross-joins
    * the FULL landed segment history against δ even when δ lands far
    * from almost all of it.
    *
    * Exactness (the class doc's cell arithmetic, applied incrementally):
    * under seg-ordered appends the folded `t` is the union's max
    * adjacent distance, so every segment's true nnd <= t and every
    * exactly-folded profile value p(a) <= t. A history segment a outside
    * every δ cell neighborhood has, for all b in δ,
    * (s0_a - s0_b)² > 4t => d(a,b) > t >= p(a) — δ cannot improve a, so
    * passing a's old profile row through unchanged is exact. A new
    * segment b whose true nearest neighbor a* lies in history has
    * d(b,a*) <= t => |s0_b - s0_a*| <= 2·sqrt(t) < w — a* sits in b's
    * own 3-cell neighborhood and survives. Duplicate groups prune
    * atomically (identical vectors share s0), so the rep fold's
    * group-rank election is unperturbed. For signals whose prior rows
    * are sampled bounds (possibly > t) or whose appends were unordered,
    * pruning only REMOVES candidates from a min-fold, so those rows stay
    * the valid upper bounds they already were — the same contract the
    * unpruned fold gives them.
    *
    * The caller keeps the FULL existingProfile as the fold's
    * pass-through rows; only the distance fan-out side shrinks. The hot
    * cell set is δ-derived (<= 3·δ rows after distinct) and broadcast,
    * so history filters map-side — no history-wide shuffle is added.
    */
  private[graft] def gridPruneHistory(existingSegs: DataFrame,
                                      newSegs: DataFrame,
                                      state: DataFrame): DataFrame = {
    val withW = state
      .filter(col("kind") === "sig" && col("touched") && col("t").isNotNull)
      .select(col("signal_id"), gridWidth(col("t")).as("w"))
    val hot = newSegs.join(broadcast(withW), Seq("signal_id"))
      .select(col("signal_id"),
        gridCell(chunk0Sum(col("qvals")), col("w")).as("cell"))
      .select(col("signal_id"),
        explode(array(col("cell") - 1, col("cell"), col("cell") + 1))
          .as("cell"))
      .distinct()
    existingSegs.join(broadcast(withW), Seq("signal_id"), "left")
      .withColumn("cell",
        when(col("w").isNotNull, gridCell(chunk0Sum(col("qvals")), col("w"))))
      .join(broadcast(hot.withColumn("hit", lit(true))),
        Seq("signal_id", "cell"), "left")
      // a touched signal with t null has no history rows (t is non-null
      // the moment a boundary pair exists); the w-null branch keeps any
      // unforeseen remainder unpruned rather than silently dropping it
      .filter(col("w").isNull || col("hit").isNotNull)
      .select(col("signal_id"), col("seg"), col("qvals"))
  }

  /** The routed profile fold over a MATERIALIZED route state + its probe:
    * the exact incremental fold ([[profileIncrement]]) on the
    * exact-routed side, the sampled fold ([[sampledIncrement]]) on the
    * dense side — each skipped entirely when its side is empty, so the
    * history store is never scanned for a side that would filter to
    * nothing — and untouched signals' prior profile rows passed through
    * unchanged (skipped when every signal is touched). Exactness and the
    * `exact` flag behave as documented on [[profileIncrementAuto]].
    * Output: signal_id, seg, nnd_q, exact.
    */
  private[graft] def routedProfileFrom(existingSegs: DataFrame,
                                       existingProfile: DataFrame,
                                       newSegs: DataFrame, state: DataFrame,
                                       probe: RoutePlanProbe, mod: Int = 4,
                                       pruneAbove: Int = PruneAbove): DataFrame = {
    val outProfile = existingProfile.select(col("signal_id"), col("seg"),
      col("nnd_q"), col("exact"))
    if (probe.touched == 0) return outProfile
    // grid-prune the exact side's history fan-out only past the member
    // route's size cap: below it the cross join is already bounded at
    // <= pruneAbove·δ pairs per signal and the prune's extra joins would
    // be pure per-batch latency; past it the rep route would otherwise
    // pay O(m·δ) rep distances AND an O(m log m) group-rank window over
    // the full history every batch — pruning first cuts both to δ's
    // cell neighborhoods (see [[gridPruneHistory]] for exactness)
    def eForCross(e: DataFrame, n: DataFrame): DataFrame =
      if (probe.maxMExact > pruneAbove) gridPruneHistory(e, n, state) else e
    // the folded per-signal threshold also routes the rep fold's pair
    // enumeration through the grid (see repIncrement) past the member
    // cap — the within-batch δ² product and the e x n rep cross both
    // become candidate-bounded
    val repThresh: Option[DataFrame] =
      if (probe.maxMExact > pruneAbove)
        Some(state.filter(col("kind") === "sig" && col("touched") &&
            col("t").isNotNull)
          .select(col("signal_id"), col("t")))
      else None
    // FAST PATH — every signal touched, exact-routed, and historically
    // exact (the budget-clean steady state): the fold needs no per-signal
    // flag joins at all, and the exact column is a literal
    if (probe.dense == 0 && probe.untouched == 0 && probe.allExact)
      return profileIncrementWithMax(eForCross(existingSegs, newSegs),
        existingProfile.select(col("signal_id"), col("seg"), col("nnd_q")),
        newSegs, pruneAbove, probe.maxMExact, repThresh)
        .withColumn("exact", lit(true))
    val flags = broadcast(state
      .filter(col("kind") === "sig" && col("touched"))
      .select(col("signal_id"), col("dense"), col("exact")))
    def side(df: DataFrame, dense: Boolean): DataFrame =
      df.join(flags.select(col("signal_id"), col("dense")), Seq("signal_id"))
        .filter(col("dense") === dense).drop("dense")
    val prof = existingProfile.select(col("signal_id"), col("seg"),
      col("nnd_q"))
    val exactPart =
      if (probe.touched > probe.dense) {
        val nExact = side(newSegs, dense = false)
        Some(profileIncrementWithMax(
          eForCross(side(existingSegs, dense = false), nExact),
          side(prof, dense = false), nExact, pruneAbove, probe.maxMExact,
          repThresh))
      } else None
    val densePart =
      if (probe.dense > 0) Some(sampledIncrement(
        side(existingSegs, dense = true), side(prof, dense = true),
        side(newSegs, dense = true), mod))
      else None
    val incremented = (exactPart.toSeq ++ densePart.toSeq)
      .reduce(_ unionByName _)
      .join(flags.select(col("signal_id"), col("exact")), Seq("signal_id"))
    if (probe.untouched == 0) incremented
    else incremented.unionByName(
      outProfile.join(flags.select(col("signal_id")),
        Seq("signal_id"), "left_anti"))
  }

  /** ROUTED incremental maintenance — [[profileIncrement]] with the
    * dense-regime escape hatch of [[profileAuto]]: per batch, the route
    * plan (re-derived here from [[routeStateOf]] over the existing
    * segments — callers with a persisted state fold it via
    * [[foldRouteState]] directly and never pay this batch pass)
    * decides per signal whether the exact incremental fold stays within
    * the pair budget; signals routed 'sampled' fold the incremental
    * sampled bound instead, so an inherently dense signal
    * (near-identical yet distinct segments forever) costs O(m·δ/mod) per
    * batch instead of near-rep-level m·δ cross distances. The `exact`
    * column carries the per-signal truth status into the persisted
    * snapshot, and it stays truthful across route transitions in BOTH
    * directions: once a signal has folded a sampled bound, later
    * exact-routed batches still fold over that bound, so
    * exact = routed-exact AND all-prior-exact. Signals untouched by the
    * batch pass their profile rows through unchanged.
    * Output: signal_id, seg, nnd_q, exact.
    */
  def profileIncrementAuto(existingSegs: DataFrame, existingProfile: DataFrame,
                           newSegs: DataFrame,
                           budget: Long = RouteBudget, mod: Int = 4,
                           pruneAbove: Int = PruneAbove): DataFrame = {
    val e = Materialize.checkpoint(existingSegs)
    val n = Materialize.checkpoint(newSegs)
    val p = Materialize.checkpoint(existingProfile)
    val st = Materialize.checkpoint(foldRouteState(routeStateOf(e, p), n, budget, pruneAbove))
    routedProfileFrom(e, p, n, st, probeRouteState(st), mod, pruneAbove)
  }

  /** Per-signal pair budget above which [[profileAuto]] abandons the
    * exact pruned route for the sampled upper bound: the cost-based
    * analogue of [[PruneAbove]]'s size routing. 2M candidate rows per
    * signal keeps a single signal's grid join under one executor-task's
    * comfortable workload even when skew concentrates it.
    */
  val RouteBudget: Long = 2L * 1000 * 1000

  /** Cost-based ROUTING PLAN for the matrix profile — the optimizer-
    * style step that makes the dense regime a measured decision instead
    * of a wall-clock surprise. Per signal it reports
    *  - m (complete segments), n_dup (duplicate-group members),
    *    n_reps (distinct quantized vectors), and
    *  - grid_pairs: the EXACT pre-filter cardinality of the pruned
    *    route's grid equi-join (Σ over cells of 3-exploded-singleton
    *    count × representative count) — computed from per-cell COUNTS,
    *    never by materializing the pairs, so the plan itself is O(m),
    * and routes: 'direct' (m <= pruneAbove — the self-join is cheapest),
    * 'pruned' (grid_pairs within budget — exact, sub-quadratic), else
    * 'sampled' (inherently dense: near-identical yet distinct segments,
    * where no exact index can prune — take the anytime upper bound).
    * Every number is a pure integer function of the data, so the DuckDB
    * oracle recomputes the whole plan exactly.
    * Output: signal_id, m, n_dup, n_reps, grid_pairs, route.
    */
  def routePlan(segs: DataFrame, budget: Long = RouteBudget,
                pruneAbove: Int = PruneAbove): DataFrame =
    routePlanOf(Materialize.checkpoint(segs), budget, pruneAbove)

  private def routePlanOf(sc: DataFrame, budget: Long,
                          pruneAbove: Int): DataFrame =
    routePlanFrom(withGroupRank(sc),
      adjacentPairs(sc).groupBy(col("signal_id"))
        .agg(max(col("adj_d")).as("t")),
      budget, pruneAbove)

  /** [[routePlanOf]] over pre-computed ranked/threshold frames — shared
    * with [[profileAuto]] so the rank window and the adjacent-pair pass
    * are built once and reused by both the plan and the pruned branch.
    */
  private def routePlanFrom(ranked: DataFrame, thresh: DataFrame,
                            budget: Long, pruneAbove: Int): DataFrame = {
    val counts = ranked.groupBy(col("signal_id"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("gcnt") >= 2, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("grk") === 1, 1L).otherwise(0L)).as("n_reps"))
    val withW = thresh.withColumn("w", gridWidth(col("t")))
    // same cell arithmetic as candidatePairs, but folded to counts
    def cells(df: DataFrame) =
      withChunkSums(df).join(broadcast(withW), "signal_id")
        .withColumn("cell", gridCell(col("s_0"), col("w")))
    val aCells = cells(ranked.filter(col("gcnt") === 1))
      .select(col("signal_id"),
        explode(array(col("cell") - 1, col("cell"), col("cell") + 1))
          .as("cell"))
      .groupBy(col("signal_id"), col("cell"))
      .agg(count(lit(1)).as("ca"))
    val bCells = cells(ranked.filter(col("grk") === 1))
      .groupBy(col("signal_id"), col("cell"))
      .agg(count(lit(1)).as("cb"))
    val grid = aCells.join(bCells, Seq("signal_id", "cell"))
      .groupBy(col("signal_id"))
      .agg(sum(col("ca") * col("cb")).as("grid_pairs"))
    counts.join(grid, Seq("signal_id"), "left")
      .withColumn("grid_pairs", coalesce(col("grid_pairs"), lit(0L)))
      .withColumn("route",
        when(col("m") <= pruneAbove, lit("direct"))
          .when(col("grid_pairs") <= budget, lit("pruned"))
          .otherwise(lit("sampled")))
      .select(col("signal_id"), col("m"), col("n_dup"), col("n_reps"),
        col("grid_pairs"), col("route"))
  }

  /** ROUTED matrix profile: applies [[routePlan]] per signal — exact
    * (direct or pruned) wherever the plan's measured candidate count
    * allows, the sampled upper bound only where the data is inherently
    * dense — instead of [[profile]]'s global size routing. The `exact`
    * column carries the per-row truth status, so downstream consumers
    * (and the oracle) know which rows are the true profile and which are
    * the anytime bound. Output: signal_id, seg, nnd_q, exact.
    */
  def profileAuto(segs: DataFrame, budget: Long = RouteBudget,
                  mod: Int = 4,
                  pruneAbove: Int = PruneAbove): DataFrame = {
    val sc = Materialize.checkpoint(segs)
    // materialize the rank window, the per-signal threshold and the tiny
    // route table ONCE: the three route branches below each reference
    // them (plus discordAuto's window on top), and without the
    // checkpoints the whole routePlanOf DAG — rank windows + adjacent
    // pairs + grid-cell counts, ~8 exchanges — was re-inlined under
    // every branch of the union (measured r15: 278-Exchange / 4.7k-line
    // physical plan for seg_profile_auto), and the pruned branch re-ran
    // the same two window passes over its split
    val ranked = Materialize.checkpoint(withGroupRank(sc))
    val thresh = Materialize.checkpoint(adjacentPairs(sc).groupBy(col("signal_id"))
      .agg(max(col("adj_d")).as("t")))
    val routes = Materialize.checkpoint(routePlanFrom(ranked, thresh, budget, pruneAbove)
      .select(col("signal_id"), col("route")))
    val routed = sc.join(broadcast(routes), "signal_id")
    def side(r: String) = routed.filter(col("route") === r).drop("route")
    val prunedRanked = ranked.join(broadcast(routes), "signal_id")
      .filter(col("route") === "pruned").drop("route")
    directProfile(side("direct"))
      .unionByName(prunedProfileFrom(prunedRanked, thresh))
      .withColumn("exact", lit(true))
      .unionByName(
        profileSampled(side("sampled"), mod)
          .withColumnRenamed("nnd_ub_q", "nnd_q")
          .withColumn("exact", lit(false)))
  }

  /** ROUTED discord: per-signal argmax of [[profileAuto]], carrying the
    * exact flag — the routed serving shape of the reference's ingest-time
    * outlier question ("which segment is most anomalous") for fleets
    * whose histories may be inherently dense. A sampled-route signal's
    * discord ranks upper bounds (nnd_ub >= nnd, same hash-chosen
    * reference set on both engines), still a deterministic anomaly
    * ranking; `exact = false` flags those rows so consumers know the
    * verdict is the anytime bound, not the proven maximum.
    * Output: signal_id, seg, nnd_q, exact.
    */
  def discordAuto(segs: DataFrame, budget: Long = RouteBudget,
                  mod: Int = 4,
                  pruneAbove: Int = PruneAbove): DataFrame = {
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("nnd_q").desc, col("seg"))
    profileAuto(segs, budget, mod, pruneAbove)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
  }

  /** Top-k discords per signal (HOT SAX's actual use case reports the k
    * most anomalous subsequences, not one): rank the profile by
    * (nnd_q DESC, seg). Output adds the rank column.
    */
  def discordTopK(segs: DataFrame, k: Int,
                  pruneAbove: Int = PruneAbove): DataFrame = {
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("nnd_q").desc, col("seg"))
    profile(segs, pruneAbove)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Per signal, the complete segment whose exact nearest-neighbor
    * distance (integer squared L2 over qvals) is largest.
    * Output: signal_id, seg, nnd_q — identical to the all-pairs join.
    * Derived from [[profile]] (its argmax with the same tie-break), so it
    * inherits the duplicate collapse and the size routing.
    */
  def discord(segs: DataFrame, pruneAbove: Int = PruneAbove): DataFrame = {
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("nnd_q").desc, col("seg"))
    profile(segs, pruneAbove)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("signal_id"), col("seg"), col("nnd_q"))
  }

  /** Top-k closest pairs per signal (ranked by (dist, seg_a, seg_b)) —
    * the k-motif result shape. Exactness of the pruned route needs a
    * threshold covering the k-th closest pair: the k smallest ADJACENT
    * distances are themselves k valid pairs, so the true k-th closest
    * pair distance is <= the k-th smallest adjacent distance — that
    * order statistic (one small per-signal window over the O(m) adjacent
    * pairs) is the per-signal T. Output adds the rank column.
    */
  def motifTopK(segs: DataFrame, k: Int,
                pruneAbove: Int = PruneAbove): DataFrame = {
    val sc = Materialize.checkpoint(segs)
    val pairs =
      if (maxSegments(sc) <= pruneAbove) naivePairs(sc)
      else {
        // Duplicate collapse for the pair ranking. The k smallest pairs
        // per signal (ordered by (d, seg_a, seg_b)) only ever touch each
        // group's k+1 SMALLEST members: a pair whose endpoint ranks j-th
        // (j > k+1) inside its group is lexicographically preceded by the
        // >= k pairs that swap that endpoint for each smaller group
        // member (same distance, strictly smaller key) — so it cannot be
        // in the top k. Hence:
        //  - zero-distance pairs = all pairs among each dup group's k+1
        //    smallest members (<= C(k+1,2) per group);
        //  - positive pairs = grid-enumerated REPRESENTATIVE pairs fanned
        //    back out to the k+1 smallest members of each endpoint's
        //    group (<= (k+1)^2 per rep pair).
        // A constant 10^4-segment signal thus contributes C(k+1,2) rows
        // instead of 10^8.
        val ranked = Materialize.checkpoint(withGroupRank(sc))
        val capped = ranked.filter(col("grk") <= k + 1)
        val cz = capped.select(col("signal_id"), col("qvals"), col("seg"))
        val zeroPairs = cz
          .join(cz.withColumnRenamed("seg", "seg_b"), Seq("signal_id", "qvals"))
          .where(col("seg") < col("seg_b"))
          .select(col("signal_id"), col("seg").as("seg_a"), col("seg_b"),
            lit(0L).as("d"))
        val wAdj = Window.partitionBy(col("signal_id"))
          .orderBy(col("adj_d").asc)
        // a signal with FEWER than k adjacent pairs (m <= k) has no valid
        // k-th-order bound — keep all its pairs via an effectively
        // infinite threshold (MaxValue/8 so the 4*t comparison cannot
        // overflow); such signals have at most k*(k+1)/2 pairs total
        val thresh = adjacentPairs(sc)
          .withColumn("arnk", row_number().over(wAdj))
          .filter(col("arnk") <= k)
          .groupBy(col("signal_id"))
          .agg(max(col("adj_d")).as("tk"), count(lit(1)).as("na"))
          .select(col("signal_id"),
            when(col("na") < k, lit(Long.MaxValue / 8))
              .otherwise(col("tk")).as("t"))
        val reps = ranked.filter(col("grk") === 1)
          .select(col("signal_id"), col("seg"), col("qvals"))
        val repPairs = candidatePairs(reps, reps, thresh)
          .where(col("seg_a") < col("seg_b"))
        // fan each rep pair to the capped members of both groups
        val mem = capped.select(col("signal_id"), col("qvals"),
          col("seg").as("m"))
        val fanned = repPairs
          .join(reps.select(col("signal_id"), col("seg").as("seg_a"),
            col("qvals").as("qv_a")), Seq("signal_id", "seg_a"))
          .join(reps.select(col("signal_id"), col("seg").as("seg_b"),
            col("qvals").as("qv_b")), Seq("signal_id", "seg_b"))
          .join(mem.select(col("signal_id"), col("qvals").as("qv_a"),
            col("m").as("ma")), Seq("signal_id", "qv_a"))
          .join(mem.select(col("signal_id"), col("qvals").as("qv_b"),
            col("m").as("mb")), Seq("signal_id", "qv_b"))
          .select(col("signal_id"), least(col("ma"), col("mb")).as("seg_a"),
            greatest(col("ma"), col("mb")).as("seg_b"), col("d"))
        zeroPairs.unionByName(fanned)
      }
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("d").asc, col("seg_a"), col("seg_b"))
    pairs.where(col("seg_a") < col("seg_b"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        col("d").as("dist_q"), col("rnk"))
  }

  /** Per signal, the exactly-closest pair of complete segments (ties
    * broken by (seg_a, seg_b)). Output: signal_id, seg_a, seg_b, dist_q —
    * identical to the all-pairs join. Pruned route: a signal with any
    * duplicate group wins with its lexicographically-smallest
    * zero-distance pair (distinct qvals have d >= 1, so d = 0 always
    * wins); only duplicate-free signals run the grid enumeration.
    */
  def motif(segs: DataFrame, pruneAbove: Int = PruneAbove): DataFrame = {
    val sc = Materialize.checkpoint(segs)
    if (maxSegments(sc) <= pruneAbove) winners(naivePairs(sc), forDiscord = false)
    else {
      val ranked = Materialize.checkpoint(withGroupRank(sc))
      // per dup group, its minimal pair = the two smallest members; the
      // signal's winner among zero pairs is the (seg_a, seg_b) minimum
      val zp = ranked.filter(col("grk") <= 2 && col("gcnt") >= 2)
        .groupBy(col("signal_id"), col("qvals"))
        .agg(min(col("seg")).as("seg_a"),
          max(when(col("grk") === 2, col("seg"))).as("seg_b"))
      val wz = Window.partitionBy(col("signal_id"))
        .orderBy(col("seg_a"), col("seg_b"))
      val zeroWinners = zp.withColumn("rnk", row_number().over(wz))
        .filter(col("rnk") === 1)
        .select(col("signal_id"), col("seg_a"), col("seg_b"),
          lit(0L).as("dist_q"))
      val dupSignals = zeroWinners.select(col("signal_id"))
      val noDup = Materialize.checkpoint(sc.join(dupSignals, Seq("signal_id"), "left_anti"))
      val thresh = adjacentPairs(noDup).groupBy(col("signal_id"))
        .agg(min(col("adj_d")).as("t"))
      winners(candidatePairs(noDup, noDup, thresh), forDiscord = false)
        .unionByName(zeroWinners)
    }
  }
}
