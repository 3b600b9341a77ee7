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
  *
  * The kernel is three primitives; every profile, increment and stream
  * batch is a composition of them:
  *  - [[pairs]], the one pair generator: the keyed per-signal product, or
  *    the grid under a per-signal threshold;
  *  - [[nnd]], the one min-fold: (signal_id, seg, d) contributions to one
  *    nearest-neighbor distance per segment. A batch profile folds the
  *    pairs of one route; an increment ([[increment]]) folds the prior
  *    profile with what a [[Generator]] draws from the existing and new
  *    segments (the EDBT 2020 incremental top-k contract: the prior
  *    step's minima bound the next step's candidates);
  *  - [[route]], the one route decision: grid_pairs and direct / pruned /
  *    sampled from per-signal (m, t) and per-group (cnt, s0), shared by
  *    the batch plan and the folded streaming state.
  */
object MotifDiscord {

  private val ChunkRows = 4
  private def nChunks: Int = (Readings.SegmentRows / ChunkRows).toInt

  /** Grid width under a (squared-L2) threshold t and the cell of a
    * first-chunk sum under that width — THE single implementation of
    * the class doc's cell arithmetic. Every grid site ([[pairs]],
    * [[route]], [[gridPruneHistory]]) must share these two formulas: the
    * exactness proofs rest on all sides of every grid join bucketing
    * identically, and a drifted copy would break the candidate-superset
    * guarantee silently rather than visibly.
    */
  private def gridWidth(t: Column): Column =
    (floor(lit(2.0) * sqrt(t.cast("double"))) + 1).cast("long")
  private def gridCell(s0: Column, w: Column): Column =
    ((s0 - pmod(s0, w)) / w).cast("long")

  /** Segment rows + integer chunk sums s_0..s_{k-1} of qvals. */
  private def withChunkSums(segs: DataFrame): DataFrame =
    (0 until nChunks).foldLeft(segs) { (df, i) =>
      df.withColumn(s"s_$i",
        aggregate(slice(col("qvals"), i * ChunkRows + 1, ChunkRows),
          lit(0L), (acc, x) => acc + x))
    }

  /** First-chunk integer sum of a qvals array — the only chunk statistic
    * the routing grid keys on (cells bucket s_0 alone).
    */
  private def chunk0Sum(qvals: Column): Column =
    aggregate(slice(qvals, 1, ChunkRows), lit(0L), (acc, x) => acc + x)

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

  /** Per-signal statistics in one window pass and one aggregation on its
    * partitioning: m (complete segments), t (the max adjacent distance —
    * the discord threshold, null below 2 segments; the lead window pairs
    * rank-consecutive segments, exactly [[adjacentPairs]]), and the first
    * and last segment with their vectors. Columns a caller does not read
    * are pruned from the aggregation.
    */
  private def signalStats(segs: DataFrame): DataFrame = {
    val wSeg = Window.partitionBy(col("signal_id")).orderBy(col("seg"))
    segs.withColumn("nq", lead(col("qvals"), 1).over(wSeg))
      .groupBy(col("signal_id")).agg(
        count(lit(1)).as("m"), min(col("seg")).as("first_seg"),
        max(col("seg")).as("last_seg"),
        min_by(col("qvals"), col("seg")).as("first_qvals"),
        max_by(col("qvals"), col("seg")).as("last_qvals"),
        max(sqDistQ(col("qvals"), col("nq"))).as("t"))
  }

  /** (signal_id, t) of [[signalStats]] for signals with >= 2 segments. */
  private def maxAdjacent(stats: DataFrame): DataFrame =
    stats.filter(col("t").isNotNull).select(col("signal_id"), col("t"))

  /** THE pair generator: exact distances of a-side rows against b-side
    * rows of the same signal, seg_a != seg_b (pass one frame twice for
    * the symmetric enumeration — both orientations are then emitted).
    *  - `None`: the keyed per-signal product;
    *  - `Some(thresh)` (signal_id, t): the grid — cells are first-chunk-
    *    sum buckets of width floor(2*sqrt(t)) + 1, the a-side exploded to
    *    its 3 neighboring cells, and only pairs whose chunk-sum lower
    *    bound is within 4t survive: every pair with d <= t, plus some.
    * Output: signal_id, seg_a, seg_b, d.
    */
  private[graft] def pairs(a: DataFrame, b: DataFrame,
                           thresh: Option[DataFrame]): DataFrame = {
    def side(s: String): Seq[Column] =
      Seq(col("signal_id"), col("seg").as(s"seg_$s"), col("qvals").as(s"q$s"))
    val (joined, bound) = thresh match {
      case None =>
        (a.select(side("a"): _*).join(b.select(side("b"): _*), Seq("signal_id")),
          lit(true))
      case Some(t) =>
        val withW = t.withColumn("w", gridWidth(col("t")))
        def cells(df: DataFrame) =
          withChunkSums(df).join(broadcast(withW), "signal_id")
            .withColumn("cell", gridCell(col("s_0"), col("w")))
        def sums(s: String) = (0 until nChunks).map(i => col(s"s_$i").as(s"s${s}_$i"))
        val aRows = cells(a).select((side("a") :+ col("t")) ++ sums("a") :+
          explode(array(col("cell") - 1, col("cell"), col("cell") + 1)).as("cell"): _*)
        val bRows = cells(b).select((side("b") :+ col("cell")) ++ sums("b"): _*)
        val lb = (0 until nChunks)
          .map(i => (col(s"sa_$i") - col(s"sb_$i")) * (col(s"sa_$i") - col(s"sb_$i")))
          .reduce(_ + _)
        (aRows.join(bRows, Seq("signal_id", "cell")), lb <= lit(4L) * col("t"))
    }
    joined.where(col("seg_a") =!= col("seg_b") && bound)
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        sqDistQ(col("qa"), col("qb")).as("d"))
  }

  /** THE min-fold: a union of (signal_id, seg, d) contributions, one
    * nearest-neighbor distance per segment. Output: signal_id, seg, nnd_q.
    */
  private def nnd(contributions: DataFrame*): DataFrame =
    contributions.reduce(_ unionByName _)
      .groupBy(col("signal_id"), col("seg")).agg(min(col("d")).as("nnd_q"))

  /** A pair frame's contribution to its a-end (resp. b-end) segments. */
  private def toA(p: DataFrame): DataFrame =
    p.select(col("signal_id"), col("seg_a").as("seg"), col("d"))
  private def toB(p: DataFrame): DataFrame =
    p.select(col("signal_id"), col("seg_b").as("seg"), col("d"))
  /** Segments whose nnd is 0 outright (an identical twin exists). */
  private def zeros(segs: DataFrame): DataFrame =
    segs.select(col("signal_id"), col("seg"), lit(0L).as("d"))

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

  /** The representatives (one per distinct vector) of a ranked frame. */
  private def reps(ranked: DataFrame): DataFrame =
    ranked.filter(col("grk") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))

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

  private def maxSegments(sc: DataFrame): Long = {
    val row = sc.groupBy(col("signal_id")).agg(count(lit(1)).as("m"))
      .agg(max(col("m"))).first()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Per signal, the k closest pairs among `pairs` (seg_a < seg_b),
    * ranked by (d, seg_a, seg_b). Output: signal_id, seg_a, seg_b,
    * dist_q, rnk.
    */
  private def winners(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("d").asc, col("seg_a"), col("seg_b"))
    pairs.where(col("seg_a") < col("seg_b"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("signal_id"), col("seg_a"), col("seg_b"),
        col("d").as("dist_q"), col("rnk"))
  }

  /** Per signal, the k profile rows with the largest nnd_q (ties by seg),
    * ranked in `rnk`.
    */
  private def mostAnomalous(prof: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("signal_id"))
      .orderBy(col("nnd_q").desc, col("seg"))
    prof.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
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
    else prunedProfile(Materialize.checkpoint(withGroupRank(sc)),
      maxAdjacent(signalStats(sc)))
  }

  /** The direct route: every per-signal pair, folded. */
  private def directProfile(sc: DataFrame): DataFrame =
    nnd(toA(pairs(sc, sc, None)))

  /** The pruned route over a RANKED frame (withGroupRank columns) with
    * duplicate collapse: dup-group members have nnd_q = 0 outright; only
    * SINGLETON segments enumerate, through the grid, against the
    * distinct representatives (a singleton's nearest neighbor is some
    * group, and its distance to the group equals its distance to the
    * representative). The adjacent-pair threshold over the ORIGINAL
    * segments still bounds every singleton's nnd, so the grid's exactness
    * argument is unchanged. `thresh` may cover extra signals (it joins by
    * signal_id; unmatched signals contribute no pairs).
    */
  private def prunedProfile(ranked: DataFrame, thresh: DataFrame): DataFrame = {
    val singles = ranked.filter(col("gcnt") === 1)
      .select(col("signal_id"), col("seg"), col("qvals"))
    nnd(toA(pairs(singles, reps(ranked), Some(thresh))),
      zeros(ranked.filter(col("gcnt") >= 2)))
  }

  /** What an increment pairs: the (signal_id, seg, d) contributions that
    * a batch of new segments makes, given (existing, new) segments.
    */
  private type Generator = (DataFrame, DataFrame) => Seq[DataFrame]

  /** One increment: the prior profile rows plus `gen`'s contributions,
    * min-folded. Output: signal_id, seg, nnd_q.
    */
  private def increment(existing: DataFrame, profile: DataFrame,
                        fresh: DataFrame, gen: Generator): DataFrame =
    nnd(profile.select(col("signal_id"), col("seg"), col("nnd_q").as("d")) +:
      gen(existing, fresh): _*)

  /** The member generator: every existing x new pair, credited to both
    * ends, and every pair among the new segments — bounded by the
    * router's per-signal segment cap.
    */
  private val member: Generator = (e, n) => {
    val cross = pairs(e, n, None)
    Seq(toA(cross), toB(cross), toA(pairs(n, n, None)))
  }

  /** The rep generator, for long/degenerate histories: the member
    * generator over distinct representatives. Every segment that still
    * NEEDS a cross/within minimum is a representative —
    *  - an existing member of a duplicate group already carries
    *    nnd_q = 0 in the old profile (its twin was among the existing),
    *  - a new member of a duplicate group has an in-batch twin (d = 0),
    * so duplicate mass — a flatlined sensor feeding identical segments
    * forever — costs one rank window per side and zero fan-out joins.
    * Equal vectors across the sides meet as d = 0, and for reps
    * seg_a != seg_b is exactly qa != qb.
    *
    * With a per-signal threshold (`thresh`: signal_id, t — the routed
    * caller's folded max-adjacent t) the history is first cut to the new
    * segments' cell neighborhoods ([[gridPruneHistory]]) and both
    * products go through the grid: a pair with chunk-sum lower bound
    * > 4t has d > t >= every final minimum this fold can emit (an exact
    * signal's nnd and old profile values are <= t; a once-sampled
    * signal's rows only need to stay valid upper bounds), so pruning it
    * changes nothing.
    */
  private def rep(thresh: Option[DataFrame]): Generator = (e, n) => {
    // the new-batch ranked frame is checkpointed: it feeds three legs,
    // and without the cut each re-executes the array-keyed sort window.
    // The history side's reps feed only the cross product, so a
    // checkpoint there would be a pure per-batch O(m) write
    val eReps = reps(withGroupRank(thresh.fold(e)(gridPruneHistory(e, n, _))))
    val nRanked = Materialize.checkpoint(withGroupRank(n))
    val nReps = reps(nRanked)
    val cross = pairs(eReps, nReps, thresh)
    Seq(toA(cross), toB(cross), toA(pairs(nReps, nReps, thresh)),
      zeros(nRanked.filter(col("gcnt") >= 2)))
  }

  /** The sampled generator — the streaming fold of [[profileSampled]].
    * Per batch it pays
    *  - existing x new-references (O(m·δ/mod) keyed pairs), and
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
    * A signal that transitions exact→sampled folds its EXACT prior nnd
    * instead: the result is then a tighter-or-equal valid upper bound.
    */
  private def sampled(mod: Int): Generator = (e, n) => {
    // new ids sort after existing ones, so the new references are the
    // union's references among the new segments. nRefs is δ-sized and
    // feeds two legs, so it is checkpointed; the history side is a
    // parquet-backed store or an already-materialized frame, and
    // re-scanning it beats a per-batch O(m) checkpoint
    val nRefs = Materialize.checkpoint(sampledRefs(n, mod,
      Some(e.groupBy(col("signal_id")).agg(count(lit(1)).as("before")))))
    Seq(toA(pairs(n, sampledRefs(e, mod).unionByName(nRefs), None)),
      toA(pairs(e, nRefs, None)))
  }

  /** INCREMENTAL matrix-profile maintenance (the STAMPI idea at segment
    * granularity): given the persisted profile of the existing segments
    * and a batch of newly sealed segments, the updated profile needs only
    * the cross distances existing x new within each signal (O(m * delta),
    * never the O((m+delta)^2) recompute) and the pairs among the new
    * batch, folded as mins into the old nnd values. Exactly equals the
    * batch profile over the combined segment set — MotifDiscordSpec
    * proves it, and the seg_profile_inc query carries the full-recompute
    * oracle.
    *
    * Size-routed like [[profile]]: with every signal's segment count (on
    * either side) at most pruneAbove, the [[member]] generator is bounded
    * (<= pruneAbove·δ pairs per signal) and its lean 3-exchange plan wins
    * — the rep-level collapse costs ~1 s of constant overhead (two
    * array-keyed rank windows + checkpoints) at sf0.1. Past the threshold
    * the [[rep]] generator takes over so a flatlined sensor streaming
    * identical segments forever costs rep pairs, not m·δ distances.
    */
  def profileIncrement(existingSegs: DataFrame, existingProfile: DataFrame,
                       newSegs: DataFrame,
                       pruneAbove: Int = PruneAbove): DataFrame = {
    val maxM = maxSegments(existingSegs.select(col("signal_id"))
      .unionByName(newSegs.select(col("signal_id"))))
    increment(existingSegs, existingProfile, newSegs,
      if (maxM <= pruneAbove) member else rep(None))
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
    *    what makes the [[sampled]] generator fold to EXACTLY this batch
    *    result (a min-hash rule would re-elect its forced ref across
    *    batches and break that equality).
    * Output: signal_id, seg, nnd_ub_q.
    */
  def profileSampled(segs: DataFrame, mod: Int = 4): DataFrame =
    sampledProfile(segs, mod).withColumnRenamed("nnd_q", "nnd_ub_q")

  private def sampledProfile(segs: DataFrame, mod: Int): DataFrame =
    nnd(toA(pairs(segs, sampledRefs(segs, mod), None)))

  /** The sampled route's deterministic reference subset: hash residue
    * zero (fnv32("ps:signal:seg") % mod == 0) plus the per-signal two
    * lowest seg ids (see [[profileSampled]] for why two and why lowest).
    * Pure function of (signal_id, seg) — both engines and the streaming
    * increment derive the same set. With `before` (signal_id, before:
    * the count of each signal's segments that precede `segs`), a
    * segment's rank counts those too: the references `segs` adds to the
    * union.
    */
  private def sampledRefs(segs: DataFrame, mod: Int,
                          before: Option[DataFrame] = None): DataFrame = {
    val ranked = segs.withColumn("h", refHash)
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("signal_id")).orderBy(col("seg"))))
    before.fold(ranked.withColumn("before", lit(0L)))(
        ranked.join(_, Seq("signal_id"), "left"))
      .filter(col("h") % mod === 0 ||
        col("srk") + coalesce(col("before"), lit(0L)) <= 2)
      .select(col("signal_id"), col("seg"), col("qvals"))
  }

  private def refHash: Column =
    graft.functions.VectorFunctions.fnv32(
      concat(lit("ps:"), col("signal_id").cast("string"), lit(":"),
        col("seg").cast("string")), lit(2166136261L))

  /** Per-signal pair budget above which [[profileAuto]] abandons the
    * exact pruned route for the sampled upper bound: the cost-based
    * analogue of [[PruneAbove]]'s size routing. 2M candidate rows per
    * signal keeps a single signal's grid join under one executor-task's
    * comfortable workload even when skew concentrates it.
    */
  val RouteBudget: Long = 2L * 1000 * 1000

  /** THE route decision. `sig` holds per-signal (m, t) — m complete
    * segments, t the max adjacent distance (null below 2 segments) — and
    * any columns to pass through; `grp` holds one row per distinct
    * vector of a signal: cnt (group size) and s0 (its first-chunk sum).
    *  - grid_pairs: the EXACT pre-filter cardinality of the pruned route's
    *    grid join — Σ over cells of (3-exploded singleton count) ×
    *    (representative count) — computed from per-cell COUNTS in one
    *    exploded pass (a group adds cb = 1 at its own cell and, when it
    *    is a singleton, ca = 1 at its three neighbor cells), never by
    *    materializing the pairs; counted only where `gridOn` holds (null
    *    elsewhere);
    *  - route: 'direct' (m <= pruneAbove — the self-join is cheapest),
    *    'pruned' (grid_pairs within budget — exact, sub-quadratic), else
    *    'sampled' (inherently dense: near-identical yet distinct
    *    segments, where no exact index can prune). Meaningful where
    *    `gridOn` holds or m <= pruneAbove.
    * Group identity is the caller's: the batch plan groups by exact qvals,
    * the streaming state by a salted hash ([[groupHash]]).
    */
  private def route(sig: DataFrame, grp: DataFrame, budget: Long,
                    pruneAbove: Int, gridOn: Column = lit(true)): DataFrame = {
    val withW = sig.filter(gridOn && col("t").isNotNull)
      .select(col("signal_id"), gridWidth(col("t")).as("w"))
    val cellStruct = "array<struct<cell:bigint,ca:bigint,cb:bigint>>"
    def at(cell: Column, ca: Long, cb: Long) =
      struct(cell.as("cell"), lit(ca).as("ca"), lit(cb).as("cb"))
    val grid = grp.join(broadcast(withW), Seq("signal_id"))
      .withColumn("cell", gridCell(col("s0"), col("w")))
      .select(col("signal_id"), explode(concat(
        array(at(col("cell"), 0L, 1L)),
        when(col("cnt") === 1, array(at(col("cell") - 1, 1L, 0L),
            at(col("cell"), 1L, 0L), at(col("cell") + 1, 1L, 0L)))
          .otherwise(array().cast(cellStruct)))).as("c"))
      .groupBy(col("signal_id"), col("c.cell"))
      .agg(sum(col("c.ca")).as("ca"), sum(col("c.cb")).as("cb"))
      .groupBy(col("signal_id"))
      .agg(sum(col("ca") * col("cb")).as("gp"))
    sig.join(grid, Seq("signal_id"), "left")
      .withColumn("grid_pairs", when(gridOn, coalesce(col("gp"), lit(0L))))
      .withColumn("route",
        when(col("m") <= pruneAbove, lit("direct"))
          .when(col("grid_pairs") <= budget, lit("pruned"))
          .otherwise(lit("sampled")))
      .drop("gp")
  }

  /** Cost-based ROUTING PLAN for the matrix profile — the optimizer-
    * style step that makes the dense regime a measured decision instead
    * of a wall-clock surprise. Per signal it reports m (complete
    * segments), n_dup (duplicate-group members), n_reps (distinct
    * quantized vectors), and [[route]]'s grid_pairs and route over exact
    * vector groups. Every number is a pure integer function of the
    * data, so the DuckDB oracle recomputes the whole plan exactly.
    * Output: signal_id, m, n_dup, n_reps, grid_pairs, route.
    */
  def routePlan(segs: DataFrame, budget: Long = RouteBudget,
                pruneAbove: Int = PruneAbove): DataFrame = {
    val sc = Materialize.checkpoint(segs)
    val ranked = withGroupRank(sc)
    val counts = ranked.groupBy(col("signal_id"))
      .agg(sum(when(col("gcnt") >= 2, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("grk") === 1, 1L).otherwise(0L)).as("n_reps"))
    // both sides hold every signal of sc
    batchRoute(ranked, signalStats(sc), budget, pruneAbove)
      .join(counts, Seq("signal_id"), "left")
      .select(col("signal_id"), col("m"), col("n_dup"), col("n_reps"),
        col("grid_pairs"), col("route"))
  }

  /** [[route]] over a ranked frame (withGroupRank columns: its exact
    * vector groups) and its [[signalStats]] — shared by [[routePlan]]
    * and [[profileAuto]], which builds both once and reuses them for the
    * pruned branch. Output: signal_id, m, t, grid_pairs, route.
    */
  private def batchRoute(ranked: DataFrame, stats: DataFrame,
                         budget: Long, pruneAbove: Int): DataFrame =
    route(stats.select(col("signal_id"), col("m"), col("t")),
      ranked.filter(col("grk") === 1).select(col("signal_id"),
        col("gcnt").as("cnt"), chunk0Sum(col("qvals")).as("s0")),
      budget, pruneAbove)

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
    // them (plus discordAuto's window on top); without the checkpoints
    // the whole plan DAG was re-inlined under every branch of the union
    // (measured r15: a 278-Exchange physical plan for seg_profile_auto)
    val ranked = Materialize.checkpoint(withGroupRank(sc))
    val stats = Materialize.checkpoint(signalStats(sc)
      .select(col("signal_id"), col("m"), col("t")))
    val routes = Materialize.checkpoint(batchRoute(ranked, stats, budget, pruneAbove)
      .select(col("signal_id"), col("route")))
    def side(df: DataFrame, r: String) =
      df.join(broadcast(routes), "signal_id").filter(col("route") === r).drop("route")
    directProfile(side(sc, "direct"))
      .unionByName(prunedProfile(side(ranked, "pruned"), maxAdjacent(stats)))
      .withColumn("exact", lit(true))
      .unionByName(sampledProfile(side(sc, "sampled"), mod)
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
                  pruneAbove: Int = PruneAbove): DataFrame =
    mostAnomalous(profileAuto(segs, budget, mod, pruneAbove), 1).drop("rnk")

  /** Top-k discords per signal (HOT SAX's actual use case reports the k
    * most anomalous subsequences, not one): rank the profile by
    * (nnd_q DESC, seg). Output adds the rank column.
    */
  def discordTopK(segs: DataFrame, k: Int,
                  pruneAbove: Int = PruneAbove): DataFrame =
    mostAnomalous(profile(segs, pruneAbove), k)

  /** Per signal, the complete segment whose exact nearest-neighbor
    * distance (integer squared L2 over qvals) is largest.
    * Output: signal_id, seg, nnd_q — identical to the all-pairs join.
    * Derived from [[profile]] (its argmax with the same tie-break), so it
    * inherits the duplicate collapse and the size routing.
    */
  def discord(segs: DataFrame, pruneAbove: Int = PruneAbove): DataFrame =
    mostAnomalous(profile(segs, pruneAbove), 1)
      .select(col("signal_id"), col("seg"), col("nnd_q"))

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
    if (maxSegments(sc) <= pruneAbove) winners(pairs(sc, sc, None), k)
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
      val rs = reps(ranked)
      val repPairs = pairs(rs, rs, Some(thresh))
        .where(col("seg_a") < col("seg_b"))
      // fan each rep pair to the capped members of both groups
      val mem = capped.select(col("signal_id"), col("qvals"),
        col("seg").as("m"))
      val fanned = repPairs
        .join(rs.select(col("signal_id"), col("seg").as("seg_a"),
          col("qvals").as("qv_a")), Seq("signal_id", "seg_a"))
        .join(rs.select(col("signal_id"), col("seg").as("seg_b"),
          col("qvals").as("qv_b")), Seq("signal_id", "seg_b"))
        .join(mem.select(col("signal_id"), col("qvals").as("qv_a"),
          col("m").as("ma")), Seq("signal_id", "qv_a"))
        .join(mem.select(col("signal_id"), col("qvals").as("qv_b"),
          col("m").as("mb")), Seq("signal_id", "qv_b"))
        .select(col("signal_id"), least(col("ma"), col("mb")).as("seg_a"),
          greatest(col("ma"), col("mb")).as("seg_b"), col("d"))
      winners(zeroPairs.unionByName(fanned), k)
    }
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
    val top =
      if (maxSegments(sc) <= pruneAbove) winners(pairs(sc, sc, None), 1)
      else {
        val ranked = Materialize.checkpoint(withGroupRank(sc))
        // per dup group, its minimal pair = the two smallest members; the
        // signal's winner among zero pairs is the (seg_a, seg_b) minimum
        val zp = ranked.filter(col("grk") <= 2 && col("gcnt") >= 2)
          .groupBy(col("signal_id"), col("qvals"))
          .agg(min(col("seg")).as("seg_a"),
            max(when(col("grk") === 2, col("seg"))).as("seg_b"))
          .withColumn("d", lit(0L))
        val zeroWinners = winners(zp, 1)
        val noDup = Materialize.checkpoint(
          sc.join(zeroWinners.select(col("signal_id")), Seq("signal_id"), "left_anti"))
        val thresh = adjacentPairs(noDup).groupBy(col("signal_id"))
          .agg(min(col("adj_d")).as("t"))
        winners(pairs(noDup, noDup, Some(thresh)), 1).unionByName(zeroWinners)
      }
    top.drop("rnk")
  }

  // ---- the folded route state of the streaming profile ----

  /** Driver-side scalars read off a MATERIALIZED route-state frame in one
    * aggregation pass ([[probeRouteState]], or observed on the state
    * write): they let the profile fold skip whole sides (no dense signal
    * → the history store is never scanned for the sampled fold), pick
    * the member/rep generator without another history aggregation, and
    * surface order violations without an extra job. `allExact` is the
    * min exact flag over EVERY signal of the state, touched or not.
    */
  final case class RoutePlanProbe(touched: Long, dense: Long,
                                  unordered: Long, untouched: Long,
                                  maxMExact: Long, maxMTouched: Long,
                                  allExact: Boolean)

  object RoutePlanProbe {
    /** The probe a caller proves on the driver without folding the
      * state: `touched` signals, none of which can reach more than `maxM`
      * segments, and every signal exact. It does not know the order or
      * untouched counts (0); the fold reads neither on that route.
      */
    def certified(touched: Long, maxM: Long): RoutePlanProbe =
      RoutePlanProbe(touched, dense = 0L, unordered = 0L, untouched = 0L,
        maxMExact = maxM, maxMTouched = maxM, allExact = true)
  }

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
    def tagged(df: DataFrame, kind: String, cols: Map[String, String]) =
      cols.foldLeft(df.withColumn("kind", lit(kind)).withColumn("salt", lit(salt))) {
        case (d, (c, t)) => d.withColumn(c, lit(null).cast(t))
      }.select(StateCols.map(col): _*)
    tagged(sig, "sig", Map("h" -> "long", "cnt" -> "long", "s0" -> "long"))
      .unionByName(tagged(grp, "grp", Map("m" -> "long", "t" -> "long",
        "last_seg" -> "long", "last_qvals" -> "array<bigint>",
        "exact" -> "boolean", "ordered" -> "boolean", "touched" -> "boolean",
        "dense" -> "boolean", "grid_pairs" -> "long")))
  }

  /** Per-signal and per-group statistics of a set of segments in ONE
    * exchange: the lead window gives adjacent distances (rank-consecutive
    * == seg-consecutive under the per-signal sort), and both the
    * per-signal scalar agg and the per-group agg cluster on supersets of
    * the window's signal partitioning, so neither re-shuffles.
    *  - sig: signal_id, m, t (max adjacent distance), first_seg,
    *    last_seg, first_qvals, last_qvals;
    *  - grp: signal_id, h (hashFn(salt, qvals)), cnt, s0.
    */
  private def segStats(segs: DataFrame, salt: Long,
                       hashFn: (Long, Column) => Column): (DataFrame, DataFrame) = {
    val base = segs.select(col("signal_id"), col("seg"), col("qvals"))
      .repartition(col("signal_id"))
    val grp = base
      .groupBy(col("signal_id"), hashFn(salt, col("qvals")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(chunk0Sum(col("qvals"))).as("s0"))
    (signalStats(base), grp)
  }

  /** ROUTE STATE derived from scratch (one batch pass over `segs`) — the
    * associative per-signal / per-distinct-vector statistics from which
    * [[route]]'s numbers fold incrementally instead of being recomputed
    * over the full history every micro-batch:
    *
    *  - sig state (one row per signal): `m` (segment count), `t` (max
    *    adjacent distance — the grid threshold; null below 2 segments),
    *    `last_seg`/`last_qvals` (the max-seg segment, so the next batch's
    *    boundary adjacent pair folds into `t` without re-reading
    *    history), `exact` (AND over the prior profile's flags), and
    *    `ordered` (false once an append violated per-signal seg order —
    *    the precondition under which the folds equal their batch twins);
    *  - grp state (one row per distinct vector): `h` = groupHash(salt,
    *    qvals), `cnt` (group size), `s0` (the group's shared first-chunk
    *    sum, from which grid cells re-derive under any `w`).
    *
    * This is not the fold of `segs` into an empty state: it carries the
    * profile's exact flags (a once-sampled signal stays exact = false
    * through a rebuild, where an empty state would reset it) and marks
    * every signal untouched, computing no grid.
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
    * cnt >= 2 and min(s0) for every later batch. Still routing-only.
    *
    * HEALING: the landed segment store retains full vector fidelity, so
    * recomputing this state from it under a FRESH `salt` re-keys every
    * group identity — a pair that collided under the old salt separates
    * under the new one, and the rebuilt state equals the batch-derived
    * truth again. profileStream does this every `rebuildEvery`
    * micro-batches (also clearing any latched `ordered` flag).
    */
  private[graft] def routeStateOf(segs: DataFrame,
                                  profile: DataFrame,
                                  salt: Long = 0L,
                                  hashFn: (Long, Column) => Column = groupHash)
      : DataFrame = {
    val (stats, grp) = segStats(segs, salt, hashFn)
    val sig = stats
      .select(col("signal_id"), col("m"), col("t"), col("last_seg"), col("last_qvals"))
      .join(profile.groupBy(col("signal_id"))
          .agg((min(col("exact").cast("int")) === 1).as("exact")),
        Seq("signal_id"), "left")
      .withColumn("exact", coalesce(col("exact"), lit(true)))
      .withColumn("ordered", lit(true))
      .withColumn("touched", lit(false))
      .withColumn("dense", lit(null).cast("boolean"))
      .withColumn("grid_pairs", lit(null).cast("long"))
    tagState(sig, grp, salt)
  }

  /** Fold a batch δ into the kind-tagged route state and re-derive the
    * route flags for the touched signals — ONE lazy frame the caller
    * materializes once per batch (parquet snapshot in profileStream, a
    * localCheckpoint in [[profileIncrementAuto]]). Array work touches
    * ONLY δ ([[segStats]] of δ, plus one boundary distance per signal
    * against the persisted last_qvals) — never a rank window, chunk-sum
    * pass, or adjacency join over history. Counts add, thresholds max
    * (the boundary pair = persisted last segment vs δ's first), the last
    * segment advances, order violations latch; [[route]] re-derives the
    * grid from the folded (cnt, s0) group scalars under the folded
    * threshold, for touched signals above pruneAbove only (below it the
    * route is direct whatever the grid says). Untouched signals pass
    * through with their flags nulled (touched = false): a batch cannot
    * change a signal it does not touch.
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
    * + δ's per-signal max <= pruneAbove, both driver-held scalars): the
    * grid is then switched off, which the optimizer prunes to nothing,
    * and the shared frames are not checkpointed — at tiny δ those are a
    * fixed multi-stage premium paid for nothing. The output is identical
    * to the unskipped fold under the bound; an unsound hint would only
    * mis-route (cost and the exact flag, never a value's validity).
    */
  private[graft] def foldRouteState(state: DataFrame, newSegs: DataFrame,
                                    budget: Long = RouteBudget,
                                    pruneAbove: Int = PruneAbove,
                                    skipGrid: Boolean = false,
                                    salt: Long = 0L,
                                    hashFn: (Long, Column) => Column = groupHash)
      : DataFrame = {
    val sigState = state.filter(col("kind") === "sig")
    val grpState = state.filter(col("kind") === "grp")
      .select(col("signal_id"), col("h"), col("cnt"), col("s0"))
    // δ vectors hash under the CALLER-SUPPLIED salt, which must be the
    // one the persisted state was built with (profileStream persists the
    // salt in the state and recovers it at restart)
    val (nSig, dGrp) = segStats(newSegs, salt, hashFn)
    // the per-signal fold is a UNION + one hash aggregation, not an
    // outer join: a full-outer SMJ would exchange AND sort both sides
    // (AQE cannot broadcast a full outer), while each folded column here
    // has at most one non-null contributor per side, so max/first
    // aggregates reassemble the pair exactly
    val nullLong = lit(null).cast("long")
    val nullArr = lit(null).cast("array<bigint>")
    val nullBool = lit(null).cast("boolean")
    val sigSrc = sigState.select(col("signal_id"),
      col("m").as("m0"), col("t").as("t0"), col("last_seg").as("ls0"),
      col("last_qvals").as("lq0"), col("exact").as("ex0"),
      col("ordered").as("od0"), nullLong.as("dm"), nullLong.as("fs"),
      nullArr.as("fq"), nullLong.as("dls"), nullArr.as("dlq"),
      nullLong.as("dt"))
    val deltaSrc = nSig.select(col("signal_id"),
      nullLong.as("m0"), nullLong.as("t0"), nullLong.as("ls0"),
      nullArr.as("lq0"), nullBool.as("ex0"), nullBool.as("od0"),
      col("m").as("dm"), col("first_seg").as("fs"),
      col("first_qvals").as("fq"), col("last_seg").as("dls"),
      col("last_qvals").as("dlq"), col("t").as("dt"))
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
    // ONE signal-hash exchange feeds the group fold and the whole grid:
    // every grouping key downstream is a superset of signal_id
    val grpNewPlan = grpState.unionByName(dGrp)
      .repartition(col("signal_id"))
      .groupBy(col("signal_id"), col("h"))
      .agg(sum(col("cnt")).as("cnt"), min(col("s0")).as("s0"))
    // LAZY local checkpoints on the two shared frames — but only when the
    // grid runs: the grid and the output rows both consume each of them,
    // and lazy materialization dedupes each without the extra eager job
    // an eager checkpoint would cost. Without the grid each frame has
    // exactly one consumer, so a checkpoint would be a pure block-write
    // premium
    def shared(df: DataFrame) =
      if (skipGrid) df else Materialize.checkpoint(df, eager = false)
    val grpNew = shared(grpNewPlan)
    val gridOn =
      if (skipGrid) lit(false) else col("touched") && col("m") > pruneAbove
    val sigNew = route(shared(sigMergedPlan), grpNew, budget, pruneAbove, gridOn)
      .withColumn("dense", when(col("touched"), col("route") === "sampled"))
      .withColumn("exact",
        when(col("touched"), col("exact_prior") && !col("dense"))
          .otherwise(col("exact_prior")))
    tagState(sigNew, grpNew, salt)
  }

  /** The threshold (signal_id, t) of a folded state's touched signals —
    * the rep generator's grid threshold past the member cap.
    */
  private[graft] def touchedThreshold(state: DataFrame): DataFrame =
    state.filter(col("kind") === "sig" && col("touched") && col("t").isNotNull)
      .select(col("signal_id"), col("t"))

  /** The probe's aggregate expressions with the `kind = 'sig'` restriction
    * folded in, so they can ride ANY action over the full kind-tagged
    * state frame via `Dataset.observe` (the streaming path attaches them
    * to the state-snapshot write — the probe then costs zero extra jobs)
    * as well as the standalone [[probeRouteState]] aggregation. The
    * `all_exact` metric (min exact over ALL sig rows) is also what lets
    * the streaming caller certify its fast lane for the NEXT batch
    * without another pass.
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
      max(when(sig && col("touched"), col("m"))).as("max_m_touched"),
      min(when(sig, col("exact").cast("long"))).as("all_exact"))
  }

  /** Rebuild a [[RoutePlanProbe]] from the named metric map an observed
    * action produced (see [[probeMetricCols]]).
    */
  private[graft] def probeFromMetrics(m: Map[String, Any]): RoutePlanProbe = {
    def l(k: String): Long = m.get(k) match {
      case Some(v: Number) => v.longValue
      case _ => 0L
    }
    RoutePlanProbe(touched = l("touched"), dense = l("dense"),
      unordered = l("unordered"), untouched = l("untouched"),
      maxMExact = l("max_m_exact"), maxMTouched = l("max_m_touched"),
      // no sig rows at all => vacuously exact
      allExact = m.get("all_exact").forall { case v: Number => v.longValue == 1L; case _ => true })
  }

  /** One aggregation pass over a MATERIALIZED route-state frame →
    * [[RoutePlanProbe]]. Bounded driver fetch (a handful of scalars).
    */
  private[graft] def probeRouteState(state: DataFrame): RoutePlanProbe = {
    val r = state.agg(probeMetricCols.head, probeMetricCols.tail: _*).first()
    probeFromMetrics(r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (if (r.isNullAt(i)) null else r.get(i))
    }.toMap)
  }

  /** Prune the HISTORY side of the exact incremental fold to δ's grid-cell
    * neighborhoods under the folded per-signal threshold (`thresh`:
    * signal_id, t) — the cut that makes exact streaming maintenance
    * O(local·δ) distances per batch instead of O(m·δ).
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
    * atomically (identical vectors share s0), so the rep generator's
    * group-rank election is unperturbed. For signals whose prior rows
    * are sampled bounds (possibly > t) or whose appends were unordered,
    * pruning only REMOVES candidates from a min-fold, so those rows stay
    * the valid upper bounds they already were.
    *
    * The caller keeps the FULL existing profile as the fold's
    * pass-through rows; only the distance fan-out side shrinks, to the
    * touched signals' hot cells. The hot
    * cell set is δ-derived (<= 3·δ rows after distinct) and broadcast,
    * so history filters map-side — no history-wide shuffle is added.
    */
  private[graft] def gridPruneHistory(existingSegs: DataFrame,
                                      newSegs: DataFrame,
                                      thresh: DataFrame): DataFrame = {
    val withW = thresh.select(col("signal_id"), gridWidth(col("t")).as("w"))
    val hot = newSegs.join(broadcast(withW), Seq("signal_id"))
      .select(col("signal_id"),
        gridCell(chunk0Sum(col("qvals")), col("w")).as("cell"))
      .select(col("signal_id"),
        explode(array(col("cell") - 1, col("cell"), col("cell") + 1))
          .as("cell"))
      .distinct()
    // a signal without a threshold has no pair with δ to offer: it is
    // untouched (no δ rows), or touched with no history (t is non-null
    // the moment a boundary pair exists)
    existingSegs.join(broadcast(withW), Seq("signal_id"))
      .withColumn("cell", gridCell(chunk0Sum(col("qvals")), col("w")))
      .join(broadcast(hot), Seq("signal_id", "cell"), "left_semi")
      .select(col("signal_id"), col("seg"), col("qvals"))
  }

  /** THE stream batch's profile fold, over a route `state` and its
    * `probe`: the exact increment (member generator below the size cap,
    * rep generator through the folded grid past it) on the exact-routed
    * side, the sampled increment on the dense side — each skipped when
    * its side is empty, so the history store is never scanned for a side
    * that would filter to nothing — and untouched signals' prior profile
    * rows passed through unchanged.
    *
    * When no touched signal is dense and every signal is exact, the fold
    * needs no per-signal flag joins at all and the exact column is a
    * literal; on the member route it then never reads `state` (passed by
    * name), which is what lets profileStream run it on a probe it
    * certified on the driver ([[RoutePlanProbe.certified]]) while the
    * state is still being written. Exactness and the `exact` flag behave
    * as documented on [[profileIncrementAuto]].
    * Output: signal_id, seg, nnd_q, exact.
    */
  private[graft] def routedProfileFrom(existingSegs: DataFrame,
                                       existingProfile: DataFrame,
                                       newSegs: DataFrame, state: => DataFrame,
                                       probe: RoutePlanProbe, mod: Int = 4,
                                       pruneAbove: Int = PruneAbove): DataFrame = {
    val outProfile = existingProfile.select(col("signal_id"), col("seg"),
      col("nnd_q"), col("exact"))
    if (probe.touched == 0) return outProfile
    lazy val st = state
    val exactPairs =
      if (probe.maxMExact <= pruneAbove) member else rep(Some(touchedThreshold(st)))
    val prof = existingProfile.select(col("signal_id"), col("seg"), col("nnd_q"))
    if (probe.dense == 0 && probe.allExact)
      return increment(existingSegs, prof, newSegs, exactPairs)
        .withColumn("exact", lit(true))
    val flags = broadcast(st
      .filter(col("kind") === "sig" && col("touched"))
      .select(col("signal_id"), col("dense"), col("exact")))
    def side(df: DataFrame, dense: Boolean): DataFrame =
      df.join(flags.select(col("signal_id"), col("dense")), Seq("signal_id"))
        .filter(col("dense") === dense).drop("dense")
    def part(dense: Boolean, gen: Generator) =
      increment(side(existingSegs, dense), side(prof, dense),
        side(newSegs, dense), gen)
    val incremented = (
      (if (probe.touched > probe.dense) Seq(part(dense = false, exactPairs)) else Nil) ++
        (if (probe.dense > 0) Seq(part(dense = true, sampled(mod))) else Nil))
      .reduce(_ unionByName _)
      .join(flags.select(col("signal_id"), col("exact")), Seq("signal_id"))
    if (probe.untouched == 0) incremented
    else incremented.unionByName(
      outProfile.join(flags.select(col("signal_id")),
        Seq("signal_id"), "left_anti"))
  }

  /** ROUTED incremental maintenance — [[profileIncrement]] with the
    * dense-regime escape hatch of [[profileAuto]]: per batch, the route
    * state (derived here with [[routeStateOf]] over the existing
    * segments — callers with a persisted state fold it via
    * [[foldRouteState]] directly and never pay this batch pass) decides
    * per signal whether the exact incremental fold stays within the pair
    * budget; signals routed 'sampled' fold the incremental sampled bound
    * instead, so an inherently dense signal (near-identical yet distinct
    * segments forever) costs O(m·δ/mod) per batch instead of
    * near-rep-level m·δ cross distances. The `exact` column carries the
    * per-signal truth status into the persisted snapshot, and it stays
    * truthful across route transitions in BOTH directions: once a signal
    * has folded a sampled bound, later exact-routed batches still fold
    * over that bound, so exact = routed-exact AND all-prior-exact.
    * Signals untouched by the batch pass their profile rows through
    * unchanged. Output: signal_id, seg, nnd_q, exact.
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
}
