package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorFunctions}

/** Distributed isolation forest (Liu/Ting/Zhou, ICDM'08) — the outlier
  * detector the reference's lossy-ML study trains on per-segment feature
  * vectors (`lossyML/src/file_io.rs:261-286` build_iforest /
  * `:419` predict_iforest, via the isolation_forest crate's
  * `Forest::new(trees, subsample)`), there to measure whether lossy tiers
  * (PAA/FFT/GRAIL) preserve outlier structure.
  *
  * This is NOT a port of that crate. Two deliberate departures make the
  * forest both distributed and exactly verifiable by a SQL oracle:
  *
  *  - **Hash-derived randomness.** The crate draws the subsample, split
  *    feature and split value from an RNG; here every choice is fnv32 of
  *    a readable key — subsample rank `is:<tree>:<id>` (each tree takes
  *    the ψ points with the smallest hash, the paper's fixed-ψ sample),
  *    split feature `if:<tree>:<path>`, split fraction `iv:<tree>:<path>`
  *    — so the forest is a pure function of the data and [[oracleCteSql]]
  *    can regrow the identical forest in DuckDB (the same trick the
  *    simhash / fingerprint oracles use, TextOps.fnv32).
  *  - **Fixed-ψ subsample, parameter-bounded fit.** Selection is one
  *    narrow distributed top-k pass (per-partition bounded heaps, then a
  *    tiny merge); everything after operates on ≤ trees·ψ rows, so fit
  *    cost past the scan is independent of data size — the property that
  *    makes the fit viable at 100 TB, where a fraction-of-N subsample
  *    would materialize a multiple of the dataset. Depth is bounded
  *    (default 6) and growth is level-synchronous over the collected
  *    sample, mirroring the SQL oracle step for step.
  *
  * Semantics per Liu et al.: a node splits on feature j = h(tree,path) mod
  * d at split = min_j + frac·(max_j − min_j) computed over the node's
  * SUBSAMPLE members; a node terminates when its subsample count ≤ 1, when
  * the chosen feature is constant, or at max depth; a point exiting at
  * depth k in a node with subsample count n scores path length k + c(n),
  * c(n) = 2(ln(n−1)+γ) − 2(n−1)/n (the BST unsuccessful-search correction).
  * Anomaly score = 2^(−E[path]/c̄) with c̄ the mean of c(subsample size)
  * over trees — the paper's orientation: short average path ⇒ score near
  * 1 ⇒ anomaly; deep paths ⇒ score ≤ 0.5 ⇒ inlier.
  *
  * All floating-point steps are single IEEE operations written identically
  * in the Scala plan and the SQL oracle (both engines are IEEE-754
  * binary64), and order-sensitive folds (the per-point sum of 8 tree path
  * lengths, the c̄ mean) run as explicit ascending-tree list folds on both
  * sides, so the only tolerated divergence is the final 6-dp rounding of
  * ln/pow libm ulps — the same contract as the RBF/SINK kernel oracles.
  */
object IsolationForest {

  /** Euler–Mascheroni constant, as both engines spell it. */
  val Gamma = 0.5772156649015329

  /** c(n) — expected unsuccessful-search path length of a BST of n nodes
    * (Liu et al. eq. 1); the single JVM-side source (fit, the frozen-model
    * walk — java.lang.Math.log, same libm family the 6-dp contract
    * absorbs against DuckDB's ln).
    */
  private[ml] def cOf(n: Long): Double =
    if (n > 2) 2.0 * (math.log(n - 1.0) + Gamma) - 2.0 * (n - 1.0) / n
    else if (n == 2) 1.0 else 0.0

  /** Same formula in DuckDB SQL. */
  def cAdjSql(n: String): String =
    s"CASE WHEN $n > 2 THEN 2.0 * (ln(CAST($n AS DOUBLE) - 1.0) + $Gamma) - " +
      s"2.0 * (CAST($n AS DOUBLE) - 1.0) / CAST($n AS DOUBLE) " +
      s"WHEN $n = 2 THEN 1.0 ELSE 0.0 END"

  private def fnv(key: Column): Column =
    VectorFunctions.fnv32(key, lit(2166136261L))

  /** PAA-4 feature vector per complete 16-row segment — the `read_paafile`
    * input of the reference study (file_io.rs:60), derived from the
    * exact fixed-point chunk sums exactly as `seg_knn_paa` derives its
    * reduced vectors. Output: (signal_id, seg, f0..f3).
    */
  def paaFeatures(r: DataFrame): DataFrame =
    graft.operators.Tiers.paaChunks(r, 4).filter(col("cnt") === 4)
      .withColumn("seg", floor(col("chunk") / 4.0).cast("long"))
      .withColumn("j", col("chunk") % 4)
      .groupBy(col("signal_id"), col("seg"))
      .agg(count(lit(1)).as("nch"),
        (0 until 4).map(j =>
          max(when(col("j") === j, col("chunk_mean"))).as(s"f$j")): _*)
      .filter(col("nch") === 4)
      .drop("nch")

  /** The matching DuckDB CTE: tables `pts0(signal_id, seg, f0..f3)` from
    * the shared readings CTE `r`.
    */
  val paaFeaturesCteSql: String =
    """ch AS (
      |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
      |         CAST(sum(value_q) AS BIGINT) AS sq,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM r GROUP BY 1, 2
      |), cm AS (
      |  SELECT signal_id, chunk, CAST(floor(chunk / 4.0) AS BIGINT) AS seg,
      |         CAST(sq AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE)) AS m
      |  FROM ch WHERE cnt = 4
      |), pts0 AS (
      |  SELECT signal_id, seg,
      |         max(CASE WHEN chunk % 4 = 0 THEN m END) AS f0,
      |         max(CASE WHEN chunk % 4 = 1 THEN m END) AS f1,
      |         max(CASE WHEN chunk % 4 = 2 THEN m END) AS f2,
      |         max(CASE WHEN chunk % 4 = 3 THEN m END) AS f3
      |  FROM cm GROUP BY 1, 2 HAVING count(*) = 4
      |)""".stripMargin

  /** Raw 16-sample feature vector per complete segment — the study's
    * uncompressed baseline (file_io.rs:20 read_csvfile reads the full
    * vectors the lossy variants are judged against).
    */
  def rawFeatures(r: DataFrame): DataFrame =
    graft.operators.Segments.complete(r)
      .select(col("signal_id") +: col("seg") +:
        (0 until 16).map(i => element_at(col("values"), i + 1).as(s"f$i")): _*)

  /** The matching DuckDB CTE: `<prefix>pts0(signal_id, seg, f0..f15)`. */
  def rawFeaturesCteSql(prefix: String): String =
    s"""${prefix}segs AS (
       |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
       |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
       |  FROM r GROUP BY 1, 2
       |), ${prefix}pts0 AS (
       |  SELECT signal_id, seg,
       |         ${(0 until 16).map(i => s"vals[${i + 1}] AS f$i").mkString(", ")}
       |  FROM ${prefix}segs WHERE cnt = 16
       |)""".stripMargin

  /** Grow the forest and score every point.
    *
    * Two phases, each in its 100 TB shape:
    *  1. [[fit]] — one distributed top-k pass selects the fixed-ψ
    *     hash-rank subsample per tree, then the forest grows from those
    *     ≤ trees·ψ rows into a bounded ForestModel (≤ trees·2^depth
    *     nodes);
    *  2. scoring — ONE map-only pass over the points with the frozen
    *     model in the task closure. No join, no shuffle, no state.
    *
    * The per-row walk is a closure UDF on purpose (documented exception
    * to the no-UDF rule): the traversal consults data-dependent node maps
    * bounded by construction, which no builtin expression family can
    * express, and the single interpreted hop replaces what would
    * otherwise be `depth` broadcast joins over every row.
    *
    * @param points   one row per point: `idCols` ++ `featCols` (doubles,
    *                 non-null)
    * @param idCols   identity of a point (hash key + output key)
    * @param featCols feature columns (the vector the trees split on)
    * @return one row per point: idCols ++ (avg_depth, avg_path, score) —
    *         avg_depth is exact (integer sum / trees, trees a power of 2);
    *         avg_path and score are 6-dp rounded.
    */
  def scores(points: DataFrame, idCols: Seq[String], featCols: Seq[String],
             trees: Int = 8, depth: Int = 6, psi: Int = 256,
             fitFilter: Column = lit(true)): DataFrame = {
    require((trees & (trees - 1)) == 0, "trees must be a power of 2 so avg_depth is exact")
    val model = fit(points, idCols, featCols, trees, depth, psi, fitFilter)
    scoreWithModel(points, idCols, featCols, model)
  }

  /** Map-only scoring of a points frame against a frozen model. */
  def scoreWithModel(points: DataFrame, idCols: Seq[String],
                     featCols: Seq[String], model: ForestModel): DataFrame = {
    val walk = udf((fs: Seq[Double]) => model.score(fs.toArray))
    points
      .withColumn("s", walk(array(featCols.map(col): _*)))
      .select(idCols.map(col) :+ col("s._1").as("avg_depth") :+
        col("s._2").as("avg_path") :+ col("s._3").as("score"): _*)
  }

  /** One frozen decision node: split feature index, split value, whether
    * the node terminates, and its c(ns) path-length credit.
    */
  case class ForestNode(hf: Int, split: Double, terminal: Boolean, cterm: Double)

  /** A frozen forest for serving — the reference's build_iforest /
    * predict_iforest split (file_io.rs:261/:419): train once on the landed
    * corpus, score new points forever. Driver-local and broadcast-friendly
    * by construction: ≤ trees·2^depth nodes regardless of data size.
    */
  case class ForestModel(levels: IndexedSeq[Map[(Int, Long), ForestNode]],
                         lastNs: Map[(Int, Long), Long],
                         cbar: Double, trees: Int, depth: Int, psi: Int) {

    private def c(n: Long): Double = cOf(n)

    /** Spark's round(_, 6) exactly (BigDecimal HALF_UP; NaN/Inf pass
      * through like the expression does — BigDecimal would throw).
      */
    private def r6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    /** Walk one tree. Returns (exit depth, path length). */
    def walk(tree: Int, feats: Array[Double]): (Int, Double) = {
      var path = 1L
      var level = 0
      while (level < depth) {
        levels(level).get((tree, path)) match {
          case None => return (level, level.toDouble) // empty node, c(0)=0
          case Some(n) if n.terminal => return (level, level + n.cterm)
          case Some(n) =>
            path = path * 2 + (if (feats(n.hf) < n.split) 0L else 1L)
        }
        level += 1
      }
      (depth, depth + c(lastNs.getOrElse((tree, path), 0L)))
    }

    /** Score one point — identical arithmetic (ascending-tree fold,
      * 6-dp rounds) to the distributed [[scores]] output columns.
      */
    def score(feats: Array[Double]): (Double, Double, Double) = {
      var sd = 0L
      var sp = 0.0
      var t = 0
      while (t < trees) {
        val (dpt, plen) = walk(t, feats)
        sd += dpt
        sp = sp + plen
        t += 1
      }
      val avgPath = sp / trees
      (sd.toDouble / trees, r6(avgPath), r6(math.pow(2.0, -avgPath / cbar)))
    }
  }

  /** Walk the already-frozen prefix of a forest: the node path a point
    * occupies after `lm.length` split levels, or None if it exited in an
    * earlier (terminal or empty) node.
    */
  private def pathAt(lm: Seq[Map[(Int, Long), ForestNode]], tree: Int,
                     fs: Seq[Double]): Option[Long] = {
    var path = 1L
    var k = 0
    while (k < lm.length) {
      lm(k).get((tree, path)) match {
        case None => return None
        case Some(n) if n.terminal => return None
        case Some(n) =>
          path = path * 2 + (if (fs(n.hf) < n.split) 0L else 1L)
      }
      k += 1
    }
    Some(path)
  }

  /** Train a frozen forest on a FIXED-SIZE subsample — Liu et al.'s ψ
    * (the isolation_forest crate's `Forest::new(trees, subsample)` the
    * reference study calls, lossyML/src/file_io.rs:261): each tree grows
    * from the ψ points whose hash rank fnv32("is:<tree>:<id>") is
    * smallest, ties broken by the id string — a deterministic per-tree
    * pseudo-random sample the SQL oracle reproduces with one
    * row_number() window.
    *
    * 100 TB shape: ONE narrow pass selects the subsample — per-partition
    * bounded heaps keep the ψ smallest (hash, id) candidates per tree
    * (classic distributed top-k, ≤ trees·ψ entries of state per task),
    * then one tiny shuffle of ≤ partitions·trees·ψ survivors merges per
    * tree. Fit cost beyond that scan is INDEPENDENT of data size: the
    * collected subsample is ≤ trees·ψ rows (8·256·d doubles ≈ 1 MB at
    * d=64 — bounded by parameters, not data), and the level-synchronous
    * growth is pure driver arithmetic over it, each step the same single
    * IEEE operation the SQL oracle spells out (min/max are
    * order-independent, the split is one fma-free `mn + frac·(mx−mn)`),
    * so parity with the DuckDB regrow is exact. Scoring still scales
    * with rows (one map-only pass); only the fit is now O(scan) +
    * O(trees·ψ·depth) driver work, where the previous fraction-mode fit
    * checkpointed trees/mod × N rows and aggregated them depth+2 times.
    */
  def fit(points: DataFrame, idCols: Seq[String], featCols: Seq[String],
          trees: Int = 8, depth: Int = 6, psi: Int = 256,
          fitFilter: Column = lit(true)): ForestModel = {
    require(psi >= 1, s"psi must be >= 1, got $psi")
    import points.sparkSession.implicits._
    val d = featCols.length
    val idKey = concat_ws(":", idCols.map(c => col(c).cast("string")): _*)

    type Cand = (Int, Long, String, Seq[Double])
    val ord = Ordering.by[Cand, (Long, String)](c => (c._2, c._3))
    // keep the psi smallest (hash, id) per tree with a bounded max-heap
    def shrink(it: Iterator[Cand]): Iterator[Cand] = {
      val heaps = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.PriorityQueue[Cand]]
      it.foreach { c =>
        val q = heaps.getOrElseUpdate(c._1,
          scala.collection.mutable.PriorityQueue.empty[Cand](ord))
        if (q.size < psi) q.enqueue(c)
        else if (ord.lt(c, q.head)) { q.dequeue(); q.enqueue(c) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val sub: Array[Cand] = points
      .filter(fitFilter)
      .select(explode(sequence(lit(0), lit(trees - 1))).as("tree") +:
        idKey.as("ik") +: featCols.map(col): _*)
      .select(col("tree").cast("int").as("_1"),
        fnv(concat(lit("is:"), col("tree").cast("string"), lit(":"),
          col("ik"))).cast("long").as("_2"),
        col("ik").as("_3"),
        array(featCols.map(col): _*).as("_4"))
      .as[(Int, Long, String, Seq[Double])]
      .mapPartitions[(Int, Long, String, Seq[Double])](shrink _)
      .groupByKey(_._1)
      .flatMapGroups[(Int, Long, String, Seq[Double])](
        (_: Int, it: Iterator[Cand]) => shrink(it))
      .collect() // ≤ trees·psi rows by construction

    val byTree: Map[Int, Array[Array[Double]]] =
      sub.groupBy(_._1).map { case (t, cs) => t -> cs.map(_._4.toArray) }
    val cbar = (0 until trees)
      .map(t => cOf(byTree.get(t).map(_.length.toLong).getOrElse(0L)))
      .foldLeft(0.0)(_ + _) / trees

    // Level-synchronous growth over the collected subsample: place each
    // row in its level-k node via the frozen-prefix walk, fold
    // (count, min, max of the node's hash-chosen split feature) — the
    // identical stats the fraction-mode fit aggregated distributively,
    // now plain driver loops because the input is parameter-bounded.
    var lvls = Vector.empty[Map[(Int, Long), ForestNode]]
    def nodeStats(frozen: Vector[Map[(Int, Long), ForestNode]])
      : Seq[(Int, Long, Long, Double, Double)] = {
      val acc = scala.collection.mutable.Map
        .empty[(Int, Long), (Long, Double, Double)]
      for ((t, rows) <- byTree; fs <- rows)
        pathAt(frozen, t, fs) match {
          case Some(path) =>
            val cv = fs((TextOps.fnv32(s"if:$t:$path") % d).toInt)
            val (n0, mn0, mx0) =
              acc.getOrElse((t, path), (0L, cv, cv))
            acc((t, path)) =
              (n0 + 1, math.min(mn0, cv), math.max(mx0, cv))
          case None =>
        }
      acc.toSeq.map { case ((t, p), (ns, mn, mx)) => (t, p, ns, mn, mx) }
    }
    for (_ <- 0 until depth) {
      val local = nodeStats(lvls).map { case (t, p, ns, mn, mx) =>
        val hf = (TextOps.fnv32(s"if:$t:$p") % d).toInt
        val frac = TextOps.fnv32(s"iv:$t:$p").toDouble / 4294967296.0
        (t, p) -> ForestNode(hf, mn + frac * (mx - mn),
          ns <= 1 || mx == mn, cOf(ns))
      }.toMap
      lvls = lvls :+ local
    }

    val lastNs = nodeStats(lvls)
      .map { case (t, p, ns, _, _) => (t, p) -> ns }.toMap

    ForestModel(lvls.toIndexedSeq, lastNs, cbar, trees, depth, psi)
  }

  /** Persist a frozen model as one small parquet (row kinds: per-level
    * nodes, final-level counts, one meta row) — train once, serve from
    * any later session/stream, the IvfStore discipline for models.
    * Doubles survive the round trip bit-exactly (parquet stores raw
    * binary64), so a loaded model scores identically (spec-proven).
    */
  def save(spark: SparkSession, model: ForestModel, path: String): Unit = {
    import spark.implicits._
    val nodes = model.levels.zipWithIndex.flatMap { case (m, lvl) =>
      m.toSeq.map { case ((t, p), n) =>
        ("node", lvl, t, p, n.hf, n.split, n.terminal, n.cterm, 0L) }
    }
    val last = model.lastNs.toSeq.map { case ((t, p), ns) =>
      ("last", model.depth, t, p, 0, 0.0, false, 0.0, ns) }
    val meta = Seq(("meta", -1, model.trees, 0L, model.depth, model.cbar,
      false, 0.0, model.psi.toLong))
    (nodes ++ last ++ meta)
      .toDF("kind", "level", "tree", "path", "hf", "split", "terminal",
        "cterm", "ns")
      .coalesce(1) // a model is ≤ trees·2^depth rows — one file by design
      .write.mode("overwrite").parquet(path)
  }

  /** Load a model written by [[save]]. */
  def load(spark: SparkSession, path: String): ForestModel = {
    val rows = spark.read.parquet(path).collect()
    val meta = rows.find(_.getAs[String]("kind") == "meta")
      .getOrElse(throw new IllegalStateException(s"no meta row in $path"))
    // meta row encoding (see save): tree=trees, hf=depth, split=cbar,
    // ns=psi
    val trees = meta.getAs[Int]("tree")
    val depth = meta.getAs[Int]("hf")
    val levels = (0 until depth).map { lvl =>
      rows.filter(r => r.getAs[String]("kind") == "node" &&
          r.getAs[Int]("level") == lvl)
        .map(r => (r.getAs[Int]("tree"), r.getAs[Long]("path")) ->
          ForestNode(r.getAs[Int]("hf"), r.getAs[Double]("split"),
            r.getAs[Boolean]("terminal"), r.getAs[Double]("cterm")))
        .toMap
    }.toIndexedSeq
    val lastNs = rows.filter(_.getAs[String]("kind") == "last")
      .map(r => (r.getAs[Int]("tree"), r.getAs[Long]("path")) ->
        r.getAs[Long]("ns")).toMap
    ForestModel(levels, lastNs, meta.getAs[Double]("split"), trees, depth,
      meta.getAs[Long]("ns").toInt)
  }

  /** DuckDB oracle regrowing the identical forest level by level from a
    * CTE `pts0` providing (idCols..., feature columns...). Produces a CTE
    * chain ending in table `ifout(idCols..., avg_depth, avg_path, score)`.
    * Every arithmetic step mirrors [[scores]] operation for operation.
    *
    * Degenerate-input caveat: if the fit filter admits NO subsample rows,
    * c̄ = 0 and the engine scores NaN (0/0 exponent, EdgeCaseSpec) while
    * DuckDB's 0.0/0.0 yields NULL, so engine and oracle diverge NaN-vs-NULL
    * there; every registered query fits on a non-empty subsample by
    * construction, which keeps that case out of the oracle contract.
    */
  def oracleCteSql(idColsSql: Seq[String], featCols: Seq[String],
                   trees: Int = 8, depth: Int = 6, psi: Int = 256,
                   prefix: String = "", fitFilterSql: String = "TRUE"): String = {
    val P = prefix
    val d = featCols.length
    val ids = idColsSql.mkString(", ")
    val feats = featCols.mkString(", ")
    val idKey = idColsSql.map(c => s"CAST($c AS VARCHAR)").mkString(" || ':' || ")
    def nodeKey(p: String) = s"CAST(tree AS VARCHAR) || ':' || CAST($p AS VARCHAR)"
    val statCols = (s"CAST(count(*) AS BIGINT) AS ns" +:
      featCols.zipWithIndex.flatMap { case (f, j) =>
        Seq(s"min($f) AS mn$j", s"max($f) AS mx$j") }).mkString(",\n      ")
    def pick(cols: Int => String) =
      s"CASE hf ${(0 until d).map(j => s"WHEN $j THEN ${cols(j)}").mkString(" ")} END"

    val levels = (0 until depth).map { k =>
      s"""${P}st$k AS (
         |  SELECT tree, path, $statCols
         |  FROM ${P}l$k WHERE NOT done AND is_sub GROUP BY 1, 2
         |), ${P}dec$k AS (
         |  SELECT tree, path, hf,
         |    @PICKMN@ AS mn, @PICKMX@ AS mx, frac,
         |    ns, (ns <= 1 OR @PICKMX@ = @PICKMN@) AS terminal
         |  FROM (
         |    SELECT *, ${TextOps.fnv32Sql(s"'if:' || ${nodeKey("path")}")} % $d AS hf,
         |      CAST(${TextOps.fnv32Sql(s"'iv:' || ${nodeKey("path")}")} AS DOUBLE) / 4294967296.0 AS frac
         |    FROM ${P}st$k)
         |), ${P}l${k + 1} AS (
         |  SELECT tree, $ids, $feats, is_sub,
         |    CASE WHEN l.done OR dd.terminal IS NULL OR dd.terminal THEN l.path
         |         ELSE l.path * 2 + (CASE WHEN (@PICKF@) < (dd.mn + dd.frac * (dd.mx - dd.mn)) THEN 0 ELSE 1 END)
         |    END AS path,
         |    (l.done OR dd.terminal IS NULL OR dd.terminal) AS done,
         |    CASE WHEN l.done THEN l.dpt
         |         WHEN dd.terminal IS NULL OR dd.terminal THEN $k ELSE l.dpt END AS dpt,
         |    CASE WHEN l.done THEN l.plen
         |         WHEN dd.terminal IS NULL OR dd.terminal
         |           THEN $k.0 + coalesce(${cAdjSql("dd.ns")}, 0.0)
         |         ELSE l.plen END AS plen
         |  FROM ${P}l$k l LEFT JOIN ${P}dec$k dd USING (tree, path)
         |)"""
        .stripMargin
        .replace("@PICKMX@", pick(j => s"mx$j"))
        .replace("@PICKF@", pick(j => featCols(j)))
        .replace("@PICKMN@", pick(j => s"mn$j"))
    }.mkString(",\n")

    s"""${P}pts AS (
       |  SELECT tree, $ids, $feats,
       |    (ff AND row_number()
       |       OVER (PARTITION BY tree, ff ORDER BY hsub, iksub) <= $psi)
       |      AS is_sub
       |  FROM (
       |    SELECT t.tree, $ids, $feats, ($fitFilterSql) AS ff,
       |      ${TextOps.fnv32Sql(s"'is:' || CAST(t.tree AS VARCHAR) || ':' || $idKey")} AS hsub,
       |      $idKey AS iksub
       |    FROM ${P}pts0 CROSS JOIN (SELECT unnest(range($trees)) AS tree) t)
       |), ${P}l0 AS (
       |  SELECT tree, $ids, $feats, is_sub,
       |    CAST(1 AS BIGINT) AS path, FALSE AS done, 0 AS dpt, 0.0 AS plen
       |  FROM ${P}pts
       |),
       |$levels,
       |${P}stD AS (
       |  SELECT tree, path, CAST(count(*) AS BIGINT) AS ns
       |  FROM ${P}l$depth WHERE NOT done AND is_sub GROUP BY 1, 2
       |), ${P}closed AS (
       |  SELECT l.tree, $ids,
       |    CASE WHEN l.done THEN l.dpt ELSE $depth END AS dpt,
       |    CASE WHEN l.done THEN l.plen
       |         ELSE $depth.0 + ${cAdjSql("coalesce(sd.ns, 0)")} END AS plen
       |  FROM ${P}l$depth l LEFT JOIN ${P}stD sd USING (tree, path)
       |), ${P}cb AS (
       |  SELECT list_reduce(list_prepend(0.0, list(ct ORDER BY tree)),
       |           (a, x) -> a + x) / $trees AS cbar
       |  FROM (SELECT tree, ${cAdjSql("count(*)")} AS ct
       |        FROM ${P}pts WHERE is_sub GROUP BY tree)
       |), ${P}ifout AS (
       |  SELECT $ids,
       |    CAST(sum(dpt) AS DOUBLE) / $trees AS avg_depth,
       |    round(list_reduce(list_prepend(0.0, list(plen ORDER BY tree)),
       |            (a, x) -> a + x) / $trees, 6) AS avg_path,
       |    round(pow(2.0, -(list_reduce(list_prepend(0.0, list(plen ORDER BY tree)),
       |            (a, x) -> a + x) / $trees) / (SELECT cbar FROM ${P}cb)), 6) AS score
       |  FROM ${P}closed GROUP BY $ids
       |)""".stripMargin
  }
}
