package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Materialize}

/** M3 — density clustering (DBSCAN, Ester et al. KDD'96), completing the
  * reference's lossyML sweep (reference smartcore/src/cluster/dbscan.rs,
  * lossyML workloads) with the one family spark.ml lacks.
  *
  * The reference's implementation is a single-node O(n²) neighbor scan;
  * the Spark shape replaces it with eps-grid bucketing: each point lands
  * in one ⌊x/eps⌋×⌊y/eps⌋ home cell and PROBES its 3×3 neighborhood, so
  * neighbor candidates come from one equi-join on cell id — candidate
  * count is bounded by local density, never all-pairs, and the join
  * shuffles on cell keys so it scales out like any keyed join. Core-core
  * edges then run through the SAME distributed connected-components
  * machinery as near-dedup (min-label propagation / star rounds), and
  * border points take the MIN cluster id among their adjacent cores —
  * every tie-break is min-based, so output is deterministic at any
  * parallelism and exactly reproducible by a SQL oracle.
  *
  * Cluster id = min reachable core point id; noise = -1.
  */
object Dbscan {

  /** points: (id: long, x: double, y: double) -> (id, cluster, is_core). */
  def dbscan(points: DataFrame, eps: Double, minPts: Int): DataFrame = {
    val pts = points.select(col("id"), col("x"), col("y"),
      floor(col("x") / lit(eps)).cast("long").as("cx"),
      floor(col("y") / lit(eps)).cast("long").as("cy"))

    // each point probes its 9 neighbor cells; a neighbor's home cell is
    // unique, so every (a,b) candidate appears exactly once per direction
    val offsets = for { dx <- -1L to 1L; dy <- -1L to 1L } yield (dx, dy)
    val probes = pts.select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        explode(array(offsets.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"),
        col("cx"), col("cy"))
      .select(col("a"), col("ax"), col("ay"),
        (col("cx") + col("o.dx")).as("pcx"), (col("cy") + col("o.dy")).as("pcy"))
    val homes = pts.select(col("id").as("b"), col("x").as("bx"), col("y").as("by"),
      col("cx").as("pcx"), col("cy").as("pcy"))
    val nbrs = probes.join(homes, Seq("pcx", "pcy"))
      .filter(col("a") =!= col("b"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
              (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(eps * eps))
      .select(col("a"), col("b"))

    // |N_eps(p)| >= minPts, the point itself included
    val cores = Materialize.cache(nbrs.groupBy(col("a")).agg(count(lit(1)).as("n"))
      .filter(col("n") + 1L >= minPts.toLong)
      .select(col("a").as("id")))

    // core-core adjacency -> distributed components (min reachable id);
    // isolated cores (no core neighbor) keep their own id as the label
    val corePairs = nbrs
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(cores.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val coreLabels = cores.join(
        Dedup.connectedComponentsAuto(corePairs)
          .select(col("doc_id").as("id"), col("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))

    // border points: non-core within eps of >= 1 core -> min core cluster
    val borderLabels = nbrs
      .join(cores.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
      .join(coreLabels.withColumnRenamed("id", "b"), Seq("b"))
      .groupBy(col("a")).agg(min(col("cluster")).as("cluster"))
      .select(col("a").as("id"), col("cluster"))

    val labeled = coreLabels.withColumn("is_core", lit(true))
      .unionByName(borderLabels.withColumn("is_core", lit(false)))
    pts.select(col("id")).join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"),
        coalesce(col("is_core"), lit(false)).as("is_core"))
  }

  /** Deterministic 2-D fixture: three separated blobs (centers (0,0),
    * (50,0), (0,50), hash-derived offsets in [-3,3]) plus isolated noise
    * points spaced > eps apart. Integer-mixer arithmetic only, so DuckDB
    * regenerates the exact same doubles for the oracle.
    */
  def fixture(spark: SparkSession, nPerCluster: Int = 150, nNoise: Int = 7): DataFrame = {
    val n3 = nPerCluster * 3L
    val blob = spark.range(n3).select(col("id"),
      (col("id") % 3L).as("c"),
      ((Fixtures.mix32(col("id"), 11L) % 601L).cast("double") - 300.0) / 100.0,
      ((Fixtures.mix32(col("id"), 12L) % 601L).cast("double") - 300.0) / 100.0)
      .toDF("id", "c", "ox", "oy")
      .select(col("id"),
        (when(col("c") === 1L, 50.0).otherwise(0.0) + col("ox")).as("x"),
        (when(col("c") === 2L, 50.0).otherwise(0.0) + col("oy")).as("y"))
    val noise = spark.range(n3, n3 + nNoise).select(col("id"),
      (lit(100.0) + (col("id") - lit(n3)).cast("double") * 17.0).as("x"),
      lit(100.0).as("y"))
    blob.unionByName(noise)
  }

  /** DuckDB SQL regenerating [[fixture]] with identical doubles. */
  def fixtureSql(nPerCluster: Int = 150, nNoise: Int = 7): String = {
    val n3 = nPerCluster * 3
    s"""SELECT id,
       |  (CASE WHEN id % 3 = 1 THEN 50.0 ELSE 0.0 END +
       |   (CAST(${Fixtures.mix32Sql("id", 11L)} % 601 AS DOUBLE) - 300.0) / 100.0) AS x,
       |  (CASE WHEN id % 3 = 2 THEN 50.0 ELSE 0.0 END +
       |   (CAST(${Fixtures.mix32Sql("id", 12L)} % 601 AS DOUBLE) - 300.0) / 100.0) AS y
       |FROM range($n3) t(id)
       |UNION ALL
       |SELECT id, 100.0 + CAST(id - $n3 AS DOUBLE) * 17.0 AS x, 100.0 AS y
       |FROM range($n3, ${n3 + nNoise}) t(id)""".stripMargin
  }
}
