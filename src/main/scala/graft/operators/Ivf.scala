package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{PqDecode, PqEncode}

/** One coarse-quantized (IVF) index: Voronoi cells over a bounded
  * centroid dictionary (a deliberate driver-side constant, never
  * corpus-sized). Two optional parts decide what a cell holds per vector:
  *  - neither: the raw vector (IVF-Flat), ranked by exact cosine;
  *  - `planes`: the JL-projected vector (RP-IVF) — cells are over the
  *    projected centroids, the reduced-cosine shortlist is reranked by
  *    exact full-space cosine, so IVF prunes WHICH vectors are scanned and
  *    RP shrinks WHAT is scanned per vector;
  *  - `codebook`: the PQ codes of the vector minus its cell centroid
  *    (IVF-PQ, Jégou et al.'s IVFADC), ranked by rounded squared L2
  *    against centroid + decoded residual — no raw floats are scanned.
  *
  * Every query is [[assign]] then [[serve]], whether the assigned cells
  * are a DataFrame (Similarity.ivfTopK) or the cell-partitioned Parquet of
  * graft.sources.IvfStore, so the in-memory and stored paths share one
  * arithmetic and one oracle. Assignment is map-only (no join, no
  * shuffle, no row amplification of the corpus); probes are the small,
  * broadcast side of the serve.
  */
final case class Ivf(centroids: Seq[(Int, Seq[Double])],
                     planes: Seq[Seq[Double]] = Nil,
                     codebook: Option[Array[Array[Array[Double]]]] = None) {
  require(planes.isEmpty || codebook.isEmpty, "a projected index holds no PQ codes")

  /** The space the cells live in: the vector itself or its projection. */
  private def space(v: Column): Column =
    if (planes.isEmpty) v else Similarity.rpProject(v, planes)

  private def centroid(cell: Column): Column =
    element_at(array(centroids.sortBy(_._1).map { case (_, c) => typedLit(c) }: _*),
      cell.cast("int") + lit(1))

  private def residual(v: Column, cell: Column): Column =
    zip_with(v.cast("array<double>"), centroid(cell), (a, b) => a - b)

  /** `v` minus the centroid of its best cell, in double — what the PQ
    * codes encode (and what the residual codebook is sampled from).
    */
  def residual(v: Column): Column = residual(v, Similarity.bestCell(v, centroids))

  /** Map-only cell assignment: (vec_id, payload, cell), where the payload
    * is `e` (the vector in the index space) or `codes` (PQ residual codes)
    * — exactly the columns IvfStore persists.
    */
  def assign(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val cells = vecs.select(col(idCol).as("vec_id"), space(col(vecCol)).as("e"))
      .withColumn("cell", Similarity.bestCell(col("e"), centroids))
    codebook.fold(cells)(cb => cells.select(col("vec_id"),
      column(PqEncode(expression(residual(col("e"), col("cell"))), cb)).as("codes"),
      col("cell")))
  }

  /** Each probe's `nProbe` nearest cells in the index space:
    * (probe_id, pe, cell). Ties rank the lower cell first.
    */
  def probeCells(probes: DataFrame, nProbe: Int): DataFrame = {
    val pc = probes.select(col("probe_id"), space(col("pe")).as("pe"))
      .select(col("probe_id"), col("pe"),
        explode(array(centroids.map { case (i, c) =>
          struct(lit(i).as("cell"),
            Similarity.cosine(col("pe").cast("array<double>"), typedLit(c)).as("pcos"))
        }: _*)).as("e"))
      .select(col("probe_id"), col("pe"), col("e.cell").as("cell"), col("e.pcos").as("pcos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("pcos").desc, col("cell"))
    pc.withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= nProbe).select(col("probe_id"), col("pe"), col("cell"))
  }

  /** Top-k per probe over the assigned cells `stored` (as [[assign]]
    * writes them) that the probe `cells` name: an equi-join on `cell`
    * against the broadcast probe cells, scored, then ranked. A projected
    * index ranks its reduced-space `rerank.shortlist` and reranks that by
    * exact full-space cosine. Output: (probe_id, cand_id, sim | dist, rnk).
    */
  def serve(stored: DataFrame, cells: DataFrame, k: Int,
            rerank: Option[Ivf.Rerank] = None): DataFrame = {
    require(rerank.isDefined == planes.nonEmpty,
      "a projected index serves through a full-space rerank, and only it does")
    val (scored, order) = codebook match {
      case Some(cb) =>
        val cands = stored.select(col("vec_id").as("cand_id"), col("cell"),
          zip_with(centroid(col("cell")),
            column(PqDecode(expression(col("codes")), cb)), (a, b) => a + b).as("rv"))
        (cands.join(broadcast(cells), Seq("cell"))
          .where(col("probe_id") =!= col("cand_id"))
          .select(col("probe_id"), col("cand_id"),
            round(Similarity.sqDist(col("pe").cast("array<double>"), col("rv")), 6)
              .as("dist")), col("dist").asc)
      case None =>
        val cands = stored.select(col("vec_id").as("cand_id"), col("e"), col("cell"))
          .withColumn("cn", Similarity.l2(col("e")))
        (cands.join(broadcast(cells.withColumn("pn", Similarity.l2(col("pe")))), Seq("cell"))
          .where(col("probe_id") =!= col("cand_id"))
          .select(col("probe_id"), col("cand_id"),
            round(Similarity.dot(col("pe"), col("e")) / (col("pn") * col("cn")), 6)
              .as("sim")), col("sim").desc)
    }
    rerank match {
      case None => Similarity.topKPerProbe(scored, order, k)
      case Some(r) => Similarity.rerankFull(
        Similarity.topKPerProbe(scored, order, r.shortlist)
          .select(col("probe_id"), col("cand_id")),
        r.probes, r.corpus, k)
    }
  }
}

object Ivf {

  /** The full-space probes and corpus a projected index reranks its
    * reduced-space `shortlist` (candidates per probe) against.
    */
  final case class Rerank(probes: DataFrame, corpus: DataFrame, shortlist: Int)
}
