package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Bit-parity proof for the native VoronoiCell expression against the
  * column formula it replaced: argmax over cells of
  * round(cos(v, c_i), 6) with ties to the smallest id, built from
  * array_max over (score, -id) structs — evaluated over EVERY embedding
  * in the testdata, for both float input (raw embeddings, the ann_ivf*
  * family) and double input (JL-projected vectors, the RP-IVF path).
  * The formula version is what the DuckDB oracles mirror, so equality
  * here plus the oracle gate pins the native path end-to-end.
  */
class VoronoiCellSpec extends AnyFunSuite with SparkTest {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .filter(d => new java.io.File(d).isDirectory)

  // the pre-native formula, verbatim: max struct of (cosine, -id)
  private def formulaCell(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    -array_max(array(cents.map { case (i, c) =>
      struct(Similarity.cosine(v.cast("array<double>"), typedLit(c)).as("c"),
        lit(-i).as("negCell"))
    }: _*)).getField("negCell")

  test("native cell assignment equals the struct-max formula on all vectors") {
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val e = spark.read.parquet(s"$d/embeddings.parquet")
      val cents = e.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
      // float input: raw embeddings
      val rawDiff = e.select(col("vec_id"),
          Similarity.bestCell(col("embedding"), cents).as("native"),
          formulaCell(col("embedding"), cents).as("formula"))
        .filter(col("native") =!= col("formula")).count()
      assert(rawDiff == 0, s"$rawDiff float-input mismatches at $d")
      // double input: JL-projected vectors against projected centroids
      val planes = Similarity.lcgPlanes(32, 64)
      val rpCents = e.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("vec_id"),
          Similarity.rpProject(col("embedding"), planes).as("r"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
      val rpDiff = e.select(col("vec_id"),
          Similarity.rpProject(col("embedding"), planes).as("rc"))
        .select(
          Similarity.bestCell(col("rc"), rpCents).as("native"),
          formulaCell(col("rc"), rpCents).as("formula"))
        .filter(col("native") =!= col("formula")).count()
      assert(rpDiff == 0, s"$rpDiff double-input mismatches at $d")
    }
  }

  test("tie on rounded score keeps the smallest centroid id") {
    import spark.implicits._
    // centroids 3 and 7 are the same direction (scaled), so every vector
    // rounds to the same cosine against both — the winner must be id 3
    val cents = Seq(
      (3, Seq(1.0, 0.0, 0.0, 0.0)),
      (7, Seq(2.0, 0.0, 0.0, 0.0)),
      (9, Seq(0.0, -1.0, 0.0, 0.0)))
    val out = Seq(Seq(5.0, 0.1, 0.0, 0.0), Seq(1.0, 0.0, 0.0, 0.0))
      .toDF("v")
      .select(Similarity.bestCell(col("v"), cents).as("cell"))
      .collect().map(_.getInt(0)).toSeq
    assert(out == Seq(3, 3), s"tiebreak picked $out, expected cell 3 twice")
  }
}
