package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-aware equi-join: salt-replicate the heavy keys so one hot key
  * (one giant signal, one viral document cluster) cannot pin a single
  * reducer at 100 TB.
  *
  * Mechanics: left side gets a random-but-deterministic salt in
  * [0, saltFactor) derived from a row-unique column; the right side is
  * replicated saltFactor times; the join key becomes (key, salt). Row
  * multiplicity is exactly preserved — each left row joins each matching
  * right row exactly once (the right copy with its salt). AQE's skew-join
  * handles sort-merge cases adaptively; this is the explicit form for
  * when the skew is known ahead of time (e.g. a pre-computed heavy-hitter
  * list) or the join is hash-partitioned by a custom operator.
  */
object SkewJoin {

  /** Join `left` with `right` on `key`, salting `left` by `saltFactor`.
    * `leftRowId` must be row-unique on the left (used to derive a
    * deterministic salt, so results are reproducible run-to-run).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 leftRowId: Column, saltFactor: Int): DataFrame = {
    val salted = left.withColumn("_salt",
      pmod(abs(xxhash64(leftRowId)), lit(saltFactor.toLong)).cast("int"))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-path variant driven by an observed heavy-hitter list: heavy keys
    * take the salted path, the long tail takes the plain shuffle join.
    * `heavyKeys` is small (collected from a frequency pre-aggregation or
    * maintained statistics) and broadcast into both branches.
    */
  def adaptiveJoin(left: DataFrame, right: DataFrame, key: String,
                   leftRowId: Column, heavyKeys: Seq[Any],
                   saltFactor: Int): DataFrame = {
    if (heavyKeys.isEmpty) return left.join(right, Seq(key))
    val isHeavy = col(key).isin(heavyKeys: _*)
    val light = left.filter(!isHeavy).join(right.filter(!isHeavy), Seq(key))
    val heavy = saltedJoin(left.filter(isHeavy), right.filter(isHeavy),
      key, leftRowId, saltFactor)
    light.unionByName(heavy.select(light.columns.map(col): _*))
  }

  /** Heavy-hitter detection: keys whose row count exceeds `threshold`
    * times the mean — the pre-aggregation an operator would maintain as
    * table statistics at scale. CAPPED at the `maxKeys` largest: under a
    * flat-ish distribution "above mean x t" can match arbitrarily many
    * keys, and the result feeds both a driver Seq and an isin()
    * expression tree — salting the top N heaviest is where all the skew
    * benefit lives anyway (everything below them is near-mean and fine
    * on the plain hash path).
    */
  def heavyHitters(df: DataFrame, key: String, threshold: Double,
                   maxKeys: Int = 64): Seq[Any] = Materialize.scoped {
    val counts = Materialize.cache(df.groupBy(col(key)).agg(count(lit(1)).as("n")))
    val mean = counts.agg(avg(col("n"))).collect()(0).getDouble(0)
    counts.filter(col("n") > mean * threshold)
      .orderBy(col("n").desc, col(key))
      .limit(maxKeys)
      .select(col(key)).collect().map(_.get(0)).toSeq
  }
}
