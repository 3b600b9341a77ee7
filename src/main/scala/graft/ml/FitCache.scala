package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session-scoped share point between a model-fitting query and its
  * `_check` companion (emb_kmeans / ml_classifiers / ml_kmeans_purity /
  * storage_codec_cr): the primary query ALWAYS re-fits and publishes its
  * artifact here (so its bench reps keep timing real work), while the
  * companion reuses the published artifact when the primary already ran
  * in this session and only falls back to fitting when invoked
  * standalone. Both sides are deterministic (seeded fits), so
  * reuse-vs-refit cannot change a result — it only stops a full sweep
  * from paying every training job twice.
  *
  * DataFrame artifacts are stored as COLLECTED rows + schema, not as
  * cached/checkpointed frames: every published artifact is a bounded
  * summary (accuracy/prediction dumps, a 19-row codec matrix, a 1-row
  * purity), and driver-held rows outlive the primary query's
  * materialization scope, which releases every checkpoint the query made
  * once it has run (a released checkpoint would poison the companion).
  *
  * Boundedness: entries hang off the OWNING SparkSession through a
  * weak-keyed map, so a stopped/dropped session's artifacts become
  * collectable with it instead of leaking forever under a dead identity
  * hash; and a frame wider than [[MaxRows]] is never published — the
  * prediction dump grows with the test split, and a driver-held copy of
  * an unbounded artifact would trade a refit for an OOM. Skipping
  * publication is always safe (the companion refits).
  */
object FitCache {
  /** Row cap above which a DataFrame artifact is NOT published (the
    * companion falls back to its own deterministic refit). Generous for
    * every artifact this cache serves (the largest, the per-test-row
    * prediction dump, is a few thousand rows at sf0.1) while keeping the
    * driver-held copy bounded at any scale factor.
    */
  val MaxRows: Int = 100000

  private val cache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, AnyRef]]()

  private def mapOf(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, AnyRef] =
    cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, AnyRef]
        cache.put(spark, m)
      }
      m
    }

  /** Evaluate `f`, publish the artifact, return it (non-DataFrame
    * artifacts, e.g. a fitted model object — bounded by construction).
    */
  def put[T <: AnyRef](spark: SparkSession, key: String)(f: => T): T = {
    val v = f
    mapOf(spark).put(key, v)
    v
  }

  /** The published artifact if the primary ran in this session, else `f`. */
  def getOrFit[T <: AnyRef](spark: SparkSession, key: String)(f: => T): T =
    mapOf(spark).get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None => f
    }

  /** Evaluate the frame, collect it (forcing the fit — the primary's
    * timing stays honest), publish rows + schema when within [[MaxRows]]
    * (drop any stale entry otherwise), and return a local-relation frame
    * over the collected rows either way.
    */
  def putDf(spark: SparkSession, key: String)(f: => DataFrame): DataFrame = {
    val df = f
    val rows = df.collect()
    val schema = df.schema
    if (rows.length <= MaxRows) mapOf(spark).put(key, (schema, rows))
    else mapOf(spark).remove(key)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** A frame over the published rows if the primary ran this session,
    * else a one-shot materialization of `f` (collected so the
    * companion's multi-reference plan does not re-run the fit per
    * branch).
    */
  def getOrFitDf(spark: SparkSession, key: String)
                (f: => DataFrame): DataFrame =
    mapOf(spark).get(key) match {
      case Some(v) =>
        val (schema, rows) =
          v.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None =>
        val df = f
        spark.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
}
