package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** String-form shingle/gram generators, RETIRED from main source (r14
  * verdict #7): the engine's scan stages consume the native hash
  * expressions (TextHash); these UDFs survive only as the independent
  * baselines the TextHashSpec equality tests pin the native values
  * against. They implement exactly the semantics the DuckDB oracles
  * state (lowercase, `[a-z0-9]+` token runs, distinct sets).
  */
object TextUdfBaselines {

  private val TokenRe = "[a-z0-9]+".r

  private val shingles3Udf = udf((text: String) => {
    if (text == null) Array.empty[String]
    else {
      val tl = TokenRe.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toArray
      if (tl.length < 3) Array.empty[String]
      else tl.sliding(3).map(_.mkString(" ")).toArray.distinct
    }
  })

  /** 3-token word shingles (distinct) as strings. */
  def shingles3OfText(text: Column): Column = shingles3Udf(text)

  private def charGramsUdf(n: Int) = udf((text: String) => {
    if (text == null) Array.empty[String]
    else {
      val lc = text.toLowerCase(java.util.Locale.ROOT)
      if (lc.length < n) Array.empty[String]
      else lc.sliding(n).toArray.distinct
    }
  })

  /** Distinct character n-grams of the lowercased text as strings. */
  def charGrams(c: Column, n: Int): Column = charGramsUdf(n)(c)

  /** Adjacent char pairs with multiplicity over the raw string — baseline
    * for the native `graft_char_pairs` function.
    */
  val charPairsRaw = udf((w: String) => {
    if (w == null || w.length < 2) Array.empty[String]
    else Array.tabulate(w.length - 1)(i => w.substring(i, i + 2))
  })

  /** Winnowing fingerprints via the retired UDF fold — baseline for the
    * native `graft_winnow_fingerprints` function.
    */
  val fingerprints = udf((text: String) => {
    if (text == null) Array.empty[Long]
    else {
      val lc = text.toLowerCase(java.util.Locale.ROOT)
      if (lc.length < 8) Array.empty[Long]
      else {
        val hashes = lc.sliding(8).map(graft.functions.TextOps.fnv32).toArray
        if (hashes.length < 4) hashes.distinct
        else hashes.sliding(4).map(_.min).toArray.distinct
      }
    }
  })
}
