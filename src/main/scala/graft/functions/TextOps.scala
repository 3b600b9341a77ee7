package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline, all expressed as
  * codegen'd column expressions (no UDFs in the hot path): tokenization,
  * shingling, quality stats, a deterministic language-ID heuristic, simhash
  * and winnowing fingerprints. Everything is engine-portable: the same
  * computation is expressible in the DuckDB oracle where exactness matters.
  */
object TextOps {

  /** Word tokens: lowercased alphanumeric runs. */
  def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  /** Whitespace tokens as an array — the ONE definition of the
    * whitespace-token convention (wsTokenCount and the chunker both
    * derive from it, so the convention cannot fork).
    */
  def wsTokens(c: Column): Column =
    regexp_extract_all(c, lit("\\S+"), lit(0))

  /** Whitespace token count (the cheap "how many words" metric). */
  def wsTokenCount(c: Column): Column =
    size(wsTokens(c)).cast("long")

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single symbols. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  // Set-construction steps are NATIVE codegen'd expressions (TextHash)
  // rather than higher-order-function trees: Spark HOFs are
  // CodegenFallback (interpreted), so `element_at(regexp_extract_all(...),
  // i)` inside a transform() re-evaluates the regex PER ELEMENT (~300x per
  // doc). The expressions implement exactly the semantics the DuckDB
  // oracles state; the retired string-form UDFs live on only as spec
  // baselines (test scope, graft.TextUdfBaselines).

  /** Distinct 3-token-shingle xxhash64s straight from the text — the
    * native codegen'd scan-stage form: values are bit-identical to
    * `xxhash64` over [[shingles3OfText]] elements (TextHashSpec), with
    * no UDF boundary and no `array<string>` materialization. The
    * coalesce preserves the retired UDFs' null-text semantics (empty
    * set, not NULL) so no consumer's output shape changed.
    */
  def shingleHashes3(text: Column): Column =
    coalesce(NativeFunctions.ShingleHashes3(text), lit(Array.empty[Long]))

  /** Distinct char-n-gram xxhash64s straight from the text — native
    * twin of `xxhash64` over [[charGrams]] elements (null-text -> empty
    * set, the UDF convention).
    */
  def charGramHashes(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be positive: $n")
    coalesce(NativeFunctions.CharGramHashes.call(Seq(text), n), lit(Array.empty[Long]))
  }

  /** Distinct byte-n-gram xxhash64s of a BINARY payload — the byte-domain
    * gram extractor for multimodal blob near-dedup (null payload -> empty
    * set, the family convention).
    */
  def byteGramHashes(payload: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be positive: $n")
    coalesce(NativeFunctions.ByteGramHashes.call(Seq(payload), n), lit(Array.empty[Long]))
  }

  /** Winnowed byte fingerprints of a BINARY payload — the
    * bounded-cardinality fingerprint rung above [[byteGramHashes]]
    * (~|blob|/w fingerprints; see [[TextHash.byteWinnowHashes]]). Null
    * payload -> empty set, the family convention.
    */
  def byteWinnowHashes(payload: Column, n: Int, w: Int): Column = {
    require(n >= 1, s"gram size must be positive: $n")
    require(w >= 1, s"winnow window must be positive: $w")
    coalesce(NativeFunctions.ByteWinnowHashes.call(Seq(payload), n, w),
      lit(Array.empty[Long]))
  }

  /** One-pass Jaccard of two distinct-element long-array columns — the
    * near-dedup confirm expression (see [[TextHash.jaccardDistinct]]).
    */
  def jaccardLongSets(a: Column, b: Column): Column =
    NativeFunctions.JaccardLongSets(a, b)

  /** Adjacent character pairs WITH multiplicity over the RAW string (no
    * tokenization) — the pair-count step of every BPE round, where merged
    * symbols are placeholder characters outside the token alphabet and
    * must not be split away. Native codegen'd expression since round 15
    * (the coalesce preserves the retired UDF's null -> empty-array
    * convention; BpeSpec pins value equality against the baseline).
    */
  def charPairsRaw(w: Column): Column =
    coalesce(NativeFunctions.CharPairs(w), lit(Array.empty[String]))


  /** Standard pre-tokenization normalization: lowercase, strip
    * punctuation, collapse whitespace runs, trim. The SQL twin is
    * [[cleanTextSql]] — keep the two in lockstep.
    */
  def cleanText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c),
      lit("[.,!?;:]"), lit("")), lit("\\s+"), lit(" ")))

  /** DuckDB expression computing [[cleanText]] of string expression `t`
    * (note the 'g' flags: DuckDB regexp_replace is first-match-only by
    * default, Spark replaces all).
    */
  def cleanTextSql(t: String): String =
    s"trim(regexp_replace(regexp_replace(lower($t), '[.,!?;:]', '', 'g'), '\\s+', ' ', 'g'))"

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-language marker tokens for the language-ID heuristic. With real
    * multilingual text these are the usual high-frequency function words;
    * the heuristic machinery (score per language, deterministic argmax with
    * alphabetical tiebreak) is what the pipeline needs at scale.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "is"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "et", "une"))

  private def markerScore(tl: Column, markers: Seq[String]): Column =
    size(filter(tl, t => t.isin(markers.map(x => x: Any): _*))).cast("long")

  /** Deterministic language prediction: argmax of marker scores, ties broken
    * by language code ascending (expressed as an ordered >= cascade so the
    * SQL oracle can mirror it exactly).
    */
  def langId(tl: Column): Column = {
    val s = LangMarkers.map { case (l, m) => l -> markerScore(tl, m) }.toMap
    when(s("de") >= s("en") && s("de") >= s("es") && s("de") >= s("fr"), "de")
      .when(s("en") >= s("es") && s("en") >= s("fr"), "en")
      .when(s("es") >= s("fr"), "es")
      .otherwise("fr")
  }

  /** FNV-1a 32-bit string hash. Chosen over xxhash64 because every step is
    * overflow-free in 64-bit integer math, so the SQL oracle recomputes the
    * identical value (list_reduce over code points) — Spark's xxhash64 has
    * no DuckDB counterpart and would make every hash-derived operator
    * unverifiable.
    */
  def fnv32(s: String): Long = {
    var h = 2166136261L
    var i = 0
    while (i < s.length) {
      h = ((h ^ s.charAt(i)) * 16777619L) & 0xffffffffL
      i += 1
    }
    h
  }

  /** DuckDB expression computing fnv32 of string expression `t` (shared by
    * the simhash/fingerprint oracles).
    */
  def fnv32Sql(t: String): String =
    s"list_reduce(list_prepend(2166136261::BIGINT, " +
      s"[unicode(ch)::BIGINT for ch in string_split($t, '')]), " +
      "(a, x) -> (xor(a, x) * 16777619) % 4294967296)"

  /** Seeded continuation of [[fnv32]]: fnv32(p + s) == fnv32From(fnv32(p), s).
    * The interpreted twin of the codegen'd [[Fnv32]] expression.
    */
  def fnv32From(seed: Long, s: String): Long = {
    var h = seed
    var i = 0
    while (i < s.length) {
      h = ((h ^ s.charAt(i)) * 16777619L) & 0xffffffffL
      i += 1
    }
    h
  }

  private val FnvSeedLo = 2166136261L
  private val FnvSeedHi = fnv32("x") // prefixed hash folds from the prefix's state

  /** DuckDB CTE recomputing `simhash` exactly: tokenize, term counts,
    * fnv32 halves, 64 per-bit ± count sums, sign → bit. Ends with a table
    * `sig(doc_id, sig_lo, sig_hi)`. Tokens are [a-z0-9]+ so char == byte ==
    * code point regardless of the corpus encoding; every integer step is
    * overflow-free in BIGINT, so the oracle matches the engine bit-for-bit.
    */
  def simhashCteSql(docsTable: String = "documents"): String = {
    def sums(h: String, p: String) = (0 until 32).map(b =>
      s"sum(CASE WHEN ($h // ${1L << b}) % 2 = 1 THEN cnt ELSE -cnt END) AS $p$b")
    def sig(p: String) = (0 until 32).map(b =>
      s"CASE WHEN $p$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
       |  FROM $docsTable
       |), tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2
       |), th AS (
       |  SELECT doc_id, cnt,
       |    ${fnv32Sql("tok")} AS h_lo,
       |    ${fnv32Sql("'x' || tok")} AS h_hi
       |  FROM tf
       |), bs AS (
       |  SELECT doc_id,
       |    ${(sums("h_lo", "l") ++ sums("h_hi", "u")).mkString(",\n    ")}
       |  FROM th GROUP BY 1
       |), sig AS (
       |  SELECT doc_id,
       |    CAST(${sig("l")} AS BIGINT) AS sig_lo,
       |    CAST(${sig("u")} AS BIGINT) AS sig_hi
       |  FROM bs
       |)""".stripMargin
  }

  /** 64-bit SimHash over a document's word tokens (weighted by term count),
    * carried as two independent 32-bit halves (h_lo = fnv32(tok),
    * h_hi = fnv32('x'+tok)) so no step needs the 64-bit wraparound DuckDB
    * cannot express: per bit, sum +/-count by the token-hash bit, take the
    * sign. The 64 partial sums ride one aggregation (map-side combined);
    * output (id, sig_lo, sig_hi).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("h_lo", VectorFunctions.fnv32(col("tok"), lit(FnvSeedLo)))
      .withColumn("h_hi", VectorFunctions.fnv32(col("tok"), lit(FnvSeedHi)))
    def bitSums(h: String, p: String) = (0 until 32).map { b =>
      sum((shiftright(col(h), b).bitwiseAND(lit(1L)) * 2 - 1) * col("cnt")).as(s"$p$b")
    }
    def sig(p: String) = (0 until 32).map { b =>
      when(col(s"$p$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val sums = bitSums("h_lo", "l") ++ bitSums("h_hi", "u")
    tf.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), sig("l").as("sig_lo"), sig("u").as("sig_hi"))
  }

  // PII patterns — deliberately simple and identical in Java-regex (Spark)
  // and RE2 (DuckDB) semantics, so the scrub is oracle-exact. Real
  // pipelines extend the pattern set; the operator shape (codegen'd
  // regexp count + replace, one pass) is what matters at scale.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** PII scrub: URLs first (an email inside a URL is part of the URL),
    * then emails. Codegen'd regexp_replace — no UDF.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, lit(UrlRe), lit("[URL]")),
      lit(EmailRe), lit("[EMAIL]"))

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — public
    * algorithm): fnv32 of each positional char 8-gram, min per sliding
    * window of 4, distinct mins = the fingerprint set. A native codegen'd
    * expression since round 14 (same values as the retired UDF —
    * TextHashSpec asserts equality against [[fingerprintsUdfBaseline]]);
    * fnv32 keeps it oracle-expressible.
    */
  def fingerprints(c: Column): Column =
    // null-text -> empty set: the retired UDF's convention, so
    // text_fingerprint's output shape is unchanged on null input
    coalesce(NativeFunctions.WinnowFingerprints(c), lit(Array.empty[Long]))
}
