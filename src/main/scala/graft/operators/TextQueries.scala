package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextOps

/** Driver-facing registrations for the document/text pipeline (dedup,
  * text analysis, multimodal metadata). SQL-expressible ops carry an exact
  * DuckDB oracle; hash-based signatures (simhash, fingerprints, LSH
  * internals) are engine-hash-specific -> rows-only check + ScalaTest.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),

    "dedup_minhash" -> ((s, d) => Dedup.minhashNearDup(docs(s, d), 0.5)),

    // the dedup capstone: pairs -> clusters -> canonical keeper per
    // cluster, via the distributed large-star/small-star kernel (the
    // sweep's measure of it; the pipelines below route small graphs to
    // the driver)
    "dedup_components" -> ((s, d) =>
      Dedup.connectedComponents(Dedup.minhashNearDup(docs(s, d), 0.5))),

    // the kernel's second registered row (the registered set and its
    // oracles are fixed); SAME oracle as dedup_components
    "dedup_components_star" -> ((s, d) =>
      Dedup.connectedComponents(Dedup.minhashNearDup(docs(s, d), 0.5))),

    // the near-dedup corpus pass a training pipeline actually ships:
    // every non-keeper cluster member is dropped (anti join on the
    // component labels), singletons and keepers survive. Components run
    // through the size router (driver union-find up to 1e5 edges, the
    // distributed kernel above — one scalar count decides)
    "pipe_near_dedup" -> ((s, d) => {
      val dd = docs(s, d)
      val losers = Dedup.connectedComponentsAuto(Dedup.minhashNearDup(dd, 0.5))
        .filter(!col("keeper")).select(col("doc_id"))
      dd.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
    }),

    // quality-aware near-dedup: instead of the min-doc_id canonical
    // keeper, each duplicate cluster keeps its HIGHEST-VALUE member
    // (here: most whitespace tokens — the "keep the longest variant"
    // heuristic; ties break to the lowest doc_id). The component label
    // is only a GROUPING key, so the same CC machinery serves both
    // policies; the selection is one keyed window over cluster members
    // (cluster-sized partitions, never corpus-wide). Singletons keep
    // themselves via the left join + coalesce.
    "pipe_dedup_quality" -> ((s, d) => {
      val dd = docs(s, d)
      val comp = Dedup.connectedComponentsAuto(Dedup.minhashNearDup(dd, 0.5))
        .select(col("doc_id"), col("component"))
      val scored = dd.select(col("doc_id"), col("lang"),
        TextOps.wsTokenCount(col("text")).as("n_tokens"))
      val labeled = scored.join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val w = W.partitionBy(col("component"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      labeled.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    "dedup_ngram" -> ((s, d) => Dedup.ngramNearDup(docs(s, d), 4, 0.6)),

    // corpus duplication PROFILE: the similarity distribution of the
    // confirmed near-dup pairs, binned by jaccard decile — the summary a
    // curation run reports ("how duplicated, and how strongly") before
    // choosing a dedup threshold. One aggregation over the pair stream.
    "dedup_jaccard_hist" -> ((s, d) =>
      Dedup.minhashNearDup(docs(s, d), 0.5)
        .groupBy(least(lit(9L), floor(col("jac") * 10.0).cast("long")).as("bin"))
        .agg(count(lit(1)).as("pairs"))),

    // span-level duplication profile (Lee et al. substring dedup over
    // word shingles): per-doc duplicated-span fraction — catches
    // boilerplate that doc-level near-dedup misses
    "dedup_spans" -> ((s, d) => Dedup.duplicatedSpans(docs(s, d), minDocs = 3L)),

    "dedup_simhash" -> ((s, d) =>
      TextOps.simhash(docs(s, d), "doc_id", "text")),

    // banded Hamming pairing over the simhash signatures (Manku et al.);
    // exhaustive for maxHamming < #bands, so the all-pairs oracle matches
    "simhash_pairs" -> ((s, d) => Dedup.simhashPairs(docs(s, d), maxHamming = 3)),

    // incremental exact dedup: odd docs arriving against the landed even
    // half — the nightly batch pass that catches duplicates beyond the
    // streaming dedup's watermark horizon
    "dedup_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.exactIncremental(
        dd.filter(col("doc_id") % 2 === 1),
        dd.filter(col("doc_id") % 2 === 0))
    }),

    "text_stats" -> ((s, d) =>
      docs(s, d).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
             sum(col("n_chars")).cast("long").as("chars"),
             sum(TextOps.wsTokenCount(col("text"))).cast("long").as("ws_tokens"))),

    "text_quality" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).cast("long").as("punct_cnt"),
        TextOps.tokens(col("text")).as("tl"))
        .withColumn("word_cnt", size(col("tl")).cast("long"))
        .withColumn("stop_cnt",
          size(filter(col("tl"), t => t.isin(TextOps.Stopwords.map(x => x: Any): _*))).cast("long"))
      base.select(col("doc_id"), col("n_tokens"), col("punct_cnt"), col("stop_cnt"),
        when(col("word_cnt") === 0, lit(0.0))
          .otherwise(col("stop_cnt").cast("double") / col("word_cnt").cast("double"))
          .as("stop_ratio"))
    }),

    "text_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextOps.langId(TextOps.tokens(col("text"))).as("pred_lang"))),

    // TF-IDF keyword extraction: each document's top-3 terms by
    // tf·ln(N/df) — the classic summarization/labeling signal. The df
    // table is vocabulary-sized (shuffle join on term, AQE decides — the
    // unigram-LM rationale); N is one bounded scalar; per-doc ranking is
    // a keyed window, WindowGroupLimit keeps only the top rows per doc.
    "text_keywords" -> ((s, d) => {
      val dd = docs(s, d)
      val nDocs = dd.count().toDouble
      val toks = dd.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dft = tf.groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("df"))
      val w = W.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(dft, Seq("term"))
        .withColumn("tfidf", col("tf") * log(lit(nDocs) / col("df")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), round(col("tfidf"), 6).as("tfidf"),
          col("rnk"))
    }),

    // language-ID evaluation: predicted vs labeled language counts (the
    // confusion matrix) — the accuracy summary a routing pipeline needs
    // before trusting the heuristic; one keyed aggregation over the
    // prediction join
    "text_langid_confusion" -> ((s, d) =>
      queries("text_lang_id")(s, d)
        .join(docs(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt"))),

    // type-token ratio — the lexical-diversity quality signal (low TTR =
    // templated/repetitive text). Map-only: tokenize, distinct within
    // the row's own array, one ratio; docs with no tokens drop out.
    "text_ttr" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.tokens(col("text")).as("tl"))
        .select(col("doc_id"), size(col("tl")).cast("long").as("n_toks"),
          size(array_distinct(col("tl"))).cast("long").as("n_types"))
        .filter(col("n_toks") > 0L)
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_toks").cast("double"), 6))),

    // duplicate-line fraction (the Gopher repetition filter's line-level
    // rung): fraction of a document's non-empty lines whose text occurs
    // more than once WITHIN the document — boilerplate headers/footers
    // light this up. posexplode keeps the per-doc line keys; two keyed
    // aggregations, shuffle on doc_id only.
    "text_dup_lines" -> ((s, d) => {
      val lines = docs(s, d).select(col("doc_id"),
          explode(split(col("text"), "\n")).as("line"))
        .filter(trim(col("line")) =!= "")
      val perLine = lines.groupBy(col("doc_id"), col("line"))
        .agg(count(lit(1)).as("c"))
      perLine.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_lines"),
          sum(when(col("c") > 1L, col("c")).otherwise(lit(0L)))
            .cast("long").as("n_dup"))
        .withColumn("dup_frac",
          round(col("n_dup").cast("double") / col("n_lines").cast("double"), 6))
    }),

    // character-level Shannon entropy per document (nats) — the cheap
    // gibberish/boilerplate signal (low = repeated chars, high = noise):
    // H = ln(n) - (sum c*ln c)/n from exact integer char counts. Two
    // keyed aggregations ((doc, char) then doc), no per-doc buffering.
    // The explicit class [^\n] (not '.') pins the excluded set to
    // exactly {\n} on both engines — Java '.' also excludes \r/\u0085/
    // \u2028/\u2029 while RE2 '.' excludes only \n, so '.' diverges on
    // CRLF or Unicode line-separator input.
    "text_entropy" -> ((s, d) => {
      val ch = docs(s, d).select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[^\\n]"), lit(0))).as("ch"))
        .groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).cast("double").as("c"))
      ch.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), sum(col("c") * log(col("c"))).as("clc"))
        .select(col("doc_id"), col("n").cast("long").as("n_printable"),
          round(log(col("n")) - col("clc") / col("n"), 4).as("entropy"))
    }),

    "text_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))),

    "text_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(TextOps.fingerprints(col("text"))).cast("long").as("n_fp"),
        array_min(TextOps.fingerprints(col("text"))).as("fp_min"))),

    "mm_meta" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        concat(lit("doc/"), (col("doc_id") % 3).cast("string")).as("media_type"))),

    // text normalization: lowercase, strip punctuation, collapse runs of
    // whitespace, trim — the standard pre-tokenization cleaning pass
    "text_clean" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextOps.cleanText(col("text")).as("cleaned"))),

    // PII scrub: count and mask emails/URLs — codegen'd regexp count +
    // replace, one map-only pass over the corpus
    "text_scrub" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextOps.EmailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(TextOps.UrlRe), lit(0)))
          .cast("long").as("n_urls"),
        TextOps.scrubPii(col("text")).as("scrubbed"))),

    // repetition quality signals (the Gopher/C4-style filters a training
    // pipeline gates on): fraction of tokens that are the single most
    // frequent token, and fraction of duplicate word bigrams. Fully
    // relational — positional tokens via posexplode, bigrams via a keyed
    // lead() window, two keyed aggregations; no per-doc array buffering,
    // so a 1 GB document costs the same per-row work as a 1 KB one
    "text_repetition" -> ((s, d) => {
      val dd = docs(s, d)
      val pos = dd.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("i", "tok")))
      val w = W.partitionBy(col("doc_id")).orderBy(col("i"))
      val bgAgg = pos.withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("tok"), col("nxt")).as("bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"), countDistinct(col("bg")).as("n_bg_d"))
      val topAgg = pos.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_c"), sum(col("c")).cast("long").as("n_toks"))
      dd.select(col("doc_id"))
        .join(topAgg, Seq("doc_id"), "left")
        .join(bgAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          round(when(coalesce(col("n_toks"), lit(0L)) === 0L, 0.0)
            .otherwise(col("top_c").cast("double") / col("n_toks").cast("double")), 6)
            .as("top_tok_frac"),
          round(when(coalesce(col("n_bg"), lit(0L)) === 0L, 0.0)
            .otherwise(lit(1.0) - col("n_bg_d").cast("double") / col("n_bg").cast("double")), 6)
            .as("dup_bigram_frac"))
    }),

    // BM25 ranked retrieval against a fixed probe query — the corpus
    // inspection / decontamination-lookup path (terms deliberately carry
    // mixed case + punctuation to exercise query-side normalization)
    "text_bm25" -> ((s, d) =>
      Relevance.bm25(docs(s, d), Bm25Terms, topK = 20)),

    // per-document cross-entropy under the corpus's own unigram LM — the
    // CCNet-style "how typical is this document" quality signal
    "text_xent" -> ((s, d) => Relevance.unigramCrossEntropy(docs(s, d))),

    "text_xent2" -> ((s, d) => Relevance.bigramCrossEntropy(docs(s, d))),

    // corpus DRIFT between two snapshots (here: even vs odd doc halves,
    // the dedup_incremental split) — Jensen-Shannon divergence of the
    // unigram distributions, the standard before/after-refresh monitoring
    // signal for a training corpus. One keyed term aggregation + a
    // broadcast scalar; 0*ln(0) terms drop per the JS definition.
    "text_drift" -> ((s, d) => {
      val t = driftTerms(docs(s, d))
      t.agg(sum(col("ce")).cast("long").as("even_toks"),
          sum(col("co")).cast("long").as("odd_toks"),
          count(lit(1)).as("vocab"),
          round(sum(col("contrib")), 4).as("js"))
    }),

    // the tokens DRIVING the drift: top-10 by JS contribution — what an
    // operator actually reads when the js number moves
    "text_drift_tokens" -> ((s, d) =>
      driftTerms(docs(s, d))
        .select(col("term"), col("ce").as("c_even"), col("co").as("c_odd"),
          round(col("contrib"), 6).as("contrib"))
        .orderBy(col("contrib").desc, col("term")).limit(10))
  )

  /** Per-term drift frame shared by text_drift / text_drift_tokens:
    * (term, ce, co, contrib) where contrib is the term's JS-divergence
    * summand between the even-doc and odd-doc unigram distributions.
    */
  private def driftTerms(dd: DataFrame): DataFrame = {
    val cnt = dd
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).cast("long").as("ce"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).cast("long").as("co"))
    val tot = cnt.agg(sum(col("ce")).cast("long").as("te"),
      sum(col("co")).cast("long").as("to_"))
    val p = col("ce").cast("double") / col("te").cast("double")
    val q = col("co").cast("double") / col("to_").cast("double")
    val m = (p + q) / lit(2.0)
    cnt.crossJoin(broadcast(tot))
      .withColumn("contrib",
        when(col("ce") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
          when(col("co") > 0, lit(0.5) * q * log(q / m)).otherwise(lit(0.0)))
      .select(col("term"), col("ce"), col("co"), col("contrib"))
  }

  /** Probe query for text_bm25 — normalizes to spark/hash/join/window. */
  val Bm25Terms: Seq[String] = Seq("Spark", "hash", "JOIN!", "window")

  private[graft] val ShingleCte =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents
      |), s2 AS (
      |  SELECT doc_id,
      |         list_distinct([tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2]
      |                        for i in range(1, len(tl) - 1)]) AS sh
      |  FROM toks
      |), f AS (
      |  SELECT doc_id, sh FROM s2 WHERE len(sh) > 0
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // full simhash recomputation in SQL (tokens → tf → fnv32 halves →
    // 64 signed bit-sums → sign bits); matches the engine bit-for-bit
    "dedup_simhash" ->
      s"${TextOps.simhashCteSql()}\nSELECT doc_id, sig_lo, sig_hi FROM sig",

    "simhash_pairs" ->
      s"""${TextOps.simhashCteSql()}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig_lo, b.sig_lo)) +
         |       bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig_lo, b.sig_lo)) +
         |      bit_count(xor(a.sig_hi, b.sig_hi)) <= 3""".stripMargin,

    // winnowing fingerprints recomputed in SQL: fnv32 per positional char
    // 8-gram, min per sliding window of 4 (full windows only), distinct
    "text_fingerprint" ->
      s"""WITH c AS (
         |  SELECT doc_id, lower(text) AS lc FROM documents
         |), pos AS (
         |  SELECT doc_id, lc, unnest(range(1, len(lc) - 6)) AS i
         |  FROM c WHERE len(lc) >= 8
         |), h AS (
         |  SELECT doc_id, i, ${TextOps.fnv32Sql("substr(lc, CAST(i AS INT), 8)")} AS hv
         |  FROM pos
         |), m AS (
         |  SELECT doc_id, i, hv,
         |    count(*) OVER (PARTITION BY doc_id) AS nh,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
         |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
         |  FROM h
         |), fp AS (
         |  SELECT doc_id, wm AS f FROM m WHERE nh >= 4 AND i <= nh - 3
         |  UNION
         |  SELECT doc_id, hv AS f FROM m WHERE nh < 4
         |), agg AS (
         |  SELECT doc_id, CAST(count(DISTINCT f) AS BIGINT) AS n_fp,
         |         min(f) AS fp_min
         |  FROM fp GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(a.n_fp, 0) AS BIGINT) AS n_fp, a.fp_min
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "dedup_exact" ->
      """SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(doc_id) AS BIGINT) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_incremental" ->
      """WITH store AS (
        |  SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 2 = 0
        |), nw AS (
        |  SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 2 = 1
        |), survivors AS (
        |  SELECT nw.* FROM nw ANTI JOIN store USING (h)
        |), keep AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper FROM survivors
        |)
        |SELECT doc_id, lang FROM keep WHERE doc_id = keeper""".stripMargin,

    "dedup_minhash" ->
      s"""$ShingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jac
         |FROM f a JOIN f b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5""".stripMargin,

    "dedup_jaccard_hist" ->
      s"""$ShingleCte, pr AS (
         |  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jac
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
         |)
         |SELECT least(9, CAST(floor(jac * 10.0) AS BIGINT)) AS bin,
         |  CAST(count(*) AS BIGINT) AS pairs
         |FROM pr GROUP BY 1""".stripMargin,

    // transitive closure to the fixpoint (UNION dedups, so the recursion
    // terminates), then component = min reachable doc id
    "dedup_components" ->
      s"""${ShingleCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION ALL SELECT doc_b, doc_a FROM pr
         |), reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |)
         |SELECT id AS doc_id, min(r) AS component,
         |       (id = min(r)) AS keeper
         |FROM reach GROUP BY id""".stripMargin,

    // identical closure oracle: both rows run the same kernel
    "dedup_components_star" ->
      s"""${ShingleCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION ALL SELECT doc_b, doc_a FROM pr
         |), reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |)
         |SELECT id AS doc_id, min(r) AS component,
         |       (id = min(r)) AS keeper
         |FROM reach GROUP BY id""".stripMargin,

    "pipe_near_dedup" ->
      s"""${ShingleCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION ALL SELECT doc_b, doc_a FROM pr
         |), reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |), losers AS (
         |  SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> min(r)
         |)
         |SELECT doc_id, lang FROM documents ANTI JOIN losers USING (doc_id)""".stripMargin,

    "text_ttr" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_toks,
        |  CAST(len(list_distinct(tl)) AS BIGINT) AS n_types,
        |  round(CAST(len(list_distinct(tl)) AS DOUBLE) /
        |        CAST(len(tl) AS DOUBLE), 6) AS ttr
        |FROM t WHERE len(tl) > 0""".stripMargin,

    "text_dup_lines" ->
      """WITH l AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, line FROM l WHERE trim(line) <> ''
        |), pl AS (
        |  SELECT doc_id, line, CAST(count(*) AS BIGINT) AS c
        |  FROM nz GROUP BY 1, 2
        |), g AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM pl GROUP BY 1
        |)
        |SELECT doc_id, n_lines, n_dup,
        |  round(CAST(n_dup AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS dup_frac
        |FROM g""".stripMargin,

    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[^\n]')) AS ch
        |  FROM documents
        |), cc AS (
        |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        |  FROM ch GROUP BY 1, 2
        |), g AS (
        |  SELECT doc_id, sum(c) AS n, sum(c * ln(c)) AS clc
        |  FROM cc GROUP BY 1
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_printable,
        |  round(ln(n) - clc / n, 4) AS entropy
        |FROM g""".stripMargin,

    "pipe_dedup_quality" ->
      s"""${ShingleCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM f a JOIN f b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
         |), e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pr
         |  UNION ALL SELECT doc_b, doc_a FROM pr
         |), reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
         |), comp AS (
         |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
         |), scored AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens,
         |    coalesce(comp.component, d.doc_id) AS component
         |  FROM documents d LEFT JOIN comp USING (doc_id)
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY component ORDER BY n_tokens DESC, doc_id) AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, lang, n_tokens FROM rk WHERE rnk = 1""".stripMargin,

    "dedup_spans" ->
      s"""$ShingleCte, ex AS (
         |  SELECT doc_id, unnest(sh) AS s FROM f
         |), d AS (
         |  SELECT s FROM ex GROUP BY s HAVING count(*) >= 3
         |), pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |  FROM ex JOIN d USING (s) GROUP BY 1
         |)
         |SELECT f.doc_id, CAST(len(f.sh) AS BIGINT) AS n_spans,
         |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
         |  round(CAST(coalesce(pd.n_dup, 0) AS DOUBLE) /
         |        CAST(len(f.sh) AS DOUBLE), 6) AS dup_frac
         |FROM f LEFT JOIN pd USING (doc_id)""".stripMargin,

    // brute-force all-pairs oracle; the (semantically implied) set-size
    // ratio bound min >= t*max prunes the quadratic work in DuckDB
    "dedup_ngram" ->
      """WITH g0 AS (
        |  SELECT doc_id,
        |         list_distinct([substr(lower(text), i, 4)
        |                        for i in range(1, len(text) - 2)]) AS g
        |  FROM documents
        |), g1 AS (
        |  SELECT doc_id, g, CAST(len(g) AS BIGINT) AS ng FROM g0 WHERE len(g) > 0
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jac
        |FROM g1 a JOIN g1 b
        |  ON a.doc_id < b.doc_id
        | AND CAST(least(a.ng, b.ng) AS DOUBLE) >= 0.6 * CAST(greatest(a.ng, b.ng) AS DOUBLE)
        |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.6""".stripMargin,

    "text_stats" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,

    "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, n_tokens, punct_cnt,
        |    CAST(len(tl) AS BIGINT) AS word_cnt,
        |    CAST(len(list_filter(tl, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop_cnt
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
        |  CASE WHEN word_cnt = 0 THEN 0.0
        |       ELSE CAST(stop_cnt AS DOUBLE) / CAST(word_cnt AS DOUBLE) END AS stop_ratio
        |FROM u""".stripMargin,

    "text_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(tl, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(tl, x -> x IN ('the','a','of','is'))) AS s_en,
        |    len(list_filter(tl, x -> x IN ('el','la','los','que'))) AS s_es,
        |    len(list_filter(tl, x -> x IN ('le','les','et','une'))) AS s_fr
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin,

    "text_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM toks GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1
        |), sc AS (
        |  SELECT doc_id, tf.term,
        |    tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS tfidf
        |  FROM tf JOIN dft USING (term)
        |), rk AS (
        |  SELECT doc_id, term, tfidf, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
        |  FROM sc
        |)
        |SELECT doc_id, term, round(tfidf, 6) AS tfidf, rnk
        |FROM rk WHERE rnk <= 3""".stripMargin,

    "text_langid_confusion" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(list_filter(tl, x -> x IN ('der','die','das','und','nicht'))) AS s_de,
        |    len(list_filter(tl, x -> x IN ('the','a','of','is'))) AS s_en,
        |    len(list_filter(tl, x -> x IN ('el','la','los','que'))) AS s_es,
        |    len(list_filter(tl, x -> x IN ('le','les','et','une'))) AS s_fr
        |  FROM t
        |), p AS (
        |  SELECT doc_id,
        |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |         WHEN s_es >= s_fr THEN 'es'
        |         ELSE 'fr' END AS pred_lang
        |  FROM s
        |)
        |SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS cnt
        |FROM p JOIN documents d USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'doc/' || CAST(doc_id % 3 AS VARCHAR) AS media_type
        |FROM documents""".stripMargin,

    "text_clean" ->
      s"SELECT doc_id, ${TextOps.cleanTextSql("text")} AS cleaned FROM documents",

    "text_scrub" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.UrlRe}')) AS BIGINT) AS n_urls,
         |  regexp_replace(regexp_replace(text, '${TextOps.UrlRe}', '[URL]', 'g'),
         |                 '${TextOps.EmailRe}', '[EMAIL]', 'g') AS scrubbed
         |FROM documents""".stripMargin,

    "text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(tl) AS tok FROM t
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS c FROM pos GROUP BY 1, 2
        |), top AS (
        |  SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_toks
        |  FROM tf GROUP BY 1
        |), bga AS (
        |  SELECT doc_id,
        |    CAST(len(tl) - 1 AS BIGINT) AS n_bg,
        |    CAST(len(list_distinct([tl[i] || ' ' || tl[i+1]
        |                            for i in range(1, len(tl))])) AS BIGINT) AS n_bg_d
        |  FROM t WHERE len(tl) >= 2
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(top.n_toks, 0) AS BIGINT) AS n_toks,
        |  round(CASE WHEN coalesce(top.n_toks, 0) = 0 THEN 0.0
        |    ELSE CAST(top.top_c AS DOUBLE) / CAST(top.n_toks AS DOUBLE) END, 6)
        |    AS top_tok_frac,
        |  round(CASE WHEN coalesce(bga.n_bg, 0) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(bga.n_bg_d AS DOUBLE) / CAST(bga.n_bg AS DOUBLE) END, 6)
        |    AS dup_bigram_frac
        |FROM documents d
        |LEFT JOIN top USING (doc_id) LEFT JOIN bga USING (doc_id)""".stripMargin,

    // full BM25 recomputation (k1=1.2, b=0.75, +1 idf) — arithmetic written
    // in the SAME operand order as the engine so doubles round identically
    "text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(len(tl) AS DOUBLE) AS dl FROM toks
        |), st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, unnest(tl) AS term FROM toks)
        |  WHERE term IN ('spark', 'hash', 'join', 'window')
        |  GROUP BY 1, 2
        |), dft AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1
        |)
        |SELECT tf.doc_id,
        |  round(sum(ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) * tf.tf * (1.2 + 1.0) /
        |            (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id
        |LIMIT 20""".stripMargin,

    // add-alpha (0.5) unigram LM self-scored cross-entropy
    "text_xent" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2
        |), lm AS (
        |  SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1
        |), st AS (
        |  SELECT sum(cnt) AS t, CAST(count(*) AS DOUBLE) AS v FROM lm
        |)
        |SELECT tf.doc_id,
        |  round((0.0 - sum(tf.tf * ln((lm.cnt + 0.5) / (st.t + 0.5 * st.v)))) / sum(tf.tf), 4)
        |    AS xent
        |FROM tf JOIN lm USING (term) CROSS JOIN st
        |GROUP BY tf.doc_id""".stripMargin,

    // add-alpha (0.5) bigram LM self-scored cross-entropy; bigrams from
    // adjacent token pairs, conditioning mass c1 = bigrams starting w1
    "text_xent2" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl FROM documents
        |), bg AS (
        |  SELECT doc_id, tl[i] AS w1, tl[i+1] AS w2
        |  FROM t, unnest(range(1, len(tl))) AS u(i)
        |  WHERE len(tl) >= 2
        |), bf AS (
        |  SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS bf
        |  FROM bg GROUP BY 1, 2, 3
        |), lm2 AS (
        |  SELECT w1, w2, sum(bf) AS c12 FROM bf GROUP BY 1, 2
        |), lm1 AS (
        |  SELECT w1, sum(c12) AS c1 FROM lm2 GROUP BY 1
        |), st AS (
        |  SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v
        |  FROM (SELECT unnest(tl) AS term FROM t)
        |)
        |SELECT bf.doc_id,
        |  round((0.0 - sum(bf.bf * ln((lm2.c12 + 0.5) / (lm1.c1 + 0.5 * st.v)))) / sum(bf.bf), 4)
        |    AS xent2
        |FROM bf JOIN lm2 USING (w1, w2) JOIN lm1 USING (w1) CROSS JOIN st
        |GROUP BY bf.doc_id""".stripMargin,

    "text_drift" ->
      s"""$DriftCte
         |SELECT CAST(sum(ce) AS BIGINT) AS even_toks,
         |  CAST(sum(co) AS BIGINT) AS odd_toks,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  round(sum(contrib), 4) AS js
         |FROM ctr""".stripMargin,

    "text_drift_tokens" ->
      s"""$DriftCte
         |SELECT term, ce AS c_even, co AS c_odd,
         |  round(contrib, 6) AS contrib
         |FROM ctr ORDER BY round(contrib, 6) DESC, term LIMIT 10""".stripMargin
  )

  /** Shared drift CTE: per-term JS-divergence summand between the even-doc
    * and odd-doc unigram distributions — every double step written in the
    * engine's operand order (single divisions, (0.5*p)*ln form).
    */
  private def DriftCte: String = {
    val p = "(CAST(ce AS DOUBLE) / CAST(te AS DOUBLE))"
    val q = "(CAST(co AS DOUBLE) / CAST(to_ AS DOUBLE))"
    val m = s"(($p + $q) / 2.0)"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
       |  FROM documents
       |), cnt AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ce,
       |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS co
       |  FROM toks GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(ce) AS BIGINT) AS te, CAST(sum(co) AS BIGINT) AS to_ FROM cnt
       |), ctr AS (
       |  SELECT term, ce, co,
       |    (CASE WHEN ce > 0 THEN 0.5 * $p * ln($p / $m) ELSE 0.0 END) +
       |    (CASE WHEN co > 0 THEN 0.5 * $q * ln($q / $m) ELSE 0.0 END) AS contrib
       |  FROM cnt CROSS JOIN tot
       |)""".stripMargin
  }
}
