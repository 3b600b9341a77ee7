package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.functions.TextOps
import graft.ml.Fixtures

/** Driver-facing registrations for the corpus-curation pipeline operators
  * (PipelineOps) and the composed CorpusStore view. Every entry is
  * deterministic and fully SQL-expressible, so each carries an exact
  * DuckDB oracle.
  */
object PipelineQueries {

  private val PackBudget = 512L
  private val PackShards = 8
  private val QuotaPerLang = 25
  private val MinToks = 5L
  private val MaxToks = 1000L
  private val VocabK = 100
  private val BpeRounds = 8
  // chunking: 64-token windows at stride 48 (16 tokens of overlap)
  private val ChunkWindow = 64
  private val ChunkStride = 48

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_split" -> ((s, d) => PipelineOps.sampleSplit(docs(s, d))),

    "pipe_pack" -> ((s, d) =>
      PipelineOps.packSequences(docs(s, d), PackBudget, PackShards)),

    "pipe_quota" -> ((s, d) => PipelineOps.quotaSample(docs(s, d), QuotaPerLang)),

    "pipe_curate" -> ((s, d) => PipelineOps.curate(docs(s, d), MinToks, MaxToks)),

    // benchmark set stands in as every 50th doc; output = contaminated
    // train docs with their shared-shingle counts
    "pipe_decontam" -> ((s, d) =>
      PipelineOps.decontaminate(docs(s, d), col("doc_id") % 50 === 0)),

    // the Bloom-prefiltered twin: same result EXACTLY (no false negatives
    // + exact confirm join), but the shape for a benchmark set whose raw
    // shingles exceed broadcast size while the sketch fits
    "pipe_decontam_bloom" -> ((s, d) =>
      PipelineOps.decontaminateBloom(docs(s, d), col("doc_id") % 50 === 0)),

    "pipe_vocab" -> ((s, d) => PipelineOps.vocabTopK(docs(s, d), VocabK)),

    // sliding-window chunking: overlapping context windows for embedding
    // or training consumers (map-only; left-aligned, last chunk short)
    "pipe_chunk" -> ((s, d) =>
      PipelineOps.chunkDocs(docs(s, d), ChunkWindow, ChunkStride)),

    // the contamination-rate headline: how much of the train split shares
    // benchmark shingles — the one-row summary the decontam pass reports.
    // Flagged docs come from the exact operator; the denominator counts
    // every non-benchmark doc (including shingle-less short ones).
    "pipe_contamination_rate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dd = docs(s, d)
      val nTrain = dd.filter(col("doc_id") % 50 =!= 0).count()
      PipelineOps.decontaminate(dd, col("doc_id") % 50 === 0)
        .agg(count(lit(1)).cast("long").as("n_flagged"))
        .withColumn("n_train", lit(nTrain))
        .withColumn("rate",
          round(col("n_flagged").cast("double") / col("n_train").cast("double"), 6))
    }),

    // sorted-greedy packing: within each (lang, shard), documents are
    // packed LONGEST-FIRST (toks desc, doc_id tie-break) instead of
    // arrival order — the classic bin-packing improvement that cuts the
    // pad fraction when long documents straddle pack boundaries. Same
    // one-window one-aggregation shape as pipe_pack; the sort is inside
    // the keyed window, never global.
    "pipe_pack_sorted" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, d).select(col("doc_id"), col("lang"),
          graft.functions.TextOps.wsTokenCount(col("text")).as("toks"))
        .withColumn("shard", (col("doc_id") % PackShards).cast("long"))
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("toks").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("start_tok", sum(col("toks")).over(w) - col("toks"))
        .groupBy(col("lang"), col("shard"),
          floor(col("start_tok") / PackBudget.toDouble).cast("long").as("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("long").as("pack_toks"),
          min(col("doc_id")).as("first_doc"))
    }),

    // BPE first-iteration merge candidates (Sennrich et al.): adjacent
    // char-pair counts with multiplicity within word tokens, top-K — the
    // subword sequel to pipe_vocab's word-level table. Two explodes + one
    // keyed agg + TakeOrderedAndProject, all inside whole-stage codegen
    // (native graft_char_pairs, no UDF); map-side combine keeps the shuffle at
    // |pair alphabet| * partitions, corpus-size-independent
    "pipe_bpe_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .select(explode(TextOps.charPairsRaw(col("w"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(VocabK)
    }),

    // BPE round 2 — the iteration mechanics: fetch the round-1 winning
    // pair (ONE bounded scalar to the driver, like the bandit policy
    // walks), merge it everywhere (replace() is leftmost non-overlapping
    // in both engines — exactly BPE's greedy merge over single-char
    // symbols; '_' is outside the token alphabet so the merged symbol
    // survives round-2 pairing), recount pairs. Each further round is the
    // same map + keyed agg, so the full BPE loop is a driver loop over
    // bounded scalars with one distributed pass per round
    "pipe_bpe_round2" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val words = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
      val top1 = words
        .select(explode(TextOps.charPairsRaw(col("w"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .head().getString(0)
      words.select(expr(s"replace(w, '$top1', '_')").as("w2"))
        .select(explode(TextOps.charPairsRaw(col("w2"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(VocabK)
    }),

    // BPE ENCODE — the loop's payoff: apply the learned merges (round-1
    // and round-2 winners, each ONE bounded scalar to the driver) to
    // every word and report per-document symbol counts before/after.
    // This is the tokenizer-application pass a trainer runs over the
    // whole corpus: two map-only replace() sweeps + one keyed agg; the
    // merge table stays a driver-side literal at any corpus size (real
    // BPE vocabularies are a few 10k merges — still a broadcast literal).
    "pipe_bpe_encode" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val words = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      def topPair(df: org.apache.spark.sql.DataFrame, c: String): String =
        df.select(explode(TextOps.charPairsRaw(col(c))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1).head().getString(0)
      val t1 = topPair(words, "w")
      val w2 = words.withColumn("w2", expr(s"replace(w, '$t1', '_')"))
      val t2 = topPair(w2, "w2")
      w2.withColumn("w3", expr(s"replace(w2, '$t2', '+')"))
        .groupBy(col("doc_id"))
        .agg(sum(length(col("w"))).cast("long").as("n_chars_tok"),
             sum(length(col("w3"))).cast("long").as("n_bpe2"))
    }),

    // BPE generalized to N rounds (r13 verdict #4): the full driver loop
    // (PipelineOps.bpeTrain — per round ONE keyed pair-count agg + ONE
    // bounded top-1 fetch + ONE broadcast-literal replace), emitting the
    // learned merge table. N = 8 here; the machinery is N <= 26 with
    // single-char markers and unbounded with multi-char ones.
    "pipe_bpe_round8" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val words = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
      val merges = PipelineOps.bpeTrain(words, BpeRounds)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((pair, _, cnt), i) => (i.toLong, pair, cnt) }
        .toDF("round", "pair", "cnt")
    }),

    // N-round roundtrip: encode every word through the 8 learned merges,
    // decode in reverse round order (a later pair may contain earlier
    // markers), prove exact reconstruction — the losslessness contract
    // holds at tokenizer depth, not just the 2-round demo
    "pipe_bpe_round8_rt" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val words = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
      val merges = PipelineOps.bpeTrain(words, BpeRounds)
      words
        .withColumn("dec",
          PipelineOps.bpeDecode(PipelineOps.bpeEncode(col("w"), merges), merges))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(when(col("dec") === col("w"), 1L).otherwise(0L)).cast("long")
            .as("n_ok"))
        .withColumn("all_ok", col("n_words") === col("n_ok"))
    }),

    // the INVERSE of pipe_bpe_encode: expand the two learned merges back
    // ('+' -> pair2 first, since pair2 may contain '_', then '_' -> pair1)
    // and prove every word reconstructs exactly — the losslessness
    // contract of the tokenizer thread (merge markers '_'/'+' cannot
    // collide with the [a-z0-9]+ token alphabet)
    "pipe_bpe_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val words = docs(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
      def topPair(df: org.apache.spark.sql.DataFrame, c: String): String =
        df.select(explode(TextOps.charPairsRaw(col(c))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1).head().getString(0)
      val t1 = topPair(words, "w")
      val w2 = words.withColumn("w2", expr(s"replace(w, '$t1', '_')"))
      val t2 = topPair(w2, "w2")
      w2.withColumn("w3", expr(s"replace(w2, '$t2', '+')"))
        .withColumn("dec",
          expr(s"replace(replace(w3, '+', '$t2'), '_', '$t1')"))
        .agg(count(lit(1)).cast("long").as("n_words"),
          sum(when(col("dec") === col("w"), 1L).otherwise(0L)).cast("long")
            .as("n_ok"))
        .select(col("n_words"), col("n_ok"),
          (col("n_words") === col("n_ok")).as("all_ok"))
    }),

    // CCNet-style perplexity gate (Wenzek et al.): keep documents whose
    // unigram cross-entropy is at or below their LANGUAGE's median (the
    // "head+middle" kept-half) and that clear the token floor. The LM and
    // the medians are both corpus-derived — two keyed aggregations; the
    // per-lang median is a tiny frame joined back (broadcast at any scale)
    "pipe_quality_filter" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dd = docs(s, d)
      val x = Relevance.unigramCrossEntropy(dd)
      val tc = dd.select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      // materialized once: j feeds the per-lang median AND the final
      // filter join — unmaterialized, the xent pipeline + tokenizer
      // executed twice (the CCNet-style two-pass filter is inherent; the
      // second pass should read the scores, not recompute them)
      val j = Materialize.checkpoint(tc.join(x, Seq("doc_id")))
      val med = j.groupBy(col("lang"))
        .agg(org.apache.spark.sql.functions.expr("percentile(xent, 0.5)").as("med"))
      j.join(broadcast(med), Seq("lang"))
        .filter(col("n_toks") >= MinToks && col("xent") <= col("med"))
        .select(col("doc_id"), col("lang"), col("xent"))
    }),

    // source-weighted mixture: even-numbered sources sampled at 0.25,
    // odd at 0.75 (weights would be pipeline config in production —
    // a tiny broadcast table either way)
    "pipe_mixture" -> ((s, d) => {
      val dd = docs(s, d)
      val w = dd.select(col("source")).distinct()
        .withColumn("weight",
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.substring(col("source"), 4, 10)
              .cast("int") % 2 === 0, 0.25).otherwise(0.75))
      PipelineOps.mixtureSample(dd, w)
    }),

    // the composed pipeline end to end: curate -> split -> pack, the exact
    // view CorpusStore materializes partitioned by (split, lang)
    "pipe_corpus" -> ((s, d) =>
      graft.sources.CorpusStore.curatedCorpus(docs(s, d),
        PackBudget, PackShards, MinToks, MaxToks)),

    // deterministic trainer-input shuffle: hash shard + in-shard rank
    "pipe_shuffle" -> ((s, d) => PipelineOps.globalShuffle(docs(s, d)))
  )

  private val ToksSql = raw"CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)"

  // curate stages as a shared CTE prefix (ends with table `cur`):
  // normalize -> sha256-keeper dedup -> token gate, used by both the
  // pipe_curate and pipe_corpus oracles
  private def curateCteSql: String =
    s"""WITH c AS (
       |  SELECT doc_id, lang,
       |    ${TextOps.cleanTextSql("text")} AS cleaned,
       |    $ToksSql AS toks,
       |    sha256(text) AS h
       |  FROM documents
       |), k AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY h) AS keeper FROM c
       |), cur AS (
       |  SELECT doc_id, lang, toks, cleaned FROM k
       |  WHERE doc_id = keeper AND toks BETWEEN $MinToks AND $MaxToks
       |)""".stripMargin

  private val DecontamSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tl
      |  FROM documents
      |), f AS (
      |  SELECT doc_id,
      |         list_distinct([tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2]
      |                        for i in range(1, len(tl) - 1)]) AS sh
      |  FROM toks WHERE len(tl) >= 3
      |), b AS (
      |  SELECT DISTINCT unnest(sh) AS s FROM f WHERE doc_id % 50 = 0
      |), t AS (
      |  SELECT doc_id, unnest(sh) AS s FROM f WHERE doc_id % 50 <> 0
      |)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM t JOIN b USING (s) GROUP BY 1""".stripMargin

  /** N-round BPE CTE chain for the DuckDB oracle: `w0` = the corpus word
    * stream (optionally carrying the original word for the roundtrip),
    * then per round k a top-1-pair CTE `t<k>` and the merged words
    * `w<k+1>` — the engine's driver loop unrolled into SQL, generated so
    * the oracle's round count can never drift from [[BpeRounds]].
    */
  private def bpeChainSql(rounds: Int, carryOrig: Boolean): String = {
    val proj = if (carryOrig) "w AS orig, w" else "w"
    val sb = new StringBuilder(
      s"""WITH w0 AS (
         |  SELECT $proj FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |    FROM documents)
         |)""".stripMargin)
    for (k <- 0 until rounds) {
      val mk = PipelineOps.bpeMarker(k)
      val keep = if (carryOrig) "orig, " else ""
      // LEFT JOIN ON TRUE + CASE, not CROSS JOIN: when a round exhausts
      // (t_k empty — no word has two symbols left), the words must pass
      // through unchanged, exactly as the engine's early-stopped
      // bpeTrain leaves them; a CROSS JOIN against the empty t_k would
      // silently empty every later CTE and the roundtrip's word count
      sb ++= s""", t$k AS (
         |  SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT substr(w, CAST(i AS INT), 2) AS pair
         |    FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w$k WHERE len(w) >= 2))
         |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
         |), w${k + 1} AS (
         |  SELECT ${keep}CASE WHEN t$k.pair IS NULL THEN w$k.w
         |    ELSE replace(w$k.w, t$k.pair, '$mk') END AS w
         |  FROM w$k LEFT JOIN t$k ON TRUE
         |)""".stripMargin
    }
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "pipe_bpe_round8" ->
      (bpeChainSql(BpeRounds, carryOrig = false) + " " +
        (0 until BpeRounds)
          .map(k => s"SELECT CAST($k AS BIGINT) AS round, pair, cnt FROM t$k")
          .mkString("", " UNION ALL ", "")),

    "pipe_bpe_round8_rt" -> {
      // exhausted rounds (NULL pair from the LEFT JOIN) decode as
      // identity — their marker never occurs in the encoded words
      val dec = (BpeRounds - 1 to 0 by -1).foldLeft("w") { (e, k) =>
        val mk = PipelineOps.bpeMarker(k)
        s"CASE WHEN t$k.pair IS NULL THEN $e ELSE replace($e, '$mk', t$k.pair) END"
      }
      val crosses = (0 until BpeRounds).map(k => s"LEFT JOIN t$k ON TRUE").mkString(" ")
      bpeChainSql(BpeRounds, carryOrig = true) +
        s""", dec AS (
           |  SELECT orig, $dec AS dec FROM w$BpeRounds $crosses
           |), agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_words,
           |    CAST(sum(CASE WHEN dec = orig THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
           |  FROM dec
           |)
           |SELECT n_words, n_ok, (n_words = n_ok) AS all_ok FROM agg""".stripMargin
    },
    "pipe_split" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, ${Fixtures.mix32Sql("doc_id", 7L)} % 100 AS hv
         |  FROM documents
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h""".stripMargin,

    "pipe_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $ToksSql AS toks,
         |         CAST(doc_id % $PackShards AS BIGINT) AS shard
         |  FROM documents
         |), c AS (
         |  SELECT *, sum(toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |                            ROWS UNBOUNDED PRECEDING) - toks AS start_tok
         |  FROM t
         |)
         |SELECT lang, shard,
         |  CAST(floor(start_tok / $PackBudget.0) AS BIGINT) AS pack_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS pack_toks,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM c GROUP BY 1, 2, 3""".stripMargin,

    "pipe_pack_sorted" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $ToksSql AS toks,
         |         CAST(doc_id % $PackShards AS BIGINT) AS shard
         |  FROM documents
         |), c AS (
         |  SELECT *, sum(toks) OVER (PARTITION BY lang, shard
         |                            ORDER BY toks DESC, doc_id
         |                            ROWS UNBOUNDED PRECEDING) - toks AS start_tok
         |  FROM t
         |)
         |SELECT lang, shard,
         |  CAST(floor(start_tok / $PackBudget.0) AS BIGINT) AS pack_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS pack_toks,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM c GROUP BY 1, 2, 3""".stripMargin,

    "pipe_quota" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, $ToksSql AS toks FROM documents
         |), r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY lang ORDER BY toks DESC, doc_id) AS BIGINT) AS rnk
         |  FROM t
         |)
         |SELECT doc_id, lang, toks, rnk FROM r WHERE rnk <= $QuotaPerLang""".stripMargin,

    "pipe_corpus" ->
      s"""$curateCteSql, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, ${Fixtures.mix32Sql("doc_id", 7L)} % 100 AS hv
         |        FROM documents)
         |), sh AS (
         |  SELECT *, CAST(doc_id % $PackShards AS BIGINT) AS shard FROM cur
         |), pk AS (
         |  SELECT doc_id, shard,
         |    sum(toks) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |                    ROWS UNBOUNDED PRECEDING) - toks AS start_tok
         |  FROM sh
         |)
         |SELECT cur.doc_id, cur.lang, sp.split, pk.shard,
         |  CAST(floor(pk.start_tok / $PackBudget.0) AS BIGINT) AS pack_id,
         |  CAST(pk.start_tok AS BIGINT) AS start_tok, cur.toks, cur.cleaned
         |FROM cur JOIN sp USING (doc_id) JOIN pk USING (doc_id)""".stripMargin,

    "pipe_decontam" -> DecontamSql,

    // scalar subqueries (not an aggregate over the cross join) so the
    // oracle still emits its one row when `flagged` is empty — a clean
    // corpus must yield (0, n_train, 0.0), matching the Spark global agg
    "pipe_contamination_rate" ->
      s"""WITH flagged AS (
         |$DecontamSql
         |), tr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_train FROM documents
         |  WHERE doc_id % 50 <> 0
         |)
         |SELECT CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_flagged,
         |  tr.n_train,
         |  round(CAST((SELECT count(*) FROM flagged) AS DOUBLE) /
         |        CAST(tr.n_train AS DOUBLE), 6) AS rate
         |FROM tr""".stripMargin,

    // the Bloom path is exact (see PipelineOps.decontaminateBloom), so it
    // shares the exact operator's oracle verbatim
    "pipe_decontam_bloom" -> DecontamSql,

    "pipe_vocab" ->
      s"""SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |      FROM documents)
         |GROUP BY 1 ORDER BY cnt DESC, tok LIMIT $VocabK""".stripMargin,

    // sliding-window chunking: same whitespace tokens, same integer
    // chunk-count arithmetic, DuckDB's inclusive 1-based list slice =
    // Spark's slice(arr, start, window) clipped at the end
    "pipe_chunk" ->
      raw"""WITH t AS (
         |  SELECT doc_id, regexp_extract_all(text, '\S+') AS tk,
         |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, tk, n,
         |    CASE WHEN n <= $ChunkWindow THEN 1
         |         ELSE (n - $ChunkWindow + ${ChunkStride - 1}) // $ChunkStride + 1
         |    END AS n_chunks
         |  FROM t WHERE n > 0
         |), e AS (
         |  SELECT doc_id, tk,
         |    CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT) AS chunk_idx
         |  FROM g
         |)
         |SELECT doc_id, chunk_idx,
         |  chunk_idx * $ChunkStride AS start_tok,
         |  CAST(len(tk[chunk_idx*$ChunkStride + 1 : chunk_idx*$ChunkStride + $ChunkWindow]) AS BIGINT) AS chunk_toks,
         |  array_to_string(tk[chunk_idx*$ChunkStride + 1 : chunk_idx*$ChunkStride + $ChunkWindow], ' ') AS chunk_text
         |FROM e""".stripMargin,

    // the same xent computation as text_xent, gated at the per-lang
    // quantile_cont median (Spark's exact interpolated percentile over
    // the identical rounded doubles) + token floor
    "pipe_quality_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2
         |), lm AS (
         |  SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1
         |), st AS (
         |  SELECT sum(cnt) AS t, CAST(count(*) AS DOUBLE) AS v FROM lm
         |), x AS (
         |  SELECT tf.doc_id,
         |    round((0.0 - sum(tf.tf * ln((lm.cnt + 0.5) / (st.t + 0.5 * st.v)))) / sum(tf.tf), 4)
         |      AS xent
         |  FROM tf JOIN lm USING (term) CROSS JOIN st
         |  GROUP BY tf.doc_id
         |), tc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks
         |  FROM documents
         |), j AS (
         |  SELECT tc.doc_id, tc.lang, tc.n_toks, x.xent FROM tc JOIN x USING (doc_id)
         |), med AS (
         |  SELECT lang, quantile_cont(xent, 0.5) AS med FROM j GROUP BY 1
         |)
         |SELECT j.doc_id, j.lang, j.xent
         |FROM j JOIN med USING (lang)
         |WHERE j.n_toks >= $MinToks AND j.xent <= med.med""".stripMargin,

    // adjacent char pairs WITH multiplicity inside each word token
    // (range(1, len) is [1, len) -> i = 1..len-1, matching the engine's
    // 0 until length-1 substring loop)
    "pipe_bpe_pairs" ->
      s"""WITH w AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents
         |), p AS (
         |  SELECT substr(w, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT $VocabK""".stripMargin,

    // round-1 winner recomputed inline, merged via the same leftmost
    // non-overlapping replace(), pairs recounted over the raw strings
    "pipe_bpe_round2" ->
      s"""WITH w AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents
         |), p1 AS (
         |  SELECT substr(w, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)
         |), top1 AS (
         |  SELECT pair FROM p1 GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1
         |), m AS (
         |  SELECT replace(w.w, top1.pair, '_') AS w2 FROM w CROSS JOIN top1
         |), p2 AS (
         |  SELECT substr(w2, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w2, unnest(range(1, len(w2))) AS i FROM m WHERE len(w2) >= 2)
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
         |FROM p2 GROUP BY 1 ORDER BY cnt DESC, pair LIMIT $VocabK""".stripMargin,

    "pipe_bpe_encode" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents
         |), p1 AS (
         |  SELECT substr(w, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)
         |), top1 AS (
         |  SELECT pair FROM p1 GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1
         |), m AS (
         |  SELECT doc_id, w, replace(w.w, top1.pair, '_') AS w2
         |  FROM w CROSS JOIN top1
         |), p2 AS (
         |  SELECT substr(w2, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w2, unnest(range(1, len(w2))) AS i FROM m WHERE len(w2) >= 2)
         |), top2 AS (
         |  SELECT pair FROM p2 GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1
         |), m2 AS (
         |  SELECT doc_id, w, replace(m.w2, top2.pair, '+') AS w3
         |  FROM m CROSS JOIN top2
         |)
         |SELECT doc_id, CAST(sum(len(w)) AS BIGINT) AS n_chars_tok,
         |  CAST(sum(len(w3)) AS BIGINT) AS n_bpe2
         |FROM m2 GROUP BY 1""".stripMargin,

    "pipe_bpe_roundtrip" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |  FROM documents
         |), p1 AS (
         |  SELECT substr(w, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)
         |), top1 AS (
         |  SELECT pair FROM p1 GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1
         |), m AS (
         |  SELECT doc_id, w, replace(w.w, top1.pair, '_') AS w2
         |  FROM w CROSS JOIN top1
         |), p2 AS (
         |  SELECT substr(w2, CAST(i AS INT), 2) AS pair
         |  FROM (SELECT w2, unnest(range(1, len(w2))) AS i FROM m WHERE len(w2) >= 2)
         |), top2 AS (
         |  SELECT pair FROM p2 GROUP BY pair
         |  ORDER BY count(*) DESC, pair LIMIT 1
         |), m2 AS (
         |  SELECT doc_id, w,
         |    replace(replace(replace(m.w2, top2.pair, '+'), '+', top2.pair),
         |            '_', top1.pair) AS dec
         |  FROM m CROSS JOIN top1 CROSS JOIN top2
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(CASE WHEN dec = w THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
         |  FROM m2
         |)
         |SELECT n_words, n_ok, (n_words = n_ok) AS all_ok FROM agg""".stripMargin,

    "pipe_curate" ->
      s"$curateCteSql SELECT doc_id, lang, toks, cleaned FROM cur",

    "pipe_mixture" ->
      s"""WITH g AS (
         |  SELECT doc_id, source, lang,
         |    ${Fixtures.mix32Sql("doc_id", 11L)} % 10000 AS hv,
         |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
         |         THEN 2500 ELSE 7500 END AS bps
         |  FROM documents
         |)
         |SELECT doc_id, source, lang FROM g WHERE hv < bps""".stripMargin,

    "pipe_shuffle" ->
      s"""WITH k AS (
         |  SELECT doc_id, ${Fixtures.mix32Sql("doc_id", 13L)} AS skey
         |  FROM documents
         |)
         |SELECT doc_id, skey % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY skey % 8
         |       ORDER BY skey, doc_id) AS BIGINT) AS pos
         |FROM k""".stripMargin
  )
}
