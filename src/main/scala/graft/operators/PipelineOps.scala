package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.ml.Fixtures

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw documents and the trainer: deterministic splits, token-budget
  * sequence packing, per-group quota sampling, and the composed
  * clean→filter→dedup pass. Every derivation is hash- or window-based with
  * no RNG state, so results are identical across cluster sizes and re-runs,
  * and each operator is exactly recomputable by the DuckDB oracle.
  */
object PipelineOps {

  /** Deterministic train/val/test assignment: mix32(doc_id) % 100 →
    * 80/10/10. Map-only (no shuffle, no state) — the assignment of a doc
    * never depends on any other doc, so it scales trivially and stays
    * stable when the corpus grows (the property reservoir sampling lacks).
    */
  def sampleSplit(docs: DataFrame, salt: Long = 7L): DataFrame = {
    val h = Fixtures.mix32(col("doc_id"), salt) % 100L
    docs.select(col("doc_id"), col("lang"),
      when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
  }

  /** Token-budget sequence packing, per-document assignment: per
    * (lang, shard) stream, documents are concatenated in doc_id order and
    * a document joins the pack where its FIRST token lands
    * (floor(start_tok / budget)). The shard key bounds window-partition
    * size — packing is per-stream and embarrassingly parallel, so a
    * 100 TB corpus packs as width-many independent running sums instead
    * of one global one. The streaming packer (Ingest.packStream) produces
    * the same assignment incrementally; parity asserted in PipelineSpec.
    *
    * SCALE GUARD on `shards`: one (lang, shard) stream is ONE window task,
    * so the per-task row count is ~N_lang/shards — the fixed default of 8
    * only suits corpora to ~1e7 docs. Size shards to the corpus
    * ([[packShardsFor]] / [[packAssignmentsAuto]]) or stream-pack.
    */
  def packAssignments(docs: DataFrame, budgetTokens: Long, shards: Int = 8): DataFrame =
    packAssignmentsFromToks(
      docs.select(col("doc_id"), col("lang"),
        TextOps.wsTokenCount(col("text")).as("toks")),
      budgetTokens, shards)

  /** Shard count that bounds a (lang, shard) window partition to about
    * `docsPerShard` rows: ceil(nDocs / docsPerShard), floored at 8 so
    * small corpora keep the historical layout. ~1e6 docs per window task
    * keeps the running-sum state and sort comfortably in one executor.
    */
  def packShardsFor(nDocs: Long, docsPerShard: Long = 1000000L): Int =
    math.max(8L, (nDocs + docsPerShard - 1) / docsPerShard).toInt

  /** packAssignments with `shards` derived from the corpus size (one
    * bounded count action). The assignment itself stays deterministic for
    * a FIXED shard count; growing the corpus across the docsPerShard
    * boundary re-shards — pin `shards` explicitly when incremental
    * stability across runs matters (the streaming packer's regime).
    */
  def packAssignmentsAuto(docs: DataFrame, budgetTokens: Long,
                          docsPerShard: Long = 1000000L): DataFrame =
    packAssignments(docs, budgetTokens, packShardsFor(docs.count(), docsPerShard))

  /** Packing over rows that already carry (doc_id, lang, toks) — the form
    * a composed pipeline uses after curation has counted tokens once.
    */
  def packAssignmentsFromToks(toks: DataFrame, budgetTokens: Long,
                              shards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("start_tok", sum(col("toks")).over(w) - col("toks"))
      .withColumn("pack_id",
        floor(col("start_tok") / lit(budgetTokens.toDouble)).cast("long"))
  }

  def packSequences(docs: DataFrame, budgetTokens: Long, shards: Int = 8): DataFrame =
    packAssignments(docs, budgetTokens, shards)
      .groupBy(col("lang"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("pack_toks"),
        min(col("doc_id")).as("first_doc"))

  /** Per-group quota sampling: the `perGroup` highest-token documents per
    * language (ties broken by doc_id). row_number over a keyed window —
    * Spark's WindowGroupLimit pushes the rank filter below the sort at
    * scale, so each group materializes only its top N.
    */
  def quotaSample(docs: DataFrame, perGroup: Int): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
      TextOps.wsTokenCount(col("text")).as("toks"))
    val w = Window.partitionBy(col("lang")).orderBy(col("toks").desc, col("doc_id"))
    t.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perGroup)
  }

  /** Benchmark decontamination: train documents sharing at least one
    * 3-token shingle with any benchmark document, with the count of shared
    * shingles. Candidate generation is an equi-join on the shingle itself
    * (keyed shuffle; the benchmark shingle set is small and broadcasts) —
    * never a doc×doc comparison, so the shape survives a 100 TB train
    * corpus × fixed benchmark suite.
    */
  def decontaminate(docs: DataFrame, benchPred: Column): DataFrame = {
    val sh = Dedup.shingleSets(docs)
    val bench = sh.filter(benchPred)
      .select(explode(col("sh")).as("s")).distinct()
    val train = sh.filter(!benchPred)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    train.join(broadcast(bench), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // shingle sets are distinct per doc
  }

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s shape for the
    * regime where the benchmark shingle set is too large to broadcast-join
    * raw but its Bloom sketch (~10 bits/element at 1% fpp) still fits on
    * every executor. A Bloom filter is built over the benchmark shingles
    * (one bounded aggregation; the sketch, not the set, ships to
    * executors), the train shingle stream is pre-filtered MAP-SIDE before
    * any shuffle, and the survivors are confirmed by the exact keyed join.
    * The result is EXACT regardless of fpp: Bloom filters have no false
    * negatives, and the confirm join removes the false positives — so this
    * carries the same oracle as the exact operator, while the shuffle
    * volume drops from |train shingles| to |matches| + fpp·|train
    * shingles|. (The probe is a scalar UDF because the sketch is an opaque
    * driver-built object — the same pattern Spark's internal runtime
    * bloom-filter join uses; it runs on the pre-exploded stream only.)
    */
  def decontaminateBloom(docs: DataFrame, benchPred: Column,
                         fpp: Double = 0.01): DataFrame = {
    val sh = Dedup.shingleSets(docs)
    val bench = sh.filter(benchPred)
      .select(explode(col("sh")).as("s")).distinct()
    val expected = math.max(1L, bench.count())
    val bloom = bench.stat.bloomFilter("s", expected, fpp)
    val bloomBc = docs.sparkSession.sparkContext.broadcast(bloom)
    // shingle elements are their xxhash64s (shingleSets), so the probe
    // is the long-keyed sketch path — no string rehash inside the probe
    val mightContain = udf((s: Long) => bloomBc.value.mightContainLong(s))
    val candidates = sh.filter(!benchPred)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .filter(mightContain(col("s")))
    // deliberately NOT a broadcast join: this operator models the
    // large-benchmark regime, so the confirm is a keyed shuffle join over
    // the (bloom-thinned) candidate stream
    candidates.join(bench, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Source-weighted mixture construction (the "data mixture" step of a
    * training pipeline): keep each document independently with its
    * source's sampling probability, decided by the deterministic mix32
    * hash gate — no RNG state, so the mixture is reproducible across
    * cluster sizes and re-runs, and each doc's fate is stable as the
    * corpus grows (the property reservoir/ bernoulli samplers lack).
    * `weights` is a tiny (source, weight in [0,1]) table, broadcast onto
    * the corpus scan; the whole operator is one map-side join + filter.
    */
  def mixtureSample(docs: DataFrame, weights: DataFrame, salt: Long = 11L): DataFrame =
    docs.join(broadcast(weights), "source")
      .filter(Fixtures.mix32(col("doc_id"), salt) % 10000L <
        (col("weight") * 10000.0).cast("long"))
      .select(col("doc_id"), col("source"), col("lang"))

  /** Vocabulary construction: the `topK` most frequent word tokens across
    * the corpus (ties broken alphabetically). Two-level aggregation —
    * map-side partial counts, one keyed shuffle on token, then a bounded
    * top-K — the canonical reduce shape for corpus statistics.
    */
  def vocabTopK(docs: DataFrame, topK: Int): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(topK)

  /** Deterministic global corpus shuffle — the trainer-input ordering
    * pass. Each document gets a hash-derived shuffle key; its shard is
    * key mod `shards` and its position is its rank within the shard
    * (key order, doc_id tie-break). One keyed exchange on shard + a
    * per-shard rank — at 100 TB, size `shards` like [[packShardsFor]] so
    * a shard's sort fits one task, and trainers stream shards
    * independently. Reproducible across cluster sizes and re-runs (no
    * RNG), and STABLE under corpus growth: an existing doc's (shard, key)
    * never changes, new docs splice into rank order.
    */
  def globalShuffle(docs: DataFrame, shards: Int = 8, salt: Long = 13L): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs.select(col("doc_id"), Fixtures.mix32(col("doc_id"), salt).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** The composed curation pass: normalize text (lowercase, strip
    * punctuation, collapse whitespace), keep only exact-dedup keepers
    * (min doc_id per sha256 group — one keyed shuffle), and gate on token
    * count. This is the end-to-end shape: each stage is a narrow
    * projection or a single keyed exchange, so the whole pass is one scan
    * + one shuffle at any corpus size.
    */
  def curate(docs: DataFrame, minTokens: Long, maxTokens: Long): DataFrame = {
    val cleaned = docs.select(col("doc_id"), col("lang"),
      TextOps.cleanText(col("text")).as("cleaned"),
      TextOps.wsTokenCount(col("text")).as("toks"),
      sha2(col("text"), 256).as("h"))
    cleaned
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keeper") &&
        col("toks").between(minTokens, maxTokens))
      .select(col("doc_id"), col("lang"), col("toks"), col("cleaned"))
  }

  /** Sliding-window document chunking — the long-document preprocessing
    * step every context-bounded consumer (embedding models, training
    * sequences) needs: each document becomes overlapping `window`-token
    * chunks at `stride` starts (stride < window ⇒ window−stride tokens of
    * overlap so no boundary context is lost). Left-aligned convention:
    * chunk i covers whitespace tokens [i·stride, i·stride + window); the
    * chunk count is 1 for docs at or under the window, else
    * ⌈(n − window)/stride⌉ + 1 (integer arithmetic end to end — SQL
    * `div`, matching the oracle's `//` — so the two engines agree at any
    * magnitude); past the first chunk every chunk is longer than
    * window − stride, and a multi-chunk doc's final chunk is the only
    * short one (a single-chunk doc's one chunk is simply all n ≤ window
    * tokens). Token-less docs emit nothing. Map-only: tokenize → explode
    * chunk indices → slice; no shuffle, no state — at 100 TB this is a
    * pure scan stage.
    * Output: (doc_id, chunk_idx, start_tok, chunk_toks, chunk_text).
    */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs.select(col("doc_id"), TextOps.wsTokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= window, lit(1L))
          .otherwise(expr(s"(n - $window + ${stride - 1}) div $stride") +
            lit(1L)))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("chunk",
        slice(col("tk"), (col("start_tok") + 1).cast("int"), lit(window)))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("chunk_toks"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Single-char marker of BPE merge round `k` (0-based): 'A'..'Z' for
    * the first 26 rounds, then consecutive BMP codepoints from U+00C0
    * ('À') — all outside the `[a-z0-9]+` token alphabet, so a merged
    * pair becomes a fresh single-char symbol that later rounds pair over
    * like any other: the invariant that keeps every round's merge a
    * plain leftmost-non-overlapping `replace()` in BOTH engines
    * (Spark and DuckDB `replace`/`substr`/`len` are all
    * character-based). Single UTF-16 chars below the surrogate range
    * give ~55k distinct markers; the practical round bound is job
    * latency (one distributed pair-count pass per round), not markers.
    */
  def bpeMarker(k: Int): String =
    if (k < 26) ('A' + k).toChar.toString
    else (0xC0 + (k - 26)).toChar.toString

  /** Greedy BPE merge training (Sennrich et al., ACL 2016 — public
    * algorithm), in the 100 TB corpus shape (r14 verdict #2): the token
    * stream collapses ONCE to the weighted vocabulary `(word, cnt)` —
    * distinct words are millions where corpus tokens are trillions — and
    * every round trains against that cached table, so per-round cost is
    * O(|vocab|), not O(corpus). Pair counts with multiplicity over the
    * token stream equal `sum(cnt)` over distinct words exactly (the
    * standard textbook identity), so results are bit-identical to the
    * retired corpus-rescanning formulation and the generated DuckDB
    * CTE-chain oracle is unchanged. Each round is ONE keyed pair-count
    * aggregation over the vocabulary + ONE driver-bounded top-1 fetch
    * (the bandit policy walks' bounded-scalar discipline); the merges
    * accumulated so far re-apply through ONE native [[graft.functions
    * .BpeApply]] node — constant plan depth at any vocabulary size, no
    * N-deep replace chain. Per-round APPLY work is also bounded
    * independently of the round number: every `rebaseEvery` rounds the
    * encoded vocabulary re-materializes (eager localCheckpoint — one
    * vocab-sized write, lineage truncated) and later rounds apply only
    * the merges learned since, so round k costs O(|vocab| * rebaseEvery)
    * worst-case rather than O(|vocab| * k) — at a real 10k-merge
    * vocabulary the difference between linear and quadratic training.
    * Encoding a base vocab through later merges equals encoding the
    * original through the full table (BpeApply IS the fold, and merges
    * are injective — markers are fresh chars — so the re-materialized
    * vocab stays distinct with counts intact; BpeSpec pins the rebased
    * trainer's merge sequence against the unrebased one). Rounds stop
    * early if no pair remains. Returns (pair, marker, cnt) in round
    * order, where cnt is the pair's count at selection time.
    */
  def bpeTrain(words: DataFrame, rounds: Int): Seq[(String, String, Long)] =
    bpeTrain(words, rounds, rebaseEvery = 64)

  private[graft] def bpeTrain(words: DataFrame, rounds: Int,
                              rebaseEvery: Int): Seq[(String, String, Long)] = Materialize.scoped {
    // upper bound = the single-UTF16-char marker space (bpeMarker: 26
    // letters + BMP codepoints below the surrogate range)
    require(rounds >= 1 && rounds <= 50000,
      s"rounds must be in [1,50000] (one vocabulary pass each): $rounds")
    require(rebaseEvery >= 1, s"rebaseEvery must be positive: $rebaseEvery")
    // the single corpus-wide pass: one keyed count (map-side combined).
    // `base` = the vocabulary encoded through merges[0, mBase).
    var base = Materialize.cache(words.groupBy(col("w")).agg(count(lit(1)).as("cnt")))
    var mBase = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < rounds && !exhausted) {
      val pending = merges.slice(mBase, k)
      val applied =
        if (pending.isEmpty) col("w") else bpeEncode(col("w"), pending.toSeq)
      val top = base
        .select(explode(TextOps.charPairsRaw(applied)).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        merges += ((pair, bpeMarker(k), top(0).getLong(1)))
        k += 1
        if (k - mBase >= rebaseEvery && k < rounds) {
          val next = Materialize.checkpoint(base.select(
            bpeEncode(col("w"), merges.slice(mBase, k).toSeq).as("w"),
            col("cnt")))
          Materialize.release(base)
          base = next
          mBase = k
        }
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge table in round order (each pair may contain
    * earlier markers) — ONE native expression carrying the whole table
    * (semantics: the fold of leftmost-non-overlapping replaces, which the
    * oracles' replace() chains recompute; plan depth constant in table
    * size, see [[graft.functions.BpeApply]]).
    */
  def bpeEncode(w: Column, merges: Seq[(String, String, Long)]): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.functions.BpeApply(expression(w),
      merges.map { case (pair, mk, _) => (pair, mk) }))
  }

  /** Invert [[bpeEncode]]: expand markers back to their pairs in REVERSE
    * round order (a later pair may contain earlier markers, so the
    * earlier expansions must run after it).
    */
  def bpeDecode(w: Column, merges: Seq[(String, String, Long)]): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.functions.BpeApply(expression(w),
      merges.reverse.map { case (pair, mk, _) => (mk, pair) }))
  }
}
