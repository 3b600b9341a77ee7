package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Ranked retrieval and statistical-LM scoring over the document corpus —
  * the text-search half of a training-data pipeline (query-driven corpus
  * inspection, decontamination lookups, CCNet-style quality filtering).
  *
  * The reference engine has no text surface at all (it is a numeric
  * time-series store); these operators extend the pipeline family the same
  * way the dedup/ANN ops do, with classical public algorithms:
  * BM25 (Robertson/Sparck Jones probabilistic relevance, the Lucene
  * `k1`/`b` parameterization) and add-alpha-smoothed unigram cross-entropy
  * (the CCNet/Wenzek-style LM quality signal, reduced to order-0).
  *
  * Scale shape: everything is keyed aggregation + one broadcast of the
  * per-TERM statistics (vocabulary-sized, not corpus-sized). The only
  * driver-side values are two scalars (N, avgdl). Top-k is
  * TakeOrderedAndProject — no global sort materialization.
  */
object Relevance {

  /** BM25 score of every document against a bag of query `terms`;
    * returns the `topK` best as (doc_id, score desc, doc_id tiebreak).
    *
    * idf uses the +1 "always positive" form:
    * ln(1 + (N - df + 0.5) / (df + 0.5)).
    */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    // Queries go through the SAME tokenizer as documents (lowercase,
    // alphanumeric runs) so "Hello" or "foo-bar" match their document
    // forms instead of silently matching nothing.
    val qTerms = terms.flatMap(t =>
      "[a-z0-9]+".r.findAllIn(Option(t).getOrElse("").toLowerCase(java.util.Locale.ROOT)))
      .distinct
    require(qTerms.nonEmpty,
      s"bm25: no query terms survive tokenization of $terms")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("tl"))
      .withColumn("dl", size(col("tl")).cast("double"))
    // Corpus stats are two bounded scalars (the one acceptable driver fetch).
    val st = toks.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl")).head()
    if (st.isNullAt(1))  // empty corpus: avg(dl) is null — no docs to rank
      return docs.select(col("doc_id"), lit(0.0).as("score")).limit(0)
    val nDocs = st.getDouble(0)
    val avgdl = st.getDouble(1)
    // Per-(doc, query-term) frequency: filter BEFORE the shuffle so only
    // postings of the |terms| query terms ever leave the map side.
    val tf = toks.select(col("doc_id"), col("dl"), explode(col("tl")).as("term"))
      .filter(col("term").isin(qTerms.map(x => x: Any): _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // Document frequency per term: at most |terms| rows -> broadcast.
    val dft = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dft), Seq("term"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-document cross-entropy under the corpus's own add-alpha-smoothed
    * unigram LM: H(d) = -(1/|d|) * sum_t tf(d,t) * ln p(t), with
    * p(t) = (cnt(t) + alpha) / (T + alpha * V).
    *
    * Self-scoring the training corpus is the standard "how typical is this
    * document" quality signal; a held-out LM is the same join with `lm`
    * built from a different DataFrame. The LM side is vocabulary-sized and
    * broadcast; the doc side is one keyed aggregation.
    */
  def unigramCrossEntropy(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    // materialized once: tf feeds the LM aggregation, the scalar fetch
    // below AND the final join — without it the tokenize+explode+count
    // subtree executes three times (the post-optimization subtrees differ
    // in pruned columns, so exchange reuse never fires on them; measured
    // r15 in the text_xent plan)
    val tf = Materialize.checkpoint(toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf")))
    val lm = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    // Two bounded scalars: total token mass and vocabulary size.
    val st = lm.agg(sum(col("cnt")).as("t"), count(lit(1)).cast("double").as("v")).head()
    if (st.isNullAt(0))  // empty corpus: sum over zero rows is null
      return docs.select(col("doc_id"), lit(0.0).as("xent")).limit(0)
    val total = st.getDouble(0)
    val vocab = st.getDouble(1)
    // NO broadcast hint on the LM side: it is vocabulary-sized, which a web
    // corpus can push past driver/broadcast limits. A shuffle join on term
    // is the safe default; AQE converts it to broadcast when it measures
    // small (unlike bm25's dft, which is |query terms|-bounded and hinted).
    tf.join(lm, Seq("term"))
      .withColumn("lp", log((col("cnt") + lit(alpha)) / lit(total + alpha * vocab)))
      .groupBy(col("doc_id"))
      .agg((-sum(col("tf") * col("lp")) / sum(col("tf"))).as("h"))
      .select(col("doc_id"), round(col("h"), 4).as("xent"))
  }

  /** Order-1 (bigram) extension of [[unigramCrossEntropy]]: per-document
    * cross-entropy under the corpus's own add-alpha-smoothed bigram LM,
    * H2(d) = -(1/|bigrams(d)|) * sum ln p(w2|w1), with
    * p(w2|w1) = (c(w1,w2) + alpha) / (c1(w1) + alpha * V),
    * c1(w1) = total bigrams starting with w1 and V = corpus vocabulary
    * size. The CCNet-style quality ladder's next rung: unigram xent flags
    * out-of-vocabulary junk, bigram xent additionally flags shuffled /
    * unnatural token order.
    *
    * Scale shape: bigrams come from one keyed window (lead over doc
    * position — the shuffle is on doc_id, the same key the tokenizer
    * already produced); both LM tables are keyed aggregations joined back
    * by shuffle join on their natural keys (bigram table is
    * corpus-sized — never broadcast, same rationale as the unigram LM).
    * One scalar driver fetch (V). Docs with fewer than 2 tokens drop out
    * (no bigrams — same contract as the dup_bigram_frac signal).
    */
  def bigramCrossEntropy(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bg = toks
      .withColumn("nxt", lead(col("term"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("term").as("w1"), col("nxt").as("w2"))
    // materialized once: bf feeds both LM tables and the final join —
    // without it the tokenize+window+count subtree executes three times
    // (no exchange reuse fires across the differently-pruned copies;
    // measured r15: text_xent2's plan scanned+tokenized the corpus 3x).
    val bf = Materialize.checkpoint(bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("bf")))
    val lm2 = bf.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("c12"))
    val lm1 = lm2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val st = toks.agg(countDistinct(col("term")).cast("double").as("v")).head()
    if (st.isNullAt(0) || st.getDouble(0) == 0.0)
      return docs.select(col("doc_id"), lit(0.0).as("xent2")).limit(0)
    val vocab = st.getDouble(0)
    bf.join(lm2, Seq("w1", "w2")).join(lm1, Seq("w1"))
      .withColumn("lp",
        log((col("c12") + lit(alpha)) / (col("c1") + lit(alpha) * lit(vocab))))
      .groupBy(col("doc_id"))
      .agg((-sum(col("bf") * col("lp")) / sum(col("bf"))).as("h"))
      .select(col("doc_id"), round(col("h"), 4).as("xent2"))
  }
}
