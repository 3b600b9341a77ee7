package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Deduplication operators for the document pipeline. All candidate
  * generation is bucketed (hash group-by or LSH band join) — never an
  * all-pairs cross join — so every shape here survives a 100 TB corpus:
  * shuffles are keyed by content hash / band hash, and the only pairwise
  * work is the exact-Jaccard confirmation of LSH candidates.
  */
object Dedup {

  /** Exact dedup via content hash: every group of byte-identical texts,
    * with the kept (minimum) doc id and the duplicate count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  // MinHash-LSH parameters: 128 hashes in 16 bands of 8 rows. Wide bands
  // keep candidate generation selective even when background similarity is
  // high (this corpus draws from a tiny vocabulary, so unrelated docs
  // share many shingles — 4-row bands produced ~3M candidate pairs at
  // sf0.1; 8-row bands cut collisions at j~0.3 to ~1e-3 per pair while
  // near-dup pairs at j >= 0.9 are still caught with prob
  // 1-(1-0.9^8)^16 ~ 0.9999.
  val NumHashes = 128
  val Bands = 16
  val RowsPerBand = 8

  /** Incremental exact dedup — the "nightly batch pass" the streaming
    * dedup's watermark-bounded state defers to (streaming/Ingest.scala
    * dedupStream doc): new documents are kept only if their content hash
    * appears in NEITHER the landed store NOR an earlier new doc (min
    * doc_id wins within the batch, matching [[exact]]). One left-anti
    * join on the hash (store side is a hash-keyed shuffle or broadcast —
    * never a text comparison) + one keyed keeper window.
    */
  def exactIncremental(newDocs: DataFrame, store: DataFrame): DataFrame = {
    val storeHashes = store.select(sha2(col("text"), 256).as("h")).distinct()
    val hashed = newDocs.select(col("doc_id"), col("lang"),
      sha2(col("text"), 256).as("h"))
    hashed.join(storeHashes, Seq("h"), "left_anti")
      .withColumn("keeper",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"))
  }

  /** (doc_id, sh) word-3-shingle sets with non-empty sets — `sh` is the
    * array of DISTINCT element xxhash64s (one native codegen'd pass over
    * the text; values identical to hashing the shingle strings, see
    * TextHash). Every downstream consumer (MinHash minima, Jaccard
    * intersect/union, span counting, decontamination joins) needs only
    * element identity, which the hash carries at 8 bytes/element instead
    * of a ~25-byte string — both a scan-stage CPU win (no UDF boundary,
    * no array<string> row) and a shuffle-bandwidth win at 100 TB. The
    * collision bound is documented on [[graft.functions.TextHash]].
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingleHashes3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (doc_id, sh) char-n-gram sets with non-empty sets (element hashes,
    * same convention as [[shingleSets]]).
    */
  def ngramSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), TextOps.charGramHashes(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** splitmix64 (Steele et al., public domain) of b + i*golden — the
    * family of NumHashes permutation surrogates. Shared by the batch
    * aggregator and the per-row streaming signature so both paths hash
    * identically.
    */
  private[graft] def mix64(b: Long, i: Int): Long = {
    var z = b + 0x9E3779B97F4A7C15L * (i + 1)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Signature of one document's element hashes in a single tight loop —
    * the stateless per-row twin of [[MinHashAgg]] (streaming ingest
    * computes signatures without a stream-side aggregation, so no
    * unbounded state). Exactly MinHashAgg's zero+reduce fold.
    */
  def signatureOfHashes(hs: Iterable[Long]): Seq[Long] = {
    val buf = Array.fill(NumHashes)(Long.MaxValue)
    val it = hs.iterator
    while (it.hasNext) {
      val b = it.next()
      var i = 0
      while (i < NumHashes) {
        val h = mix64(b, i)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf.toSeq
  }

  /** MinHash signature aggregator: one pass over (doc, element-hash) rows,
    * buffer = 128 running minima of cheap splitmix64 re-mixes. A typed
    * Aggregator (SURVEY §2.4) instead of 128 aggregate expressions — the
    * expression form exceeds Spark's codegen field limit and falls back to
    * interpreted evaluation (~50x slower); the aggregator is one tight
    * loop with map-side partial merge.
    */
  object MinHashAgg extends Aggregator[Long, Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.fill(NumHashes)(Long.MaxValue)
    def reduce(buf: Array[Long], b: Long): Array[Long] = {
      var i = 0
      while (i < NumHashes) {
        val h = mix64(b, i)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < NumHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Per-doc MinHash signatures: elements hashed once (xxhash64), minima
    * via the aggregator. The group-by is a shuffle boundary, so signatures
    * materialize exactly once (an inline expression would be re-inlined
    * into every band by projection collapse).
    */
  def minhashSignatures(sets: DataFrame): DataFrame = {
    val mh = udaf(MinHashAgg, Encoders.scalaLong)
    // `sh` elements ARE the xxhash64s (shingleSets/ngramSets emit them
    // natively), so the exploded element feeds the aggregator directly
    sets.select(col("doc_id"), explode(col("sh")).as("b"))
      .groupBy(col("doc_id"))
      .agg(mh(col("b")).as("sig"))
  }

  /** LSH band table: (doc_id, band, band_hash) — the join key that buckets
    * candidates. Each doc contributes `Bands` rows. The band list is
    * unrolled to literal indices rather than a transform() over
    * sequence(): higher-order functions are CodegenFallback (interpreted),
    * and the unrolled form keeps the slice+hash per band inside
    * whole-stage codegen.
    */
  def bandTable(sets: DataFrame): DataFrame =
    bandsOfSignatures(minhashSignatures(sets))

  /** Band rows from an existing (doc_id, sig) frame; `carry` columns ride
    * along (the streaming path keeps ts + shingles so no stream-side
    * rejoin is ever needed).
    */
  def bandsOfSignatures(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    sigs
      .select((col("doc_id") +: carry.map(col)) :+ explode(array(
        (0 until Bands).map(b => struct(lit(b).as("band"),
          xxhash64(lit(b), slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))
            .as("bh"))): _*)).as("e"): _*)
      .select((col("doc_id") +: carry.map(col)) :+
        col("e.band").as("band") :+ col("e.bh").as("bh"): _*)

  /** Near-duplicate pairs over arbitrary element sets: MinHash-LSH
    * candidate generation + exact Jaccard confirmation.
    * Output: (doc_a, doc_b, jac).
    */
  def nearDupBySets(sets: DataFrame, threshold: Double): DataFrame = {
    // SIZE-GATED materialization (r16, after the r15 measured negative):
    // at bench scale the scan->sets->signature pipeline fuses into a
    // single-partition codegen pass per join side, and an eager
    // checkpoint regressed dedup_ngram ~20-25% (a serial job plus two
    // block-manager crossings for a cheap recompute) — so below the
    // Materialize.sharedIfLarge estimate bound the band table stays an
    // unmaterialized subtree, bit-identical to r15's shape. Past the
    // bound the input is no longer one fused split and the duplicated
    // shingle+signature scan per join side is real work, so the gated
    // path materializes it once (local or staged per Materialize.shared).
    val bands = Materialize.sharedIfLarge(bandTable(sets))
    val cand = bands.as("a")
      .join(bands.as("b"), Seq("band", "bh"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    confirmPairs(cand, sets, threshold)
  }

  /** Exact-Jaccard confirmation of candidate (doc_a, doc_b) pairs against
    * their element sets — the shared tail of every near-dup generator.
    * One-pass native confirm: |∩|/|∪| over the distinct element-hash
    * arrays (identical values to size(array_intersect)/size(array_union)
    * — see TextHash.jaccardDistinct — at one set build per pair instead
    * of two builds + two materialized arrays). The size-ratio bound
    * implied by jac >= t skips the O(|set|) intersect for pairs that
    * cannot qualify.
    */
  private[graft] def confirmPairs(cand: DataFrame, sets: DataFrame,
                                  threshold: Double): DataFrame = {
    val jac = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
      size(array_union(col("sa.sh"), col("sb.sh"))).cast("double") // AB-TEST
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .where(least(size(col("sa.sh")), size(col("sb.sh"))).cast("double") >=
        lit(threshold) * greatest(size(col("sa.sh")), size(col("sb.sh"))).cast("double"))
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Near-duplicate pairs via a PREFIX-FILTERED fingerprint postings
    * join (the exact set-similarity join of Chaudhuri et al. SSJoin,
    * ICDE'06 / Bayardo et al. All-Pairs, WWW'07 — public algorithms):
    * candidates are pairs sharing an element within both sets' PREFIXES
    * under one global element order, generated by a self-join on the
    * element value — never all-pairs, never probabilistic.
    *
    * EXHAUSTIVE for any threshold > 0, by the prefix-filter lemma:
    * jac(A,B) >= t implies |A∩B| >= ceil(t·|A|) (since |∪| >= |A|), and
    * A's suffix beyond its prefix of length |A| - ceil(t·|A|) + 1 holds
    * only ceil(t·|A|) - 1 elements, so some x ∈ A∩B lies in prefix(A) —
    * and then min(A∩B) under the global order does too (the prefix is
    * downward-closed within A). Symmetrically min(A∩B) ∈ prefix(B), so
    * every qualifying pair collides on that element. Unlike the MinHash
    * band join, the output therefore provably equals the brute-force
    * all-pairs result — the right generator for BOUNDED-cardinality sets
    * (winnowed fingerprints: ~|doc|/w elements).
    *
    * SCALE: the global order is document-frequency-ascending (ties by
    * value), the All-Pairs heuristic that makes the filter bite: each
    * doc's prefix is its RAREST fingerprints, so the boilerplate
    * fingerprints that unrelated documents share sit in suffixes and
    * never generate candidates — candidate cost is sum over PREFIX
    * fingerprints of C(df, 2), output-bound in practice where the naive
    * any-shared-element postings join is quadratic in the corpus. The
    * df table is one keyed count over the postings; the per-doc rank is
    * a window over ~|sh| rows.
    * Output: (doc_a, doc_b, jac).
    */
  def nearDupByPostings(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0, "postings candidates are exhaustive only for t > 0")
    val posts = sets.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("f"))
    val dfreq = posts.groupBy(col("f")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("f"))
    val prefix = posts.join(dfreq, Seq("f"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("doc_id"), col("f"))
    val cand = prefix.as("a")
      .join(prefix.as("b"), Seq("f"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    confirmPairs(cand, sets, threshold)
  }

  /** SimHash near-duplicate pairs (Charikar simhash + Manku et al. banded
    * Hamming search — public algorithms): the 64-bit signature splits into
    * `blocks` equal bit-blocks, and each band key concatenates a
    * COMBINATION of `keyBlocks` blocks (Manku §3's block-permutation
    * tables); candidate pairs collide in at least one band (an equi-join
    * on (band, value) — never all-pairs), then are confirmed by exact
    * Hamming distance. The join is EXHAUSTIVE, not probabilistic, whenever
    * maxHamming <= blocks - keyBlocks: h flipped bits touch at most h
    * blocks, leaving >= blocks - h >= keyBlocks blocks untouched
    * (pigeonhole), so both docs share the band keyed on some untouched
    * combination and the output equals the brute-force all-pairs result
    * the oracle computes.
    *
    * SCALE: expected bucket size per band is N / 2^(keyBlocks * 64/blocks).
    * The default (4, 1) = 4 x 16-bit keys is right for corpora to ~1e7
    * docs; at 1e9+ use e.g. (8, 5) — C(8,5)=56 bands of 40-bit keys, still
    * exhaustive for hamming <= 3, with ~2^24x smaller buckets per band.
    * Output: (doc_a, doc_b, hamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   blocks: Int = 4, keyBlocks: Int = 1): DataFrame = {
    val w = 64 / blocks
    require(blocks * w == 64 && w <= 32 && 32 % w == 0,
      s"blocks=$blocks must split the two 32-bit signature halves evenly")
    require(keyBlocks >= 1 && keyBlocks * w <= 63,
      "band key must fit a signed long")
    require(maxHamming <= blocks - keyBlocks,
      "band-join exhaustiveness needs maxHamming <= blocks - keyBlocks")
    val mask = (1L << w) - 1
    // block j of the 64-bit signature held as two 32-bit halves
    def blockVal(j: Int): Column = {
      val s = j * w
      if (s < 32) shiftright(col("sig_lo"), s).bitwiseAND(lit(mask))
      else shiftright(col("sig_hi"), s - 32).bitwiseAND(lit(mask))
    }
    val combos = (0 until blocks).combinations(keyBlocks).toSeq
    // materialized once: the signature table feeds both sides of the
    // band self-join — unmaterialized, the tokenize+per-bit-sum simhash
    // scan executed twice (doc_id + two longs per doc, tiny to hold)
    val sig = Materialize.checkpoint(TextOps.simhash(docs, "doc_id", "text"))
    val bands = sig.select(col("doc_id"), col("sig_lo"), col("sig_hi"),
      explode(array(combos.zipWithIndex.map { case (combo, ci) =>
        val bv = combo.map(blockVal).reduce((acc, v) => shiftleft(acc, w).bitwiseOR(v))
        struct(lit(ci).as("bi"), bv.as("bv"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("sig_lo"), col("sig_hi"),
        col("e.bi").as("bi"), col("e.bv").as("bv"))
    bands.as("a").join(bands.as("b"), Seq("bi", "bv"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.sig_lo").bitwiseXOR(col("b.sig_lo"))) +
         bit_count(col("a.sig_hi").bitwiseXOR(col("b.sig_hi")))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Word-shingle MinHash near-dup (the standard text-corpus dedup). */
  def minhashNearDup(docs: DataFrame, threshold: Double): DataFrame =
    nearDupBySets(shingleSets(docs), threshold)

  /** Character n-gram Jaccard near-dup — same LSH harness over char-gram
    * sets (robust to tokenization differences). Exact pairwise ngram
    * Jaccard is inherently quadratic; at scale the LSH candidates ARE the
    * only viable complete-in-practice generation.
    */
  def ngramNearDup(docs: DataFrame, n: Int, threshold: Double): DataFrame =
    nearDupBySets(ngramSets(docs, n), threshold)

  /** Span-level duplication profile (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 — substring dedup
    * re-expressed over word shingles): a 3-token shingle occurring in at
    * least `minDocs` DISTINCT documents is a duplicated span, and each
    * document reports how much of it is made of such spans — the signal
    * that catches boilerplate/templated text which doc-level near-dedup
    * misses (two docs can be pairwise-dissimilar yet both 80% boilerplate).
    *
    * Scale shape: explode to (doc, gram) rows, ONE keyed aggregation on
    * the gram (map-side combined; shingle sets are distinct per doc so
    * count(*) = distinct docs), keep only grams over the threshold (the
    * duplicated-gram table is bounded by corpus redundancy, not corpus
    * size), then one keyed join back and a per-doc count. No all-pairs
    * work anywhere; the gram aggregation is the same shuffle the vocab
    * builder runs. Output: (doc_id, n_spans, n_dup, dup_frac) for every
    * doc with at least one shingle.
    */
  def duplicatedSpans(docs: DataFrame, minDocs: Long): DataFrame = {
    val sh = shingleSets(docs)
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val dupGrams = exploded.groupBy(col("s"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("s"))
    val perDoc = exploded.join(dupGrams, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    sh.select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_spans").cast("double"), 6).as("dup_frac"))
  }

  /** Connected components over duplicate pairs — the dedup capstone:
    * near-dup PAIRS must become CLUSTERS before one canonical keeper per
    * cluster can be chosen (A~B and B~C pull A,B,C together even when
    * A~C was never emitted). Large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): the
    * round count does not grow with component DIAMETER, so a long chain
    * costs a few rounds where label propagation needs one per hop.
    *
    * Edges are canonical (src > dst, distinct, self-free). Each round
    * rewires them toward component minima with two windows and one
    * aggregation, no join:
    *  - large-star: over both edge directions, m = least(min(v), u) per
    *    node u; every larger neighbor v > u hangs off m, emitting (v, m);
    *  - small-star: on those edges, m = min(dst) per src; src and every
    *    dst other than m hang off m;
    *  - the new edges (tagged n) and the old ones (tagged o) meet in one
    *    group-by on the edge, checkpointed once per round: a row with
    *    n != o is an edge the round changed, so counting them is the
    *    fixpoint test, and the n rows are the next round's edges.
    * At the fixpoint every edge is (member, component minimum).
    *
    * Output: every doc that appears in a pair, its component id (= the
    * min doc_id reachable), and the keeper flag — deterministic at any
    * parallelism. A graph that has not converged after [[MaxRounds]]
    * throws instead of returning mislabelled components.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // each round's plan embeds the previous one, so the lineage is cut
    // (a checkpoint in executor storage) once per round and the
    // superseded round released
    var held = Materialize.checkpoint(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("src"),
        least(col("doc_a"), col("doc_b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var edges = held
    var changed = 1L
    var round = 0
    while (changed > 0 && round < MaxRounds) {
      val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val large = nbrs
        .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
      val small = large
        .withColumn("m", min(col("dst")).over(Window.partitionBy(col("src"))))
        .select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src"), col("m").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
      val tagged = Materialize.checkpoint(
        small.select(col("src"), col("dst"), lit(1).as("n"), lit(0).as("o"))
          .union(edges.select(col("src"), col("dst"), lit(0).as("n"), lit(1).as("o")))
          .groupBy(col("src"), col("dst"))
          .agg(max(col("n")).as("n"), max(col("o")).as("o")))
      changed = tagged.filter(col("n") =!= col("o")).count()
      Materialize.release(held)
      held = tagged
      edges = tagged.filter(col("n") === 1).select(col("src"), col("dst"))
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $MaxRounds rounds")
    val members = edges.select(col("src").as("doc_id"), col("dst").as("component"))
    val roots = edges.select(col("dst").as("doc_id")).distinct()
      .withColumn("component", col("doc_id"))
    members.unionByName(roots)
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("keeper"))
  }

  /** The round cap of [[connectedComponents]]: a random-order chain of
    * 30,000 nodes converges in 13 rounds, and near-dup clusters in a few.
    */
  private val MaxRounds = 32

  /** Driver union-find for SMALL pair sets. Every distributed round costs
    * a fixed scheduler/shuffle overhead regardless of data size; below
    * [[LocalEdges]] that overhead IS the cost (a 2k-edge dup graph pays
    * several multi-job rounds to move kilobytes). Union-find over one
    * bounded collect computes the identical min-label components in
    * milliseconds. Union-by-min-root = component id is the min reachable
    * doc id, byte-identical to [[connectedComponents]] (DedupSpec
    * asserts).
    *
    * `private[graft]`: only [[connectedComponentsAuto]] may call this —
    * it gates the collect by the measured edge count, and a direct
    * external call on an unmeasured graph would OOM the driver (the
    * bounded-route discipline must not be bypassable).
    */
  private[graft] def connectedComponentsLocal(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.sorted.map(d => (d, find(d))).toDF("doc_id", "component")
      .withColumn("keeper", col("doc_id") === col("component"))
  }

  /** The most edges [[connectedComponentsAuto]] collects to the driver. */
  private val LocalEdges = 100000L

  /** Size-routed components: the driver union-find at or below
    * [[LocalEdges]] edges, [[connectedComponents]] above. The edge count
    * is one scalar aggregate over the pairs, so the route is decided on
    * the measured size (at 100 TB near-dup pair sets are billions and
    * never take the local route). The choice is printed as
    * `[cc-route] edges=N route=local|star` (tools/run_scale100.sh keeps
    * it per decade).
    */
  def connectedComponentsAuto(pairs: DataFrame): DataFrame = {
    val cached = Materialize.cache(pairs)
    val edgeCount = cached.count()
    val local = edgeCount <= LocalEdges
    System.err.println(s"[cc-route] edges=$edgeCount route=${if (local) "local" else "star"}")
    // both routes consume the pairs eagerly (a collect or the first
    // checkpoint), so the result no longer reads them
    val out = if (local) connectedComponentsLocal(cached) else connectedComponents(cached)
    Materialize.release(cached)
    out
  }
}
