package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass shingle/char-gram HASH generators (r13 verdict #6): the
  * dedup family's scan stage used compiled UDFs producing
  * `array<string>` element sets, which every consumer immediately
  * re-hashed with `xxhash64` — at 100 TB of text that materializes,
  * serializes, and shuffles gigabytes of short strings whose only
  * purpose is to become an 8-byte hash. These expressions emit the
  * DISTINCT element-hash array directly from the raw text inside
  * whole-stage codegen: no UDF encoder boundary, no `array<string>`
  * row, no per-element `xxhash64` projection.
  *
  * The emitted values are BIT-IDENTICAL to
  * `xxhash64(<element string>)` (seed 42 over the element's UTF-8
  * bytes, `XXH64.hashUTF8String` — the exact function Spark's
  * `xxhash64` applies), so MinHash signatures, band hashes, and LSH
  * candidate sets are unchanged from the string-set formulation
  * (TextHashSpec asserts per-document equality). Downstream set
  * algebra (Jaccard intersect/union, span counting, decontamination
  * joins) runs on long sets instead of string sets: identical
  * cardinalities unless two DISTINCT elements of a compared pair
  * collide under xxhash64 — P < |A|·|B| / 2^64 ≈ 1e-13 per pair at
  * 1e6-shingle documents, far below the corpus-level certainty of the
  * string sets they replace.
  */
object TextHash {
  /** Spark's xxhash64 column-function seed. */
  final val Seed = 42L

  /** Open-addressing long set (no boxing) sized for per-document element
    * counts; 0 is handled out-of-band so the empty-slot sentinel is safe.
    */
  private final class LongSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(8, expected * 2) - 1) << 1
    private var keys = new Array[Long](cap)
    private var hasZero = false
    private var n = 0
    def size: Int = n + (if (hasZero) 1 else 0)
    /** @return true if newly added */
    def add(k: Long): Boolean = {
      if (k == 0L) {
        if (hasZero) return false
        hasZero = true; return true
      }
      var i = (java.lang.Long.hashCode(k) & (cap - 1))
      while (keys(i) != 0L) {
        if (keys(i) == k) return false
        i = (i + 1) & (cap - 1)
      }
      keys(i) = k
      n += 1
      if (n * 4 > cap * 3) grow()
      true
    }
    def contains(k: Long): Boolean = {
      if (k == 0L) return hasZero
      var i = (java.lang.Long.hashCode(k) & (cap - 1))
      while (keys(i) != 0L) {
        if (keys(i) == k) return true
        i = (i + 1) & (cap - 1)
      }
      false
    }
    private def grow(): Unit = {
      val old = keys
      cap <<= 1
      keys = new Array[Long](cap)
      var j = 0
      while (j < old.length) {
        val k = old(j)
        if (k != 0L) {
          var i = (java.lang.Long.hashCode(k) & (cap - 1))
          while (keys(i) != 0L) i = (i + 1) & (cap - 1)
          keys(i) = k
        }
        j += 1
      }
    }
  }

  /** Distinct 3-token word-shingle hashes in first-occurrence order —
    * `xxhash64(shingles3OfText(text)[i])` for every i, without the
    * strings. Tokens are lowercased `[a-z0-9]+` runs (TextOps.tokens
    * semantics: `toLowerCase(ROOT)` first, then the run scan), the
    * shingle string is `"t1 t2 t3"`; being pure ASCII its UTF-8 bytes
    * are assembled directly in a reused buffer and hashed with the
    * same `XXH64` Spark's `xxhash64` calls.
    */
  def shingleHashes3(text: UTF8String): ArrayData = {
    val lc = text.toString.toLowerCase(java.util.Locale.ROOT)
    // token spans [start, end) of [a-z0-9] runs over lc — primitive
    // grow-by-doubling arrays (this is the per-row hot loop; boxed
    // collections would allocate two objects per token per document)
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var nTok = 0
    var i = 0
    val len = lc.length
    while (i < len) {
      val c = lc.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val s = i
        i += 1
        while (i < len && {
          val d = lc.charAt(i)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }
    if (nTok < 3) return new GenericArrayData(Array.emptyLongArray)
    val seen = new LongSet(nTok)
    val out = new Array[Long](nTok - 2)
    var nOut = 0
    var buf = new Array[Byte](64)
    var t = 0
    while (t + 2 < nTok) {
      var bl = 0
      var w = t
      while (w <= t + 2) {
        if (w > t) { buf(bl) = ' '; bl += 1 }
        var p = starts(w)
        val e = ends(w)
        if (bl + (e - p) + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, bl + (e - p) + 1))
        while (p < e) { buf(bl) = lc.charAt(p).toByte; bl += 1; p += 1 }
        w += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, bl, Seed)
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      t += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03) in one
    * compiled pass: fnv32 of each positional char 8-gram of the
    * lowercased text, min per sliding window of 4, distinct mins in
    * first-occurrence order — exactly the UDF it replaces (fnv32 folds
    * UTF-16 chars, so the String walk IS the hash's domain). The 8-char
    * rehash per gram is 8 multiply-xors — cheaper than a dequeue-based
    * rolling scheme at this width and branch-free.
    */
  def winnowFingerprints(text: UTF8String): ArrayData = {
    val lc = text.toString.toLowerCase(java.util.Locale.ROOT)
    if (lc.length < 8) return new GenericArrayData(Array.emptyLongArray)
    val n = lc.length - 7
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 2166136261L
      var j = i
      while (j < i + 8) {
        h = ((h ^ lc.charAt(j)) * 16777619L) & 0xffffffffL
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    val m = if (n < 4) n else n - 3
    val seen = new LongSet(m)
    val out = new Array[Long](m)
    var nOut = 0
    var w = 0
    while (w < m) {
      var v = hashes(w)
      if (n >= 4) {
        var k = w + 1
        while (k < w + 4) { if (hashes(k) < v) v = hashes(k); k += 1 }
      }
      if (seen.add(v)) { out(nOut) = v; nOut += 1 }
      w += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Distinct byte-n-gram xxhash64s of a BINARY payload in
    * first-occurrence order — the byte-domain gram extractor that feeds
    * the MinHash banding machinery for multimodal blob near-dedup
    * (frame/payload locality, where there is no text to tokenize). Each
    * window hashes IN PLACE from the payload array (seed 42, the same
    * XXH64 Spark's `xxhash64` applies to a binary column), so the scan
    * stage allocates nothing per window.
    */
  def byteGramHashes(bytes: Array[Byte], n: Int): ArrayData = {
    if (bytes.length < n) return new GenericArrayData(Array.emptyLongArray)
    val nWin = bytes.length - n + 1
    val seen = new LongSet(nWin)
    val out = new Array[Long](nWin)
    var nOut = 0
    var i = 0
    while (i < nWin) {
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + i, n, Seed)
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      i += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Winnowed byte fingerprints (Schleimer et al., SIGMOD'03, on the
    * byte domain): fnv32 of each n-byte window, min per sliding window
    * of `w` full gram positions (all gram hashes when fewer than `w`
    * exist — the same short-input convention as
    * [[winnowFingerprints]]), distinct in first-occurrence order. This
    * is the BOUNDED-fingerprint rung above [[byteGramHashes]]: ~|blob|/w
    * fingerprints instead of ~|blob| gram hashes, with the winnowing
    * guarantee that any byte-exact run of length >= w + n - 1 between
    * two blobs shares a fingerprint — so a postings join on the
    * fingerprint value is an EXHAUSTIVE candidate generator for any
    * Jaccard threshold > 0. fnv32 (not xxhash64) keeps the value
    * oracle-expressible: DuckDB recomputes the identical fingerprint
    * set from the text whose UTF-8 bytes form the payload.
    */
  def byteWinnowHashes(bytes: Array[Byte], n: Int, w: Int): ArrayData = {
    if (bytes.length < n) return new GenericArrayData(Array.emptyLongArray)
    val nWin = bytes.length - n + 1
    val hashes = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      var h = 2166136261L
      var j = i
      while (j < i + n) {
        h = ((h ^ (bytes(j) & 0xff)) * 16777619L) & 0xffffffffL
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    val m = if (nWin < w) nWin else nWin - w + 1
    val seen = new LongSet(m)
    val out = new Array[Long](m)
    var nOut = 0
    var p = 0
    while (p < m) {
      var v = hashes(p)
      if (nWin >= w) {
        var k = p + 1
        while (k < p + w) { if (hashes(k) < v) v = hashes(k); k += 1 }
      }
      if (seen.add(v)) { out(nOut) = v; nOut += 1 }
      p += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Jaccard similarity of two DISTINCT-element long arrays in one pass:
    * |a∩b| by probing the larger array against a set built from the
    * smaller, |a∪b| = |a|+|b|-|a∩b| (valid exactly because every producer
    * in this file emits distinct elements). Replaces the confirm-join's
    * `size(array_intersect)/size(array_union)` — two hash-set builds plus
    * two materialized result arrays per candidate pair — with one set
    * build and zero output allocation; values are identical (both are the
    * integer counts divided as doubles). Both-empty inputs return 1.0
    * (equal sets); every caller filters empty sets out before the join.
    */
  def jaccardDistinct(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    val (small, ns, big, nl) = if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    val set = new LongSet(ns)
    var i = 0
    while (i < ns) { set.add(small.getLong(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nl) { if (set.contains(big.getLong(i))) inter += 1; i += 1 }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Distinct character-n-gram hashes of the lowercased text in
    * first-occurrence order — `xxhash64(charGrams(text, n)[i])` without
    * the strings. Grams may contain arbitrary characters, so each
    * window hashes through `UTF8String.fromString` (the same UTF-8
    * encoding the string column would carry).
    */
  def charGramHashes(text: UTF8String, n: Int): ArrayData = {
    val lc = text.toString.toLowerCase(java.util.Locale.ROOT)
    if (lc.length < n) return new GenericArrayData(Array.emptyLongArray)
    val nWin = lc.length - n + 1
    val seen = new LongSet(nWin)
    val out = new Array[Long](nWin)
    var nOut = 0
    var i = 0
    while (i < nWin) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(lc.substring(i, i + n)), Seed)
      if (seen.add(h)) { out(nOut) = h; nOut += 1 }
      i += 1
    }
    new GenericArrayData(
      if (nOut == out.length) out else java.util.Arrays.copyOf(out, nOut))
  }
}
