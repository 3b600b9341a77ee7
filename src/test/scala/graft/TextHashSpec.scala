package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextOps

/** The native shingle/char-gram hash expressions must be BIT-IDENTICAL
  * to `xxhash64` over the string-set generators they replace — that is
  * the whole contract that keeps MinHash signatures, band hashes, and
  * LSH candidate sets unchanged (and the dedup oracles green) after the
  * scan stage dropped the string materialization.
  */
class TextHashSpec extends AnyFunSuite with SparkTest {

  private lazy val docs = {
    import spark.implicits._
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(200)
    // adversarial additions: unicode lowercasing (Kelvin sign K -> k,
    // İ -> i + combining dot), punctuation-only, short, and empty text
    val extra = Seq(
      (100001L, "CAFÉ Naïve 123 mixed CASE tokens here now"),
      (100002L, "Kelvin İstanbul straße foo bar baz qux"),
      (100003L, "... !!! ???"),
      (100004L, "one two"),
      (100005L, "")).toDF("doc_id", "text")
    corpus.unionByName(extra).localCheckpoint()
  }

  private def collectArr(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("shingleHashes3 equals xxhash64 over shingles3OfText, element for element") {
    val native = collectArr(docs.select(col("doc_id"),
      TextOps.shingleHashes3(col("text")).as("hs")))
    val strings = collectArr(docs.select(col("doc_id"),
      transform(TextUdfBaselines.shingles3OfText(col("text")), s => xxhash64(s)).as("hs")))
    assert(native.keySet == strings.keySet)
    for ((id, hs) <- native)
      assert(hs == strings(id), s"doc $id: native $hs vs strings ${strings(id)}")
    // sanity: the corpus actually exercises non-trivial sets
    assert(native.values.map(_.size).sum > 1000,
      "fixture too small to be meaningful")
  }

  test("charGramHashes equals xxhash64 over charGrams for n=4 and n=5") {
    for (n <- Seq(4, 5)) {
      val native = collectArr(docs.select(col("doc_id"),
        TextOps.charGramHashes(col("text"), n).as("hs")))
      val strings = collectArr(docs.select(col("doc_id"),
        transform(TextUdfBaselines.charGrams(col("text"), n), s => xxhash64(s)).as("hs")))
      assert(native.keySet == strings.keySet)
      for ((id, hs) <- native)
        assert(hs == strings(id), s"n=$n doc $id differs")
    }
  }

  test("native winnowing fingerprints equal the UDF baseline, element for element") {
    val native = collectArr(docs.select(col("doc_id"),
      TextOps.fingerprints(col("text")).as("fp")))
    val baseline = collectArr(docs.select(col("doc_id"),
      TextUdfBaselines.fingerprints(col("text")).as("fp")))
    assert(native.keySet == baseline.keySet)
    for ((id, fp) <- native)
      assert(fp == baseline(id), s"doc $id: native $fp vs udf ${baseline(id)}")
    // edge widths: <8 chars -> empty; 8..10 chars -> fewer grams than the
    // window (the distinct-all branch); exactly 11 -> one full window
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextHash
    assert(TextHash.winnowFingerprints(UTF8String.fromString("abcdefg")).numElements() == 0)
    val short = TextHash.winnowFingerprints(UTF8String.fromString("abcdefghij"))
    assert(short.numElements() == 3, s"3 grams, all distinct: ${short.numElements()}")
    val one = TextHash.winnowFingerprints(UTF8String.fromString("abcdefghijk"))
    assert(one.numElements() == 1, "4 grams -> one window min")
  }

  test("jaccardLongSets equals the array_intersect/array_union formulation") {
    // all shingle-set pairs over a small slice of the real corpus — the
    // exact shape the confirm join evaluates
    val sets = graft.operators.Dedup.shingleSets(docs).limit(40)
      .localCheckpoint()
    val pairs = sets.as("a").crossJoin(sets.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
    val out = pairs.select(
      TextOps.jaccardLongSets(col("a.sh"), col("b.sh")).as("native"),
      (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("ref"))
      .collect()
    assert(out.nonEmpty)
    for (r <- out)
      assert(r.getDouble(0) == r.getDouble(1),
        s"native ${r.getDouble(0)} vs ref ${r.getDouble(1)}")
    // direct edge cases the DataFrame above can't produce
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.TextHash
    def g(xs: Long*) = new GenericArrayData(xs.toArray)
    assert(TextHash.jaccardDistinct(g(), g()) == 1.0)
    assert(TextHash.jaccardDistinct(g(1L, 2L), g()) == 0.0)
    assert(TextHash.jaccardDistinct(g(0L, 5L), g(0L)) == 0.5) // zero-key path
  }

  test("interpreted eval matches the codegen'd path and guards hold") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextHash
    // direct (interpreted) calls on the edge inputs
    assert(TextHash.shingleHashes3(UTF8String.fromString("a b")).numElements() == 0)
    assert(TextHash.charGramHashes(UTF8String.fromString("ab"), 4).numElements() == 0)
    val h1 = TextHash.shingleHashes3(UTF8String.fromString("a b c a b c"))
    // shingles: "a b c", "b c a", "c a b", "a b c"(dup) -> 3 distinct
    assert(h1.numElements() == 3, s"distinct shingle count: ${h1.numElements()}")
    // null text yields the EMPTY set through the public wrapper — the
    // retired UDFs' convention, preserved so no consumer's output shape
    // changed (the bare expression itself is null-propagating)
    import spark.implicits._
    val withNull = Seq((1L, "three token shingle here"), (2L, null))
      .toDF("doc_id", "text")
    for (c <- Seq(TextOps.shingleHashes3(col("text")),
        TextOps.charGramHashes(col("text"), 4),
        TextOps.fingerprints(col("text")))) {
      val out = withNull.select(c).collect()
      assert(out.forall(!_.isNullAt(0)), "null text must map to empty set")
      assert(out.map(_.getSeq[Long](0).size).min == 0)
    }
  }

  test("text hash and char-pair functions give equal results generated and interpreted") {
    import graft.functions.NativeFunctions._
    // the corpus plus NULL text; the payload is the text's UTF-8 bytes
    val dir = java.nio.file.Files.createTempDirectory("graft-text-native").toString + "/in"
    docs.select(col("doc_id"), when(col("doc_id") % 7 === 3, lit(null)).otherwise(col("text")).as("text"))
      .withColumn("payload", col("text").cast("binary"))
      .write.parquet(dir)
    val (t, b) = (col("text"), col("payload"))
    def frame = spark.read.parquet(dir).select(col("doc_id"),
      ShingleHashes3(t), WinnowFingerprints(t), CharGramHashes.call(Seq(t), 4),
      ByteGramHashes.call(Seq(b), 8), ByteWinnowHashes.call(Seq(b), 8, 4),
      JaccardLongSets(ShingleHashes3(t), CharGramHashes.call(Seq(t), 4)),
      CharPairs(t)).orderBy("doc_id")
    val (generated, interpreted) = generatedAndInterpreted(frame)
    assert(generated.exists(_.contains(null)) && generated.exists(!_.contains(null)))
    assert(generated == interpreted)
    // the literal parameters do not name the output column
    assert(frame.columns.toSeq.tail == Seq("graft_shingle_hashes3(text)",
      "graft_winnow_fingerprints(text)", "graft_char_gram_hashes(text)",
      "graft_byte_gram_hashes(payload)", "graft_byte_winnow_hashes(payload)",
      "graft_jaccard_long_sets(graft_shingle_hashes3(text), graft_char_gram_hashes(text))",
      "graft_char_pairs(text)"))
  }
}
