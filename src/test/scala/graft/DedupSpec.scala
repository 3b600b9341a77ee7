package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.functions.TextOps

/** Dedup operators on a planted fixture: one exact dup pair, one near-dup
  * pair, unrelated docs, and a degenerate too-short doc.
  */
class DedupSpec extends AnyFunSuite with SparkTest {

  // 100 distinct tokens; the near-dup changes one token mid-text, so its
  // shingle jaccard is ~0.94 — the regime LSH dedup is built for (the
  // wide 8-row bands intentionally skip borderline-similarity pairs)
  private val base = (0 until 100).map(i => s"tok$i word$i").mkString(" ")
  private val near = (0 until 100)
    .map(i => if (i == 50) "changed word50" else s"tok$i word$i").mkString(" ")
  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, base, "en"),
      (1L, base, "en"),   // exact dup of 0
      (2L, near, "en"),   // near dup of 0
      (3L, "completely different text about spark sql engines and columnar storage formats", "en"),
      (4L, "xy", "en")    // too short for shingles
    ).toDF("doc_id", "text", "lang")
  }

  test("exact dedup groups byte-identical texts") {
    val rows = Dedup.exact(docs).filter(col("cnt") > 1).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("cnt") == 2 && rows(0).getAs[Long]("keeper") == 0L)
  }

  test("minhash LSH finds the planted near-dup pairs and nothing else") {
    val pairs = Dedup.minhashNearDup(docs, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("ngram jaccard near-dup finds the planted structure, skips unrelated") {
    val pairs = Dedup.ngramNearDup(docs, 4, 0.6)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("shingles/charGrams guards: short text yields empty sets, no crash") {
    import spark.implicits._
    val short = Seq((9L, "ab two")).toDF("doc_id", "text")
    val sh = short.select(TextUdfBaselines.shingles3OfText(col("text")).as("s"))
      .collect()(0).getSeq[String](0)
    assert(sh.isEmpty)
    val g = short.select(TextUdfBaselines.charGrams(lit("abc"), 4).as("g"))
      .collect()(0).getSeq[String](0)
    assert(g.isEmpty)
  }

  test("simhash: identical docs agree, near-dups are close in hamming") {
    // full 64-bit signature = (sig_lo, sig_hi); expected hamming between
    // unrelated docs is ~32 of 64 bits, near-dups a handful
    val sig = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sig(0L) == sig(1L))
    def hamming(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(hamming(sig(0L), sig(2L)) <= 16)
    assert(hamming(sig(0L), sig(3L)) > 16)
  }

  test("simhashPairs equals brute-force all-pairs at hamming <= 3") {
    val sig = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = sig.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = hamming(sig(a), sig(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)           // band join is exhaustive, not approximate
    assert(brute.contains((0L, 1L, 0L)))  // the planted exact dup
  }

  test("duplicatedSpans counts shingles shared by >= minDocs documents") {
    import spark.implicits._
    // "common one two three four" spans appear in docs 0,1,2; doc 3 is
    // fully unique; doc 4 has no shingles (too short, excluded)
    val fixture = Seq(
      (0L, "common one two three four a0 b0", "en"),
      (1L, "common one two three four a1 b1", "en"),
      (2L, "common one two three four a2 b2", "en"),
      (3L, "totally unrelated text with other words here", "en"),
      (4L, "xy", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.duplicatedSpans(fixture, minDocs = 3L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // each of docs 0-2 has 5 shingles: 3 shared ("common one two",
    // "one two three", "two three four") + 2 unique tail shingles
    assert(out(0L) == ((5L, 3L)) && out(1L) == ((5L, 3L)) && out(2L) == ((5L, 3L)))
    assert(out(3L)._2 == 0L)
    assert(!out.contains(4L))
  }

  test("incremental exact dedup drops store duplicates and intra-batch duplicates") {
    import spark.implicits._
    val store = Seq((100L, "landed one", "en"), (101L, "landed two", "en"))
      .toDF("doc_id", "text", "lang")
    val fresh = Seq(
      (1L, "landed one", "en"),   // dup of store -> dropped
      (2L, "brand new", "en"),    // survives
      (3L, "brand new", "en"),    // intra-batch dup of 2 -> dropped (min wins)
      (4L, "also new", "en")      // survives
    ).toDF("doc_id", "text", "lang")
    val kept = Dedup.exactIncremental(fresh, store)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("parameterized banding stays exhaustive across (blocks, keyBlocks) configs") {
    // richer fixture: several perturbation distances around a common base,
    // so pairs exist at hamming 0 and small positive distances
    import spark.implicits._
    val many = (0 until 12).map { i =>
      val txt = (0 until 100).map { j =>
        if (j < i) s"alt${i}_$j" else s"tok$j word$j"
      }.mkString(" ")
      (i.toLong, txt, "en")
    }.toDF("doc_id", "text", "lang")
    val sig = TextOps.simhash(many, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = sig.keys.toSeq.sorted
    // (blocks, keyBlocks, maxHamming) — all satisfy h <= blocks - keyBlocks;
    // (8, 5) is the 1e9-doc configuration (56 bands of 40-bit keys)
    for ((blocks, keyBlocks, h) <- Seq((4, 1, 3), (8, 1, 5), (8, 2, 3),
                                       (8, 4, 4), (8, 5, 3))) {
      val brute = (for {
        a <- ids; b <- ids if a < b
        d = hamming(sig(a), sig(b)) if d <= h
      } yield (a, b, d.toLong)).toSet
      val banded = Dedup.simhashPairs(many, h, blocks, keyBlocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(banded == brute,
        s"(blocks=$blocks, keyBlocks=$keyBlocks, maxHamming=$h) diverged from brute force")
    }
    // and the guard rejects non-exhaustive configurations
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(many, maxHamming = 4, blocks = 4, keyBlocks = 1)
    }
  }

  test("connected components: transitive chains cluster, keepers are minima") {
    import spark.implicits._
    // chain 1-2-3 (1~3 never emitted), disjoint pair 10-11, chain 20-21-22-23
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
        (21L, 20L), (21L, 22L), (23L, 22L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 23L))
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 1L))
    assert(Seq(10L, 11L).forall(out(_)._1 == 10L))
    assert(Seq(20L, 21L, 22L, 23L).forall(out(_)._1 == 20L))
    assert(out.count(_._2._2) == 3) // exactly one keeper per component
    assert(out(1L)._2 && out(10L)._2 && out(20L)._2)
  }

  private def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  // graph shapes that stress different convergence behavior: a long
  // chain (diameter 15), a star, dense triangles, singleton pairs, and
  // ids arriving in arbitrary order
  private lazy val shapes = {
    import spark.implicits._
    Seq(
      "chain" -> (1L to 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      "star" -> (2L to 9L).map(i => (1L, i)).toDF("doc_a", "doc_b"),
      "mixed" -> Seq((5L, 3L), (3L, 9L), (9L, 5L), (100L, 90L),
        (40L, 41L), (90L, 80L)).toDF("doc_a", "doc_b"))
  }

  test("the components kernel equals the driver union-find") {
    // every shape, and the real LSH candidate pairs of the documents table
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    for ((name, pairs) <- shapes :+ ("lsh" -> Dedup.minhashNearDup(docs, 0.5)))
      assert(norm(Dedup.connectedComponents(pairs)) ==
        norm(Dedup.connectedComponentsLocal(pairs)), name)
  }

  test("the components kernel labels a 300-node chain given in random order") {
    import spark.implicits._
    // diameter 299: one pass per hop would need 299, the star rounds a few
    val order = new scala.util.Random(7).shuffle((0L until 300L).toVector)
    val pairs = order.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b")
    val out = norm(Dedup.connectedComponents(pairs))
    assert(out == norm(Dedup.connectedComponentsLocal(pairs)))
    assert(out == (0L until 300L).map(d => (d, 0L, d == 0L)).toSet)
  }

  test("the size router takes the driver up to 1e5 edges and the kernel above") {
    val mixed = shapes.toMap.apply("mixed")
    var routed = Set.empty[(Long, Long, Boolean)]
    val local = counters { routed = norm(Dedup.connectedComponentsAuto(mixed)) }
    assert(routed == norm(Dedup.connectedComponentsLocal(mixed)))
    // a star of 100,001 edges around its minimum is already the kernel's
    // fixpoint, so it runs one round
    val star = spark.range(2L, 100003L).select(lit(1L).as("doc_a"), col("id").as("doc_b"))
    val kernel = counters {
      val out = Dedup.connectedComponentsAuto(star).collect()
      assert(out.length == 100002 &&
        out.forall(r => r.getLong(1) == 1L && r.getBoolean(2) == (r.getLong(0) == 1L)))
    }
    // local: the edge count and the collect. Kernel: the edge count, the
    // canonical edges, one round's checkpoint and changed count, and the
    // output; each further round adds its own jobs
    assert((local("jobs"), kernel("jobs")) == ((4L, 13L)), (local, kernel))
  }

  test("quality-aware dedup keeps the longest cluster member, not the min id") {
    import spark.implicits._
    // near-dup cluster {0, 1, 2}: doc 2 is the LONGEST (base + extra
    // tokens appended keeps shingle jaccard high) -> quality policy must
    // keep 2 where the canonical policy keeps 0. Docs 3 and 4 are
    // singletons and survive under both.
    val longer = base + " extra0 extra1 extra2"
    val dd = Seq(
      (0L, base, "en"), (1L, base, "en"), (2L, longer, "en"),
      (3L, "completely different text about spark sql engines and columnar storage formats", "en"),
      (4L, "xy", "en")
    ).toDF("doc_id", "text", "lang")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdq").toString
    dd.withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kept = graft.operators.TextQueries.queries("pipe_dedup_quality")(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"kept $kept, want {2, 3, 4}")
  }
}
