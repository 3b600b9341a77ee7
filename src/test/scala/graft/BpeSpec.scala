package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BpeApply, TextOps}
import graft.operators.PipelineOps

/** The native BPE scan stage (r14 verdict #2/#4): `graft_char_pairs` (the
  * `NativeFunctions.CharPairs` row) must equal the retired UDF
  * element-for-element, BpeApply must equal the chained
  * `replace()` fold through a DEEP (>= 1000 entries) merge table while
  * staying inside whole-stage codegen, and the weighted-vocabulary trainer
  * must count pairs exactly as the corpus-stream formulation did.
  */
class BpeSpec extends AnyFunSuite with SparkTest {

  private def words = {
    val s = spark
    import s.implicits._
    Seq("banana", "bandana", "cabana", "ana", "a", "", "übermaß",
      "abcabcabc", "aaaa", "xyzzy").toDF("w")
  }

  test("CharPairs equals the retired UDF, null/empty/1-char included") {
    val s = spark
    import s.implicits._
    val in = (Seq("banana", "", "q", "ab", "àbç", null): Seq[String]).toDF("w")
    val rows = in.select(
      TextOps.charPairsRaw(col("w")).as("native"),
      TextUdfBaselines.charPairsRaw(col("w")).as("udf")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  // a deep merge table over the [a-z]+ alphabet: the first rounds chain
  // markers into later pairs (the real BPE shape), the long tail is
  // formally valid entries that mostly never fire on a short word —
  // exactly what a 10k-merge production table looks like per word
  private def deepMerges(n: Int): Seq[(String, String, Long)] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until n).map { k =>
      val pair =
        if (k == 0) "an"
        else if (k == 1) PipelineOps.bpeMarker(0) + "a" // marker chaining
        else if (k == 2) "ba"
        else s"${letters((k * 7) % 26)}${letters((k * 13 + 5) % 26)}"
      (pair, PipelineOps.bpeMarker(k), 1L)
    }
  }

  test("BpeApply equals the chained-replace fold (depth the chain still builds at)") {
    // 200 is near the ceiling of the retired formulation: past a few
    // hundred replace() nodes the column-node conversion itself overflows
    // the stack — the exact reason BpeApply exists
    val merges = deepMerges(200)
    val baselineEnc = merges.foldLeft(col("w")) { case (c, (pair, mk, _)) =>
      call_function("replace", c, lit(pair), lit(mk))
    }
    val rows = words
      .withColumn("enc", PipelineOps.bpeEncode(col("w"), merges))
      .withColumn("enc_base", baselineEnc)
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"native vs chained mismatch for '${r.getString(0)}'")
    }
    assert(rows.exists(r => r.getString(0) != r.getString(1)))
  }

  test("BpeApply encodes through 1000 merges, round-trips, and codegens") {
    val merges = deepMerges(1000)
    val df = words
      .withColumn("enc", PipelineOps.bpeEncode(col("w"), merges))
      .withColumn("rt", PipelineOps.bpeDecode(
        PipelineOps.bpeEncode(col("w"), merges), merges))
    val rows = df.collect()
    // driver-side reference: the same sequential leftmost fold in plain
    // Scala (String.replace has the identical contract)
    rows.foreach { r =>
      val expect = merges.foldLeft(r.getString(0)) { case (s, (p, m, _)) =>
        s.replace(p, m)
      }
      assert(r.getString(1) == expect,
        s"deep encode mismatch for '${r.getString(0)}'")
      // losslessness holds for words in the token alphabet ([a-z0-9]+,
      // the only thing the trainer ever sees); 'übermaß' deliberately
      // violates it — its chars sit IN the BMP marker range, so decode
      // rightly expands them (same in the chained formulation)
      if (r.getString(0).forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')))
        assert(r.getString(2) == r.getString(0),
          s"deep roundtrip broke for '${r.getString(0)}'")
    }
    assert(rows.exists(r => r.getString(0) != r.getString(1)))
    // codegen proof: BpeApply is a real doGenCode expression (not
    // CodegenFallback), and the encode projection runs inside a
    // whole-stage codegen span even with the full 1000-entry table
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[BpeApply]))
    // over a parquet scan (a local Seq collapses to LocalRelation at
    // optimization time and shows no codegen span regardless of the
    // expression): the scan->encode projection must be one codegen span
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-spec").toString
    words.write.mode("overwrite").parquet(dir)
    val enc = spark.read.parquet(dir)
      .select(PipelineOps.bpeEncode(col("w"), merges).as("e"))
    enc.collect()
    val spans = enc.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, "deep-table encode lost whole-stage codegen")
  }

  test("weighted-vocabulary pair counts equal the corpus-stream counts") {
    val s = spark
    import s.implicits._
    // a corpus stream WITH repeats: the identity under test is
    // sum(cnt per distinct word) == count over the raw stream
    val stream = Seq("banana", "banana", "banana", "bandana", "ana", "ana",
      "cab", "cab", "abc").toDF("w")
    val fromStream = stream
      .select(explode(TextOps.charPairsRaw(col("w"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = stream.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val fromVocab = vocab
      .select(explode(TextOps.charPairsRaw(col("w"))).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromStream == fromVocab)
  }

  test("bpeTrain on the vocabulary shape reproduces the greedy merge sequence") {
    val s = spark
    import s.implicits._
    // hand-checkable corpus: 'an' occurs 2x in "banana"+... the greedy
    // winner sequence is recomputed independently here with plain Scala
    val stream = Seq("banana", "banana", "bandana", "ana", "nab").toDF("w")
    val merges = PipelineOps.bpeTrain(stream, 4)
    // independent driver-side reference over the same stream
    var ws = Seq("banana", "banana", "bandana", "ana", "nab")
    val expect = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for (k <- 0 until 4) {
      val counts = ws.flatMap(w => (0 until math.max(0, w.length - 1))
        .map(i => w.substring(i, i + 2)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (counts.nonEmpty) {
        val (pair, cnt) = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
        expect += ((pair, cnt))
        ws = ws.map(_.replace(pair, PipelineOps.bpeMarker(k)))
      }
    }
    assert(merges.map(m => (m._1, m._3)) == expect.toSeq)
  }

  test("rebase-checkpointed trainer reproduces the unrebased merge sequence") {
    val s = spark
    import s.implicits._
    // enough rounds to cross several rebase boundaries, with marker
    // chaining (merged pairs containing earlier markers) in play
    val stream = Seq("banana", "banana", "bandana", "ana", "nab",
      "cabana", "abracadabra", "barbarian", "bananarama").toDF("w")
    val unrebased = PipelineOps.bpeTrain(stream, 10, rebaseEvery = Int.MaxValue)
    for (re <- Seq(1, 2, 3))
      assert(PipelineOps.bpeTrain(stream, 10, rebaseEvery = re) == unrebased,
        s"rebaseEvery=$re diverged")
    assert(unrebased.size == 10, "fixture exhausted before 10 rounds")
  }
}
