package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native scan-stage expressions for the BPE tokenizer thread (Sennrich et
  * al., ACL 2016 — public algorithm), closing the two 100 TB residues the
  * interpreted formulation carried:
  *
  *  - `graft_char_pairs` ([[NativeFunctions.CharPairs]], a static call of
  *    [[BpeOps.charPairs]]) replaces the `charPairsRaw` UDF — the
  *    pair-candidate stream of every training round — with one compiled
  *    pass inside whole-stage codegen (no UDF encoder boundary on the
  *    hottest per-round loop);
  *  - [[BpeApply]] applies an ENTIRE merge table to a word inside one
  *    expression. The previous formulation chained one `replace()` node
  *    per merge, an N-deep expression tree that is codegen-hostile past a
  *    few dozen merges and unusable at a real 10k-merge vocabulary; here
  *    the table rides along as one broadcast-style reference object and
  *    the generated code is a single static call, so plan depth is
  *    CONSTANT in vocabulary size. Semantics are exactly the fold of
  *    leftmost-non-overlapping replaces in table order (BpeSpec pins
  *    equality against the chained-replace baseline), so the DuckDB
  *    oracles' replace() chains still recompute it.
  */
object BpeOps {

  /** Adjacent character pairs WITH multiplicity over the raw string — the
    * merge-candidate generator (no tokenization: merged symbols are
    * marker characters outside the token alphabet and must not be split
    * away). Exactly the retired UDF's substring walk.
    */
  def charPairs(w: UTF8String): ArrayData = {
    val s = w.toString
    if (s.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](s.length - 1)
    var i = 0
    while (i < s.length - 1) {
      out(i) = UTF8String.fromString(s.substring(i, i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Apply a merge table in order; each step is a leftmost-
    * non-overlapping literal replace (Java String.replace — the same
    * contract as Spark's `replace()` and DuckDB's `replace()`). The
    * indexOf guard skips absent needles, so a 10k-merge table over a
    * short word costs 10k scans of a few chars, not 10k allocations.
    */
  def applyTable(from: Array[String], to: Array[String], w: UTF8String): UTF8String = {
    var s = w.toString
    var i = 0
    while (i < from.length) {
      if (s.indexOf(from(i)) >= 0) s = s.replace(from(i), to(i))
      i += 1
    }
    UTF8String.fromString(s)
  }
}

/** Apply a BPE merge table (`from(i)` -> `to(i)`, in order) to a string
  * column in ONE expression node. Encode passes (pair -> marker) in round
  * order; decode passes (marker -> pair) in reverse round order. The
  * table is a plan literal (structural equality via the Seq), shipped to
  * executors as a codegen reference object.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def prettyName: String = "graft_bpe_apply"
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  @transient private lazy val fromArr: Array[String] = merges.map(_._1).toArray
  @transient private lazy val toArr: Array[String] = merges.map(_._2).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    BpeOps.applyTable(fromArr, toArr, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fromRef = ctx.addReferenceObj("bpeFrom", fromArr, "java.lang.String[]")
    val toRef = ctx.addReferenceObj("bpeTo", toArr, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeOps.applyTable($fromRef, $toRef, $c)")
  }

  override protected def withNewChildInternal(c: Expression): BpeApply =
    copy(child = c)
}
