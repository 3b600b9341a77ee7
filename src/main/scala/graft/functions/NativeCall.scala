package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** `name(columns)`: a native function whose generated code is one static
  * helper call. The optimizer replaces it by its child, Spark's own
  * `StaticInvoke` of the helper (the shape Spark's built-in functions
  * use), so generated code calls e.g. `graft.functions.GorillaCodec.encode`
  * inside whole-stage codegen and the interpreted path calls the same
  * method by reflection.
  *
  * This node only names the call and checks its input types exactly
  * (`inputTypes` are the column arguments, the first arguments of the
  * child; an array type accepts either element nullability). The check is
  * strict on purpose: `StaticInvoke` given input types would let the
  * analyzer cast silently, e.g. `array<int>` into `array<bigint>`. The SQL
  * text, and so the default output column name, is rendered from the
  * resolved column arguments alone; trailing literal parameters (a band, a
  * gram size) do not appear in it.
  */
case class NativeCall(name: String, inputTypes: Seq[DataType], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override def parameters: Seq[Expression] = replacement.children.take(inputTypes.size)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = parameters.map(_.dataType)
    val ok = got.size == inputTypes.size && got.zip(inputTypes).forall {
      case (ArrayType(g, _), ArrayType(w, _)) => g == w
      case (g, w) => g == w
    }
    def show(ts: Seq[DataType]) = ts.map(_.catalogString) match {
      case Seq(t) => t
      case s => s.mkString("(", ", ", ")")
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires ${show(inputTypes)}, got ${show(got)}")
  }

  override protected def withNewChildInternal(c: Expression): NativeCall = copy(replacement = c)
}

/** One row of the native-function table: the SQL `name`, the `helper`
  * object and its static `method`, the column `inputs` and the `result`.
  * Null in gives null out; the helpers never return null themselves.
  */
case class NativeFunction(name: String, helper: AnyRef, method: String,
    inputs: Seq[DataType], result: DataType) {

  /** The call over `args`; `params` follow them as plan literals. */
  private def expr(args: Seq[Expression], params: Any*): Expression =
    NativeCall(name, inputs, StaticInvoke(helper.getClass, result, method,
      args ++ params.map(Literal(_)), returnNullable = false))

  def apply(args: Column*): Column = call(args)
  def call(args: Seq[Column], params: Any*): Column =
    column(expr(args.map(expression), params: _*))

  /** The by-name entry `GraftExtensions` injects for SQL strings. */
  def entry: (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[NativeCall].getName, name), args => expr(args))
}

/** Every native function that is one static helper call, one row each. */
object NativeFunctions {
  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Longs = ArrayType(LongType, containsNull = false)

  val GorillaEncode = NativeFunction("graft_gorilla_encode", GorillaCodec, "encode", Seq(Doubles), BinaryType)
  val GorillaDecode = NativeFunction("graft_gorilla_decode", GorillaCodec, "decode", Seq(BinaryType), Doubles)
  /** Compressed-domain max (gorilla.rs:321); empty input gives -Infinity. */
  val GorillaMax = NativeFunction("graft_gorilla_max", GorillaCodec, "max", Seq(BinaryType), DoubleType)
  val SprintzEncode = NativeFunction("graft_sprintz_encode", SprintzCodec, "encode", Seq(Longs), BinaryType)
  val SprintzDecode = NativeFunction("graft_sprintz_decode", SprintzCodec, "decode", Seq(BinaryType), Longs)
  /** Compressed-domain exact sum (sprintz.rs:132), equal to sum(value_q). */
  val SprintzSum = NativeFunction("graft_sprintz_sum", SprintzCodec, "sum", Seq(BinaryType), LongType)
  val FcmEncode = NativeFunction("graft_fcm_encode", FcmCodec, "encode", Seq(Longs), BinaryType)
  val FcmDecode = NativeFunction("graft_fcm_decode", FcmCodec, "decode", Seq(BinaryType), Longs)
  val FcmSum = NativeFunction("graft_fcm_sum", FcmCodec, "sum", Seq(BinaryType), LongType)
  val FcmMax = NativeFunction("graft_fcm_max", FcmCodec, "max", Seq(BinaryType), LongType)
  val BpEncode = NativeFunction("graft_bp_encode", BpCodec, "encode", Seq(Longs), BinaryType)
  val BpDecode = NativeFunction("graft_bp_decode", BpCodec, "decode", Seq(BinaryType), Longs)
  val BpSum = NativeFunction("graft_bp_sum", BpCodec, "sum", Seq(BinaryType), LongType)
  val BpMax = NativeFunction("graft_bp_max", BpCodec, "max", Seq(BinaryType), LongType)

  val ShingleHashes3 = NativeFunction("graft_shingle_hashes3", TextHash, "shingleHashes3", Seq(StringType), Longs)
  val WinnowFingerprints = NativeFunction("graft_winnow_fingerprints", TextHash, "winnowFingerprints", Seq(StringType), Longs)
  /** Parameter: the gram size n. */
  val CharGramHashes = NativeFunction("graft_char_gram_hashes", TextHash, "charGramHashes", Seq(StringType), Longs)
  /** Parameter: the gram size n. */
  val ByteGramHashes = NativeFunction("graft_byte_gram_hashes", TextHash, "byteGramHashes", Seq(BinaryType), Longs)
  /** Parameters: the gram size n, the winnow window w. */
  val ByteWinnowHashes = NativeFunction("graft_byte_winnow_hashes", TextHash, "byteWinnowHashes", Seq(BinaryType), Longs)
  val JaccardLongSets = NativeFunction("graft_jaccard_long_sets", TextHash, "jaccardDistinct", Seq(Longs, Longs), DoubleType)
  val CharPairs = NativeFunction("graft_char_pairs", BpeOps, "charPairs", Seq(StringType), ArrayType(StringType, containsNull = false))

  /** Parameter: the band. */
  val DtwBand = NativeFunction("graft_dtw_band", Dtw, "distance", Seq(Longs, Longs), LongType)
  /** Parameters: the band, upper (true) or lower envelope. */
  val DtwEnvelope = NativeFunction("graft_dtw_envelope", Dtw, "envelope", Seq(Longs), Longs)
  val LbKeogh = NativeFunction("graft_lb_keogh", Dtw, "lbKeogh", Seq(Longs, Longs, Longs), LongType)
  val SqDistQ = NativeFunction("graft_sqdist_q", Dtw, "sqDistQ", Seq(Longs, Longs), LongType)

  /** The codecs, which SQL strings reach by name through `GraftExtensions`. */
  val codecs: Seq[NativeFunction] = Seq(GorillaEncode, GorillaDecode, GorillaMax,
    SprintzEncode, SprintzDecode, SprintzSum, FcmEncode, FcmDecode, FcmSum, FcmMax,
    BpEncode, BpDecode, BpSum, BpMax)
}
